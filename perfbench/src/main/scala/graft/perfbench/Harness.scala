package graft.perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators.{Curation, Dedup, DedupStore, Geo, MatView, Similarity}
import graft.wikidata.{ClassSets, DumpGen, Extract, Post, WTime}

/** One benchmark invocation: builds the session the `graft.wikidata.Main`
  * CLI builds, sets up one workload, then runs timed passes over it until
  * the measuring time is used up, checking every output. The raw record
  * (passes, calls, spans, stamps) goes to a JSON file; `perfbench/run.py`
  * turns it into metrics.
  *
  * Usage: Harness <workload> <seed> <seconds> <trace 0|1> <inputDir>
  *        <workDir> <resultFile> <entities | query ...>
  */
object Harness {
  /** Evaluation date for Extract's validity checks, fixed so outputs are
    * the same on every day the benchmark runs. */
  val now = WTime(2026, 0, 0, 0, 0, 0)

  /** Per 1,000-entity block of a DumpGen dump (DumpGenSpec's closed forms). */
  val ingestPerBlock = Map("countries" -> 1L, "languages" -> 1L,
    "missing_p17" -> 1L, "territorial_entities" -> 90L, "cities" -> 953L,
    "cities_countries" -> 953L, "object_languages" -> 92L)

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def toJson(v: Any): String = mapper.writeValueAsString(v)

  /** The operator modules whose `queries` maps name the layers, in the
    * order a query is looked up. */
  private val modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] =
    Seq("Similarity" -> Similarity.queries, "Dedup" -> Dedup.queries,
      "Geo" -> Geo.queries, "DedupStore" -> DedupStore.queries,
      "MatView" -> MatView.queries, "Curation" -> Curation.queries)

  def layerOf(query: String): String =
    modules.collectFirst { case (m, qs) if qs.contains(query) => s"op.$m" }
      .getOrElse("op.other")

  final case class Call(name: String, layer: String, wallS: Double,
      rows: Long, ok: Boolean, error: String)
  final case class Pass(traced: Boolean, wallS: Double, cpuS: Double,
      calls: Seq[Call], checks: Seq[(String, Boolean, String)]) {
    def ok: Boolean = calls.forall(_.ok) && checks.forall(_._2)
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, inputDir, workDir, resultFile) = args.take(7)
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val loadStart = Proc.loadavg()
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .appName("geodb-perfbench")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = new Tracer(spark.sparkContext)
    val result = mutable.LinkedHashMap[String, Any]()

    val w: Workload = workload match {
      case "pipeline" => new Pipeline(spark, tracer, inputDir, workDir, seed, args(7).toLong)
      case "operators" => new Operators(spark, tracer, inputDir, workDir, seed, args.drop(7).toSeq)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.setup()
    val setupS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3 -
      w.inputGenS

    // Whole passes until the measuring time is used up, at least one. A
    // traced run traces every pass; its end-to-end numbers are not used.
    val passes = mutable.ArrayBuffer[Pass]()
    val t0 = System.nanoTime()
    while (passes.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) {
      if (trace) tracer.beginRun()
      val cpu0 = Proc.cpuSeconds()
      val p0 = System.nanoTime()
      val (calls, checks) = w.pass()
      val wall = (System.nanoTime() - p0) / 1e9
      val cpu = Proc.cpuSeconds() - cpu0
      if (trace) tracer.endRun()
      passes += Pass(trace, wall, cpu, calls, checks)
      w.afterPass()
    }

    result("workload") = workload
    result("seed") = seed
    result("seconds") = seconds
    result("cores") = cores
    result("loadavg_start") = loadStart
    result("loadavg_end") = Proc.loadavg()
    result("jvm") = System.getProperty("java.vm.version")
    result("spark") = spark.version
    result("setup_s") = setupS
    result("input_gen_s") = w.inputGenS
    result("peak_rss_mb") = Proc.peakRssMb()
    result("inputs") = w.inputs
    result("extra") = w.extra
    result("passes") = passes.map(p => Map(
      "traced" -> p.traced, "wall_s" -> p.wallS, "cpu_s" -> p.cpuS,
      "ok" -> p.ok,
      "calls" -> p.calls.map(c => Map("name" -> c.name, "layer" -> c.layer,
        "wall_s" -> c.wallS, "rows" -> c.rows, "ok" -> c.ok, "error" -> c.error)),
      "checks" -> p.checks.map { case (n, ok, d) =>
        Map("name" -> n, "ok" -> ok, "detail" -> d) }))
    result("spans") = tracer.all.map(s => Map(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.run,
      "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9,
      "write_bytes" -> s.writeBytes) ++ s.work.map(k => Map(
        "jobs" -> k.jobs, "tasks" -> k.tasks, "busy_s" -> k.busyS,
        "gc_s" -> k.gcS, "shuffle_bytes" -> k.shuffleBytes,
        "spill_bytes" -> k.spillBytes, "gap_s" -> k.gapS,
        "job_sites" -> k.jobSites)).getOrElse(Map()))
    Files.writeString(Paths.get(resultFile), toJson(result))
    spark.stop()
  }

  /** Writes `df` as parquet, or through the `noop` sink when `path` is
    * null, and returns the observed row count plus an order-independent
    * fingerprint of every column when `fingerprint` is set. */
  def write(df: DataFrame, path: String, fingerprint: Boolean,
      tracer: Tracer)(w: org.apache.spark.sql.DataFrameWriter[_] => Unit)
      : (Long, Long, Long) = {
    val obs = Observation()
    lazy val h = xxhash64(df.columns.map(c => col(s"`$c`")): _*)
    val aggs: Seq[Column] =
      if (fingerprint) Seq(count(lit(1)).as("rows"), bit_xor(h).as("xor"),
        sum(shiftrightunsigned(h, 24)).as("sum"))
      else Seq(count(lit(1)).as("rows"))
    val observed = df.observe(obs, aggs.head, aggs.tail: _*)
    if (tracer.enabled) tracer.span("plan")(observed.queryExecution.executedPlan)
    val writer = if (path == null) observed.write.format("noop").mode("overwrite")
                 else observed.write.mode("overwrite")
    w(writer)
    if (path == null) writer.save() else writer.parquet(path)
    val m = obs.get
    (m("rows").asInstanceOf[Long],
      if (fingerprint) m("xor").asInstanceOf[Long] else 0L,
      if (fingerprint) Option(m("sum")).map(_.asInstanceOf[Long]).getOrElse(0L) else 0L)
  }

  def dirBytes(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def check(name: String, got: Long, want: Long): (String, Boolean, String) =
    (name, got == want, s"$got (want $want)")
}

/** One workload: set-up, then a pass that can be repeated. */
trait Workload {
  /** Seconds of set-up spent generating inputs; not counted as set-up. */
  var inputGenS = 0.0
  def inputs: Map[String, Any]
  def extra: Map[String, Any]
  def setup(): Unit
  def pass(): (Seq[Harness.Call], Seq[(String, Boolean, String)])
  def afterPass(): Unit
}

/** `pipeline`: the paper's dataflow as the `ingest` and `post` CLI
  * commands run it: a DumpGen dump → `Extract` → the nine tables →
  * `Post.cascade` → `Post.cleanup` → the three final tables. Every entity
  * is a pure function of its index; the seed permutes line order across
  * the dump files, so each seed is a different input with the same
  * content and the same final tables.
  *
  * DumpGen gives every territorial entity a random P131 parent, so its
  * hierarchy always has cycles and both transitive closures in
  * `Post.cascade` run to their 100-step cap. Here each TE's parent is
  * re-pointed so the hierarchy is a binary tree (TE k under TE (k-1)/2,
  * TE 0 the root); nothing else in the dump changes. The tree's shape is a
  * choice, not a measurement of real P131 chains. */
final class Pipeline(spark: SparkSession, tracer: Tracer, inputDir: String,
    workDir: String, seed: Long, entities: Long) extends Workload {
  private val blocks = entities / 1000
  private val files = Runtime.getRuntime.availableProcessors
  private val dumpDir = s"$inputDir/dump"
  private var dumpBytes = 0L
  private var k = 0
  private var stored = 0L
  private val parsedPerLine = mutable.ArrayBuffer[Double]()
  private val rowsPerEntity = mutable.ArrayBuffer[Double]()
  private val fingerprints = mutable.LinkedHashSet[String]()
  private var setupChecks = Seq[(String, Boolean, String)]()

  /** Final `cities_labels` rows and the fingerprint of the three final
    * tables, by dump size. The same for every seed. */
  private val pinned = Map[Long, (Long, String)](
    4000L -> (10329L, "3812:cbf8a02b315d98d1:780bfd3fc5f29/" +
      "10329:8d5346703ac40730:144009ff0a58c0/200:1301949503f2657f:5bbf785818c9"))

  def setup(): Unit = {
    inputGenS = Harness.timed(writeDump())._2
    // One untimed pass: class loading, code generation and JIT warm-up.
    setupChecks = pass()._2
    afterPass()
  }

  private def writeDump(): Unit = {
    val order = new scala.util.Random(seed).shuffle((0L until entities).toVector)
    new File(dumpDir).mkdirs()
    order.grouped(((entities + files - 1) / files).toInt).zipWithIndex.foreach {
      case (chunk, i) =>
        val out = new BufferedWriter(new OutputStreamWriter(
          new FileOutputStream(f"$dumpDir/part-$i%05d.json"), UTF_8), 1 << 20)
        try chunk.foreach { e => out.write(line(e)); out.write('\n') }
        finally out.close()
    }
    dumpBytes = Harness.dirBytes(dumpDir)
  }

  private val teParent = ("\"P131\":\\[\\{\"mainsnak\":\\{\"snaktype\":\"value\"," +
    "\"datavalue\":\\{\"value\":\\{\"id\":\"Q\\d+\"\\}\\}\\}\\}\\],").r

  private def line(i: Long): String = {
    val json = DumpGen.entityJson(i, entities)
    val m = i % 1000
    if (m < 2 || m > 41) json
    else {
      // The k-th TE is entity (k / 40) * 1000 + 2 + k % 40 (DumpGen's layout).
      val k = (i / 1000) * 40 + (m - 2)
      val parent =
        if (k == 0) ""
        else {
          val p = (k - 1) / 2
          val q = (p / 40) * 1000 + 2 + p % 40 + 1
          s""""P131":[{"mainsnak":{"snaktype":"value","datavalue":{"value":{"id":"Q$q"}}}}],"""
        }
      val out = teParent.replaceFirstIn(json, scala.util.matching.Regex.quoteReplacement(parent))
      require(out != json || parent.nonEmpty && json.contains(parent),
        s"no P131 claim to re-point in TE line $i")
      out
    }
  }

  def inputs: Map[String, Any] =
    Map("entities" -> entities, "dump_bytes" -> dumpBytes, "dump_files" -> files)

  def pass(): (Seq[Harness.Call], Seq[(String, Boolean, String)]) = {
    val tables = s"$workDir/pass-$k/tables"
    val out = s"$workDir/pass-$k/final"
    val checks = mutable.ArrayBuffer[(String, Boolean, String)]()
    val lines = spark.read.text(dumpDir)
    if (tracer.enabled) {
      // Forced on its own, so the parse shows as a layer of its own; the
      // tables below parse again, as they always do.
      val (parsed, _, _) = tracer.layer("extract.parse")(
        Harness.write(Extract.parse(lines).toDF(), null, false, tracer)(_ => ()))
      parsedPerLine += parsed.toDouble / entities
    }
    val walls = mutable.ArrayBuffer[Harness.Call]()
    def timedLayer[T](name: String)(body: => T): T = {
      val (r, wall) = Harness.timed(tracer.layer(name)(body))
      walls += Harness.Call(name, name, wall, 0L, true, "")
      r
    }
    val rows = timedLayer("extract.tables") {
      val parseObs = Observation()
      val parsed = Extract.parse(lines).observe(parseObs, count(lit(1)).as("n"))
      val t = Extract.apply(parsed, ClassSets.seedsOnly, Harness.now)
      val counts = Extract.tableMap(t).map { case (name, df) =>
        name -> Harness.write(df, s"$tables/$name", false, tracer)(_ => ())._1
      }.toMap
      checks += Harness.check("parsed_lines",
        parseObs.get("n").asInstanceOf[Long], entities - blocks)
      counts
    }
    spark.catalog.clearCache()
    Harness.ingestPerBlock.foreach { case (name, per) =>
      checks += Harness.check(name, rows(name), per * blocks)
    }
    rowsPerEntity += rows.values.sum.toDouble / (entities - blocks)

    def rd(n: String) = spark.read.parquet(s"$tables/$n")
    val enriched = timedLayer("post.cascade")(
      Post.cascade(rd("countries"), rd("object_languages"), rd("languages"),
        rd("territorial_entities"), rd("territorial_entities_parents"),
        rd("cities"), rd("cities_countries"), rd("object_labels")))
    val (cities, labels, langs) = timedLayer("post.cleanup") {
      val f = Post.cleanup(rd("countries"), rd("object_languages"),
        rd("languages"), rd("object_labels"), enriched)
      (Harness.write(f.cities, s"$out/cities", true, tracer)(_.partitionBy("country")),
        Harness.write(f.citiesLabels, s"$out/cities_labels", true, tracer)(_ => ()),
        Harness.write(f.citiesLanguages, s"$out/cities_languages", true, tracer)(_ => ()))
    }
    val fp = Seq(cities, labels, langs).map { case (n, x, s) => f"$n:$x%016x:$s%x" }
      .mkString("/")
    fingerprints += fp
    checks += Harness.check("final_cities", cities._1, 953L * blocks)
    checks += Harness.check("final_cities_languages", langs._1, 50L * blocks)
    pinned.get(entities) match {
      case Some((nLabels, want)) =>
        checks += Harness.check("final_cities_labels", labels._1, nLabels)
        checks += (("fingerprint", fp == want, s"$fp (want $want)"))
      case None =>
        checks += (("fingerprint", false, s"$fp (none pinned for $entities entities)"))
    }
    stored = Harness.dirBytes(tables) + Harness.dirBytes(out)
    (walls.toSeq, checks.toSeq)
  }

  def afterPass(): Unit = {
    spark.catalog.clearCache()
    Harness.deleteTree(s"$workDir/pass-$k")
    k += 1
  }

  def extra: Map[String, Any] = Map("stored_bytes" -> stored,
    "parse_yield" -> parsedPerLine, "rows_per_entity" -> rowsPerEntity,
    "fingerprints" -> fingerprints, "setup_failed_checks" ->
      setupChecks.collect { case (n, false, d) => s"$n: $d" })
}

/** `operators`: operator queries on a generated table directory, once each per
  * pass in seed order, each fully materialized through the `noop` sink.
  * Set-up runs one untimed pass that builds index artifacts and memos and
  * writes each result as parquet for the DuckDB oracle compare. */
final class Operators(spark: SparkSession, tracer: Tracer, inputDir: String,
    workDir: String, seed: Long, names: Seq[String]) extends Workload {
  private val order = new scala.util.Random(seed).shuffle(names.sorted)
  private val verified = mutable.Map[String, Long]()
  private val setupErrors = mutable.Map[String, String]()
  private val setupWall = mutable.LinkedHashMap[String, Double]()
  private val leases = mutable.ArrayBuffer[(Long, Long)]()

  def inputs: Map[String, Any] = Map("sf_dir" -> inputDir,
    "table_bytes" -> Harness.dirBytes(inputDir), "queries" -> order)

  def setup(): Unit = {
    val verifyDir = s"$workDir/verify"
    order.foreach { name =>
      val t0 = System.nanoTime()
      try {
        val df = SparkEntry.queries(name)(spark, inputDir)
        verified(name) = Harness.write(df, s"$verifyDir/$name", false, tracer)(_ => ())._1
      } catch { case e: Throwable => setupErrors(name) = e.toString }
      setupWall(name) = (System.nanoTime() - t0) / 1e9
    }
    Files.writeString(Paths.get(s"$verifyDir/oracle_sql.json"), Harness.toJson(
      SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }))
  }

  def pass(): (Seq[Harness.Call], Seq[(String, Boolean, String)]) = {
    val (acq0, blk0, _) = Similarity.leaseStatsSnapshot()
    val calls = order.map { name =>
      val layer = Harness.layerOf(name)
      val t0 = System.nanoTime()
      val (rows, err) =
        try {
          tracer.layer(layer) {
            val df = SparkEntry.queries(name)(spark, inputDir)
            (Harness.write(df, null, false, tracer)(_ => ())._1, "")
          }
        } catch { case e: Throwable => (-1L, e.toString) }
      val wall = (System.nanoTime() - t0) / 1e9
      val want = verified.getOrElse(name, -2L)
      Harness.Call(name, layer, wall, rows, err.isEmpty && rows == want,
        if (err.nonEmpty) err
        else if (rows != want) s"rows $rows, verified $want"
        else "")
    }
    val (acq1, blk1, _) = Similarity.leaseStatsSnapshot()
    leases += ((acq1 - acq0, blk1 - blk0))
    (calls, Seq())
  }

  def afterPass(): Unit = ()

  def extra: Map[String, Any] = Map(
    "verified_rows" -> verified.toMap, "setup_errors" -> setupErrors.toMap,
    "setup_wall_s" -> setupWall,
    "lease_acq" -> leases.map(_._1), "lease_blocked_ms" -> leases.map(_._2))
}
