package graft
import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: each SparkEntry query counted once on
  * SPARK_GRAFT_SF_DIR, one JSON line on stdout. */
object Bench {
  /** The host's 1/5/15-min load averages — stamped into the artifact so a
    * contended capture is self-labeled (round-13 verdict #3: three
    * consecutive driver captures landed contended and each needed manual
    * adjudication against idle re-runs). */
  private def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
      .split(" ").take(3).mkString(",")
    catch { case _: Throwable => "" }

  def main(args: Array[String]): Unit = {
    val loadStart = loadavg()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm the session (executor threads, codegen, shuffle machinery) so the
    // alphabetically-first query doesn't absorb JVM startup in its timing.
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.range(1000).groupBy((org.apache.spark.sql.functions.col("id") % 7))
      .count().collect()
    // JIT/codegen warm-up per query (standard benchmark practice): run the
    // same plan once on the smallest scale factor so the timed run below
    // measures the ENGINE's work on sfDir, not one-time classloading, JIT
    // compilation of generated code, and interpreter-path warm-up — none of
    // which exist in a long-running cluster job. The warm-up SF is tiny, so
    // any data-size-dependent AQE decisions are still made fresh (and
    // timed) on the real input.
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    def timed(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      System.gc()
      val t0 = System.nanoTime()
      // A crashing query must never masquerade as a fast one: a query that
      // OOMs in 1 s would otherwise read as the fastest in the suite. The
      // sentinel -1 propagates through the median and is reported in the
      // canonical line's n_errors/errors keys below.
      try { fn(spark, sfDir).count() } catch { case _: Throwable => return -1.0 }
      (System.nanoTime() - t0) / 1e9
    }
    // Optional args restrict the run to named queries (local experiments;
    // the driver passes none and benches everything).
    val picked = if (args.isEmpty) SparkEntry.queries
                 else SparkEntry.queries.view.filterKeys(args.toSet).toMap
    // The first timed run of each query is a telemetry scope: its work
    // record (jobs, tasks, shuffle records, spill, GC, and the artifact
    // lease acquisitions and blocked ms) makes a slow capture readable
    // from the artifact alone — the same work with inflated wall is host
    // contention, different work is a code change.
    val works = scala.collection.mutable.LinkedHashMap[String, String]()
    val results = picked.toSeq.sortBy(_._1).map { case (name, fn) =>
      try { fn(spark, warmDir).count() } catch { case _: Throwable => () }
      val (acq0, blk0, _) = graft.operators.Artifact.leaseStatsSnapshot()
      val (first, w) = Telemetry.scope(name)(timed(fn))
      val (acq1, blk1, _) = graft.operators.Artifact.leaseStatsSnapshot()
      works(name) = s""""$name":{"jobs":${w.jobs.size},"tasks":${w.tasks},""" +
        s""""shuffle_records":${w.shuffleRecords},"spill_bytes":${w.spillBytes},""" +
        s""""gc_ms":${w.gcMs},"lease_acq":${acq1 - acq0},"blocked_ms":${blk1 - blk0}}"""
      // Sub-second queries are dominated by shared-host scheduling noise
      // (a 0.24 s join was captured at 1.69 s in one driver round), so
      // they get a median-of-3; anything slower is measured once — its
      // signal already dwarfs the jitter and two extra runs cost minutes.
      // (first >= 0: a crash sentinel must not masquerade as "sub-second"
      // and trigger two more runs of a possibly-multi-minute OOM)
      val runs = if (first >= 0 && first < 0.5) Seq(first, timed(fn), timed(fn))
                 else Seq(first)
      // Nudge the ContextCleaner: accumulated broadcast/checkpoint blocks
      // from one query otherwise bleed GC pressure into the next timing.
      System.gc()
      name -> runs
    }
    def ms(v: Double): String = f"$v%.3f"
    // ANY crashed run marks the query failed — a median over [-1, t, t]
    // would otherwise erase an intermittent crash from the canonical line
    val median = results.map { case (k, rs) =>
      k -> (if (rs.exists(_ < 0)) -1.0 else rs.sorted.apply(rs.size / 2)) }
    val qs = median.map { case (k, v) => "\"" + k + "\":" + ms(v) }
    // Failed queries (sentinel -1 from timed) are excluded from total and
    // surfaced loudly: n_errors in every JSON line, names in errsJson.
    val errs = median.collect { case (k, v) if v < 0 => k }
    val errsJson = errs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val timedVals = median.collect { case (_, v) if v >= 0 => v }
    val total = timedVals.sum
    // n_timed is the denominator that matches `value` (total excludes
    // crashed queries); n_queries stays the registered count so a
    // consumer never has to cross-read n_errors to average correctly.
    val nTimed = timedVals.size
    // The canonical line's per-query map is capped to the SLOWEST 30
    // queries: the round-4 capture proved the driver's stdout tail window
    // is ~2 KB, and ~95 queries × ~27 B ≈ 2.6 KB got the line beheaded
    // into "parsed": null. total still covers EVERY query; the complete
    // map follows in the chunked `part` lines and the file below.
    val slow = median.sortBy(-_._2).take(30).toMap
    val qsTop = median.collect { case (k, v) if slow.contains(k) =>
      "\"" + k + "\":" + ms(v) }
    val json =
      s"""{"metric":"total","value":${ms(total)},"unit":"sec","n_queries":${median.size},"n_timed":$nTimed,"n_errors":${errs.size},"errors":$errsJson,"queries":${qsTop.mkString("{", ",", "}")},"sf":"$sfDir"}"""
    val jsonFull =
      s"""{"metric":"total","value":${ms(total)},"unit":"sec","n_timed":$nTimed,"n_errors":${errs.size},"errors":$errsJson,"queries":${qs.mkString("{", ",", "}")},"sf":"$sfDir"}"""
    // Truncation-proof record, full detail (every timed run) to a FILE.
    val runsJson = results.map { case (k, rs) =>
      "\"" + k + "\":[" + rs.map(ms).mkString(",") + "]" }.mkString("{", ",", "}")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      sys.props("java.io.tmpdir") + "/graft_bench.json")
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        (jsonFull + "\n" + s"""{"metric":"runs","queries":$runsJson,"sf":"$sfDir"}""" + "\n" +
          s"""{"metric":"work","queries":${works.values.mkString("{", ",", "}")}}""" + "\n")
          .getBytes("UTF-8"))
      println(f"[bench] wrote $outPath, total=$total%.2f s over ${results.size}%d queries, ${errs.size}%d FAILED")
    } catch { case e: java.io.IOException =>
      println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    // A capture may keep only a TAIL of stdout, so the per-query maps are
    // printed LAST as short (<1 KB) individually-valid JSON lines — a
    // window too small for the full one-line JSON still retains complete
    // trailing chunks — the work records first, then the timings, and the
    // capped canonical JSON (top-30 map, ~1 KB regardless of query count)
    // is the final line.
    def chunked(metric: String, entries: Seq[String]): Unit =
      entries.foldLeft(Vector(Vector.empty[String])) { (ls, e) =>
        if (ls.last.nonEmpty && (ls.last :+ e).mkString(",").length > 950) ls :+ Vector(e)
        else ls.init :+ (ls.last :+ e)
      }.zipWithIndex.foreach { case (es, i) => println(
        s"""{"metric":"$metric","idx":${i + 1},"queries":${es.mkString("{", ",", "}")}}""") }
    chunked("work", works.values.toSeq)
    chunked("part", qs)
    // host window label (start + end loadavg): a contended capture now
    // reads as contended from the artifact alone — BASELINE.md keys the
    // clean-band comparison off this line
    println(s"""{"metric":"host","loadavg_start":"$loadStart",""" +
      s""""loadavg_end":"${loadavg()}","cpus":$cpus}""")
    println(json)
    spark.stop()
  }
}
