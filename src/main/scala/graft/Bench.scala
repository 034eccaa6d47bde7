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
      // arm the bench-only telemetry (dd25's pinned pair count): the
      // serving path keeps its streaming plan, the captures keep their
      // self-adjudicating part-lines
      .config("spark.graft.bench.telemetry", "true")
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
    // per-query lock-protocol cost (round-13 verdict #4): acquisitions and
    // blocked-ms attributed to each query, so a lease-cost regression is
    // read from the artifact instead of inferred from wall deltas
    val leaseOps = scala.collection.mutable.LinkedHashMap[String, (Long, Long)]()
    val results = picked.toSeq.sortBy(_._1).map { case (name, fn) =>
      try { fn(spark, warmDir).count() } catch { case _: Throwable => () }
      val (acq0, blk0, _) = graft.operators.Artifact.leaseStatsSnapshot()
      // Sub-second queries are dominated by shared-host scheduling noise
      // (a 0.24 s join was captured at 1.69 s in one driver round), so
      // they get a median-of-3; anything slower is measured once — its
      // signal already dwarfs the jitter and two extra runs cost minutes.
      // (first >= 0: a crash sentinel must not masquerade as "sub-second"
      // and trigger two more runs of a possibly-multi-minute OOM)
      val first = timed(fn)
      val runs = if (first >= 0 && first < 0.5) Seq(first, timed(fn), timed(fn))
                 else Seq(first)
      val (acq1, blk1, _) = graft.operators.Artifact.leaseStatsSnapshot()
      if (acq1 > acq0 || blk1 > blk0) leaseOps(name) = (acq1 - acq0, blk1 - blk0)
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
    // map follows in the chunked part-lines and the file below.
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
        (jsonFull + "\n" + s"""{"metric":"runs","queries":$runsJson,"sf":"$sfDir"}""" + "\n")
          .getBytes("UTF-8"))
      println(f"[bench] wrote $outPath, total=$total%.2f s over ${results.size}%d queries, ${errs.size}%d FAILED")
    } catch { case e: java.io.IOException =>
      println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    // The driver keeps only a TAIL of stdout, so the per-query map is
    // printed LAST as short (<1 KB) individually-valid JSON lines — a
    // window too small for the full one-line JSON still retains complete
    // trailing chunks — and the capped canonical JSON (top-30 map,
    // ~1 KB regardless of query count) is the final line.
    qs.grouped(20).zipWithIndex.foreach { case (chunk, i) =>
      println(s"""{"metric":"part","idx":${i + 1},"queries":${chunk.mkString("{", ",", "}")}}""")
    }
    // cc20's per-peel-round telemetry (its timed run is the last trussEdges
    // call in this JVM): makes a slow capture self-explaining — identical
    // rounds with uniformly inflated wall = host contention; extra rounds
    // or one slow round = a real regression. See VERDICT r7 finding #1.
    val truss = graft.operators.Relational.trussRoundLog.get()
    if (truss.nonEmpty) {
      val rj = truss.map { case (r, nb, na, sec) =>
        s"""{"round":$r,"edges_in":$nb,"edges_out":$na,"sec":${ms(sec)}}""" }
        .mkString("[", ",", "]")
      println(s"""{"metric":"cc20_rounds","rounds":$rj}""")
    }
    // ss38's phase split (build / append / serve-materialize): the total is
    // dominated by the deliberate cold standing-index build — the
    // O(increment) claim lives in the append share, which must NOT grow
    // with the corpus (round-9 delta-append telemetry, cc20_rounds pattern)
    graft.operators.Similarity.ss38PhaseLog.get().foreach {
      case (b, a, sv) => println(
        s"""{"metric":"ss38_phases","build_sec":${ms(b)},""" +
          s""""append_sec":${ms(a)},"serve_sec":${ms(sv)}}""")
    }
    // ss11's train-phase split (coarse Lloyd / PQ codebooks): the ADC join
    // share is ss11's benched total minus these — holds the r11 watch item
    // (a 1.5× capture drift) apart from host noise without a re-run
    graft.operators.Similarity.pqPhaseLog.get().foreach {
      case (c, p) => println(
        s"""{"metric":"ss11_phases","coarse_train_sec":${ms(c)},""" +
          s""""pq_train_sec":${ms(p)}}""")
    }
    // cc15's split (graph build / star-contraction rounds / CC wall) and
    // dd25's (candidate pairs / candidate wall): the last two heavies
    // without self-adjudicating telemetry (round-12 verdict #5) — a
    // contended capture now reads as "same rounds / same pair count,
    // uniform wall inflation" from the artifact alone
    graft.operators.Similarity.cc15PhaseLog.get().foreach {
      case (g, r, c) => println(
        s"""{"metric":"cc15_phases","graph_sec":${ms(g)},""" +
          s""""star_rounds":$r,"cc_sec":${ms(c)}}""")
    }
    graft.operators.Dedup.dd25PhaseLog.get().foreach {
      case (n, w) => println(
        s"""{"metric":"dd25_phases","cand_pairs":$n,""" +
          s""""cand_sec":${ms(w)}}""")
    }
    // lock-protocol attribution: every query that acquired an artifact
    // lock, with its blocked wall — the store/index families in practice
    if (leaseOps.nonEmpty) {
      val lj = leaseOps.toSeq.map { case (k, (a, b)) =>
        s""""$k":{"acq":$a,"blocked_ms":$b}""" }
      lj.grouped(20).zipWithIndex.foreach { case (chunk, i) =>
        println(s"""{"metric":"lease_ops","idx":${i + 1},"queries":${chunk.mkString("{", ",", "}")}}""")
      }
    }
    // host window label (start + end loadavg): a contended capture now
    // reads as contended from the artifact alone — BASELINE.md keys the
    // clean-band comparison off this line
    println(s"""{"metric":"host","loadavg_start":"$loadStart",""" +
      s""""loadavg_end":"${loadavg()}","cpus":$cpus}""")
    println(json)
    spark.stop()
  }
}
