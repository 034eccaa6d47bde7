package graft

import org.apache.spark.sql.SparkSession

/** Dev utility: time queries repeatedly / print plans.
  *
  * Usage: graft.Dev <sfDir> <reps> [query ...]   (no names = all)
  *        graft.Dev <sfDir> jobs|plans|explain <query>
  *          (per-job wall + call site | every SQL execution's plan,
  *           checkpoints included | the formatted plan)
  */
object Dev {
  def main(args: Array[String]): Unit = {
    val modes = Set("counts", "jobs", "plans", "explain", "sql")
    if (args.length < 2 || !modes(args(1)) && args(1).toIntOption.isEmpty) {
      System.err.println("usage: graft.Dev <sfDir> counts|jobs|plans|explain|sql|<reps> [query ...]")
      sys.exit(2)
    }
    val sfDir = args(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (args(1) == "counts") {
      val q = SparkEntry.queries.keySet
      val o = SparkEntry.oracleSql.keySet
      println(s"queries=${q.size} oracles=${o.size}")
      println("rows-only: " + (q -- o).toSeq.sorted.mkString(", "))
      println("orphan oracles: " + (o -- q).toSeq.sorted.mkString(", "))
    } else if (args(1) == "jobs") {
      // per-Spark-job wall time + call site for one query, with the action
      // whose SQL execution ran it — finds which step of a multi-job verb
      // dominates
      for (r <- 1 to 2) {
        val t0 = System.nanoTime()
        val (n, w) = Telemetry.scope(args(2))(
          SparkEntry.queries(args(2))(spark, sfDir).count())
        val action = w.plans.map(p => p.executionId -> s"  [${p.description}]").toMap
        w.jobs.foreach(j => println(f"job ${j.id}%3d ${(j.endMs - j.startMs) / 1e3}%7.2f s  " +
          j.site + action.getOrElse(j.executionId, "")))
        println(f"rep$r total ${(System.nanoTime() - t0) / 1e9}%8.2f s ($n rows, " +
          f"${w.jobs.size} jobs, ${w.tasks} tasks, busy ${w.busyMs / 1e3}%.2f s, " +
          s"GC ${w.gcMs} ms, shuffle ${w.shuffleBytes} B / ${w.shuffleRecords} records, " +
          s"spill ${w.spillBytes} B)")
      }
    } else if (args(1) == "plans") {
      val (_, w) = Telemetry.scope(args(2))(
        SparkEntry.queries(args(2))(spark, sfDir).count())
      w.plans.foreach { p =>
        println(s"== execution ${p.executionId}: ${p.description} ==\n${p.plan}")
      }
    } else if (args(1) == "explain") {
      SparkEntry.queries(args(2))(spark, sfDir).explain("formatted")
    } else if (args(1) == "sql") {
      Tables.names.foreach { n =>
        Tables(spark, sfDir, n).createOrReplaceTempView(n)
      }
      val t0 = System.nanoTime()
      spark.sql(args(2)).show(20, false)
      println(f"sql ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    } else {
      val reps = args(1).toInt
      val names = if (args.length > 2) args.drop(2).toSeq
                  else SparkEntry.queries.keys.toSeq.sorted
      for (name <- names; r <- 1 to reps) {
        val t0 = System.nanoTime()
        val n = SparkEntry.queries(name)(spark, sfDir).count()
        println(f"$name rep$r ${(System.nanoTime() - t0) / 1e9}%8.2f s  ($n rows)")
      }
    }
    spark.stop()
  }
}
