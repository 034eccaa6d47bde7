package graft

import org.apache.spark.sql.SparkSession

/** Dev utility: time queries repeatedly / print plans.
  *
  * Usage: graft.Dev <sfDir> <reps> [query ...]   (no names = all)
  *        graft.Dev <sfDir> explain <query>      (formatted plan)
  */
object Dev {
  def main(args: Array[String]): Unit = {
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
      // per-Spark-job wall time + call site for one query — finds which
      // step of a multi-job verb dominates
      val starts = new scala.collection.concurrent.TrieMap[Int, (Long, String)]()
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          // properties is null for jobs submitted without local properties
          starts(e.jobId) = (e.time, Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse(""))
        override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
          starts.get(e.jobId).foreach { case (t0, cs) =>
            println(f"job ${e.jobId}%3d ${(e.time - t0) / 1e3}%7.2f s  $cs") }
      })
      for (r <- 1 to 2) {
        val t0 = System.nanoTime()
        val n = SparkEntry.queries(args(2))(spark, sfDir).count()
        println(f"rep$r total ${(System.nanoTime() - t0) / 1e9}%8.2f s ($n rows)")
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
