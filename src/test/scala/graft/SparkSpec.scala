package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Runs `body` and returns its result with the call site of every Spark
    * job it started (the name of each job's result stage). */
  def jobSites[T](body: => T): (T, Seq[String]) = {
    val sc = session.sparkContext
    val group = s"job-sites-${java.util.UUID.randomUUID()}"
    val marker = group + "-marker"
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        if (g == group && e.stageInfos.nonEmpty)
          sites.add(e.stageInfos.maxBy(_.stageId).name)
        if (g == marker) markerSeen.countDown()
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val result = body
      // listener events arrive in order: once the marker job's start is
      // seen, every job of the body has been recorded
      sc.setJobGroup(marker, marker)
      sc.parallelize(Seq(1), 1).count()
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
      (result, sites.toArray(Array.empty[String]).toSeq)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
