package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graft.ListenerBusShim

/** The one telemetry path: Spark work attributed by job group.
  *
  * `Telemetry.scope(name) { body }` runs `body` under a fresh job group,
  * restores the caller's group, and returns the body's result with the
  * [[Telemetry.Work]] of the jobs that group ran, and the physical plan of
  * every SQL execution it started. `checkpoint`/`localCheckpoint` run as
  * SQL executions too, so the plan a checkpoint truncates is among them.
  *
  * Threads the body starts inherit its job group (Spark's local properties
  * are inheritable), so jobs from `Relational.parLadder`'s pool, broadcasts
  * and subqueries count toward the scope. A nested scope keeps its own
  * jobs. One listener serves a SparkContext; it records only open scopes
  * and forgets a scope once its work is read. */
object Telemetry {

  /** A Spark job: its call site (its result stage's name), the SQL
    * execution that ran it (-1 for none) and its start and end times. */
  final case class Job(id: Int, site: String, executionId: Long,
      startMs: Long, endMs: Long)

  /** A SQL execution: its description (the action's call site) and its
    * physical plan as `explain("formatted")` prints it. */
  final case class Plan(executionId: Long, description: String, plan: String)

  /** The work of one scope. Busy is executor run time; shuffle bytes and
    * records are the map side's writes. */
  final case class Work(jobs: Seq[Job], tasks: Long, busyMs: Long,
      gcMs: Long, shuffleBytes: Long, shuffleRecords: Long, spillBytes: Long,
      plans: Seq[Plan])

  private final class Acc {
    val jobs = new ConcurrentHashMap[Int, Job]()
    val plans = new ConcurrentLinkedQueue[Plan]()
    // task sums, guarded by this
    var tasks, busyMs, gcMs, shuffleBytes, shuffleRecords, spillBytes = 0L
  }

  private val GroupKey = "spark.jobGroup.id"

  private final class Listener extends SparkListener {
    val open = new ConcurrentHashMap[String, Acc]()
    private val byJob = new ConcurrentHashMap[Int, Acc]()
    private val byStage = new ConcurrentHashMap[Int, Acc]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      prop(GroupKey).flatMap(g => Option(open.get(g))).foreach { acc =>
        val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
        val exec = prop("spark.sql.execution.id").fold(-1L)(_.toLong)
        acc.jobs.put(e.jobId, Job(e.jobId, site, exec, e.time, e.time))
        byJob.put(e.jobId, acc)
        e.stageIds.foreach(byStage.putIfAbsent(_, acc))
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(byJob.get(e.jobId)).foreach(
        _.jobs.computeIfPresent(e.jobId, (_, j) => j.copy(endMs = e.time)))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val acc = byStage.get(e.stageId)
      val m = e.taskMetrics
      if (acc != null && m != null) acc.synchronized {
        acc.tasks += 1
        acc.busyMs += m.executorRunTime
        acc.gcMs += m.jvmGCTime
        acc.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        acc.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        acc.spillBytes += m.diskBytesSpilled
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        x.jobGroupId.flatMap(g => Option(open.get(g))).foreach(
          _.plans.add(Plan(x.executionId, x.description, x.physicalPlanDescription)))
      case _ =>
    }

    def close(group: String): Work = {
      val acc = open.remove(group)
      val jobs = acc.jobs.values.asScala.toSeq.sortBy(_.id)
      jobs.foreach(j => byJob.remove(j.id))
      byStage.values.removeIf(_ eq acc)
      acc.synchronized(Work(jobs, acc.tasks, acc.busyMs, acc.gcMs,
        acc.shuffleBytes, acc.shuffleRecords, acc.spillBytes, acc.plans.asScala.toSeq))
    }
  }

  private var installed: (SparkContext, Listener) = (null, null)
  private val scopes = new AtomicLong()

  private def listenerOf(sc: SparkContext): Listener = synchronized {
    if (installed._1 ne sc) {
      installed = (sc, new Listener)
      sc.addSparkListener(installed._2)
    }
    installed._2
  }

  /** Runs `body` in its own job group on the active session's context and
    * returns its result with the work of the jobs it ran. Only the group
    * id is set, not `setJobGroup`'s description, so SQL executions keep
    * their call sites as descriptions. */
  def scope[T](name: String)(body: => T): (T, Work) = {
    val sc = SparkSession.active.sparkContext
    val listener = listenerOf(sc)
    val group = s"$name#${scopes.incrementAndGet()}"
    val saved = sc.getLocalProperty(GroupKey)
    listener.open.put(group, new Acc)
    var work: Work = null
    val out =
      try { sc.setLocalProperty(GroupKey, group); body }
      finally {
        sc.setLocalProperty(GroupKey, saved)
        ListenerBusShim.drain(sc)
        work = listener.close(group)
      }
    (out, work)
  }
}
