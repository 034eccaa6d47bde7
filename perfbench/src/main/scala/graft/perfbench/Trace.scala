package graft.perfbench

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.scheduler._

/** Readers for the process counters Linux keeps in /proc/self. */
object Proc {
  private def read(path: String): String = {
    val src = scala.io.Source.fromFile(path)
    try src.mkString finally src.close()
  }

  /** User + system CPU seconds of this process (clock ticks are 1/100 s). */
  def cpuSeconds(): Double = {
    val stat = read("/proc/self/stat")
    val fields = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
    (fields(11).toLong + fields(12).toLong) / 100.0
  }

  private def field(path: String, key: String): Long =
    read(path).linesIterator.find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)

  /** Peak resident set size so far, in MB. */
  def peakRssMb(): Double = field("/proc/self/status", "VmHWM") / 1024.0

  /** Bytes this process has passed to write(2) and friends. */
  def wchar(): Long = field("/proc/self/io", "wchar")

  def loadavg(): String = read("/proc/loadavg").trim.split(' ').take(3).mkString(" ")
}

/** Work counters for the Spark jobs one span submitted. */
final case class Work(jobs: Int, tasks: Long, busyS: Double, gcS: Double,
    shuffleBytes: Long, spillBytes: Long, gapS: Double, jobSites: Map[String, Int])

/** Records every Spark job with its job group and submission window, and
  * sums the task metrics of each stage. */
final class WorkListener extends SparkListener {
  final case class Job(group: String, site: String, startMs: Long, var endMs: Long)
  final class StageSum {
    var tasks = 0L; var runMs = 0L; var gcMs = 0L
    var shuffleBytes = 0L; var spillBytes = 0L
  }
  private val jobs = TrieMap[Int, Job]()
  private val jobOfStage = TrieMap[Int, Int]()
  private val stages = TrieMap[Int, StageSum]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) =
      Option(e.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("")
    // The result stage is named after the action's call site.
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    jobs(e.jobId) = Job(prop("spark.jobGroup.id"), site, e.time, e.time)
    e.stageIds.foreach(s => jobOfStage.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach { m =>
      val s = stages.getOrElseUpdate(e.stageId, new StageSum)
      s.synchronized {
        s.tasks += 1
        s.runMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.diskBytesSpilled
      }
    }

  /** The work of the jobs a span submitted: those labelled with its job
    * group, plus unlabelled or foreign-labelled jobs (submitted from a
    * thread pool that predates the group) whose submission falls inside
    * its window. `groups` are all group ids the tracer has handed out. */
  def workOf(group: String, fromMs: Long, toMs: Long,
      groups: collection.Set[String]): Work = {
    val mine = jobs.filter { case (_, j) =>
      j.group == group ||
        (!groups.contains(j.group) && j.startMs >= fromMs && j.startMs <= toMs)
    }
    val ids = mine.keySet
    val sums = stages.collect { case (s, sum) if jobOfStage.get(s).exists(ids) => sum }
    // Wall time inside the window with no job of this span running.
    val intervals = mine.values.map(j =>
      (math.max(j.startMs, fromMs), math.min(j.endMs, toMs))).toSeq.sortBy(_._1)
    var covered = 0L
    var reach = fromMs
    intervals.foreach { case (a, b) =>
      val lo = math.max(a, reach)
      if (b > lo) { covered += b - lo; reach = b }
    }
    Work(mine.size, sums.map(_.tasks).sum, sums.map(_.runMs).sum / 1e3,
      sums.map(_.gcMs).sum / 1e3, sums.map(_.shuffleBytes).sum,
      sums.map(_.spillBytes).sum, math.max(0L, toMs - fromMs - covered) / 1e3,
      mine.values.groupBy(_.site).map { case (k, js) => k -> js.size })
  }
}

/** One timed interval at a layer boundary. `work` is filled in once the
  * pass it belongs to has ended. */
final class Span(val id: Int, val name: String, val parent: Int,
    val run: Int, val startNs: Long, val startMs: Long, val wchar0: Long) {
  var endNs = 0L
  var endMs = 0L
  var writeBytes = 0L
  var work: Option[Work] = None
}

/** Spans at the layer boundaries of the traced passes, kept in memory and
  * written out when the benchmark ends. When `enabled` is false a span is
  * just its body. */
final class Tracer(sc: SparkContext) {
  private val listener = new WorkListener
  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Span]()
  private val groups = mutable.Set[String]()
  private var run = 0
  var enabled = false

  def all: Seq[Span] = spans.toSeq

  /** Starts a traced pass: a root span named `run` whose id is the run id. */
  def beginRun(): Unit = {
    sc.addSparkListener(listener)
    enabled = true
    run = spans.size
    open("run")
  }

  def endRun(): Unit = {
    close()
    enabled = false
    ListenerBus.drain(sc)
    spans.filter(s => s.run == run && s.work.isEmpty).foreach { s =>
      s.work = Some(listener.workOf(groupOf(s), s.startMs, s.endMs, groups))
    }
    sc.removeSparkListener(listener)
  }

  private def groupOf(s: Span): String = s"perfbench-${s.id}"

  private def open(name: String): Span = {
    val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
      run, System.nanoTime(), System.currentTimeMillis(), Proc.wchar())
    spans += s
    stack.push(s)
    s
  }

  private def close(): Unit = {
    val s = stack.pop()
    s.endNs = System.nanoTime()
    s.endMs = System.currentTimeMillis()
    s.writeBytes = Proc.wchar() - s.wchar0
  }

  /** A layer call: its own job group, so the listener can attribute jobs. */
  def layer[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = open(name)
      groups += groupOf(s)
      sc.setJobGroup(groupOf(s), name, interruptOnCancel = false)
      try body finally {
        close()
        stack.headOption.filter(_.name != "run") match {
          case Some(p) => sc.setJobGroup(groupOf(p), p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** A nested span that shares its parent's job group. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      open(name)
      try body finally close()
    }
}
