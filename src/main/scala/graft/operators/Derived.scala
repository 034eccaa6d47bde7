package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The per-JVM registry of shared derivations: coarse quantizer, brute-
  * force recall baselines, graph edge sets, PQ training, index artifacts,
  * the pristine dedup store. Each is a pure function of its input dir,
  * built by the first caller and reused by every later caller in the
  * process; a fresh JVM always rebuilds from the parquet inputs, and
  * nothing persists across processes.
  *
  * Keys are (SparkContext application id, name), so a restarted context
  * never resurrects a dead context's checkpoint blocks. The map holds a
  * build cell and never runs a build itself: the build is forced outside
  * the map's lock, so a build may call other keys. Racing first touches
  * wait for the single build, and a build that throws is not cached —
  * the next caller builds again.
  */
private[operators] object Derived {

  // drops the thunk once built, so what it captured (input DataFrames
  // and their checkpoint blocks) stays collectable for the context cleaner
  private final class Cell(private[this] var build: () => Any) {
    lazy val value: Any = { val v = build(); build = null; v }
  }

  private val cells =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Cell]()

  def apply[A](s: SparkSession, name: String)(build: => A): A =
    inApp(s.sparkContext.applicationId, name)(build)

  /** A derived DataFrame pinned through [[Relational.loopCheckpoint]], so
    * `spark.graft.reliableCheckpoint=true` covers it like a loop table. */
  def pinned(s: SparkSession, name: String)(build: => DataFrame): DataFrame =
    apply(s, name)(Relational.loopCheckpoint(build))

  private[operators] def inApp[A](appId: String, name: String)(build: => A): A = {
    val key = (appId, name)
    val cell = cells.computeIfAbsent(key, _ => new Cell(() => build))
    try cell.value.asInstanceOf[A]
    catch { case e: Throwable => cells.remove(key, cell); throw e }
  }
}
