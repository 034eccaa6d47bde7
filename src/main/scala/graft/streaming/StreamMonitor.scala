package graft.streaming

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{
  QueryIdleEvent, QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

/** D5's progress/stuck story for the STREAMING surface — the
  * `StreamingQueryListener` counterpart of [[graft.ProgressListener]]
  * (which covers batch stages): one line per micro-batch with the numbers
  * an operator tails — input rows, rows/s, batch duration, state rows,
  * and event-time watermark — plus a WARNING when a query goes
  * `stallAfterMs` without completing a batch while data was seen, the
  * streaming analogue of the batch stalled-stage warning.
  *
  * Snapshots are queryable ([[lastProgress]]) so tests and dashboards can
  * read the same numbers the log lines print.
  */
final class StreamMonitor(
    stallAfterMs: Long = 60000,
    log: String => Unit = s => System.err.println(s))
  extends StreamingQueryListener {

  final case class Snapshot(name: String, batchId: Long, inputRows: Long,
      rowsPerSec: Double, batchMs: Long, stateRows: Long,
      watermark: String, at: Long)

  private val last = new ConcurrentHashMap[java.util.UUID, Snapshot]()

  def lastProgress(id: java.util.UUID): Option[Snapshot] = Option(last.get(id))

  override def onQueryStarted(ev: QueryStartedEvent): Unit =
    log(s"[stream] ${Option(ev.name).getOrElse(ev.id.toString)} started")

  override def onQueryProgress(ev: QueryProgressEvent): Unit = {
    val p = ev.progress
    val stateRows = p.stateOperators.map(_.numRowsTotal).sum
    val wm = Option(p.eventTime.get("watermark")).getOrElse("-")
    val snap = Snapshot(
      Option(p.name).getOrElse(p.id.toString), p.batchId, p.numInputRows,
      p.processedRowsPerSecond, p.batchDuration, stateRows, wm,
      System.currentTimeMillis())
    val prev = last.put(p.id, snap)
    val line = f"[stream] ${snap.name}%s batch=${snap.batchId}%d " +
      f"rows=${snap.inputRows}%d (${snap.rowsPerSec}%.1f/s) " +
      f"took=${snap.batchMs}%d ms state=${snap.stateRows}%d wm=${snap.watermark}%s"
    log(line)
    // a batch that lands after a long silent gap — while earlier data had
    // been flowing — is the operator signal for a stuck upstream/sink
    Option(prev)
      .filter(pr => snap.at - pr.at > stallAfterMs && pr.inputRows > 0)
      .foreach { pr =>
        log(s"[stream] WARNING: ${snap.name} went ${snap.at - pr.at} ms " +
          s"between batches ${pr.batchId}->${snap.batchId}")
      }
  }

  override def onQueryIdle(ev: QueryIdleEvent): Unit = ()

  override def onQueryTerminated(ev: QueryTerminatedEvent): Unit = {
    last.remove(ev.id)
    log(s"[stream] ${ev.id} terminated" +
      ev.exception.map(e => s" WITH ERROR: $e").getOrElse(""))
  }
}

object StreamMonitor {
  /** Attach a monitor to the session's streams; returns it for queries. */
  def attach(spark: SparkSession, stallAfterMs: Long = 60000,
      log: String => Unit = s => System.err.println(s)): StreamMonitor = {
    val m = new StreamMonitor(stallAfterMs, log)
    spark.streams.addListener(m)
    m
  }
}
