package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.Relational.pin

/** Structured Streaming surface over event streams — the streaming twins of
  * the batch operators in [[graft.operators.EventOps]] (SURVEY §2.D row D6:
  * the reference is batch-only; event-time processing is the north-star
  * extension).
  *
  * Design for scale: state is keyed by user_id, so it shards across
  * executors; watermarks bound state size (late events beyond the watermark
  * are dropped); windowed aggregates use the built-in `window()` which
  * pre-aggregates map-side per trigger.
  */
object EventStream {

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class Session(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Long, sum_value: Double)

  final case class SessionState(start: Long, last: Long,
      n: Long, total: Double)

  /** Tumbling event-time window aggregate with a watermark — the streaming
    * form of EventOps.q20. */
  def windowedCounts(events: DataFrame, watermark: String = "30 minutes",
      window_ : String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** NATIVE session windows — Spark's built-in `session_window` dynamic-gap
    * aggregation, the declarative counterpart of the
    * flatMapGroupsWithState sessionization below ([[sessionize]]): the
    * state store merges overlapping candidate windows per key and the
    * watermark closes a session once no event can extend it. Use THIS form
    * when per-session output is an aggregate the engine already knows
    * (count/sum/min/max — it stays inside the state-store operator,
    * no user state classes); drop to flatMapGroupsWithState only for
    * custom state shapes or emit conditions. Same 30-minute gap as the
    * batch twin (q22) and [[sessionize]]. */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n"), col("sum_value"))

  /** Streaming exact dedup on event_id — the streaming form of the exact
    * dedup / first-wins operators (dd01, q17). State holds one key per
    * event_id seen, and the watermark BOUNDS that state: an id older than
    * the watermark is evicted, so memory is O(ids per watermark window),
    * not O(stream length) — the property that keeps this runnable forever
    * on an unbounded stream. */
  def dedupedEvents(events: DataFrame, watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Watermarked stream-stream interval join — click attribution: each
    * click joins the same user's views from the 10 minutes before it
    * (streaming twin of EventOps.q30). The time bound is what makes an
    * unbounded join feasible: with both sides watermarked and the join
    * condition range-bounded, Spark derives how long each side's state
    * must be retained and evicts the rest. */
  def attributedClicks(clicks: DataFrame, views: DataFrame,
      watermark: String = "10 minutes"): DataFrame = {
    val c = clicks.withWatermark("ts", watermark).alias("c")
    val v = views.withWatermark("ts", watermark).alias("v")
    c.join(v, expr(
      """c.user_id = v.user_id AND
        |v.ts <= c.ts AND v.ts >= c.ts - interval 10 minutes""".stripMargin))
      .select(col("c.event_id").as("click_id"), col("c.user_id").as("user_id"),
        col("c.ts").as("click_ts"), col("v.event_id").as("view_id"),
        col("v.ts").as("view_ts"))
  }

  /** Stream-static enrichment join — each micro-batch joins the static
    * dimension as a broadcast (the dim re-resolves per batch, so slowly
    * changing dimensions pick up updates without restarting the query).
    * The streaming side never shuffles: this is the scale-correct shape
    * for attaching user/document metadata to an event firehose. */
  def enriched(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Streaming front door for incremental dedup — the daily-crawl shape:
    * `newDocs` is a stream of (doc_id, text); the corpus-side dedup store
    * (content hashes, shingle sets, LSH band keys) is staged ONCE up front
    * — at real scale these are parquet tables the pipeline maintains, here
    * `localCheckpoint` stands in — and every micro-batch runs the same
    * exact+near checks as the batch query (dd09) via
    * [[graft.operators.Dedup.incrementalFlags]], so the streaming and
    * batch answers cannot drift. `foreachBatch` is the right vehicle (not
    * a stream-stream join): the per-batch plan needs multi-step joins and
    * aggregation over the FINISHED batch, and its output feeds an
    * idempotent sink keyed by (batch_id, doc_id). Corpus state is static
    * per query lifetime by design — newly ingested docs dedup against the
    * corpus snapshot, and the store roll-forward is the nightly batch
    * job's business, exactly like the reference's insert-conflict model.
    */
  def incrementalDedupStream(newDocs: DataFrame, corpus: DataFrame)
      (sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Dedup
    val hashesOld = corpus.select(md5(col("text")).as("h"))
      .distinct().transform(pin)
    val setsOld = Dedup.shingleSets(corpus).transform(pin)
    val bandsOld = Dedup.lshBands(Dedup.minhashSigsFromSets(setsOld).drop("sh"))
      .transform(pin)
    newDocs.writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink(Dedup.incrementalFlags(batch, hashesOld, setsOld, bandsOld), batchId)
      }.start()
  }

  /** The PRODUCTION form of [[incrementalDedupStream]]: the corpus side is
    * the on-disk dedup store ([[graft.operators.DedupStore]]) instead of
    * raw text staged at query start — the stream never tokenizes the
    * corpus, it reads the maintained hashes/sets/bands parquet. The store
    * roll-forward (appending accepted docs) stays the nightly batch job's
    * business (`DedupStore.rollForward`); each micro-batch dedups against
    * the store as of query start. BECAUSE the corpus-side plans list their
    * files once at query start, this door must not share a store with a
    * concurrent compactor (another stream's autoMaintain, a nightly
    * compact job) — the full-lifecycle door ([[dedupIngestStream]]) reads
    * the store fresh per batch inside a missing-file retry and is the one
    * to use when maintenance runs concurrently. */
  def incrementalDedupStreamFromStore(newDocs: DataFrame, storeDir: String)
      (sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.DedupStore
    val store = DedupStore.read(newDocs.sparkSession, storeDir)
    newDocs.writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink(DedupStore.incrementalAgainstStore(batch, store), batchId)
      }.start()
  }

  /** The dedup store's FULL-LIFECYCLE front door — the unattended crawl
    * loop, completing the trilogy with [[vectorIngestStream]] and
    * [[graphIngestStream]] (round 10's policy-driven maintenance, pointed
    * at the third LSM artifact). Each micro-batch of (doc_id, text):
    *  1. CHECK against the store as it stands ([[graft.operators
    *     .DedupStore.incrementalAgainstStore]] over a FRESH read — unlike
    *     [[incrementalDedupStreamFromStore]]'s deliberate query-start
    *     snapshot, this stream's own roll-forwards must be visible to
    *     later batches) and persist the flags to `outDir/batch=<id>` —
    *     the stream's output product;
    *  2. ROLL the accepted docs FORWARD (tagged b<batchId> — the
    *     fingerprint-refusal append, replay-convergent);
    *  3. optionally MAINTAIN ([[graft.operators.DedupStore
    *     .maintainDedupStore]] — the count/file-dial policy compacts when
    *     due; answers-unchanged and crash-safe, so legal here).
    *
    * Replay convergence is layered exactly so a restart anywhere lands in
    * the same state: the flags write is a deterministic overwrite gated
    * on its own `_SUCCESS` (computed BEFORE this batch's roll-forward, and
    * never recomputed after — a replayed check against a store that
    * already absorbed this batch would flag the batch against itself);
    * the accepted set derives from the PERSISTED flags, so the replayed
    * roll-forward carries the same fingerprint and no-ops; maintenance is
    * idempotent. The check runs inside retryOnMissingFiles: a CONCURRENT
    * maintainer's staged compact (another stream or a nightly job on the
    * same store) can yank listed files mid-scan — the retry promotes any
    * crashed stage and re-plans from a fresh listing. */
  def dedupIngestStream(newDocs: DataFrame, storeDir: String, outDir: String,
      checkpointLocation: Option[String] = None,
      autoMaintain: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w = newDocs.writeStream.outputMode(OutputMode.Append())
    checkpointLocation.foreach(w.option("checkpointLocation", _))
    w.foreachBatch { (batch: DataFrame, batchId: Long) =>
      ingestDedupBatch(batch, storeDir, outDir, batchId, autoMaintain)
    }.start()
  }

  /** Per-batch body of [[dedupIngestStream]] — see its convergence notes.
    * The flags are the union of TWO passes (round-12 advice): the batch
    * against the standing store ([[graft.operators.DedupStore
    * .incrementalAgainstStore]]) and the batch against ITSELF
    * ([[graft.operators.Dedup.intraBatchFlags]] — flag every doc
    * duplicating a smaller-id doc of the same micro-batch). Without the
    * intra pass, two identical docs arriving in one batch were both
    * unflagged and both rolled forward — diverging from the row-at-a-time
    * insert-conflict model (reference `src/database.rs`) the store cites,
    * where later rows of a batch see earlier ones. */
  def ingestDedupBatch(batch: DataFrame, storeDir: String, outDir: String,
      batchId: Long, autoMaintain: Boolean = false): Unit = {
    import graft.operators.{Artifact, Dedup, DedupStore}
    val s = batch.sparkSession
    val b = batch.transform(pin) // pin: retries must re-check the same rows
    val flagDir = s"$outDir/batch=$batchId"
    val f = Artifact.fs(s, outDir)
    if (!f.exists(new org.apache.hadoop.fs.Path(s"$flagDir/_SUCCESS")))
      Artifact.retryOnMissingFiles(s, storeDir) {
        DedupStore.incrementalAgainstStore(b, DedupStore.read(s, storeDir))
          .unionByName(Dedup.intraBatchFlags(b))
          .groupBy(col("doc_id"))
          .agg(max(col("dup_exact")).as("dup_exact"),
            max(col("dup_near")).as("dup_near"))
          .write.mode("overwrite").parquet(flagDir)
      }
    val accepted = b.join(
      s.read.parquet(flagDir).select(col("doc_id")), Seq("doc_id"), "left_anti")
    DedupStore.rollForward(storeDir, accepted, Some(s"b$batchId"))
    if (autoMaintain) DedupStore.maintainDedupStore(s, storeDir)
  }

  /** Streaming ERASE-REQUEST front door — the GDPR half of the dedup
    * store's lifecycle ([[dedupIngestStream]] admits, this forgets): each
    * micro-batch of (doc_id) erase requests lands in the store's
    * `_erase_pending/` ledger via [[graft.operators.DedupStore
    * .requestErase]] — an O(ids) append, never the O(store) rewrite —
    * and takes effect on the NEXT check through [[graft.operators
    * .DedupStore.read]]'s screen. `autoMaintain` lets the maintenance
    * policy run the physical pass when the pending dial fires
    * (answers-unchanged at that point — the screen already applied the
    * semantics — so it is legal inside foreachBatch like compaction).
    * No commit marker: at-least-once redelivery appends duplicate ledger
    * rows, which the DISTINCT ledger read absorbs structurally, and
    * erasing an already-erased id is a no-op anti-join.
    *
    * SAFE BESIDE a concurrent [[dedupIngestStream]] on the same store
    * (round-12 advice, high): this stream's erase/compact rewrites and
    * the ingest stream's roll-forward appends all hold the store's
    * writer lease, so an append can no longer land inside a rewrite's
    * snapshot→swap window and be silently swept while its fingerprint
    * survives. The two foreachBatch bodies still run on separate
    * threads; the lease is what serializes them. */
  def eraseRequestStream(ids: DataFrame, storeDir: String,
      checkpointLocation: Option[String] = None,
      autoMaintain: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w = ids.writeStream.outputMode(OutputMode.Append())
    checkpointLocation.foreach(w.option("checkpointLocation", _))
    w.foreachBatch { (batch: DataFrame, _: Long) =>
      graft.operators.DedupStore.requestErase(
        batch.sparkSession, storeDir, batch)
      if (autoMaintain)
        graft.operators.DedupStore.maintainDedupStore(
          batch.sparkSession, storeDir)
      ()
    }.start()
  }

  /** Streaming INDEX MAINTENANCE — ss07's IVF roll-forward as a live
    * front door: each micro-batch of arriving vectors (vec_id, label,
    * embedding) is quantized, assigned against the STORED centroids and
    * appended to the cent_id-partitioned inverted lists — the exact
    * batch verbs ([[graft.operators.Dedup.quantized]] →
    * [[graft.operators.Similarity.appendToIvfIndex]]), so the streaming
    * and nightly paths cannot drift semantically. Work per batch is
    * O(batch × k); the standing corpus is never read. Because the lists
    * are SETS of assigned rows (probes aggregate over them, order-
    * independent), any interleaving of micro-batches leaves the index
    * byte-equivalent to one batch append of the union — the lockstep
    * law IvfIndexSpec pins. Quantizer drift under streamed data stays
    * the ss06/ss13 audits' business; compaction of the small appended
    * files stays [[graft.operators.Similarity.compactIvfIndex]]'s. */
  def vectorIngestStream(newVecs: DataFrame, idxDir: String,
      checkpointLocation: Option[String] = None,
      autoMaintain: Boolean = false,
      autoErase: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w = newVecs.writeStream.outputMode(OutputMode.Append())
    checkpointLocation.foreach(w.option("checkpointLocation", _))
    w.foreachBatch { (batch: DataFrame, batchId: Long) =>
      ingestVectorBatch(batch, idxDir, batchId, autoMaintain, autoErase)
    }.start()
  }

  /** Retention for the per-batch commit-marker dirs (`_ingest_commits/`,
    * `_serve_commits/`): one marker per micro-batch, kept forever, is the
    * `_append_tags/` small-file pathology one level out (~500k files/year
    * at per-minute batches). Markers are SKIP-OPTIMIZATIONS, not
    * correctness gates — every sink beneath them is replay-convergent on
    * its own (tag-convergent staged appends, deterministic per-batch
    * overwrites) — so all but the newest `spark.graft.stream
    * .commitRetention` markers (default 4096; far beyond any restart's
    * replay window, which is the last uncommitted batch) are safe to
    * drop: a replay of a pruned batchId re-executes and converges.
    * Survivors are the NEWEST by (mtime, id), NOT an id window keyed on
    * the current batchId (round-11 verdict #3's low: a stream restarted
    * with a FRESH checkpoint resets batchId to 0, so an id-floor
    * `batchId − keep` never went positive again and the predecessor
    * incarnation's markers leaked forever — count-based retention prunes
    * them regardless of what the current incarnation numbers its
    * batches). Pruning is amortized — one listing every
    * `spark.graft.stream.commitPruneInterval` batches (default 256),
    * counted per (marker dir, JVM) rather than by `batchId % interval`
    * for the same reset-proofness. */
  private[streaming] def pruneCommitMarkers(s: org.apache.spark.sql.SparkSession,
      f: org.apache.hadoop.fs.FileSystem, markerDir: org.apache.hadoop.fs.Path,
      batchId: Long): Unit = {
    val interval = graft.operators.Artifact
      .confInt(s, "spark.graft.stream.commitPruneInterval", 256).toLong
    val seen = markerBatchCounter
      .computeIfAbsent(markerDir.toString,
        _ => new java.util.concurrent.atomic.AtomicLong(0L))
      .incrementAndGet()
    if (seen % math.max(1L, interval) != 0L) return
    val keep = graft.operators.Artifact
      .confInt(s, "spark.graft.stream.commitRetention", 4096)
    if (!f.exists(markerDir)) return
    val markers = f.listStatus(markerDir).filter(st => st.isFile &&
      !st.getPath.getName.startsWith(".") &&
      !st.getPath.getName.startsWith("_"))
    if (markers.length <= keep) return
    // oldest first by (mtime, numeric id): a reset incarnation's fresh
    // markers carry newer mtimes even though their ids restarted at 0
    val doomed = markers.sortBy(st => (st.getModificationTime,
        scala.util.Try(st.getPath.getName.toLong).getOrElse(Long.MaxValue)))
      .dropRight(keep)
    doomed.foreach(st => f.delete(st.getPath, false))
  }

  // pruneCommitMarkers' amortization counter: marker dir -> batches seen
  // this JVM. In-memory only (a fresh JVM just waits one interval before
  // its first listing — amortization, not correctness).
  private val markerBatchCounter = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.atomic.AtomicLong]()

  /** The per-batch ingest body, IDEMPOTENT per batchId: a commit marker
    * under `_ingest_commits/` makes a REPLAYED micro-batch (restart
    * reprocessing) a no-op. The IVF lists are RANK-SENSITIVE — a
    * duplicated row claims two top-K slots at probe time — so unlike
    * the multiplicity-insensitive dedup sinks this sink cannot shrug
    * off at-least-once delivery; marker-in-sink is the standard
    * foreachBatch idempotence pattern. Two hardenings (round-8 advice):
    * the append goes through [[graft.operators.Similarity
    * .stagedAppendToIvfIndex]] — staged write, then per-file moves under
    * deterministic `ingest-<batchId>-i` names with same-tag leftovers
    * deleted first — so a crash at ANY point replays to exactly one copy
    * of the batch (the old mode("append") path duplicated rows when the
    * crash landed between append and marker); and the marker is created
    * with overwrite=false, so a RACING duplicate writer (two concurrent
    * queries on one index dir) fails loudly instead of both committing.
    * IvfIndexSpec replays a batch and proves the lists unchanged. */
  def ingestVectorBatch(batch: DataFrame, idxDir: String, batchId: Long,
      autoMaintain: Boolean = false, autoErase: Boolean = false): Unit = {
    val s = batch.sparkSession
    val f = graft.operators.Artifact.fs(s, idxDir)
    val marker = new org.apache.hadoop.fs.Path(s"$idxDir/_ingest_commits/$batchId")
    if (!f.exists(marker)) {
      graft.operators.Similarity.stagedAppendToIvfIndex(s, idxDir,
        graft.operators.Dedup.quantized(batch)
          .select(col("vec_id"), col("v"), col("nrm")), s"b$batchId")
      f.mkdirs(marker.getParent)
      // overwrite=false: two writers racing on one batchId is a deployment
      // bug (duplicate concurrent query against a shared index dir) — the
      // loser must hear about it, not silently double-commit.
      f.create(marker, false).close()
    }
    pruneCommitMarkers(s, f, marker.getParent, batchId)
    // after the marker, like graphIngestStream's autoMaintain: compaction
    // is answers-unchanged and crash-safe, so a crash between marker and
    // maintenance is caught up by any later batch. autoErase arms the
    // tier's unattended GDPR path (tombstones past the pending dial are
    // physically purged — see maintainIvfIndex); it, too, is answers-
    // unchanged at execution time because serves already screen the
    // tombstoned ids.
    if (autoMaintain || autoErase)
      graft.operators.Similarity.maintainIvfIndex(s, idxDir,
        autoErase = autoErase)
  }

  /** Streaming GRAPH-INDEX MAINTENANCE — [[vectorIngestStream]]'s sibling
    * for the persisted NSW graph artifact: each micro-batch rolls the
    * stored graph forward through the batch verb
    * ([[graft.operators.Similarity.appendToNswIndex]]), so streamed and
    * nightly appends cannot drift semantically. Work per batch is
    * O(batch): probes against the partition-pruned stored tables plus ONE
    * new `edges_delta/tag=b<batchId>` partition — base edge files are
    * never touched (round 9; the previous append re-ranked and rewrote
    * the full edge artifact per micro-batch, O(index) ingest). Serving
    * merges base ∪ deltas on read; compaction folds them. Idempotence is
    * layered: the commit marker makes a replayed batchId a no-op, and
    * beneath it the append itself is REPLAY-CONVERGENT per tag (staged
    * list/probe placement + staged delta overwrite), so even a crash
    * BETWEEN the append and the marker replays to the same index state —
    * the property the rank-sensitive edge table needs under
    * at-least-once delivery. NswIndexSpec proves the convergence law and
    * the base-files-untouched pin directly. */
  def graphIngestStream(newVecs: DataFrame, idxDir: String,
      checkpointLocation: Option[String] = None,
      autoMaintain: Boolean = false,
      rotateTo: Option[String] = None,
      autoErase: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w = newVecs.writeStream.outputMode(OutputMode.Append())
    checkpointLocation.foreach(w.option("checkpointLocation", _))
    w.foreachBatch { (batch: DataFrame, batchId: Long) =>
      ingestGraphBatch(batch, idxDir, batchId, autoMaintain, rotateTo,
        autoErase)
    }.start()
  }

  /** Per-batch body of [[graphIngestStream]] — marker-gated like
    * [[ingestVectorBatch]], with the batchId as the append's replay tag.
    *
    * `autoMaintain = true` runs [[graft.operators.Similarity
    * .maintainNswIndex]] after the commit marker: the count-based policy
    * (ss50's oracle-checked plan) folds edge deltas and compacts the
    * per-tag small files once unfolded appends pass the conf'd fraction
    * of the corpus — the piece that makes an UNATTENDED ingest stream
    * viable at 100 TB (without it, merge-on-read degrades monotonically:
    * a growing touched-src broadcast plus one file listing per tag per
    * serve, forever). Running AFTER the marker is deliberate: the fold is
    * answers-unchanged and idempotent, so a crash between marker and
    * maintenance is caught up by any later batch's maintenance, while a
    * crash between append and marker replays the append (converging by
    * tag) and then maintains.
    *
    * `rotateTo` arms the policy's OTHER decision for unattended runs:
    * once `compact_due` fires (tombstones past the dial — deletes arrive
    * via the batch verb even while ingest streams), maintenance rotates
    * the blue/green compaction into `rotateTo` exactly once (the
    * finished-manifest guard in maintainNswIndex); the source keeps
    * serving — and keeps ingesting — until the operator switches, which
    * stays a human/deployment decision by design. */
  def ingestGraphBatch(batch: DataFrame, idxDir: String, batchId: Long,
      autoMaintain: Boolean = false,
      rotateTo: Option[String] = None,
      autoErase: Boolean = false): Unit = {
    val s = batch.sparkSession
    val f = graft.operators.Artifact.fs(s, idxDir)
    val marker = new org.apache.hadoop.fs.Path(s"$idxDir/_ingest_commits/$batchId")
    if (!f.exists(marker)) {
      graft.operators.Similarity.appendToNswIndex(s, idxDir,
        graft.operators.Dedup.quantized(batch)
          .select(col("vec_id"), col("v"), col("nrm")), s"b$batchId")
      f.mkdirs(marker.getParent)
      f.create(marker, false).close()
    }
    pruneCommitMarkers(s, f, marker.getParent, batchId)
    if (autoMaintain)
      graft.operators.Similarity.maintainNswIndex(s, idxDir, rotateTo,
        autoErase)
  }

  /** Streaming SERVE front door — the other half of the index lifecycle:
    * [[graphIngestStream]] keeps the artifact current; this answers
    * QUERY vectors as they arrive. Each micro-batch of (q_id, embedding)
    * rows is quantized and beam-served against the STORED graph
    * ([[graft.operators.Similarity.beamServeExternal]] — candidate
    * vectors from the artifact's inverted lists, never a corpus table),
    * and the top-k results land under `outDir/batch=<id>`. Marker-gated
    * + deterministic per-batch dir + overwrite = an at-least-once replay
    * converges to one copy (spec-pinned), the ingest sinks' contract. */
  def beamServeStream(queries: DataFrame, idxDir: String, outDir: String,
      checkpointLocation: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w = queries.writeStream.outputMode(OutputMode.Append())
    checkpointLocation.foreach(w.option("checkpointLocation", _))
    w.foreachBatch { (batch: DataFrame, batchId: Long) =>
      serveGraphBatch(batch, idxDir, outDir, batchId)
    }.start()
  }

  /** Per-batch body of [[beamServeStream]]. The serve runs inside
    * [[graft.operators.Artifact.retryOnMissingFiles]]: a CONCURRENT
    * autoMaintain fold/compact on the same artifact can yank files
    * between this serve's listing and its scan (round-10 advice) — the
    * retry re-plans from a fresh listing, and the deterministic
    * per-batch output dir makes the re-execution a clean overwrite. */
  def serveGraphBatch(batch: DataFrame, idxDir: String, outDir: String,
      batchId: Long): Unit = {
    val s = batch.sparkSession
    val f = graft.operators.Artifact.fs(s, outDir)
    val marker = new org.apache.hadoop.fs.Path(s"$outDir/_serve_commits/$batchId")
    if (!f.exists(marker)) {
      // quantize the arriving embeddings exactly as the corpus was
      // (Dedup.quantized's transform — the batch carries (q_id,
      // embedding), not the corpus's (vec_id, label, embedding))
      graft.functions.VectorFunctions.register(s)
      val qs = batch.select(col("q_id"),
          expr("transform(embedding, x -> CAST(floor(x * 1000) AS BIGINT))")
            .as("v1"))
        .withColumn("n1", expr("dot_l(v1, v1)"))
        .transform(pin) // pin the batch: retries must re-serve, not re-read
      graft.operators.Artifact.retryOnMissingFiles(s, idxDir) {
        graft.operators.Similarity.beamServeExternal(s, idxDir, qs)
          .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      }
      f.mkdirs(marker.getParent)
      f.create(marker, false).close()
    }
    pruneCommitMarkers(s, f, marker.getParent, batchId)
  }

  /** [[beamServeStream]]'s IVF sibling — external query vectors answered
    * from the stored inverted-list artifact per micro-batch
    * ([[graft.operators.Similarity.ivfServeExternal]]: probes at the
    * manifest-recorded rung ss54 measured, candidates from the probed
    * list partitions only). Completes the serve half of the IVF tier's
    * lifecycle the way beamServeStream does the graph tier's:
    * [[vectorIngestStream]] keeps the artifact current (autoMaintain
    * compacting the same lists this serve scans — hence the missing-file
    * retry), this answers queries as they arrive. Marker-gated +
    * deterministic per-batch dir + overwrite = at-least-once replays
    * converge to one copy. */
  def ivfServeStream(queries: DataFrame, idxDir: String, outDir: String,
      checkpointLocation: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w = queries.writeStream.outputMode(OutputMode.Append())
    checkpointLocation.foreach(w.option("checkpointLocation", _))
    w.foreachBatch { (batch: DataFrame, batchId: Long) =>
      serveIvfBatch(batch, idxDir, outDir, batchId)
    }.start()
  }

  /** Per-batch body of [[ivfServeStream]] — [[serveGraphBatch]]'s shape
    * pointed at the IVF artifact. */
  def serveIvfBatch(batch: DataFrame, idxDir: String, outDir: String,
      batchId: Long): Unit = {
    val s = batch.sparkSession
    val f = graft.operators.Artifact.fs(s, outDir)
    val marker = new org.apache.hadoop.fs.Path(s"$outDir/_serve_commits/$batchId")
    if (!f.exists(marker)) {
      graft.functions.VectorFunctions.register(s)
      val qs = batch.select(col("q_id"),
          expr("transform(embedding, x -> CAST(floor(x * 1000) AS BIGINT))")
            .as("v1"))
        .withColumn("n1", expr("dot_l(v1, v1)"))
        .transform(pin) // pin the batch: retries must re-serve, not re-read
      graft.operators.Artifact.retryOnMissingFiles(s, idxDir) {
        graft.operators.Similarity.ivfServeExternal(s, idxDir, qs)
          .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      }
      f.mkdirs(marker.getParent)
      f.create(marker, false).close()
    }
    pruneCommitMarkers(s, f, marker.getParent, batchId)
  }

  /** Streaming INGEST GATE — the per-document admission decision (tx21's
    * named quality rules + tx01's language guess) evaluated on documents
    * as they arrive. Both are STATELESS projections (integer
    * cross-multiplied ratio rules, marker counting), so the gate is a
    * pure `select` over the stream: no watermark, no state store, no
    * foreachBatch — a streaming micro-batch and the batch query run the
    * byte-identical plan, which is what makes the lockstep law testable
    * (EventStreamSpec). This is the front half of the crawl-ingest
    * story; admitted docs flow on to [[incrementalDedupStreamFromStore]]
    * for the stateful dedup half. */
  def ingestGateStream(docs: DataFrame): DataFrame = {
    import graft.operators.TextOps
    // langScored carries text through so the rule pass chains as a second
    // projection on the SAME stream — no stateful self-join
    TextOps.ruleFiltered(
      TextOps.langScored(docs, carry = Seq("text")).drop("best_score"),
      carry = Seq("guessed_lang"))
  }

  /** Streaming maintenance of the mv02 day-partitioned event rollup —
    * the live twin of the nightly [[graft.operators.MatView
    * .rollForwardEvents]]: every micro-batch merges its (day,
    * event_type) partials into only the day partitions it touches
    * ([[graft.operators.MatView.mergeEventBatch]] — pruned state read +
    * dynamic partition overwrite). Decimal monoid sums make the merge
    * order-independent, so the state after any batch interleaving equals
    * the batch recompute — asserted by MatViewSpec's streaming case. */
  def eventRollupStream(events: DataFrame, stateDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream.outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.operators.MatView.mergeEventBatch(batch, stateDir)
      }.start()

  final case class AsofAttached(click_id: Long, user_id: Long,
      click_ts: Timestamp, view_id: Option[Long], view_ts: Option[Timestamp])

  final case class ViewState(ts: Long, id: Long)

  /** Streaming as-of join — each click attaches to the same user's latest
    * view at-or-before it (streaming twin of EventOps.q32). Unlike the
    * interval join (attributedClicks), the lookback is unbounded, which a
    * stream-stream join cannot express with finite state; the canonical
    * streaming form is a one-record reduction: state per user = the single
    * latest (ts, id) view, updated monotonically. State is O(distinct
    * users) regardless of stream length — the as-of "join" never stores
    * history. Within a micro-batch, rows process in (ts, view-first, id)
    * order so a same-timestamp view is eligible and the max-id view wins
    * ties, matching the batch twin exactly; across micro-batches a view
    * that arrives AFTER a later-timestamped click has already been emitted
    * cannot retro-attach (inherent to append-mode streaming — the batch
    * twin is the backfill authority). The symmetric direction is guarded
    * too: a LATE click (older than the stored view) must not attach to
    * that future view — it gets null, because the correct earlier view
    * was already superseded in the O(1) state. Both lossy directions are
    * the price of O(users) state; q32 is the exact backfill.
    */
  def asofAttach(events: Dataset[Event]): Dataset[AsofAttached] = {
    val spark = events.sparkSession
    import spark.implicits._

    def update(userId: Long, rows: Iterator[Event],
        state: GroupState[ViewState]): Iterator[AsofAttached] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[AsofAttached]
      var cur = state.getOption
      val ordered = rows.toSeq.sortBy(e =>
        (e.ts.getTime, if (e.event_type == "view") 0 else 1, e.event_id))
      for (e <- ordered) e.event_type match {
        case "view" =>
          val t = e.ts.getTime
          if (cur.forall(s => s.ts < t || (s.ts == t && s.id < e.event_id)))
            cur = Some(ViewState(t, e.event_id))
        case "click" =>
          // As-of invariant: never attach a view from the click's future
          // (reachable only cross-batch, via a click arriving later than a
          // newer view; in-batch ordering already guarantees ts ≤ click).
          val eligible = cur.filter(_.ts <= e.ts.getTime)
          out += AsofAttached(e.event_id, userId, e.ts,
            eligible.map(_.id), eligible.map(s => new Timestamp(s.ts)))
        case _ => ()
      }
      cur.foreach(state.update)
      out.iterator
    }

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout)(update)
  }

  /** Live histogram maintenance — the streaming front door of the mv05
    * mergeable-quantile view: each micro-batch merges its (event_type,
    * cent) count partials into only the type partitions it touches
    * ([[graft.operators.MatView.mergeHistBatch]]); the dashboard serves
    * exact p50/p95 off the tiny state at any moment. Count monoids make
    * the state independent of batch interleaving — asserted against the
    * batch recompute in MatViewSpec's streaming case. */
  def histogramStream(events: DataFrame, stateDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream.outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.operators.MatView.mergeHistBatch(batch, stateDir)
      }.start()

  final case class NearestAttached(click_id: Long, user_id: Long,
      click_ts: Timestamp, view_id: Option[Long], view_ts: Option[Timestamp])

  final case class NearestState(views: List[(Long, Long)],
      clicks: List[(Long, Long)])

  /** Streaming NEAREST-event join — the bounded-horizon streaming form of
    * EventOps.q58: each click attaches to the same user's closest view in
    * EITHER direction within ±horizon (backward wins ties, max id within a
    * timestamp — q58's tiebreak). The forward direction is what asofAttach
    * cannot do: a click's answer may lie in its future, so a click is held
    * in keyed state until the event-time watermark passes click_ts +
    * horizon — only then is "no closer future view will ever arrive"
    * certain — and emitted exactly once from the timeout path. State per
    * user is the clicks and views inside a sliding 2·horizon band (views
    * older than watermark − horizon can serve no pending or future click
    * and are pruned on every firing), so state is bounded by rate×horizon,
    * never stream length. The unbounded-horizon exact form is the batch
    * twin; this is the online approximation a serving pipeline runs. */
  def nearestAttach(events: Dataset[Event], horizonSeconds: Long = 3600,
      watermark: String = "30 minutes"): Dataset[NearestAttached] = {
    val spark = events.sparkSession
    import spark.implicits._
    val hMs = horizonSeconds * 1000L

    def resolve(userId: Long, st: NearestState,
        wm: Long): (List[NearestAttached], NearestState) = {
      val (due, pend) = st.clicks.partition { case (cts, _) => cts + hMs <= wm }
      val out = due.sortBy(identity).map { case (cts, cid) =>
        val best = st.views
          .filter { case (vts, _) => math.abs(vts - cts) <= hMs }
          .sortBy { case (vts, vid) =>
            (math.abs(vts - cts), if (vts <= cts) 0L else 1L, -vid) }
          .headOption
        NearestAttached(cid, userId, new Timestamp(cts),
          best.map(_._2), best.map(b => new Timestamp(b._1)))
      }
      val keep = st.views.filter { case (vts, _) => vts + hMs >= wm }
      (out, NearestState(keep, pend))
    }

    def update(userId: Long, rows: Iterator[Event],
        state: GroupState[NearestState]): Iterator[NearestAttached] = {
      val wm = state.getCurrentWatermarkMs()
      val st0 = state.getOption.getOrElse(NearestState(Nil, Nil))
      val st1 =
        if (state.hasTimedOut) st0
        else {
          val rs = rows.toSeq
          NearestState(
            st0.views ++ rs.filter(_.event_type == "view")
              .map(e => (e.ts.getTime, e.event_id)),
            st0.clicks ++ rs.filter(_.event_type == "click")
              .map(e => (e.ts.getTime, e.event_id)))
        }
      val (out, st2) = resolve(userId, st1, wm)
      if (st2.views.isEmpty && st2.clicks.isEmpty) state.remove()
      else {
        state.update(st2)
        val deadline =
          if (st2.clicks.nonEmpty) st2.clicks.map(_._1 + hMs).min
          else st2.views.map(_._1 + hMs).min // pure-view prune point
        state.setTimeoutTimestamp(math.max(deadline, wm + 1))
      }
      out.iterator
    }

    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout)(update)
  }

  final case class RunningDistinct(event_id: Long, user_id: Long,
      sec: Long, distinct_types: Long)

  final case class SeenTypes(types: Set[String])

  /** RUNNING DISTINCT COUNT — the streaming twin of EventOps.q53: every
    * event is emitted with the number of distinct event types its user
    * has produced so far. Batch needs two window passes; streaming keeps
    * the seen-type SET as keyed state (bounded by event-type cardinality,
    * not stream length) and each event's count is one set insert — the
    * state-beats-window shape that makes this metric cheap live when the
    * batch recompute is a full-corpus double window. In-batch rows are
    * ordered by (whole-second event time, event_id) to match the batch
    * twin's ordering; counts equal the batch recompute under in-order
    * cross-batch delivery (a late event counts from its ARRIVAL state —
    * Append mode emits each row once and never retro-corrects). */
  def runningDistinct(events: Dataset[Event]): Dataset[RunningDistinct] = {
    val spark = events.sparkSession
    import spark.implicits._

    def update(userId: Long, rows: Iterator[Event],
        state: GroupState[SeenTypes]): Iterator[RunningDistinct] = {
      var seen = state.getOption.map(_.types).getOrElse(Set.empty[String])
      val out = rows.toSeq.sortBy(e => (e.ts.getTime / 1000, e.event_id)).map { e =>
        seen += e.event_type
        RunningDistinct(e.event_id, userId, e.ts.getTime / 1000, seen.size.toLong)
      }
      state.update(SeenTypes(seen))
      out.iterator
    }

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout)(update)
  }

  final case class CdcChange(lang: String, w: Long, n_chars: Long)

  /** Streaming Z-SET aggregation — mv09's live form: a CDC change stream
    * (w = +1 insert, −1 retraction) folded into per-group view rows
    * `(lang, n_docs = Σw, sum_chars = Σw·n_chars)`. Because weighted
    * sums form a GROUP (not just a monoid), retractions are just more
    * rows — Spark's built-in streaming aggregation maintains the view
    * with no custom state, and the result after any prefix of changes
    * equals the batch recompute over the net-surviving rows (the DBSP
    * invariant, asserted in the spec). Complete/Update output both
    * serve; net-zero groups are filtered at read like mv09. */
  def cdcAggregateStream(changes: DataFrame): DataFrame =
    changes.groupBy(col("lang"))
      .agg(sum(col("w")).as("n_docs"),
        sum(col("w") * col("n_chars")).as("sum_chars"))

  final case class PathTrigram(user_id: Long, t1: String, t2: String, t3: String)

  final case class PathState(prev1: String, prev2: String)

  /** Streaming SEQUENTIAL PATH MINING — the live twin of EventOps.q62:
    * each user's completed event-type trigram is emitted the moment its
    * third event arrives. Batch needs two LEADs over a corpus-wide
    * window; streaming keeps only the user's LAST TWO types as keyed
    * state (O(1) per user, independent of stream length) and every
    * event closes at most one trigram — so the downstream count/top-k is
    * an aggregate over emitted trigrams, never a re-sort of history.
    * In-batch rows order by (whole-second event time, event_id), the
    * [[runningDistinct]] convention; under in-order delivery the emitted
    * multiset equals the batch twin's pre-top-k trigram stream. */
  def pathMine(events: Dataset[Event]): Dataset[PathTrigram] = {
    val spark = events.sparkSession
    import spark.implicits._

    def update(userId: Long, rows: Iterator[Event],
        state: GroupState[PathState]): Iterator[PathTrigram] = {
      var p1 = state.getOption.map(_.prev1).orNull
      var p2 = state.getOption.map(_.prev2).orNull
      val out = rows.toSeq.sortBy(e => (e.ts.getTime / 1000, e.event_id))
        .flatMap { e =>
          val r = if (p1 != null && p2 != null)
            Some(PathTrigram(userId, p1, p2, e.event_type)) else None
          p1 = p2
          p2 = e.event_type
          r
        }
      state.update(PathState(p1, p2))
      out.iterator
    }

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout)(update)
  }

  final case class InterpTick(user_id: Long, g: Long, num: Long, den: Long)

  // eid: the event_id that produced (t1, v1) — same-second ties must
  // break by event_id ACROSS micro-batches too, not just within one
  // (round-6 fix: arrival order previously decided cross-batch ties,
  // diverging from the batch twin's deterministic last-by-event_id rule)
  final case class InterpState(t1: Long, v1: Long, eid: Long)

  /** Streaming LINEAR-INTERPOLATION resampling — the live twin of
    * EventOps.q64: each hourly tick between two consecutive events is
    * emitted the moment the LATER event arrives, lerped between the pair
    * (num/den in q64's integer milli-unit encoding). State per user is
    * one (last second, last value) record — O(1), stream-length
    * independent; each event emits exactly the ticks its arrival closes.
    *
    * Emission contract is UPSERT on (user_id, g), not exactly-once: a
    * tick landing exactly on an event second serves that event's value,
    * and same-second ties break to the HIGHEST event_id — enforced both
    * within a batch (sort) and across batches (eid carried in state) —
    * so when a higher-id same-second event follows, the already-emitted
    * boundary tick is re-emitted with the corrected value, and
    * downstream keeps the last write per key (the CDC shape
    * cdcAggregateStream consumes). The last emission per (user, g) then
    * equals the batch twin's row whenever arrivals are in-order by
    * (second, event_id) across batches (the watermark discipline).
    * Out-of-order rows are dropped here while the batch twin, which
    * sees all data at once, includes them; the tie-break half matters
    * too — if the HIGHER-id same-second event arrives in an earlier
    * batch, interior ticks between the previous event and that second
    * were already emitted from the higher-id value and are NOT
    * re-emitted when the lower-id sibling arrives (only the boundary
    * tick re-emits), so interior ticks can diverge from the batch
    * twin's lowest-id forward endpoint under that inversion —
    * EventStreamSpec pins the in-order lockstep law. */
  def interpResample(events: Dataset[Event]): Dataset[InterpTick] = {
    val spark = events.sparkSession
    import spark.implicits._

    def update(userId: Long, rows: Iterator[Event],
        state: GroupState[InterpState]): Iterator[InterpTick] = {
      var st = state.getOption.orNull
      val out = rows.toSeq.sortBy(e => (e.ts.getTime / 1000, e.event_id))
        .flatMap { e =>
          val t2 = e.ts.getTime / 1000
          val v2 = math.floor(e.value * 1000).toLong
          if (st != null && (t2 < st.t1 ||
              (t2 == st.t1 && e.event_id < st.eid))) {
            // LATE row (cross-batch out-of-order): emitting from it would
            // regress state and corrupt re-emitted ticks — drop it, the
            // watermark discipline every sibling stateful op applies.
            // The same-second case is the tie-break half of that rule: a
            // same-second event arriving in a LATER batch with a smaller
            // event_id must not displace the winner the batch twin keeps.
            Seq.empty[InterpTick]
          } else {
          val ticks: Seq[InterpTick] =
            if (st == null || t2 == st.t1) {
              // first event of the user, or a same-second replacement:
              // only an hour-aligned boundary tick can exist here
              if (t2 % 3600 == 0) Seq(InterpTick(userId, t2, v2, 1L))
              else Seq.empty
            } else {
              val (t1, v1) = (st.t1, st.v1)
              val g0 = (t1 / 3600 + 1) * 3600 // first tick strictly after t1
              (g0 to t2 by 3600).map { g =>
                if (g == t2) InterpTick(userId, g, v2, 1L)
                else InterpTick(userId, g,
                  v1 * (t2 - g) + v2 * (g - t1), t2 - t1)
              }
            }
          st = InterpState(t2, v2, e.event_id)
          ticks
          }
        }
      state.update(st)
      out.iterator
    }

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout)(update)
  }

  final case class WindowTopK(hour_epoch: Long, user_id: Long, n: Long, rnk: Int)

  final case class TopKState(counts: Map[Long, Long])

  /** Windowed TOP-K heavy hitters — the streaming twin of EventOps.q38
    * (per-hour top-k users by event count). Rank-of-an-aggregate is not
    * expressible as a streaming windowed agg (the rank needs the FINISHED
    * window), so the canonical form is keyed state per open window: counts
    * accumulate in a map, and the top-k rows are emitted EXACTLY ONCE when
    * the event-time timeout fires — i.e. when the watermark passes the
    * window end and the window can no longer change. State is
    * O(open windows × distinct users per window): the watermark bounds how
    * many windows stay open, so an unbounded stream runs in bounded
    * memory. Ties break to the lower user_id, matching the batch twin. */
  def topUsersPerWindow(events: Dataset[Event], k: Int = 3,
      watermark: String = "30 minutes"): Dataset[WindowTopK] = {
    val spark = events.sparkSession
    import spark.implicits._

    def update(hourEpoch: Long, rows: Iterator[Event],
        state: GroupState[TopKState]): Iterator[WindowTopK] = {
      if (state.hasTimedOut) {
        val out = state.getOption.toSeq.flatMap(_.counts.toSeq
          .sortBy { case (u, n) => (-n, u) }.take(k).zipWithIndex
          .map { case ((u, n), i) => WindowTopK(hourEpoch, u, n, i + 1) })
        state.remove()
        out.iterator
      } else {
        val m0 = state.getOption.map(_.counts).getOrElse(Map.empty[Long, Long])
        val m = rows.foldLeft(m0) { (m, e) =>
          m.updated(e.user_id, m.getOrElse(e.user_id, 0L) + 1L)
        }
        state.update(TopKState(m))
        // fire when the watermark passes the window END — every row of this
        // window has ts < end and survived the late filter (ts >= watermark),
        // so end > watermark always holds when this runs
        state.setTimeoutTimestamp((hourEpoch + 3600L) * 1000L)
        Iterator.empty
      }
    }

    events.withWatermark("ts", watermark)
      .groupByKey(e => e.ts.getTime / 3600000L * 3600L)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** Gap-based sessionization via flatMapGroupsWithState — the streaming
    * form of EventOps.q22 (1800 s inactivity gap). Emits a Session row each
    * time a session closes: either a newer event arrives past the gap, or
    * the event-time timeout fires after the watermark passes. */
  def sessionize(events: Dataset[Event], gapSeconds: Long = 1800,
      watermark: String = "30 minutes"): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._

    def update(userId: Long, rows: Iterator[Event],
        state: GroupState[SessionState]): Iterator[Session] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Session]
      def close(s: SessionState): Unit =
        out += Session(userId, new Timestamp(s.start), new Timestamp(s.last),
          s.n, s.total)
      if (state.hasTimedOut) {
        state.getOption.foreach(close)
        state.remove()
      } else {
        var cur = state.getOption
        for (e <- rows.toSeq.sortBy(_.ts.getTime)) {
          val t = e.ts.getTime
          cur match {
            case Some(s) if t - s.last <= gapSeconds * 1000 =>
              cur = Some(SessionState(s.start, math.max(s.last, t),
                s.n + 1, s.total + e.value))
            case Some(s) =>
              close(s)
              cur = Some(SessionState(t, t, 1, e.value))
            case None =>
              cur = Some(SessionState(t, t, 1, e.value))
          }
        }
        cur.foreach { s =>
          state.update(s)
          state.setTimeoutTimestamp(s.last + gapSeconds * 1000)
        }
      }
      out.iterator
    }

    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout)(update)
  }

  final case class FunnelRow(user_id: Long, t_view: Option[Long],
      t_click: Option[Long], t_purchase: Option[Long])

  final case class FunnelState(v: Option[Long], c: Option[Long],
      p: Option[Long], last: Long)

  /** Streaming funnel — the twin of EventOps.q40 (first view → first
    * click at-or-after it → first purchase at-or-after that). State is
    * THREE timestamps per user; within each micro-batch rows fold in
    * event-time order (view before click before purchase on ties), so
    * in-order and same-batch data reproduce the batch answer exactly. A
    * cross-batch REGRESSION (an earlier view arriving after a click was
    * already folded against a later view) is lossy by design — O(1)
    * state can't re-audition discarded clicks; q40 is the exact backfill
    * authority, the asofAttach contract. One FunnelRow per user is
    * emitted when the event-time timeout fires after `idleGapSeconds` of
    * user inactivity (watermark-driven); a user active again later
    * starts a fresh funnel epoch. */
  def funnelProgress(events: Dataset[Event], idleGapSeconds: Long = 3600,
      watermark: String = "30 minutes"): Dataset[FunnelRow] = {
    val spark = events.sparkSession
    import spark.implicits._

    val stageRank = Map("view" -> 0, "click" -> 1, "purchase" -> 2)

    def update(userId: Long, rows: Iterator[Event],
        state: GroupState[FunnelState]): Iterator[FunnelRow] = {
      if (state.hasTimedOut) {
        // the batch twin anchors on the first view: viewless users emit no row
        val out = state.getOption.filter(_.v.isDefined)
          .map(s => FunnelRow(userId, s.v, s.c, s.p)).iterator
        state.remove()
        out
      } else {
        var s = state.getOption.getOrElse(FunnelState(None, None, None, 0L))
        val ordered = rows.toSeq
          .filter(e => stageRank.contains(e.event_type))
          .sortBy(e => (e.ts.getTime, stageRank(e.event_type), e.event_id))
        for (e <- ordered) {
          val t = e.ts.getTime / 1000L
          e.event_type match {
            case "view" if s.v.forall(t < _) =>
              s = s.copy(v = Some(t))
            case "click" if s.v.exists(_ <= t) && s.c.forall(t < _) =>
              s = s.copy(c = Some(t))
            case "purchase" if s.c.exists(_ <= t) && s.p.forall(t < _) =>
              s = s.copy(p = Some(t))
            case _ => ()
          }
          s = s.copy(last = math.max(s.last, e.ts.getTime))
        }
        if (s.v.isDefined || s.last > 0) {
          state.update(s)
          state.setTimeoutTimestamp(s.last + idleGapSeconds * 1000L)
        }
        Iterator.empty
      }
    }

    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout)(update)
  }
}
