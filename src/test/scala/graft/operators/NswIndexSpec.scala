package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The persisted NSW graph index's contract (rounds 8–9):
  * (1) the stored edge table is bit-identical to the in-query ranked-edge
  * build the oracles pin, so serving from disk cannot drift from the
  * oracle-checked semantics; (2) appendToNswIndex is O(increment) — it
  * writes ONE delta partition and NEVER touches a base edge file (pinned
  * at file level), yet the merge-on-read view equals the one-shot graph
  * over the grown index; (3) the view stays exact under delta SPRAWL
  * (several appends), pays exactly one re-rank window, and foldNswDeltas
  * collapses it back to a pre-ranked base without changing answers;
  * (4) appends are replay-convergent per tag, and reusing a tag for a
  * DIFFERENT increment is refused; (5) entries are maintained
  * incrementally yet equal the global minimum; (6) tombstone/compact
  * round-trip under both quantizer policies; (7) the per-label artifact
  * partition-prunes a single-label probe; (8) a crash in stagedWrite's
  * delete→rename window self-heals on the next read. */
class NswIndexSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def tmpIdx(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString + "/idx"

  /** The SERVING view (merge-on-read), normalized for comparison. */
  private def edgeRows(idx: String, maxRnk: Int = Int.MaxValue) =
    Similarity.storedNswEdgesMerged(spark, idx).filter(col("rnk") <= maxRnk)
      .select(col("src"), col("dst"), col("rnk").cast("int"), col("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .toList.sorted

  /** (name, length, mtime) of every data file under the BASE edge dir. */
  private def baseEdgeFiles(idx: String): List[(String, Long, Long)] =
    new java.io.File(s"$idx/edges").listFiles().toList
      .filter(f => f.isFile && !f.getName.startsWith("."))
      .map(f => (f.getName, f.length(), f.lastModified())).sorted

  test("stored edges equal the in-query ranked-edge build (build/serve law)") {
    val base = Similarity.qvec(spark, dir).localCheckpoint()
    val idx = tmpIdx("nsw-build")
    try {
      Similarity.buildNswIndex(spark, base, idx)
      val inQuery = Similarity.knnRankedEdges(spark, dir, base)
        .select(col("src"), col("dst"), col("rnk").cast("int"), col("cos"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
        .toList.sorted
      assert(edgeRows(idx) == inQuery,
        "stored edges drifted from the oracle-pinned in-query build")
      // entry points: the stored table IS the lowest-ids rule
      val stored = spark.read.parquet(s"$idx/entries")
        .collect().map(_.getLong(0)).toList.sorted
      val expected = base.select(col("vec_id")).orderBy(col("vec_id").asc)
        .limit(stored.size).collect().map(_.getLong(0)).toList.sorted
      assert(stored == expected)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(idx).getParentFile)
  }

  test("append is O(increment): one delta partition, base edge files untouched, " +
      "merged view equals the one-shot grown-index graph") {
    val base = Similarity.qvec(spark, dir).localCheckpoint()
    val standing = base.filter(col("vec_id") % 10 =!= 3)
    val inc = base.filter(col("vec_id") % 10 === 3)
    val idx = tmpIdx("nsw-append")
    try {
      Similarity.buildNswIndex(spark, standing, idx)
      val before = baseEdgeFiles(idx)
      Similarity.appendToNswIndex(spark, idx, inc, "b1")
      // THE file-level pin (round-9 directive #1): the roll-forward wrote a
      // delta partition and did not rewrite, resize or touch the base
      assert(baseEdgeFiles(idx) == before,
        "append must not touch base edge files (O(increment) contract)")
      assert(new java.io.File(s"$idx/edges_delta/tag=b1").isDirectory,
        "append must land as edges_delta/tag=<tag>")
      // ground truth at the analysis degree: probe the GROWN stored IVF
      // (standing-trained centroids, full lists) with every vector — the
      // same frozen-quantizer one-shot the ss38 oracle computes
      val oneShot = Similarity.oneShotGraph(spark, base, s"$idx/ivf")
        .select(col("src"), col("dst"), col("rnk").cast("int"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .toList.sorted
      val rolled = edgeRows(idx, maxRnk = 3).map(t => (t._1, t._2, t._3))
      assert(rolled == oneShot,
        "merge-on-read view drifted from the one-shot grown-index graph")
      // incremental entry maintenance equals the global minimum
      val stored = spark.read.parquet(s"$idx/entries")
        .collect().map(_.getLong(0)).toList.sorted
      val globalMin = base.select(col("vec_id")).orderBy(col("vec_id").asc)
        .limit(stored.size).collect().map(_.getLong(0)).toList.sorted
      assert(stored == globalMin)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(idx).getParentFile)
  }

  test("an EMPTY append is a no-op past the fingerprint: no delta partition, " +
      "serve stays window-free, the tag still refuses a nonempty reuse") {
    val base = Similarity.qvec(spark, dir).localCheckpoint()
    val standing = base.filter(col("vec_id") % 10 =!= 3)
    val idx = tmpIdx("nsw-empty")
    try {
      Similarity.buildNswIndex(spark, standing, idx)
      val before = baseEdgeFiles(idx)
      val rowsBefore = edgeRows(idx)
      val empty = base.filter(col("vec_id") < 0)
      Similarity.appendToNswIndex(spark, idx, empty, "e1")
      // an idle micro-batch must not flip serves onto the merge path
      // (round-9 advice: the empty tag= partition cost one extra window +
      // broadcast per serve until a fold, for zero new edges)
      assert(!new java.io.File(s"$idx/edges_delta").exists(),
        "empty append must not write a delta partition")
      assert(baseEdgeFiles(idx) == before && edgeRows(idx) == rowsBefore)
      val plan = Similarity.storedNswEdgesMerged(spark, idx)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Window"),
        "a serve after an empty append must stay window-free")
      // the fingerprint IS recorded: an empty replay converges, a
      // DIFFERENT (nonempty) increment under the same tag is refused
      Similarity.appendToNswIndex(spark, idx, empty, "e1")
      assert(!new java.io.File(s"$idx/edges_delta").exists())
      val ex = intercept[IllegalStateException] {
        Similarity.appendToNswIndex(spark, idx,
          base.filter(col("vec_id") % 10 === 3), "e1")
      }
      assert(ex.getMessage.contains("DIFFERENT increment"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(idx).getParentFile)
  }

  test("delta sprawl: 3 appends stay exact, serve pays ONE re-rank window, " +
      "fold collapses to a pre-ranked base with answers unchanged") {
    val base = Similarity.qvec(spark, dir).localCheckpoint()
    val standing = base.filter(col("vec_id") % 10 < 5)
    val idx = tmpIdx("nsw-sprawl")
    try {
      Similarity.buildNswIndex(spark, standing, idx)
      for (r <- 5 to 7)
        Similarity.appendToNswIndex(spark, idx,
          base.filter(col("vec_id") % 10 === r), s"b$r")
      val grown = base.filter(col("vec_id") % 10 <= 7)
      // exactness under sprawl: merged(base + 3 deltas) == one-shot graph
      val oneShot = Similarity.oneShotGraph(spark, grown, s"$idx/ivf")
        .select(col("src"), col("dst"), col("rnk").cast("int"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .toList.sorted
      val mergedRows = edgeRows(idx)
      assert(mergedRows.filter(_._3 <= 3).map(t => (t._1, t._2, t._3)) == oneShot)
      // plan pin (round-9 directive #5): the warm serve re-ranks ONLY the
      // delta-touched slice — exactly one Window; the untouched base branch
      // streams through rank-filtered with no window and no sort of base
      val merged = Similarity.storedNswEdgesMerged(spark, idx)
      val plan = merged.queryExecution.executedPlan.toString
      // \bWindow\b deliberately excludes WindowGroupLimit (a pre-filter,
      // not a second sort-shuffle)
      assert("\\bWindow\\b".r.findAllIn(plan).size == 1,
        s"merge-on-read must pay exactly one re-rank window:\n$plan")
      // and it reads the base dir + exactly the 3 delta partitions
      val deltaFiles = spark.read.parquet(s"$idx/edges_delta")
        .select(input_file_name()).distinct().collect().map(_.getString(0))
      assert(Set("tag=b5", "tag=b6", "tag=b7").forall(t =>
        deltaFiles.exists(_.contains(t))) &&
        deltaFiles.forall(_.contains("tag=b")))
      // fold: answers unchanged, deltas gone, base now pre-ranked
      Similarity.foldNswDeltas(spark, idx)
      assert(!new java.io.File(s"$idx/edges_delta").exists(),
        "fold must drop the delta partitions")
      assert(edgeRows(idx) == mergedRows,
        "folding deltas must not change the served edges")
      val foldedPlan = Similarity.storedNswEdgesMerged(spark, idx)
        .queryExecution.executedPlan.toString
      assert(!foldedPlan.contains("Window"),
        "a folded index must serve rank-filtered scans with no window")
      // sidecar hygiene: probes compaction folds the 3 appends' per-tag
      // small files into one file per cent partition, rows unchanged
      val probeRows = spark.read.parquet(s"$idx/probes").count()
      Similarity.compactNswProbes(spark, idx)
      assert(spark.read.parquet(s"$idx/probes").count() == probeRows)
      val parts = new java.io.File(s"$idx/probes").listFiles()
        .count(f => f.isDirectory && f.getName.startsWith("cent_id="))
      val probeFiles = spark.read.parquet(s"$idx/probes")
        .select(input_file_name()).distinct().count()
      assert(probeFiles == parts,
        s"one file per compacted probe partition: $probeFiles vs $parts")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(idx).getParentFile)
  }

  test("tombstone + compact: dead nodes gone from edges/entries, tombstones reset " +
      "— under BOTH quantizer policies; frozen reuses the source centroids") {
    val base = Similarity.qvec(spark, dir).localCheckpoint()
    val idx = tmpIdx("nsw-tomb")
    val idxC = tmpIdx("nsw-compact")
    val idxF = tmpIdx("nsw-frozen")
    try {
      Similarity.buildNswIndex(spark, base, idx)
      val dead = base.filter(col("vec_id") % 9 === 0).select(col("vec_id"))
      Similarity.tombstoneNswIndex(spark, idx, dead)
      Similarity.tombstoneNswIndex(spark, idx, dead) // idempotent
      val nDead = dead.count()
      assert(Similarity.storedNswTombstones(spark, idx).count() == nDead)
      // the standing graph keeps routing through dead nodes (edges untouched)
      assert(spark.read.parquet(s"$idx/edges")
        .filter(col("src") % 9 === 0).count() > 0)
      for ((dst, retrain) <- Seq((idxC, true), (idxF, false))) {
        Similarity.compactNswIndex(spark, base, idx, dst, retrain)
        val ce = spark.read.parquet(s"$dst/edges")
        assert(ce.filter(col("src") % 9 === 0 || col("dst") % 9 === 0).count() == 0,
          s"compacted edges (retrain=$retrain) must not touch dead nodes")
        assert(spark.read.parquet(s"$dst/entries")
          .filter(col("vec_id") % 9 === 0).count() == 0)
        assert(Similarity.storedNswTombstones(spark, dst).count() == 0,
          "a compacted artifact starts with a clean tombstone set")
      }
      // frozen: centroids are the SOURCE index's, byte-for-byte
      def cents(d: String) = spark.read.parquet(s"$d/ivf/centroids")
        .select(col("cent_id")).collect().map(_.getLong(0)).toList.sorted
      assert(cents(idxF) == cents(idx),
        "retrain=false must reuse the source quantizer")
    } finally for (d <- Seq(idx, idxC, idxF))
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(d).getParentFile)
  }

  test("append is replay-convergent per tag (streaming at-least-once contract), " +
      "and a tag REUSED for a different increment is refused") {
    val base = Similarity.qvec(spark, dir).localCheckpoint()
    val standing = base.filter(col("vec_id") % 10 =!= 3)
    val inc = base.filter(col("vec_id") % 10 === 3)
    val idxA = tmpIdx("nsw-replay")
    val idxB = tmpIdx("nsw-once")
    try {
      Similarity.buildNswIndex(spark, standing, idxA)
      Similarity.buildNswIndex(spark, standing, idxB)
      // simulate at-least-once delivery: the SAME logical batch (same tag)
      // lands twice on A — a crash after the full append but before the
      // streaming sink's commit marker, then redelivery — and once on B
      Similarity.appendToNswIndex(spark, idxA, inc, "b3")
      Similarity.appendToNswIndex(spark, idxA, inc, "b3")
      Similarity.appendToNswIndex(spark, idxB, inc, "b3")
      def lists(i: String) = spark.read.parquet(s"$i/ivf/lists")
        .select(col("vec_id")).collect().map(_.getLong(0)).toList.sorted
      assert(lists(idxA) == lists(idxB),
        "replayed list append must converge to one copy per row")
      assert(edgeRows(idxA) == edgeRows(idxB),
        "replayed edge delta must converge to the single-append view")
      val entA = spark.read.parquet(s"$idxA/entries")
        .collect().map(_.getLong(0)).toList.sorted
      val entB = spark.read.parquet(s"$idxB/entries")
        .collect().map(_.getLong(0)).toList.sorted
      assert(entA == entB)
      // the round-8 corruption trap, now refused loudly: the same tag with
      // a DIFFERENT increment would retire b3's list files as "leftovers"
      val ex = intercept[IllegalStateException] {
        Similarity.appendToNswIndex(spark, idxA,
          base.filter(col("vec_id") % 10 === 4), "b3")
      }
      assert(ex.getMessage.contains("DIFFERENT increment"))
      // the marker-gated streaming body: a committed batchId is a no-op
      // even with different data (the marker, not the content, gates)
      graft.streaming.EventStream.ingestGraphBatch(
        graft.Tables(spark, dir, "embeddings")
          .filter(col("vec_id") % 10 === 3)
          .select(col("vec_id"), col("label"), col("embedding")), idxA, 7L)
      val before = edgeRows(idxA)
      graft.streaming.EventStream.ingestGraphBatch(
        graft.Tables(spark, dir, "embeddings")
          .filter(col("vec_id") % 10 === 3)
          .select(col("vec_id"), col("label"), col("embedding")), idxA, 7L)
      assert(edgeRows(idxA) == before,
        "a committed batchId must be a no-op on replay")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(idxA).getParentFile)
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(idxB).getParentFile)
    }
  }

  test("graphIngestStream: each micro-batch lands as ONE delta partition, " +
      "touches NO base edge file, and the merged view equals the one-shot graph") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val emb = graft.Tables(spark, dir, "embeddings")
    val base = Similarity.qvec(spark, dir).localCheckpoint()
    val standing = base.filter(col("vec_id") % 10 =!= 3)
    val incRaw = emb.filter(col("vec_id") % 10 === 3)
      .select(col("vec_id"), col("label"), col("embedding"))
      .as[(Long, String, Array[Float])].collect()
    val idx = tmpIdx("nsw-stream")
    try {
      Similarity.buildNswIndex(spark, standing, idx)
      val before = baseEdgeFiles(idx)
      val input = MemoryStream[(Long, String, Array[Float])]
      val q = graft.streaming.EventStream.graphIngestStream(
        input.toDF().toDF("vec_id", "label", "embedding"), idx)
      incRaw.grouped(math.max(1, incRaw.length / 2 + 1)).foreach { chunk =>
        input.addData(chunk.toSeq); q.processAllAvailable()
      }
      q.stop()
      // THE streaming O(increment) pin (round-9 directive #1): live
      // micro-batches never rewrite, resize or touch the base artifact
      assert(baseEdgeFiles(idx) == before,
        "a streaming micro-batch append must not touch base edge files")
      val tags = new java.io.File(s"$idx/edges_delta").listFiles()
        .map(_.getName).filter(_.startsWith("tag=b")).sorted
      assert(tags.length == 2, s"one delta per micro-batch: ${tags.mkString(",")}")
      // and the rolled-forward serve is exact over the grown corpus
      val oneShot = Similarity.oneShotGraph(spark, base, s"$idx/ivf")
        .select(col("src"), col("dst"), col("rnk").cast("int"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .toList.sorted
      assert(edgeRows(idx, maxRnk = 3).map(t => (t._1, t._2, t._3)) == oneShot)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(idx).getParentFile)
  }

  test("graphIngestStream autoMaintain: the policy folds mid-stream, the final " +
      "index serves the one-shot answer window-free with no deltas left") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val emb = graft.Tables(spark, dir, "embeddings")
    val base = Similarity.qvec(spark, dir).localCheckpoint()
    val standing = base.filter(col("vec_id") % 10 =!= 3)
    val incRaw = emb.filter(col("vec_id") % 10 === 3)
      .select(col("vec_id"), col("label"), col("embedding"))
      .as[(Long, String, Array[Float])].collect()
    val idx = tmpIdx("nsw-automaint")
    // force the fold dial low enough that every micro-batch is past it —
    // the unattended-deployment path where no human ever runs the fold
    spark.conf.set("spark.graft.nsw.foldAppendPct", "1")
    try {
      Similarity.buildNswIndex(spark, standing, idx)
      val input = MemoryStream[(Long, String, Array[Float])]
      val q = graft.streaming.EventStream.graphIngestStream(
        input.toDF().toDF("vec_id", "label", "embedding"), idx,
        autoMaintain = true)
      incRaw.grouped(math.max(1, incRaw.length / 2 + 1)).foreach { chunk =>
        input.addData(chunk.toSeq); q.processAllAvailable()
      }
      q.stop()
      assert(!new java.io.File(s"$idx/edges_delta").exists(),
        "autoMaintain must fold each past-threshold micro-batch's delta")
      val plan = Similarity.maintainNswIndex(spark, idx)
      assert(plan("delta_tags") == 0L && plan("appended_unfolded_vecs") == 0L
        && plan("folded") == 0L)
      // the folded serve is window-free AND exact over the grown corpus
      val merged = Similarity.storedNswEdgesMerged(spark, idx)
      assert(!merged.queryExecution.executedPlan.toString.contains("Window"))
      val oneShot = Similarity.oneShotGraph(spark, base, s"$idx/ivf")
        .select(col("src"), col("dst"), col("rnk").cast("int"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .toList.sorted
      assert(edgeRows(idx, maxRnk = 3).map(t => (t._1, t._2, t._3)) == oneShot)
    } finally {
      spark.conf.unset("spark.graft.nsw.foldAppendPct")
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(idx).getParentFile)
    }
  }

  test("beamServeStream: micro-batched external queries equal the one-shot batch " +
      "serve, and a replayed batch converges to one copy") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val emb = graft.Tables(spark, dir, "embeddings")
    val base = Similarity.qvec(spark, dir).localCheckpoint()
    val idx = tmpIdx("nsw-serve")
    val out = java.nio.file.Files.createTempDirectory("nsw-serve-out").toString
    try {
      Similarity.buildNswIndex(spark, base, idx)
      val extRaw = emb.filter(col("vec_id") % 100 === 50)
        .select((col("vec_id") + lit(10000000L)).as("q_id"), col("embedding"))
        .as[(Long, Array[Float])].collect()
      val input = MemoryStream[(Long, Array[Float])]
      val q = graft.streaming.EventStream.beamServeStream(
        input.toDF().toDF("q_id", "embedding"), idx, out)
      extRaw.grouped(math.max(1, extRaw.length / 2 + 1)).foreach { chunk =>
        input.addData(chunk.toSeq); q.processAllAvailable()
      }
      q.stop()
      def served = spark.read.parquet(out)
        .select(col("q_id"), col("c_id"), col("rnk"), col("cos"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
        .toList.sorted
      // lockstep law: the stream's union of batches == the batch serve
      val oneShot = Similarity.beamServeExternal(spark, idx,
          base.filter(col("vec_id") % 100 === 50)
            .select((col("vec_id") + lit(10000000L)).as("q_id"),
              col("v").as("v1"), col("nrm").as("n1")))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
        .toList.sorted
      val first = served
      assert(first == oneShot,
        "streamed serve must equal the one-shot batch serve")
      // at-least-once replay: the marker gates batchId 0, so a re-drive —
      // even with different content — must not touch the written results
      graft.streaming.EventStream.serveGraphBatch(
        emb.filter(col("vec_id") % 100 === 50).limit(0)
          .select(col("vec_id").as("q_id"), col("embedding")), idx, out, 0)
      assert(served == first, "a marker-gated replay must be a no-op")
      // and with the marker gone, the deterministic per-batch dir
      // overwrites to identical content (the crash-before-marker path)
      new java.io.File(s"$out/_serve_commits/1").delete()
      val replay = emb
        .filter(col("vec_id") % 100 === 50 &&
          (col("vec_id") + 10000000L).isin(
            extRaw.drop(extRaw.length / 2 + 1).map(_._1).toSeq: _*))
        .select((col("vec_id") + 10000000L).as("q_id"), col("embedding"))
      graft.streaming.EventStream.serveGraphBatch(replay, idx, out, 1)
      assert(served == first, "a replay of a crashed batch must converge")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(idx).getParentFile)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    }
  }

  test("maintenance policy: below-threshold appends are a no-op, past-threshold " +
      "appends fold (answers unchanged, deltas gone, sidecars compacted)") {
    val base = Similarity.qvec(spark, dir).localCheckpoint()
    val standing = base.filter(col("vec_id") % 10 =!= 3)
    val idx = tmpIdx("nsw-maint")
    try {
      Similarity.buildNswIndex(spark, standing, idx)
      // a 0.5%-of-corpus append: under the 5% fold dial → maintain must
      // NOT fold (folding per tiny micro-batch would rewrite the base
      // artifact per batch — exactly the O(index) cost the LSM layout
      // removed)
      Similarity.appendToNswIndex(spark, idx,
        base.filter(col("vec_id") % 200 === 3), "small")
      val plan1 = Similarity.maintainNswIndex(spark, idx)
      assert(plan1("fold_due") == 0L && plan1("folded") == 0L)
      assert(new java.io.File(s"$idx/edges_delta/tag=small").isDirectory,
        "a below-threshold maintain must leave the delta in place")
      // grow past 5% unfolded → the same verb folds
      Similarity.appendToNswIndex(spark, idx,
        base.filter(col("vec_id") % 10 === 3 && col("vec_id") % 200 =!= 3),
        "big")
      val beforeRows = edgeRows(idx)
      val plan2 = Similarity.maintainNswIndex(spark, idx)
      assert(plan2("fold_due") == 1L && plan2("folded") == 1L)
      assert(plan2("delta_tags") == 2L &&
        plan2("appended_unfolded_vecs") ==
          base.filter(col("vec_id") % 10 === 3).count())
      assert(!new java.io.File(s"$idx/edges_delta").exists(),
        "a due maintain must fold the deltas")
      assert(edgeRows(idx) == beforeRows,
        "maintenance must not change the served edges")
      // sidecar hygiene rode along: one file per probe/list partition
      for (t <- Seq("probes", "ivf/lists")) {
        val parts = new java.io.File(s"$idx/$t").listFiles()
          .count(f => f.isDirectory && f.getName.startsWith("cent_id="))
        val files = spark.read.parquet(s"$idx/$t")
          .select(input_file_name()).distinct().count()
        assert(files == parts, s"$t: $files files over $parts partitions")
      }
      // the tag-count dial: two sub-threshold appends + foldMaxTags=2
      // trigger a fold on COUNT alone (bounds per-serve file listings)
      spark.conf.set("spark.graft.nsw.foldMaxTags", "2")
      try {
        Similarity.appendToNswIndex(spark, idx,
          base.filter(col("vec_id") % 400 === 7), "t1")
        Similarity.appendToNswIndex(spark, idx,
          base.filter(col("vec_id") % 400 === 9), "t2")
        val plan3 = Similarity.maintainNswIndex(spark, idx)
        assert(plan3("fold_due") == 1L && plan3("delta_tags") == 2L)
        assert(!new java.io.File(s"$idx/edges_delta").exists())
      } finally spark.conf.unset("spark.graft.nsw.foldMaxTags")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(idx).getParentFile)
  }

  test("rotateNswIndex: filter-only compaction from the artifact alone equals " +
      "the frozen-quantizer compact table-for-table; maintain executes it when due") {
    val base = Similarity.qvec(spark, dir).localCheckpoint()
    val standing = base.filter(col("vec_id") % 10 =!= 3)
    val idx = tmpIdx("nsw-rotate")
    try {
      Similarity.buildNswIndex(spark, standing, idx)
      Similarity.appendToNswIndex(spark, idx,
        base.filter(col("vec_id") % 10 === 3), "b1")
      Similarity.tombstoneNswIndex(spark, idx,
        base.filter(col("vec_id") % 9 === 0).select(col("vec_id")))
      val rotDst = s"$idx-rot"; val cmpDst = s"$idx-cmp"
      Similarity.rotateNswIndex(spark, idx, rotDst)
      Similarity.compactNswIndex(spark, base, idx, cmpDst, retrain = false)
      // table-for-table equality with the scoring-pass variant
      def pairs(d: String, t: String) = spark.read.parquet(s"$d/$t")
        .select(col("vec_id"), col("cent_id").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toList.sorted
      assert(pairs(rotDst, "ivf/lists") == pairs(cmpDst, "ivf/lists"))
      assert(pairs(rotDst, "probes") == pairs(cmpDst, "probes"))
      def edges(d: String) = spark.read.parquet(s"$d/edges")
        .select(col("src"), col("dst"), col("rnk").cast("int"), col("cos"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
        .toList.sorted
      assert(edges(rotDst) == edges(cmpDst))
      def entries(d: String) = spark.read.parquet(s"$d/entries")
        .collect().map(_.getLong(0)).toList.sorted
      assert(entries(rotDst) == entries(cmpDst))
      // a rotated index is a clean base: no deltas, no tombstones, and the
      // serve is a pre-ranked window-free scan
      assert(!new java.io.File(s"$rotDst/edges_delta").exists() &&
        Similarity.storedNswTombstones(spark, rotDst).count() == 0)
      assert(!Similarity.storedNswEdgesMerged(spark, rotDst)
        .queryExecution.executedPlan.toString.contains("Window"))
      // maintain executes the rotate when compact_due fires (the %9
      // tombstones are ~11%, so lower the dial under them)
      spark.conf.set("spark.graft.nsw.compactTombstonePct", "10")
      try {
        val plan = Similarity.maintainNswIndex(spark, idx,
          rotateTo = Some(s"$idx-rot2"))
        assert(plan("compact_due") == 1L && plan("rotated") == 1L)
        assert(edges(s"$idx-rot2") == edges(rotDst))
      } finally spark.conf.unset("spark.graft.nsw.compactTombstonePct")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(idx).getParentFile)
  }

  test("eraseFromNswIndex: in-place physical erasure equals the blue/green rotate " +
      "table-for-table, and NO stored table retains an erased vec_id") {
    val base = Similarity.qvec(spark, dir).localCheckpoint()
    val standing = base.filter(col("vec_id") % 10 =!= 3)
    val idx = tmpIdx("nsw-erase")
    try {
      Similarity.buildNswIndex(spark, standing, idx)
      // live artifact shape: an unfolded delta tag AND recorded tombstones
      Similarity.appendToNswIndex(spark, idx,
        base.filter(col("vec_id") % 10 === 3), "b1")
      val gone = base.filter(col("vec_id") % 9 === 0).select(col("vec_id"))
        .localCheckpoint()
      Similarity.tombstoneNswIndex(spark, idx, gone)
      // golden: the blue/green rotation of the same artifact (reads the
      // source untouched, so it can run before the in-place erase)
      val rotDst = s"$idx-rot"
      Similarity.rotateNswIndex(spark, idx, rotDst)
      val eDir = s"$idx-er"
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(idx), new java.io.File(eDir))
      Similarity.eraseFromNswIndex(spark, eDir, gone)
      // table-for-table equality with the rotate (= frozen-quantizer
      // compaction, by the rotate test's own equality)
      def pairs(d: String, t: String) = spark.read.parquet(s"$d/$t")
        .select(col("vec_id"), col("cent_id").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toList.sorted
      assert(pairs(eDir, "ivf/lists") == pairs(rotDst, "ivf/lists"))
      assert(pairs(eDir, "probes") == pairs(rotDst, "probes"))
      def edges(d: String) = spark.read.parquet(s"$d/edges")
        .select(col("src"), col("dst"), col("rnk").cast("int"), col("cos"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
        .toList.sorted
      assert(edges(eDir) == edges(rotDst))
      def entries(d: String) = spark.read.parquet(s"$d/entries")
        .collect().map(_.getLong(0)).toList.sorted
      assert(entries(eDir) == entries(rotDst))
      // the GDPR pin: no stored table retains an erased vec_id — lists,
      // probes (which CARRY the vector nprobe×), edges (either side),
      // entries, tombstones, deltas (dir dropped entirely)
      val goneIds = gone.collect().map(_.getLong(0)).toSet
      def ids(t: String, c: String) = spark.read.parquet(s"$eDir/$t")
        .select(col(c)).collect().map(_.getLong(0)).toSet
      assert(ids("ivf/lists", "vec_id").intersect(goneIds).isEmpty)
      assert(ids("probes", "vec_id").intersect(goneIds).isEmpty)
      assert((ids("edges", "src") ++ ids("edges", "dst"))
        .intersect(goneIds).isEmpty)
      assert(ids("entries", "vec_id").intersect(goneIds).isEmpty)
      assert(Similarity.storedNswTombstones(spark, eDir).count() == 0,
        "fully-erased ids need no screening — the tombstone set empties")
      assert(!new java.io.File(s"$eDir/tombstones").exists(),
        "an emptied tombstone set is deleted — serves drop the screen")
      assert(!new java.io.File(s"$eDir/edges_delta").exists(),
        "the re-derived edges subsume the deltas")
      // serve sanity: a clean pre-ranked base, window-free
      assert(!Similarity.storedNswEdgesMerged(spark, eDir)
        .queryExecution.executedPlan.toString.contains("Window"))
      // spent identities survive the erase: a DIFFERENT increment reusing
      // the folded tag is still refused
      intercept[IllegalStateException] {
        Similarity.appendToNswIndex(spark, eDir,
          base.filter(col("vec_id") % 10 === 5), "b1")
      }
      // tombstones NOT named by the erase keep screening: re-copy, add an
      // extra tombstone, erase only the %9 set — the extra survives
      val eDir2 = s"$idx-er2"
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(idx), new java.io.File(eDir2))
      val extraId = standing.filter(col("vec_id") % 9 =!= 0)
        .agg(org.apache.spark.sql.functions.max(col("vec_id")))
        .collect()(0).getLong(0)
      import spark.implicits._
      Similarity.tombstoneNswIndex(spark, eDir2, Seq(extraId).toDF("vec_id"))
      Similarity.eraseFromNswIndex(spark, eDir2, gone)
      val left = Similarity.storedNswTombstones(spark, eDir2)
        .collect().map(_.getLong(0)).toSet
      assert(left == Set(extraId), left.toString)
      // erase refuses an overlay: in-place rewrites through a _base
      // pointer would mutate the shared artifact
      val ov = s"$idx-ov"
      Similarity.overlayNswIndex(spark, idx, ov)
      intercept[IllegalArgumentException] {
        Similarity.eraseFromNswIndex(spark, ov, gone)
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(idx).getParentFile)
  }

  test("maintainNswIndex autoErase: past the dial the tombstoned ids are physically " +
      "purged in place; off by default; the purged index settles all-quiet") {
    val base = Similarity.qvec(spark, dir).localCheckpoint()
    val idx = tmpIdx("nsw-autoerase")
    try {
      Similarity.buildNswIndex(spark, base, idx)
      val gone = base.filter(col("vec_id") % 9 === 0).select(col("vec_id"))
        .localCheckpoint()
      Similarity.tombstoneNswIndex(spark, idx, gone)
      // default (autoErase = false): tombstones keep routing — no erase
      val off = Similarity.maintainNswIndex(spark, idx)
      assert(off("erased") == 0 &&
        Similarity.storedNswTombstones(spark, idx).count() == gone.count(),
        off.toString)
      // armed, with the %9 set (~11%) past the 10% default dial: the
      // physical pass runs under the lease, tombstones clear, no table
      // retains a purged id
      val on = Similarity.maintainNswIndex(spark, idx, autoErase = true)
      assert(on("erased") == 1 && on("yielded") == 0, on.toString)
      assert(Similarity.storedNswTombstones(spark, idx).count() == 0)
      val goneIds = gone.collect().map(_.getLong(0)).toSet
      def ids(t: String, c: String) = spark.read.parquet(s"$idx/$t")
        .select(col(c)).collect().map(_.getLong(0)).toSet
      assert(ids("ivf/lists", "vec_id").intersect(goneIds).isEmpty)
      assert(ids("probes", "vec_id").intersect(goneIds).isEmpty)
      assert((ids("edges", "src") ++ ids("edges", "dst"))
        .intersect(goneIds).isEmpty)
      // settled: nothing pending, a second armed maintain is a no-op
      val again = Similarity.maintainNswIndex(spark, idx, autoErase = true)
      assert(again("erased") == 0 && again("tombstoned_vecs") == 0,
        again.toString)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(idx).getParentFile)
  }

  test("a tombstone OVERLAY keeps the shared artifact immutable: edges and " +
      "entries resolve to the base, deletes stay private") {
    val base = Similarity.qvec(spark, dir).localCheckpoint()
    val idx = tmpIdx("nsw-ovbase")
    val ov = tmpIdx("nsw-overlay")
    try {
      Similarity.buildNswIndex(spark, base, idx)
      Similarity.overlayNswIndex(spark, idx, ov)
      // reads resolve through the pointer — identical served view
      assert(edgeRows(ov) == edgeRows(idx))
      assert(Similarity.storedNswEntries(spark, ov)
        .collect().map(_.getLong(0)).toList.sorted ==
        Similarity.storedNswEntries(spark, idx)
          .collect().map(_.getLong(0)).toList.sorted)
      // deletes land in the overlay only; the base stays tombstone-free
      val dead = base.filter(col("vec_id") % 9 === 0).select(col("vec_id"))
      Similarity.tombstoneNswIndex(spark, ov, dead)
      assert(Similarity.storedNswTombstones(spark, ov).count() == dead.count())
      assert(Similarity.storedNswTombstones(spark, idx).count() == 0,
        "the shared base must never see an overlay's deletes")
      assert(!new java.io.File(s"$idx/tombstones").exists())
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(idx).getParentFile)
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(ov).getParentFile)
    }
  }

  test("a crash between stagedWrite's delete and rename self-heals on read " +
      "(complete .stage_ dir auto-promoted when the destination is missing)") {
    val base = Similarity.qvec(spark, dir).localCheckpoint()
    val idx = tmpIdx("nsw-heal")
    try {
      Similarity.buildNswIndex(spark, base, idx)
      val healthy = edgeRows(idx)
      // simulate the residual window: the staged copy is complete (it has
      // _SUCCESS), the destination was deleted, the rename never ran
      val e = new java.io.File(s"$idx/edges")
      assert(e.renameTo(new java.io.File(s"$idx/.stage_edges")))
      assert(edgeRows(idx) == healthy,
        "a reader must promote the completed stage dir and serve")
      assert(new java.io.File(s"$idx/edges").isDirectory)
      // an INCOMPLETE stage (no _SUCCESS) is never promoted
      val ent = new java.io.File(s"$idx/entries")
      assert(ent.renameTo(new java.io.File(s"$idx/.stage_entries")))
      assert(new java.io.File(s"$idx/.stage_entries/_SUCCESS").delete())
      intercept[Exception] {
        Similarity.storedNswEntries(spark, idx).collect()
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(idx).getParentFile)
  }

  test("a crash inside the LIST/PROBE compaction's swap window self-heals: " +
      "complete .stage_ copy promoted on the next read, answers unchanged") {
    val base = Similarity.qvec(spark, dir).localCheckpoint()
    val standing = base.filter(col("vec_id") % 10 =!= 3)
    val idx = tmpIdx("nsw-cheal")
    try {
      Similarity.buildNswIndex(spark, standing, idx)
      Similarity.appendToNswIndex(spark, idx,
        base.filter(col("vec_id") % 10 === 3), "b1")
      def rows(t: String) = spark.read.parquet(s"$idx/$t")
        .select(col("vec_id")).collect().map(_.getLong(0)).toList.sorted
      val healthyLists = rows("ivf/lists")
      val healthyProbes = rows("probes")
      // run the real compactions once so the staged copies exist, then
      // simulate the round-10 verdict's crash: the destination was
      // deleted, the promotion rename never ran — for BOTH nesting levels
      // (probes/ under the index root, lists/ under ivf/)
      Similarity.compactNswProbes(spark, idx)
      Similarity.compactIvfIndex(spark, s"$idx/ivf")
      val lists = new java.io.File(s"$idx/ivf/lists")
      val probes = new java.io.File(s"$idx/probes")
      assert(lists.renameTo(new java.io.File(s"$idx/ivf/.stage_lists")))
      assert(probes.renameTo(new java.io.File(s"$idx/.stage_probes")))
      // any reader heals: the maintenance plan (reads lists via the ivf
      // resolve), and the external serve (reads lists + probes-backed
      // edges) both promote before reading
      val plan = Similarity.nswMaintenancePlan(spark, idx)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(plan("corpus_vecs") == base.count())
      assert(new java.io.File(s"$idx/ivf/lists").isDirectory &&
        new java.io.File(s"$idx/probes").isDirectory,
        "the reader must promote both crashed compaction stages")
      assert(rows("ivf/lists") == healthyLists && rows("probes") == healthyProbes,
        "the healed tables must carry the pre-crash rows")
      // and a fresh compact over the healed table is a no-op change
      Similarity.compactIvfIndex(spark, s"$idx/ivf")
      assert(rows("ivf/lists") == healthyLists)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(idx).getParentFile)
  }

  test("tombstone writer is partitioned, not a single-task funnel: file count " +
      "scales with the set under the conf dial, served answers unchanged") {
    val base = Similarity.qvec(spark, dir).localCheckpoint()
    val idx = tmpIdx("nsw-tlayout")
    // ~1/3 of the corpus tombstoned under a 50-rows-per-file dial: the
    // write must fan out over multiple range partitions (the round-10
    // verdict's 25%-of-corpus scenario in miniature)
    spark.conf.set("spark.graft.nsw.tombstoneRowsPerFile", "50")
    try {
      Similarity.buildNswIndex(spark, base, idx)
      val dead = base.filter(col("vec_id") % 3 === 0).select(col("vec_id"))
      Similarity.tombstoneNswIndex(spark, idx, dead)
      val files = new java.io.File(s"$idx/tombstones").listFiles()
        .count(f => f.isFile && f.getName.endsWith(".parquet"))
      val expected = ((dead.count() + 49) / 50).toInt
      assert(files == expected,
        s"range-partitioned tombstones: $files files, expected $expected")
      // the IVF tier's delete verb shares the writer: same sized layout
      Similarity.tombstoneIvfIndex(spark, s"$idx/ivf", dead)
      val ivfFiles = new java.io.File(s"$idx/ivf/tombstones").listFiles()
        .count(f => f.isFile && f.getName.endsWith(".parquet"))
      assert(ivfFiles == expected,
        s"range-partitioned IVF tombstones: $ivfFiles files, expected $expected")
      assert(Similarity.storedNswTombstones(spark, idx)
        .collect().map(_.getLong(0)).toList.sorted ==
        dead.collect().map(_.getLong(0)).toList.sorted)
      // merging MORE ids re-sizes the layout and stays a set
      Similarity.tombstoneNswIndex(spark, idx,
        base.filter(col("vec_id") % 5 === 0).select(col("vec_id")))
      val union = base.filter(col("vec_id") % 3 === 0 || col("vec_id") % 5 === 0)
        .select(col("vec_id")).collect().map(_.getLong(0)).toList.sorted
      assert(Similarity.storedNswTombstones(spark, idx)
        .collect().map(_.getLong(0)).toList.sorted == union)
    } finally {
      spark.conf.unset("spark.graft.nsw.tombstoneRowsPerFile")
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(idx).getParentFile)
    }
  }

  test("fold compacts the _append_tags sidecar into one manifest: reuse of a " +
      "folded tag is still refused, a same-increment replay still converges") {
    val base = Similarity.qvec(spark, dir).localCheckpoint()
    val standing = base.filter(col("vec_id") % 10 < 6)
    val idx = tmpIdx("nsw-tags")
    def tagFiles() = new java.io.File(s"$idx/_append_tags").listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("."))
      .map(_.getName).sorted.toList
    try {
      Similarity.buildNswIndex(spark, standing, idx)
      val inc6 = base.filter(col("vec_id") % 10 === 6)
      val inc7 = base.filter(col("vec_id") % 10 === 7)
      Similarity.appendToNswIndex(spark, idx, inc6, "b6")
      Similarity.appendToNswIndex(spark, idx, inc7, "b7")
      assert(tagFiles() == List("b6", "b7"))
      Similarity.foldNswDeltas(spark, idx)
      // ONE manifest where two loose files were — the unattended stream's
      // sidecar stops growing by one file per micro-batch
      assert(tagFiles() == List("_spent_1"),
        s"fold must compact loose tag files into one manifest: ${tagFiles()}")
      // the refusal law survives the compaction
      val ex = intercept[IllegalStateException] {
        Similarity.appendToNswIndex(spark, idx,
          base.filter(col("vec_id") % 10 === 8), "b6")
      }
      assert(ex.getMessage.contains("DIFFERENT increment"))
      // a same-increment replay of the folded tag still converges
      val before = edgeRows(idx)
      Similarity.appendToNswIndex(spark, idx, inc6, "b6")
      assert(edgeRows(idx) == before,
        "a folded tag's same-increment replay must leave the view unchanged")
      // a second fold absorbs the replayed delta AND new loose tags into
      // the next generation, again one file
      Similarity.appendToNswIndex(spark, idx,
        base.filter(col("vec_id") % 10 === 8), "b8")
      Similarity.foldNswDeltas(spark, idx)
      assert(tagFiles() == List("_spent_2"))
      // the maintenance plan still counts a post-fold REPLAYED tag's
      // vectors from the manifest (no loose file exists for it)
      Similarity.appendToNswIndex(spark, idx, inc7, "b7")
      val plan = Similarity.nswMaintenancePlan(spark, idx)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(plan("appended_unfolded_vecs") == inc7.count(),
        "plan must read a folded-then-replayed tag's count from the manifest")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(idx).getParentFile)
  }

  test("beamServeExternal enforces the disjoint-id-space contract: a q_id " +
      "inside the corpus id space fails loudly instead of self-pair-dropping") {
    val base = Similarity.qvec(spark, dir).localCheckpoint()
    val idx = tmpIdx("nsw-disjoint")
    try {
      Similarity.buildNswIndex(spark, base, idx)
      val off = Similarity.externalIdOffset(base)
      val maxId = base.agg(max(col("vec_id"))).collect()(0).getLong(0)
      // the derived offset clears the corpus id space by construction
      assert(off > maxId && off % 10000000L == 0L)
      // colliding ids (raw corpus ids as q_ids) must be refused loudly —
      // the walk's self-pair filter would otherwise silently shorten the
      // results with no error (round-10 advice)
      val colliding = base.filter(col("vec_id") % 100 === 50)
        .select(col("vec_id").as("q_id"), col("v").as("v1"),
          col("nrm").as("n1"))
      val ex = intercept[IllegalArgumentException] {
        Similarity.beamServeExternal(spark, idx, colliding)
      }
      assert(ex.getMessage.contains("ABOVE the corpus id space"))
      // properly offset ids serve normally, and the manifest bound tracks
      // APPENDS: ids just past the pre-append bound collide after the
      // append grows the corpus under them
      val ok = colliding.select((col("q_id") + lit(off)).as("q_id"),
        col("v1"), col("n1"))
      assert(Similarity.beamServeExternal(spark, idx, ok).count() > 0)
      val idx2 = tmpIdx("nsw-disjoint2")
      Similarity.buildNswIndex(spark,
        base.filter(col("vec_id") % 10 =!= 3), idx2)
      Similarity.appendToNswIndex(spark, idx2,
        base.filter(col("vec_id") % 10 === 3)
          .select(col("vec_id") + lit(1000000L), col("v"), col("nrm"))
          .toDF("vec_id", "v", "nrm"), "hi")
      val justPast = colliding
        .select((col("q_id") + lit(999000L)).as("q_id"), col("v1"), col("n1"))
      val ex2 = intercept[IllegalArgumentException] {
        Similarity.beamServeExternal(spark, idx2, justPast)
      }
      assert(ex2.getMessage.contains("ABOVE the corpus id space"),
        "the manifest bound must track appended ids, not just the build")
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(idx2).getParentFile)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(idx).getParentFile)
  }

  test("retryOnMissingFiles re-plans a serve raced by a concurrent fold's swap " +
      "window, heals a crashed stage on the way, and passes other errors through") {
    val base = Similarity.qvec(spark, dir).localCheckpoint()
    val idx = tmpIdx("nsw-retry")
    try {
      Similarity.buildNswIndex(spark, base, idx)
      // a missing-file failure wrapped the way Spark surfaces it at task
      // time is retried; the second attempt sees the healed table
      var calls = 0
      val n = Artifact.retryOnMissingFiles(spark, idx) {
        calls += 1
        if (calls == 1) throw new org.apache.spark.SparkException("task failed",
          new java.io.FileNotFoundException(s"$idx/edges/part-0.parquet"))
        spark.read.parquet(s"$idx/edges").count()
      }
      assert(calls == 2 && n > 0)
      // the retry's heal is real: damage the artifact into the crash shape
      // (stage complete, destination missing) and let the first attempt
      // fail on the missing dir — the promote inside the retry fixes it
      assert(new java.io.File(s"$idx/ivf/lists")
        .renameTo(new java.io.File(s"$idx/ivf/.stage_lists")))
      var calls2 = 0
      val healed = Artifact.retryOnMissingFiles(spark, idx) {
        calls2 += 1
        // raw read, no resolveNswTable heal in the body itself
        spark.read.parquet(s"$idx/ivf/lists").count()
      }
      assert(calls2 == 2 && healed == base.count(),
        "the retry must promote the crashed stage and re-plan")
      // a non-missing-file error is NOT retried
      var calls3 = 0
      intercept[IllegalStateException] {
        Artifact.retryOnMissingFiles(spark, idx) {
          calls3 += 1
          throw new IllegalStateException("unrelated")
        }
      }
      assert(calls3 == 1)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(idx).getParentFile)
  }

  test("per-label artifact partition-prunes a single-label probe") {
    val idxL = tmpIdx("nsw-label")
    try {
      Similarity.buildPerLabelNswIndex(spark, dir, idxL)
      val edges = spark.read.parquet(s"$idxL/edges")
      // partition-type inference may read the label partition back as a
      // different type than it was written with — compare on the raw value
      val one = edges.select(col("label")).limit(1).collect()(0).get(0)
      val plan = edges.filter(col("label") === one)
        .queryExecution.executedPlan
      val scan = plan.collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.get
      assert(scan.partitionFilters.exists(_.toString.contains("label")),
        s"label predicate must prune partitions: ${scan.partitionFilters}")
      val all = edges.select(input_file_name()).distinct().count()
      val pruned = edges.filter(col("label") === one)
        .select(input_file_name()).distinct().count()
      assert(pruned < all && pruned > 0, s"pruned=$pruned all=$all")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(idxL).getParentFile)
  }

  test("crash-injection sweep: graph ingest and delta fold killed at ANY filesystem mutation recover") {
    val emb = graft.Tables(spark, dir, "embeddings")
    val base = Similarity.qvec(spark, dir).localCheckpoint()
    val standing = base.filter(col("vec_id") % 10 =!= 3)
    val incRaw = emb.filter(col("vec_id") % 10 === 3)
      .select(col("vec_id"), col("label"), col("embedding")).localCheckpoint()
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("fs.crash.impl", classOf[CrashFs].getName)
    // the swept verbs hold the writer lease (round 13), and a kill -9
    // (sticky budget exhaustion) leaves the lease file behind like a real
    // dead holder — TTL 0 lets the replay break it immediately
    spark.conf.set("spark.graft.maintenance.leaseTtlSec", "0")
    spark.conf.set("spark.graft.maintenance.leaseWaitMs", "50")
    val root = java.nio.file.Files.createTempDirectory("nsw-crash-sweep").toFile
    def tableRows(path: String, t: String, cols: String): List[String] =
      spark.read.parquet(s"$path/$t").selectExpr(s"concat_ws('|', $cols)")
        .collect().map(_.getString(0)).toList.sorted
    def snap(idx: String) = (
      edgeRows(idx), // the SERVING view — the answers contract
      tableRows(idx, "ivf/lists", "vec_id, cast(cent_id as bigint)"),
      tableRows(idx, "probes", "vec_id, cast(cent_id as bigint), crn"),
      tableRows(idx, "entries", "vec_id"))
    def budgetsOf(m: Long): Seq[Long] =
      (Seq(0L, 1L, 2L) ++ (1 to 4).map(i => m * i / 5) ++ Seq(m - 1, m))
        .distinct.filter(n => n >= 0 && n <= m)
    try {
      // ---- sweep 1: the marker-gated graph ingest (fingerprinted,
      // tag-convergent appendToNswIndex beneath) killed anywhere →
      // redelivery converges to the never-crashed artifact
      val golden = new java.io.File(root, "golden").getPath
      Similarity.buildNswIndex(spark, standing, golden)
      graft.streaming.EventStream.ingestGraphBatch(incRaw, golden, 7L)
      val goldenSnap = snap(golden)
      val tmpl = new java.io.File(root, "tmpl")
      Similarity.buildNswIndex(spark, standing, tmpl.getPath)
      def fresh(name: String): String = {
        val d = new java.io.File(root, name)
        org.apache.commons.io.FileUtils.copyDirectory(tmpl, d)
        s"crash://${d.getPath}"
      }
      CrashFs.unlimited(); CrashFs.resetObserved()
      val dry = fresh("dry")
      graft.streaming.EventStream.ingestGraphBatch(incRaw, dry, 7L)
      assert(snap(dry) == goldenSnap, "crash-scheme parity before injection")
      val m = CrashFs.observed.get()
      for (n <- budgetsOf(m)) {
        val trial = fresh(s"t$n")
        CrashFs.armed(n)
        val died =
          try { graft.streaming.EventStream.ingestGraphBatch(incRaw, trial, 7L); false }
          catch { case _: Throwable => true }
        CrashFs.unlimited()
        graft.streaming.EventStream.ingestGraphBatch(incRaw, trial, 7L)
        assert(snap(trial) == goldenSnap,
          s"budget=$n (died=$died): redelivery must converge to the golden artifact")
      }
      // ---- sweep 2: foldNswDeltas (run unattended by autoMaintain)
      // killed anywhere → the merged view still answers like the folded
      // golden before any repair, and a re-fold converges delta-free
      val goldenF = new java.io.File(root, "goldenf")
      org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(golden), goldenF)
      Similarity.foldNswDeltas(spark, goldenF.getPath)
      val goldenEdges = edgeRows(goldenF.getPath)
      def freshF(name: String): String = {
        val d = new java.io.File(root, name)
        org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(golden), d)
        s"crash://${d.getPath}"
      }
      CrashFs.unlimited(); CrashFs.resetObserved()
      val dryF = freshF("dryf")
      Similarity.foldNswDeltas(spark, dryF)
      assert(edgeRows(dryF) == goldenEdges)
      val mf = CrashFs.observed.get()
      for (n <- budgetsOf(mf)) {
        val trial = freshF(s"f$n")
        CrashFs.armed(n)
        val died =
          try { Similarity.foldNswDeltas(spark, trial); false }
          catch { case _: Throwable => true }
        CrashFs.unlimited()
        assert(edgeRows(trial) == goldenEdges,
          s"budget=$n (died=$died): the crashed state must serve the folded answers")
        Similarity.foldNswDeltas(spark, trial)
        assert(edgeRows(trial) == goldenEdges,
          s"budget=$n (died=$died): re-fold must converge")
        assert(!new java.io.File(trial.stripPrefix("crash://"), "edges_delta").exists(),
          s"budget=$n: re-fold must leave no deltas")
      }
      // ---- sweep 3: the blue/green rotation killed anywhere → the SOURCE
      // is untouched at file level and keeps serving (that is the whole
      // point of blue/green), the unfinished destination has no manifest
      // (so an unattended maintainer re-executes it), and a re-rotate
      // converges to the golden rotated artifact
      Similarity.tombstoneNswIndex(spark, goldenF.getPath,
        base.filter(col("vec_id") % 9 === 0).select(col("vec_id")))
      val goldenR = new java.io.File(root, "goldenr").getPath
      Similarity.rotateNswIndex(spark, goldenF.getPath, goldenR)
      val goldenRSnap = snap(goldenR)
      def srcFiles(): List[(String, Long)] = {
        def walk(f: java.io.File): List[java.io.File] =
          if (f.isDirectory) f.listFiles().toList.flatMap(walk) else List(f)
        walk(goldenF).filter(f => !f.getName.startsWith(".") &&
            !f.getPath.contains("graft_")) // tmp-scheme noise guard
          .map(f => (f.getPath, f.length())).sorted
      }
      val srcBefore = srcFiles()
      CrashFs.unlimited(); CrashFs.resetObserved()
      val dryR = new java.io.File(root, "dryr").getPath
      Similarity.rotateNswIndex(spark, s"crash://${goldenF.getPath}", s"crash://$dryR")
      assert(snap(dryR) == goldenRSnap, "rotate crash-scheme parity")
      val mr = CrashFs.observed.get()
      val budgetsR = (Seq(0L, 2L) ++ (1 to 3).map(i => mr * i / 4) ++ Seq(mr - 1))
        .distinct.filter(n => n >= 0 && n <= mr)
      for (n <- budgetsR) {
        val dst = new java.io.File(root, s"r$n").getPath
        CrashFs.armed(n)
        val died =
          try { Similarity.rotateNswIndex(spark, s"crash://${goldenF.getPath}", s"crash://$dst"); false }
          catch { case _: Throwable => true }
        CrashFs.unlimited()
        assert(srcFiles() == srcBefore,
          s"budget=$n (died=$died): a crashed rotate must not touch the source")
        if (died) assert(!new java.io.File(dst, "manifest.json").exists(),
          s"budget=$n: an unfinished rotation must not carry the finished marker")
        Similarity.rotateNswIndex(spark, s"crash://${goldenF.getPath}", s"crash://$dst")
        assert(snap(dst) == goldenRSnap,
          s"budget=$n (died=$died): re-rotate must converge")
      }
      // ---- sweep 4: the in-place PHYSICAL ERASE killed anywhere → every
      // table stays readable (staged rewrites leave the previous or the
      // new copy, never neither), and a re-erase converges to the golden
      // erased artifact. Erasure is answers-changing by design, so the
      // mid-crash claim is readability + convergence (the DedupStore
      // erase sweep's contract), not answers-unchanged.
      val goneIds = base.filter(col("vec_id") % 9 === 0)
        .select(col("vec_id")).localCheckpoint()
      val goldenE = new java.io.File(root, "goldene")
      org.apache.commons.io.FileUtils.copyDirectory(goldenF, goldenE)
      Similarity.eraseFromNswIndex(spark, goldenE.getPath, goneIds)
      val goldenESnap = snap(goldenE.getPath)
      def freshE(name: String): String = {
        val d = new java.io.File(root, name)
        org.apache.commons.io.FileUtils.copyDirectory(goldenF, d)
        s"crash://${d.getPath}"
      }
      CrashFs.unlimited(); CrashFs.resetObserved()
      val dryE = freshE("drye")
      Similarity.eraseFromNswIndex(spark, dryE, goneIds)
      assert(snap(dryE) == goldenESnap, "erase crash-scheme parity")
      val me = CrashFs.observed.get()
      val budgetsE = (Seq(0L, 2L) ++ (1 to 3).map(i => me * i / 4) ++ Seq(me - 1))
        .distinct.filter(n => n >= 0 && n <= me)
      for (n <- budgetsE) {
        val trial = freshE(s"e$n")
        CrashFs.armed(n)
        val died =
          try { Similarity.eraseFromNswIndex(spark, trial, goneIds); false }
          catch { case _: Throwable => true }
        CrashFs.unlimited()
        // must not throw — whatever the table mix, the artifact reads
        snap(trial)
        Similarity.eraseFromNswIndex(spark, trial, goneIds)
        assert(snap(trial) == goldenESnap,
          s"budget=$n (died=$died): re-erase must converge")
      }
    } finally {
      CrashFs.unlimited()
      hconf.unset("fs.crash.impl")
      spark.conf.unset("spark.graft.maintenance.leaseTtlSec")
      spark.conf.unset("spark.graft.maintenance.leaseWaitMs")
      org.apache.commons.io.FileUtils.deleteDirectory(root)
    }
  }
}
