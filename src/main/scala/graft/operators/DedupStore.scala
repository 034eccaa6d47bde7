package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** The persistent dedup store — the write path behind incremental dedup
  * (dd09). A production pipeline checks each day's crawl against the
  * accumulated corpus WITHOUT re-reading (let alone re-tokenizing) that
  * corpus: it maintains, on disk, exactly the three corpus-side inputs of
  * [[Dedup.incrementalFlags]] and rolls them forward with each accepted
  * increment. This is the Spark-scale form of the reference's
  * insert-conflict sink (`/root/reference/src/database.rs:99-110`): the
  * store IS the "already inserted" set, held as parquet instead of a
  * SQLite unique index.
  *
  * Layout under `dir`:
  *  - `hashes/` — (h: md5 hex of text, doc_id). Exact-dup membership;
  *    ONE ROW PER ADMITTED DOC, not per distinct text (round 11): the
  *    consumers only ever semi-join on `h` (multiplicity-invisible), and
  *    per-doc rows are what make [[erase]] an exact anti-join — a hash
  *    stays a member exactly while some surviving doc carries it, with
  *    no admission-discipline caveat. Append-only; compaction rewrites
  *    the file layout (and drops replay-duplicate rows).
  *  - `sets/`   — (doc_id, sh: array of word-trigram shingles). Feeds the
  *    exact-Jaccard verification of LSH candidates.
  *  - `bands/`  — (doc_id, k1, k2) partitioned by `band`. The LSH band
  *    keys; partitioning by band keeps each band's bucket file set
  *    self-contained, so a band-keyed join reads co-located files and a
  *    future bucket-pruned probe (one band at a time) scans 1/nBands of
  *    the store.
  *  - `bloom_hashes.bin` / `bloom_bands.bin` — megabyte-scale Bloom
  *    sidecars over `hashes` and the packed band keys, merged in place on
  *    each roll-forward. The incremental check broadcasts them and screens
  *    the new batch BEFORE either shuffle ([[Dedup.BloomPrefilter]]).
  *  - `_rf_tags/` — one fingerprint per TAGGED roll-forward (the batch
  *    identity sidecar, the NSW artifact's `_append_tags/` discipline):
  *    loose files are the increments appended since the last compaction
  *    — [[dedupMaintenancePlan]] reads its appended-row counts from them
  *    — and compaction retires them into a `_spent_<gen>` manifest whose
  *    identities keep refusing tag reuse forever.
  *
  * Scale notes: `build` makes ONE tokenize+shingle pass over the corpus
  * (the sets are checkpointed, then hashes/bands derive from them);
  * `rollForward` touches ONLY the increment — the standing corpus is
  * never read, which at 100 TB is the entire point of the store.
  */
object DedupStore {

  final case class Store(hashes: DataFrame, sets: DataFrame, bands: DataFrame,
      blooms: Option[Dedup.BloomPrefilter] = None)

  /** The roll-forward batch-identity sidecar dir name (under the store). */
  private val RfSidecar = "_rf_tags"

  /** The deferred-erasure ledger dir name (under the store) — see
    * [[requestErase]]. */
  private val ErasePending = "_erase_pending"

  /** Build (or rebuild) the store from a full corpus: one tokenize pass,
    * three parquet tables. A rebuild also clears the roll-forward identity
    * sidecar — the appended increments it fingerprinted no longer exist. */
  def build(docs: DataFrame, dir: String): Unit = {
    val s = docs.sparkSession
    // a rebuild resets the sidecars: the fingerprinted increments and the
    // pending erasure requests both referred to the replaced content
    for (sidecar <- Seq(RfSidecar, ErasePending))
      fs(s, dir).delete(new org.apache.hadoop.fs.Path(s"$dir/$sidecar"), true)
    storeBaseCountsMemo.remove(dir) // a rebuild voids the memoized base
    write(docs, dir)
  }

  /** Append an ACCEPTED increment (docs that survived dedup) to the store.
    * Reads nothing from the existing store — the increment's own
    * hashes/sets/bands are computed and appended, so the cost is
    * O(increment), independent of corpus size.
    *
    * With a `tag` (the batch identity — streaming passes b<batchId>) the
    * append is REPLAY-CONVERGENT and metadata-accounted: files land under
    * deterministic `rf-<tag>-i` names (same-tag leftovers of a crashed
    * attempt retired first), the fingerprint recorded under `_rf_tags/`
    * last — so a replayed batch is a no-op, a DIFFERENT increment reusing
    * the tag is refused loudly, and [[dedupMaintenancePlan]] can count
    * appended rows without scanning anything. Untagged stays the manual
    * one-shot path (plain parquet append, no identity).
    *
    * Both paths append under the store's MUTATION LOCK ([[Similarity
    * .withTableLock]] — round 14; the round-13 writer lease closed the
    * same hole but made every micro-batch wait out a full store rewrite):
    * a concurrent maintainer's staged table rewrite (erase/compact on
    * another thread or JVM — e.g. [[graft.streaming.EventStream
    * .eraseRequestStream]]'s autoMaintain beside the ingest stream)
    * snapshots the file listing and then delete+renames the table, so rf
    * files appended inside that window were silently swept at the swap
    * while the batch's fingerprint survived — the replay then no-oped on
    * the spent identity and the admitted rows were permanently lost. Now
    * the rewrite holds the lock only for its snapshot→swap BLINK and
    * CARRIES files appended since its snapshot across the swap
    * ([[Similarity.blinkSwap]]); the append computes and stages its
    * increment outside any lock and holds the lock only for its file
    * moves + sidecar merges — O(increment) both sides, so an ingest
    * stream beside an hours-long 100 TB erase stalls for a file-move
    * window, not the rewrite's wall. */
  def rollForward(dir: String, accepted: DataFrame,
      tag: Option[String] = None): Unit = tag match {
    case None =>
      // untagged rows carry no fingerprint the plan could derive from:
      // compute the increment outside the lock, append + merge blooms
      // inside it (the manual one-shot path)
      val s = accepted.sparkSession
      val inc = accepted.localCheckpoint()
      val sets = Dedup.shingleSets(inc).localCheckpoint()
      val hashes = inc.select(md5(col("text")).as("h"), col("doc_id"))
        .localCheckpoint()
      val bands = Dedup.lshBands(Dedup.minhashSigsFromSets(sets).drop("sh"))
        .localCheckpoint()
      Similarity.withTableLock(s, dir) {
        Similarity.promoteStages(s, dir)
        storeBaseCountsMemo.remove(dir)
        hashes.write.mode("append").parquet(s"$dir/hashes")
        sets.write.mode("append").parquet(s"$dir/sets")
        bands.write.mode("append").partitionBy("band").parquet(s"$dir/bands")
        appendBloomSidecars(s, dir, hashes, bands)
      }
    case Some(t) => rollForwardTagged(accepted.sparkSession, dir, accepted, t)
  }

  private def rollForwardTagged(s: SparkSession, dir: String,
      accepted: DataFrame, tag: String): Unit = {
    require(tag.matches("[A-Za-z0-9_-]+"), s"unsafe roll-forward tag: $tag")
    requireErasableLayout(s, dir)
    val inc = accepted.localCheckpoint()
    val hashesInc = inc.select(md5(col("text")).as("h"), col("doc_id"))
      .localCheckpoint()
    // batch identity: (set rows, hash rows — equal under the per-doc hash
    // layout, kept as two fields for format stability — and an order-
    // independent CONTENT hash XOR over (doc_id, md5(text)) pairs; xor,
    // not sum: wrapping sums throw under ANSI mode). Folding the content
    // hash in (round-12 advice) closes the content-blind replay hole: a
    // DIFFERENT increment reusing a tag with the SAME doc_ids but changed
    // texts (a corrected batch replayed under the old batchId, a
    // non-replayable source) used to match an id-only fingerprint and be
    // silently swallowed as a replay no-op — now it is refused loudly,
    // the documented contract. The counts double as the plan's
    // appended-row counts, so maintenance never rescans an increment.
    // The v1-format id-only xor rides along in the same aggregate (zero
    // extra jobs) for the pre-upgrade soft-match below.
    val fpRow = hashesInc.agg(count(lit(1)),
      coalesce(bit_xor(xxhash64(
        concat(col("doc_id").cast("string"), lit(":"), col("h")))), lit(0L)),
      coalesce(bit_xor(xxhash64(col("doc_id"))), lit(0L)))
      .collect()(0)
    // format v2 (round-12 advice, low): v1 was "n:n:idXor" (an id-only
    // XOR), v2 is "v2:n:n:contentXor" — versioned so a store carrying
    // pre-change tags does not hard-crash a legitimate restart replay on
    // the changed xor. A v1 prev for the same tag SOFT-matches only when
    // ALL THREE v1 fields match — the id-only xor is recomputed from the
    // increment above (round-13 advice: counts alone let a different
    // batch with the same row count silently no-op and lose its rows) —
    // and no-ops as a replay; any mismatch stays the loud refusal.
    val fp = s"v2:${fpRow.getLong(0)}:${fpRow.getLong(0)}:${fpRow.getLong(1)}"
    val fpV1 = s"${fpRow.getLong(0)}:${fpRow.getLong(0)}:${fpRow.getLong(2)}"
    def checkSpent(): Boolean =
      Similarity.appendTagFingerprint(s, dir, tag, RfSidecar) match {
        case Some(prev) =>
          val soft = !prev.startsWith("v2:") && prev == fpV1
          if (prev != fp && !soft) throw new IllegalStateException(
            s"roll-forward tag '$tag' was already used for a DIFFERENT " +
              s"increment (fingerprint $prev, this batch $fp): tags are " +
              "batch identities — reuse would retire the first batch's " +
              "files as replay leftovers")
          true // spent identity: already appended (or folded by a compact)
        case None => false
      }
    // fast replay peek, unlocked: a spent identical tag (the common
    // restart replay) no-ops without computing sets/bands or taking the
    // lock; a reused tag refuses here before any work
    if (checkSpent()) return
    // an EMPTY increment (an idle micro-batch, or one where every doc
    // was flagged) is a no-op past the fingerprint — appending empty
    // files and merging empty blooms would be identity writes
    if (fpRow.getLong(0) == 0L) {
      Similarity.withTableLock(s, dir) {
        if (!checkSpent()) writeRfFingerprint(s, dir, tag, fp)
      }
      return
    }
    // the increment's O(increment) compute + root-level staging runs
    // OUTSIDE the lock (reads nothing from the store); only the file
    // moves, bloom merge and fingerprint hold it. The hashes stage write
    // depends only on the already-checkpointed hashesInc, so it overlaps
    // the sets/bands derivation chain (guide §2.6); within that chain the
    // two stage writes overlap once both checkpoints exist. Same jobs,
    // same staged files, shorter critical path.
    val staged = Similarity.parLadder(Seq[() => DataFrame](
      () => { stageAppendWrite(s, dir, "hashes", hashesInc, tag,
        partitioned = false); null },
      () => {
        val setsInc = Dedup.shingleSets(inc).localCheckpoint()
        val bands =
          Dedup.lshBands(Dedup.minhashSigsFromSets(setsInc).drop("sh"))
            .localCheckpoint()
        Similarity.parLadder(Seq[() => Unit](
          () => stageAppendWrite(s, dir, "sets", setsInc, tag,
            partitioned = false),
          () => stageAppendWrite(s, dir, "bands", bands, tag,
            partitioned = true)))(f => f())
        bands
      }))(f => f())
    val bandsInc = staged(1)
    Similarity.withTableLock(s, dir) {
      Similarity.promoteStages(s, dir) // heal a crashed staged compact first
      // re-check under the lock: a concurrent replica of this batch may
      // have landed it since the peek (two live writers on one tag is a
      // deployment bug writeRfFingerprint refuses loudly; a finished
      // replay is a clean no-op here)
      if (checkSpent()) {
        for (t <- Seq("hashes", "sets", "bands"))
          fs(s, dir).delete(
            new org.apache.hadoop.fs.Path(stagePathFor(dir, t, tag)), true)
      } else {
        val retired =
          moveStagedAppend(s, dir, "hashes", tag) |
          moveStagedAppend(s, dir, "sets", tag) |
          moveStagedAppend(s, dir, "bands", tag)
        // If this append actually RETIRED same-tag leftovers (the replay
        // of a crashed, fingerprint-less attempt), any memoized base
        // counts are stale: a cold-JVM plan taken while the leftovers sat
        // on disk baked their rows into the base (it subtracts only
        // FINGERPRINTED loose counts), and the rows just moved from
        // "base" to "appended" — invalidate, so the next plan pays one
        // footer count and stays exact instead of double-counting the
        // increment (round-12 advice).
        if (retired) storeBaseCountsMemo.remove(dir)
        // blooms BEFORE the fingerprint: a crash after the table moves but
        // before the bloom merge replays the whole body (fingerprint
        // absent), and bloom insertion is idempotent — so the sidecars can
        // never be missing a member whose rows are in the tables (a bloom
        // false negative here would be silent duplicate admission
        // downstream)
        appendBloomSidecars(s, dir, hashesInc, bandsInc)
        writeRfFingerprint(s, dir, tag, fp)
      }
    }
  }

  private def writeRfFingerprint(s: SparkSession, dir: String, tag: String,
      fp: String): Unit = {
    val f = fs(s, dir)
    val p = new org.apache.hadoop.fs.Path(s"$dir/$RfSidecar/$tag")
    f.mkdirs(p.getParent)
    // overwrite=false: two writers racing on one tag is a deployment bug
    // (duplicate concurrent query rolling one store forward) — fail loudly
    val out = f.create(p, false)
    try out.write(fp.getBytes("UTF-8")) finally out.close()
  }

  /** Where a tagged roll-forward stages `table`'s increment: at the STORE
    * root, not inside the table dir (round 14) — a concurrent two-phase
    * rewrite's swap deletes the table dir wholesale, and the stage must
    * survive it. Hidden (dot) name: invisible to readers and to rewrite
    * snapshots. */
  private def stagePathFor(dir: String, table: String, tag: String): String =
    s"$dir/.rfstage_${tag}_$table"

  /** Phase 1 of a tag-convergent table append: write the increment's
    * files into the root-level stage dir ([[stagePathFor]]) — the
    * append's O(increment) Spark job, run OUTSIDE any lock. Files are
    * sized to the increment (`spark.graft.dedup.rowsPerFile`, default 4M)
    * — a day-scale accepted batch at 100 TB must not funnel through one
    * task. Overwrite mode: a crashed prior attempt's stage is replaced
    * wholesale on replay. */
  private def stageAppendWrite(s: SparkSession, dir: String, table: String,
      rows: DataFrame, tag: String, partitioned: Boolean): Unit = {
    val staged = stagePathFor(dir, table, tag)
    if (partitioned)
      rows.repartition(col("band"))
        .write.mode("overwrite").partitionBy("band").parquet(staged)
    else {
      val rowsPerFile =
        Similarity.confInt(s, "spark.graft.dedup.rowsPerFile", 4000000).toLong
      val n = rows.count()
      val nFiles = math.max(1L, (n + rowsPerFile - 1L) / rowsPerFile).toInt
      rows.repartition(nFiles).write.mode("overwrite").parquet(staged)
    }
  }

  /** Phase 2 (call under the mutation lock): move the staged files into
    * the table under deterministic `rf-<tag>-i` names, retiring any
    * same-tag leftovers of a previous partially-moved attempt first (the
    * [[Similarity]] index tiers' staged-append discipline). Returns
    * whether any same-tag leftovers were retired — the caller's signal
    * that a crashed partial append was replayed (and any base counts
    * memoized over the leftovers are stale). */
  private def moveStagedAppend(s: SparkSession, dir: String, table: String,
      tag: String): Boolean = {
    val staged = stagePathFor(dir, table, tag)
    val tableDir = s"$dir/$table"
    val f = fs(s, tableDir)
    val root = new org.apache.hadoop.fs.Path(tableDir)
    var retired = false
    def moveInto(src: org.apache.hadoop.fs.Path,
        dest: org.apache.hadoop.fs.Path): Unit = {
      f.mkdirs(dest)
      for (old <- f.listStatus(dest)
          if old.getPath.getName.startsWith(s"rf-$tag-")) {
        f.delete(old.getPath, false)
        retired = true
      }
      val files = f.listStatus(src)
        .filter(st => st.isFile && !st.getPath.getName.startsWith("_")
          && !st.getPath.getName.startsWith("."))
        .sortBy(_.getPath.getName)
      for ((st, i) <- files.zipWithIndex)
        f.rename(st.getPath,
          new org.apache.hadoop.fs.Path(dest, s"rf-$tag-$i.parquet"))
    }
    val stagedRoot = new org.apache.hadoop.fs.Path(staged)
    val parts = f.listStatus(stagedRoot)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("band="))
    if (parts.nonEmpty)
      for (part <- parts)
        moveInto(part.getPath,
          new org.apache.hadoop.fs.Path(root, part.getPath.getName))
    else moveInto(stagedRoot, root)
    f.delete(stagedRoot, true)
    retired
  }

  /** Merge increment-built bloom filters into the standing sidecars (or
    * rebuild from the full tables when no merge-compatible pair exists —
    * see the silent-dup trap note in [[write]]). Shared by the manual
    * append path and the tagged roll-forward. Call AFTER the increment's
    * table rows are appended: the rebuild path scans the tables. */
  private def appendBloomSidecars(s: SparkSession, dir: String,
      hashesInc: DataFrame, bandsInc: DataFrame): Unit = {
    val (fh, fb) = Dedup.BloomPrefilter.buildFilters(s, hashesInc, bandsInc)
    val (bh, bb) = readBloomFiles(s, dir) match {
      case Some((oh, ob)) =>
        oh.mergeInPlace(fh); ob.mergeInPlace(fb); (oh, ob)
      case None =>
        // No merge-compatible sidecars: a pre-version (v1) store, or a
        // store whose sidecar files were lost. Writing filters built
        // from the INCREMENT alone here would be the silent-dup trap:
        // later reads would trust them, the bloom screen drops
        // screened-out rows BEFORE the verifying joins, and every
        // standing member would become a false negative. Rebuild from
        // the FULL on-disk tables instead — the increment was already
        // appended above, so these scans cover standing + new. One
        // full pass, paid once per store upgrade/repair, never again.
        // band is a partition column on disk — pin it back to the INT
        // the in-memory probe side hashes (xxhash64 is type-sensitive,
        // so a type-inference drift here would silently change the
        // filter's key domain).
        Dedup.BloomPrefilter.buildFilters(s,
          s.read.parquet(s"$dir/hashes"),
          s.read.parquet(s"$dir/bands")
            .withColumn("band", col("band").cast("int")))
    }
    writeBloomFiles(s, dir, bh, bb)
  }

  private def write(docs: DataFrame, dir: String): Unit = {
    val s = docs.sparkSession
    // ONE tokenize+shingle pass, with the store's own tables as the
    // spill surface: sets land on disk first and bands derive from the
    // WRITTEN parquet — at corpus scale (the 100 TB build) a
    // localCheckpoint of the shingle sets would pin a corpus-sized
    // intermediate to executor storage for no reason when the job is
    // about to persist exactly that table anyway. The hash table needs
    // no tokens at all — sets and hashes derive INDEPENDENTLY from the
    // corpus, so the two writes run overlapped from the bounded ladder
    // (guide §2.6, the NSW build-verb discipline): one job's stage tail
    // back-fills the other's idle executors. The ladder preserves both
    // jobs and both outputs; only the serialization between them goes.
    Similarity.parLadder(Seq(
      () => Dedup.shingleSets(docs).write.mode("overwrite")
        .parquet(s"$dir/sets"),
      () => docs.select(md5(col("text")).as("h"), col("doc_id"))
        .write.mode("overwrite").parquet(s"$dir/hashes")))(f => f())
    val setsBack = s.read.parquet(s"$dir/sets")
    // bands derive from the WRITTEN sets; the hash-side bloom scans the
    // just-written hashes table — independent of the bands write, so the
    // two overlap from the same ladder shape. The band-side bloom needs
    // the bands on disk and runs after.
    val results = Similarity.parLadder(Seq[() => AnyRef](
      () => { Dedup.lshBands(Dedup.minhashSigsFromSets(setsBack).drop("sh"))
        .write.mode("overwrite").partitionBy("band").parquet(s"$dir/bands")
        null },
      () => s.read.parquet(s"$dir/hashes")
        .transform(Dedup.BloomPrefilter.buildHashFilterDf)
        .stat.bloomFilter("hk", Dedup.BloomPrefilter.expectedItems,
          Dedup.BloomPrefilter.fpp)))(f => f())
    val fh = results(1).asInstanceOf[org.apache.spark.util.sketch.BloomFilter]
    // sidecar from the written bands — one source of truth (band comes
    // back as a discovered partition column: pin it to the INT the
    // in-memory probe side hashes, the appendBloomSidecars discipline)
    val fb = s.read.parquet(s"$dir/bands")
      .withColumn("band", col("band").cast("int"))
      .transform(Dedup.BloomPrefilter.buildBandFilterDf)
      .stat.bloomFilter("bk", Dedup.BloomPrefilter.expectedItems,
        Dedup.BloomPrefilter.fpp)
    writeBloomFiles(s, dir, fh, fb)
  }

  private def fs(s: SparkSession, path: String) =
    org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), s.sparkContext.hadoopConfiguration)

  // Sidecar FORMAT VERSION, part of the file name: v2 keys the hash
  // filter on xxhash64(h) BIGINTs (the native-expression key domain)
  // where v1 inserted raw md5-hex strings. A v1 sidecar probed with v2
  // keys would PASS merges but MISS every pre-upgrade member — silent
  // duplicate admission — so v2 readers must never open v1 files:
  // versioned names make an old store read as "no sidecars" (screens
  // skipped, the verifying joins still correct, just unscreened) until
  // the next build/compact writes fresh v2 sidecars.
  private val BloomVersion = "v2"

  /** Bloom sidecars live next to the tables; writes go through a temp
    * name + rename so a crash leaves the previous readable pair. */
  private def writeBloomFiles(s: SparkSession, dir: String,
      bh: org.apache.spark.util.sketch.BloomFilter,
      bb: org.apache.spark.util.sketch.BloomFilter): Unit = {
    val f = fs(s, dir)
    // Every v2 write retires the unversioned v1 names: v2 readers never
    // open them, so after the first v2 write they are dead megabyte-scale
    // files sitting next to the store forever. Idempotent, no-op once gone.
    for (legacy <- Seq("bloom_hashes.bin", "bloom_bands.bin"))
      f.delete(new org.apache.hadoop.fs.Path(s"$dir/$legacy"), false)
    for ((name, filter) <- Seq(s"bloom_hashes_$BloomVersion" -> bh,
        s"bloom_bands_$BloomVersion" -> bb)) {
      val tmp = new org.apache.hadoop.fs.Path(s"$dir/.$name.tmp")
      val out = f.create(tmp, true)
      try filter.writeTo(out) finally out.close()
      val dst = new org.apache.hadoop.fs.Path(s"$dir/$name.bin")
      f.delete(dst, false)
      f.rename(tmp, dst)
      // (a death between that delete and rename leaves BOTH sidecars
      // unreadable as a pair — readBloomFiles requires the pair — which
      // readers treat as "no sidecars": screens skipped, answers
      // unchanged, and the next roll-forward/compact rewrites them)
    }
  }

  private def readBloomFiles(s: SparkSession, dir: String)
      : Option[(org.apache.spark.util.sketch.BloomFilter,
                org.apache.spark.util.sketch.BloomFilter)] = {
    val f = fs(s, dir)
    def one(name: String) = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/$name.bin")
      if (!f.exists(p)) None
      else {
        val in = f.open(p)
        try Some(org.apache.spark.util.sketch.BloomFilter.readFrom(in))
        finally in.close()
      }
    }
    for (h <- one(s"bloom_hashes_$BloomVersion");
         b <- one(s"bloom_bands_$BloomVersion")) yield (h, b)
  }

  /** DEFERRED erasure — the right-to-be-forgotten verb a 100 TB store can
    * actually afford per request: [[erase]] is a full staged rewrite of
    * all three tables (correct, but O(store) — running it per arriving
    * GDPR request is the dedup-side twin of the maintenance livelock this
    * round fixed), so requests land in an append-only `_erase_pending/`
    * ledger at O(ids) cost and take effect IMMEDIATELY through [[read]]'s
    * screen: every consumer anti-joins the pending ids before answering,
    * which equals the physically-erased store's answers exactly (the
    * anti-joins are [[erase]]'s own, applied at read — dd30 oracle-checks
    * the equality against dd29's oracle). The bloom sidecars keep the
    * erased members until the physical pass — harmless: blooms are
    * superset PRE-screens on the new batch; the verifying joins run
    * against the screened tables, so a new copy of erased content reads
    * as admissible (the dd29 law) — though the BYTES persist until then,
    * which is why the physical pass is not optional. Execution is the
    * maintenance policy's business: [[dedupMaintenancePlan]] reports
    * `pending_erasures`/`erase_due` (dial
    * `spark.graft.dedup.erasePendingPct`, default 1 — erase when pending
    * exceeds 1% of the base), [[maintainDedupStore]] runs [[erase]] over
    * the ledger under the lease and the ledger self-clears. At-least-once
    * request delivery is absorbed structurally: the ledger is read
    * DISTINCT, and erasing an already-erased id is a no-op anti-join. */
  def requestErase(s: SparkSession, dir: String, ids: DataFrame): Unit = {
    requireErasableLayout(s, dir)
    // pin first: an EMPTY batch (idle micro-batch, duplicate-only
    // redelivery window) must not materialize the ledger — the "absent
    // ledger = zero read cost" steady state would never be restored by a
    // no-op append (round-12 advice, low)
    val batch = ids.select(col("doc_id")).localCheckpoint()
    if (!batch.isEmpty)
      // under the mutation lock: [[erase]]'s ledger fold is a staged
      // read→rewrite of `_erase_pending/` — a request file appended inside
      // that window would be swept at the swap, silently dropping the
      // erase request (the rollForward lost-append shape, one sidecar
      // over). The ledger folds are O(pending) and hold the same lock for
      // their whole (short) body, so the request lands without waiting
      // out a table rewrite (round 14).
      Similarity.withTableLock(s, dir) {
        batch.write.mode("append").parquet(s"$dir/$ErasePending")
      }
  }

  /** The distinct pending-erasure ids, or None when the ledger is absent
    * (the steady state — [[read]] and the plan then pay zero extra work).
    * The exists→read window races a concurrent erase's ledger delete
    * (round-12 advice, low): the missing-path shape is caught and treated
    * as the absent ledger it has just become, not a crash. */
  private def pendingErasures(s: SparkSession, dir: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$ErasePending")
    try {
      if (!fs(s, dir).exists(p)) None
      else Some(s.read.parquet(s"$dir/$ErasePending")
        .select(col("doc_id")).distinct())
    } catch {
      case e: org.apache.spark.sql.AnalysisException
          if e.getMessage != null &&
            (e.getMessage.contains("PATH_NOT_FOUND") ||
              e.getMessage.contains("Path does not exist") ||
              // a ledger dir holding no readable data files (a crash
              // between a fold's dir create and its first part file) is
              // "no pending", not a crash
              e.getMessage.contains("UNABLE_TO_INFER_SCHEMA")) => None
      case _: java.io.FileNotFoundException => None
    }
  }

  /** Read the store. Promotes any crashed staged compact first (a death
    * inside [[compact]]'s delete→rename blink leaves the finished
    * `.stage_<table>` copy behind — the reader self-heals instead of
    * failing on a missing table, the index tiers' discipline). Pending
    * deferred erasures ([[requestErase]]) are SCREENED here — an
    * anti-join per table, so erasure semantics hold from the moment a
    * request lands, not from the physical pass; absent ledger = identity
    * (no plan change, the steady state). The screen is SIZE-AWARE
    * (round-12 verdict #1): the broadcast hint is applied only while the
    * ledger fits `spark.graft.dedup.eraseScreenBroadcastRows` (default
    * 4M ids ≈ tens of MB) — past that, the un-hinted anti-join lets AQE
    * pick (shuffle when big), because a FORCED broadcast of a
    * corpus-proportional id set onto the driver and every executor on
    * every store read is exactly the driver-state class the engine
    * exists to avoid at 100 TB. */
  def read(s: SparkSession, dir: String): Store = {
    Similarity.promoteStages(s, dir)
    val pending = Similarity.retryOnMissingFiles(s, dir) {
      // checkpoint pins the ledger snapshot against a concurrent erase's
      // ledger delete; the retry covers the listing→checkpoint window
      pendingErasures(s, dir).map(_.localCheckpoint())
    }
    val hintCap = Similarity.confInt(
      s, "spark.graft.dedup.eraseScreenBroadcastRows", 4000000).toLong
    val pendingSide = pending.map(p =>
      if (p.count() <= hintCap) broadcast(p) else p)
    def screen(df: DataFrame): DataFrame = pendingSide.fold(df)(p =>
      df.join(p, Seq("doc_id"), "left_anti"))
    Store(
      screen(s.read.parquet(s"$dir/hashes")),
      screen(s.read.parquet(s"$dir/sets")),
      screen(s.read.parquet(s"$dir/bands")),
      readBloomFiles(s, dir).map { case (h, b) =>
        Dedup.BloomPrefilter(s, h, b)
      })
  }

  /** Periodic maintenance for an append-only store: rewrite the file sets
    * the small appends fragmented (and drop any replay-duplicate rows —
    * under the per-doc hash layout there is no cross-increment hash
    * duplication left to collapse). Answers are unchanged — consumers
    * semi-join hashes and equi-join bands, both multiplicity-insensitive.
    * Each table rewrite goes through the staged
    * writer: a crash mid-write leaves the readable original, and a death
    * inside the delete→rename blink self-heals on the next [[read]] via
    * promoteStages (the round-10 verdict #1 shape — the old bespoke
    * delete+rename here could leave a table missing with a finished
    * `.compact_` copy nothing promoted). Loose roll-forward fingerprints
    * are retired into a `_spent_<gen>` manifest LAST: the rewrite folded
    * those increments into the base, so the plan's appended count resets,
    * while the spent identities keep refusing tag reuse — and a crash
    * before the retire just leaves `compact_due` still true for the next
    * maintenance pass to finish (answers unchanged throughout). */
  def compact(s: SparkSession, dir: String): Unit =
      Similarity.withWriterLease(s, dir) {
    Similarity.promoteStages(s, dir)
    // TWO-PHASE (round 14, [[Similarity.blinkSwap]]): the O(store)
    // rewrites derive from SNAPSHOT listings and land in the promotable
    // .stage_ dirs while appends keep landing in the live tables; the
    // mutation lock is held only for the carry+swap blink at the end.
    val snaps = Seq("hashes", "sets", "bands")
      .map(t => t -> Similarity.listTableFiles(s, s"$dir/$t")).toMap
    def snapped(table: String): DataFrame =
      Similarity.readTableSnapshot(s, s"$dir/$table", snaps(table))
    Similarity.testRewriteDelay(s)
    def rewrite(table: String, df: DataFrame, partitionCols: Seq[String]): Unit =
      Similarity.prepareStage(s, s"$dir/$table") { tmp =>
        val w = df.write.mode("overwrite")
        (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
          .parquet(tmp)
      }
    // file counts sized to the SET (footer-row estimate / rowsPerFile — the
    // tombstone-writer discipline), not to defaultParallelism: a fixed-width
    // rewrite leaves a small store fragmented past the file dial (an
    // immediate re-compact loop) and a 100 TB store funneled into 32 tasks
    def filesFor(table: String): Int = {
      val rowsPerFile =
        Similarity.confInt(s, "spark.graft.dedup.rowsPerFile", 4000000).toLong
      val rows = snapped(table).count() // footer-only
      math.max(1L, (rows + rowsPerFile - 1L) / rowsPerFile).toInt
    }
    // The three staged rewrites read disjoint snapshots and write disjoint
    // .stage_ dirs — independent jobs, overlapped from the bounded ladder
    // (guide §2.6, the NSW/erase discipline): each rewrite's stage tail
    // back-fills the next one's scan. Same three jobs, same staged tables.
    // Bands repartition ON the band column so each band's rows land in one
    // task: the rewrite restores ONE file per band partition no matter how
    // many roll-forwards fragmented it. (At sizes where a single band
    // outgrows one task, add a second split key here — the partition
    // layout and its consumers don't change.)
    Similarity.parLadder(Seq(
      () => rewrite("hashes",
        snapped("hashes").distinct().repartition(filesFor("hashes")),
        Seq.empty),
      () => rewrite("sets",
        snapped("sets").repartition(filesFor("sets")), Seq.empty),
      () => rewrite("bands",
        snapped("bands").repartition(col("band")), Seq("band"))))(f => f())
    // Rebuild the bloom sidecars from the compacted (staged) tables —
    // same content (blooms have no deletes to lose), but derived from one
    // source of truth instead of a merge chain. Carried appends' members
    // merge in at the blink below, so the sidecars can never miss a
    // member whose rows are in the tables.
    val (rh, rb) = Dedup.BloomPrefilter.buildFilters(s,
      s.read.parquet(s"$dir/.stage_hashes"),
      s.read.option("basePath", s"$dir/.stage_bands")
        .parquet(s"$dir/.stage_bands")
        .withColumn("band", col("band").cast("int")))
    Similarity.withTableLock(s, dir) {
      swapAndMergeCarried(s, dir, snaps, rh, rb)
      Similarity.compactAppendTags(s, dir, RfSidecar)
      storeBaseCountsMemo.remove(dir) // the rewrite changed the base counts
    }
  }

  /** The store rewrite's BLINK (call under the mutation lock): swap all
    * three staged tables in — [[Similarity.blinkSwap]] carries any files
    * appended since the snapshots across each swap — then write the
    * sidecar blooms, folding the carried increments' members into the
    * stage-built filters first (an increment-sized build + bitwise OR,
    * the appendBloomSidecars merge shape; never an O(store) rescan). */
  private def swapAndMergeCarried(s: SparkSession, dir: String,
      snaps: Map[String, Set[String]],
      rh: org.apache.spark.util.sketch.BloomFilter,
      rb: org.apache.spark.util.sketch.BloomFilter): Unit = {
    val carH = Similarity.blinkSwap(s, s"$dir/hashes", snaps("hashes"))
    Similarity.blinkSwap(s, s"$dir/sets", snaps("sets"))
    val carB = Similarity.blinkSwap(s, s"$dir/bands", snaps("bands"))
    if (carH.nonEmpty || carB.nonEmpty) {
      def carriedDf(table: String, rels: Seq[String]): DataFrame =
        if (rels.isEmpty) s.read.parquet(s"$dir/$table").limit(0)
        else s.read.option("basePath", s"$dir/$table")
          .parquet(rels.map(r => s"$dir/$table/$r"): _*)
      val (ih, ib) = Dedup.BloomPrefilter.buildFilters(s,
        carriedDf("hashes", carH),
        carriedDf("bands", carB).withColumn("band", col("band").cast("int")))
      rh.mergeInPlace(ih)
      rb.mergeInPlace(ib)
    }
    writeBloomFiles(s, dir, rh, rb)
  }

  // ---------------------------------------------------------------------
  // Maintenance POLICY — nswMaintenancePlan's sibling for the dedup store
  // (the third LSM artifact gets the same policy-driven, in-engine
  // maintenance as the two vector index tiers). COUNT-based and
  // metadata-only: parquet footer counts plus the `_rf_tags/` fingerprint
  // sidecar — never a corpus scan — with exact integer arithmetic the
  // DuckDB oracle reproduces from the corpus (dd27). The decision dial:
  //  - spark.graft.dedup.compactAppendPct (default 5): compact when rows
  //    appended by roll-forwards since the last compaction exceed this
  //    percent of the base — bounding both the duplicate-hash accumulation
  //    (each increment's distinct hashes re-append standing members) and
  //    the small files appends fragment. The NSW foldAppendPct discipline.
  // ---------------------------------------------------------------------

  /** Maintenance metrics + decision for a dedup store, as a long-form
    * (metric, value) frame — dictionary-sized, computed from footer counts
    * and the roll-forward fingerprints. dd27 oracle-checks every row
    * against the corpus. READ-ONLY: executing the decision is
    * [[maintainDedupStore]]'s business. */
  // dedupMaintenancePlan's base-counts memo: dir -> (hash, set, band) rows
  // EXCLUDING every loose roll-forward (the base the last real footer
  // count established). Tagged roll-forwards carry their own row counts
  // in the fingerprint sidecar, so the steady-state plan derives current
  // counts as base + Σ(loose fingerprints) with ZERO Spark jobs — the
  // listsListingMemo discipline one tier over. Compact/build/untagged
  // appends invalidate (the next plan pays one footer count); a cold JVM
  // always counts; cross-JVM writers are outside the memo's domain (a
  // concurrent maintainer starts cold and sees the truth).
  private val storeBaseCountsMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long, Long)]()

  def dedupMaintenancePlan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Similarity.promoteStages(s, dir)
    val f = fs(s, dir)
    val root = new org.apache.hadoop.fs.Path(s"$dir/$RfSidecar")
    // loose fingerprints = increments appended since the last compaction
    // (a compact retires them into the _spent_ manifest — folded, but
    // still spent identities); each records "setRows:hashRows:idXor"
    val loose = if (!f.exists(root)) Seq.empty[String]
      else f.listStatus(root).toSeq.collect {
        case st if st.isFile && !st.getPath.getName.startsWith("_") &&
            !st.getPath.getName.startsWith(".") => st.getPath.getName
      }
    val looseCounts = loose.map { t =>
      val fp = Similarity.appendTagFingerprint(s, dir, t, RfSidecar)
        .getOrElse("0:0:0").split(':')
      val off = if (fp(0) == "v2") 1 else 0 // v1 tags have no version field
      (fp(off).toLong, fp(off + 1).toLong) // (setRows, hashRows)
    }
    val appendedSetRows = looseCounts.map(_._1).sum
    val appendedHashRows = looseCounts.map(_._2).sum
    val nBands = (Dedup.numHashes / 2).toLong
    val (baseH, baseS, baseB) = Option(storeBaseCountsMemo.get(dir)).getOrElse {
      // footer-only counts (parquet count() never touches row data), paid
      // once per (store, JVM) and after every invalidating write
      val hashRows = s.read.parquet(s"$dir/hashes").count()
      val setRows = s.read.parquet(s"$dir/sets").count()
      val bandRows = s.read.parquet(s"$dir/bands").count()
      val base = (hashRows - appendedHashRows, setRows - appendedSetRows,
        bandRows - nBands * appendedSetRows)
      storeBaseCountsMemo.put(dir, base)
      base
    }
    val pct = Similarity.confInt(s, "spark.graft.dedup.compactAppendPct", 5)
    val due = if (appendedSetRows * 100L > baseS * pct) 1L else 0L
    // deferred-erasure half: pending requests screened at read cost an
    // anti-join per consumer until the physical pass retires them — the
    // dial bounds how long that (and the erased bytes) lingers. Zero cost
    // when the ledger is absent, the steady state. TWO triggers (round-12
    // verdict #1): the percent dial, and an ABSOLUTE row cap
    // (`erasePendingMaxRows`, default the read screen's broadcast-hint
    // cap) — a percent alone GROWS with the corpus, so at 10B docs the
    // screen's working set would reach 100M ids before the pct fired;
    // the absolute cap bounds it by a constant at any corpus size.
    val pendingN = pendingErasures(s, dir).map(_.count()).getOrElse(0L)
    val erasePct = Similarity.confInt(s, "spark.graft.dedup.erasePendingPct", 1)
    val eraseMaxRows = Similarity.confInt(
      s, "spark.graft.dedup.erasePendingMaxRows", 4000000).toLong
    val eraseDue = if (pendingN > 0L &&
      (pendingN * 100L > (baseS + appendedSetRows) * erasePct ||
        pendingN > eraseMaxRows)) 1L else 0L
    Seq(
      ("store_hash_rows", baseH + appendedHashRows),
      ("store_set_rows", baseS + appendedSetRows),
      ("store_band_rows", baseB + nBands * appendedSetRows),
      ("appended_set_rows", appendedSetRows),
      ("rollforwards", loose.size.toLong),
      ("compact_due", due),
      ("pending_erasures", pendingN),
      ("erase_due", eraseDue)
    ).toDF("metric", "value")
  }

  /** Evaluate [[dedupMaintenancePlan]] and EXECUTE it: compact when the
    * count dial says so, or when file sprawl does — against
    * `spark.graft.dedup.maxFilesPerTable` (default 8; max not mean, the
    * maintainIvfIndex discipline — one hot table under skewed appends
    * must not fragment unboundedly while a fleet-wide mean idles). The
    * file dial is TWO-SHAPED, matching what [[compact]] itself restores:
    *  - band partitions compare their ABSOLUTE per-partition file count
    *    (compaction restores exactly one file per band, so anything past
    *    the dial is genuine append fragmentation — maintainIvfIndex's
    *    per-partition rule);
    *  - the flat hashes/sets tables compare their EXCESS over the
    *    compacted baseline `ceil(rows / rowsPerFile)`, because compact
    *    deliberately sizes them to that many files — an absolute dial
    *    here LIVELOCKS: any store past maxPer×rowsPerFile rows (32M at
    *    the defaults) exceeds it immediately after a fresh compact, and
    *    every autoMaintain micro-batch re-runs the full O(store) staged
    *    rewrite + bloom rebuild forever (round-11 verdict #1 — at exactly
    *    the unattended-100TB scale this stream targets). The baseline
    *    rows come from the plan's exact counts (memo + fingerprints,
    *    zero Spark jobs), so only appended-fragmentation files ever count
    *    against the dial.
    * File counts are filesystem accidents no corpus oracle can see, so
    * the file half is SPEC-pinned while the count half is dd27's oracle.
    * Compaction is answers-unchanged and crash-safe, hence legal inside a
    * streaming foreachBatch — [[graft.streaming.EventStream
    * .dedupIngestStream]] wires it as `autoMaintain`. Returns the
    * pre-maintenance plan plus what ran. */
  def maintainDedupStore(s: SparkSession, dir: String): Map[String, Long] = {
    val plan = dedupMaintenancePlan(s, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val f = fs(s, dir)
    def dataFiles(p: org.apache.hadoop.fs.Path): Long =
      if (!f.exists(p)) 0L
      else f.listStatus(p).count(st => st.isFile &&
        !st.getPath.getName.startsWith(".") &&
        !st.getPath.getName.startsWith("_")).toLong
    val bandsRoot = new org.apache.hadoop.fs.Path(s"$dir/bands")
    val perBand = if (!f.exists(bandsRoot)) Array.empty[Long]
      else f.listStatus(bandsRoot).collect {
        case st if st.isDirectory && st.getPath.getName.startsWith("band=") =>
          dataFiles(st.getPath)
      }
    val perBandMax = if (perBand.isEmpty) 0L else perBand.max
    val hashFiles = dataFiles(new org.apache.hadoop.fs.Path(s"$dir/hashes"))
    val setFiles = dataFiles(new org.apache.hadoop.fs.Path(s"$dir/sets"))
    val maxPer = Similarity.confInt(s, "spark.graft.dedup.maxFilesPerTable", 8)
    val rowsPerFile =
      Similarity.confInt(s, "spark.graft.dedup.rowsPerFile", 4000000).toLong
    def baselineFiles(rows: Long): Long =
      math.max(1L, (rows + rowsPerFile - 1L) / rowsPerFile)
    val flatExcess = math.max(
      hashFiles - baselineFiles(plan("store_hash_rows")),
      setFiles - baselineFiles(plan("store_set_rows")))
    val filesMax = (perBand.toSeq :+ hashFiles :+ setFiles).max
    val due = plan("compact_due") == 1L || perBandMax > maxPer ||
      flatExcess > maxPer
    val eraseDue = plan("erase_due") == 1L
    // ledger small-file hygiene (round-12 verdict #4): requestErase
    // appends one file per micro-batch, and every read pays a distinct
    // over all of them until the physical pass — which the erase dial may
    // legitimately keep far away. Past `maxEraseLedgerFiles` the ledger
    // is FOLDED in place (distinct → few sized files, staged) without
    // erasing anything: answers unchanged (the screen reads the same
    // distinct id set), the per-read listing re-bounded — the
    // marker-pruning amortization pointed at the erase ledger.
    val ledgerN = dataFiles(new org.apache.hadoop.fs.Path(s"$dir/$ErasePending"))
    val maxLedger =
      Similarity.confInt(s, "spark.graft.dedup.maxEraseLedgerFiles", 8)
    val ledgerFoldDue = !eraseDue && ledgerN > maxLedger
    // due work runs under the cross-JVM lease: a concurrent maintainer
    // (another stream's autoMaintain, a nightly job) holding it makes this
    // turn YIELD — all verbs are re-triggered by their dials later. The
    // physical erase is ANSWERS-UNCHANGED here (reads were already
    // screening the pending ids — dd30's oracle equality), hence legal
    // inside a streaming foreachBatch like compaction; it is itself a full
    // sized rewrite that retires the rf tags, so an erase turn skips the
    // compact (the next plan re-evaluates from the folded state).
    val (erased, ran, folded, yielded) =
      if (!due && !eraseDue && !ledgerFoldDue) (0L, 0L, 0L, 0L)
      else Similarity.withMaintenanceLease(s, dir)((0L, 0L, 0L, 1L)) {
        if (eraseDue) {
          pendingErasures(s, dir).foreach(p => erase(s, dir, p))
          (1L, 0L, 0L, 0L)
        } else {
          val didFold = if (ledgerFoldDue) { foldEraseLedger(s, dir); 1L }
            else 0L
          if (due) { compact(s, dir); (0L, 1L, didFold, 0L) }
          else (0L, 0L, didFold, 0L)
        }
      }
    plan + ("table_files_max" -> filesMax) +
      ("flat_files_excess" -> math.max(0L, flatExcess)) +
      ("ledger_files" -> ledgerN) + ("ledger_folded" -> folded) +
      ("erased" -> erased) + ("compacted" -> ran) + ("yielded" -> yielded)
  }

  /** Rewrite the pending-erasure ledger as its distinct id set in sized
    * files — content-identical to what [[read]]'s screen already derives,
    * so answers are unchanged; only the per-read file listing shrinks.
    * Runs under the rewrite lease (reentrant from [[maintainDedupStore]])
    * AND the mutation lock: a concurrent [[requestErase]] append inside
    * the staged delete+rename window would otherwise be swept — the
    * lost-append shape. O(pending) body, so holding the lock is cheap. */
  private def foldEraseLedger(s: SparkSession, dir: String): Unit =
    Similarity.withWriterLease(s, dir) {
      Similarity.withTableLock(s, dir) {
      pendingErasures(s, dir).foreach { p =>
        val pinned = p.localCheckpoint()
        val rowsPerFile = Similarity.confInt(
          s, "spark.graft.dedup.rowsPerFile", 4000000).toLong
        val nFiles = math.max(1L,
          (pinned.count() + rowsPerFile - 1L) / rowsPerFile).toInt
        Similarity.stagedWrite(s, s"$dir/$ErasePending") { tmp =>
          pinned.repartition(nFiles).write.mode("overwrite").parquet(tmp)
        }
      }
      }
    }

  /** GDPR/right-to-be-forgotten erasure for the DERIVED artifact — the
    * missing half of tp12's corpus-table erasure: the store retains
    * content fingerprints (hashes, shingle sets, band keys, bloom bits)
    * of every admitted document, so erasing a doc from the corpus alone
    * leaves its ghost flagging future occurrences of the erased content
    * as duplicates forever. This removes the erased doc_ids' rows from
    * all three tables — exact anti-joins, because every table carries
    * doc_id (the per-doc hash layout exists for precisely this verb: a
    * hash stays a member exactly while some SURVIVING doc carries it,
    * so erasing one of two admitted exact twins keeps the other's
    * membership) — through staged rewrites (compact's crash discipline),
    * then rebuilds the bloom sidecars from the rewritten tables (a bloom
    * cannot unlearn a member; a stale sidecar only costs verify work for
    * answers, but it still FINGERPRINTS the erased content — the privacy
    * half is why the rebuild is not optional). Tag accounting: the
    * rewrite folds every appended `rf-*` file into the base layout, so
    * loose roll-forward fingerprints are retired into the `_spent_`
    * manifest exactly as [[compact]] does (round-11 verdict #5 — leaving
    * them loose made the plan's appended/base split conservative,
    * over-counting rows the rewrite already folded): identities keep
    * refusing tag reuse, the plan's appended count resets to zero, and
    * the next plan's one footer count is the exact post-erase truth. */
  def erase(s: SparkSession, dir: String, erasedIds: DataFrame): Unit = {
    requireErasableLayout(s, dir)
    // pin the id set BEFORE taking the lease (it may derive from the
    // pending ledger this verb rewrites), then rewrite under the REWRITE
    // lease. Appends keep landing throughout the O(store) anti-join
    // rewrites (round 14): files appended since the snapshots are carried
    // across the swap blink — semantically identical to the round-13
    // blocking order (erase, then append), because an increment admitted
    // after the erase began was never subject to it.
    val ids = erasedIds.select(col("doc_id")).localCheckpoint()
    Similarity.withWriterLease(s, dir) {
    Similarity.promoteStages(s, dir)
    val snaps = Seq("hashes", "sets", "bands")
      .map(t => t -> Similarity.listTableFiles(s, s"$dir/$t")).toMap
    def snapped(table: String): DataFrame =
      Similarity.readTableSnapshot(s, s"$dir/$table", snaps(table))
    Similarity.testRewriteDelay(s)
    def rewrite(table: String, df: DataFrame, partitionCols: Seq[String]): Unit =
      Similarity.prepareStage(s, s"$dir/$table") { tmp =>
        val w = df.write.mode("overwrite")
        (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
          .parquet(tmp)
      }
    // three independent survivor anti-join rewrites (disjoint snapshots,
    // disjoint .stage_ dirs) — overlapped, the eraseFromNswIndex shape
    // (guide §2.6); same jobs, same staged tables, shorter critical path
    Similarity.parLadder(Seq(
      () => rewrite("hashes",
        snapped("hashes").join(ids, Seq("doc_id"), "left_anti"),
        Seq.empty),
      () => rewrite("sets",
        snapped("sets").join(ids, Seq("doc_id"), "left_anti"),
        Seq.empty),
      () => rewrite("bands",
        snapped("bands")
          .withColumn("band", col("band").cast("int"))
          .join(ids, Seq("doc_id"), "left_anti")
          .repartition(col("band")), Seq("band"))))(f => f())
    // blooms from the staged (erased) tables: the rebuild is the privacy
    // half — the sidecars must stop fingerprinting the erased content
    val (rh, rb) = Dedup.BloomPrefilter.buildFilters(s,
      s.read.parquet(s"$dir/.stage_hashes"),
      s.read.option("basePath", s"$dir/.stage_bands")
        .parquet(s"$dir/.stage_bands")
        .withColumn("band", col("band").cast("int")))
    Similarity.withTableLock(s, dir) {
      swapAndMergeCarried(s, dir, snaps, rh, rb)
      // fulfilled deferred requests leave the ledger ([[requestErase]]):
      // rewrite pending minus the erased ids (staged), delete when empty —
      // a maintenance-run erase self-clears and the read screen returns to
      // the zero-cost steady state. A crash before this fold just leaves
      // no-op screens (the rows are already gone) and a re-firing dial
      // whose next erase is a no-op anti-join — convergent. Inside the
      // blink (a concurrent requestErase appends under the same lock),
      // reading the LIVE ledger so requests that arrived mid-rewrite
      // stay pending; sized files, not coalesce(1) (round-13 advice).
      pendingErasures(s, dir).foreach { p =>
        val left = p.join(ids, Seq("doc_id"), "left_anti").localCheckpoint()
        if (left.isEmpty)
          fs(s, dir).delete(
            new org.apache.hadoop.fs.Path(s"$dir/$ErasePending"), true)
        else {
          val rowsPerFile = Similarity.confInt(
            s, "spark.graft.dedup.rowsPerFile", 4000000).toLong
          val nFiles = math.max(1L,
            (left.count() + rowsPerFile - 1L) / rowsPerFile).toInt
          Similarity.stagedWrite(s, s"$dir/$ErasePending") { tmp =>
            left.repartition(nFiles).write.mode("overwrite").parquet(tmp)
          }
        }
      }
      Similarity.compactAppendTags(s, dir, RfSidecar)
      storeBaseCountsMemo.remove(dir) // the rewrite changed the base counts
    }
    }
  }

  /** The verbs that depend on the per-doc hash layout fail loudly on a
    * pre-round-11 store (hashes without doc_id) instead of appending a
    * mixed schema or erasing incorrectly — rebuild the store once. */
  private def requireErasableLayout(s: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/hashes")
    if (fs(s, dir).exists(p) &&
        !s.read.parquet(s"$dir/hashes").columns.contains("doc_id"))
      throw new IllegalStateException(
        s"store at $dir uses the pre-round-11 hash layout (no doc_id); " +
          "rebuild it before tagged roll-forwards or erasure")
  }

  /** dd09's check with the corpus side READ FROM THE STORE — the plan the
    * daily job actually runs: the old side is three parquet scans (no
    * split/minhash anywhere on it), the new side is tokenized once and
    * bloom-screened against the persisted sidecars before either shuffle
    * (when the store has them — older stores without sidecars still
    * answer identically, just without the pre-filter). */
  def incrementalAgainstStore(neu: DataFrame, store: Store): DataFrame =
    Dedup.incrementalFlags(neu, store.hashes, store.sets, store.bands, store.blooms)

  /** Deterministic scratch location for a given input dir (the driver runs
    * each query as a pure (session, sfDir) function — the store location
    * must derive from the input, not from mutable state). */
  private[operators] def storePathFor(dir: String): String = {
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    s"${sys.props("java.io.tmpdir")}/graft_dedup_store_$tag"
  }

  /** The PRISTINE standing-corpus store (doc_id % 10 < 8 — the identical
    * base dd11/dd27/dd29/dd30/tp13 each rebuilt from scratch, round 15),
    * built once per JVM at dd11's own path (dd11 is the suite-order first
    * toucher, so the honest build cost stays on the build-cycle query).
    * Pure function of the corpus under the sanctioned artifact-memo law:
    * every fresh process rebuilds from the parquet inputs on first touch.
    * The MUTATING verbs (roll-forward / erase / ledger) get their own
    * bytes via [[cloneStoreTo]] — a store-sized file copy instead of a
    * corpus-sized tokenize+shingle+minhash rebuild per verb. A [[Derived]]
    * key named by the store path. */
  private def ensureBase80Store(s: SparkSession, dir: String): String = {
    val p = storePathFor(dir)
    Derived(s, p) {
      build(Tables(s, dir, "documents").filter(col("doc_id") % 10 < 8), p)
      p
    }
  }

  /** Replace `to` with a byte copy of the pristine store at `from` — the
    * clone a mutating verb rewrites in place of a full rebuild. A REAL
    * copy, never links: roll-forward merges bloom sidecars and appends
    * under the same file tree, and erase/compact delete+rename tables. */
  private def cloneStoreTo(s: SparkSession, from: String, to: String): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(from)
    val dst = new org.apache.hadoop.fs.Path(to)
    val f = src.getFileSystem(conf)
    f.delete(dst, true)
    org.apache.hadoop.fs.FileUtil.copy(f, src, f, dst, false, conf)
  }

  /** [[ensureBase80Store]] + [[cloneStoreTo]] in one verb-side call. */
  private[operators] def cloneBase80Store(s: SparkSession, dir: String,
      storeDir: String): Unit =
    cloneStoreTo(s, ensureBase80Store(s, dir), storeDir)

  // ---------------------------------------------------------------------
  // dd11: the full nightly cycle — (re)build the store from the standing
  // corpus, then run the incremental check READING it. Same split and same
  // answer as dd09 (the oracle is shared), but the corpus side of the
  // check plan is pure parquet scans; the recompute that dd09 performs
  // in-memory is here the explicit, amortizable build job. The timed cost
  // of this query = store build + store-backed check; at 100 TB only the
  // check runs per increment.
  // ---------------------------------------------------------------------
  def dd11StoreIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val neu = docs.filter(col("doc_id") % 10 >= 8)
    // the nightly (re)build IS the pristine base-80 store — dd11 is its
    // suite-order first toucher, so this line pays the honest build
    val storeDir = ensureBase80Store(s, dir)
    incrementalAgainstStore(neu, read(s, storeDir))
  }

  // ---------------------------------------------------------------------
  // dd27: the store's MAINTENANCE DECISION itself, oracle-checked — the
  // ss50 shape pointed at the dedup store: build from the standing 80%,
  // check the new 20%, roll the ACCEPTED docs forward (tagged), then read
  // the plan the auto-maintainer acts on. Every count and the decision are
  // exact integer arithmetic the oracle re-derives from the corpus alone
  // under the default dial (compact at >5% appended rows). READ-ONLY by
  // design: maintainDedupStore's effects are DedupStoreSpec-pinned, the
  // streaming wiring EventStreamSpec-pinned.
  // ---------------------------------------------------------------------
  def dd27StoreMaintenance(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val neu = docs.filter(col("doc_id") % 10 >= 8)
    val storeDir = storePathFor(dir + "#dd27")
    cloneBase80Store(s, dir, storeDir) // same build; verb mutates its clone
    val flagged = incrementalAgainstStore(neu, read(s, storeDir))
      .select(col("doc_id")).localCheckpoint()
    val accepted = neu.join(flagged, Seq("doc_id"), "left_anti")
    rollForward(storeDir, accepted, Some("inc1"))
    dedupMaintenancePlan(s, storeDir)
  }

  // ---------------------------------------------------------------------
  // dd28: roll-forward CORRECTNESS end-to-end, oracle-checked — the
  // two-day crawl: build from day 0 (60%), admit day 1 (20%) through the
  // check, roll the survivors forward, then check day 2 (20%) against the
  // ROLLED store. Day-2 flags must reflect old ∪ accepted(day 1) — the
  // law that makes the store a store and not a snapshot. The oracle
  // re-derives both rounds from the corpus (dd09's CTE structure, twice).
  // ---------------------------------------------------------------------
  def dd28RollforwardCheck(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val old = docs.filter(col("doc_id") % 10 < 6)
    val inc1 = docs.filter(col("doc_id") % 10 === 6 || col("doc_id") % 10 === 7)
    val neu = docs.filter(col("doc_id") % 10 >= 8)
    val storeDir = storePathFor(dir + "#dd28")
    build(old, storeDir)
    val flagged1 = incrementalAgainstStore(inc1, read(s, storeDir))
      .select(col("doc_id")).localCheckpoint()
    val acc1 = inc1.join(flagged1, Seq("doc_id"), "left_anti")
    rollForward(storeDir, acc1, Some("day1"))
    incrementalAgainstStore(neu, read(s, storeDir))
  }

  // ---------------------------------------------------------------------
  // dd29: STORE ERASURE, oracle-checked — tp12's right-to-be-forgotten
  // pointed at the derived artifact: build from the standing 80%, erase
  // decile 7's doc_ids, then run the incremental check. The flags must be
  // EXACTLY those of a store that never admitted decile 7 (the oracle is
  // dd09's structure with the corpus side = deciles 0-6): erased content
  // stops flagging new arrivals — the erased doc's near-twins and exact
  // copies become admissible again — while every surviving doc's
  // membership is untouched (including a surviving exact twin of an
  // erased doc, which the per-doc hash rows keep alive).
  // ---------------------------------------------------------------------
  def dd29StoreErasure(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val old = docs.filter(col("doc_id") % 10 < 8)
    val neu = docs.filter(col("doc_id") % 10 >= 8)
    val storeDir = storePathFor(dir + "#dd29")
    cloneBase80Store(s, dir, storeDir) // same build; verb mutates its clone
    erase(s, storeDir, old.filter(col("doc_id") % 10 === 7).select(col("doc_id")))
    incrementalAgainstStore(neu, read(s, storeDir))
  }

  val dd29Oracle: String =
    Dedup.dd09Oracle.replace("WHERE doc_id % 10 < 8", "WHERE doc_id % 10 < 7")

  // ---------------------------------------------------------------------
  // dd30: DEFERRED erasure, oracle-checked by the equality that makes it
  // deployable — dd29's scenario with requestErase instead of the O(store)
  // physical rewrite: build from the standing 80%, LEDGER decile 7's
  // doc_ids (an O(ids) append), run the incremental check against the
  // SCREENED store. The flags must be byte-identical to dd29's (the
  // physically-erased store — the oracle IS dd29's): read-time screening
  // and physical erasure are the same function over answers, which is
  // exactly why the expensive rewrite can wait for the maintenance dial
  // while the right-to-be-forgotten takes effect at request time.
  // ---------------------------------------------------------------------
  def dd30DeferredErasure(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val old = docs.filter(col("doc_id") % 10 < 8)
    val neu = docs.filter(col("doc_id") % 10 >= 8)
    val storeDir = storePathFor(dir + "#dd30")
    cloneBase80Store(s, dir, storeDir) // same build; verb mutates its clone
    requestErase(s, storeDir,
      old.filter(col("doc_id") % 10 === 7).select(col("doc_id")))
    incrementalAgainstStore(neu, read(s, storeDir))
  }

  private def bandUnionsSql(b: String): String =
    (0 until Dedup.numHashes / 2).map(i =>
      s"SELECT doc_id, $i AS band, m${2 * i} AS k1, m${2 * i + 1} AS k2 FROM $b")
      .mkString("\n UNION ALL ")

  private def setSqlFrom(src: String, name: String): String =
    s"""$name AS (SELECT doc_id, list_distinct(list_filter(${Dedup.shinglesSql}, x -> x IS NOT NULL)) AS sh
       |  FROM (${Dedup.tkSqlFrom(src)}) tks)""".stripMargin

  /** One incremental-check round as oracle SQL: CTEs `cand$r`/`near$r`/
    * `ex$r` flagging `newSig`/`newSet`/`newDocs` against the corpus-side
    * `oldSig`/`oldSet`/`oldDocs` (dd09's structure, parameterized so dd28
    * can run it twice). */
  private def checkRoundSql(r: String, oldDocs: String, newDocs: String,
      oldSig: String, newSig: String, oldSet: String, newSet: String): String =
    s"""bands_o$r AS (${bandUnionsSql(oldSig)}),
       |bands_n$r AS (${bandUnionsSql(newSig)}),
       |cand$r AS (
       | SELECT DISTINCT n.doc_id AS doc_new, o.doc_id AS doc_old
       | FROM bands_n$r n JOIN bands_o$r o
       |  ON n.band = o.band AND n.k1 = o.k1 AND n.k2 = o.k2),
       |near$r AS (
       | SELECT DISTINCT c.doc_new AS doc_id
       | FROM cand$r c JOIN $newSet s1 ON c.doc_new = s1.doc_id
       |  JOIN $oldSet s2 ON c.doc_old = s2.doc_id
       | WHERE len(list_intersect(s1.sh, s2.sh)) * 10 >=
       |  (len(s1.sh) + len(s2.sh) - len(list_intersect(s1.sh, s2.sh))) * 7),
       |ex$r AS (
       | SELECT DISTINCT n.doc_id FROM $newDocs n
       | WHERE md5(n.text) IN (SELECT md5(text) FROM $oldDocs))""".stripMargin

  val dd27Oracle: String = {
    val nBands = Dedup.numHashes / 2
    s"""WITH docs_old AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 < 8),
       |docs_new AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 >= 8),
       |${Dedup.sigSqlFrom("docs_old", "sig_o")},
       |${Dedup.sigSqlFrom("docs_new", "sig_n")},
       |${setSqlFrom("docs_old", "set_o")},
       |${setSqlFrom("docs_new", "set_n")},
       |${checkRoundSql("1", "docs_old", "docs_new", "sig_o", "sig_n", "set_o", "set_n")},
       |acc AS (SELECT doc_id, text FROM docs_new
       | WHERE doc_id NOT IN (SELECT doc_id FROM ex1)
       |   AND doc_id NOT IN (SELECT doc_id FROM near1)),
       |m AS (SELECT
       |  (SELECT COUNT(*) FROM docs_old) AS old_n,
       |  (SELECT COUNT(*) FROM acc) AS acc_n)
       |SELECT 'store_hash_rows' AS metric, CAST(old_n + acc_n AS BIGINT) AS value FROM m
       |UNION ALL SELECT 'store_set_rows', CAST(old_n + acc_n AS BIGINT) FROM m
       |UNION ALL SELECT 'store_band_rows', CAST($nBands * (old_n + acc_n) AS BIGINT) FROM m
       |UNION ALL SELECT 'appended_set_rows', CAST(acc_n AS BIGINT) FROM m
       |UNION ALL SELECT 'rollforwards', CAST(1 AS BIGINT) FROM m
       |UNION ALL SELECT 'compact_due',
       |  CAST(CASE WHEN acc_n * 100 > old_n * 5 THEN 1 ELSE 0 END AS BIGINT) FROM m
       |UNION ALL SELECT 'pending_erasures', CAST(0 AS BIGINT) FROM m
       |UNION ALL SELECT 'erase_due', CAST(0 AS BIGINT) FROM m""".stripMargin
  }

  val dd28Oracle: String =
    s"""WITH docs_old AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 < 6),
       |docs_i1 AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 IN (6, 7)),
       |docs_new AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 >= 8),
       |${Dedup.sigSqlFrom("docs_old", "sig_o")},
       |${Dedup.sigSqlFrom("docs_i1", "sig_1")},
       |${setSqlFrom("docs_old", "set_o")},
       |${setSqlFrom("docs_i1", "set_1")},
       |${checkRoundSql("1", "docs_old", "docs_i1", "sig_o", "sig_1", "set_o", "set_1")},
       |corpus2 AS (SELECT doc_id, text FROM docs_old
       | UNION ALL
       | SELECT doc_id, text FROM docs_i1
       | WHERE doc_id NOT IN (SELECT doc_id FROM ex1)
       |   AND doc_id NOT IN (SELECT doc_id FROM near1)),
       |${Dedup.sigSqlFrom("corpus2", "sig_c")},
       |${Dedup.sigSqlFrom("docs_new", "sig_n")},
       |${setSqlFrom("corpus2", "set_c")},
       |${setSqlFrom("docs_new", "set_n")},
       |${checkRoundSql("2", "corpus2", "docs_new", "sig_c", "sig_n", "set_c", "set_n")}
       |SELECT doc_id,
       | doc_id IN (SELECT doc_id FROM ex2) AS dup_exact,
       | doc_id IN (SELECT doc_id FROM near2) AS dup_near
       |FROM docs_new
       |WHERE doc_id IN (SELECT doc_id FROM ex2)
       |   OR doc_id IN (SELECT doc_id FROM near2)""".stripMargin

  val queries: Map[String, Relational.Q] = Map(
    "dd11_store_incremental" -> (dd11StoreIncremental _),
    "dd27_store_maintenance" -> (dd27StoreMaintenance _),
    "dd28_rollforward_check" -> (dd28RollforwardCheck _),
    "dd29_store_erasure" -> (dd29StoreErasure _),
    "dd30_deferred_erasure" -> (dd30DeferredErasure _))

  val oracles: Map[String, String] = Map(
    // Same semantics as dd09, so the same oracle must hash-match.
    "dd11_store_incremental" -> Dedup.dd09Oracle,
    "dd27_store_maintenance" -> dd27Oracle,
    "dd28_rollforward_check" -> dd28Oracle,
    "dd29_store_erasure" -> dd29Oracle,
    // read-time screening ≡ physical erasure — dd29's oracle verbatim
    "dd30_deferred_erasure" -> dd29Oracle)
}
