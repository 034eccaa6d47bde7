package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Incremental materialized-aggregate maintenance — the third member of
  * the engine's roll-forward family beside the dedup store
  * ([[DedupStore]]) and the persisted IVF index ([[Similarity]] ss05/
  * ss07): a standing per-group aggregate ("corpus stats by language")
  * kept current by merging each day's increment into a tiny partial
  * state table, never by rescanning the corpus.
  *
  * The state holds only COMMUTATIVE-MONOID partials (counts, sums,
  * maxes) — the decomposable aggregates Spark itself exploits for
  * map-side partial aggregation. That algebraic property is exactly what
  * makes the view maintainable: merge(state, partials(increment)) equals
  * partials(base ∪ increment) for ANY split of the data, so the
  * roll-forward result is bit-identical to a full recompute — which is
  * what the DuckDB oracle runs. Derived values that are NOT decomposable
  * (the average) are computed from the merged partials at read time, the
  * standard sum/count split.
  *
  * Scale shape: the state is O(|groups|) rows regardless of corpus size
  * (here |langs|; at 100 TB maybe thousands) and the roll-forward plan
  * touches state + increment only — one map-side-combined shuffle over
  * the increment, a |groups|-row merge, zero base-corpus I/O. MatViewSpec
  * pins that file-level: the merged plan's scans never include the base
  * table's files.
  */
object MatView {
  import Relational.{Q, pin}

  /** Deterministic scratch location per input dir (same convention as
    * [[DedupStore.storePathFor]] — queries must stay pure functions of
    * (session, sfDir)). */
  private[operators] def statePathFor(dir: String): String = {
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    s"${sys.props("java.io.tmpdir")}/graft_mv_state_$tag"
  }

  /** Per-language monoid partials over any (lang, doc_id, n_chars, text)
    * slice: one map-side-combined hash aggregate. */
  private[operators] def partials(docs: DataFrame): DataFrame =
    docs.select(col("lang"), col("doc_id"), col("n_chars"),
        size(expr("filter(split(text, ' '), x -> x != '')")).cast("long")
          .as("n_toks"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(col("n_toks")).as("sum_tokens"),
        max(col("n_chars")).as("max_chars"),
        max(col("doc_id")).as("last_doc_id"))

  /** Materialize the view state from a base corpus (the nightly build). */
  def buildState(docs: DataFrame, stateDir: String): Unit =
    partials(docs).write.mode("overwrite").parquet(stateDir)

  /** state ⊎ partials(increment): O(|groups| + |increment|), reads the
    * state table and the increment — NEVER the base corpus. New groups
    * appearing only in the increment merge in through the union. */
  def rollForward(s: SparkSession, stateDir: String,
      increment: DataFrame): DataFrame =
    s.read.parquet(stateDir).unionByName(partials(increment))
      .groupBy(col("lang"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("sum_chars")).as("sum_chars"),
        sum(col("sum_tokens")).as("sum_tokens"),
        max(col("max_chars")).as("max_chars"),
        max(col("last_doc_id")).as("last_doc_id"))

  /** Read-time projection: merged partials + the non-decomposable
    * derivations (avg = sum/count — one exact IEEE division of two
    * exactly-represented integers, so it hash-matches the oracle). */
  private def serve(merged: DataFrame): DataFrame =
    merged.select(col("lang"), col("n_docs"), col("sum_chars"),
      col("sum_tokens"), col("max_chars"), col("last_doc_id"),
      (col("sum_chars").cast("double") / col("n_docs")).as("avg_chars"))

  // ---------------------------------------------------------------------
  // mv01: the full maintenance cycle — build the state from the standing
  // corpus (doc_id % 10 != 3), roll today's batch (% 10 == 3) forward,
  // serve the merged view. The oracle recomputes the aggregates over the
  // WHOLE corpus in one pass: hash-equality IS the incremental-view
  // correctness proof (merge(state, inc) ≡ full recompute).
  // ---------------------------------------------------------------------
  def mv01AggRollforward(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val stateDir = statePathFor(dir)
    buildState(docs.filter(col("doc_id") % 10 =!= 3), stateDir)
    serve(rollForward(s, stateDir, docs.filter(col("doc_id") % 10 === 3)))
  }

  val mv01Oracle: String =
    """SELECT lang,
      | CAST(COUNT(*) AS BIGINT) AS n_docs,
      | CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      | CAST(SUM(len(list_filter(string_split(text, ' '), x -> x != ''))) AS BIGINT) AS sum_tokens,
      | CAST(MAX(n_chars) AS BIGINT) AS max_chars,
      | CAST(MAX(doc_id) AS BIGINT) AS last_doc_id,
      | CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
      |FROM documents GROUP BY lang""".stripMargin

  // ---------------------------------------------------------------------
  // mv02: DAY-PARTITIONED incremental event rollup — the time-dimension
  // variant of mv01 and the canonical warehouse nightly: a standing
  // (day, event_type) aggregate over the event stream, state laid out
  // partitionBy(day) so (a) serving "one day's numbers" partition-prunes
  // to that day's files (pinned in MatViewSpec) and (b) a late-data
  // backfill only rewrites the affected day partitions. Value sums ride
  // in DECIMAL(18,2) — exact, associative, partition-order-independent —
  // and only the served projection casts to double, so the merged view
  // hash-matches the oracle's one-pass recompute over all events.
  // ---------------------------------------------------------------------
  private val dayCol = "unix_timestamp(ts) div 86400"

  private[operators] def eventPartials(ev: DataFrame): DataFrame =
    ev.groupBy(expr(dayCol).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2)))
          .cast(DecimalType(18, 2)).as("sum_val"))

  def buildEventState(ev: DataFrame, stateDir: String): Unit =
    eventPartials(ev).write.partitionBy("day").mode("overwrite").parquet(stateDir)

  /** Merge an increment into the day-partitioned state. The partitionBy
    * column reads back as the inferred INT — recast to BIGINT before the
    * union so the monoid merge stays type-stable. */
  def rollForwardEvents(s: SparkSession, stateDir: String,
      increment: DataFrame): DataFrame =
    s.read.parquet(stateDir).withColumn("day", col("day").cast("long"))
      .unionByName(eventPartials(increment))
      .groupBy(col("day"), col("event_type"))
      .agg(sum(col("n_events")).as("n_events"),
        sum(col("sum_val")).cast(DecimalType(18, 2)).as("sum_val"))

  /** One micro-batch / backfill merge into the day-partitioned state:
    * partials of `batch` are merged into ONLY the day partitions the
    * batch touches — the affected-day list is collected (bounded by days
    * per batch, not corpus size), prunes the state read, and dynamic
    * partition overwrite rewrites just those directories. Per-batch
    * state I/O is O(affected days); the standing table is never
    * rewritten. Streaming front door: [[graft.streaming.EventStream
    * .eventRollupStream]]. */
  def mergeEventBatch(batch: DataFrame, stateDir: String): Unit = {
    val s = batch.sparkSession
    val incr = eventPartials(batch).transform(pin)
    val days = incr.select(col("day")).distinct().collect().map(_.getLong(0))
    if (days.nonEmpty) {
      val existing =
        if (new java.io.File(stateDir).exists())
          s.read.parquet(stateDir).withColumn("day", col("day").cast("long"))
            .filter(col("day").isin(days.toSeq: _*))
        else incr.limit(0)
      existing.unionByName(incr)
        .groupBy(col("day"), col("event_type"))
        .agg(sum(col("n_events")).as("n_events"),
          sum(col("sum_val")).cast(DecimalType(18, 2)).as("sum_val"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("day").parquet(stateDir)
    }
  }

  def mv02EventRollforward(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    // the standing state covers everything before the stream's last day;
    // that final day is "tonight's batch"
    val lastDay = ev.agg(max(expr(dayCol))).head.getLong(0)
    val stateDir = statePathFor(dir) + "_ev"
    buildEventState(ev.filter(expr(dayCol) < lastDay), stateDir)
    rollForwardEvents(s, stateDir, ev.filter(expr(dayCol) === lastDay))
      .select(col("day"), col("event_type"), col("n_events"),
        col("sum_val").cast("double").as("sum_value"))
  }

  val mv02Oracle: String =
    """SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day, event_type,
      | CAST(COUNT(*) AS BIGINT) AS n_events,
      | CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // mv03: incremental DEDUP-AWARE corpus report — the non-trivial view:
  // "docs / unique texts / duplicated docs per language" cannot be
  // maintained from per-language scalars alone (an increment that adds a
  // copy of an OLD text flips that old doc into the dup count), so the
  // state is per-(text-hash, lang) copy counts — the same O(distinct
  // texts) scale class as the dedup store, and exactly the state an
  // exact-dedup pipeline already materializes. Roll-forward merges
  // counts (monoid again); the report derives from the MERGED STATE
  // ALONE — dup status via a hash-total self-aggregation of the state,
  // never by re-hashing the corpus. The oracle recomputes from raw
  // documents in one pass; hash-equality proves the view maintenance.
  // ---------------------------------------------------------------------
  private[operators] def hashLangPartials(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("h"), col("lang"))
      .agg(count(lit(1)).as("n"))

  def buildHashState(docs: DataFrame, stateDir: String): Unit =
    hashLangPartials(docs).write.mode("overwrite").parquet(stateDir)

  def rollForwardHashes(s: SparkSession, stateDir: String,
      increment: DataFrame): DataFrame =
    s.read.parquet(stateDir).unionByName(hashLangPartials(increment))
      .groupBy(col("h"), col("lang"))
      .agg(sum(col("n")).as("n"))

  /** Report served from state only: one aggregation for cross-language
    * hash totals (dup status), one per-language rollup. */
  private def dedupReport(state: DataFrame): DataFrame = {
    val st = state.transform(pin)
    val tot = st.groupBy(col("h")).agg(sum(col("n")).as("tot"))
    st.join(tot, Seq("h"))
      .groupBy(col("lang"))
      .agg(sum(col("n")).as("n_docs"),
        count(lit(1)).as("n_unique_texts"),
        sum(when(col("tot") > 1, col("n")).otherwise(lit(0L))).as("n_dup_docs"))
  }

  def mv03DedupReportRollforward(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val stateDir = statePathFor(dir) + "_hl"
    buildHashState(docs.filter(col("doc_id") % 10 =!= 3), stateDir)
    dedupReport(rollForwardHashes(s, stateDir,
      docs.filter(col("doc_id") % 10 === 3)))
  }

  val mv03Oracle: String =
    """WITH g AS (
      | SELECT md5(text) AS h, lang, CAST(COUNT(*) AS BIGINT) AS n
      | FROM documents GROUP BY 1, 2),
      |t AS (SELECT h, SUM(n) AS tot FROM g GROUP BY h)
      |SELECT g.lang,
      | CAST(SUM(g.n) AS BIGINT) AS n_docs,
      | CAST(COUNT(*) AS BIGINT) AS n_unique_texts,
      | CAST(SUM(CASE WHEN t.tot > 1 THEN g.n ELSE 0 END) AS BIGINT) AS n_dup_docs
      |FROM g JOIN t USING (h)
      |GROUP BY g.lang""".stripMargin

  // ---------------------------------------------------------------------
  // mv04: incrementally-maintained TOP-K (the live leaderboard): per-user
  // monoid partials (count + DECIMAL sum) are the state — O(|users|), the
  // rank itself is NEVER stored, because top-k is not a monoid (an
  // increment can promote a user from outside any stored top-k'). Serving
  // ranks the merged state with orderBy+limit — Spark plans
  // TakeOrderedAndProject over the state table (per-partition heads, heap
  // merge), so the serve costs O(|users|), not a corpus scan, and the
  // merge ≡ full-recompute equality is the oracle's hash check.
  // ---------------------------------------------------------------------
  private[operators] def userPartials(ev: DataFrame): DataFrame =
    ev.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2)))
          .cast(DecimalType(18, 2)).as("sum_val"))

  def mv04TopkRollforward(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    val stateDir = statePathFor(dir) + "_topk"
    userPartials(ev.filter(col("event_id") % 10 =!= 3))
      .write.mode("overwrite").parquet(stateDir)
    val merged = s.read.parquet(stateDir)
      .unionByName(userPartials(ev.filter(col("event_id") % 10 === 3)))
      .groupBy(col("user_id"))
      .agg(sum(col("n_events")).as("n_events"),
        sum(col("sum_val")).cast(DecimalType(18, 2)).as("sum_val"))
    merged.orderBy(col("n_events").desc, col("user_id").asc).limit(10)
      .select(col("user_id"), col("n_events"),
        col("sum_val").cast("double").as("sum_val"))
  }

  val mv04Oracle: String =
    """SELECT user_id, n_events, CAST(sum_val AS DOUBLE) AS sum_val FROM (
      | SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS sum_val
      | FROM events GROUP BY user_id) t
      |ORDER BY n_events DESC, user_id ASC LIMIT 10""".stripMargin

  // ---------------------------------------------------------------------
  // mv05: incremental HISTOGRAM maintenance — the mergeable-quantile view:
  // the state is a per-(event_type, cent) count histogram (counts are a
  // monoid, so the q57 percentile trick becomes INCREMENTAL: merge the
  // day's histogram partials, never rescan the corpus), and serving walks
  // the tiny merged histogram's inverted CDF for exact p50/p95 — a
  // mergeable quantile sketch with zero error. This is the standing
  // "latency dashboard" view: at 100 TB the state is O(|types| ×
  // |distinct cents|) regardless of event count, the roll-forward touches
  // state + increment only, and the serve walk never exceeds dictionary
  // size. Oracle = one-pass recompute over all events: hash-equality is
  // the merge-correctness proof, exactly mv01's law applied to
  // percentiles (the aggregate everyone assumes CAN'T be maintained
  // incrementally — it can, when kept as a histogram).
  // ---------------------------------------------------------------------
  private[operators] def histPartials(ev: DataFrame): DataFrame =
    ev.groupBy(col("event_type"),
        expr("cast(floor(value * 100) as bigint)").as("v100"))
      .agg(count(lit(1)).as("cnt"))

  /** One micro-batch merge into the type-partitioned histogram state —
    * mv05's streaming front door ([[graft.streaming.EventStream
    * .histogramStream]]), mergeEventBatch's shape on the quantile view:
    * the batch's histogram partials merge into ONLY the event_type
    * partitions the batch touches (pruned state read + dynamic partition
    * overwrite); count monoids make any batch interleaving equal the
    * batch recompute. Per-batch I/O is O(touched types × distinct
    * cents) — dictionary-sized, never the stream. */
  def mergeHistBatch(batch: DataFrame, stateDir: String): Unit = {
    val s = batch.sparkSession
    val incr = histPartials(batch).transform(pin)
    val types = incr.select(col("event_type")).distinct()
      .collect().map(_.getString(0))
    if (types.nonEmpty) {
      val existing =
        if (new java.io.File(stateDir).exists())
          s.read.parquet(stateDir)
            .filter(col("event_type").isin(types.toSeq: _*))
        else incr.limit(0)
      existing.unionByName(incr)
        .groupBy(col("event_type"), col("v100"))
        .agg(sum(col("cnt")).as("cnt"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_type").parquet(stateDir)
    }
  }

  def mv05HistRollforward(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    val stateDir = statePathFor(dir) + "_hist"
    histPartials(ev.filter(col("event_id") % 10 =!= 3))
      .write.mode("overwrite").parquet(stateDir)
    val merged = s.read.parquet(stateDir)
      .unionByName(histPartials(ev.filter(col("event_id") % 10 === 3)))
      .groupBy(col("event_type"), col("v100"))
      .agg(sum(col("cnt")).as("cnt"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("v100"))
    val wAll = Window.partitionBy(col("event_type"))
    merged
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(wAll))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n"),
        min(when(col("cum") * 2 >= col("n"), col("v100"))).as("p50_v100"),
        min(when(col("cum") >= expr("(n * 95 + 99) div 100"), col("v100")))
          .as("p95_v100"),
        max(col("v100")).as("max_v100"))
  }

  val mv05Oracle: String =
    """WITH h AS (
      | SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS v100,
      |  COUNT(*) AS cnt
      | FROM events GROUP BY 1, 2),
      |c AS (
      | SELECT event_type, v100, cnt,
      |  SUM(cnt) OVER (PARTITION BY event_type ORDER BY v100
      |    ROWS UNBOUNDED PRECEDING) AS cum,
      |  SUM(cnt) OVER (PARTITION BY event_type) AS n
      | FROM h)
      |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
      | MIN(CASE WHEN cum * 2 >= n THEN v100 END) AS p50_v100,
      | MIN(CASE WHEN cum >= (n * 95 + 99) // 100 THEN v100 END) AS p95_v100,
      | MAX(v100) AS max_v100
      |FROM c GROUP BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // mv06: SCD2 DIMENSION roll-forward — incremental maintenance of the
  // ds15 slowly-changing-dimension table. The nightly reality of a
  // warehouse dimension: snapshots v1..v3 were merged once (ds15's
  // islands pass) and persisted; when snapshot v4 lands, the open
  // intervals are reconciled against it with ONE full-outer join —
  // unchanged rows stay open, changed/deleted rows close at v4,
  // changed/new/re-inserted keys open a fresh [4, ∞) interval — and the
  // closed history passes through untouched. The state read + one
  // snapshot is O(|dimension| + |snapshot|); the full rebuild the oracle
  // runs is O(Σ snapshots) and re-windows ALL of history — the gap that
  // grows with every snapshot. Hash-equality against the 4-snapshot
  // islands recompute is the maintenance-correctness proof (mv01's law
  // on interval state). Exact-IEEE balance math from the same parquet on
  // both sides, ds15's convention.
  // ---------------------------------------------------------------------
  private val scd2NewVer = 4

  /** Reconcile the persisted SCD2 state (built through ver `newVer-1`)
    * with snapshot `snap(key, bal)` of version `newVer`. Touches state +
    * snapshot only. */
  def rollForwardScd2(s: SparkSession, stateDir: String,
      snap: DataFrame, newVer: Int): DataFrame = {
    val st = s.read.parquet(stateDir)
    val closed = st.filter(col("valid_to").isNotNull)
    val cur = st.filter(col("valid_to").isNull)
      .select(col("c_custkey"), col("acctbal"), col("valid_from"))
    val j = cur.join(snap.select(col("c_custkey"), col("bal")),
      Seq("c_custkey"), "full_outer")
    val unchanged = j
      .filter(col("acctbal").isNotNull && col("bal").isNotNull &&
        col("acctbal") === col("bal"))
      .select(col("c_custkey"), col("acctbal"), col("valid_from"),
        lit(null).cast("int").as("valid_to"))
    val closedNow = j
      .filter(col("acctbal").isNotNull &&
        (col("bal").isNull || col("acctbal") =!= col("bal")))
      .select(col("c_custkey"), col("acctbal"), col("valid_from"),
        lit(newVer).cast("int").as("valid_to"))
    val opened = j
      .filter(col("bal").isNotNull &&
        (col("acctbal").isNull || col("acctbal") =!= col("bal")))
      .select(col("c_custkey"), col("bal").as("acctbal"),
        lit(newVer).cast("int").as("valid_from"),
        lit(null).cast("int").as("valid_to"))
    closed.unionByName(unchanged).unionByName(closedNow).unionByName(opened)
  }

  def mv06Scd2Rollforward(s: SparkSession, dir: String): DataFrame = {
    val stateDir = statePathFor(dir) + "_scd2"
    Curation.ds15Scd2(s, dir).write.mode("overwrite").parquet(stateDir)
    val cust = Tables(s, dir, "customer")
    val b2 = when(col("c_custkey") % 7 === 0, col("c_acctbal") + 100.0)
      .otherwise(col("c_acctbal"))
    val b3 = when(col("c_custkey") % 3 === 0, b2 + 50.0).otherwise(b2)
    val snap4 = cust.filter(col("c_custkey") % 13 =!= 0)
      .select(col("c_custkey"),
        when(col("c_custkey") % 2 === 0, b3 + 25.0).otherwise(b3).as("bal"))
    rollForwardScd2(s, stateDir, snap4, scd2NewVer)
  }

  val mv06Oracle: String =
    """WITH vb AS (
      | SELECT c_custkey, c_acctbal AS b1,
      |  CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0 ELSE c_acctbal END AS b2
      | FROM customer),
      |vb3 AS (
      | SELECT c_custkey, b1, b2,
      |  CASE WHEN c_custkey % 3 = 0 THEN b2 + 50.0 ELSE b2 END AS b3
      | FROM vb),
      |snaps AS (
      | SELECT c_custkey, b1 AS bal, 1 AS ver FROM vb3 WHERE c_custkey % 5 != 0
      | UNION ALL
      | SELECT c_custkey, b2, 2 FROM vb3
      | UNION ALL
      | SELECT c_custkey, b3, 3 FROM vb3 WHERE c_custkey % 11 != 0
      | UNION ALL
      | SELECT c_custkey,
      |  CASE WHEN c_custkey % 2 = 0 THEN b3 + 25.0 ELSE b3 END, 4
      | FROM vb3 WHERE c_custkey % 13 != 0),
      |brks AS (
      | SELECT c_custkey, bal, ver,
      |  CASE WHEN LAG(ver) OVER w IS NULL OR LAG(ver) OVER w != ver - 1
      |        OR LAG(bal) OVER w != bal THEN 1 ELSE 0 END AS brk
      | FROM snaps WINDOW w AS (PARTITION BY c_custkey ORDER BY ver)),
      |segs AS (
      | SELECT c_custkey, bal, ver,
      |  SUM(brk) OVER (PARTITION BY c_custkey ORDER BY ver) AS seg
      | FROM brks)
      |SELECT c_custkey, MIN(bal) AS acctbal,
      | CAST(MIN(ver) AS INT) AS valid_from,
      | CAST(CASE WHEN MAX(ver) = 4 THEN NULL ELSE MAX(ver) + 1 END AS INT) AS valid_to
      |FROM segs GROUP BY c_custkey, seg""".stripMargin

  // ---------------------------------------------------------------------
  // mv07: incremental maintenance of a JOIN view — the delta-join algebra
  // (Blakeley et al. 1986; the workhorse of every streaming/IVM engine)
  // beside the aggregate views above: for V = O ⋈ C and disjoint deltas
  // (O' = O ∪ ΔO, C' = C ∪ ΔC),
  //   V' = V  ∪  ΔO ⋈ C'  ∪  O ⋈ ΔC
  // — three DISJOINT terms (each joined pair is covered by exactly one:
  // (O,C) by the state, (ΔO, anything) by term 2, (O, ΔC) by term 3), so
  // plain unions, no dedup. The maintained view never re-runs the big
  // O ⋈ C join; the deltas join against the OTHER side's relations —
  // the standard IVM cost of |ΔO ⋈ C| + |O ⋈ ΔC|, which at 100 TB is a
  // broadcast of ΔC against bucketed-by-custkey orders (and the dim side
  // C' is broadcast-small by nature), versus a full fact×dim re-join.
  // Hash-equality against the oracle's one-shot O' ⋈ C' recompute IS the
  // delta-algebra correctness proof, mv01's law extended from monoid
  // aggregates to joins.
  // ---------------------------------------------------------------------
  def mv07JoinRollforward(s: SparkSession, dir: String): DataFrame = {
    val stateDir = statePathFor(dir) + "_jv"
    val orders = Tables(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val cust = Tables(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val oBase = orders.filter(col("o_orderkey") % 7 =!= 0)
    val oDelta = orders.filter(col("o_orderkey") % 7 === 0)
    val cBase = cust.filter(col("c_custkey") % 11 =!= 0)
    val cDelta = cust.filter(col("c_custkey") % 11 === 0)
    def view(o: DataFrame, c: DataFrame): DataFrame =
      o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("o_custkey"), col("c_nationkey"),
          col("o_totalprice"))
    // nightly build: materialize the standing view
    view(oBase, cBase).write.mode("overwrite").parquet(stateDir)
    // roll-forward: state ∪ ΔO⋈C' ∪ O⋈ΔC — never re-joins O⋈C
    s.read.parquet(stateDir)
      .unionByName(view(oDelta, cust))
      .unionByName(view(oBase, cDelta))
  }

  val mv07Oracle: String =
    """SELECT o_orderkey, o_custkey, c_nationkey, o_totalprice
      |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin

  // ---------------------------------------------------------------------
  // mv08: incremental EXACT DISTINCT-COUNT view — per-language vocabulary
  // size kept current across corpus batches. COUNT(DISTINCT) is the one
  // headline aggregate that is NOT a monoid on its own outputs (mv01's
  // partials can't merge it), so the maintainable state is the DISTINCT
  // KEY SET itself: state = distinct (lang, tok) pairs; roll-forward =
  // distinct(state ∪ distinct(increment)) — set union IS the monoid, and
  // serving counts the state per group. The O(vocab) state is the honest
  // price of exactness (the sketch alternative is q29's HLL — mergeable,
  // approximate; this view is its exact sibling), and vocabularies grow
  // sublinearly in corpus size (Heaps' law), so the state stays a small
  // fraction of the data it summarizes. At scale the state table is
  // partitioned by lang and the merge is one hash-distinct over
  // state + increment — never a corpus rescan. Oracle = one-pass
  // COUNT(DISTINCT) over the whole corpus: hash-equality is mv01's law
  // for the set-union monoid.
  // ---------------------------------------------------------------------
  def mv08DistinctRollforward(s: SparkSession, dir: String): DataFrame = {
    val stateDir = statePathFor(dir) + "_dv"
    val docs = Tables(s, dir, "documents")
    def pairs(d: DataFrame): DataFrame =
      d.select(col("lang"),
          explode(expr("filter(split(text, ' '), x -> x != '')")).as("tok"))
        .distinct()
    pairs(docs.filter(col("doc_id") % 10 =!= 3))
      .write.mode("overwrite").parquet(stateDir)
    s.read.parquet(stateDir)
      .unionByName(pairs(docs.filter(col("doc_id") % 10 === 3)))
      .distinct()
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_distinct_tokens"))
  }

  val mv08Oracle: String =
    """WITH toks AS (
      | SELECT lang, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS tok
      | FROM documents)
      |SELECT lang, CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct_tokens
      |FROM toks GROUP BY lang""".stripMargin

  // ---------------------------------------------------------------------
  // mv09: RETRACTABLE view — maintenance under DELETES, the case mv01's
  // insert-only monoid silently cannot handle. The classical answer
  // (Z-sets / signed multisets: Koch 2010; DBSP, Budiu et al. 2023) is
  // to carry every delta with a WEIGHT (+1 insert, −1 retraction) and
  // keep the view's partials as weighted sums: count = Σw, sum = Σw·x —
  // a group (not just a monoid), so deletions merge exactly like
  // insertions and merge(state, +inc, −del) ≡ recompute over the
  // surviving rows, which is what the oracle runs. max/min are
  // DELIBERATELY absent: they are not group aggregates (retracting the
  // max needs auxiliary state — mv01 keeps max under its insert-only
  // contract; the contrast is the point). Scenario: base = doc_id%10≠3,
  // today inserts %10=3 and retracts %10=7.
  //
  // Scale shape: identical to mv01 — O(|groups|) state, one map-side-
  // combined pass over each delta, zero base rescans.
  // ---------------------------------------------------------------------
  def mv09ZsetRollforward(s: SparkSession, dir: String): DataFrame = {
    val stateDir = statePathFor(dir) + "_zs"
    val docs = Tables(s, dir, "documents")
    def signed(d: DataFrame, w: Long): DataFrame =
      d.select(col("lang"), lit(w).as("w"), col("n_chars"),
          size(expr("filter(split(text, ' '), x -> x != '')")).cast("long")
            .as("n_toks"))
        .groupBy(col("lang"))
        .agg(sum(col("w")).as("n_docs"),
          sum(col("w") * col("n_chars")).as("sum_chars"),
          sum(col("w") * col("n_toks")).as("sum_tokens"))
    signed(docs.filter(col("doc_id") % 10 =!= 3), 1L)
      .write.mode("overwrite").parquet(stateDir)
    s.read.parquet(stateDir)
      .unionByName(signed(docs.filter(col("doc_id") % 10 === 3), 1L))
      .unionByName(signed(docs.filter(col("doc_id") % 10 === 7), -1L))
      .groupBy(col("lang"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("sum_chars")).as("sum_chars"),
        sum(col("sum_tokens")).as("sum_tokens"))
      // Z-set serving drops net-zero rows: a group whose members were all
      // retracted must vanish, as it does in the recompute.
      .filter(col("n_docs") > 0)
  }

  val mv09Oracle: String =
    """WITH t AS (
      | SELECT lang, n_chars,
      |  CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS BIGINT) AS n_toks
      | FROM documents WHERE doc_id % 10 != 7)
      |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      | CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      | CAST(SUM(n_toks) AS BIGINT) AS sum_tokens
      |FROM t GROUP BY lang""".stripMargin

  // ---------------------------------------------------------------------
  // mv10: MIN/MAX roll-forward UNDER DELETIONS — the aggregate mv09's
  // Z-sets cannot retract: count/sum invert (subtract the delta), but
  // when the minimum itself is deleted the new minimum is NOT derivable
  // from (old min, delta) — the classic non-invertible-aggregate problem
  // of incremental view maintenance. The standard engine answer (Flink's
  // retractable min/max state, DBToaster's re-evaluation terms) is a
  // BOUNDED SYNOPSIS: keep the k most extreme distinct values per group
  // with exact multiplicities. Deletions inside the synopsis fence
  // decrement; the served extreme is the best surviving synopsis entry;
  // only when a group's synopsis is fully exhausted (k successive
  // extremes all deleted — rare by construction) does the maintainer pay
  // a TARGETED per-group rescan of the current multiset, never a full
  // recompute.
  //
  // Correctness invariant (MatViewSpec): every value ≤ the min-fence
  // (resp. ≥ the max-fence) that currently exists is in the synopsis
  // with its exact count — base stored them, in-fence deltas merged — so
  // a surviving synopsis entry IS the group extreme, and an empty
  // synopsis certifies "all current values lie beyond the fence", making
  // the rescan decision sound rather than heuristic.
  //
  // Scale shape: state is O(|groups|·k); the delta pass is map-side
  // combined; the rescan path is a left-semi join that touches only
  // exhausted groups (zero of them on this data — the spec forces one).
  // ---------------------------------------------------------------------
  private[operators] val mmK = 3

  /** Write the bounded min/max synopsis + group totals for `base`
    * (schema: lang, v) under `path`. */
  private[operators] def minMaxState(base: DataFrame, path: String): Unit = {
    val vc = base.groupBy(col("lang"), col("v")).agg(count(lit(1)).as("cnt"))
    val wAsc = Window.partitionBy(col("lang")).orderBy(col("v").asc)
    val wDesc = Window.partitionBy(col("lang")).orderBy(col("v").desc)
    vc.withColumn("rk", row_number().over(wAsc)).filter(col("rk") <= mmK)
      .select(col("lang"), col("v"), col("cnt"), lit("min").as("side"))
      .unionByName(
        vc.withColumn("rk", row_number().over(wDesc)).filter(col("rk") <= mmK)
          .select(col("lang"), col("v"), col("cnt"), lit("max").as("side")))
      .write.mode("overwrite").parquet(path + "/cand")
    base.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .write.mode("overwrite").parquet(path + "/n")
  }

  /** Merge a signed delta (lang, v, w with w=±1 per row occurrence) into
    * the synopsis at `path` and serve (lang, n_docs, min_v, max_v).
    * `cur` (lang, v) is the CURRENT full multiset, consulted ONLY for
    * groups whose synopsis is exhausted. */
  private[operators] def minMaxRollForward(
      s: SparkSession, path: String, delta0: DataFrame, cur: DataFrame): DataFrame = {
    val st = s.read.parquet(path + "/cand")
    val n0 = s.read.parquet(path + "/n")
    val delta = delta0.groupBy(col("lang"), col("v")).agg(sum(col("w")).as("w"))
      .transform(pin) // read once per side
    val nTot = n0
      .unionByName(delta.groupBy(col("lang")).agg(sum(col("w")).as("n_docs")))
      .groupBy(col("lang")).agg(sum(col("n_docs")).as("n_docs"))
      .filter(col("n_docs") > 0)
      .transform(pin) // read by both sides' hole probes + final join
    def serve(side: String): DataFrame = {
      val isMin = side == "min"
      val cand0 = st.filter(col("side") === side).select(col("lang"), col("v"), col("cnt"))
      val fence = cand0.groupBy(col("lang"))
        .agg((if (isMin) max(col("v")) else min(col("v"))).as("fence"))
      // groups new in the delta have no fence — everything is in-fence
      val inFence =
        if (isMin) col("v") <= coalesce(col("fence"), lit(Long.MaxValue))
        else col("v") >= coalesce(col("fence"), lit(Long.MinValue))
      val merged = cand0
        .unionByName(delta.join(fence, Seq("lang"), "left").filter(inFence)
          .select(col("lang"), col("v"), col("w").as("cnt")))
        .groupBy(col("lang"), col("v")).agg(sum(col("cnt")).as("cnt"))
        .filter(col("cnt") > 0)
      val served = merged.groupBy(col("lang"))
        .agg((if (isMin) min(col("v")) else max(col("v"))).as(s"${side}_v"))
      // alive groups with an exhausted synopsis → targeted rescan
      val holes = nTot.select("lang")
        .join(served.select("lang"), Seq("lang"), "left_anti")
      served.unionByName(
        cur.join(holes, Seq("lang"), "left_semi")
          .groupBy(col("lang"))
          .agg((if (isMin) min(col("v")) else max(col("v"))).as(s"${side}_v")))
    }
    nTot.join(serve("min"), Seq("lang")).join(serve("max"), Seq("lang"))
      .select(col("lang"), col("n_docs"), col("min_v"), col("max_v"))
  }

  def mv10MinmaxRollforward(s: SparkSession, dir: String): DataFrame = {
    val path = statePathFor(dir) + "_mm"
    val docs = Tables(s, dir, "documents")
    def kv(d: DataFrame) = d.select(col("lang"), col("n_chars").as("v"))
    minMaxState(kv(docs.filter(col("doc_id") % 10 =!= 3)), path)
    val delta = kv(docs.filter(col("doc_id") % 10 === 3)).withColumn("w", lit(1L))
      .unionByName(
        kv(docs.filter(col("doc_id") % 10 === 7)).withColumn("w", lit(-1L)))
    minMaxRollForward(s, path, delta, kv(docs.filter(col("doc_id") % 10 =!= 7)))
      .select(col("lang"), col("n_docs"),
        col("min_v").as("min_chars"), col("max_v").as("max_chars"))
  }

  val mv10Oracle: String =
    """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      | CAST(MIN(n_chars) AS BIGINT) AS min_chars,
      | CAST(MAX(n_chars) AS BIGINT) AS max_chars
      |FROM documents WHERE doc_id % 10 != 7 GROUP BY lang""".stripMargin

  // ---------------------------------------------------------------------
  // mv11: TOP-K roll-forward UNDER DELETIONS — mv04 maintains a top-k
  // leaderboard insert-only; deleting a leader needs mv10's bounded-
  // synopsis discipline, but over RANKED ROWS rather than extreme
  // values: state = each group's top-(k+buffer) rows (k=3, buffer 3).
  // Deletions anti-join the synopsis; the serve is correct as long as
  // ≥ k base-side synopsis rows survive (every excluded base row ranks
  // below every synopsis row, so it can never enter the top-k while k
  // synopsis rows stand); the sound rescan trigger is therefore
  // survivors < min(k, base rows remaining) — tracked with one
  // per-group delete count, no base rescan to decide. Contract: deletes
  // reference BASE rows (as any CDC delete does); inserts are new keys.
  // ---------------------------------------------------------------------
  private val tkK = 3
  private val tkBuf = 6

  private[operators] def topKState(base: DataFrame, path: String): Unit = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("v").desc, col("doc_id").asc)
    base.withColumn("rk", row_number().over(w)).filter(col("rk") <= tkBuf)
      .select(col("lang"), col("doc_id"), col("v"))
      .write.mode("overwrite").parquet(path + "/cand")
    base.groupBy(col("lang")).agg(count(lit(1)).as("n_base"))
      .write.mode("overwrite").parquet(path + "/n")
  }

  private[operators] def topKRollForward(s: SparkSession, path: String,
      ins: DataFrame, del: DataFrame, cur: DataFrame): DataFrame = {
    val st = s.read.parquet(path + "/cand")
    val n0 = s.read.parquet(path + "/n")
    val surv = st.join(del, Seq("lang", "doc_id"), "left_anti").transform(pin)
    val baseRem = n0
      .join(del.groupBy(col("lang")).agg(count(lit(1)).as("n_del")), Seq("lang"), "left")
      .select(col("lang"), (col("n_base") - coalesce(col("n_del"), lit(0L))).as("base_rem"))
    val holes = baseRem
      .join(surv.groupBy(col("lang")).agg(count(lit(1)).as("n_surv")), Seq("lang"), "left")
      .filter(coalesce(col("n_surv"), lit(0L)) < least(lit(tkK.toLong), col("base_rem")))
      .select(col("lang")).transform(pin)
    def top3(d: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("v").desc, col("doc_id").asc)
      d.withColumn("rk", row_number().over(w)).filter(col("rk") <= tkK)
        .select(col("lang"), col("rk"), col("doc_id"), col("v"))
    }
    top3(surv.unionByName(ins)).join(holes, Seq("lang"), "left_anti")
      .unionByName(top3(cur.join(holes, Seq("lang"), "left_semi")))
  }

  def mv11TopkRollforward(s: SparkSession, dir: String): DataFrame = {
    val path = statePathFor(dir) + "_tk"
    val docs = Tables(s, dir, "documents")
    def kv(d: DataFrame) = d.select(col("lang"), col("doc_id"), col("n_chars").as("v"))
    topKState(kv(docs.filter(col("doc_id") % 10 =!= 3)), path)
    topKRollForward(s, path,
      ins = kv(docs.filter(col("doc_id") % 10 === 3)),
      del = docs.filter(col("doc_id") % 10 === 7).select(col("lang"), col("doc_id")),
      cur = kv(docs.filter(col("doc_id") % 10 =!= 7)))
      .select(col("lang"), col("rk"), col("doc_id"), col("v").as("n_chars"))
  }

  val mv11Oracle: String =
    """SELECT lang, CAST(rk AS INT) AS rk, doc_id,
      | CAST(n_chars AS BIGINT) AS n_chars FROM (
      | SELECT lang, doc_id, n_chars,
      |  ROW_NUMBER() OVER (PARTITION BY lang
      |    ORDER BY n_chars DESC, doc_id ASC) AS rk
      | FROM documents WHERE doc_id % 10 != 7) t
      |WHERE rk <= 3""".stripMargin

  // ---------------------------------------------------------------------
  // mv12: SLIDING-WINDOW view — "last 3 days by event type", kept
  // current as days arrive. The third retraction discipline in the
  // family: mv09 retracts row-by-row (Z-sets), mv10/mv11 retract
  // against a bounded synopsis, and a TIME window needs neither —
  // state is per-(day, type) monoid partials, the new day MERGES in
  // (one map-side-combined pass over the delta), and expiry is a
  // PARTITION FILTER on the day column at serve time: dropping a whole
  // day never does subtraction, so the non-invertibility that forced
  // mv10's synopsis never arises. This is exactly how a streaming
  // warehouse (Druid segments, ClickHouse TTL parts) ages data out.
  // State stays O(window × |types|) if old partials are physically
  // dropped — the serve filter IS the eviction criterion.
  // ---------------------------------------------------------------------
  def mv12SlidingRollforward(s: SparkSession, dir: String): DataFrame = {
    val path = statePathFor(dir) + "_sw"
    val ev = Tables(s, dir, "events").select(
      expr("unix_timestamp(ts) div 86400").as("day"), col("event_type"),
      expr("cast(floor(value * 1000) as bigint)").as("v"))
    val maxDay = ev.agg(max(col("day")).as("md"))
    ev.crossJoin(broadcast(maxDay)).filter(col("day") < col("md"))
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_milli"))
      .write.mode("overwrite").parquet(path)
    val delta = ev.crossJoin(broadcast(maxDay)).filter(col("day") === col("md"))
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_milli"))
    s.read.parquet(path).unionByName(delta)
      .crossJoin(broadcast(maxDay))
      .filter(col("day") > col("md") - 3)
      .groupBy(col("event_type"))
      .agg(sum(col("n")).as("n"), sum(col("sum_milli")).as("sum_milli"))
  }

  val mv12Oracle: String =
    """WITH e AS (
      | SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day, event_type,
      |  CAST(floor(value * 1000) AS BIGINT) AS v
      | FROM events),
      |md AS (SELECT MAX(day) AS md FROM e)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      | CAST(SUM(v) AS BIGINT) AS sum_milli
      |FROM e CROSS JOIN md WHERE day > md - 3
      |GROUP BY 1""".stripMargin

  val queries: Map[String, Q] = Map(
    "mv12_sliding_rollforward" -> (mv12SlidingRollforward _),
    "mv11_topk_rollforward" -> (mv11TopkRollforward _),
    "mv10_minmax_rollforward" -> (mv10MinmaxRollforward _),
    "mv09_zset_rollforward" -> (mv09ZsetRollforward _),
    "mv08_distinct_rollforward" -> (mv08DistinctRollforward _),
    "mv07_join_rollforward" -> (mv07JoinRollforward _),
    "mv06_scd2_rollforward" -> (mv06Scd2Rollforward _),
    "mv05_hist_rollforward" -> (mv05HistRollforward _),
    "mv01_agg_rollforward" -> (mv01AggRollforward _),
    "mv02_event_rollforward" -> (mv02EventRollforward _),
    "mv03_dedup_report_rollforward" -> (mv03DedupReportRollforward _),
    "mv04_topk_rollforward" -> (mv04TopkRollforward _))

  val oracles: Map[String, String] = Map(
    "mv12_sliding_rollforward" -> mv12Oracle,
    "mv11_topk_rollforward" -> mv11Oracle,
    "mv10_minmax_rollforward" -> mv10Oracle,
    "mv09_zset_rollforward" -> mv09Oracle,
    "mv08_distinct_rollforward" -> mv08Oracle,
    "mv07_join_rollforward" -> mv07Oracle,
    "mv06_scd2_rollforward" -> mv06Oracle,
    "mv05_hist_rollforward" -> mv05Oracle,
    "mv01_agg_rollforward" -> mv01Oracle,
    "mv02_event_rollforward" -> mv02Oracle,
    "mv03_dedup_report_rollforward" -> mv03Oracle,
    "mv04_topk_rollforward" -> mv04Oracle)
}
