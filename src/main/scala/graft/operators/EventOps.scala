package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Event-time operators over the `events` table — the batch counterparts of
  * the Structured Streaming surface in [[graft.streaming.EventStream]]
  * (SURVEY.md §2.D row D6: the reference is batch-only; the north star adds
  * event windows).
  *
  * Timestamp convention: `events.ts` has shipped at nanosecond and
  * microsecond precision across testdata generations (see [[graft.Tables]]),
  * so oracle-checked results never expose raw timestamps — they use
  * floor-to-second epochs (`unix_timestamp`) or hour buckets, which agree
  * exactly on both engines under every encoding.
  */
object EventOps {
  import Relational.{Q, pin}

  // ---------------------------------------------------------------------
  // q20: tumbling window aggregate (D6 — window(ts, ...) equivalent in
  // batch; streaming twin in graft.streaming.EventStream).
  // ---------------------------------------------------------------------
  def q20TumblingWindow(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    ev.groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("hour_epoch"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
  }

  val q20Oracle: String =
    """SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour_epoch, event_type,
      | COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // q38: windowed top-k heavy hitters — per hour window, the k most active
  // users (count DESC, user_id ASC). The batch twin of
  // EventStream.topUsersPerWindow; the rank-limit filter lets Spark plan
  // WindowGroupLimit (partial per-map-task top-k before the shuffle),
  // ds07's scale shape over a time dimension.
  // ---------------------------------------------------------------------
  private[graft] val windowTopK = 3

  def q38WindowTopk(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    val counts = ev.groupBy(
      unix_timestamp(date_trunc("hour", col("ts"))).as("hour_epoch"),
      col("user_id"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("hour_epoch"))
      .orderBy(col("n").desc, col("user_id").asc)
    counts.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= windowTopK)
  }

  val q38Oracle: String =
    s"""SELECT hour_epoch, user_id, n, CAST(rnk AS INT) AS rnk FROM (
       | SELECT hour_epoch, user_id, n,
       |  ROW_NUMBER() OVER (PARTITION BY hour_epoch ORDER BY n DESC, user_id ASC) AS rnk
       | FROM (
       |  SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour_epoch,
       |   user_id, COUNT(*) AS n
       |  FROM events GROUP BY 1, 2) c) t
       |WHERE rnk <= $windowTopK""".stripMargin

  // ---------------------------------------------------------------------
  // q21: running (cumulative) aggregate per key — ordered window frame.
  // Decimal accumulation keeps the prefix sums exact at any partitioning.
  // ---------------------------------------------------------------------
  def q21RunningSum(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.select(col("event_id"), col("user_id"),
      sum(col("value").cast(DecimalType(18, 2))).over(w).cast("double").as("running_value"))
  }

  val q21Oracle: String =
    """SELECT event_id, user_id,
      | CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id ORDER BY event_id ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_value
      |FROM events""".stripMargin

  // ---------------------------------------------------------------------
  // q49: LOCF gap-fill (last observation carried forward) — the
  // feature-engineering staple "value of the last purchase as of every
  // event", written as last(expr, ignoreNulls) over an unbounded-preceding
  // frame instead of the naive as-of self-join (q32's shape): ONE window
  // pass per key, no join, no state blow-up — at 100 TB this is a single
  // hash-shuffle on user_id with a per-key streaming frame, and the same
  // IGNORE NULLS text runs verbatim in DuckDB. Ordered by event_id
  // (q21's portable convention — nano-vs-micro timestamp truncation can
  // never reorder ties). Nulls before a user's first purchase stay null:
  // LOCF fills forward only, never backward.
  // ---------------------------------------------------------------------
  def q49Locf(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.select(col("event_id"), col("user_id"),
      last(when(col("event_type") === "purchase", col("value")),
        ignoreNulls = true).over(w).as("last_purchase_value"))
  }

  val q49Oracle: String =
    """SELECT event_id, user_id,
      | LAST_VALUE(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
      |  OVER (PARTITION BY user_id ORDER BY event_id ROWS UNBOUNDED PRECEDING)
      |  AS last_purchase_value
      |FROM events""".stripMargin

  // ---------------------------------------------------------------------
  // q22: gap-based sessionization — lag + cumulative flag sum. The batch
  // twin of flatMapGroupsWithState sessionization. 1800 s inactivity gap.
  // Epochs floored to whole seconds so micro/nano precision can't diverge.
  // ---------------------------------------------------------------------
  def q22Sessionize(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    val es = unix_timestamp(col("ts"))
    val gap = es - lag(es, 1).over(w)
    ev.withColumn("new_s", when(gap.isNull || gap > 1800, 1).otherwise(0))
      .withColumn("session_id",
        sum(col("new_s")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("event_id"), col("user_id"), col("session_id").cast("long").as("session_id"))
  }

  val q22Oracle: String =
    """WITH e AS (SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events),
      |g AS (SELECT event_id, user_id,
      |  CASE WHEN es - LAG(es) OVER (PARTITION BY user_id ORDER BY event_id) IS NULL
      |        OR es - LAG(es) OVER (PARTITION BY user_id ORDER BY event_id) > 1800
      |       THEN 1 ELSE 0 END AS new_s FROM e)
      |SELECT event_id, user_id,
      | CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      |FROM g""".stripMargin

  // ---------------------------------------------------------------------
  // q23: semi-structured JSON path extraction (B1/A8 — json_get! navigation,
  // /root/reference/src/json.rs:1-42; per-line serde_json parse,
  // src/wiki_data_line.rs:350).
  // ---------------------------------------------------------------------
  def q23JsonExtract(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    ev.select(col("event_id"),
      get_json_object(col("props"), "$.k").cast("long").as("k"))
  }

  val q23Oracle: String =
    """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events""".stripMargin

  // ---------------------------------------------------------------------
  // q24: argmax-latest per key (B13 — latest-population selection: keep the
  // value whose time is max, /root/reference/src/wiki_data_line.rs:165-240).
  // max_by over the unique event_id (the deterministic stand-in for the
  // reference's (time, array-position) ordering).
  // ---------------------------------------------------------------------
  def q24ArgmaxLatest(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    ev.groupBy(col("user_id"))
      .agg(max_by(struct(col("event_id"), col("value")), col("event_id")).as("m"))
      .select(col("user_id"), col("m.event_id").as("last_event"),
        col("m.value").as("last_value"))
  }

  val q24Oracle: String =
    """SELECT user_id, arg_max(event_id, event_id) AS last_event,
      | arg_max(value, event_id) AS last_value
      |FROM events GROUP BY user_id""".stripMargin

  // ---------------------------------------------------------------------
  // q30: interval-join click attribution — for each click, the latest view
  // by the same user within the 10 minutes before it. The batch twin of
  // the watermarked stream-stream join in EventStream.attributedClicks.
  // Plan shape: equi-join on user_id with the time range as a residual
  // condition (stays hash-joinable); per-click winner via max_by — no
  // window over the joined product. All comparisons are on floor-to-second
  // epochs so micro- vs nano-second timestamp precision cannot diverge
  // between engines. At 100 TB you'd additionally bucket both sides by
  // coarse time so a user's full history never co-shuffles.
  // ---------------------------------------------------------------------
  def q30Attribution(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        unix_timestamp(col("ts")).as("ce"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        unix_timestamp(col("ts")).as("ve"))
    clicks.join(views, Seq("user_id"))
      .filter(col("ve") <= col("ce") && col("ve") >= col("ce") - 600)
      .groupBy(col("click_id"), col("user_id"), col("ce"))
      // Winner = latest view, ties broken by view_id — expressed as a
      // struct-ordered max_by so the contract holds for ANY id range
      // (still a map-side-combinable aggregate). The oracle packs the same
      // order into one BIGINT (DuckDB's arg_max takes no struct key),
      // which is equivalent iff view_id < 10^8 — asserted below so a
      // violating id set fails loudly instead of silently diverging.
      .agg(max_by(col("view_id"), struct(col("ve"), col("view_id"))).as("view_id"),
        count(lit(1)).as("n_views"),
        max(col("view_id")).as("__max_vid"))
      .withColumn("view_id",
        when(col("__max_vid") < 100000000L, col("view_id"))
          .otherwise(raise_error(lit("q30: view_id >= 1e8 breaks the oracle's packed max_by key"))))
      .drop("__max_vid")
      .select(col("click_id"), col("user_id"), col("ce").as("click_epoch"),
        col("view_id"), col("n_views"))
  }

  val q30Oracle: String =
    """WITH clicks AS (
      | SELECT event_id AS click_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ce
      | FROM events WHERE event_type = 'click'),
      |views AS (
      | SELECT user_id, event_id AS view_id, CAST(floor(epoch(ts)) AS BIGINT) AS ve
      | FROM events WHERE event_type = 'view')
      |SELECT c.click_id, c.user_id, c.ce AS click_epoch,
      | arg_max(v.view_id, v.ve * 100000000 + v.view_id) AS view_id,
      | COUNT(*) AS n_views
      |FROM clicks c JOIN views v ON c.user_id = v.user_id
      | AND v.ve <= c.ce AND v.ve >= c.ce - 600
      |GROUP BY c.click_id, c.user_id, c.ce""".stripMargin

  // ---------------------------------------------------------------------
  // q32: as-of join — for each click, the most recent view at-or-before it
  // by the same user, unbounded lookback (the canonical ASOF JOIN; q30 is
  // the bounded-interval variant). Spark-first formulation: NO join at
  // all — union both sides tagged, one shuffle on user_id, then a running
  // `last(ignoreNulls)` carries the latest view record forward onto each
  // click row (the distributed merge-scan an ASOF join compiles to in
  // engines that have it natively). A range join here would explode to
  // clicks×views per user before aggregating; this stays O(n log n) per
  // user and needs exactly one exchange. Views are pre-deduped to one per
  // (user, second) — max view_id — so the winner is well-defined when
  // several views share a timestamp. Oracle: DuckDB's native ASOF LEFT
  // JOIN over the same deduped sides.
  // ---------------------------------------------------------------------
  def q32AsofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    val views = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id"), unix_timestamp(col("ts")).as("es"))
      .agg(max(col("event_id")).as("view_id"))
      .select(col("user_id"), col("es"), lit(0).as("tag"),
        struct(col("es").as("ve"), col("view_id")).as("vrec"),
        lit(null).cast("long").as("click_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), unix_timestamp(col("ts")).as("es"), lit(1).as("tag"),
        lit(null).cast("struct<ve:bigint,view_id:bigint>").as("vrec"),
        col("event_id").as("click_id"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("es"), col("tag"), col("click_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    views.unionByName(clicks)
      .withColumn("asof", last(col("vrec"), ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      .select(col("click_id"), col("user_id"), col("es").as("click_epoch"),
        col("asof.view_id").as("view_id"), col("asof.ve").as("view_epoch"))
  }

  val q32Oracle: String =
    """WITH v AS (
      | SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ve, max(event_id) AS view_id
      | FROM events WHERE event_type = 'view' GROUP BY 1, 2),
      |c AS (
      | SELECT event_id AS click_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ce
      | FROM events WHERE event_type = 'click')
      |SELECT c.click_id, c.user_id, c.ce AS click_epoch, v.view_id, v.ve AS view_epoch
      |FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND c.ce >= v.ve""".stripMargin

  // ---------------------------------------------------------------------
  // q33: pivot — one column per event type, counts + exact value sums per
  // user. Spark's pivot with an explicit value list compiles to a single
  // hash aggregate with conditional branches (one shuffle, map-side
  // combinable) — never a per-value self-join. The oracle states the same
  // thing as FILTERed aggregates, which is exactly what the pivot lowers to.
  // ---------------------------------------------------------------------
  def q33Pivot(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    ev.groupBy(col("user_id"))
      .pivot(col("event_type"), Seq("view", "click", "purchase"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum"))
      .select(col("user_id"),
        coalesce(col("view_n"), lit(0L)).as("view_n"), col("view_sum"),
        coalesce(col("click_n"), lit(0L)).as("click_n"), col("click_sum"),
        coalesce(col("purchase_n"), lit(0L)).as("purchase_n"), col("purchase_sum"))
  }

  val q33Oracle: String =
    """SELECT user_id,
      | COUNT(*) FILTER (WHERE event_type = 'view') AS view_n,
      | CAST(SUM(CAST(value AS DECIMAL(18,2))) FILTER (WHERE event_type = 'view') AS DOUBLE) AS view_sum,
      | COUNT(*) FILTER (WHERE event_type = 'click') AS click_n,
      | CAST(SUM(CAST(value AS DECIMAL(18,2))) FILTER (WHERE event_type = 'click') AS DOUBLE) AS click_sum,
      | COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase_n,
      | CAST(SUM(CAST(value AS DECIMAL(18,2))) FILTER (WHERE event_type = 'purchase') AS DOUBLE) AS purchase_sum
      |FROM events GROUP BY user_id""".stripMargin

  // ---------------------------------------------------------------------
  // q34: RANGE-frame window — trailing 1-hour sum/count per user over
  // event time (q21 is the ROWS-frame twin). The frame is defined by the
  // epoch value, not row position, so simultaneous events aggregate
  // identically regardless of their physical order; decimal accumulation
  // keeps the sums partitioning-independent.
  // ---------------------------------------------------------------------
  def q34RangeFrame(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    val w = Window.partitionBy(col("user_id")).orderBy(col("es"))
      .rangeBetween(-3600L, Window.currentRow)
    ev.select(col("event_id"), col("user_id"),
        unix_timestamp(col("ts")).as("es"),
        col("value").cast(DecimalType(18, 2)).as("v"))
      .select(col("event_id"), col("user_id"),
        sum(col("v")).over(w).cast("double").as("trailing_sum"),
        count(lit(1)).over(w).as("trailing_n"))
  }

  val q34Oracle: String =
    """WITH e AS (SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es,
      |  CAST(value AS DECIMAL(18,2)) AS v FROM events)
      |SELECT event_id, user_id,
      | CAST(SUM(v) OVER (PARTITION BY user_id ORDER BY es RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing_sum,
      | COUNT(*) OVER (PARTITION BY user_id ORDER BY es RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS trailing_n
      |FROM e""".stripMargin

  // ---------------------------------------------------------------------
  // q37: interval join — EVERY (click, view) pair of the same user with
  // the view in the 10 minutes before the click. q30 aggregates this to
  // one winner per click; q37 emits the pairs themselves — the batch twin
  // of the watermarked stream-stream join
  // ([[graft.streaming.EventStream.attributedClicks]]), kept in lockstep so
  // the streaming path has a replayable backfill authority. Plan shape:
  // hash equi-join on user_id with the time window as a residual filter —
  // never a cartesian; at 100 TB both sides additionally bucket by coarse
  // time so one user's history never co-shuffles in full.
  // ---------------------------------------------------------------------
  def q37IntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        unix_timestamp(col("ts")).as("ce"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        unix_timestamp(col("ts")).as("ve"))
    clicks.join(views, Seq("user_id"))
      .filter(col("ve") <= col("ce") && col("ve") >= col("ce") - 600)
      .select(col("click_id"), col("view_id"), col("user_id"),
        (col("ce") - col("ve")).as("gap_s"))
  }

  val q37Oracle: String =
    """WITH clicks AS (
      | SELECT event_id AS click_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ce
      | FROM events WHERE event_type = 'click'),
      |views AS (
      | SELECT user_id, event_id AS view_id, CAST(floor(epoch(ts)) AS BIGINT) AS ve
      | FROM events WHERE event_type = 'view')
      |SELECT c.click_id, v.view_id, c.user_id, c.ce - v.ve AS gap_s
      |FROM clicks c JOIN views v ON c.user_id = v.user_id
      | AND v.ve <= c.ce AND v.ve >= c.ce - 600""".stripMargin

  // ---------------------------------------------------------------------
  // q40: funnel analysis — the ORDERED conversion sequence (view → click
  // → purchase) per user, where each stage only counts if it happens at
  // or after the previous stage's first completion (a purchase before
  // ever clicking is not a conversion). Three cascaded min-aggregates,
  // each a hash equi-join on user_id + partial-agg'd min — no windows
  // over the event stream, no per-user sort; at 100 TB each stage's
  // aggregate collapses map-side to one row per user.
  // ---------------------------------------------------------------------
  def q40Funnel(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .select(col("user_id"), col("event_type"),
        unix_timestamp(col("ts")).as("e"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("e")).as("t_view"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, Seq("user_id")).filter(col("e") >= col("t_view"))
      .groupBy(col("user_id")).agg(min(col("e")).as("t_click"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id")).filter(col("e") >= col("t_click"))
      .groupBy(col("user_id")).agg(min(col("e")).as("t_purchase"))
    v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
      .select(col("user_id"), col("t_view"), col("t_click"), col("t_purchase"))
  }

  val q40Oracle: String =
    """WITH e AS (
      | SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS e
      | FROM events),
      |v AS (SELECT user_id, MIN(e) AS t_view FROM e
      |      WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, MIN(e.e) AS t_click FROM e JOIN v USING (user_id)
      |      WHERE e.event_type = 'click' AND e.e >= v.t_view GROUP BY e.user_id),
      |p AS (SELECT e.user_id, MIN(e.e) AS t_purchase FROM e JOIN c USING (user_id)
      |      WHERE e.event_type = 'purchase' AND e.e >= c.t_click GROUP BY e.user_id)
      |SELECT v.user_id, v.t_view, c.t_click, p.t_purchase
      |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)""".stripMargin

  // ---------------------------------------------------------------------
  // q41: retention cohorts — users grouped by first-active hour, counted
  // at each subsequent hour offset (the triangle every growth dashboard
  // draws). The corpus reduces to distinct (user, hour) pairs first (one
  // partial-agg'd exchange), the per-user cohort is a min over that
  // already-small set, and the final rollup is cohort×offset-sized.
  // ---------------------------------------------------------------------
  def q41RetentionCohorts(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    val acts = ev.select(col("user_id"),
      unix_timestamp(date_trunc("hour", col("ts"))).as("h")).distinct()
    val coh = acts.groupBy(col("user_id")).agg(min(col("h")).as("h0"))
    acts.join(coh, Seq("user_id"))
      .select(col("h0").as("cohort_hour"),
        expr("(h - h0) div 3600").as("offset_h"))
      .groupBy(col("cohort_hour"), col("offset_h"))
      .agg(count(lit(1)).as("n_users"))
  }

  val q41Oracle: String =
    """WITH acts AS (
      | SELECT DISTINCT user_id,
      |  CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS h
      | FROM events),
      |coh AS (SELECT user_id, MIN(h) AS h0 FROM acts GROUP BY user_id)
      |SELECT h0 AS cohort_hour, (h - h0) // 3600 AS offset_h,
      | COUNT(*) AS n_users
      |FROM acts JOIN coh USING (user_id)
      |GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // q44: LAG/LEAD navigation — per user, each event's gap to its
  // predecessor and successor (the inputs to inter-arrival analysis,
  // anomaly gaps, and the gap histogram behind choosing q22's session
  // threshold). One window per user ordered by (ts, event_id) — at
  // 100 TB the per-user partitions sort independently; skewed users cost
  // map-side sort only, not a shuffle hotspot, because the window key IS
  // the shuffle key.
  // ---------------------------------------------------------------------
  def q44LagLead(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .select(col("event_id"), col("user_id"),
        unix_timestamp(col("ts")).as("e"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("e"), col("event_id"))
    ev.select(col("event_id"), col("user_id"),
      (col("e") - lag(col("e"), 1).over(w)).as("gap_prev_s"),
      (lead(col("e"), 1).over(w) - col("e")).as("gap_next_s"))
  }

  val q44Oracle: String =
    """SELECT event_id, user_id,
      | e - LAG(e, 1) OVER w AS gap_prev_s,
      | LEAD(e, 1) OVER w - e AS gap_next_s
      |FROM (SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS e
      |      FROM events) t
      |WINDOW w AS (PARTITION BY user_id ORDER BY e, event_id)""".stripMargin

  // ---------------------------------------------------------------------
  // q52: TIME-WEIGHTED average — the metric plain AVG gets wrong on
  // irregular event streams (a value held for an hour must weigh 60×
  // one held for a minute): per user, each value is weighted by the
  // seconds until the NEXT event (q44's lead navigation; the open-ended
  // last observation carries no weight). The sums run in exact integer
  // space — values quantized to thousandths (the ss-family floor(x·1000)
  // convention), durations in whole seconds over the q44 epoch ordering
  // so both engines pair identical neighbors — and only the final
  // served ratio divides, one exact IEEE op. One window + one hash
  // aggregate per user key; no self-join.
  // ---------------------------------------------------------------------
  def q52TimeWeighted(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        unix_timestamp(col("ts")).as("e"),
        expr("cast(floor(value * 1000) as bigint)").as("v1000"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("e"), col("event_id"))
    ev.withColumn("dt", lead(col("e"), 1).over(w) - col("e"))
      .filter(col("dt").isNotNull)
      .groupBy(col("user_id"))
      .agg(sum(col("v1000") * col("dt")).as("w_sum"),
        sum(col("dt")).as("dt_sum"))
      .filter(col("dt_sum") > 0)
      .select(col("user_id"), col("w_sum"), col("dt_sum"),
        (col("w_sum").cast("double") / (col("dt_sum") * 1000L)).as("twa"))
  }

  val q52Oracle: String =
    """WITH e AS (
      | SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS e,
      |  CAST(floor(value * 1000) AS BIGINT) AS v1000
      | FROM events),
      |d AS (
      | SELECT user_id, v1000,
      |  LEAD(e, 1) OVER (PARTITION BY user_id ORDER BY e, event_id) - e AS dt
      | FROM e)
      |SELECT user_id,
      | CAST(SUM(v1000 * dt) AS BIGINT) AS w_sum,
      | CAST(SUM(dt) AS BIGINT) AS dt_sum,
      | CAST(CAST(SUM(v1000 * dt) AS BIGINT) AS DOUBLE) / (CAST(SUM(dt) AS BIGINT) * 1000) AS twa
      |FROM d WHERE dt IS NOT NULL
      |GROUP BY user_id HAVING SUM(dt) > 0""".stripMargin

  // ---------------------------------------------------------------------
  // q53: RUNNING DISTINCT COUNT — "how many distinct event types has this
  // user produced so far" at every event. SQL window frames cannot say
  // COUNT(DISTINCT x) OVER (...), and carrying a per-row set would be
  // O(types) state per row; the scale shape is the FIRST-SEEN flag: a row
  // is charged 1 iff it is its (user, type)'s first occurrence, and the
  // running distinct count is a plain running SUM of that flag — window
  // state is one counter. Both windows partition by user_id, so Catalyst
  // plans ONE exchange (hash user_id) with two sorts over it: the
  // first-seen pass orders by (type, time) — a row is first for its type
  // iff the previous row in that order is a different type — and the
  // running pass re-sorts by (time, id). Whole-second epochs + event_id
  // tiebreak keep both engines' orderings identical.
  // ---------------------------------------------------------------------
  def q53RunningDistinct(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_timestamp(col("ts")).as("sec"))
    val wSeen = Window.partitionBy(col("user_id"))
      .orderBy(col("event_type"), col("sec"), col("event_id"))
    val wRun = Window.partitionBy(col("user_id"))
      .orderBy(col("sec"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("fs",
        when(coalesce(lag(col("event_type"), 1).over(wSeen) =!= col("event_type"),
          lit(true)), 1L).otherwise(0L))
      .withColumn("distinct_types", sum(col("fs")).over(wRun))
      .select(col("event_id"), col("user_id"), col("sec"), col("distinct_types"))
  }

  val q53Oracle: String =
    """WITH e AS (
      | SELECT event_id, user_id, event_type,
      |  CAST(floor(epoch(ts)) AS BIGINT) AS sec
      | FROM events),
      |f AS (
      | SELECT event_id, user_id, sec,
      |  CASE WHEN LAG(event_type, 1) OVER (PARTITION BY user_id
      |    ORDER BY event_type, sec, event_id) IS DISTINCT FROM event_type
      |   THEN 1 ELSE 0 END AS fs
      | FROM e)
      |SELECT event_id, user_id, sec,
      | CAST(SUM(fs) OVER (PARTITION BY user_id ORDER BY sec, event_id
      |   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS distinct_types
      |FROM f""".stripMargin

  // ---------------------------------------------------------------------
  // q57: WINDOWED p95 from a bounded value histogram — the per-hour tail
  // metric (p95 latency/spend) computed the way a metrics pipeline must
  // at scale: quantize to cents, aggregate (hour, cent) partial counts
  // map-side, and read the discrete inverted CDF off the tiny histogram —
  // never a per-window sort of raw events or a percentile aggregate
  // buffering values. p95 = smallest value whose cumulative count reaches
  // ⌈0.95·n⌉ (exact integer ceiling; no interpolation, so the answer is a
  // real observed value and both engines agree bit-for-bit). q54's
  // histogram trick over an event-time dimension.
  // ---------------------------------------------------------------------
  def q57WindowedP95(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .select(unix_timestamp(date_trunc("hour", col("ts"))).as("hour_epoch"),
        expr("cast(floor(value * 100) as bigint)").as("v100"))
    val hist = ev.groupBy(col("hour_epoch"), col("v100"))
      .agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy(col("hour_epoch")).orderBy(col("v100"))
    val wAll = Window.partitionBy(col("hour_epoch"))
    hist
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(wAll))
      .withColumn("target", expr("(n * 95 + 99) div 100"))
      .filter(col("cum") >= col("target") &&
        col("cum") - col("cnt") < col("target"))
      .select(col("hour_epoch"), col("n"), col("v100").as("p95_v100"))
  }

  val q57Oracle: String =
    """WITH e AS (
      | SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour_epoch,
      |  CAST(floor(value * 100) AS BIGINT) AS v100
      | FROM events),
      |h AS (SELECT hour_epoch, v100, COUNT(*) AS cnt FROM e GROUP BY 1, 2),
      |c AS (
      | SELECT hour_epoch, v100, cnt,
      |  SUM(cnt) OVER (PARTITION BY hour_epoch ORDER BY v100
      |    ROWS UNBOUNDED PRECEDING) AS cum,
      |  SUM(cnt) OVER (PARTITION BY hour_epoch) AS n
      | FROM h)
      |SELECT hour_epoch, CAST(n AS BIGINT) AS n, v100 AS p95_v100
      |FROM c
      |WHERE cum >= (n * 95 + 99) // 100 AND cum - cnt < (n * 95 + 99) // 100""".stripMargin

  // ---------------------------------------------------------------------
  // q58: NEAREST-event join — q32's bidirectional completion: for each
  // click, the view by the same user closest in time in EITHER direction
  // (ties prefer the earlier/at-or-before view). This is the sensor-fusion
  // / log-correlation join ("match each error to the nearest heartbeat"),
  // which engines with only backward ASOF can't express in one pass. Same
  // Spark-first shape as q32 — NO join: union both sides tagged, ONE
  // shuffle on user_id, one sort, then two frames over the same sorted
  // run (last-non-null carrying the previous view forward, first-non-null
  // carrying the next view backward; Catalyst reuses the sort, the second
  // Window adds no exchange). Cost stays O(n log n) per user where a
  // range join would explode to clicks×views before the argmin. Views
  // pre-deduped to one per (user, second) — max view_id — as in q32.
  // All-BIGINT epochs, so the argmin and its signed delta hash-match.
  // ---------------------------------------------------------------------
  def q58NearestEvent(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    val vrecT = "struct<ve:bigint,view_id:bigint>"
    val views = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id"), unix_timestamp(col("ts")).as("es"))
      .agg(max(col("event_id")).as("view_id"))
      .select(col("user_id"), col("es"), lit(0).as("tag"),
        struct(col("es").as("ve"), col("view_id")).as("vrec"),
        lit(null).cast("long").as("click_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), unix_timestamp(col("ts")).as("es"), lit(1).as("tag"),
        lit(null).cast(vrecT).as("vrec"), col("event_id").as("click_id"))
    // Same-second views sort BEFORE the click (tag 0 < 1), so they land in
    // the backward frame with dt = 0 and can never also win forward.
    val ord = Seq(col("es"), col("tag"), col("click_id"))
    val wBack = Window.partitionBy(col("user_id")).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wFwd = Window.partitionBy(col("user_id")).orderBy(ord: _*)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    views.unionByName(clicks)
      .withColumn("back", last(col("vrec"), ignoreNulls = true).over(wBack))
      .withColumn("fwd", first(col("vrec"), ignoreNulls = true).over(wFwd))
      .filter(col("tag") === 1)
      // nearest: backward wins ties (and always when forward is absent)
      .withColumn("pick", when(col("back").isNull, col("fwd"))
        .when(col("fwd").isNull, col("back"))
        .when(col("es") - col("back.ve") <= col("fwd.ve") - col("es"),
          col("back"))
        .otherwise(col("fwd")))
      .select(col("click_id"), col("user_id"), col("es").as("click_epoch"),
        col("pick.view_id").as("view_id"), col("pick.ve").as("view_epoch"),
        (col("pick.ve") - col("es")).as("dt_s"))
  }

  val q58Oracle: String =
    """WITH v AS (
      | SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es,
      |  MAX(event_id) AS view_id
      | FROM events WHERE event_type = 'view' GROUP BY 1, 2),
      |c AS (
      | SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es, event_id AS click_id
      | FROM events WHERE event_type = 'click'),
      |u AS (
      | SELECT user_id, es, 0 AS tag, es AS ve, view_id, NULL AS click_id FROM v
      | UNION ALL
      | SELECT user_id, es, 1 AS tag, NULL, NULL, click_id FROM c),
      |m AS (
      | SELECT user_id, es, tag, click_id,
      |  LAST_VALUE(ve IGNORE NULLS) OVER w1 AS bve,
      |  LAST_VALUE(view_id IGNORE NULLS) OVER w1 AS bid,
      |  FIRST_VALUE(ve IGNORE NULLS) OVER w2 AS fve,
      |  FIRST_VALUE(view_id IGNORE NULLS) OVER w2 AS fid
      | FROM u
      | WINDOW
      |  w1 AS (PARTITION BY user_id ORDER BY es, tag, click_id
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |  w2 AS (PARTITION BY user_id ORDER BY es, tag, click_id
      |   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      |SELECT click_id, user_id, es AS click_epoch,
      | CASE WHEN bve IS NULL THEN fid WHEN fve IS NULL THEN bid
      |  WHEN es - bve <= fve - es THEN bid ELSE fid END AS view_id,
      | CASE WHEN bve IS NULL THEN fve WHEN fve IS NULL THEN bve
      |  WHEN es - bve <= fve - es THEN bve ELSE fve END AS view_epoch,
      | CASE WHEN bve IS NULL THEN fve WHEN fve IS NULL THEN bve
      |  WHEN es - bve <= fve - es THEN bve ELSE fve END - es AS dt_s
      |FROM m WHERE tag = 1""".stripMargin

  // ---------------------------------------------------------------------
  // q59: GAPS-AND-ISLANDS — maximal runs of consecutive active DAYS per
  // user (login streaks / SLA uptime / coverage-gap detection), the
  // canonical warehouse pattern that needs no join at all: collapse to
  // distinct (user, day), then day − row_number is CONSTANT exactly
  // within a consecutive run (the islands trick), so a plain groupBy on
  // that derived key yields each streak's bounds and length. Differs
  // from q22's sessionize (arbitrary time gaps over raw seconds): this
  // is calendar-granular and the corpus collapses to ≤ users×days rows
  // before any window. Two keyed exchanges (the (user, day) distinct,
  // then the per-user sort) — the second input is already dictionary-
  // sized. All-integer, hash-exact.
  // ---------------------------------------------------------------------
  def q59DayStreaks(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "events")
      .select(col("user_id"), expr("unix_timestamp(ts) div 86400").as("day"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    d.withColumn("grp", col("day") - row_number().over(w))
      .groupBy(col("user_id"), col("grp"))
      .agg(min(col("day")).as("start_day"), max(col("day")).as("end_day"),
        count(lit(1)).as("len_days"))
      .select(col("user_id"), col("start_day"), col("end_day"), col("len_days"))
  }

  val q59Oracle: String =
    """WITH d AS (
      | SELECT DISTINCT user_id,
      |  CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
      | FROM events),
      |r AS (
      | SELECT user_id, day,
      |  day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS grp
      | FROM d)
      |SELECT user_id, MIN(day) AS start_day, MAX(day) AS end_day,
      | CAST(COUNT(*) AS BIGINT) AS len_days
      |FROM r GROUP BY user_id, grp""".stripMargin

  // ---------------------------------------------------------------------
  // q46: UNPIVOT — q33's inverse, and stated as the round-trip law:
  // unpivot(pivot(events)) == the long-form GROUP BY (minus the
  // zero-count cells pivot materializes). Spark lowers the stack() to a
  // Generate over the one-shuffle pivot aggregate — wide→long costs no
  // extra exchange.
  // ---------------------------------------------------------------------
  def q46Unpivot(s: SparkSession, dir: String): DataFrame =
    q33Pivot(s, dir).select(col("user_id"), expr(
      """stack(3,
        | 'view', view_n, view_sum,
        | 'click', click_n, click_sum,
        | 'purchase', purchase_n, purchase_sum) AS (event_type, n, sum_v)""".stripMargin))
      .filter(col("n") > 0)
      .select(col("user_id"), col("event_type"), col("n"), col("sum_v"))

  val q46Oracle: String =
    """SELECT user_id, event_type, COUNT(*) AS n,
      | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
      |FROM events WHERE event_type IN ('view', 'click', 'purchase')
      |GROUP BY user_id, event_type""".stripMargin

  // ---------------------------------------------------------------------
  // q62: SEQUENTIAL PATH MINING — the top event-type TRIGRAMS over each
  // user's time-ordered stream (the "common navigation paths" query
  // product analytics runs constantly; the n-gram view of the q40 funnel:
  // q40 counts ONE prescribed path, q62 discovers which paths dominate).
  // One window shuffle keyed by user (two LEADs ride the same sort), a
  // map-side-combined count over the ≤ |types|³ path dictionary, and a
  // top-20 over that dictionary — a TakeOrdered, never a global sort of
  // data. Ordering (ts, event_id) is the engine's standard deterministic
  // event order; ties in count break lexicographically.
  // ---------------------------------------------------------------------
  def q62EventPaths(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val counted = ev
      .withColumn("t2", lead(col("event_type"), 1).over(w))
      .withColumn("t3", lead(col("event_type"), 2).over(w))
      .where(col("t2").isNotNull && col("t3").isNotNull)
      .groupBy(col("event_type").as("t1"), col("t2"), col("t3"))
      .agg(count(lit(1)).as("cnt"))
    val wr = Window.orderBy(col("cnt").desc, col("t1"), col("t2"), col("t3"))
    counted.withColumn("rnk", row_number().over(wr)).filter(col("rnk") <= 20)
  }

  val q62Oracle: String =
    """WITH seq AS (
      | SELECT event_type AS t1,
      |  LEAD(event_type, 1) OVER w AS t2, LEAD(event_type, 2) OVER w AS t3
      | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |c AS (
      | SELECT t1, t2, t3, CAST(COUNT(*) AS BIGINT) AS cnt FROM seq
      | WHERE t2 IS NOT NULL AND t3 IS NOT NULL GROUP BY 1, 2, 3)
      |SELECT t1, t2, t3, cnt, rnk FROM (
      | SELECT *, CAST(ROW_NUMBER() OVER (
      |   ORDER BY cnt DESC, t1, t2, t3) AS INT) AS rnk FROM c) t
      |WHERE rnk <= 20""".stripMargin

  // ---------------------------------------------------------------------
  // q64: LINEAR-INTERPOLATION resampling to a regular grid — the missing
  // sibling of q49's LOCF: where LOCF serves "the last known value", a
  // time-series store (InfluxDB's `INTERPOLATE`, Pandas' `resample().
  // interpolate()`, kdb's `aj` + lerp) serves each user's signal at
  // regular hourly ticks, linearly blended between the surrounding
  // events. Grid points outside a user's observed span are not
  // extrapolated — the grid runs from the first whole hour at-or-after
  // the user's first event to the last whole hour at-or-before their
  // last.
  //
  // Scale shape: the textbook formulation is a range join (grid point g
  // BETWEEN prev event AND next event) — quadratic blowup risk and no
  // hash path. This plan instead UNIONS grid rows into the event stream
  // and runs ONE user-partitioned sort: the surrounding events arrive as
  // two IGNORE-NULLS window passes (LOCF forward for (t1,v1), first-
  // following for (t2,v2)) over the same exchange — q53's
  // one-shuffle-two-sorts shape. Sort-order contract: at equal second an
  // EVENT sorts before a GRID row (tag 0 < 1), so a tick that lands
  // exactly on an event serves that event's value via the t1 = g guard,
  // and the following-frame never sees same-second events.
  //
  // Exactness: the lerp v1 + (v2-v1)·(g-t1)/(t2-t1) is served as the
  // integer pair num = v1·(t2-g) + v2·(g-t1), den = t2-t1 (v in q52's
  // milli-units), and ONE final double division both engines compute
  // identically. den > 0 always: t1 < g implies an event strictly after
  // g exists (g ≤ the user's max event second).
  // ---------------------------------------------------------------------
  def q64InterpResample(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        unix_timestamp(col("ts")).as("e"),
        expr("cast(floor(value * 1000) as bigint)").as("v1000"))
    val grid = ev.groupBy(col("user_id"))
      .agg(expr("((min(e) + 3599) div 3600) * 3600").as("gs"),
        expr("(max(e) div 3600) * 3600").as("ge"))
      // sequence(gs, ge) counts DOWN when gs > ge (all events inside one
      // hour, no tick in span) — dd13's trap; empty-grid users drop here.
      .filter(col("gs") <= col("ge"))
      .select(col("user_id"), explode(expr("sequence(gs, ge, 3600)")).as("e"),
        lit(1).as("tag"), lit(null).cast("long").as("event_id"),
        lit(null).cast("long").as("v1000"))
    val all = ev.withColumn("tag", lit(0))
      .unionByName(grid.select("user_id", "event_id", "e", "v1000", "tag"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("e"), col("tag"), col("event_id"))
    val wPrev = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val isEv = col("tag") === 0
    all
      .withColumn("t1", last(when(isEv, col("e")), ignoreNulls = true).over(wPrev))
      .withColumn("v1", last(when(isEv, col("v1000")), ignoreNulls = true).over(wPrev))
      .withColumn("t2", first(when(isEv, col("e")), ignoreNulls = true).over(wNext))
      .withColumn("v2", first(when(isEv, col("v1000")), ignoreNulls = true).over(wNext))
      .filter(col("tag") === 1)
      .select(col("user_id"), col("e").as("g"),
        when(col("t1") === col("e"), col("v1"))
          .otherwise(col("v1") * (col("t2") - col("e")) +
            col("v2") * (col("e") - col("t1"))).as("num"),
        when(col("t1") === col("e"), lit(1L))
          .otherwise(col("t2") - col("t1")).as("den"))
      .withColumn("v_interp",
        col("num").cast("double") / (col("den") * 1000L))
  }

  val q64Oracle: String =
    """WITH e AS (
      | SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS e,
      |  CAST(floor(value * 1000) AS BIGINT) AS v1000
      | FROM events),
      |b AS (
      | SELECT user_id, ((MIN(e) + 3599) // 3600) * 3600 AS gs,
      |  (MAX(e) // 3600) * 3600 AS ge
      | FROM e GROUP BY 1),
      |g AS (
      | SELECT user_id, unnest(generate_series(gs, ge, 3600)) AS e
      | FROM b WHERE gs <= ge),
      |u AS (
      | SELECT user_id, event_id, e, v1000, 0 AS tag FROM e
      | UNION ALL
      | SELECT user_id, NULL, e, NULL, 1 FROM g),
      |wnd AS (
      | SELECT user_id, e, tag,
      |  LAST_VALUE(CASE WHEN tag = 0 THEN e END IGNORE NULLS) OVER wp AS t1,
      |  LAST_VALUE(CASE WHEN tag = 0 THEN v1000 END IGNORE NULLS) OVER wp AS v1,
      |  FIRST_VALUE(CASE WHEN tag = 0 THEN e END IGNORE NULLS) OVER wn AS t2,
      |  FIRST_VALUE(CASE WHEN tag = 0 THEN v1000 END IGNORE NULLS) OVER wn AS v2
      | FROM u
      | WINDOW wp AS (PARTITION BY user_id ORDER BY e, tag, event_id
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |  wn AS (PARTITION BY user_id ORDER BY e, tag, event_id
      |   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
      |r AS (
      | SELECT user_id, e AS g,
      |  CASE WHEN t1 = e THEN v1
      |   ELSE v1 * (t2 - e) + v2 * (e - t1) END AS num,
      |  CASE WHEN t1 = e THEN CAST(1 AS BIGINT) ELSE t2 - t1 END AS den
      | FROM wnd WHERE tag = 1)
      |SELECT user_id, g, num, den,
      | CAST(num AS DOUBLE) / (den * 1000) AS v_interp
      |FROM r""".stripMargin

  // ---------------------------------------------------------------------
  // q65: ROLLING REGRESSION SLOPE — per user, the least-squares slope of
  // value-vs-time over the trailing 5 events: the trend detector behind
  // "is this metric drifting up" alerting (Prometheus' deriv(), kdb's
  // mavg-style rolling stats). SQL has REGR_SLOPE but no windowed form
  // in either engine's common subset, so it is assembled from the four
  // windowed power sums n, Σx, Σy, Σxy, Σx² over ONE (user)-partitioned
  // frame — same single exchange as any trailing-window aggregate,
  // O(1) state per row at any scale.
  //
  // Exactness: x is seconds RELATIVE TO THE CORPUS MIN epoch — raw
  // epochs would overflow BIGINT in Σx² (1.7e9² · 5 > 2⁶³); relative
  // seconds keep every product sum exact. slope = (nΣxy − ΣxΣy) /
  // (nΣx² − (Σx)²) served as the integer num/den pair plus ONE double
  // division; den = 0 (fewer than 2 distinct ticks in the frame) serves
  // NULL.
  // ---------------------------------------------------------------------
  def q65RollingSlope(s: SparkSession, dir: String): DataFrame = {
    val ev0 = Tables(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        unix_timestamp(col("ts")).as("e"),
        expr("cast(floor(value * 1000) as bigint)").as("y"))
    val minE = ev0.agg(min(col("e")).as("e0"))
    val ev = ev0.crossJoin(broadcast(minE))
      .withColumn("x", col("e") - col("e0"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("e"), col("event_id")).rowsBetween(-4, Window.currentRow)
    ev.withColumn("n", count(lit(1)).over(w))
      .withColumn("sx", sum(col("x")).over(w))
      .withColumn("sy", sum(col("y")).over(w))
      .withColumn("sxy", sum(col("x") * col("y")).over(w))
      .withColumn("sxx", sum(col("x") * col("x")).over(w))
      .select(col("user_id"), col("event_id"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("num"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("den"))
      .withColumn("slope_milli_per_s",
        when(col("den") === 0, lit(null).cast("double"))
          .otherwise(col("num").cast("double") / col("den")))
  }

  val q65Oracle: String =
    """WITH e0 AS (
      | SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS e,
      |  CAST(floor(value * 1000) AS BIGINT) AS y
      | FROM events),
      |e AS (
      | SELECT user_id, event_id, e, y,
      |  e - (SELECT MIN(e) FROM e0) AS x
      | FROM e0),
      |p AS (
      | SELECT user_id, event_id,
      |  CAST(COUNT(*) OVER w AS BIGINT) AS n,
      |  CAST(SUM(x) OVER w AS BIGINT) AS sx,
      |  CAST(SUM(y) OVER w AS BIGINT) AS sy,
      |  CAST(SUM(x * y) OVER w AS BIGINT) AS sxy,
      |  CAST(SUM(x * x) OVER w AS BIGINT) AS sxx
      | FROM e
      | WINDOW w AS (PARTITION BY user_id ORDER BY e, event_id
      |   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
      |SELECT user_id, event_id,
      | n * sxy - sx * sy AS num, n * sxx - sx * sx AS den,
      | CASE WHEN n * sxx - sx * sx = 0 THEN NULL
      |  ELSE CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx)
      | END AS slope_milli_per_s
      |FROM p""".stripMargin

  // ---------------------------------------------------------------------
  // q67: MAXIMUM DRAWDOWN — per user, the deepest drop from a running
  // peak of the value signal, and where it happened: the risk metric
  // every financial time-series stack keeps (peak-to-trough), and for an
  // ops metric the "worst regression from best-so-far" detector. Two
  // windows over ONE user-partitioned exchange: the running peak
  // (cumulative max), then a row_number pick of the deepest drawdown
  // with the deterministic (dd DESC, e ASC, event_id ASC) tiebreak —
  // first-occurrence wins, q07's convention. All integer milli-units.
  // ---------------------------------------------------------------------
  def q67Drawdown(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        unix_timestamp(col("ts")).as("e"),
        expr("cast(floor(value * 1000) as bigint)").as("v"))
    val wCum = Window.partitionBy(col("user_id"))
      .orderBy(col("e"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dd = ev.withColumn("peak", max(col("v")).over(wCum))
      .withColumn("dd", col("peak") - col("v"))
    val wPick = Window.partitionBy(col("user_id"))
      .orderBy(col("dd").desc, col("e").asc, col("event_id").asc)
    dd.withColumn("rn", row_number().over(wPick)).filter(col("rn") === 1)
      .select(col("user_id"), col("dd").as("max_drawdown"),
        col("event_id").as("at_event_id"), col("peak").as("peak_v"))
  }

  val q67Oracle: String =
    """WITH e AS (
      | SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS e,
      |  CAST(floor(value * 1000) AS BIGINT) AS v
      | FROM events),
      |d AS (
      | SELECT user_id, event_id, e, v,
      |  MAX(v) OVER (PARTITION BY user_id ORDER BY e, event_id
      |    ROWS UNBOUNDED PRECEDING) AS peak
      | FROM e)
      |SELECT user_id, peak - v AS max_drawdown, event_id AS at_event_id,
      | peak AS peak_v
      |FROM (
      | SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
      |   ORDER BY peak - v DESC, e ASC, event_id ASC) AS rn
      | FROM d) t
      |WHERE rn = 1""".stripMargin

  // ---------------------------------------------------------------------
  // q68: MULTI-TOUCH linear attribution — q30 gives the purchase to the
  // LAST touch; marketing analytics' linear model splits the purchase
  // value EQUALLY across every view/click in the 30 min before it. Same
  // hash-joinable interval-join shape as q30/q37 (equi on user, time
  // range residual); the split is exact integer accounting: each touch
  // gets v1000 div n milli-units and the earliest touch absorbs the
  // v1000 % n remainder — credits SUM BACK to the purchase value
  // exactly, the invariant a revenue ledger audits (and the spec pins).
  // Earliest = a packed MIN over (epoch, touch_id) — q30's argmax idiom
  // mirrored, same < 10^8 id guard, no window over the joined product.
  // ---------------------------------------------------------------------
  def q68Multitouch(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        unix_timestamp(col("ts")).as("pe"),
        expr("cast(floor(value * 1000) as bigint)").as("v1000"))
    val touches = ev.filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("event_id").as("touch_id"),
        unix_timestamp(col("ts")).as("te"))
    val pairs = purchases.join(touches, Seq("user_id"))
      .filter(col("te") <= col("pe") && col("te") >= col("pe") - 1800)
      .transform(pin) // aggregated per purchase, then credited per touch
    val per = pairs.groupBy(col("purchase_id"))
      .agg(count(lit(1)).as("n"),
        min(col("te") * 100000000L + col("touch_id")).as("first_packed"),
        max(col("touch_id")).as("__max_tid"),
        min(col("v1000")).as("__min_v"))
      // negative values would split div/% truncation between engines
      // (Spark truncates toward zero, DuckDB floors) — fail loudly
      .withColumn("first_packed",
        when(col("__max_tid") < 100000000L && col("__min_v") >= 0L,
          col("first_packed"))
          .otherwise(raise_error(lit(
            "q68: touch_id >= 1e8 or negative value breaks the integer credit split"))))
      .select(col("purchase_id"), col("n"), col("first_packed"))
    pairs.join(per, Seq("purchase_id"))
      .select(col("purchase_id"), col("touch_id"), col("user_id"),
        (expr("v1000 div n") +
          when(col("te") * 100000000L + col("touch_id") === col("first_packed"),
            expr("v1000 % n")).otherwise(lit(0L))).as("credit_milli"))
  }

  val q68Oracle: String =
    """WITH p AS (
      | SELECT event_id AS purchase_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS pe,
      |  CAST(floor(value * 1000) AS BIGINT) AS v1000
      | FROM events WHERE event_type = 'purchase'),
      |t AS (
      | SELECT user_id, event_id AS touch_id, CAST(floor(epoch(ts)) AS BIGINT) AS te
      | FROM events WHERE event_type IN ('view', 'click')),
      |pairs AS (
      | SELECT p.purchase_id, t.touch_id, p.user_id, p.v1000, t.te
      | FROM p JOIN t ON p.user_id = t.user_id
      |  AND t.te <= p.pe AND t.te >= p.pe - 1800),
      |per AS (
      | SELECT purchase_id, CAST(COUNT(*) AS BIGINT) AS n,
      |  MIN(te * 100000000 + touch_id) AS first_packed
      | FROM pairs GROUP BY 1)
      |SELECT pa.purchase_id, pa.touch_id, pa.user_id,
      | pa.v1000 // per.n +
      |  CASE WHEN pa.te * 100000000 + pa.touch_id = per.first_packed
      |   THEN pa.v1000 % per.n ELSE 0 END AS credit_milli
      |FROM pairs pa JOIN per USING (purchase_id)""".stripMargin

  // ---------------------------------------------------------------------
  // q70: AUDIENCE OVERLAP via bitmap words — |users(A) ∩ users(B)| for
  // every pair of event types, the segment-intersection query a bitmap
  // index (roaring / Druid / ClickHouse groupBitmapAnd) answers without
  // materializing user lists. Users pack into 64-bit words (word =
  // user_id div 64, bit = user_id % 64, bit_or-aggregated per type);
  // the intersection is an equi-join on word index + POPCOUNT(a & b) —
  // per type-pair the data moved is |users|/64 words, not |users| rows,
  // and the bitwise kernel is codegen'd integer ops. The distinct-user
  // dedup rides the bit_or for free (set semantics of OR). Oracle:
  // plain COUNT DISTINCT over the self-joined user sets — bitmap and
  // set algebra must agree exactly.
  // ---------------------------------------------------------------------
  def q70AudienceOverlap(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .select(col("event_type"), col("user_id"))
    val words = ev
      .select(col("event_type"), expr("user_id div 64").as("w"),
        expr("shiftleft(cast(1 as bigint), cast(user_id % 64 as int))").as("bit"))
      .groupBy(col("event_type"), col("w"))
      .agg(expr("bit_or(bit)").as("bits"))
    words.as("a").join(words.as("b"),
        col("a.w") === col("b.w") && col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
      .agg(sum(expr("bit_count(a.bits & b.bits)").cast("long")).as("n_common"))
      // shared words with disjoint bits net to zero — the oracle's
      // user-level join never emits such pairs, so neither do we
      .filter(col("n_common") > 0)
  }

  val q70Oracle: String =
    """WITH u AS (SELECT DISTINCT event_type, user_id FROM events)
      |SELECT a.event_type AS type_a, b.event_type AS type_b,
      | CAST(COUNT(*) AS BIGINT) AS n_common
      |FROM u a JOIN u b
      | ON a.user_id = b.user_id AND a.event_type < b.event_type
      |GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // q71: SEASONAL PROFILE + RESIDUAL — the hour-of-day baseline (each
  // user's expected value at hour h = mean of their history at h) and
  // every event's deviation from it: the decomposition step behind
  // "unusual for 3am, normal for noon" anomaly detection (STL's seasonal
  // term, integer form). Mean stays a (sum, cnt) pair — never a float —
  // and the residual is served as the exact cross-multiplied numerator
  // v·cnt − sum over denominator cnt, plus ONE final double division.
  // Plan: one map-side-combined (user, hour) aggregate, broadcast back
  // over the stream — two passes, one corpus shuffle.
  // ---------------------------------------------------------------------
  def q71SeasonalResidual(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .select(col("event_id"), col("user_id"),
        expr("(unix_timestamp(ts) % 86400) div 3600").as("hod"),
        expr("cast(floor(value * 1000) as bigint)").as("v"))
    val prof = ev.groupBy(col("user_id"), col("hod"))
      .agg(sum(col("v")).as("sum_v"), count(lit(1)).as("cnt"))
    ev.join(prof, Seq("user_id", "hod"))
      .select(col("event_id"), col("user_id"), col("hod"), col("v"),
        col("sum_v"), col("cnt"),
        (col("v") * col("cnt") - col("sum_v")).as("resid_num"))
      .withColumn("resid_milli",
        col("resid_num").cast("double") / col("cnt"))
  }

  val q71Oracle: String =
    """WITH e AS (
      | SELECT event_id, user_id,
      |  (CAST(floor(epoch(ts)) AS BIGINT) % 86400) // 3600 AS hod,
      |  CAST(floor(value * 1000) AS BIGINT) AS v
      | FROM events),
      |p AS (
      | SELECT user_id, hod, CAST(SUM(v) AS BIGINT) AS sum_v,
      |  CAST(COUNT(*) AS BIGINT) AS cnt
      | FROM e GROUP BY 1, 2)
      |SELECT e.event_id, e.user_id, e.hod, e.v, p.sum_v, p.cnt,
      | e.v * p.cnt - p.sum_v AS resid_num,
      | CAST(e.v * p.cnt - p.sum_v AS DOUBLE) / p.cnt AS resid_milli
      |FROM e JOIN p USING (user_id, hod)""".stripMargin

  // ---------------------------------------------------------------------
  // q72: PERIOD-OVER-PERIOD report — hourly totals with previous-period
  // delta and percent change, the hour-over-hour movement table every
  // BI dashboard leads with. The corpus crosses the wire once into the
  // map-side-combined hourly rollup; the LAG runs over the RESULT —
  // |hours| rows, dictionary-sized — so the unpartitioned window is a
  // driver-scale formality, not a corpus sort (same argument as ds13's
  // histogram window). Change% is one double division over integer
  // milli-sums; a missing or zero previous hour serves NULL.
  // ---------------------------------------------------------------------
  def q72PeriodOverPeriod(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables(s, dir, "events")
      .groupBy(expr("(unix_timestamp(ts) div 3600) * 3600").as("hour_epoch"))
      .agg(sum(expr("cast(floor(value * 1000) as bigint)")).as("rev_milli"))
    val w = Window.orderBy(col("hour_epoch"))
    hourly
      .withColumn("prev_milli", lag(col("rev_milli"), 1).over(w))
      .withColumn("delta_milli", col("rev_milli") - col("prev_milli"))
      .withColumn("pct_change",
        when(col("prev_milli").isNull || col("prev_milli") === 0,
          lit(null).cast("double"))
          .otherwise(col("delta_milli").cast("double") / col("prev_milli")))
  }

  val q72Oracle: String =
    """WITH h AS (
      | SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600 AS hour_epoch,
      |  CAST(SUM(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS rev_milli
      | FROM events GROUP BY 1),
      |l AS (
      | SELECT hour_epoch, rev_milli,
      |  LAG(rev_milli) OVER (ORDER BY hour_epoch) AS prev_milli
      | FROM h)
      |SELECT hour_epoch, rev_milli, prev_milli,
      | rev_milli - prev_milli AS delta_milli,
      | CASE WHEN prev_milli IS NULL OR prev_milli = 0 THEN NULL
      |  ELSE CAST(rev_milli - prev_milli AS DOUBLE) / prev_milli END AS pct_change
      |FROM l""".stripMargin

  // ---------------------------------------------------------------------
  // q73: INTERVAL MERGE / covered-time — each event opens a 300 s
  // activity interval [e, e+300); overlapping intervals coalesce, and
  // the report is each user's merged spans and total covered seconds
  // (the "screen-on time" metric; q59's gaps-and-islands generalized
  // from calendar days to arbitrary overlapping spans). One
  // user-partitioned sort: a new span opens where the start exceeds the
  // running max of prior ends (strictly — touching intervals merge);
  // the span id is the running sum of those flags; spans then aggregate
  // min(start)/max(end). All integer seconds.
  // ---------------------------------------------------------------------
  def q73IntervalMerge(s: SparkSession, dir: String): DataFrame = {
    val span = 300L
    val ev = Tables(s, dir, "events")
      .select(col("user_id"), unix_timestamp(col("ts")).as("st"))
      .withColumn("en", col("st") + span)
    val w = Window.partitionBy(col("user_id")).orderBy(col("st"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, -1)
    val spans = ev
      .withColumn("max_en", max(col("en")).over(wRun))
      .withColumn("new_span",
        when(col("max_en").isNull || col("st") > col("max_en"), 1L).otherwise(0L))
      .withColumn("span_id",
        sum(col("new_span")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("span_id"))
      .agg(min(col("st")).as("span_start"), max(col("en")).as("span_end"))
    spans.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("span_end") - col("span_start")).as("covered_s"))
  }

  val q73Oracle: String =
    """WITH e AS (
      | SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS st,
      |  CAST(floor(epoch(ts)) AS BIGINT) + 300 AS en
      | FROM events),
      |m AS (
      | SELECT user_id, st, en,
      |  MAX(en) OVER (PARTITION BY user_id ORDER BY st
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS max_en
      | FROM e),
      |f AS (
      | SELECT user_id, st, en,
      |  CASE WHEN max_en IS NULL OR st > max_en THEN 1 ELSE 0 END AS new_span
      | FROM m),
      |sp AS (
      | SELECT user_id, st, en,
      |  SUM(new_span) OVER (PARTITION BY user_id ORDER BY st
      |    ROWS UNBOUNDED PRECEDING) AS span_id
      | FROM f),
      |agg AS (
      | SELECT user_id, span_id, MIN(st) AS s0, MAX(en) AS e0
      | FROM sp GROUP BY 1, 2)
      |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
      | CAST(SUM(e0 - s0) AS BIGINT) AS covered_s
      |FROM agg GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // q77: BITMAP AUDIENCE via the NATIVE bitmap_agg aggregate — q70's
  // segment-overlap semantics served by one first-class
  // TypedImperativeAggregate instead of hand-rolled 64-bit words: the
  // fact table crosses the wire ONCE as partial bitmaps (map-side
  // OR-merge, the groupBitmap shape), the per-type audience and every
  // pairwise overlap then read the |types|-row bitmap table only —
  // bytewise popcount, no re-scan, no per-pair shuffle. The tiny
  // all-pairs join over |types| rows is deliberate (dimension-sized).
  // Oracle: plain COUNT DISTINCT algebra — bitmap and set must agree.
  // ---------------------------------------------------------------------
  def q77BitmapAudience(s: SparkSession, dir: String): DataFrame = {
    val bm = Tables(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(expr("bitmap_agg(user_id)").as("bm"))
      .transform(pin) // |types| rows; feeds cards and both join sides
    val cards = bm.select(col("event_type"),
      expr("bitmap_cardinality(bm)").as("n_users"))
    bm.as("a").join(bm.as("b"), col("a.event_type") < col("b.event_type"))
      .select(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"),
        expr("bitmap_and_cardinality(a.bm, b.bm)").as("n_common"))
      .filter(col("n_common") > 0)
      .join(cards.select(col("event_type").as("type_a"), col("n_users").as("n_a")), Seq("type_a"))
      .join(cards.select(col("event_type").as("type_b"), col("n_users").as("n_b")), Seq("type_b"))
      .select(col("type_a"), col("type_b"), col("n_common"), col("n_a"), col("n_b"))
  }

  val q77Oracle: String =
    """WITH u AS (SELECT DISTINCT event_type, user_id FROM events),
      |c AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users FROM u GROUP BY 1)
      |SELECT a.event_type AS type_a, b.event_type AS type_b,
      | CAST(COUNT(*) AS BIGINT) AS n_common,
      | MAX(ca.n_users) AS n_a, MAX(cb.n_users) AS n_b
      |FROM u a JOIN u b ON a.user_id = b.user_id AND a.event_type < b.event_type
      | JOIN c ca ON ca.event_type = a.event_type
      | JOIN c cb ON cb.event_type = b.event_type
      |GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // q79: A/B-TEST two-proportion z-score — the experiment-readout
  // primitive: users split by id parity (the deterministic assignment an
  // experiment platform hashes), conversion = "heavy buyer" (purchases ≥ the corpus median), and the
  // pooled z statistic. Integer core: per arm, users n and converters c
  // (distinct-user flags, map-side combinable); the z numerator
  // c1·n2 − c2·n1 and every pooled term stay BIGINT; z itself is ONE
  // double expression — subtraction, multiplication, division and an
  // IEEE sqrt, all correctly rounded, so both engines agree bitwise:
  //   z = (c1·n2 − c2·n1) / sqrt( c·(n−c)·n1·n2 / n )   over n = n1+n2,
  // algebraically (p1−p2)/√(p̂(1−p̂)(1/n1+1/n2)) with p̂ = c/n.
  // ---------------------------------------------------------------------
  def q79AbTest(s: SparkSession, dir: String): DataFrame = {
    val users = Tables(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("np"))
      // conversion = a heavy buyer (≥ 14 purchases — the corpus median
      // splits ~46/54, so neither arm is degenerate)
      .select(col("user_id"), when(col("np") >= 14, 1L).otherwise(0L).as("conv"))
      .withColumn("arm", when(col("user_id") % 2 === 0, "A").otherwise("B"))
    val arms = users.groupBy(col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("conv")).as("c"))
    val a = arms.filter(col("arm") === "A")
      .select(col("n").as("n1"), col("c").as("c1"))
    val b = arms.filter(col("arm") === "B")
      .select(col("n").as("n2"), col("c").as("c2"))
    a.crossJoin(b)
      .select(col("n1"), col("c1"), col("n2"), col("c2"),
        (col("c1") * col("n2") - col("c2") * col("n1")).as("num"))
      .withColumn("z",
        when(col("c1") + col("c2") === 0 ||
          col("c1") + col("c2") === col("n1") + col("n2"),
          lit(null).cast("double"))
          .otherwise(col("num").cast("double") /
            sqrt((col("c1") + col("c2")).cast("double") *
              (col("n1") + col("n2") - col("c1") - col("c2")).cast("double") *
              col("n1").cast("double") * col("n2").cast("double") /
              (col("n1") + col("n2")).cast("double"))))
  }

  val q79Oracle: String =
    """WITH u AS (
      | SELECT user_id,
      |  CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14
      |   THEN 1 ELSE 0 END AS conv,
      |  CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm
      | FROM events GROUP BY user_id),
      |arms AS (
      | SELECT arm, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(conv) AS BIGINT) AS c
      | FROM u GROUP BY 1),
      |a AS (SELECT n AS n1, c AS c1 FROM arms WHERE arm = 'A'),
      |b AS (SELECT n AS n2, c AS c2 FROM arms WHERE arm = 'B')
      |SELECT n1, c1, n2, c2, c1 * n2 - c2 * n1 AS num,
      | CASE WHEN c1 + c2 = 0 OR c1 + c2 = n1 + n2 THEN NULL
      |  ELSE CAST(c1 * n2 - c2 * n1 AS DOUBLE) /
      |   sqrt(CAST(c1 + c2 AS DOUBLE) * CAST(n1 + n2 - c1 - c2 AS DOUBLE) *
      |    CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
      | END AS z
      |FROM a CROSS JOIN b""".stripMargin

  // ---------------------------------------------------------------------
  // q81: COHORT LTV TRIANGLE — the growth-analytics staple q41's
  // retention counts lead into: users cohorted by FIRST-ACTIVITY day,
  // each cohort's revenue laid out by account AGE (days since joining),
  // with the running cumulative — the "lifetime value by cohort" matrix
  // whose diagonal is today. All integer milli-units; the cumulative
  // runs over the dictionary-sized (cohort, age) matrix, not the event
  // stream (two map-side-combined passes: first-day per user, then the
  // cohort-age rollup).
  // ---------------------------------------------------------------------
  def q81CohortLtv(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .select(col("user_id"), expr("unix_timestamp(ts) div 86400").as("day"),
        expr("cast(floor(value * 1000) as bigint)").as("v"))
    val cohort = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort"))
    val cells = ev.join(cohort, Seq("user_id"))
      .withColumn("age", col("day") - col("cohort"))
      .groupBy(col("cohort"), col("age"))
      .agg(countDistinct(col("user_id")).as("n_active"),
        count(lit(1)).as("n_events"), sum(col("v")).as("rev_milli"))
    val w = Window.partitionBy(col("cohort")).orderBy(col("age"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells.withColumn("cum_rev_milli", sum(col("rev_milli")).over(w))
  }

  val q81Oracle: String =
    """WITH e AS (
      | SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
      |  CAST(floor(value * 1000) AS BIGINT) AS v
      | FROM events),
      |c AS (SELECT user_id, MIN(day) AS cohort FROM e GROUP BY 1),
      |cells AS (
      | SELECT c.cohort, e.day - c.cohort AS age,
      |  CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_active,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(e.v) AS BIGINT) AS rev_milli
      | FROM e JOIN c USING (user_id) GROUP BY 1, 2)
      |SELECT cohort, age, n_active, n_events, rev_milli,
      | CAST(SUM(rev_milli) OVER (PARTITION BY cohort ORDER BY age
      |   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_rev_milli
      |FROM cells""".stripMargin

  // ---------------------------------------------------------------------
  // q82: MEDIAN TIME-TO-CONVERT — per user the gap between FIRST view
  // and FIRST purchase, served as the exact corpus median (and the
  // converting-user count): the funnel-latency number a product team
  // tracks weekly. Median via q63's histogram-crossing rule in
  // HALF-UNITS (m2 = the two middle gaps summed) — integer on both
  // engines, one final /2.0. The user-level firsts are one map-side-
  // combined pass; the crossing window runs over the gap HISTOGRAM
  // (≤ |users| rows), never the event stream.
  // ---------------------------------------------------------------------
  def q82TimeToConvert(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .select(col("user_id"), col("event_type"), unix_timestamp(col("ts")).as("e"))
    val gaps = ev.groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "view", col("e"))).as("fv"),
        min(when(col("event_type") === "purchase", col("e"))).as("fp"))
      .filter(col("fv").isNotNull && col("fp").isNotNull && col("fp") >= col("fv"))
      .select((col("fp") - col("fv")).as("dt"))
    val hist = gaps.groupBy(col("dt")).agg(count(lit(1)).as("cnt"))
    val wCum = Window.orderBy(col("dt"))
    val wAll = Window.partitionBy()
    hist
      .withColumn("cum", sum(col("cnt")).over(
        wCum.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum(col("cnt")).over(wAll))
      .withColumn("p1", expr("(n + 1) div 2"))
      .withColumn("p2", expr("n div 2 + 1"))
      .agg(max(col("n")).as("n_converters"),
        (min(when(col("cum") >= col("p1") &&
          col("cum") - col("cnt") < col("p1"), col("dt"))) +
          min(when(col("cum") >= col("p2") &&
            col("cum") - col("cnt") < col("p2"), col("dt")))).as("m2"))
      .withColumn("median_s", col("m2").cast("double") / 2.0)
  }

  val q82Oracle: String =
    """WITH f AS (
      | SELECT user_id,
      |  MIN(CASE WHEN event_type = 'view' THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS fv,
      |  MIN(CASE WHEN event_type = 'purchase' THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS fp
      | FROM events GROUP BY 1),
      |g AS (
      | SELECT fp - fv AS dt FROM f
      | WHERE fv IS NOT NULL AND fp IS NOT NULL AND fp >= fv),
      |h AS (SELECT dt, CAST(COUNT(*) AS BIGINT) AS cnt FROM g GROUP BY 1),
      |w AS (
      | SELECT dt, cnt,
      |  CAST(SUM(cnt) OVER (ORDER BY dt ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
      |  CAST(SUM(cnt) OVER () AS BIGINT) AS n
      | FROM h)
      |SELECT CAST(MAX(n) AS BIGINT) AS n_converters,
      | CAST(MIN(CASE WHEN cum >= (n + 1) // 2 AND cum - cnt < (n + 1) // 2 THEN dt END) +
      |  MIN(CASE WHEN cum >= n // 2 + 1 AND cum - cnt < n // 2 + 1 THEN dt END) AS BIGINT) AS m2,
      | CAST(MIN(CASE WHEN cum >= (n + 1) // 2 AND cum - cnt < (n + 1) // 2 THEN dt END) +
      |  MIN(CASE WHEN cum >= n // 2 + 1 AND cum - cnt < n // 2 + 1 THEN dt END) AS DOUBLE) / 2.0 AS median_s
      |FROM w""".stripMargin

  val queries: Map[String, Q] = Map(
    "q82_time_to_convert" -> (q82TimeToConvert _),
    "q81_cohort_ltv" -> (q81CohortLtv _),
    "q79_ab_test" -> (q79AbTest _),
    "q77_bitmap_audience" -> (q77BitmapAudience _),
    "q73_interval_merge" -> (q73IntervalMerge _),
    "q72_period_over_period" -> (q72PeriodOverPeriod _),
    "q70_audience_overlap" -> (q70AudienceOverlap _),
    "q71_seasonal_residual" -> (q71SeasonalResidual _),
    "q68_multitouch" -> (q68Multitouch _),
    "q67_drawdown" -> (q67Drawdown _),
    "q65_rolling_slope" -> (q65RollingSlope _),
    "q64_interp_resample" -> (q64InterpResample _),
    "q62_event_paths" -> (q62EventPaths _),
    "q46_unpivot" -> (q46Unpivot _),
    "q53_running_distinct" -> (q53RunningDistinct _),
    "q57_windowed_p95" -> (q57WindowedP95 _),
    "q58_nearest_event" -> (q58NearestEvent _),
    "q59_day_streaks" -> (q59DayStreaks _),
    "q20_tumbling_window" -> (q20TumblingWindow _),
    "q38_window_topk" -> (q38WindowTopk _),
    "q40_funnel" -> (q40Funnel _),
    "q41_retention_cohorts" -> (q41RetentionCohorts _),
    "q44_lag_lead" -> (q44LagLead _),
    "q52_time_weighted" -> (q52TimeWeighted _),
    "q37_interval_join" -> (q37IntervalJoin _),
    "q21_running_sum" -> (q21RunningSum _),
    "q49_locf" -> (q49Locf _),
    "q22_sessionize" -> (q22Sessionize _),
    "q23_json_extract" -> (q23JsonExtract _),
    "q24_argmax_latest" -> (q24ArgmaxLatest _),
    "q30_attribution" -> (q30Attribution _),
    "q32_asof_join" -> (q32AsofJoin _),
    "q33_pivot" -> (q33Pivot _),
    "q34_range_frame" -> (q34RangeFrame _))

  val oracles: Map[String, String] = Map(
    "q82_time_to_convert" -> q82Oracle,
    "q81_cohort_ltv" -> q81Oracle,
    "q79_ab_test" -> q79Oracle,
    "q77_bitmap_audience" -> q77Oracle,
    "q73_interval_merge" -> q73Oracle,
    "q72_period_over_period" -> q72Oracle,
    "q70_audience_overlap" -> q70Oracle,
    "q71_seasonal_residual" -> q71Oracle,
    "q68_multitouch" -> q68Oracle,
    "q67_drawdown" -> q67Oracle,
    "q65_rolling_slope" -> q65Oracle,
    "q64_interp_resample" -> q64Oracle,
    "q62_event_paths" -> q62Oracle,
    "q46_unpivot" -> q46Oracle,
    "q53_running_distinct" -> q53Oracle,
    "q57_windowed_p95" -> q57Oracle,
    "q58_nearest_event" -> q58Oracle,
    "q59_day_streaks" -> q59Oracle,
    "q20_tumbling_window" -> q20Oracle,
    "q38_window_topk" -> q38Oracle,
    "q40_funnel" -> q40Oracle,
    "q41_retention_cohorts" -> q41Oracle,
    "q44_lag_lead" -> q44Oracle,
    "q52_time_weighted" -> q52Oracle,
    "q21_running_sum" -> q21Oracle,
    "q49_locf" -> q49Oracle,
    "q22_sessionize" -> q22Oracle,
    "q23_json_extract" -> q23Oracle,
    "q24_argmax_latest" -> q24Oracle,
    "q30_attribution" -> q30Oracle,
    "q32_asof_join" -> q32Oracle,
    "q33_pivot" -> q33Oracle,
    "q34_range_frame" -> q34Oracle,
    "q37_interval_join" -> q37Oracle)
}
