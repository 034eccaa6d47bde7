package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Similarity search over the `embeddings` table (vec_id, embedding
  * Array[Float], label) — the ANN surface of a training-data pipeline.
  *
  * Two tiers, both oracle-checkable:
  *  - ss01: brute-force cosine top-k — the exact baseline. The query set is
  *    broadcast, the dot products are computed map-side with zip_with /
  *    aggregate (no shuffle until the final per-query top-k), so cost is
  *    n_queries × corpus but never corpus².
  *  - ss02: random-hyperplane LSH ANN — the 100 TB path. Each vector gets an
  *    8-bit signature (sign of the dot product with 8 deterministic ±1
  *    hyperplanes); candidates are an equi-join on the bucket key, rerank is
  *    exact cosine within buckets only. Recall < 1 by construction; the
  *    oracle runs the same algorithm so results still hash-match.
  *
  * Number conventions shared with [[Dedup]]: vectors are quantized to
  * integers (floor(x·1000)) so dot products and norms are exact in both
  * engines; cosine = dot / sqrt(n1·n2) computed from those exact integers is
  * bit-identical IEEE math in Spark and DuckDB.
  */
object Similarity {
  import Relational.{Q, parLadder}
  import Artifact.{appendTagFingerprint, compactAppendTags, confInt,
    promoteStages, stagedWrite, withMaintenanceLease, withTableLock,
    withWriterLease}

  /** Lock telemetry under the name the benchmark harness reads; the
    * counters live in [[Artifact]]. */
  private[graft] def leaseStatsSnapshot(): (Long, Long, Long) =
    Artifact.leaseStatsSnapshot()

  private val K = 10
  private val numPlanes = 8

  // (vec_id, v: Array[Long], nrm: Long) — quantized ints, shared with Dedup.
  private[operators] def qvec(s: SparkSession, dir: String): DataFrame =
    Dedup.quantized(Tables(s, dir, "embeddings"))
      .select(col("vec_id"), col("v"), col("nrm"))

  private[operators] val qvecSql: String =
    """q AS (
      | SELECT vec_id, list_transform(embedding, x -> CAST(floor(x * 1000) AS BIGINT)) AS v
      | FROM embeddings),
      |qn AS (SELECT vec_id, v, CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS nrm FROM q)""".stripMargin

  // Exact integer dot product of two quantized vectors (columns v1, v2) —
  // graft.functions.DotProductLong, codegen'd (registered by Dedup.quantized
  // via qvec).
  private val dotExpr = "dot_l(v1, v2)"

  // ---------------------------------------------------------------------
  // ss01: brute-force cosine top-k. Query set = every 100th vector. The
  // query side is broadcast; the per-query top-k is one window over
  // n_queries × corpus scored rows.
  // ---------------------------------------------------------------------
  def ss01BruteTopk(s: SparkSession, dir: String): DataFrame = {
    val base = qvec(s, dir)
    val qs = base.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("v1"), col("nrm").as("n1"))
    val cand = base
      .select(col("vec_id").as("c_id"), col("v").as("v2"), col("nrm").as("n2"))
    val scored = cand.join(broadcast(qs), col("q_id") =!= col("c_id"))
      .withColumn("dot", expr(dotExpr))
      .withColumn("cos",
        col("dot") / sqrt(col("n1").cast("double") * col("n2").cast("double")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id").asc)
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= K)
      .select(col("q_id"), col("c_id"), col("rnk"), col("dot"), col("cos"))
  }

  val ss01Oracle: String =
    s"""WITH $qvecSql,
       |scored AS (
       | SELECT a.vec_id AS q_id, b.vec_id AS c_id,
       |  CAST(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) AS BIGINT) AS dot,
       |  a.nrm AS n1, b.nrm AS n2
       | FROM qn a JOIN qn b ON a.vec_id % 100 = 0 AND a.vec_id != b.vec_id)
       |SELECT q_id, c_id, rnk, dot, cos FROM (
       | SELECT q_id, c_id, dot,
       |  dot / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS cos,
       |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dot / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) DESC, c_id ASC) AS rnk
       | FROM scored) t WHERE rnk <= $K""".stripMargin

  // ---------------------------------------------------------------------
  // ss02: LSH-bucketed ANN. Deterministic ±1 hyperplanes (parity of the
  // first hex digit of md5("p:d")), precomputed DRIVER-SIDE and embedded as
  // literals — the naive version evaluated 8×64 md5 calls per row inside an
  // interpreted lambda. Signature bit p = sign of Σ_d v[d]·w(p,d); bucket =
  // the 8-bit signature. Join on bucket, exact-cosine rerank inside buckets.
  // At scale: the bucket join shuffles each side once on a 1-byte key and
  // every bucket holds ~corpus/256 — no all-pairs anywhere.
  // ---------------------------------------------------------------------
  private val dims = 64

  /** w(p)(d) ∈ {-1, +1} from md5 parity — same arithmetic both engines see. */
  private[operators] def planesFor(n: Int): Seq[Seq[Int]] = {
    val mdig = java.security.MessageDigest.getInstance("MD5")
    (0 until n).map { p =>
      (1 to dims).map { d =>
        val hex = mdig.digest(s"$p:$d".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        (("0123456789abcdef".indexOf(hex(0)) % 2) * 2) - 1
      }
    }
  }
  private[operators] val planes: Seq[Seq[Int]] = planesFor(numPlanes)

  // Native codegen'd signature (graft.functions.LshBucket) — the same
  // hyperplane-parity math as `planes` above, one primitive loop per row.
  // The interpreted nested-aggregate HOF form this replaced made ss02 the
  // slowest bench query (7.8 s at sf0.1).
  private[operators] val bucketExpr = s"lsh_bucket(v, $numPlanes)"

  /** DuckDB SQL for the n-plane signature of column `v` — the same plane
    * matrix [[LshBucketImpl]] caches, embedded as literals. */
  private[operators] def bucketSqlFor(n: Int): String = {
    val lit = planesFor(n).map(_.mkString("[", ", ", "]")).mkString("[", ", ", "]")
    s"""list_sum(list_transform(range(0, $n), p ->
       |  CASE WHEN list_sum(list_transform(range(1, len(v) + 1), d ->
       |         v[d] * ($lit)[p + 1][d]))
       |       > 0 THEN (2 ** p) ELSE 0 END))""".stripMargin
  }

  private[operators] val bucketSql: String = bucketSqlFor(numPlanes)

  /** Relational twin of [[bucketSqlFor]] for LARGER corpora: the plane
    * matrix lands ONCE as a VALUES table instead of a per-row inline
    * literal — DuckDB re-materializes an inline `[[…]][p + 1][d]`
    * list-of-lists literal per evaluation, which turned dd08's sf0.1
    * oracle into minutes of literal construction per thousand rows; the
    * relational form is n plane-join rows per vector. Emits two CTEs:
    * `planes(p, w)` and `<out>(vec_id, sig)` over `src(vec_id, v)`; join
    * `<out>` back to the vector CTE for carried columns. Same signature
    * bits, same `2 ** p` packing. */
  private[operators] def bucketSigCtesFor(n: Int, src: String,
      out: String): String = {
    val rows = planesFor(n).zipWithIndex
      .map { case (w, p) => s"($p, ${w.mkString("[", ", ", "]")})" }
      .mkString(",\n   ")
    s"""planes(p, w) AS MATERIALIZED (
       | SELECT * FROM (VALUES
       |   $rows) t(p, w)),
       |$out AS MATERIALIZED (
       | SELECT s.vec_id,
       |  CAST(SUM(CASE WHEN list_sum(list_transform(range(1, len(s.v) + 1),
       |    d -> s.v[d] * pl.w[d])) > 0 THEN (2 ** pl.p) ELSE 0 END) AS BIGINT) AS sig
       | FROM $src s CROSS JOIN planes pl GROUP BY s.vec_id)""".stripMargin
  }

  def ss02AnnLsh(s: SparkSession, dir: String): DataFrame = {
    val bucketed = qvec(s, dir).withColumn("bucket", expr(bucketExpr))
    val qs = bucketed.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("v1"), col("nrm").as("n1"),
        col("bucket"))
    val cand = bucketed
      .select(col("vec_id").as("c_id"), col("v").as("v2"), col("nrm").as("n2"),
        col("bucket"))
    val scored = cand.join(broadcast(qs), Seq("bucket"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("dot", expr(dotExpr))
      .withColumn("cos",
        col("dot") / sqrt(col("n1").cast("double") * col("n2").cast("double")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id").asc)
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= K)
      .select(col("q_id"), col("c_id"), col("bucket").cast("long").as("bucket"),
        col("rnk"), col("cos"))
  }

  val ss02Oracle: String =
    s"""WITH $qvecSql,
       |bucketed AS (
       | SELECT vec_id, v, nrm, CAST($bucketSql AS BIGINT) AS bucket FROM qn),
       |scored AS (
       | SELECT a.vec_id AS q_id, b.vec_id AS c_id, a.bucket AS bucket,
       |  CAST(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) AS BIGINT) AS dot,
       |  a.nrm AS n1, b.nrm AS n2
       | FROM bucketed a JOIN bucketed b ON a.bucket = b.bucket
       |  AND a.vec_id % 100 = 0 AND a.vec_id != b.vec_id)
       |SELECT q_id, c_id, bucket, rnk, cos FROM (
       | SELECT q_id, c_id, bucket,
       |  dot / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS cos,
       |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dot / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) DESC, c_id ASC) AS rnk
       | FROM scored) t WHERE rnk <= $K""".stripMargin

  // ---------------------------------------------------------------------
  // Lloyd iteration machinery shared by ss03 (IVF coarse quantizer) and
  // ss04 (the clustering query): assignment is argmin of the EXACT squared
  // distance ‖v‖²+‖c‖²-2·v·c over broadcast centroids (map-side, no
  // corpus shuffle); the update is posexplode → per-(cluster, dim) sum →
  // truncated integer mean rebuilt into a vector. Seeds = every 250th
  // vector. The loop is DRIVER-ITERATED with a fixed round count (like
  // transitiveClosure): fixed N keeps the oracle expressible as a finite
  // CTE chain and the result deterministic; each round's centroids are
  // localCheckpoint'd so lineage stays flat and the broadcast input is a
  // materialized k-row table. Cluster ids inherit the seed's vec_id and
  // stay stable across rounds; a cluster that empties simply drops out of
  // the update (both engines agree).
  // ---------------------------------------------------------------------
  private[operators] def kmAssign(pts: DataFrame, cents: DataFrame): DataFrame =
    pts.join(broadcast(cents), lit(true))
      .withColumn("d2",
        col("nrm") + col("cnrm") - expr("2 * dot_l(v, cv)"))
      .groupBy(col("vec_id"))
      // min_by with a struct ordering still plans as SortAggregate (struct
      // buffers are not hash-aggregable), but the sort's groups are the
      // k≪n centroid rows per vector and the partial aggregate combines
      // map-side, so the exchange carries one row per vector. Packing
      // (d2, cent_id) into one BIGINT (dd13's trick) is unsafe here: d2's
      // magnitude is data-dependent, so no static bit split exists.
      .agg(min_by(struct(col("cent_id"), col("d2")),
        struct(col("d2"), col("cent_id"))).as("m"))
      .select(col("vec_id"), col("m.cent_id").as("cluster"), col("m.d2").as("d2"))

  // Per-dimension truncated mean: double division of exact integers is
  // identical IEEE math in both engines, and BOTH truncate toward zero
  // (Spark double→long cast; DuckDB trunc()) — integer `div` would
  // diverge on negative sums (Spark truncates, DuckDB floors).
  private def kmUpdate(assigned: DataFrame, pts: DataFrame): DataFrame =
    assigned.join(pts, Seq("vec_id"))
      .select(col("cluster"), posexplode(col("v")).as(Seq("d", "x")))
      .groupBy(col("cluster"), col("d"))
      .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
      .withColumn("mx", (col("sx").cast("double") / col("n")).cast("long"))
      .groupBy(col("cluster"))
      .agg(expr("transform(array_sort(collect_list(struct(d, mx))), s -> s.mx)").as("cv"))
      .select(col("cluster").as("cent_id"), col("cv"),
        expr("dot_l(cv, cv)").as("cnrm"))

  private def seedCentroids(pts: DataFrame): DataFrame =
    pts.filter(col("vec_id") % 250 === 0)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"), col("nrm").as("cnrm"))

  /** `rounds` full Lloyd rounds from the deterministic seed — returns the
    * learned (cent_id, cv, cnrm). `pts` should be pinned (checkpointed)
    * by the caller: every round scans it twice (assign + update). */
  def learnedCentroids(pts: DataFrame, rounds: Int): DataFrame = {
    var cents = seedCentroids(pts)
    for (_ <- 1 to rounds)
      cents = kmUpdate(kmAssign(pts, cents), pts)
        .transform(Relational.loopCheckpoint)
    cents
  }

  /** Oracle-side mirror of one Lloyd round r (reads c{r-1}, defines c{r});
    * the same CTE text chains to any fixed round count. */
  private[operators] def kmAssignSql(r: Int, prev: String): String =
    s"""s$r AS (
       | SELECT qn.vec_id, $prev.cent_id,
       |  qn.nrm + $prev.cnrm - 2 * CAST(list_sum(list_transform(range(1, len(qn.v) + 1), i -> qn.v[i] * $prev.cv[i])) AS BIGINT) AS d2
       | FROM qn CROSS JOIN $prev),
       |r$r AS (SELECT vec_id, cent_id, d2,
       |  ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) AS rn FROM s$r),
       |a$r AS (SELECT vec_id, cent_id AS cluster, d2 FROM r$r WHERE rn = 1)""".stripMargin

  private def kmRoundSql(r: Int): String = {
    val prev = if (r == 1) "c0" else s"c${r - 1}"
    s"""${kmAssignSql(r, prev)},
       |dims$r AS (
       | SELECT a$r.cluster, generate_subscripts(qn.v, 1) AS d, unnest(qn.v) AS x
       | FROM a$r JOIN qn ON a$r.vec_id = qn.vec_id),
       |means$r AS (
       | SELECT cluster, d, CAST(trunc(CAST(SUM(x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mx
       | FROM dims$r GROUP BY cluster, d),
       |c$r AS (
       | SELECT cent_id, cv, CAST(list_sum(list_transform(cv, x -> x * x)) AS BIGINT) AS cnrm
       | FROM (SELECT cluster AS cent_id, list(mx ORDER BY d) AS cv FROM means$r GROUP BY cluster) t)""".stripMargin
  }

  private val kmSeedSql: String =
    "c0 AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM qn WHERE vec_id % 250 = 0)"

  private[operators] def kmChainSql(rounds: Int): String =
    s"""$kmSeedSql,
       |${(1 to rounds).map(kmRoundSql).mkString(",\n")}""".stripMargin

  // ---------------------------------------------------------------------
  // ss03: IVF-style ANN with a LEARNED coarse quantizer — the centroids
  // are ss04's Lloyd iteration (2 rounds from the deterministic seed), so
  // the inverted lists reflect the data's actual cluster structure instead
  // of a row sample; every vector is assigned to its nearest centroid
  // (argmax cosine, broadcast centroid set, map-side); queries probe the 2
  // nearest centroid lists and rerank exactly within them. At scale the
  // probe join shuffles on the centroid id — each list is ~corpus/k — and
  // the assignment pass is shuffle-free; the quantizer training cost is
  // amortized exactly like the dedup store's build (dd11).
  // ---------------------------------------------------------------------
  private val nprobe = 2
  private[operators] val ivfRounds = 2

  /** The full-corpus coarse quantizer (ivfRounds Lloyd rounds over the
    * corpus vectors), derived ONCE per JVM per input dir (round 15): every
    * IVF-probed query and every index build re-trained the IDENTICAL
    * centroid table (~10 corpus-scale jobs each). Pure function of the
    * corpus under the sanctioned artifact-memo law — first touch in every
    * fresh process recomputes from the parquet inputs (learnedCentroids
    * already checkpoints the final round). A [[Derived]] key. */
  private[operators] def coarseCentroidsFor(s: SparkSession, dir: String): DataFrame =
    Derived(s, s"cents#$dir")(
      learnedCentroids(qvec(s, dir).localCheckpoint(), ivfRounds))

  /** The corpus's cosine-argmax assignment (vec_id, cent_id) under the
    * memoized coarse quantizer — the second shared corpus pass every
    * probed query re-ran. Same expression and (ccos desc, cent_id asc)
    * tie-break as [[assignToCentroids]] / the probe window's crn=1 slice.
    * Two longs per vector, checkpointed. */
  /** The un-memoized assignment derivation — split out so PlanShapeSpec
    * can pin the scale-critical shape (argmax AGGREGATE, never a window
    * over corpus×centroids) that the memo's checkpoint otherwise hides. */
  private[operators] def coarseAssignedPlan(s: SparkSession, dir: String): DataFrame = {
    val base = qvec(s, dir).localCheckpoint()
    val cents = coarseCentroidsFor(s, dir)
      .select(col("cent_id"), col("cv").as("v2"), col("cnrm").as("n2"))
    // Assignment (k=1) is an argmax, NOT a top-k: max_by gets a
    // map-side partial aggregate, where a window would sort-shuffle
    // the full corpus×centroid product just to take row 1. Tiebreak
    // matches the oracle's ORDER BY ccos DESC, cent_id ASC via the
    // (ccos, -cent_id) struct ordering.
    base.select(col("vec_id").as("a_id"), col("v").as("v1"),
        col("nrm").as("n1"))
      .join(broadcast(cents), lit(true))
      .withColumn("ccos", expr(dotExpr) /
        sqrt(col("n1").cast("double") * col("n2").cast("double")))
      .groupBy(col("a_id"))
      .agg(max_by(col("cent_id"),
        struct(col("ccos"), (-col("cent_id")).as("neg"))).as("cent_id"))
  }

  private def coarseAssignedFor(s: SparkSession, dir: String): DataFrame =
    Derived.pinned(s, s"assign#$dir")(coarseAssignedPlan(s, dir))

  /** The canonical probed candidate pairs (q_id, c_id) for the suite's 1%
    * query set (vec_id % 100 == 0): nprobe nearest lists per query joined
    * to the assignment, q != c, distinct. ss03/ss19/ss21/ss26/ss27/ss32/
    * ss39 all derived EXACTLY this pair set from scratch; ss34's
    * tombstone-alive query subset is the q_id % 9 != 0 slice of it (the
    * probe window is per-query, so restricting the query set only drops
    * whole queries — never changes a kept query's candidates). Two longs
    * per pair, checkpointed once per JVM. */
  private def ivfCandPairsFor(s: SparkSession, dir: String): DataFrame =
    Derived.pinned(s, s"cand#$dir") {
      val base = qvec(s, dir).localCheckpoint()
      val cents = coarseCentroidsFor(s, dir)
        .select(col("cent_id"), col("cv").as("v2"), col("cnrm").as("n2"))
      // Probes need the nprobe nearest lists, and only for the query
      // subset (1% of the corpus) — a window over that small set is fine.
      val wProbe = Window.partitionBy(col("q_id"))
        .orderBy(col("ccos").desc, col("cent_id").asc)
      val probes = base.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("q_id"), col("v").as("v1"),
          col("nrm").as("n1"))
        .join(broadcast(cents), lit(true))
        .withColumn("ccos", expr(dotExpr) /
          sqrt(col("n1").cast("double") * col("n2").cast("double")))
        .withColumn("crn", row_number().over(wProbe))
        .filter(col("crn") <= nprobe)
        .select(col("q_id"), col("cent_id"))
      probes.join(coarseAssignedFor(s, dir), Seq("cent_id"))
        .filter(col("q_id") =!= col("a_id"))
        .select(col("q_id"), col("a_id").as("c_id")).distinct()
    }

  /** The shared IVF probe: learned centroids, corpus assignment (argmax),
    * nprobe nearest lists per query, and the exact integer dot for every
    * (query, candidate) pair drawn from the probed lists. ss03 ranks these
    * to a top-k; ss26 filters them by a radius — the two serving modes of
    * the same index. The training/assignment/probe legs live in the
    * per-JVM memos above; this attaches the vectors and computes the dot
    * — the only per-query work. `queryFilter` restricts the memoized
    * canonical query set (must SELECT a subset of q_ids, nothing else). */
  private def ivfScoredPairs(s: SparkSession, dir: String, base: DataFrame,
      queryFilter: org.apache.spark.sql.Column = lit(true)): DataFrame = {
    val qs = base.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("v1"), col("nrm").as("n1"))
    val cs = base.select(col("vec_id").as("c_id"), col("v").as("v2"), col("nrm").as("n2"))
    ivfCandPairsFor(s, dir).filter(queryFilter)
      // the 1%-query modes broadcast the query side; candidates attach by
      // plain hash join
      .join(broadcast(qs), Seq("q_id"))
      .join(cs, Seq("c_id"))
      .withColumn("dot", expr(dotExpr))
  }

  def ss03AnnIvf(s: SparkSession, dir: String): DataFrame = {
    val base = qvec(s, dir).localCheckpoint()
    val scored = ivfScoredPairs(s, dir, base)
      .withColumn("cos",
        col("dot") / sqrt(col("n1").cast("double") * col("n2").cast("double")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id").asc)
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= K)
      .select(col("q_id"), col("c_id"), col("rnk"), col("cos"))
  }

  // ---------------------------------------------------------------------
  // ss26: RANGE (radius) search — the second serving mode of the ss03
  // index: "everything within cosine 0.3 of each query", the mode behind
  // near-duplicate sweeps and dense-retrieval thresholding where k is
  // unknown a priori. Identical probe plan to ss03 (same learned
  // centroids, same nprobe lists); only the tail differs — an INTEGER
  // radius test (cos ≥ 0.3 ⇔ dot > 0 ∧ 100·dot² ≥ 9·n1·n2) replaces the
  // per-query rank window, so the radius mode is strictly cheaper than
  // top-k (no sort at all after the list join) and exactly
  // oracle-checkable. Like every probed mode, recall < 1 by construction
  // vs a brute radius scan — the ss06 audit pattern applies unchanged.
  // ---------------------------------------------------------------------
  def ss26RangeSearch(s: SparkSession, dir: String): DataFrame = {
    val base = qvec(s, dir).localCheckpoint()
    ivfScoredPairs(s, dir, base)
      .filter(col("dot") > 0 &&
        col("dot") * col("dot") * 100 >= col("n1") * col("n2") * 9)
      .select(col("q_id"), col("c_id"), col("dot"), col("n1"), col("n2"))
  }

  // ---------------------------------------------------------------------
  // ss34: TOMBSTONED serving — the DELETE half of index maintenance
  // (ss05 builds, ss07 rolls appends forward; GDPR erasure and corpus
  // retractions need the third verb). The index is NOT rebuilt and the
  // inverted lists still contain the deleted vectors — deletions are a
  // tombstone SET screened out at probe time (every production ANN
  // store: Faiss IDSelector, Lucene live-docs, Milvus delta deletes),
  // here one hash ANTI-join of the probed candidate pairs against the
  // tombstone list — candidates-only cost, corpus-free. Deleted vectors
  // also stop being queryable (the query predicate excludes them).
  // Ranks re-close over the survivors, so the result is exactly "the
  // standing index, minus the dead" — which is what the oracle computes
  // independently.
  // ---------------------------------------------------------------------
  // ---------------------------------------------------------------------
  // ss35: TOMBSTONE-RECALL audit — ss06's honesty metric re-run against
  // the tombstoned serving mode: ground truth is the brute top-k over
  // the ALIVE corpus only (what a full rebuild would serve), compared to
  // what the standing-index-plus-tombstones path (ss34) returns. This is
  // the number that tells an operator when accumulated deletions have
  // degraded the unrebuilt lists enough to warrant compaction — the
  // delete-side analog of ss13's quantizer-drift audit.
  // ---------------------------------------------------------------------
  /** Brute-force exact top-K (q_id, c_id) over an ALIVE corpus slice —
    * the ONE definition of the truth every tombstone-family audit
    * measures against (ss35 flat-index, ss43 un-rebuilt graph, ss44
    * compacted graph): sharing it makes NswServingSpec's identical-
    * denominator law true by construction, not by keeping copies in
    * sync by hand. */
  private def bruteAliveTopk(alive: DataFrame): DataFrame = {
    val qs = alive.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("v1"), col("nrm").as("n1"))
    val cand = alive
      .select(col("vec_id").as("c_id"), col("v").as("v2"), col("nrm").as("n2"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id").asc)
    cand.join(broadcast(qs), col("q_id") =!= col("c_id"))
      .withColumn("cos",
        expr(dotExpr) / sqrt(col("n1").cast("double") * col("n2").cast("double")))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= K)
      .select(col("q_id"), col("c_id"))
  }

  /** ss01's exact top-K (q_id, c_id) pairs — the unfiltered recall
    * denominator (ss06/ss12/ss15/ss25/ss31/ss37/ss53 and the drift
    * audits all compare against exactly this set). The EXACT brute-force
    * baselines the recall audits compare against are pinned [[Derived]]
    * keys; the audit DEFINITIONS (ss01BruteTopk, bruteAliveTopk,
    * filteredBrute's scan) stay untouched — the registry holds their
    * (q_id, c_id) projections only. */
  private def ss01ExactPairs(s: SparkSession, dir: String): DataFrame =
    Derived.pinned(s, s"ss01#$dir")(
      ss01BruteTopk(s, dir).select(col("q_id"), col("c_id")))

  /** [[bruteAliveTopk]] over the suite's tombstone survivor slice
    * (vec_id % 9 != 0) — ss35/ss43/ss44/ss48's shared denominator. */
  private def bruteAlive9Pairs(s: SparkSession, dir: String): DataFrame =
    Derived.pinned(s, s"alive9#$dir")(
      bruteAliveTopk(qvec(s, dir).filter(col("vec_id") % 9 =!= 0)))

  /** The PRISTINE shared IVF artifact (unsuffixed [[indexPathFor]]),
    * built once per process — ss05/ss52/ss53/ss54 all serve exactly this
    * never-mutated index and each re-ran the full coarse train + list
    * write (round 15; the ensureNswIndex discipline one tier over). */
  private def ensureIvfIndex(s: SparkSession, dir: String,
      base: DataFrame): String = {
    val idxDir = indexPathFor(dir)
    Derived(s, idxDir) {
      buildIvfIndex(base, idxDir,
        centsPre = Some(coarseCentroidsFor(s, dir)))
    }
    idxDir
  }

  /** The canonical external query family and its derived audit inputs,
    * pinned once per process (round 15): ss51–ss56 each re-derived the
    * perturbed query set, ss53/ss54/ss56 the exact brute-force external
    * baseline, and ss51/ss53 the same beam serve over the same shared
    * artifact. Pinned [[Derived]] keys like the other baselines. */
  private def externalQueriesFor(s: SparkSession, dir: String): DataFrame =
    Derived.pinned(s, s"extq#$dir")(
      externalQueries(qvec(s, dir).localCheckpoint()))

  private def externalExactPairs(s: SparkSession, dir: String): DataFrame =
    Derived.pinned(s, s"extexact#$dir") {
      val cs = qvec(s, dir)
        .select(col("vec_id").as("c_id"), col("v").as("v2"), col("nrm").as("n2"))
      topK(externalQueriesFor(s, dir).join(cs, lit(true))
          .withColumn("cos",
            expr(dotExpr) / sqrt(col("n1").cast("double") * col("n2").cast("double"))))
        .select(col("q_id"), col("c_id"))
    }

  private def externalBeamServed(s: SparkSession, dir: String): DataFrame =
    Derived.pinned(s, s"extbeam#$dir")(
      beamServeExternal(s, ensureNswIndex(s, dir), externalQueriesFor(s, dir)))

  /** Recall-audit tail shared by the approximate-vs-exact comparisons:
    * LEFT-join the approximate (q, c) pairs onto the exact set and
    * report (n_exact, n_hit, recall_pct). */
  private def recallAgainst(exact: DataFrame, approx: DataFrame): DataFrame =
    exact.join(approx.select(col("q_id"), col("c_id"), lit(1L).as("hit")),
        Seq("q_id", "c_id"), "left")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .withColumn("recall_pct", expr("(n_hit * 100) div n_exact"))

  def ss35TombstoneRecall(s: SparkSession, dir: String): DataFrame =
    recallAgainst(bruteAlive9Pairs(s, dir), ss34AnnTombstoned(s, dir))

  private val bruteAliveSql: String =
    s"""WITH $qvecSql,
       |al AS (SELECT vec_id, v, nrm FROM qn WHERE vec_id % 9 != 0),
       |scored AS (
       | SELECT a.vec_id AS q_id, b.vec_id AS c_id,
       |  CAST(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) AS BIGINT) AS dot,
       |  a.nrm AS n1, b.nrm AS n2
       | FROM al a JOIN al b ON a.vec_id % 100 = 0 AND a.vec_id != b.vec_id)
       |SELECT q_id, c_id FROM (
       | SELECT q_id, c_id,
       |  ROW_NUMBER() OVER (PARTITION BY q_id
       |   ORDER BY dot / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) DESC, c_id ASC) AS rnk
       | FROM scored) t WHERE rnk <= $K""".stripMargin

  lazy val ss35Oracle: String =
    s"""WITH ex AS (SELECT q_id, c_id FROM ($bruteAliveSql) a),
       |ap AS (SELECT q_id, c_id FROM ($ss34Oracle) b)
       |SELECT COUNT(*) AS n_exact,
       | CAST(SUM(CASE WHEN ap.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       | (CAST(SUM(CASE WHEN ap.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) * 100)
       |   // COUNT(*) AS recall_pct
       |FROM ex LEFT JOIN ap USING (q_id, c_id)""".stripMargin

  def ss34AnnTombstoned(s: SparkSession, dir: String): DataFrame = {
    val base = qvec(s, dir).localCheckpoint()
    val tombs = base.filter(col("vec_id") % 9 === 0)
      .select(col("vec_id").as("c_id"))
    // the tombstone-alive query subset is a q_id slice of the canonical
    // memoized pairs (per-query probes are independent across queries)
    val scored = ivfScoredPairs(s, dir, base, col("q_id") % 9 =!= 0)
      .join(tombs, Seq("c_id"), "left_anti")
      .withColumn("cos",
        col("dot") / sqrt(col("n1").cast("double") * col("n2").cast("double")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id").asc)
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= K)
      .select(col("q_id"), col("c_id"), col("rnk"), col("cos"))
  }

  // ---------------------------------------------------------------------
  // ss28: kNN-GRAPH construction — every point's k nearest neighbors via
  // the IVF probe with ALL points as queries, plus the mutual-kNN flag:
  // the building block under embedding-cluster discovery, graph-based
  // label propagation over vector space, and SemDeDup-style pipelines
  // that need a similarity graph rather than per-query answers. Two
  // things change vs ss03's serving mode, both scale-critical: the query
  // side is corpus-sized so it attaches by PLAIN hash join (no broadcast
  // — flagged through ivfScoredPairs), and the per-point top-k is the
  // rank-limit window (WindowGroupLimit: map tasks keep ≤k rows per
  // point before the exchange). Mutual edges are found by one self-join
  // of the tiny edge list on the reversed key. Probe footprint is
  // corpus × nprobe lists — the honest cost of kNN-graph construction,
  // fenced from corpus² exactly like ss03.
  // ---------------------------------------------------------------------
  private val graphK = 3

  /** Ranked kNN candidate edges (src, dst, rnk ≤ nswMaxDegree, cos) from
    * the label-blind IVF probe with ALL points as queries — the shared
    * substrate under ss28 (analysis graph, rnk ≤ graphK) and the NSW
    * navigation graphs (rnk ≤ M, ss36/ss37). Query side is corpus-sized,
    * so it attaches by plain hash join (no broadcast); the rank limit
    * plans as WindowGroupLimit (map tasks keep ≤ max-degree rows per
    * point before the exchange). */
  private[operators] def knnRankedEdges(s: SparkSession, dir: String,
      base: DataFrame): DataFrame = {
    val scored = allPointsScoredPairs(s, dir, base)
      .withColumn("cos",
        col("dot") / sqrt(col("n1").cast("double") * col("n2").cast("double")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= nswMaxDegree)
      .select(col("q_id").as("src"), col("c_id").as("dst"),
        col("rnk"), col("cos"))
  }

  /** The all-points probe (EVERY vector as a query) — the substrate of
    * kNN-graph / NSW-edge construction. Query side is corpus-sized, so it
    * attaches by plain hash join (no broadcast); training and assignment
    * come from the per-JVM coarse memos. */
  private def allPointsScoredPairs(s: SparkSession, dir: String,
      base: DataFrame): DataFrame = {
    val cents = coarseCentroidsFor(s, dir)
      .select(col("cent_id"), col("cv").as("v2"), col("cnrm").as("n2"))
    val wProbe = Window.partitionBy(col("q_id"))
      .orderBy(col("ccos").desc, col("cent_id").asc)
    val probes = base
      .select(col("vec_id").as("q_id"), col("v").as("v1"), col("nrm").as("n1"))
      .join(broadcast(cents), lit(true))
      .withColumn("ccos", expr(dotExpr) /
        sqrt(col("n1").cast("double") * col("n2").cast("double")))
      .withColumn("crn", row_number().over(wProbe))
      .filter(col("crn") <= nprobe)
      .select(col("q_id"), col("cent_id"))
    val qs = base.select(col("vec_id").as("q_id"), col("v").as("v1"), col("nrm").as("n1"))
    val cs = base.select(col("vec_id").as("c_id"), col("v").as("v2"), col("nrm").as("n2"))
    probes.join(coarseAssignedFor(s, dir), Seq("cent_id"))
      .filter(col("q_id") =!= col("a_id"))
      .select(col("q_id"), col("a_id").as("c_id")).distinct()
      .join(qs, Seq("q_id"))
      .join(cs, Seq("c_id"))
      .withColumn("dot", expr(dotExpr))
  }

  def ss28KnnGraph(s: SparkSession, dir: String): DataFrame = {
    // the analysis graph reads the STORED artifact too (rnk ≤ graphK is a
    // subset of the persisted ranked edges) — one build serves both the
    // serving tier and the analytics consumers (cc15's clusters)
    val idx = ensureNswIndex(s, dir)
    val edges = storedNswEdgesMerged(s, idx).filter(col("rnk") <= graphK)
      .select(col("src"), col("dst"), col("rnk"), col("cos"))
      .localCheckpoint()
    val rev = edges.select(col("dst").as("src"), col("src").as("dst"))
    edges.join(rev.withColumn("m", lit(true)), Seq("src", "dst"), "left")
      .select(col("src"), col("dst"), col("rnk"), col("cos"),
        coalesce(col("m"), lit(false)).as("mutual"))
  }

  lazy val ss28Oracle: String =
    s"""WITH $qvecSql,
       |${kmChainSql(ivfRounds)},
       |cents AS (SELECT cent_id, cv, cnrm AS cn FROM c$ivfRounds),
       |${annProbePrefixSqlFor("TRUE")},
       |scored AS (
       | SELECT pairs.q_id, pairs.c_id,
       |  CAST(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) AS BIGINT)
       |    / sqrt(CAST(a.nrm AS DOUBLE) * CAST(b.nrm AS DOUBLE)) AS cos
       | FROM pairs JOIN qn a ON pairs.q_id = a.vec_id
       |  JOIN qn b ON pairs.c_id = b.vec_id),
       |edges AS (
       | SELECT q_id AS src, c_id AS dst, rnk, cos FROM (
       |  SELECT q_id, c_id, cos,
       |   ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rnk
       |  FROM scored) t WHERE rnk <= $graphK)
       |SELECT e.src, e.dst, CAST(e.rnk AS INT) AS rnk, e.cos,
       | EXISTS (SELECT 1 FROM edges r
       |         WHERE r.src = e.dst AND r.dst = e.src) AS mutual
       |FROM edges e""".stripMargin

  // ---------------------------------------------------------------------
  // cc15: EMBEDDING-SPACE CLUSTERS — connected components over ss28's
  // MUTUAL kNN graph: the unsupervised cluster discovery that k-means
  // (ss04) can't do, because it needs no k and follows the data's actual
  // connectivity (two dense regions joined by one stray point stay
  // separate under the mutuality filter — one-directional edges are
  // exactly the hub/outlier links that cause cluster bleed, which is why
  // mutual-kNN is the standard graph for this). Composes two
  // scale-correct pieces: the IVF-probed graph build and the converged
  // min-label components (cc01's machinery); singleton points (no mutual
  // neighbor) keep their own id as cluster — the corpus never vanishes
  // from the report. Oracle = the same graph chain + recursive closure.
  // A slow capture is read from Bench's `work` line: the same jobs/tasks/
  // shuffle records with inflated wall is host contention; extra star
  // rounds show as extra jobs.
  // ---------------------------------------------------------------------
  def cc15EmbeddingClusters(s: SparkSession, dir: String): DataFrame = {
    val mutual = ss28KnnGraph(s, dir).filter(col("mutual"))
      .select(col("src").as("a"), col("dst").as("b")).localCheckpoint()
    // Star-contraction CC (provably O(log n) rounds) rather than the
    // O(d) min-label variant: identical components (both converge to the
    // per-component min id — cc02 proves the equivalence against cc01's
    // oracle), but mutual-kNN chains stretch diameter with corpus size.
    // Measured at sf0.1 (round 6): min-label took 39 rounds on this
    // graph; star converges in ~5. The pointer-jump variant was tried
    // first and REJECTED: on shuffled-id chains its label(label) lookup
    // hops across id space, not along the path, and degenerates to the
    // same linear creep as min-label (see connectedComponentsJump's doc).
    val comp = Relational.connectedComponentsStar(mutual)
      .select(col("node").as("vec_id"), col("component"))
    Tables(s, dir, "embeddings").select(col("vec_id"))
      .join(comp, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("component"), col("vec_id")).as("cluster"))
  }

  lazy val cc15Oracle: String =
    s"""WITH RECURSIVE s28 AS (SELECT * FROM ($ss28Oracle) t),
       |e AS (SELECT src AS a, dst AS b FROM s28 WHERE mutual),
       |nodes AS (SELECT DISTINCT a AS node FROM e),
       |reach(a, b) AS (
       | SELECT node, node FROM nodes
       | UNION
       | SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
       |comp AS (SELECT a AS node, MIN(b) AS component FROM reach GROUP BY a)
       |SELECT emb.vec_id, COALESCE(comp.component, emb.vec_id) AS cluster
       |FROM embeddings emb LEFT JOIN comp ON emb.vec_id = comp.node""".stripMargin

  // ---------------------------------------------------------------------
  // ss39: HARD-NEGATIVE MINING — the contrastive-training verb on top of
  // the ANN machinery: for each query, the different-label candidates
  // whose cosine EXCEEDS the query's weakest top-P same-label neighbor —
  // i.e. negatives that outrank a true positive. This is the violation
  // set a retriever/embedding trainer mines for in-batch negatives
  // (Karpukhin et al. 2020's DPR recipe: hard negatives = top-ranked
  // non-gold passages); random negatives are trivially separable and
  // teach nothing, so the mining rule IS the semantics — not just
  // "different-label top-k" (which would be ss19's complement) but
  // "different-label AND above the positive margin". Candidates come
  // from the same label-blind IVF probe as ss19, the threshold is the
  // exact MIN cosine of the top-P positives, and both the threshold pass
  // and the negative pass read one checkpointed scored-pair table.
  // Queries with zero same-label candidates emit nothing (no anchor to
  // contrast against).
  // ---------------------------------------------------------------------
  private val hardNegPos = 3

  def ss39HardNegatives(s: SparkSession, dir: String): DataFrame = {
    val base = qvec(s, dir).localCheckpoint()
    val labels = graft.Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("label"))
    val scored = ivfScoredPairs(s, dir, base)
      .withColumn("cos",
        col("dot") / sqrt(col("n1").cast("double") * col("n2").cast("double")))
      .join(labels.withColumnRenamed("vec_id", "q_id")
        .withColumnRenamed("label", "l1"), Seq("q_id"))
      .join(labels.withColumnRenamed("vec_id", "c_id")
        .withColumnRenamed("label", "l2"), Seq("c_id"))
      .localCheckpoint() // feeds the threshold pass AND the negative pass
    val wq = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id").asc)
    val thr = scored.filter(col("l1") === col("l2"))
      .withColumn("prnk", row_number().over(wq))
      .filter(col("prnk") <= hardNegPos)
      .groupBy(col("q_id")).agg(min(col("cos")).as("thr"))
    scored.filter(col("l1") =!= col("l2"))
      .join(thr, Seq("q_id"))
      .filter(col("cos") > col("thr"))
      .withColumn("rnk", row_number().over(wq)).filter(col("rnk") <= K)
      .select(col("q_id"), col("c_id"), col("l2").as("neg_label"),
        col("rnk"), col("cos"), col("thr"))
  }

  lazy val ss39Oracle: String =
    s"""WITH $qvecSql,
       |lab AS (SELECT vec_id, label FROM embeddings),
       |${kmChainSql(ivfRounds)},
       |cents AS (SELECT cent_id, cv, cnrm AS cn FROM c$ivfRounds),
       |$annProbePrefixSql,
       |sc39 AS (
       | SELECT pairs.q_id, pairs.c_id, la.label AS l1, lb.label AS l2,
       |  CAST(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) AS BIGINT)
       |    / sqrt(CAST(a.nrm AS DOUBLE) * CAST(b.nrm AS DOUBLE)) AS cos
       | FROM pairs
       | JOIN qn a ON pairs.q_id = a.vec_id
       | JOIN qn b ON pairs.c_id = b.vec_id
       | JOIN lab la ON la.vec_id = pairs.q_id
       | JOIN lab lb ON lb.vec_id = pairs.c_id),
       |thr AS (
       | SELECT q_id, MIN(cos) AS thr FROM (
       |  SELECT q_id, cos,
       |   ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS prnk
       |  FROM sc39 WHERE l1 = l2) p
       | WHERE prnk <= $hardNegPos GROUP BY q_id)
       |SELECT q_id, c_id, neg_label, rnk, cos, thr FROM (
       | SELECT n.q_id, n.c_id, n.l2 AS neg_label, n.cos, t.thr,
       |  ROW_NUMBER() OVER (PARTITION BY n.q_id ORDER BY n.cos DESC, n.c_id ASC) AS rnk
       | FROM sc39 n JOIN thr t USING (q_id)
       | WHERE n.l1 != n.l2 AND n.cos > t.thr) x WHERE rnk <= $K""".stripMargin

  // ---------------------------------------------------------------------
  // ss38: kNN-GRAPH ROLL-FORWARD — ss07's index-maintenance story lifted
  // to the GRAPH tier: when an increment of vectors arrives, the standing
  // kNN graph (ss28's artifact) is grown without rebuilding it. The
  // frozen standing-trained quantizer (ss07's split: increment residue
  // vec_id % 10 == 3, so the % 250 == 0 seeds stay standing) gives three
  // bounded pieces:
  //   1. the increment's own out-edges — probe the appended index with
  //      increment queries only, O(increment × lists);
  //   2. the increment's effect on STANDING nodes — score standing
  //      queries against increment-only list members (the candidate scan
  //      touches O(increment) rows, not the corpus), union with the
  //      standing graph's existing top-k, re-rank: top-k of
  //      (top-k(old) ∪ new-candidates) equals top-k(old ∪ new) exactly;
  //   3. the mutual flag — one self-join of the merged (tiny) edge list.
  // The oracle is a ONE-SHOT build with the same frozen quantizer
  // (centroid chain trained on qno, full-corpus assignment): the
  // roll-forward must be indistinguishable from it, edge for edge —
  // the same law ss07 pins for the flat index.
  // ---------------------------------------------------------------------
  /** Scored (q_id, c_id, cos) pairs from probing a PERSISTED index:
    * nearest nprobe stored centroids per query, exact scoring against
    * the stored list members passing `candFilter`. Query side is NOT
    * broadcast (graph builds are corpus-sized); the rank limit is the
    * caller's. */
  private def probeScoredPairs(s: SparkSession, queries: DataFrame,
      idxDir: String, candFilter: Column): DataFrame =
    probeScoredPairsRestricted(s, queries, idxDir, _.filter(candFilter))

  private def probeScoredPairsRestricted(s: SparkSession, queries: DataFrame,
      idxDir: String, restrict: DataFrame => DataFrame): DataFrame = {
    val cents = s.read.parquet(s"$idxDir/centroids")
      .select(col("cent_id"), col("cv").as("v2"), col("cnrm").as("n2"))
    val lists = restrict(s.read.parquet(s"$idxDir/lists"))
    val qside = queries.select(col("vec_id").as("q_id"),
      col("v").as("v1"), col("nrm").as("n1"))
    val wProbe = Window.partitionBy(col("q_id"))
      .orderBy(col("ccos").desc, col("cent_id").asc)
    val probes = qside
      .join(broadcast(cents), lit(true))
      .withColumn("ccos",
        expr(dotExpr) / sqrt(col("n1").cast("double") * col("n2").cast("double")))
      .withColumn("crn", row_number().over(wProbe)).filter(col("crn") <= nprobe)
      .select(col("q_id"), col("cent_id"))
    probes.join(lists, Seq("cent_id"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("c_id"),
        col("v").as("v2"), col("nrm").as("n2"))
      .join(qside, Seq("q_id"))
      .withColumn("cos",
        expr(dotExpr) / sqrt(col("n1").cast("double") * col("n2").cast("double")))
      .select(col("q_id"), col("c_id"), col("cos"))
  }

  /** The ONE-SHOT graph over a persisted index — probe every vector,
    * top-graphK, mutual flag. IvfIndexSpec checks ss38's incremental
    * assembly against this directly (the oracle proves the same law
    * relationally). */
  private[operators] def oneShotGraph(s: SparkSession, base: DataFrame,
      idxDir: String): DataFrame = {
    val wk = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id").asc)
    val edges = probeScoredPairs(s, base, idxDir, lit(true))
      .withColumn("rnk", row_number().over(wk)).filter(col("rnk") <= graphK)
      .select(col("q_id").as("src"), col("c_id").as("dst"),
        col("rnk"), col("cos"))
      .localCheckpoint()
    val rev = edges.select(col("dst").as("src"), col("src").as("dst"))
    edges.join(rev.withColumn("m", lit(true)), Seq("src", "dst"), "left")
      .select(col("src"), col("dst"), col("rnk"), col("cos"),
        coalesce(col("m"), lit(false)).as("mutual"))
  }

  def ss38KnnGraphRollforward(s: SparkSession, dir: String): DataFrame = {
    // round 8 moved the roll-forward onto the artifact verbs; round 9 made
    // the append LSM-shaped — build the standing graph index, append the
    // increment as one delta partition, then serve the MERGE-ON-READ view
    // (base edge files untouched, NswIndexSpec pins it at file level) and
    // flag mutuals. The oracle (one-shot build under the frozen standing
    // quantizer) is unchanged: the merged view must be indistinguishable
    // from it.
    val base = qvec(s, dir).localCheckpoint()
    val idxDir = rolledNswIndexFor(s, dir, base)
    val edges = storedNswEdgesMerged(s, idxDir).filter(col("rnk") <= graphK)
      .select(col("src"), col("dst"), col("rnk"), col("cos"))
      .localCheckpoint()
    val rev = edges.select(col("dst").as("src"), col("src").as("dst"))
    edges.join(rev.withColumn("m", lit(true)), Seq("src", "dst"), "left")
      .select(col("src"), col("dst"), col("rnk"), col("cos"),
        coalesce(col("m"), lit(false)).as("mutual"))
  }

  /** The suite's ROLLED-FORWARD index (build on standing, append the
    * vec_id % 10 == 3 increment as one delta partition), built once per
    * JVM — ss38 measures the cycle; ss49 serves a beam over the resulting
    * delta-bearing artifact. Both read the merged edges right after, which
    * promotes the delta stage and runs the sprawl check. Contents are a
    * pure function of the corpus, so sharing across queries is
    * order-independent. Build vs append cost is read from Bench's `work`
    * line for ss38: the same jobs/tasks/shuffle records with inflated wall
    * is host contention. */
  private def rolledNswIndexFor(s: SparkSession, dir: String,
      base: DataFrame): String = {
    val idxDir = indexPathFor(dir + "#graphroll")
    Derived(s, idxDir) {
      buildNswIndex(s, base.filter(col("vec_id") % 10 =!= 3), idxDir)
      appendToNswIndex(s, idxDir, base.filter(col("vec_id") % 10 === 3), "roll")
    }
    idxDir
  }

  /** ss49: the STREAMED-STATE serving path end-to-end — a beam search over
    * the rolled-forward index while it still carries its delta partition
    * (merge-on-read edges, post-append entries): exactly what a
    * [[graft.streaming.EventStream.graphIngestStream]] deployment serves
    * between compactions. ss38 oracle-pins the merged EDGE TABLE; this
    * pins the full serve on top of it — the oracle is the one-shot
    * relational recurrence (standing-trained quantizer, full-corpus
    * edges, the beam chain) with no knowledge of the delta layout. */
  def ss49NswDeltaServe(s: SparkSession, dir: String): DataFrame = {
    val base = qvec(s, dir).localCheckpoint()
    val idxDir = rolledNswIndexFor(s, dir, base)
    nswBeamOver(base, storedNswEdges(s, idxDir, nswServeDegree),
      materialize = true, beamHops,
      entriesOverride = Some(storedNswEntries(s, idxDir)))
  }

  /** ss50: the MAINTENANCE DECISION itself, oracle-checked — the plan the
    * auto-maintainer ([[maintainNswIndex]], and graphIngestStream's
    * autoMaintain) acts on, computed from the shared rolled-forward
    * artifact's METADATA (footer counts + append fingerprints; one
    * unfolded delta tag carrying the vec_id % 10 == 3 increment, no
    * tombstones). The oracle re-derives every count and both decisions
    * from the corpus alone under the default dials (fold at >5% unfolded
    * appends or 8 tags; recommend compaction past 25% tombstones — the
    * measured ss43/ss48 point). READ-ONLY by design: ss49 serves this
    * same artifact delta-bearing, so the fold ss50 recommends is never
    * executed here (maintainNswIndex's effects are NswIndexSpec-pinned,
    * the streaming wiring EventStreamSpec-pinned). */
  def ss50NswMaintenance(s: SparkSession, dir: String): DataFrame = {
    val base = qvec(s, dir).localCheckpoint()
    nswMaintenancePlan(s, rolledNswIndexFor(s, dir, base))
  }

  lazy val ss50Oracle: String =
    s"""WITH $qvecSql,
       |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS corpus,
       |  CAST(SUM(CASE WHEN vec_id % 10 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS appended
       | FROM qn)
       |SELECT 'corpus_vecs' AS metric, corpus AS value FROM m
       |UNION ALL SELECT 'appended_unfolded_vecs', appended FROM m
       |UNION ALL SELECT 'delta_tags', CAST(1 AS BIGINT) FROM m
       |UNION ALL SELECT 'tombstoned_vecs', CAST(0 AS BIGINT) FROM m
       |UNION ALL SELECT 'fold_due',
       |  CAST(CASE WHEN appended * 100 > corpus * 5 THEN 1 ELSE 0 END AS BIGINT) FROM m
       |UNION ALL SELECT 'compact_due',
       |  CAST(CASE WHEN 0 > corpus * 25 THEN 1 ELSE 0 END AS BIGINT) FROM m""".stripMargin

  lazy val ss49Oracle: String = {
    val hops = (1 to beamHops).map(h =>
      nswGrowSql(s"b${h - 1}", s"u$h") + ",\n" + nswBeamSql(s"u$h", s"b$h"))
      .mkString(",\n")
    s"""WITH $qvecSql,
       |qno AS (SELECT * FROM qn WHERE vec_id % 10 != 3),
       |${kmChainSql(ivfRounds).replaceAll("\\bqn\\b", "qno")},
       |cents AS (SELECT cent_id, cv, cnrm AS cn FROM c$ivfRounds),
       |${annProbePrefixSqlFor("TRUE")},
       |$nswRankedEdgeSql,
       |ed AS (SELECT src, dst FROM edr WHERE rnk <= $nswServeDegree),
       |qs AS (SELECT vec_id AS q_id FROM qn WHERE vec_id % 100 = 0),
       |en AS (SELECT vec_id AS c_id FROM qn ORDER BY vec_id ASC LIMIT $nswEntryCount),
       |u0 AS (SELECT q_id, c_id FROM qs CROSS JOIN en),
       |${nswBeamSql("u0", "b0")},
       |$hops
       |SELECT q_id, c_id, CAST(rnk AS INT) AS rnk, cos
       |FROM b$beamHops WHERE rnk <= $K""".stripMargin
  }

  lazy val ss38Oracle: String =
    s"""WITH $qvecSql,
       |qno AS (SELECT * FROM qn WHERE vec_id % 10 != 3),
       |${kmChainSql(ivfRounds).replaceAll("\\bqn\\b", "qno")},
       |cents AS (SELECT cent_id, cv, cnrm AS cn FROM c$ivfRounds),
       |${annProbePrefixSqlFor("TRUE")},
       |scored AS (
       | SELECT pairs.q_id, pairs.c_id,
       |  CAST(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) AS BIGINT)
       |    / sqrt(CAST(a.nrm AS DOUBLE) * CAST(b.nrm AS DOUBLE)) AS cos
       | FROM pairs JOIN qn a ON pairs.q_id = a.vec_id
       |  JOIN qn b ON pairs.c_id = b.vec_id),
       |edges AS (
       | SELECT q_id AS src, c_id AS dst, rnk, cos FROM (
       |  SELECT q_id, c_id, cos,
       |   ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rnk
       |  FROM scored) t WHERE rnk <= $graphK)
       |SELECT e.src, e.dst, CAST(e.rnk AS INT) AS rnk, e.cos,
       | EXISTS (SELECT 1 FROM edges r WHERE r.src = e.dst AND r.dst = e.src) AS mutual
       |FROM edges e""".stripMargin

  // =====================================================================
  // PERSISTED NSW GRAPH INDEX — the graph tier's on-disk artifact
  // (round-8: the verb SEMANTICS landed in rounds 6–7, but every serving
  // query rebuilt the kNN graph in-query; at 100 TB a per-query graph
  // build is the definition of a scale-killer). Mirrors the IVF verbs
  // (buildIvfIndex / append / compact) and the dedup store's layout
  // discipline. Under <dir>:
  //   ivf/centroids, ivf/lists — the frozen quantizer substrate AND the
  //       corpus vectors (lists carry (vec_id, v, nrm)), so appends can
  //       probe and re-rank WITHOUT retraining or re-reading the corpus
  //   edges/     — (src, dst, rnk, cos) ranked kNN edges to nswMaxDegree,
  //       range-laid-out + sorted by src (row-group min/max stats make
  //       src-range probes skip files; serving filters rnk <= M, so ONE
  //       artifact serves every out-degree in the measured ladder)
  //   entries/   — the nswEntryCount lowest node ids (the fixed entry
  //       points), maintained incrementally on append
  //   tombstones/— the delete verb's id set (HNSWlib markDelete shape:
  //       dead nodes stay in edges/ and keep ROUTING; queries/results are
  //       screened against this table at serve time)
  //   manifest.json — the serving dials recorded with the artifact
  // =====================================================================
  private val nswEdgeRangeParts = 16

  /** Create a copy-on-write OVERLAY over a built index: `overlayDir` holds
    * only a `_base` pointer (and, once a caller tombstones it, its own
    * `tombstones/`); reads of ivf/edges/entries resolve through the
    * pointer. Serving queries that exercise the delete verb (ss42/ss43/
    * ss44/ss48) overlay the shared memoized artifact instead of mutating
    * it — shared-index readers stay order-independent by construction
    * (round-8 advice: ss42/ss44 used to write tombstones/ into the index
    * ss28/ss36/ss37/ss40 also serve from). */
  private[operators] def overlayNswIndex(s: SparkSession, baseIdx: String,
      overlayDir: String): Unit = {
    val f = Artifact.fs(s, overlayDir)
    f.mkdirs(new org.apache.hadoop.fs.Path(overlayDir))
    val out = f.create(new org.apache.hadoop.fs.Path(s"$overlayDir/_base"), true)
    try out.write(baseIdx.getBytes("UTF-8")) finally out.close()
  }

  /** Resolve the directory that holds table `name` for `idxDir`: the local
    * copy if present, else through the `_base` overlay pointer. Promotes a
    * crashed staged write first, so resolution never falls through to the
    * base because the local copy is one rename short of existing. */
  private def resolveNswTable(s: SparkSession, idxDir: String, name: String): String = {
    promoteStages(s, idxDir)
    // the ivf substrate nests one level down (ivf/lists, ivf/centroids), so
    // a crashed staged compact of the LISTS leaves `.stage_lists` under
    // ivf/ where the idxDir-level promote above cannot see it — promote
    // inside the subdir too before callers read `<resolved>/lists`
    if (name == "ivf") promoteStages(s, s"$idxDir/ivf")
    val f = Artifact.fs(s, idxDir)
    if (f.exists(new org.apache.hadoop.fs.Path(s"$idxDir/$name"))) s"$idxDir/$name"
    else {
      val bp = new org.apache.hadoop.fs.Path(s"$idxDir/_base")
      if (f.exists(bp)) {
        val in = f.open(bp)
        val base =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          finally in.close()
        resolveNswTable(s, base, name)
      } else s"$idxDir/$name"
    }
  }

  private def writeNswEdges(s: SparkSession, dir: String, edges: DataFrame): Unit =
    stagedWrite(s, s"$dir/edges") { tmp =>
      edges.select(col("src"), col("dst"), col("rnk").cast("int").as("rnk"),
          col("cos"))
        .repartitionByRange(nswEdgeRangeParts, col("src"))
        .sortWithinPartitions("src", "rnk")
        .write.mode("overwrite").parquet(tmp)
    }

  private def writeNswEntries(s: SparkSession, dir: String, ids: DataFrame): Unit =
    stagedWrite(s, s"$dir/entries") { tmp =>
      ids.select(col("vec_id")).coalesce(1).write.mode("overwrite").parquet(tmp)
    }

  /** MERGE-ON-READ over the LSM-shaped edge artifact (round 9 — VERDICT r8
    * #1): the full ranked edge view is base `edges/` for srcs no delta
    * touches (stored ranks stream straight through, NO window) unioned
    * with a re-closed top-[[nswMaxDegree]] for the srcs any
    * `edges_delta/tag=⟨t⟩` partition contributes to. Exact by the top-k law
    * NswIndexSpec pins — top-k(top-k(old) ∪ new) = top-k(old ∪ new) — and
    * delta candidates are increment ids, disjoint from every stored pair
    * (the post-fold replay corner is the one exception, closed by the
    * dropDuplicates below). Cost shape at scale: deltas are
    * O(appended × degree) and broadcast; the base is scanned twice
    * (broadcast anti-join for untouched srcs, broadcast semi-join for
    * touched) with NO shuffle of base rows — only the touched slice
    * (|touched| × maxDegree + |delta|) enters the re-rank window. A window
    * over base ∪ delta directly would shuffle the corpus-sized edge table
    * on every serve — the same class of scale-killer the delta layout
    * exists to remove from the append path. */
  // per-index memo for the delta-sprawl check below: idxDir → the delta
  // tag set last sized. getContentSummary is an O(files) recursive
  // listing (costly on object stores), so it runs only when the tag set
  // CHANGED since the last check — and the warning is therefore keyed by
  // index AND by growth, not by a JVM-global first-warner-wins latch
  // (round-9 advice: the global latch meant only the first sprawling
  // index ever warned, and every delta-bearing serve paid the listing).
  private val deltaSprawlChecked =
    new java.util.concurrent.ConcurrentHashMap[String, Set[String]]()

  private[operators] def storedNswEdgesMerged(s: SparkSession, idxDir: String): DataFrame = {
    val basePath = resolveNswTable(s, idxDir, "edges")
    val base = s.read.parquet(basePath)
      .select(col("src"), col("dst"), col("rnk").cast("int").as("rnk"), col("cos"))
    val deltaDir = resolveNswTable(s, idxDir, "edges_delta")
    promoteStages(s, deltaDir)
    val f = Artifact.fs(s, deltaDir)
    val dp = new org.apache.hadoop.fs.Path(deltaDir)
    val deltaTags = if (!f.exists(dp)) Set.empty[String]
      else f.listStatus(dp).collect {
        case st if st.isDirectory && st.getPath.getName.startsWith("tag=") =>
          st.getPath.getName
      }.toSet
    if (deltaTags.isEmpty) {
      // drop the sprawl memo once the deltas are gone (round-10 advice:
      // the map grew per JVM, and a reused index path — tests, blue/green
      // rotation back onto an old dir — could inherit a stale tag set and
      // silently skip the sizing check on its next delta)
      deltaSprawlChecked.remove(idxDir)
      base
    } else {
      // the merge-on-read regime ASSUMES deltas ≪ base (the touched-src
      // set is broadcast; compaction cadence keeps that true) — warn
      // loudly when folding is overdue rather than let the broadcast grow
      // quietly toward the driver's memory. Sized once per (index, tag
      // set): appends grow the tag set and re-trigger the check.
      if (!Option(deltaSprawlChecked.put(idxDir, deltaTags)).contains(deltaTags)) {
        val deltaBytes = f.getContentSummary(dp).getLength
        val baseBytes = Artifact.fs(s, basePath)
          .getContentSummary(new org.apache.hadoop.fs.Path(basePath)).getLength
        if (deltaBytes * 4 > baseBytes)
          System.err.println(
            f"[graft] WARNING: NSW edge deltas at $idxDir are ${deltaBytes / 1048576.0}%.1f MiB " +
              f"vs base ${baseBytes / 1048576.0}%.1f MiB — merge-on-read broadcasts the " +
              "delta-touched src set; run foldNswDeltas (or compactNswIndex) " +
              "before deltas rival the base")
      }
      val deltas = s.read.parquet(deltaDir)
        .select(col("src"), col("dst"), col("cos"))
      val touched = deltas.select(col("src")).distinct()
      val untouched = base.join(broadcast(touched), Seq("src"), "left_anti")
      val wk = Window.partitionBy(col("src"))
        .orderBy(col("cos").desc, col("dst").asc)
      val reranked = base.select(col("src"), col("dst"), col("cos"))
        .join(broadcast(touched), Seq("src"), "left_semi")
        .unionByName(deltas)
        // base ∩ delta pairs only exist when a folded tag is replayed —
        // identical rows (deterministic cos); collapse before re-ranking
        .dropDuplicates("src", "dst")
        .withColumn("rnk", row_number().over(wk))
        .filter(col("rnk") <= nswMaxDegree)
        .select(col("src"), col("dst"), col("rnk").cast("int").as("rnk"), col("cos"))
      untouched.unionByName(reranked)
    }
  }

  private[operators] def storedNswEdges(s: SparkSession, idxDir: String,
      degree: Int): DataFrame =
    storedNswEdgesMerged(s, idxDir).filter(col("rnk") <= degree)
      .select(col("src"), col("dst"))

  private[operators] def storedNswEntries(s: SparkSession, idxDir: String): DataFrame =
    s.read.parquet(resolveNswTable(s, idxDir, "entries"))
      .select(col("vec_id").as("c_id"))

  /** The tombstone table is deliberately NOT overlay-resolved: an overlay
    * starts with an EMPTY delete set (that is its copy-on-write point),
    * and a missing table reads as empty. */
  private[operators] def storedNswTombstones(s: SparkSession, idxDir: String): DataFrame = {
    promoteStages(s, idxDir)
    val p = s"$idxDir/tombstones"
    if (Artifact.fs(s, p).exists(new org.apache.hadoop.fs.Path(p)))
      s.read.parquet(p).select(col("vec_id"))
    else s.emptyDataFrame.select(lit(0L).as("vec_id")).limit(0)
  }

  /** Build (or rebuild) the graph index from a corpus: train+write the IVF
    * substrate, derive the ranked kNN edge list to [[nswMaxDegree]] (the
    * SAME [[knnRankedEdges]] computation the oracles pin, so a serve from
    * the stored graph is hash-identical to the in-query build), record the
    * entry points, clear tombstones. One corpus pass + one probe pass —
    * the amortizable offline job; queries only read. */
  /** Every vector's top-[[nprobe]] probe assignments against the STORED
    * quantizer, CARRYING the vector: the artifact's REVERSE PROBE INDEX.
    * Partitioned by cent_id on disk, it answers "which vectors probe list
    * L (and what are their vectors)" with a partition-pruned scan — the
    * lookup that makes in-edge maintenance O(touched lists): an append
    * rescores exactly the queries whose probed lists gained a member,
    * instead of re-running the corpus×k probe window every increment.
    * crn is kept so crn=1 doubles as the assignment (same ranking, same
    * tiebreaks as [[assignToCentroids]]). Space: nprobe× the corpus —
    * the standard space-for-time trade of a reverse link table. */
  private def probeAssignments(s: SparkSession, pts: DataFrame,
      ivfDir: String): DataFrame =
    probeAssignmentsFrom(pts,
      s.read.parquet(s"$ivfDir/centroids"))

  /** [[probeAssignments]] against an in-memory centroid table — the build
    * path passes the just-trained centroids directly so the corpus is
    * scored ONCE (the crn=1 slice IS the argmax assignment, same score
    * expression and (ccos desc, cent_id asc) tie-break as
    * [[assignToCentroids]]). */
  private def probeAssignmentsFrom(pts: DataFrame,
      centsRaw: DataFrame): DataFrame = {
    val cents = centsRaw
      .select(col("cent_id"), col("cv").as("v2"), col("cnrm").as("n2"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("cent_id").asc)
    pts.select(col("vec_id"), col("v"), col("nrm"))
      .join(broadcast(cents), lit(true))
      .withColumn("ccos", expr("dot_l(v, v2)") /
        sqrt(col("nrm").cast("double") * col("n2").cast("double")))
      .withColumn("crn", row_number().over(w)).filter(col("crn") <= nprobe)
      .select(col("cent_id"), col("vec_id"), col("v"), col("nrm"),
        col("crn").cast("int").as("crn"))
  }

  /** The ranked kNN edge list derived from the STORED artifact (probes ×
    * lists): the one edge computation the build and the frozen compaction
    * share. Candidates for q are the members of q's probed lists; each
    * member lives in exactly one list, so pairs are duplicate-free. Equals
    * [[knnRankedEdges]]' in-query build (same quantizer, assignment and
    * probe tiebreaks — NswIndexSpec compares the two derivations) without
    * retraining or re-assigning anything. */
  private def edgesFromStored(s: SparkSession, dir: String): DataFrame = {
    val probes = s.read.parquet(s"$dir/probes")
      .select(col("cent_id"), col("vec_id").as("q_id"),
        col("v").as("v1"), col("nrm").as("n1"))
    val lists = s.read.parquet(s"$dir/ivf/lists")
      .select(col("cent_id"), col("vec_id").as("c_id"),
        col("v").as("v2"), col("nrm").as("n2"))
    val wk = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id").asc)
    probes.join(lists, Seq("cent_id"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cos",
        expr(dotExpr) / sqrt(col("n1").cast("double") * col("n2").cast("double")))
      .withColumn("rnk", row_number().over(wk))
      .filter(col("rnk") <= nswMaxDegree)
      .select(col("q_id").as("src"), col("c_id").as("dst"),
        col("rnk"), col("cos"))
  }

  /** [[edgesFromStored]] reading the probe table ONLY — valid right after
    * a fresh build, where lists/ is by construction the probes' crn=1
    * slice, so the edge job need not wait for the lists write. */
  private def edgesFromProbes(s: SparkSession, dir: String): DataFrame = {
    val p = s.read.parquet(s"$dir/probes")
    val probes = p.select(col("cent_id"), col("vec_id").as("q_id"),
      col("v").as("v1"), col("nrm").as("n1"))
    val lists = p.filter(col("crn") === 1)
      .select(col("cent_id"), col("vec_id").as("c_id"),
        col("v").as("v2"), col("nrm").as("n2"))
    val wk = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id").asc)
    probes.join(lists, Seq("cent_id"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cos",
        expr(dotExpr) / sqrt(col("n1").cast("double") * col("n2").cast("double")))
      .withColumn("rnk", row_number().over(wk))
      .filter(col("rnk") <= nswMaxDegree)
      .select(col("q_id").as("src"), col("c_id").as("dst"),
        col("rnk"), col("cos"))
  }

  /** `centsPre`: a pre-trained coarse quantizer for the FULL-corpus build
    * paths (the per-JVM [[coarseCentroidsFor]] memo — identical rows to
    * what the training below produces); None keeps the honest in-build
    * training for filtered/cold callers. */
  def buildNswIndex(s: SparkSession, pts: DataFrame, dir: String,
      centsPre: Option[DataFrame] = None): Unit = {
    deltaSprawlChecked.remove(dir) // a rebuild invalidates any sized tag set
    // ONE corpus scoring pass (r14, guide §1.2 "remove unnecessary
    // passes"): the probe window's crn=1 slice IS the argmax assignment
    // (same score, same tie-break — see probeAssignmentsFrom), so the
    // inverted lists are derived from the stored probe table instead of
    // paying assignToCentroids' second corpus × centroids score + its
    // groupBy/self-join exchanges. buildIvfIndex keeps its own pass for
    // standalone IVF callers; NswIndexSpec pins both derivations equal.
    val ivfDir = s"$dir/ivf"
    val cents = centsPre.getOrElse(
      learnedCentroids(pts, ivfRounds).localCheckpoint())
    probeAssignmentsFrom(pts, cents).repartition(col("cent_id"))
      .write.mode("overwrite").partitionBy("cent_id").parquet(s"$dir/probes")
    // the three derived tables all read ONLY the just-written probes (the
    // lists side of the edge join is the crn=1 slice, identical rows to
    // lists/), so they are independent jobs — overlap them (guide §2.6)
    // instead of serializing three stage tails
    parLadder(Seq[() => Unit](
      () => withWriterLease(s, ivfDir) {
        cents.write.mode("overwrite").parquet(s"$ivfDir/centroids")
        writeIvfManifest(s, ivfDir)
        s.read.parquet(s"$dir/probes").filter(col("crn") === 1)
          .select(col("cent_id"), col("vec_id"), col("v"), col("nrm"))
          .repartition(col("cent_id"))
          .write.mode("overwrite").partitionBy("cent_id").parquet(s"$ivfDir/lists")
        // a rebuilt index has no deletes: stale tombstones from the
        // replaced artifact must not screen the fresh corpus
        Artifact.fs(s, ivfDir)
          .delete(new org.apache.hadoop.fs.Path(s"$ivfDir/tombstones"), true)
        listsListingMemo.remove(s"$ivfDir/lists")
      },
      () => writeNswEdges(s, dir, edgesFromProbes(s, dir)),
      () => writeNswEntries(s, dir,
        pts.select(col("vec_id")).orderBy(col("vec_id").asc).limit(nswEntryCount))
    ))(_.apply())
    val f = Artifact.fs(s, dir)
    // a rebuild resets the whole verb ladder: no deletes, no deltas, and
    // append tags start fresh against the new base
    for (t <- Seq("tombstones", "edges_delta", "_append_tags"))
      f.delete(new org.apache.hadoop.fs.Path(s"$dir/$t"), true)
    writeNswManifest(s, dir)
  }

  /** Write the artifact manifest. `maxVecId` defaults to a column-pruned
    * scan of the local inverted lists (builds/rotations — the lists were
    * just written); appends pass the max-merged value instead, keeping the
    * verb O(increment). The recorded max is what [[beamServeExternal]]
    * checks external q_ids against (the disjoint-id-space contract). */
  private def writeNswManifest(s: SparkSession, dir: String,
      maxVecId: Option[Long] = None): Unit = {
    val mx = maxVecId.getOrElse {
      val r = s.read.parquet(s"$dir/ivf/lists")
        .agg(max(col("vec_id"))).collect()(0)
      if (r.isNullAt(0)) -1L else r.getLong(0)
    }
    val f = Artifact.fs(s, dir)
    val p = new org.apache.hadoop.fs.Path(s"$dir/manifest.json")
    val out = f.create(p, true)
    try out.write(
      (s"""{"max_degree":$nswMaxDegree,"serve_degree":$nswServeDegree,""" +
        s""""entry_count":$nswEntryCount,"beam_width":$beamWidth,""" +
        s""""beam_hops":$beamHops,"max_vec_id":$mx}""").getBytes("UTF-8"))
    finally out.close()
  }

  /** Roll the graph index forward over an increment — O(increment),
    * LSM-shaped (round 9; VERDICT r8 #1: the previous merge re-ranked and
    * REWROTE the full edge artifact per append, so the streaming front
    * door paid O(index) per micro-batch). The increment's whole effect is
    * now ONE new `edges_delta/tag=<tag>/` partition holding:
    *  1. the increment's own out-edges — probe the grown lists with
    *     increment queries only;
    *  2. the increment's in-edges to STANDING srcs — standing queries
    *     scored against increment-only candidates (a semi-join keys the
    *     list scan to O(increment) rows);
    * pre-truncated to the top-[[nswMaxDegree]] per src, which is exact:
    * only the top-maxDegree of NEW candidates can ever enter a merged
    * top-maxDegree. Serving re-closes ranks over base ∪ deltas for the
    * touched srcs only ([[storedNswEdgesMerged]]); [[foldNswDeltas]] /
    * [[compactNswIndex]] fold deltas back into one base. Base edge files
    * are NEVER touched — NswIndexSpec pins that at file level (the dedup
    * store's roll-forward discipline, `DedupStore.scala:44-98` shape).
    * Standing query vectors come from the index's own lists — the
    * original corpus table is never re-read.
    *
    * REPLAY-CONVERGENT per `tag` (the streaming front door's contract):
    * the list append is [[stagedAppendToIvfIndex]] (a same-tag replay
    * converges to one copy) and the delta is a deterministic function of
    * the converged lists, staged-OVERWRITTEN at `tag=<tag>` — a replay
    * rewrites identical content. The tag is the batch identity (streaming
    * passes b<batchId>); REUSING a tag for a DIFFERENT increment would
    * silently retire the first batch's list files as "leftovers", so it
    * is detected via the id fingerprint recorded under `_append_tags/`
    * and REFUSED before anything is written (round-8 advice — the
    * fingerprints survive [[foldNswDeltas]] for the same reason). */
  def appendToNswIndex(s: SparkSession, dir: String, newVecs: DataFrame,
      tag: String): Unit = withWriterLease(s, dir) {
    // under the WRITER LEASE (the DedupStore roll-forward discipline,
    // round 13): a concurrent maintainer's fold deletes edges_delta/
    // wholesale and its compact swaps lists/ — files this append lands
    // inside that window are swept while the tag fingerprint and the
    // stream's commit marker survive, so the replay skips and the batch
    // is silently lost. Appends block; maintainers yield.
    require(tag.matches("[A-Za-z0-9_-]+"), s"unsafe staging tag: $tag")
    // heal a crashed staged compact of probes/ (child of dir) or
    // ivf/lists (child of dir/ivf) before reading either table below
    promoteStages(s, dir)
    promoteStages(s, s"$dir/ivf")
    val inc = newVecs.select(col("vec_id"), col("v"), col("nrm")).localCheckpoint()
    val incIds = inc.select(col("vec_id"))
    // batch-identity fingerprint: (count, order-independent id hash XOR —
    // xor, not sum: wrapping sums throw under ANSI mode); max rides along
    // for the manifest's id-space bound
    val fpRow = inc.agg(count(lit(1)),
      coalesce(bit_xor(xxhash64(col("vec_id"))), lit(0L)),
      max(col("vec_id"))).collect()(0)
    val fp = s"${fpRow.getLong(0)}:${fpRow.getLong(1)}"
    val f = Artifact.fs(s, dir)
    appendTagFingerprint(s, dir, tag) match {
      case Some(prev) =>
        if (prev != fp) throw new IllegalStateException(
          s"append tag '$tag' was already used for a DIFFERENT increment " +
            s"(fingerprint $prev, this batch $fp): tags are batch identities " +
            "— reuse would retire the first batch's list files as replay " +
            "leftovers while its edges survive")
      case None =>
        val fpPath = new org.apache.hadoop.fs.Path(s"$dir/_append_tags/$tag")
        f.mkdirs(fpPath.getParent)
        val out = f.create(fpPath, false)
        try out.write(fp.getBytes("UTF-8")) finally out.close()
    }
    // an EMPTY increment (an idle streaming micro-batch) is a no-op past
    // the fingerprint: writing its empty `tag=` partition would
    // permanently flip serves onto the re-rank merge path (one extra
    // window + broadcast per serve until a fold) for zero new edges, and
    // the list/probe/entry writes would be identity rewrites (round-9
    // advice). The fingerprint is still recorded, so a nonempty reuse of
    // the tag is refused and an empty replay converges.
    if (fpRow.getLong(0) == 0L) return
    // ONE probe computation (increment × stored centroids, O(inc × k))
    // feeds everything: its crn=1 rows ARE the list rows (same argmax,
    // same tiebreak as assignToCentroids), the full rows are the reverse-
    // probe increment, and its q-side is the out-edge probe — no
    // recomputation, no corpus read anywhere in this verb
    val incProbes = probeAssignments(s, inc, s"$dir/ivf").localCheckpoint()
    // the two table appends write disjoint partitioned dirs and the
    // touched-partition collect reads only the pinned incProbes — three
    // independent jobs, overlapped (round 15, guide §2.6): the r14
    // scaling block read ss38's append phase as near-fully serial
    // (ratio 0.95), and all three derive from the same checkpoint.
    val ladder = parLadder(Seq[() => AnyRef](
      () => { stagedAppendPartitioned(s, s"$dir/ivf/lists",
        incProbes.filter(col("crn") === 1)
          .select(col("cent_id"), col("vec_id"), col("v"), col("nrm")), tag)
        null },
      () => { stagedAppendPartitioned(s, s"$dir/probes", incProbes, tag)
        null },
      // the partitions this append touches — micro-batch-bounded literal
      // sets, so BOTH maintenance scans below partition-prune to them
      () => incProbes.select(col("cent_id"), col("crn"))
        .distinct().collect()))(f => f())
    val centPairs =
      ladder(2).asInstanceOf[Array[org.apache.spark.sql.Row]]
    val incProbeCents = centPairs.map(_.getLong(0)).distinct.toSeq
    val incAssignedCents =
      centPairs.filter(_.getInt(1) == 1).map(_.getLong(0)).distinct.toSeq
    // increment out-edges: increment probe rows against the grown lists,
    // the list scan pruned to the increment's probed partitions (self-
    // pairs filtered; other increment members are legitimate candidates)
    val incQ = incProbes.select(col("cent_id"), col("vec_id").as("q_id"),
      col("v").as("v1"), col("nrm").as("n1"))
    val grownLists = s.read.parquet(s"$dir/ivf/lists")
      .filter(col("cent_id").isin(incProbeCents: _*))
      .select(col("cent_id"), col("vec_id").as("c_id"),
        col("v").as("v2"), col("nrm").as("n2"))
    val newOut = incQ.join(grownLists, Seq("cent_id"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cos",
        expr(dotExpr) / sqrt(col("n1").cast("double") * col("n2").cast("double")))
      .select(col("q_id"), col("c_id"), col("cos"))
    // increment in-edges to STANDING srcs: the stored reverse probe index,
    // pruned to the lists that GAINED members, names every standing query
    // that must rescore — WITH its vector, so no corpus table and no
    // corpus×k probe window is ever touched (round-9: the previous
    // deltaIn re-scored every standing vector against all centroids per
    // append). Candidates are the increment's assigned rows (crn = 1);
    // each lives in exactly one list, so pairs are duplicate-free.
    val affectedQs = s.read.parquet(s"$dir/probes")
      .filter(col("cent_id").isin(incAssignedCents: _*))
      .join(incIds, Seq("vec_id"), "left_anti") // standing only (and replay-proof)
      .select(col("cent_id"), col("vec_id").as("q_id"),
        col("v").as("v1"), col("nrm").as("n1"))
    val incCands = incProbes.filter(col("crn") === 1)
      .select(col("cent_id"), col("vec_id").as("c_id"),
        col("v").as("v2"), col("nrm").as("n2"))
    val deltaIn = affectedQs.join(broadcast(incCands), Seq("cent_id"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cos",
        expr(dotExpr) / sqrt(col("n1").cast("double") * col("n2").cast("double")))
      .select(col("q_id"), col("c_id"), col("cos"))
    val wk = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id").asc)
    // src sets are disjoint (newOut: increment, deltaIn: standing), so the
    // union is duplicate-free under the tag discipline; the dedup guards
    // the pathological case of duplicated list rows (two tags carrying the
    // same vectors) claiming two rank slots. The window sees only this
    // delta's rows — O(increment), never the corpus
    val delta = newOut.unionByName(deltaIn)
      .dropDuplicates("q_id", "c_id")
      .withColumn("rnk", row_number().over(wk)).filter(col("rnk") <= nswMaxDegree)
      .select(col("q_id").as("src"), col("c_id").as("dst"), col("cos"))
    // the delta-edge write reads the just-appended lists/probes; the
    // entry-point rewrite reads only the standing entries table and the
    // pinned increment ids — independent, overlapped (guide §2.6).
    // Entry points are the lowest of (stored ∪ increment) — O(increment),
    // equal to recomputing the global minimum by transitivity of min;
    // distinct makes it idempotent (a replayed increment id is already
    // stored and would otherwise claim two of the fixed entry slots)
    parLadder(Seq[() => Unit](
      () => stagedWrite(s, s"$dir/edges_delta/tag=$tag") { tmp =>
        delta.repartitionByRange(2, col("src")).sortWithinPartitions("src")
          .write.mode("overwrite").parquet(tmp)
      },
      () => writeNswEntries(s, dir,
        s.read.parquet(resolveNswTable(s, dir, "entries")).select(col("vec_id"))
          .unionByName(incIds).distinct()
          .orderBy(col("vec_id").asc).limit(nswEntryCount))))(f => f())
    // id-space bound: max-merge the increment into the manifest — max is
    // transitive, so this equals a rescan without paying one (replays are
    // idempotent: same increment, same max). A pre-manifest artifact heals
    // by one full-lists scan here, once.
    val incMax = if (fpRow.isNullAt(2)) -1L else fpRow.getLong(2)
    manifestLong(s, s"$dir/manifest.json", "max_vec_id") match {
      case Some(cur) =>
        writeNswManifest(s, dir, maxVecId = Some(math.max(cur, incMax)))
      case None => writeNswManifest(s, dir)
    }
  }

  /** Fold accumulated edge deltas into the base artifact — compaction's
    * edge half, ANSWERS UNCHANGED (the IVF twin is [[compactIvfIndex]]):
    * materialize the merged view, rewrite `edges/` (staged), drop
    * `edges_delta/`. Serving cost returns to a single pre-ranked scan.
    * The `_append_tags/` fingerprints are kept: a folded tag is still a
    * spent batch identity (replaying it against the folded base converges
    * — the merged read's dropDuplicates — but a DIFFERENT batch reusing
    * it must still be refused). They are kept COMPACTED: the fold merges
    * every loose per-tag file into one `_spent_<gen>` manifest
    * ([[Artifact.compactAppendTags]]), so an unattended stream's identity sidecar
    * stays one file instead of one per micro-batch forever. */
  def foldNswDeltas(s: SparkSession, dir: String): Unit =
      withWriterLease(s, dir) {
    val f = Artifact.fs(s, dir)
    val dp = new org.apache.hadoop.fs.Path(s"$dir/edges_delta")
    if (f.exists(dp)) {
      val merged = storedNswEdgesMerged(s, dir)
        .select(col("src"), col("dst"), col("rnk"), col("cos"))
        .localCheckpoint() // materialize BEFORE replacing what it reads
      writeNswEdges(s, dir, merged)
      f.delete(dp, true)
      deltaSprawlChecked.remove(dir) // the sized tag set no longer exists
      compactAppendTags(s, dir)
    }
  }

  /** The delete verb (HNSWlib markDelete shape): record ids in the
    * artifact's tombstone set. Edges are NOT touched — dead nodes keep
    * routing (severing them collapses the small-world shortcuts, ss43
    * measured 95% tombstoned vs 92% rebuilt at 11% deletions); serving
    * screens queries and results against this table. Idempotent. */
  def tombstoneNswIndex(s: SparkSession, dir: String, ids: DataFrame): Unit =
      withWriterLease(s, dir) {
    // leased: the merge below read-modify-writes tombstones/, which a
    // concurrent erase's tombstone fold also rewrites
    val add = ids.select(col("vec_id"))
    writeTombstones(s, dir, storedNswTombstones(s, dir).unionByName(add)
      .distinct().localCheckpoint()) // materialize BEFORE overwriting what it reads
  }

  /** The one tombstone writer of both index tiers: staged overwrite of
    * `<dir>/tombstones` with `ids`, RANGE-PARTITIONED and sized to the set
    * (round-10 verdict #2: the compact dial deliberately lets tombstones
    * reach 25% of the corpus, and the old coalesce(1) funneled that —
    * billions of ids at 100 TB — through ONE task into one file per delete
    * batch; the serving anti-joins never cared about file count). Sorted
    * within partitions so row-group min/max stats keep the anti-join
    * probes skippable. */
  private def writeTombstones(s: SparkSession, dir: String,
      ids: DataFrame): Unit = {
    val parts = Artifact.sizedFiles(s, "spark.graft.nsw.tombstoneRowsPerFile",
      ids.count())
    stagedWrite(s, s"$dir/tombstones") { tmp =>
      ids.repartitionByRange(parts, col("vec_id"))
        .sortWithinPartitions("vec_id")
        .write.mode("overwrite").parquet(tmp)
    }
  }

  /** Fulfilled tombstones leave the ledger ([[Artifact.foldLedger]]): the
    * set minus `gone` is rewritten, or the table deleted when nothing is
    * left, so serves drop back to the unscreened plan. Call under the
    * rewrite lease — every tombstone writer holds it. */
  private def foldTombstones(s: SparkSession, dir: String,
      gone: DataFrame): Unit =
    if (Artifact.fs(s, dir).exists(new org.apache.hadoop.fs.Path(s"$dir/tombstones")))
      Artifact.foldLedger(s, s"$dir/tombstones", storedNswTombstones(s, dir)
        .join(gone, Seq("vec_id"), "left_anti"))(writeTombstones(s, dir, _))

  /** The compaction verb ss43's audit schedules: rebuild a graph index
    * from the corpus minus the source index's tombstones — alive-only
    * edges and entry points, empty tombstone set, folded deltas. Two
    * quantizer policies, MEASURED against each other (ss44 vs ss48, the
    * ss43-vs-ss44 audit machinery — round-8 VERDICT #4):
    *  - `retrain = true`: full rebuild, Lloyd rounds retrained on the
    *    alive corpus (ss44's oracle under its qn→qal rename) — the choice
    *    when the deletion pattern shifted the distribution;
    *  - `retrain = false`: REUSE the source index's stored centroids
    *    ([[compactIvfIndex]]'s frozen shape) — one assignment pass + one
    *    probe pass, no Lloyd rounds; ss48's oracle trains on the full
    *    corpus and assigns/serves alive-only, exactly this path.
    * Writes to `dstDir` so the standing index serves until the switch. */
  def compactNswIndex(s: SparkSession, pts: DataFrame, srcDir: String,
      dstDir: String, retrain: Boolean = true): Unit = {
    deltaSprawlChecked.remove(dstDir) // dst may be a reused blue/green dir
    val alive = pts
      .join(storedNswTombstones(s, srcDir), Seq("vec_id"), "left_anti")
    if (retrain) buildNswIndex(s, alive, dstDir)
    else {
      val aliveCk = alive.select(col("vec_id"), col("v"), col("nrm"))
        .localCheckpoint()
      val cents = s.read
        .parquet(s"${resolveNswTable(s, srcDir, "ivf")}/centroids")
        .localCheckpoint()
      cents.write.mode("overwrite").parquet(s"$dstDir/ivf/centroids")
      // one alive × centroids scoring pass, then three independent
      // derived-table jobs overlapped — the buildNswIndex r14 shape
      // (lists ≡ the probes' crn=1 slice, same score and tie-break)
      probeAssignmentsFrom(aliveCk, cents).repartition(col("cent_id"))
        .write.mode("overwrite").partitionBy("cent_id")
        .parquet(s"$dstDir/probes")
      parLadder(Seq[() => Unit](
        () => s.read.parquet(s"$dstDir/probes").filter(col("crn") === 1)
          .select(col("cent_id"), col("vec_id"), col("v"), col("nrm"))
          .repartition(col("cent_id"))
          .write.mode("overwrite").partitionBy("cent_id")
          .parquet(s"$dstDir/ivf/lists"),
        () => writeNswEdges(s, dstDir, edgesFromProbes(s, dstDir)),
        () => writeNswEntries(s, dstDir,
          aliveCk.select(col("vec_id")).orderBy(col("vec_id").asc)
            .limit(nswEntryCount))))(_.apply())
      val f = Artifact.fs(s, dstDir)
      for (t <- Seq("tombstones", "edges_delta", "_append_tags"))
        f.delete(new org.apache.hadoop.fs.Path(s"$dstDir/$t"), true)
      writeNswManifest(s, dstDir)
    }
  }

  // ---------------------------------------------------------------------
  // Index MAINTENANCE POLICY — the "who folds, and when" half of the LSM
  // layout. The verbs above (foldNswDeltas / compactNswProbes /
  // compactIvfIndex / compactNswIndex) keep a streamed-into artifact
  // healthy, but at 100 TB nobody runs them by hand: a graphIngestStream
  // deployment appends a delta per micro-batch forever, and the
  // merge-on-read serve degrades (one re-rank window + a growing
  // touched-src broadcast + per-tag small files) until something folds.
  // The policy is deliberately COUNT-based, not byte-based: counts are
  // exact integer arithmetic the DuckDB oracle reproduces from the corpus
  // (ss50), while file sizes are codec accidents no oracle can see. All
  // thresholds are integer percents compared cross-multiplied — no
  // floating point anywhere in a decision.
  //
  // Dials (session conf):
  //  - spark.graft.nsw.foldAppendPct   (default 5): fold when unfolded
  //    appended vectors exceed this percent of the corpus — bounds the
  //    touched-src broadcast the merge-on-read serve pays;
  //  - spark.graft.nsw.foldMaxTags     (default 8): fold when this many
  //    delta partitions accumulate regardless of size — bounds the
  //    per-serve file listing and the per-tag small files;
  //  - spark.graft.nsw.compactTombstonePct (default 25): RECOMMEND
  //    compaction when tombstones exceed this percent of the corpus.
  //    25% is measured, not guessed: ss43 serves 95% recall at 11%
  //    deletions THROUGH tombstones (dead nodes still route) while the
  //    rebuilt graph serves 92% (ss44/ss48) — early compaction buys
  //    nothing, so the default waits well past the measured point.
  // ---------------------------------------------------------------------

  /** Maintenance metrics + decisions for a graph index, as a long-form
    * (metric, value) frame — dictionary-sized, computed from artifact
    * METADATA (parquet footers + the per-tag append fingerprints), never
    * a corpus scan. ss50 oracle-checks every row against the corpus. */
  def nswMaintenancePlan(s: SparkSession, idxDir: String): DataFrame = {
    import s.implicits._
    // corpus size: the inverted lists hold each vector exactly once
    // (crn = 1 assignment) — a footer-only count
    val corpus = s.read
      .parquet(s"${resolveNswTable(s, idxDir, "ivf")}/lists").count()
    val deltaDir = resolveNswTable(s, idxDir, "edges_delta")
    promoteStages(s, deltaDir)
    val f = Artifact.fs(s, deltaDir)
    val dp = new org.apache.hadoop.fs.Path(deltaDir)
    val tags = if (!f.exists(dp)) Seq.empty[String]
      else f.listStatus(dp).toSeq.collect {
        case st if st.isDirectory && st.getPath.getName.startsWith("tag=") =>
          st.getPath.getName.stripPrefix("tag=")
      }
    // unfolded appended vectors: each tag's fingerprint records
    // "count:idhash"; tags still present under edges_delta/ are the
    // unfolded ones (fingerprints survive folds as replay identities, so
    // the fingerprint dir alone would overcount). Resolution goes through
    // appendTagFingerprint — a replayed POST-FOLD tag re-creates its delta
    // partition with its fingerprint living only in the _spent_ manifest.
    val tagRoot = new org.apache.hadoop.fs.Path(deltaDir).getParent.toString
    val appended = tags.map { t =>
      appendTagFingerprint(s, tagRoot, t)
        .map(_.split(':')(0).toLong).getOrElse(0L)
    }.sum
    val tombstoned = storedNswTombstones(s, idxDir).count()
    val foldPct = confInt(s, "spark.graft.nsw.foldAppendPct", 5)
    val foldMaxTags = confInt(s, "spark.graft.nsw.foldMaxTags", 8)
    val compactPct = confInt(s, "spark.graft.nsw.compactTombstonePct", 25)
    val foldDue =
      if (appended * 100L > corpus * foldPct || tags.size >= foldMaxTags) 1L
      else 0L
    val compactDue = if (tombstoned * 100L > corpus * compactPct) 1L else 0L
    Seq(
      ("corpus_vecs", corpus),
      ("appended_unfolded_vecs", appended),
      ("delta_tags", tags.size.toLong),
      ("tombstoned_vecs", tombstoned),
      ("fold_due", foldDue),
      ("compact_due", compactDue)
    ).toDF("metric", "value")
  }

  /** Evaluate [[nswMaintenancePlan]] and EXECUTE the in-place-safe half:
    * when `fold_due`, fold the edge deltas ([[foldNswDeltas]]) and
    * compact the per-tag small files out of the probe sidecar and the
    * inverted lists — all three are answers-unchanged (spec-pinned) and
    * crash-safe (staged write / temp-dir rename), so they are safe from
    * inside a streaming foreachBatch. `compact_due` is NOT executed here:
    * compaction rebuilds into a NEW directory ([[compactNswIndex]] —
    * blue/green by design, the standing index serves until the caller
    * switches), so an in-place maintainer reporting it is the correct
    * contract. Returns the PRE-maintenance plan plus what ran. */
  /** `autoErase = true` arms the graph tier's UNATTENDED GDPR path (the
    * dedup store's deferred-erasure shape one tier up): it declares this
    * deployment's tombstones to be PRIVACY deletes — recorded at O(ids)
    * by [[tombstoneNswIndex]], hidden from serves immediately by the
    * screens — whose bytes must also leave the artifact without an
    * operator in the loop. Once tombstones exceed
    * `spark.graft.nsw.erasePendingPct` (default 10, integer percent of
    * the corpus), maintenance runs [[eraseFromNswIndex]] over them IN
    * PLACE: tombstones clear, every stored table drops the ids, edges
    * re-close over survivors. Deliberately OPT-IN and distinct from the
    * blue/green rotation: physical erasure changes the walk (erased
    * nodes stop routing — ss43 measured tombstoned 95% vs rebuilt 92%
    * recall at 11% deletions), so a recall-first deployment keeps the
    * default (tombstones route until rotation), while a
    * privacy-deadline deployment trades the points for the purge. An
    * erase turn subsumes the fold (edges re-derive from lists × probes)
    * and makes rotation moot (nothing tombstoned remains), so it runs
    * alone. */
  def maintainNswIndex(s: SparkSession, idxDir: String,
      rotateTo: Option[String] = None,
      autoErase: Boolean = false): Map[String, Long] = {
    val plan = nswMaintenancePlan(s, idxDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val erasePct = confInt(s, "spark.graft.nsw.erasePendingPct", 10)
    val eraseDue = autoErase && plan("tombstoned_vecs") > 0L &&
      plan("tombstoned_vecs") * 100L > plan("corpus_vecs") * erasePct
    val foldDue = !eraseDue && plan("fold_due") == 1L
    // rotation is ONE-SHOT per destination: compact_due stays true on the
    // source until the caller switches off it (the tombstones live there
    // by design), so an unattended maintainer re-checking every
    // micro-batch must not rebuild an already-finished destination — a
    // finished rotate is recognized by its manifest (written last).
    val rotateDue = !eraseDue && plan("compact_due") == 1L &&
      rotateTo.exists(dst => !Artifact.fs(s, dst).exists(
        new org.apache.hadoop.fs.Path(s"$dst/manifest.json")))
    // due work runs under the cross-JVM lease ([[Artifact.withMaintenanceLease]]):
    // a concurrent maintainer holding it makes this turn yield — the same
    // dials re-trigger the work on a later maintain
    val (erased, folded, rotated, yielded) =
      if (!eraseDue && !foldDue && !rotateDue) (0L, 0L, 0L, 0L)
      else withMaintenanceLease(s, idxDir)((0L, 0L, 0L, 1L)) {
        if (eraseDue)
          eraseFromNswIndex(s, idxDir,
            storedNswTombstones(s, idxDir).localCheckpoint())
        if (foldDue) {
          foldNswDeltas(s, idxDir)
          compactNswProbes(s, idxDir)
          compactIvfIndex(s, s"$idxDir/ivf")
        }
        if (rotateDue) rotateNswIndex(s, idxDir, rotateTo.get)
        (if (eraseDue) 1L else 0L, if (foldDue) 1L else 0L,
          if (rotateDue) 1L else 0L, 0L)
      }
    plan + ("erased" -> erased) + ("folded" -> folded) +
      ("rotated" -> rotated) + ("yielded" -> yielded)
  }

  /** Compaction executed from the ARTIFACT ALONE — the blue/green
    * executor for [[nswMaintenancePlan]]'s `compact_due`: the alive
    * lists and probes are FILTERS of the stored tables (anti-join the
    * tombstones), so the rotate reads no corpus table and runs no
    * quantizer scoring or assignment pass at all. Correct because the
    * quantizer is frozen and assignment is per-vector: deleting OTHER
    * vectors cannot change an alive vector's argmax list or top-nprobe
    * probes, so filtering the stored assignment IS the frozen
    * re-assignment — [[compactNswIndex]](retrain = false) minus its two
    * scoring passes (NswIndexSpec pins table-level equality of the two).
    * The one remaining compute is the edge re-derivation from the
    * filtered tables, which every compaction must pay (deleting nodes
    * re-opens everyone's top-M). Edge deltas need no pre-fold: edges
    * re-derive from lists × probes, which appends keep complete. The
    * source is untouched and keeps serving until the caller switches —
    * then it is the rollback target. */
  def rotateNswIndex(s: SparkSession, srcDir: String, dstDir: String): Unit = {
    deltaSprawlChecked.remove(dstDir) // dst may be a reused blue/green dir
    val tomb = storedNswTombstones(s, srcDir).localCheckpoint()
    s.read.parquet(s"${resolveNswTable(s, srcDir, "ivf")}/centroids")
      .localCheckpoint()
      .write.mode("overwrite").parquet(s"$dstDir/ivf/centroids")
    // cast the rediscovered partition column back to long before the
    // rewrite (the rewriteCentPartitioned discipline — partition
    // discovery narrows small cent_ids to int)
    val lists = s.read
      .parquet(s"${resolveNswTable(s, srcDir, "ivf")}/lists")
      .withColumn("cent_id", col("cent_id").cast("long"))
      .join(tomb, Seq("vec_id"), "left_anti").localCheckpoint()
    lists.repartition(col("cent_id"))
      .write.mode("overwrite").partitionBy("cent_id")
      .parquet(s"$dstDir/ivf/lists")
    s.read.parquet(resolveNswTable(s, srcDir, "probes"))
      .withColumn("cent_id", col("cent_id").cast("long"))
      .join(tomb, Seq("vec_id"), "left_anti")
      .repartition(col("cent_id"))
      .write.mode("overwrite").partitionBy("cent_id")
      .parquet(s"$dstDir/probes")
    writeNswEdges(s, dstDir, edgesFromStored(s, dstDir))
    writeNswEntries(s, dstDir,
      lists.select(col("vec_id")).orderBy(col("vec_id").asc)
        .limit(nswEntryCount))
    val f = Artifact.fs(s, dstDir)
    for (t <- Seq("tombstones", "edges_delta", "_append_tags"))
      f.delete(new org.apache.hadoop.fs.Path(s"$dstDir/$t"), true)
    writeNswManifest(s, dstDir)
  }

  /** PHYSICAL erasure for the NSW graph artifact — [[eraseFromIvfIndex]]
    * lifted one tier up (round-11 verdict "missing #1": the graph tier
    * retained an erased vector's bytes in TWO tables — `ivf/lists` once
    * and `probes/` nprobe×, since the reverse probe index CARRIES the
    * vector by design — while [[tombstoneNswIndex]] only hid them at
    * serve time; a GDPR deployment had no right-to-be-forgotten verb
    * short of a full blue/green rotation). This is [[rotateNswIndex]]
    * pointed AT ITSELF, in place:
    *  - lists and probes anti-join the erased ids — EXACT by the frozen-
    *    quantizer argument verbatim (assignment and top-nprobe probes are
    *    per-vector against frozen centroids, so deleting OTHER vectors
    *    cannot change an alive vector's rows: filtering the stored tables
    *    IS the frozen re-assignment);
    *  - edges re-derive from the filtered probes × lists exactly as the
    *    rotate does (every compaction pays that — deleting nodes re-opens
    *    everyone's top-M), which SUBSUMES any accumulated `edges_delta/`
    *    (appends keep lists/probes complete), so the deltas drop;
    *  - entries refresh (min over survivors is re-derivable);
    *  - erased ids leave the tombstone set — their bytes are gone, there
    *    is nothing left to screen — while OTHER tombstones keep
    *    screening; an emptied set is deleted ([[foldTombstones]]), so
    *    serves drop back to the unscreened plan;
    *  - loose append-tag fingerprints retire into the `_spent_` manifest
    *    ([[DedupStore.erase]]'s accounting): the rewrite folded those
    *    increments into the base, identities keep refusing tag reuse.
    * Each table rewrite is staged (a crash leaves the previous readable
    * table; a killed erase re-runs to convergence — CrashFs-swept), and
    * the centroids are untouched: aggregate statistics, not member
    * fingerprints. In-place semantics require a MATERIALIZED artifact —
    * erasing through an overlay `_base` pointer would mutate the shared
    * base, so overlays are refused loudly. */
  def eraseFromNswIndex(s: SparkSession, dir: String, ids: DataFrame): Unit =
      withWriterLease(s, dir) {
    val f = Artifact.fs(s, dir)
    require(!f.exists(new org.apache.hadoop.fs.Path(s"$dir/_base")),
      s"eraseFromNswIndex needs a materialized artifact; $dir is an overlay")
    deltaSprawlChecked.remove(dir) // the sized tag set is about to vanish
    promoteStages(s, dir)
    promoteStages(s, s"$dir/ivf")
    val gone = ids.select(col("vec_id")).localCheckpoint()
    // the two survivor rewrites are independent anti-join passes over
    // different tables — overlap them (guide §2.6), then derive
    // edges/entries/tombstones (which need the rewritten tables) with the
    // independent ones overlapped too
    parLadder(Seq("ivf/lists", "probes")) { t =>
      stagedWrite(s, s"$dir/$t") { tmp =>
        s.read.parquet(s"$dir/$t")
          .withColumn("cent_id", col("cent_id").cast("long"))
          .join(gone, Seq("vec_id"), "left_anti")
          .repartition(col("cent_id"))
          .write.mode("overwrite").partitionBy("cent_id").parquet(tmp)
      }
      listsListingMemo.remove(s"$dir/$t")
    }
    parLadder(Seq[() => Unit](
      () => {
        writeNswEdges(s, dir, edgesFromStored(s, dir))
        f.delete(new org.apache.hadoop.fs.Path(s"$dir/edges_delta"), true)
      },
      () => writeNswEntries(s, dir,
        s.read.parquet(s"$dir/ivf/lists").select(col("vec_id"))
          .orderBy(col("vec_id").asc).limit(nswEntryCount)),
      () => foldTombstones(s, dir, gone)))(_.apply())
    compactAppendTags(s, dir)
    writeNswManifest(s, dir)
  }

  /** One graph build per (artifact, JVM), a [[Derived]] key named by the
    * artifact path: the suite's serving queries all read the same
    * immutable stored graph — the amortization that replaced ~50 s/round
    * of per-query knnRankedEdges rebuilds (BENCH_r07's ss4x block). First
    * touch in a JVM rebuilds from scratch (overwrite), so a stale artifact
    * from an earlier process can never leak into answers. */
  private[operators] def ensureNswIndex(s: SparkSession, dir: String): String = {
    val idx = indexPathFor(dir + "#nswidx")
    Derived(s, idx) {
      buildNswIndex(s, qvec(s, dir).localCheckpoint(), idx,
        centsPre = Some(coarseCentroidsFor(s, dir)))
    }
    idx
  }

  /** The copy-on-write overlay the tombstone-exercising serving queries
    * share: the shared artifact's edges/entries/ivf by reference, a
    * private (initially empty) tombstone set. Fresh per JVM — a stale
    * overlay from an earlier process is dropped on first touch, like
    * every memoized build. */
  private[operators] def nswTombOverlayFor(s: SparkSession, dir: String): String = {
    val idx = ensureNswIndex(s, dir)
    val ov = indexPathFor(dir + "#nswtomb")
    Derived(s, ov) {
      Artifact.fs(s, ov).delete(new org.apache.hadoop.fs.Path(ov), true)
      overlayNswIndex(s, idx, ov)
    }
    ov
  }

  // ---------------------------------------------------------------------
  // ss36/ss37: NAVIGABLE-GRAPH ANN — greedy BEAM search over ss28's kNN
  // graph (the NSW family: Malkov et al. 2014's navigable small-world
  // search, minus the hierarchical layers), completing the serving-tier
  // matrix alongside IVF (ss03), PQ (ss09), SQ8 (ss16) and RP (ss29):
  // where IVF prunes by partition, graph search prunes by NAVIGATION —
  // hop from entry points toward the query, keeping the best `beamWidth`
  // candidates seen, re-expanding the beam through the graph for a FIXED
  // number of hops (cc09's bounded-budget contract: deterministic for
  // any budget, so the oracle is the same recurrence unrolled — a
  // visited-set/priority-queue formulation would be arrival-order
  // dependent and unverifiable). Scale shape: per hop, the frontier is
  // n_queries × beamWidth rows hash-joined against the corpus-sized edge
  // list and the corpus vector table — cost independent of corpus size
  // beyond those equi-joins; no window ever sees more than
  // beamWidth × (graphK + 1) rows per query. The beam keeps the best
  // candidates found so far (the union includes the current beam), so
  // quality is monotone in hops; ss37 is the honesty metric.
  //
  // The budget is MEASURED on both query families (sf0.1): corpus-member
  // queries read 98% at (hops=5, width=16) — ss37; external queries read
  // 83% there, and ss56's hops × width ladder shows the hop axis
  // saturates at 5 (+<=1 point to hops=8 at every width) while width is
  // the live dial (71/83/94% at 8/16/32). So hops=5 is the knee and
  // stays; width=16 stays the default because the corpus-member tier is
  // already at 98% and an external-heavy deployment can buy 94% with
  // width=32 at linear request-sized cost (ss56 is the standing
  // instrument for that decision).
  // ---------------------------------------------------------------------
  private val beamWidth = 16
  private val beamHops = 5
  private val nswEntryCount = 8
  // Out-degree ladder for the navigation graph: ss28's analysis degree
  // (graphK = 3, shared semantics) plus two serving-grade degrees —
  // production NSW/HNSW runs M = 8–48 (Malkov et al.), and round 6
  // measured 38% recall at degree 3, so the dial is MEASURED per M by
  // ss37 rather than guessed (ss12's PQ precedent).
  private[operators] val nswDegrees = Seq(3, 8, 16)
  private val nswMaxDegree = nswDegrees.max
  // Serving degree, MEASURED by ss37 (sf0.01): recall 38% at M=3,
  // 74% at M=8, 98% at M=16 — so the serving tier runs the top of the
  // ladder. The flat graph has no recall ceiling worth an HNSW layer at
  // this beam budget; layering would only buy entry-point quality.
  private val nswServeDegree = nswMaxDegree

  def ss36NswBeam(s: SparkSession, dir: String): DataFrame =
    nswBeamPipeline(s, dir, materialize = true)

  /** ss46: the COLD index cycle — [[buildNswIndex]] from scratch into its
    * own directory (never the memoized shared artifact), then serve from
    * the just-written files. Its bench time IS the amortizable build cost
    * the warm serving queries (ss36/ss37/ss40–ss45) no longer pay; its
    * oracle is ss36's, shared — build→serve must be indistinguishable
    * from the in-query graph the oracle derives. */
  def ss46NswIndexBuild(s: SparkSession, dir: String): DataFrame = {
    val base = qvec(s, dir).localCheckpoint()
    val idx = indexPathFor(dir + "#nswcold")
    buildNswIndex(s, base, idx)
    nswBeamOver(base, storedNswEdges(s, idx, nswServeDegree),
      materialize = true, beamHops,
      entriesOverride = Some(storedNswEntries(s, idx)))
  }

  /** The measured ALTERNATIVE entry rule (round-9 directive #3): one entry
    * per coarse cell — the member of each of the [[nswEntryCount]] LARGEST
    * inverted lists closest to its own centroid (argmax cos(member,
    * centroid), ties to the lowest vec_id). Unlike the lowest-ids rule,
    * these are spread across the vector space by construction: id-adjacent
    * entries can cluster, and at 100× corpus a 5-hop beam starts from
    * wherever ids happen to live. Computed entirely from the STORED
    * artifact (lists × broadcast centroids) — the rule a production index
    * would maintain at build time. ss47 measures it against lowest-ids
    * instead of guessing (the ss12/ss37 precedent). */
  private[operators] def centroidEntries(s: SparkSession, idxDir: String): DataFrame = {
    val ivf = resolveNswTable(s, idxDir, "ivf")
    val cents = s.read.parquet(s"$ivf/centroids")
      .select(col("cent_id"), col("cv").as("v2"), col("cnrm").as("n2"))
    val lists = s.read.parquet(s"$ivf/lists")
      .select(col("cent_id"), col("vec_id"), col("v").as("v1"),
        col("nrm").as("n1"))
    val sizes = lists.groupBy(col("cent_id")).agg(count(lit(1)).as("n"))
    // k rows after the aggregate — the global window is dictionary-sized
    val wc = Window.orderBy(col("n").desc, col("cent_id").asc)
    val top = sizes.withColumn("rn", row_number().over(wc))
      .filter(col("rn") <= nswEntryCount).select(col("cent_id"))
    lists.join(broadcast(top), Seq("cent_id"))
      .join(broadcast(cents), Seq("cent_id"))
      .withColumn("ccos",
        expr(dotExpr) / sqrt(col("n1").cast("double") * col("n2").cast("double")))
      .groupBy(col("cent_id"))
      .agg(max_by(col("vec_id"),
        struct(col("ccos"), (-col("vec_id")).as("neg"))).as("c_id"))
      .select(col("c_id"))
  }

  /** ss47: ENTRY-RULE audit — the same stored graph served at the
    * production degree under BOTH entry rules (lowest-ids vs centroid
    * medoids), recall against the brute-force truth side by side: the
    * measured keep/switch decision round-8 VERDICT #3 asked for, as a
    * query (ss37's ladder pattern, one more dial). MEASURED at sf0.01:
    * lowid 98% vs centroid 96% — KEEP lowest-ids: at this scale the
    * 5-hop beam reaches the right neighborhood from either start, and
    * the simpler rule costs nothing to maintain on append (min is
    * transitive; medoids shift with every list change). The id-clustering
    * concern is real only if ids correlate with vector space — this audit
    * is the standing instrument to re-check per corpus. */
  def ss47NswEntryRules(s: SparkSession, dir: String): DataFrame = {
    val base = qvec(s, dir).localCheckpoint()
    val idx = ensureNswIndex(s, dir)
    val exact = ss01ExactPairs(s, dir)
      .localCheckpoint()
    val edges = storedNswEdges(s, idx, nswServeDegree).localCheckpoint()
    def audit(rule: String, ents: DataFrame) =
      recallAgainst(exact,
        nswBeamOver(base, edges, materialize = true, beamHops,
          entriesOverride = Some(ents)))
        .select(lit(rule).as("entry_rule"), col("n_exact"), col("n_hit"),
          col("recall_pct"))
    parLadder(Seq(
      () => audit("lowid", storedNswEntries(s, idx)),
      () => audit("centroid", centroidEntries(s, idx))))(_.apply())
      .reduce(_ unionByName _)
  }

  lazy val ss47Oracle: String = {
    def chainFor(p: String, en: String): String = {
      val head =
        s"""u${p}_0 AS (SELECT q_id, c_id FROM qs CROSS JOIN $en),
           |${nswBeamSql(s"u${p}_0", s"b${p}_0")}""".stripMargin
      val hops = (1 to beamHops).map(h =>
        nswGrowSql(s"b${p}_${h - 1}", s"u${p}_$h") + ",\n" +
          nswBeamSql(s"u${p}_$h", s"b${p}_$h")).mkString(",\n")
      head + ",\n" + hops
    }
    def recallFor(rule: String, p: String): String =
      s"""SELECT '$rule' AS entry_rule, COUNT(*) AS n_exact,
         | CAST(SUM(CASE WHEN ap.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
         | (CAST(SUM(CASE WHEN ap.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) * 100)
         |   // COUNT(*) AS recall_pct
         |FROM ex LEFT JOIN (SELECT q_id, c_id FROM b${p}_$beamHops WHERE rnk <= $K) ap
         | USING (q_id, c_id)""".stripMargin
    s"""WITH $qvecSql,
       |${kmChainSql(ivfRounds)},
       |cents AS (SELECT cent_id, cv, cnrm AS cn FROM c$ivfRounds),
       |${annProbePrefixSqlFor("TRUE")},
       |$nswRankedEdgeSql,
       |ed AS (SELECT src, dst FROM edr WHERE rnk <= $nswServeDegree),
       |qs AS (SELECT vec_id AS q_id FROM qn WHERE vec_id % 100 = 0),
       |en1 AS (SELECT vec_id AS c_id FROM qn ORDER BY vec_id ASC LIMIT $nswEntryCount),
       |csz AS (SELECT cent_id, COUNT(*) AS n FROM assigned GROUP BY cent_id),
       |topc AS (SELECT cent_id FROM (
       |  SELECT cent_id, ROW_NUMBER() OVER (ORDER BY n DESC, cent_id ASC) AS rn
       |  FROM csz) t WHERE rn <= $nswEntryCount),
       |en2 AS (SELECT vec_id AS c_id FROM (
       |  SELECT a.a_id AS vec_id, a.cent_id,
       |   ROW_NUMBER() OVER (PARTITION BY a.cent_id ORDER BY cs.ccos DESC, a.a_id ASC) AS mrn
       |  FROM assigned a JOIN topc USING (cent_id)
       |  JOIN cscored cs ON cs.vec_id = a.a_id AND cs.cent_id = a.cent_id) t
       | WHERE mrn = 1),
       |ex AS MATERIALIZED (SELECT q_id, c_id FROM ($ss01Oracle) e),
       |${chainFor("r1", "en1")},
       |${chainFor("r2", "en2")}
       |${recallFor("lowid", "r1")}
       |UNION ALL
       |${recallFor("centroid", "r2")}""".stripMargin
  }

  /** ss48: FROZEN-QUANTIZER compaction — ss44's audit re-run under
    * `compactNswIndex(retrain = false)` (round-8 VERDICT #4): the
    * compacted artifact reuses the standing index's centroids
    * ([[compactIvfIndex]]'s shape — one assignment pass, one probe pass,
    * no Lloyd rounds), so ss44-vs-ss48 is the measured retrain-vs-reuse
    * decision with both recall numbers on the table. The oracle trains
    * the quantizer on the FULL corpus (the standing index's training set)
    * and assigns/serves the alive subset — exactly the frozen path.
    * MEASURED at sf0.01 (11% deletions): frozen 92% == retrained 92% —
    * the frozen variant wins, equal recall at a fraction of the rebuild
    * cost; and both trail the un-rebuilt tombstoned serve (ss43, 95%),
    * so the standing schedule remains "compact late, frozen first,
    * retrain only when the ss48 curve sags below ss44's". */
  def ss48NswCompactFrozen(s: SparkSession, dir: String): DataFrame = {
    val base = qvec(s, dir).localCheckpoint()
    val idx = nswTombOverlayFor(s, dir)
    tombstoneNswIndex(s, idx,
      base.filter(col("vec_id") % 9 === 0).select(col("vec_id")))
    val idxF = indexPathFor(dir + "#nswfrozen")
    Derived(s, idxF) { compactNswIndex(s, base, idx, idxF, retrain = false) }
    val alive = base.filter(col("vec_id") % 9 =!= 0).localCheckpoint()
    recallAgainst(bruteAlive9Pairs(s, dir),
      nswBeamOver(alive, storedNswEdges(s, idxF, nswServeDegree),
        materialize = true, beamHops,
        entriesOverride = Some(storedNswEntries(s, idxF))))
  }

  lazy val ss48Oracle: String = {
    val hops = (1 to beamHops).map(h =>
      nswGrowSql(s"b${h - 1}", s"u$h") + ",\n" + nswBeamSql(s"u$h", s"b$h"))
      .mkString(",\n")
    // quantizer CTEs (kmChainSql, cents) stay OUTSIDE the qn→qal rename —
    // trained on the full corpus; everything downstream reads alive only
    val frozenChain = Seq(
      annProbePrefixSqlFor("TRUE"),
      nswRankedEdgeSql,
      s"ed AS (SELECT src, dst FROM edr WHERE rnk <= $nswServeDegree)",
      "qs AS (SELECT vec_id AS q_id FROM qn WHERE vec_id % 100 = 0)",
      s"en AS (SELECT vec_id AS c_id FROM qn ORDER BY vec_id ASC LIMIT $nswEntryCount)",
      "u0 AS (SELECT q_id, c_id FROM qs CROSS JOIN en)",
      nswBeamSql("u0", "b0"),
      hops).mkString(",\n").replaceAll("\\bqn\\b", "qal")
    s"""WITH $qvecSql,
       |qal AS (SELECT vec_id, v, nrm FROM qn WHERE vec_id % 9 != 0),
       |${kmChainSql(ivfRounds)},
       |cents AS (SELECT cent_id, cv, cnrm AS cn FROM c$ivfRounds),
       |$frozenChain,
       |ap AS (SELECT q_id, c_id FROM b$beamHops WHERE rnk <= $K),
       |ex AS (SELECT q_id, c_id FROM ($bruteAliveSql) a)
       |SELECT COUNT(*) AS n_exact,
       | CAST(SUM(CASE WHEN ap.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       | (CAST(SUM(CASE WHEN ap.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) * 100)
       |   // COUNT(*) AS recall_pct
       |FROM ex LEFT JOIN ap USING (q_id, c_id)""".stripMargin
  }

  // ---------------------------------------------------------------------
  // ss58: NSW PHYSICAL ERASURE, oracle-checked by the equality one tier
  // up from ss57 (round-11 verdict "missing #1"): build the graph
  // artifact on the full corpus, physically erase the % 9 == 0 ids from
  // EVERY stored table (lists, probes, edges, entries, tombstones —
  // eraseFromNswIndex), then beam-serve the alive queries. Under the
  // frozen quantizer the erased artifact's tables equal rotateNswIndex's
  // blue/green output — compactNswIndex(retrain = false) minus its two
  // scoring passes, the table-level equality NswIndexSpec pins — so the
  // serve must land exactly on ss48's frozen-compaction answers: the
  // oracle is ss48's frozen chain (quantizer trained on the FULL corpus,
  // everything downstream alive-only) emitting the beam's top-K rows.
  // What distinguishes this from ss42's tombstoned serve is BOTH what
  // remains on disk (nothing of the erased vectors — the GDPR half) and
  // the walk itself (erased nodes no longer route; ranks re-close over
  // survivors).
  // ---------------------------------------------------------------------
  def ss58NswErased(s: SparkSession, dir: String): DataFrame = {
    val base = qvec(s, dir).localCheckpoint()
    val idxE = indexPathFor(dir + "#nswerase")
    Derived(s, idxE) {
      buildNswIndex(s, base, idxE,
        centsPre = Some(coarseCentroidsFor(s, dir)))
      eraseFromNswIndex(s, idxE,
        base.filter(col("vec_id") % 9 === 0).select(col("vec_id")))
    }
    val alive = base.filter(col("vec_id") % 9 =!= 0).localCheckpoint()
    nswBeamOver(alive, storedNswEdges(s, idxE, nswServeDegree),
      materialize = true, beamHops,
      entriesOverride = Some(storedNswEntries(s, idxE)))
  }

  lazy val ss58Oracle: String = {
    val hops = (1 to beamHops).map(h =>
      nswGrowSql(s"b${h - 1}", s"u$h") + ",\n" + nswBeamSql(s"u$h", s"b$h"))
      .mkString(",\n")
    // ss48's frozen chain: quantizer CTEs stay OUTSIDE the qn→qal rename
    // (trained on the full corpus); assignment, probes, edges, entries,
    // queries and beams all read alive only — exactly the erased artifact.
    val frozenChain = Seq(
      annProbePrefixSqlFor("TRUE"),
      nswRankedEdgeSql,
      s"ed AS (SELECT src, dst FROM edr WHERE rnk <= $nswServeDegree)",
      "qs AS (SELECT vec_id AS q_id FROM qn WHERE vec_id % 100 = 0)",
      s"en AS (SELECT vec_id AS c_id FROM qn ORDER BY vec_id ASC LIMIT $nswEntryCount)",
      "u0 AS (SELECT q_id, c_id FROM qs CROSS JOIN en)",
      nswBeamSql("u0", "b0"),
      hops).mkString(",\n").replaceAll("\\bqn\\b", "qal")
    s"""WITH $qvecSql,
       |qal AS (SELECT vec_id, v, nrm FROM qn WHERE vec_id % 9 != 0),
       |${kmChainSql(ivfRounds)},
       |cents AS (SELECT cent_id, cv, cnrm AS cn FROM c$ivfRounds),
       |$frozenChain
       |SELECT q_id, c_id, CAST(rnk AS INT) AS rnk, cos
       |FROM b$beamHops WHERE rnk <= $K""".stripMargin
  }

  /** The serving path: beam search over the STORED graph (round 8 — the
    * per-query [[knnRankedEdges]] rebuild this replaced was the last
    * 100-TB scale-killer; the graph build now happens once, in
    * [[buildNswIndex]], and every serve is edge-table scans). The stored
    * edges hash-match the in-query build by the NswIndexSpec law, so the
    * oracle is unchanged. materialize=false keeps the hop pipeline LAZY
    * (no localCheckpoint), so PlanShapeSpec can inspect the actual
    * beam-join dataflow — the production path's per-hop checkpoints
    * otherwise collapse the executedPlan to a LogicalRDD scan and a plan
    * assert against it would be vacuous (round-6 review finding). */
  private[operators] def nswBeamPipeline(s: SparkSession, dir: String,
      materialize: Boolean, hops: Int = beamHops,
      degree: Int = nswServeDegree): DataFrame = {
    val base = qvec(s, dir).localCheckpoint()
    val idx = ensureNswIndex(s, dir)
    nswBeamOver(base, storedNswEdges(s, idx, degree), materialize, hops,
      entriesOverride = Some(storedNswEntries(s, idx)))
  }

  /** Deterministic EXTERNAL query set for ss51/ss52/ss53 and the
    * serve-stream spec: the element-wise SUM of two unrelated corpus
    * vectors (every 100th, paired with its id-successor — ids are not
    * locality-correlated, so the midpoint direction lands genuinely
    * between clusters and the recall audit discriminates; a small
    * perturbation of a member would just re-find its own neighborhood
    * at 100%). The sum, not the average: cosine is scale-invariant and
    * integer addition is exact in both engines with no floor/truncate
    * divergence. Ids move to a disjoint space so the beam's self-pair
    * filter can never drop a legitimate candidate — and the offset is
    * DERIVED from the corpus (next 10M multiple past max(vec_id)), not
    * hard-coded (round-10 advice: a fixed +10M silently broke the
    * disjointness premise once a corpus reached 10M vectors — exactly
    * the scale this engine targets). */
  private[operators] def externalIdOffset(base: DataFrame): Long = {
    val mx = base.agg(max(col("vec_id"))).collect()(0)
    val m = if (mx.isNullAt(0)) 0L else mx.getLong(0)
    (m / 10000000L + 1L) * 10000000L
  }

  /** The SQL twin of [[externalIdOffset]] — same integer arithmetic
    * (DuckDB `//` floors like JVM `/` on these non-negative operands). */
  private val xoffSql: String =
    "(SELECT ((MAX(vec_id) // 10000000) + 1) * 10000000 FROM qn)"

  private[operators] def externalQueries(base: DataFrame): DataFrame = {
    val off = externalIdOffset(base)
    val a = base.filter(col("vec_id") % 100 === 50)
      .select(col("vec_id"), col("v").as("va"))
    val b = base.select((col("vec_id") - lit(1L)).as("vec_id"),
      col("v").as("vb"))
    a.join(b, Seq("vec_id"))
      .select((col("vec_id") + lit(off)).as("q_id"),
        zip_with(col("va"), col("vb"), (x, y) => x + y).as("v1"))
      .withColumn("n1", expr("dot_l(v1, v1)"))
  }

  /** EXTERNAL-QUERY serving — the front door a retrieval deployment
    * actually exposes: the query vector arrives from OUTSIDE (a user
    * embedding), the corpus lives in the artifact. Nothing here reads a
    * corpus table: candidate vectors come from the artifact's own
    * inverted lists (they carry (vec_id, v, nrm)), edges/entries/
    * tombstones resolve from the artifact, and results are screened
    * against tombstones AFTER the walk (dead nodes still route — ss43's
    * measured law), then re-ranked over the full visited set (the ss42
    * refill shape, so a screened-out candidate costs recall, not a
    * short result list). Scale shape: per hop, |queries| × beamWidth
    * rows equi-join the stored edge table; the only broadcast is the
    * constant-size entry set. `queries` must be (q_id, v1, n1) with
    * q_ids ABOVE the corpus id space — ENFORCED against the manifest's
    * max_vec_id, not just documented (round-10 advice: a colliding q_id
    * was silently dropped as a self-pair by the walk's q_id != c_id
    * filter, returning wrong, short results with no error). */
  def beamServeExternal(s: SparkSession, idxDir: String,
      queries: DataFrame): DataFrame = {
    val qs = queries.select(col("q_id"), col("v1"), col("n1"))
    manifestLong(s, resolveNswTable(s, idxDir, "manifest.json"),
        "max_vec_id").foreach { mx =>
      // metadata-side bound + one request-sized agg: fail LOUDLY on any
      // id-space collision instead of silently self-pair-dropping it
      val qmin = qs.agg(min(col("q_id"))).collect()(0)
      if (!qmin.isNullAt(0) && qmin.getLong(0) <= mx)
        throw new IllegalArgumentException(
          s"external query ids must live ABOVE the corpus id space: min " +
            s"q_id ${qmin.getLong(0)} <= max corpus vec_id $mx (index " +
            s"$idxDir) — a colliding id would be dropped as a self-pair " +
            "and return silently short results; offset query ids past the " +
            "manifest's max_vec_id (externalIdOffset's rule)")
    }
    val lists = s.read
      .parquet(s"${resolveNswTable(s, idxDir, "ivf")}/lists")
      .select(col("vec_id"), col("v"), col("nrm"))
    val visited = nswBeamSearch(lists,
        storedNswEdges(s, idxDir, nswServeDegree),
        materialize = true, beamHops,
        entriesOverride = Some(storedNswEntries(s, idxDir)),
        qsOverride = Some(qs))._2
      .join(storedNswTombstones(s, idxDir).withColumnRenamed("vec_id", "c_id"),
        Seq("c_id"), "left_anti")
      .localCheckpoint()
    val cs = lists.select(col("vec_id").as("c_id"), col("v").as("v2"),
      col("nrm").as("n2"))
    topK(visited.join(qs, Seq("q_id")).join(cs, Seq("c_id"))
        .withColumn("cos",
          expr(dotExpr) / sqrt(col("n1").cast("double") * col("n2").cast("double"))))
      .select(col("q_id"), col("c_id"), col("rnk"), col("cos"))
  }

  /** ss51: [[beamServeExternal]] oracle-checked — external queries (the
    * deterministic perturbed family) served against the shared stored
    * graph; the oracle rebuilds the index chain, the perturbed queries,
    * the beam recurrence AND the visited-set re-rank from the corpus
    * alone, with no knowledge of the artifact. */
  def ss51ExternalServe(s: SparkSession, dir: String): DataFrame =
    externalBeamServed(s, dir)

  lazy val ss51Oracle: String = {
    val hops = (1 to beamHops).map(h =>
      nswGrowSql(s"b${h - 1}", s"u$h") + ",\n" +
        nswBeamSql(s"u$h", s"b$h", "qx")).mkString(",\n")
    val visUnion = (0 to beamHops).map(h => s"SELECT q_id, c_id FROM u$h")
      .mkString("\n UNION\n ")
    s"""WITH $qvecSql,
       |${kmChainSql(ivfRounds)},
       |cents AS (SELECT cent_id, cv, cnrm AS cn FROM c$ivfRounds),
       |${annProbePrefixSqlFor("TRUE")},
       |$nswRankedEdgeSql,
       |ed AS (SELECT src, dst FROM edr WHERE rnk <= $nswServeDegree),
       |qx AS (SELECT a.vec_id + $xoffSql AS vec_id,
       |  list_transform(range(1, len(a.v) + 1), i -> a.v[i] + b.v[i]) AS v,
       |  CAST(list_sum(list_transform(range(1, len(a.v) + 1),
       |    i -> (a.v[i] + b.v[i]) * (a.v[i] + b.v[i]))) AS BIGINT) AS nrm
       | FROM qn a JOIN qn b ON b.vec_id = a.vec_id + 1
       | WHERE a.vec_id % 100 = 50),
       |en AS (SELECT vec_id AS c_id FROM qn ORDER BY vec_id ASC LIMIT $nswEntryCount),
       |u0 AS (SELECT vec_id AS q_id, c_id FROM qx CROSS JOIN en),
       |${nswBeamSql("u0", "b0", "qx")},
       |$hops,
       |vis AS ($visUnion),
       |vs AS (
       | SELECT vis.q_id, vis.c_id,
       |  CAST(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) AS BIGINT)
       |    / sqrt(CAST(a.nrm AS DOUBLE) * CAST(b.nrm AS DOUBLE)) AS cos
       | FROM vis JOIN qx a ON vis.q_id = a.vec_id
       |  JOIN qn b ON vis.c_id = b.vec_id)
       |SELECT q_id, c_id, CAST(rnk AS INT) AS rnk, cos FROM (
       | SELECT q_id, c_id, cos,
       |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rnk
       | FROM vs) t WHERE rnk <= $K""".stripMargin
  }

  // The external-serve probe rung, MEASURED not guessed (round-10 verdict
  // #3: the serve shipped nprobe=2 while its own instrument — ss54 —
  // read 60% there and 84% one rung up at sf0.1; corpus-member queries
  // are unaffected, they probe at the build nprobe). Recorded in the IVF
  // manifest at build time and consumed at serve time; the conf is the
  // per-deployment override. Oracles model the measured default, so the
  // correctness gate re-proves the production rung end-to-end.
  private[operators] val ivfServeNprobeMeasured = 4

  private def ivfServeNprobe(s: SparkSession, idxDir: String): Int =
    s.conf.getOption("spark.graft.ivf.serveNprobe").map(_.toInt)
      .orElse(manifestLong(s, s"$idxDir/manifest.json", "serve_nprobe")
        .map(_.toInt))
      .getOrElse(ivfServeNprobeMeasured)

  private def writeIvfManifest(s: SparkSession, dir: String): Unit = {
    val f = Artifact.fs(s, dir)
    val out = f.create(new org.apache.hadoop.fs.Path(s"$dir/manifest.json"), true)
    try out.write(
      (s"""{"nprobe":$nprobe,"serve_nprobe":$ivfServeNprobeMeasured,""" +
        s""""rounds":$ivfRounds}""").getBytes("UTF-8"))
    finally out.close()
  }

  /** One numeric field from a JSON manifest, if the file and field exist.
    * The manifests are single-line flat objects this object writes itself,
    * so a field regex is the whole parser. */
  private def manifestLong(s: SparkSession, path: String,
      field: String): Option[Long] = {
    val f = Artifact.fs(s, path)
    val p = new org.apache.hadoop.fs.Path(path)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      s""""$field"\\s*:\\s*(-?\\d+)""".r.findFirstMatchIn(txt)
        .map(_.group(1).toLong)
    }
  }

  /** [[beamServeExternal]]'s IVF sibling — external query vectors probed
    * against the STORED coarse quantizer and scored only inside their
    * nprobe pruned list partitions (the classic IVF serving path, for
    * queries that are not corpus members). The centroid table is the
    * only broadcast (constant-size); the list join partition-prunes on
    * the probed cent_ids; each candidate lives in exactly one list
    * (crn = 1 assignment), so pairs are structurally duplicate-free.
    * Probes at the rung ss54 measured — manifest-recorded at build,
    * conf-overridable (`spark.graft.ivf.serveNprobe`). */
  def ivfServeExternal(s: SparkSession, idxDir: String,
      queries: DataFrame): DataFrame =
    ivfServeExternalAt(s, idxDir, queries, ivfServeNprobe(s, idxDir))

  /** [[ivfServeExternal]] with the probe count as a dial — ss54 measures
    * external recall per nprobe (the ss37-ladder pattern: the dial is
    * measured per corpus, not guessed; ss53's production reading is the
    * ladder's first rung). */
  def ivfServeExternalAt(s: SparkSession, idxDir: String,
      queries: DataFrame, probeCount: Int): DataFrame = {
    promoteStages(s, idxDir) // heal a crashed staged lists compact first
    val cents = s.read.parquet(s"$idxDir/centroids")
      .select(col("cent_id"), col("cv").as("v2"), col("cnrm").as("n2"))
    val qside = queries.select(col("q_id"), col("v1"), col("n1"))
    val wProbe = Window.partitionBy(col("q_id"))
      .orderBy(col("ccos").desc, col("cent_id").asc)
    val probes = qside.join(broadcast(cents), lit(true))
      .withColumn("ccos",
        expr(dotExpr) / sqrt(col("n1").cast("double") * col("n2").cast("double")))
      .withColumn("crn", row_number().over(wProbe))
      .filter(col("crn") <= probeCount)
      .select(col("q_id"), col("cent_id"))
    val lists = screenIvfTombstones(s, idxDir,
        s.read.parquet(s"$idxDir/lists"))
      .select(col("cent_id"), col("vec_id").as("c_id"),
        col("v").as("v2"), col("nrm").as("n2"))
    // the query side is request-sized (a serving batch), so it broadcasts
    // into the scoring join — the probeIvfIndex choice, not AQE's
    topK(probes.join(lists, Seq("cent_id"))
        .join(broadcast(qside), Seq("q_id"))
        .withColumn("cos",
          expr(dotExpr) / sqrt(col("n1").cast("double") * col("n2").cast("double"))))
      .select(col("q_id"), col("c_id"), col("rnk"), col("cos"))
  }

  /** ss52: [[ivfServeExternal]] oracle-checked over ss05's persisted
    * index and ss51's perturbed external query family. */
  def ss52IvfExternalServe(s: SparkSession, dir: String): DataFrame = {
    val base = qvec(s, dir).localCheckpoint()
    ivfServeExternal(s, ensureIvfIndex(s, dir, base),
      externalQueriesFor(s, dir))
  }

  lazy val ss52Oracle: String =
    s"""WITH $qvecSql,
       |${kmChainSql(ivfRounds)},
       |cents AS (SELECT cent_id, cv, cnrm AS cn FROM c$ivfRounds),
       |cscored AS (
       | SELECT qn.vec_id, cents.cent_id,
       |  CAST(list_sum(list_transform(range(1, len(qn.v) + 1), i -> qn.v[i] * cents.cv[i])) AS BIGINT)
       |    / sqrt(CAST(qn.nrm AS DOUBLE) * CAST(cents.cn AS DOUBLE)) AS ccos
       | FROM qn CROSS JOIN cents),
       |assigned AS (
       | SELECT vec_id AS a_id, cent_id FROM (
       |  SELECT vec_id, cent_id,
       |   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id ASC) AS crn
       |  FROM cscored) t WHERE crn = 1),
       |qx AS (SELECT a.vec_id + $xoffSql AS vec_id,
       |  list_transform(range(1, len(a.v) + 1), i -> a.v[i] + b.v[i]) AS v,
       |  CAST(list_sum(list_transform(range(1, len(a.v) + 1),
       |    i -> (a.v[i] + b.v[i]) * (a.v[i] + b.v[i]))) AS BIGINT) AS nrm
       | FROM qn a JOIN qn b ON b.vec_id = a.vec_id + 1
       | WHERE a.vec_id % 100 = 50),
       |xscored AS (
       | SELECT qx.vec_id, cents.cent_id,
       |  CAST(list_sum(list_transform(range(1, len(qx.v) + 1), i -> qx.v[i] * cents.cv[i])) AS BIGINT)
       |    / sqrt(CAST(qx.nrm AS DOUBLE) * CAST(cents.cn AS DOUBLE)) AS ccos
       | FROM qx CROSS JOIN cents),
       |xprobes AS (
       | SELECT vec_id AS q_id, cent_id FROM (
       |  SELECT vec_id, cent_id,
       |   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id ASC) AS crn
       |  FROM xscored) t WHERE crn <= $ivfServeNprobeMeasured),
       |pairs AS (
       | SELECT p.q_id, a.a_id AS c_id
       | FROM xprobes p JOIN assigned a ON p.cent_id = a.cent_id),
       |scored AS (
       | SELECT pairs.q_id, pairs.c_id,
       |  CAST(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) AS BIGINT)
       |    / sqrt(CAST(a.nrm AS DOUBLE) * CAST(b.nrm AS DOUBLE)) AS cos
       | FROM pairs JOIN qx a ON pairs.q_id = a.vec_id JOIN qn b ON pairs.c_id = b.vec_id)
       |SELECT q_id, c_id, CAST(rnk AS INT) AS rnk, cos FROM (
       | SELECT q_id, c_id, cos,
       |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rnk
       | FROM scored) t WHERE rnk <= $K""".stripMargin

  /** ss53: the external-serve HONESTY METRIC — recall of BOTH external
    * serving tiers (graph beam ss51, IVF probe ss52) against the exact
    * brute-force top-K for the same external query family, side by side
    * in one audit (the repo's standard: every serving tier ships its
    * recall instrument — ss06/ss12/ss37/ss41/ss43). The exact side is a
    * deliberate |queries| × corpus baseline, request-bounded like ss01's:
    * the audit runs offline per corpus snapshot, never in the serve
    * path. */
  def ss53ExternalRecall(s: SparkSession, dir: String): DataFrame = {
    val base = qvec(s, dir).localCheckpoint()
    val ext = externalQueriesFor(s, dir)
    val exact = externalExactPairs(s, dir)
    val beam = externalBeamServed(s, dir)
    val idxDir = ensureIvfIndex(s, dir, base)
    val ivf = ivfServeExternal(s, idxDir, ext)
    // each tier reports the DIAL it actually served at (round-10 verdict
    // #3: the audit must say which rung produced its reading)
    val ivfDial = s"nprobe=${ivfServeNprobe(s, idxDir)}"
    recallAgainst(exact, beam).withColumn("tier", lit("beam"))
      .withColumn("dial", lit(s"hops=$beamHops,width=$beamWidth"))
      .unionByName(recallAgainst(exact, ivf).withColumn("tier", lit("ivf"))
        .withColumn("dial", lit(ivfDial)))
      .select(col("tier"), col("dial"), col("n_exact"), col("n_hit"),
        col("recall_pct"))
  }

  lazy val ss53Oracle: String =
    s"""WITH $qvecSql,
       |qx AS (SELECT a.vec_id + $xoffSql AS q_id,
       |  list_transform(range(1, len(a.v) + 1), i -> a.v[i] + b.v[i]) AS v,
       |  CAST(list_sum(list_transform(range(1, len(a.v) + 1),
       |    i -> (a.v[i] + b.v[i]) * (a.v[i] + b.v[i]))) AS BIGINT) AS nrm
       | FROM qn a JOIN qn b ON b.vec_id = a.vec_id + 1
       | WHERE a.vec_id % 100 = 50),
       |ex AS (
       | SELECT q_id, c_id FROM (
       |  SELECT qx.q_id, c.vec_id AS c_id,
       |   ROW_NUMBER() OVER (PARTITION BY qx.q_id ORDER BY
       |     CAST(list_sum(list_transform(range(1, len(qx.v) + 1), i -> qx.v[i] * c.v[i])) AS BIGINT)
       |       / sqrt(CAST(qx.nrm AS DOUBLE) * CAST(c.nrm AS DOUBLE)) DESC,
       |     c.vec_id ASC) AS rnk
       |  FROM qx CROSS JOIN qn c) t WHERE rnk <= $K),
       |apb AS (SELECT q_id, c_id FROM ($ss51Oracle) b),
       |api AS (SELECT q_id, c_id FROM ($ss52Oracle) i)
       |SELECT 'beam' AS tier, 'hops=$beamHops,width=$beamWidth' AS dial,
       | COUNT(*) AS n_exact,
       | CAST(SUM(CASE WHEN apb.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       | (CAST(SUM(CASE WHEN apb.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) * 100)
       |   // COUNT(*) AS recall_pct
       |FROM ex LEFT JOIN apb USING (q_id, c_id)
       |UNION ALL
       |SELECT 'ivf', 'nprobe=$ivfServeNprobeMeasured', COUNT(*),
       | CAST(SUM(CASE WHEN api.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT),
       | (CAST(SUM(CASE WHEN api.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) * 100)
       |   // COUNT(*)
       |FROM ex LEFT JOIN api USING (q_id, c_id)""".stripMargin

  /** ss55: EXTERNAL queries against the DELTA-BEARING rolled-forward
    * index — the configuration a live deployment actually serves
    * (graphIngestStream appended a micro-batch, nothing folded yet, and
    * a user query arrives): merge-on-read edges, post-append entries,
    * candidates from the grown lists. The oracle is ss49's one-shot
    * relational recurrence (standing-trained quantizer, grown-corpus
    * edges) composed with ss51's external family and visited re-rank —
    * it knows nothing about deltas, so the LSM layout must be
    * indistinguishable from a pristine index to an outside caller. */
  def ss55ExternalDeltaServe(s: SparkSession, dir: String): DataFrame = {
    val base = qvec(s, dir).localCheckpoint()
    beamServeExternal(s, rolledNswIndexFor(s, dir, base),
      externalQueriesFor(s, dir))
  }

  lazy val ss55Oracle: String = {
    val hops = (1 to beamHops).map(h =>
      nswGrowSql(s"b${h - 1}", s"u$h") + ",\n" +
        nswBeamSql(s"u$h", s"b$h", "qx")).mkString(",\n")
    val visUnion = (0 to beamHops).map(h => s"SELECT q_id, c_id FROM u$h")
      .mkString("\n UNION\n ")
    s"""WITH $qvecSql,
       |qno AS (SELECT * FROM qn WHERE vec_id % 10 != 3),
       |${kmChainSql(ivfRounds).replaceAll("\\bqn\\b", "qno")},
       |cents AS (SELECT cent_id, cv, cnrm AS cn FROM c$ivfRounds),
       |${annProbePrefixSqlFor("TRUE")},
       |$nswRankedEdgeSql,
       |ed AS (SELECT src, dst FROM edr WHERE rnk <= $nswServeDegree),
       |qx AS (SELECT a.vec_id + $xoffSql AS vec_id,
       |  list_transform(range(1, len(a.v) + 1), i -> a.v[i] + b.v[i]) AS v,
       |  CAST(list_sum(list_transform(range(1, len(a.v) + 1),
       |    i -> (a.v[i] + b.v[i]) * (a.v[i] + b.v[i]))) AS BIGINT) AS nrm
       | FROM qn a JOIN qn b ON b.vec_id = a.vec_id + 1
       | WHERE a.vec_id % 100 = 50),
       |en AS (SELECT vec_id AS c_id FROM qn ORDER BY vec_id ASC LIMIT $nswEntryCount),
       |u0 AS (SELECT vec_id AS q_id, c_id FROM qx CROSS JOIN en),
       |${nswBeamSql("u0", "b0", "qx")},
       |$hops,
       |vis AS ($visUnion),
       |vs AS (
       | SELECT vis.q_id, vis.c_id,
       |  CAST(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) AS BIGINT)
       |    / sqrt(CAST(a.nrm AS DOUBLE) * CAST(b.nrm AS DOUBLE)) AS cos
       | FROM vis JOIN qx a ON vis.q_id = a.vec_id
       |  JOIN qn b ON vis.c_id = b.vec_id)
       |SELECT q_id, c_id, CAST(rnk AS INT) AS rnk, cos FROM (
       | SELECT q_id, c_id, cos,
       |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rnk
       | FROM vs) t WHERE rnk <= $K""".stripMargin
  }

  // External IVF probe-count ladder (ss54): the audit measures what each
  // extra probe buys for out-of-corpus queries (ss37's degree-ladder
  // pattern). Production now CONSUMES this measurement — rung 4 (the
  // sf0.1 knee: 60/84/100% at 2/4/8) is ivfServeNprobeMeasured, recorded
  // in the manifest and served by ivfServeExternal.
  private val ivfProbeLadder = Seq(2, 4, 8)

  /** ss54: the external-serve NPROBE LADDER — ss53 reads IVF external
    * recall at the production probe count; this measures the dial
    * (recall per nprobe against the same brute-force ground truth), so
    * the production rung is a measured probe-count decision the serve
    * consumes ([[ivfServeNprobeMeasured]]), not a guess. */
  def ss54ExternalNprobeLadder(s: SparkSession, dir: String): DataFrame = {
    val base = qvec(s, dir).localCheckpoint()
    val ext = externalQueriesFor(s, dir)
    val exact = externalExactPairs(s, dir)
    val idxDir = ensureIvfIndex(s, dir, base)
    parLadder(ivfProbeLadder) { np =>
      recallAgainst(exact, ivfServeExternalAt(s, idxDir, ext, np))
        .withColumn("nprobe", lit(np.toLong))
    }.reduce(_.unionByName(_))
      .select(col("nprobe"), col("n_exact"), col("n_hit"), col("recall_pct"))
  }

  lazy val ss54Oracle: String = {
    val maxNp = ivfProbeLadder.max
    val rungs = ivfProbeLadder.map { np =>
      s"""SELECT CAST($np AS BIGINT) AS nprobe, COUNT(*) AS n_exact,
         | CAST(SUM(CASE WHEN ap.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
         | (CAST(SUM(CASE WHEN ap.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) * 100)
         |   // COUNT(*) AS recall_pct
         |FROM ex LEFT JOIN (
         | SELECT q_id, c_id FROM (
         |  SELECT q_id, c_id,
         |   ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rnk
         |  FROM xsc WHERE crn <= $np) r WHERE rnk <= $K) ap
         | USING (q_id, c_id)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $qvecSql,
       |${kmChainSql(ivfRounds)},
       |cents AS (SELECT cent_id, cv, cnrm AS cn FROM c$ivfRounds),
       |cscored AS (
       | SELECT qn.vec_id, cents.cent_id,
       |  CAST(list_sum(list_transform(range(1, len(qn.v) + 1), i -> qn.v[i] * cents.cv[i])) AS BIGINT)
       |    / sqrt(CAST(qn.nrm AS DOUBLE) * CAST(cents.cn AS DOUBLE)) AS ccos
       | FROM qn CROSS JOIN cents),
       |assigned AS (
       | SELECT vec_id AS a_id, cent_id FROM (
       |  SELECT vec_id, cent_id,
       |   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id ASC) AS crn
       |  FROM cscored) t WHERE crn = 1),
       |qx AS (SELECT a.vec_id + $xoffSql AS q_id,
       |  list_transform(range(1, len(a.v) + 1), i -> a.v[i] + b.v[i]) AS v,
       |  CAST(list_sum(list_transform(range(1, len(a.v) + 1),
       |    i -> (a.v[i] + b.v[i]) * (a.v[i] + b.v[i]))) AS BIGINT) AS nrm
       | FROM qn a JOIN qn b ON b.vec_id = a.vec_id + 1
       | WHERE a.vec_id % 100 = 50),
       |ex AS MATERIALIZED (
       | SELECT q_id, c_id FROM (
       |  SELECT qx.q_id, c.vec_id AS c_id,
       |   ROW_NUMBER() OVER (PARTITION BY qx.q_id ORDER BY
       |     CAST(list_sum(list_transform(range(1, len(qx.v) + 1), i -> qx.v[i] * c.v[i])) AS BIGINT)
       |       / sqrt(CAST(qx.nrm AS DOUBLE) * CAST(c.nrm AS DOUBLE)) DESC,
       |     c.vec_id ASC) AS rnk
       |  FROM qx CROSS JOIN qn c) t WHERE rnk <= $K),
       |xranked AS (
       | SELECT qx.q_id, cents.cent_id,
       |  ROW_NUMBER() OVER (PARTITION BY qx.q_id ORDER BY
       |   CAST(list_sum(list_transform(range(1, len(qx.v) + 1), i -> qx.v[i] * cents.cv[i])) AS BIGINT)
       |     / sqrt(CAST(qx.nrm AS DOUBLE) * CAST(cents.cn AS DOUBLE)) DESC,
       |   cents.cent_id ASC) AS crn
       | FROM qx CROSS JOIN cents),
       |xsc AS MATERIALIZED (
       | SELECT p.q_id, p.crn, a.a_id AS c_id,
       |  CAST(list_sum(list_transform(range(1, len(qv.v) + 1), i -> qv.v[i] * b.v[i])) AS BIGINT)
       |    / sqrt(CAST(qv.nrm AS DOUBLE) * CAST(b.nrm AS DOUBLE)) AS cos
       | FROM (SELECT q_id, cent_id, crn FROM xranked WHERE crn <= $maxNp) p
       |  JOIN assigned a ON p.cent_id = a.cent_id
       |  JOIN qx qv ON p.q_id = qv.q_id
       |  JOIN qn b ON a.a_id = b.vec_id)
       |$rungs""".stripMargin
  }

  // ss56's dials: one chain per width to the deepest hop, recall read at
  // every hop point along the way (monotone visited set ⇒ the shallower
  // rungs are free prefixes of the deep chain — 9 rungs for 3 walks).
  private val beamLadderWidths = Seq(8, 16, 32)
  private val beamLadderHops = Seq(3, 5, 8)

  /** ss56: the EXTERNAL BEAM BUDGET ladder — hops × beamWidth recall for
    * [[beamServeExternal]] against the brute-force external truth
    * (round-10 verdict #4: corpus-member queries read 98% at the
    * production budget while external queries read 83% at sf0.1, so the
    * budget demonstrably matters out-of-corpus — and had no measurement).
    * Same serve shape as production: walk the stored graph, re-rank the
    * full visited set from the artifact's lists. MEASURED at sf0.1:
    * width 8/16/32 reads 71/83/94% at hops=5, while hops past 5 buy at
    * most one point at any width — the HOP budget sits at its knee
    * (kept), and WIDTH is the dial to turn when a deployment needs more
    * than 83% external recall, at linear cost in the request-sized walk
    * (never the corpus). See the serving constants below. */
  def ss56ExternalBeamLadder(s: SparkSession, dir: String): DataFrame = {
    val ext = externalQueriesFor(s, dir)
    val qs = ext.select(col("q_id"), col("v1"), col("n1"))
    val exact = externalExactPairs(s, dir)
    val idx = ensureNswIndex(s, dir)
    // candidates from the ARTIFACT's lists, exactly like the serve
    val cands = s.read.parquet(s"${resolveNswTable(s, idx, "ivf")}/lists")
      .select(col("vec_id").as("c_id"), col("v").as("v2"),
        col("nrm").as("n2")).localCheckpoint()
    val edges = storedNswEdges(s, idx, nswServeDegree).localCheckpoint()
    val entries = storedNswEntries(s, idx).localCheckpoint()
    val wq = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id").asc)
    def beamW(front: DataFrame, width: Int): DataFrame = front
      .join(cands, Seq("c_id")).join(qs, Seq("q_id"))
      .withColumn("cos",
        expr(dotExpr) / sqrt(col("n1").cast("double") * col("n2").cast("double")))
      .withColumn("rnk", row_number().over(wq)).filter(col("rnk") <= width)
      .select(col("q_id"), col("c_id"), col("cos")).localCheckpoint()
    val u0 = qs.select(col("q_id")).crossJoin(broadcast(entries))
      .localCheckpoint()
    parLadder(beamLadderWidths) { width =>
      var b = beamW(u0, width)
      var visited = u0
      val rungs = (1 to beamLadderHops.max).flatMap { h =>
        // one exchange per hop: q_id partitioning serves both the dedup
        // and beamW's window (see nswBeamSearch)
        val grown = b.select(col("q_id"), col("c_id"))
          .unionAll(b.join(edges, b("c_id") === edges("src"))
            .select(col("q_id"), col("dst").as("c_id")))
          .repartition(col("q_id"))
          .dropDuplicates(Seq("q_id", "c_id")).localCheckpoint()
        visited = visited.unionByName(grown)
        b = beamW(grown, width)
        if (!beamLadderHops.contains(h)) None
        else {
          // the serve at this budget: exact re-rank over everything seen
          val serve = topK(visited.distinct()
              .join(qs, Seq("q_id")).join(cands, Seq("c_id"))
              .withColumn("cos",
                expr(dotExpr) /
                  sqrt(col("n1").cast("double") * col("n2").cast("double"))))
            .select(col("q_id"), col("c_id"))
          Some(recallAgainst(exact, serve)
            .select(lit(h.toLong).as("hops"),
              lit(width.toLong).as("beam_width"),
              col("n_exact"), col("n_hit"), col("recall_pct")))
        }
      }
      rungs.reduce(_ unionByName _)
    }.reduce(_ unionByName _)
  }

  lazy val ss56Oracle: String = {
    def chainFor(wd: Int): String = {
      val p = s"w$wd"
      val head =
        s"""u${p}_0 AS (SELECT q_id, c_id FROM qsx CROSS JOIN en),
           |${nswBeamSql(s"u${p}_0", s"b${p}_0", "qx", wd, "qnm")}""".stripMargin
      val hops = (1 to beamLadderHops.max).map(h =>
        nswGrowSql(s"b${p}_${h - 1}", s"u${p}_$h") + ",\n" +
          nswBeamSql(s"u${p}_$h", s"b${p}_$h", "qx", wd, "qnm")).mkString(",\n")
      head + ",\n" + hops
    }
    def rungFor(wd: Int, h: Int): String = {
      val p = s"w$wd"
      val vis = (0 to h).map(i => s"SELECT q_id, c_id FROM u${p}_$i")
        .mkString(" UNION ")
      s"""SELECT CAST($h AS BIGINT) AS hops, CAST($wd AS BIGINT) AS beam_width,
         | COUNT(*) AS n_exact,
         | CAST(SUM(CASE WHEN ap.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
         | (CAST(SUM(CASE WHEN ap.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) * 100)
         |   // COUNT(*) AS recall_pct
         |FROM ex LEFT JOIN (
         | SELECT q_id, c_id FROM (
         |  SELECT q_id, c_id,
         |   ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rnk
         |  FROM (
         |   SELECT v.q_id, v.c_id,
         |    CAST(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b2.v[i])) AS BIGINT)
         |      / sqrt(CAST(a.nrm AS DOUBLE) * CAST(b2.nrm AS DOUBLE)) AS cos
         |   FROM ($vis) v JOIN qx a ON v.q_id = a.vec_id
         |    JOIN qnm b2 ON v.c_id = b2.vec_id) s0) s1 WHERE rnk <= $K) ap
         | USING (q_id, c_id)""".stripMargin
    }
    val rungs = (for (wd <- beamLadderWidths; h <- beamLadderHops)
      yield rungFor(wd, h)).mkString("\nUNION ALL\n")
    s"""WITH $qvecSql,
       |${kmChainSql(ivfRounds)},
       |cents AS (SELECT cent_id, cv, cnrm AS cn FROM c$ivfRounds),
       |${annProbePrefixSqlFor("TRUE")},
       |$nswRankedEdgeSql,
       |ed AS (SELECT src, dst FROM edr WHERE rnk <= $nswServeDegree),
       |qnm AS MATERIALIZED (SELECT vec_id, v, nrm FROM qn),
       |qx AS MATERIALIZED (SELECT a.vec_id + $xoffSql AS vec_id,
       |  list_transform(range(1, len(a.v) + 1), i -> a.v[i] + b.v[i]) AS v,
       |  CAST(list_sum(list_transform(range(1, len(a.v) + 1),
       |    i -> (a.v[i] + b.v[i]) * (a.v[i] + b.v[i]))) AS BIGINT) AS nrm
       | FROM qn a JOIN qn b ON b.vec_id = a.vec_id + 1
       | WHERE a.vec_id % 100 = 50),
       |qsx AS (SELECT vec_id AS q_id FROM qx),
       |en AS (SELECT vec_id AS c_id FROM qn ORDER BY vec_id ASC LIMIT $nswEntryCount),
       |ex AS MATERIALIZED (
       | SELECT q_id, c_id FROM (
       |  SELECT qx.vec_id AS q_id, c.vec_id AS c_id,
       |   ROW_NUMBER() OVER (PARTITION BY qx.vec_id ORDER BY
       |     CAST(list_sum(list_transform(range(1, len(qx.v) + 1), i -> qx.v[i] * c.v[i])) AS BIGINT)
       |       / sqrt(CAST(qx.nrm AS DOUBLE) * CAST(c.nrm AS DOUBLE)) DESC,
       |     c.vec_id ASC) AS rnk
       |  FROM qx CROSS JOIN qn c) t WHERE rnk <= $K),
       |${beamLadderWidths.map(chainFor).mkString(",\n")}
       |$rungs""".stripMargin
  }

  /** The beam search proper over a prepared navigation graph: hop from
    * the fixed entry points toward each query, keeping the best
    * beamWidth candidates seen (bounded-budget recurrence — see the
    * block comment above). The query side is CORPUS-DERIVED (1% of the
    * corpus WITH full vectors), so it is deliberately NOT hint-broadcast
    * (round-6 review seam): at 100× corpus that side is GBs, while here
    * AQE may still elect a runtime broadcast from the actual sizes —
    * which is the correct at-scale behavior, and the same explicit
    * choice [[probeScoredPairs]] documents. Only the constant-size
    * entry-point set keeps a broadcast hint. */
  private def nswBeamOver(base: DataFrame, edges: DataFrame,
      materialize: Boolean, hops: Int,
      entriesOverride: Option[DataFrame] = None): DataFrame =
    // the visited set is discarded here, so the search may FUSE hop
    // pairs into single jobs (see nswBeamSearch's fuseHops note)
    nswBeamSearch(base, edges, materialize, hops,
      entriesOverride = entriesOverride, fuseHops = true)._1

  /** The full search result: (top-K result, VISITED set). The visited
    * set — every (q_id, c_id) pair the recurrence scored, u0 ∪ … ∪
    * u_hops deduped — is the substrate for FILTERED serving (ss40):
    * navigation stays label-blind, the filter applies to what was
    * seen. Building the union costs nothing when the caller discards
    * it (lazy plans over the per-hop checkpoints). */
  private def nswBeamSearch(base: DataFrame, edges: DataFrame,
      materialize: Boolean, hops: Int,
      queryPred: Column = col("vec_id") % 100 === 0,
      initialFrontier: Option[DataFrame] = None,
      entriesOverride: Option[DataFrame] = None,
      qsOverride: Option[DataFrame] = None,
      fuseHops: Boolean = false): (DataFrame, DataFrame) = {
    def ck(df: DataFrame): DataFrame =
      if (materialize) df.localCheckpoint() else df
    // qsOverride carries EXTERNAL queries ((q_id, v1, n1) — not corpus
    // members); its id space must be disjoint from vec_ids, or the
    // self-pair filter below would drop a legitimate (query, candidate)
    val qs = qsOverride.getOrElse(base.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("v").as("v1"), col("nrm").as("n1")))
    val cands = base
      .select(col("vec_id").as("c_id"), col("v").as("v2"), col("nrm").as("n2"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id").asc)
    // score a (q_id, c_id) frontier exactly and keep the top-beamWidth
    def beam(front: DataFrame): DataFrame = front
      .join(cands, Seq("c_id"))
      .join(qs, Seq("q_id"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cos",
        expr(dotExpr) / sqrt(col("n1").cast("double") * col("n2").cast("double")))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= beamWidth)
      .select(col("q_id"), col("c_id"), col("cos"), col("rnk"))
    // fixed entry points: the lowest corpus ids — deterministic, id-only;
    // index-backed callers pass the STORED entry table (same rule, read
    // not recomputed), and callers with a partitioned graph pass their
    // own per-partition frontier instead (ss45's per-label entries)
    val entries = entriesOverride.getOrElse(
      base.select(col("vec_id").as("c_id"))
        .orderBy(col("c_id").asc).limit(nswEntryCount))
    val u0 = initialFrontier.getOrElse(
      qs.select(col("q_id")).crossJoin(broadcast(entries)))
    // HOP FUSION (round 15, guide §2.4/§1.2): with a localCheckpoint per
    // hop, every hop is one synchronous job + driver round-trip, and the
    // frontier is request-sized — the BARRIER, not the work, dominates
    // (the r14 scaling block pinned the serving family's 8→32-core
    // ratios at ≈1 on exactly these job chains). When the caller
    // discards the visited set (fuseHops — the nswBeamOver serving
    // paths), only every second hop materializes: one job then spans
    // two grow+score rounds (two exchanges of the same tiny frontier
    // inside one job), halving the job barriers per search. Results are
    // identical — the recurrence is deterministic and unchanged; only
    // where the lineage is cut moves. Callers that CONSUME the visited
    // union keep the per-hop cut: visited references every hop's grown
    // frame, and an uncut reference would recompute the skipped hop
    // inside the visited-consuming job.
    def hopCk(df: DataFrame, h: Int): DataFrame =
      if (!fuseHops || h % 2 == 1) ck(df) else df
    var b = if (fuseHops) beam(u0) else ck(beam(u0))
    var visited = u0
    for (h <- 1 to hops) {
      // ONE exchange per hop (r14, guide §2.4): hash the grown frontier by
      // q_id once — the (q_id, c_id) dedup is an aggregate whose clustering
      // requirement a q_id partitioning already satisfies, and beam()'s
      // top-beamWidth window is partitioned by q_id too, so neither inserts
      // its own exchange. The previous distinct() partitioned by
      // (q_id, c_id), which the window could NOT reuse — every hop paid a
      // second request-sized shuffle just to re-cluster by q_id.
      val grown = b.select(col("q_id"), col("c_id"))
        .unionAll(b.join(edges, b("c_id") === edges("src"))
          .select(col("q_id"), col("dst").as("c_id")))
        .repartition(col("q_id"))
        .dropDuplicates(Seq("q_id", "c_id"))
      visited = visited.unionByName(grown)
      b = hopCk(beam(grown), h)
    }
    (b.filter(col("rnk") <= K)
       .select(col("q_id"), col("c_id"), col("rnk"), col("cos")),
     visited.distinct())
  }

  private def nswGrowSql(b: String, u: String, ed: String = "ed"): String =
    s"""$u AS (
       | SELECT q_id, c_id FROM $b
       | UNION
       | SELECT g.q_id, e.dst AS c_id FROM $b g JOIN $ed e ON e.src = g.c_id)"""
      .stripMargin

  /** `qTab` is the query-side vector table (vec_id, v, nrm) — "qn" for
    * corpus-member queries, an external CTE for [[beamServeExternal]]'s
    * oracle (ss51), where query ids live in a disjoint id space. `width`
    * is the beam budget — the production constant by default, a rung
    * value in ss56's ladder. `cTab` is the candidate-side vector table —
    * ss56 passes a MATERIALIZED copy of qn, because its 27 beam CTEs
    * would otherwise each re-open the parquet file (DuckDB evaluates
    * plain CTE references inline; the ladder exhausted the fd limit). */
  private def nswBeamSql(u: String, b: String, qTab: String = "qn",
      width: Int = beamWidth, cTab: String = "qn"): String =
    s"""$b AS (
       | SELECT * FROM (
       |  SELECT q_id, c_id, cos,
       |   ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rnk
       |  FROM (
       |   SELECT u.q_id, u.c_id,
       |    CAST(list_sum(list_transform(range(1, len(aa.v) + 1),
       |      i -> aa.v[i] * bb.v[i])) AS BIGINT)
       |      / sqrt(CAST(aa.nrm AS DOUBLE) * CAST(bb.nrm AS DOUBLE)) AS cos
       |   FROM $u u JOIN $qTab aa ON u.q_id = aa.vec_id
       |    JOIN $cTab bb ON u.c_id = bb.vec_id
       |   WHERE u.q_id != u.c_id) s0) s1
       | WHERE rnk <= $width)""".stripMargin

  /** Full-corpus probe pairs, exactly scored (sc28) — the one scoring
    * CTE every graph-tier oracle builds on (ranked edges, per-label
    * edges). Assumes qn / cents / pairs CTEs are already in scope. */
  private val nswScoredSql: String =
    """sc28 AS (
      | SELECT pairs.q_id, pairs.c_id,
      |  CAST(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) AS BIGINT)
      |    / sqrt(CAST(a.nrm AS DOUBLE) * CAST(b.nrm AS DOUBLE)) AS cos
      | FROM pairs JOIN qn a ON pairs.q_id = a.vec_id
      |  JOIN qn b ON pairs.c_id = b.vec_id)""".stripMargin

  /** Shared oracle fragment: sc28 plus the ranked edge list to
    * nswMaxDegree (edr) — the relational twin of [[knnRankedEdges]].
    * Callers filter `edr` by their degree. */
  private val nswRankedEdgeSql: String =
    s"""$nswScoredSql,
       |edr AS MATERIALIZED (
       | SELECT q_id AS src, c_id AS dst, rnk FROM (
       |  SELECT q_id, c_id,
       |   ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rnk
       |  FROM sc28) t WHERE rnk <= $nswMaxDegree)""".stripMargin

  lazy val ss36Oracle: String = {
    val hops = (1 to beamHops).map(h =>
      nswGrowSql(s"b${h - 1}", s"u$h") + ",\n" + nswBeamSql(s"u$h", s"b$h"))
      .mkString(",\n")
    s"""WITH $qvecSql,
       |${kmChainSql(ivfRounds)},
       |cents AS (SELECT cent_id, cv, cnrm AS cn FROM c$ivfRounds),
       |${annProbePrefixSqlFor("TRUE")},
       |$nswRankedEdgeSql,
       |ed AS (SELECT src, dst FROM edr WHERE rnk <= $nswServeDegree),
       |qs AS (SELECT vec_id AS q_id FROM qn WHERE vec_id % 100 = 0),
       |en AS (SELECT vec_id AS c_id FROM qn ORDER BY vec_id ASC LIMIT $nswEntryCount),
       |u0 AS (SELECT q_id, c_id FROM qs CROSS JOIN en),
       |${nswBeamSql("u0", "b0")},
       |$hops
       |SELECT q_id, c_id, CAST(rnk AS INT) AS rnk, cos
       |FROM b$beamHops WHERE rnk <= $K""".stripMargin
  }

  /** ss37: NSW recall PER OUT-DEGREE — the honesty metric and the dial
    * measurement in one query (ss12's "measured, not guessed"
    * precedent): one row per M in [[nswDegrees]], recall of the
    * degree-M beam search against the brute-force exact top-k. One
    * shared ranked-edge build and one shared exact baseline feed every
    * row; only the degree filter and the beam reruns differ per M —
    * the cost curve is the beam side alone, which is how the dial
    * would be tuned offline on a real corpus too. */
  def ss37NswRecall(s: SparkSession, dir: String): DataFrame = {
    val base = qvec(s, dir).localCheckpoint()
    // ONE stored artifact serves every out-degree in the ladder (edges
    // carry rnk to nswMaxDegree; each M is a filter) — the offline dial
    // sweep against the shared exact baseline, now index-scans only.
    val idx = ensureNswIndex(s, dir)
    val exact = ss01ExactPairs(s, dir)
      .localCheckpoint()
    val entries = Some(storedNswEntries(s, idx))
    parLadder(nswDegrees) { m =>
      recallAgainst(exact,
        nswBeamOver(base, storedNswEdges(s, idx, m), materialize = true,
          beamHops, entriesOverride = entries))
        .select(lit(m).as("out_degree"), col("n_exact"), col("n_hit"),
          col("recall_pct"))
    }.reduce(_ unionByName _)
  }

  lazy val ss37Oracle: String = {
    // per-degree navigation graph + unrolled beam recurrence; the ranked
    // edge list (to nswMaxDegree) and the exact baseline are shared.
    def chainFor(m: Int): String = {
      val head =
        s"""ed$m AS (SELECT src, dst FROM edr WHERE rnk <= $m),
           |u${m}_0 AS (SELECT q_id, c_id FROM qs CROSS JOIN en),
           |${nswBeamSql(s"u${m}_0", s"b${m}_0")}""".stripMargin
      val hops = (1 to beamHops).map(h =>
        nswGrowSql(s"b${m}_${h - 1}", s"u${m}_$h", s"ed$m") + ",\n" +
          nswBeamSql(s"u${m}_$h", s"b${m}_$h")).mkString(",\n")
      head + ",\n" + hops
    }
    def recallFor(m: Int): String =
      s"""SELECT CAST($m AS INTEGER) AS out_degree, COUNT(*) AS n_exact,
         | CAST(SUM(CASE WHEN ap.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
         | (CAST(SUM(CASE WHEN ap.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) * 100)
         |   // COUNT(*) AS recall_pct
         |FROM ex LEFT JOIN (SELECT q_id, c_id FROM b${m}_$beamHops WHERE rnk <= $K) ap
         | USING (q_id, c_id)""".stripMargin
    s"""WITH $qvecSql,
       |${kmChainSql(ivfRounds)},
       |cents AS (SELECT cent_id, cv, cnrm AS cn FROM c$ivfRounds),
       |${annProbePrefixSqlFor("TRUE")},
       |$nswRankedEdgeSql,
       |qs AS (SELECT vec_id AS q_id FROM qn WHERE vec_id % 100 = 0),
       |en AS (SELECT vec_id AS c_id FROM qn ORDER BY vec_id ASC LIMIT $nswEntryCount),
       |ex AS MATERIALIZED (SELECT q_id, c_id FROM ($ss01Oracle) e),
       |${nswDegrees.map(chainFor).mkString(",\n")}
       |${nswDegrees.map(recallFor).mkString("\nUNION ALL\n")}""".stripMargin
  }

  // ---------------------------------------------------------------------
  // ss40/ss41: FILTERED graph-tier serving + its recall audit — ss19's
  // label-constrained mode lifted to the NSW tier, completing the
  // filtered column of the serving matrix (IVF ss19, graph ss40).
  // Navigation stays LABEL-BLIND: pruning edges by the filter during
  // navigation fragments the graph's connectivity (a filtered-out hub
  // still routes the walk toward its filtered-in neighbors), which is
  // why production filtered graph search explores unfiltered and
  // collects filtered. The result is therefore the top-k of ALL VISITED
  // candidates passing the filter — the beam recurrence's u0 ∪ … ∪ u5
  // union, label-screened and exactly re-scored. Deterministic for the
  // fixed hop budget, so the oracle is the same unrolled recurrence
  // with the visited union filtered at the end; ss41 measures what the
  // navigate-then-filter strategy costs vs the label-constrained brute
  // truth (ss20's audit pattern) — the number that decides when a
  // selective filter warrants per-label partitioned graphs instead.
  // ---------------------------------------------------------------------
  /** Exactly re-score a visited (q_id, c_id) set against the corpus
    * vectors — shared by the filtered (ss40) and tombstoned (ss42)
    * serving tails, which differ only in the screen they apply before
    * the final rank. */
  private def visitedScored(base: DataFrame, visited: DataFrame): DataFrame = {
    val qs = base.select(col("vec_id").as("q_id"), col("v").as("v1"), col("nrm").as("n1"))
    val cs = base.select(col("vec_id").as("c_id"), col("v").as("v2"), col("nrm").as("n2"))
    visited.join(qs, Seq("q_id")).join(cs, Seq("c_id"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cos",
        expr(dotExpr) / sqrt(col("n1").cast("double") * col("n2").cast("double")))
  }

  private def topK(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id").asc)
    df.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= K)
  }

  def ss40FilteredNswBeam(s: SparkSession, dir: String): DataFrame = {
    val base = qvec(s, dir).localCheckpoint()
    val idx = ensureNswIndex(s, dir)
    val visited = nswBeamSearch(base, storedNswEdges(s, idx, nswServeDegree),
        materialize = true, beamHops,
        entriesOverride = Some(storedNswEntries(s, idx)))._2
      .localCheckpoint()
    val labels = graft.Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("label"))
    topK(visitedScored(base, visited)
        .join(labels.withColumnRenamed("vec_id", "q_id")
          .withColumnRenamed("label", "l1"), Seq("q_id"))
        .join(labels.withColumnRenamed("vec_id", "c_id")
          .withColumnRenamed("label", "l2"), Seq("c_id"))
        .filter(col("l1") === col("l2")))
      .select(col("q_id"), col("c_id"), col("l2").as("label"),
        col("rnk"), col("cos"))
  }

  lazy val ss40Oracle: String = {
    val hops = (1 to beamHops).map(h =>
      nswGrowSql(s"b${h - 1}", s"u$h") + ",\n" + nswBeamSql(s"u$h", s"b$h"))
      .mkString(",\n")
    val visUnion = (0 to beamHops).map(h => s"SELECT q_id, c_id FROM u$h")
      .mkString("\n UNION\n ")
    s"""WITH $qvecSql,
       |lab AS (SELECT vec_id, label FROM embeddings),
       |${kmChainSql(ivfRounds)},
       |cents AS (SELECT cent_id, cv, cnrm AS cn FROM c$ivfRounds),
       |${annProbePrefixSqlFor("TRUE")},
       |$nswRankedEdgeSql,
       |ed AS (SELECT src, dst FROM edr WHERE rnk <= $nswServeDegree),
       |qs AS (SELECT vec_id AS q_id FROM qn WHERE vec_id % 100 = 0),
       |en AS (SELECT vec_id AS c_id FROM qn ORDER BY vec_id ASC LIMIT $nswEntryCount),
       |u0 AS (SELECT q_id, c_id FROM qs CROSS JOIN en),
       |${nswBeamSql("u0", "b0")},
       |$hops,
       |vis AS (
       | $visUnion)
       |SELECT q_id, c_id, label, rnk, cos FROM (
       | SELECT v.q_id, v.c_id, lb.label,
       |  CAST(list_sum(list_transform(range(1, len(aa.v) + 1),
       |    i -> aa.v[i] * bb.v[i])) AS BIGINT)
       |    / sqrt(CAST(aa.nrm AS DOUBLE) * CAST(bb.nrm AS DOUBLE)) AS cos,
       |  ROW_NUMBER() OVER (PARTITION BY v.q_id ORDER BY
       |   CAST(list_sum(list_transform(range(1, len(aa.v) + 1),
       |     i -> aa.v[i] * bb.v[i])) AS BIGINT)
       |     / sqrt(CAST(aa.nrm AS DOUBLE) * CAST(bb.nrm AS DOUBLE)) DESC,
       |   v.c_id ASC) AS rnk
       | FROM vis v
       | JOIN qn aa ON v.q_id = aa.vec_id
       | JOIN qn bb ON v.c_id = bb.vec_id
       | JOIN lab la ON la.vec_id = v.q_id
       | JOIN lab lb ON lb.vec_id = v.c_id
       | WHERE v.q_id != v.c_id AND la.label = lb.label) t
       |WHERE rnk <= $K""".stripMargin
  }

  def ss41FilteredNswRecall(s: SparkSession, dir: String): DataFrame =
    recallAgainst(filteredBrute(s, dir), ss40FilteredNswBeam(s, dir))

  lazy val ss41Oracle: String =
    s"""WITH ex AS (
       | SELECT q_id, c_id FROM (
       |  SELECT a.q_id, a.c_id,
       |   ROW_NUMBER() OVER (PARTITION BY a.q_id ORDER BY a.cos DESC, a.c_id ASC) AS rnk
       |  FROM (
       |   WITH $qvecSql,
       |   lab AS (SELECT vec_id, label FROM embeddings)
       |   SELECT q.vec_id AS q_id, c.vec_id AS c_id,
       |    CAST(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i])) AS BIGINT)
       |      / sqrt(CAST(q.nrm AS DOUBLE) * CAST(c.nrm AS DOUBLE)) AS cos
       |   FROM qn q JOIN lab lq ON lq.vec_id = q.vec_id
       |    CROSS JOIN qn c
       |    JOIN lab lc ON lc.vec_id = c.vec_id
       |   WHERE q.vec_id % 100 = 0 AND q.vec_id != c.vec_id
       |     AND lq.label = lc.label) a) t
       | WHERE rnk <= $K),
       |ap AS (SELECT q_id, c_id FROM ($ss40Oracle) b)
       |SELECT COUNT(*) AS n_exact,
       | CAST(SUM(CASE WHEN ap.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       | (CAST(SUM(CASE WHEN ap.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) * 100)
       |   // COUNT(*) AS recall_pct
       |FROM ex LEFT JOIN ap USING (q_id, c_id)""".stripMargin

  // ---------------------------------------------------------------------
  // ss42/ss43: TOMBSTONED graph-tier serving + its recall audit — ss34's
  // delete verb lifted to the NSW tier, completing the maintenance
  // matrix (the graph now has build ss28, roll-forward ss38, serve
  // ss36, filtered ss40, tombstoned ss42). The standing graph is NOT
  // rebuilt: tombstoned nodes (vec_id ≡ 0 mod 9) stay in the edge list
  // and KEEP ROUTING — exactly how production graph stores handle
  // deletes (HNSWlib's markDelete: deleted nodes remain traversable,
  // else deletions sever the small-world shortcuts and recall collapses
  // for everyone — the graph analog of ss34's "lists still contain the
  // deleted, screen at probe time"). Deleted vectors stop being
  // QUERYABLE (query predicate excludes them) and stop being RESULTS
  // (one anti-screen over the visited set, candidates-only cost);
  // ranks re-close over survivors. ss43 audits the un-rebuilt graph
  // against the alive-corpus brute truth (ss35's pattern) — the number
  // that schedules graph compaction as deletions accumulate.
  // ---------------------------------------------------------------------
  def ss42NswTombstoned(s: SparkSession, dir: String): DataFrame = {
    val base = qvec(s, dir).localCheckpoint()
    // the delete VERB against the COPY-ON-WRITE overlay: tombstones are
    // recorded in the overlay's private table while edges/entries resolve
    // to the shared artifact — ss28/ss36/ss37/ss40 read an index this
    // query never mutates (round-8 advice: order-independence)
    val idx = nswTombOverlayFor(s, dir)
    tombstoneNswIndex(s, idx,
      base.filter(col("vec_id") % 9 === 0).select(col("vec_id")))
    val tomb = storedNswTombstones(s, idx).localCheckpoint()
    // queries screen against the STORED tombstones (frontier restriction —
    // beam() inner-joins on the frontier's q_ids, so the %100 sample pred
    // stays inside the search while the alive-ness comes from the table)
    val qs = base.filter(col("vec_id") % 100 === 0)
      .join(tomb, Seq("vec_id"), "left_anti").select(col("vec_id").as("q_id"))
    val u0 = qs.crossJoin(broadcast(storedNswEntries(s, idx)))
    val visited = nswBeamSearch(base, storedNswEdges(s, idx, nswServeDegree),
        materialize = true, beamHops, initialFrontier = Some(u0))._2
      // tombstone screen on RESULTS only — dead nodes routed the walk
      .join(tomb.withColumnRenamed("vec_id", "c_id"), Seq("c_id"), "left_anti")
      .localCheckpoint()
    topK(visitedScored(base, visited))
      .select(col("q_id"), col("c_id"), col("rnk"), col("cos"))
  }

  lazy val ss42Oracle: String = {
    val hops = (1 to beamHops).map(h =>
      nswGrowSql(s"b${h - 1}", s"u$h") + ",\n" + nswBeamSql(s"u$h", s"b$h"))
      .mkString(",\n")
    val visUnion = (0 to beamHops).map(h => s"SELECT q_id, c_id FROM u$h")
      .mkString("\n UNION\n ")
    s"""WITH $qvecSql,
       |${kmChainSql(ivfRounds)},
       |cents AS (SELECT cent_id, cv, cnrm AS cn FROM c$ivfRounds),
       |${annProbePrefixSqlFor("TRUE")},
       |$nswRankedEdgeSql,
       |ed AS (SELECT src, dst FROM edr WHERE rnk <= $nswServeDegree),
       |qs AS (SELECT vec_id AS q_id FROM qn
       |       WHERE vec_id % 100 = 0 AND vec_id % 9 != 0),
       |en AS (SELECT vec_id AS c_id FROM qn ORDER BY vec_id ASC LIMIT $nswEntryCount),
       |u0 AS (SELECT q_id, c_id FROM qs CROSS JOIN en),
       |${nswBeamSql("u0", "b0")},
       |$hops,
       |vis AS (
       | $visUnion)
       |SELECT q_id, c_id, rnk, cos FROM (
       | SELECT v.q_id, v.c_id,
       |  CAST(list_sum(list_transform(range(1, len(aa.v) + 1),
       |    i -> aa.v[i] * bb.v[i])) AS BIGINT)
       |    / sqrt(CAST(aa.nrm AS DOUBLE) * CAST(bb.nrm AS DOUBLE)) AS cos,
       |  ROW_NUMBER() OVER (PARTITION BY v.q_id ORDER BY
       |   CAST(list_sum(list_transform(range(1, len(aa.v) + 1),
       |     i -> aa.v[i] * bb.v[i])) AS BIGINT)
       |     / sqrt(CAST(aa.nrm AS DOUBLE) * CAST(bb.nrm AS DOUBLE)) DESC,
       |   v.c_id ASC) AS rnk
       | FROM vis v
       | JOIN qn aa ON v.q_id = aa.vec_id
       | JOIN qn bb ON v.c_id = bb.vec_id
       | WHERE v.q_id != v.c_id AND v.c_id % 9 != 0) t
       |WHERE rnk <= $K""".stripMargin
  }

  def ss43NswTombstoneRecall(s: SparkSession, dir: String): DataFrame =
    recallAgainst(bruteAlive9Pairs(s, dir), ss42NswTombstoned(s, dir))

  lazy val ss43Oracle: String =
    s"""WITH ex AS (SELECT q_id, c_id FROM ($bruteAliveSql) a),
       |ap AS (SELECT q_id, c_id FROM ($ss42Oracle) b)
       |SELECT COUNT(*) AS n_exact,
       | CAST(SUM(CASE WHEN ap.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       | (CAST(SUM(CASE WHEN ap.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) * 100)
       |   // COUNT(*) AS recall_pct
       |FROM ex LEFT JOIN ap USING (q_id, c_id)""".stripMargin

  // ---------------------------------------------------------------------
  // ss44: graph COMPACTION — the verb ss43's number schedules: rebuild
  // the navigation graph from the ALIVE corpus only (tombstones gone
  // from nodes, edges, and entry points) and audit the compacted serve
  // against the same alive brute truth ss43 used. The output is the
  // restored-recall number directly (serve + audit fused into one
  // query, so the bench pays one graph build, not two): compaction is
  // worthwhile exactly when this exceeds ss43's un-rebuilt figure.
  // Measured at sf0.01: compacted 92% vs tombstoned 95% — at an 11%
  // deletion rate compaction buys NOTHING yet (tombstones still route,
  // so the standing graph loses no connectivity, while the rebuilt
  // alive-only graph has fewer routers and a retrained quantizer).
  // Which is the point of having both numbers: the operator compacts
  // when the ss43 curve drops below the ss44 one, not on a timer.
  // Completes the graph-tier maintenance verbs: build ss28, roll-forward
  // ss38, serve ss36, filtered ss40, tombstoned ss42, compact ss44 —
  // the same ladder the IVF tier has.
  // ---------------------------------------------------------------------
  def ss44NswCompacted(s: SparkSession, dir: String): DataFrame = {
    val base = qvec(s, dir).localCheckpoint()
    // compaction is driven by the SOURCE index's recorded tombstones (the
    // verb ladder: ss42 tombstones into the overlay, ss43 audits, this
    // rebuilds) — ensure the suite's deletion set is recorded, then
    // compact into a fresh artifact (retrained quantizer, alive-only
    // edges/entries), once per JVM like every index build.
    val idx = nswTombOverlayFor(s, dir)
    tombstoneNswIndex(s, idx,
      base.filter(col("vec_id") % 9 === 0).select(col("vec_id")))
    val idxC = indexPathFor(dir + "#nswcompact")
    Derived(s, idxC) { compactNswIndex(s, base, idx, idxC) }
    val alive = base.filter(col("vec_id") % 9 =!= 0).localCheckpoint()
    recallAgainst(bruteAlive9Pairs(s, dir),
      nswBeamOver(alive, storedNswEdges(s, idxC, nswServeDegree),
        materialize = true, beamHops,
        entriesOverride = Some(storedNswEntries(s, idxC))))
  }

  lazy val ss44Oracle: String = {
    // the whole standing-graph chain re-pointed at the ALIVE subset:
    // \b-guarded rename qn → qal inside every reused fragment, so the
    // quantizer trains alive, assignment/probes/edges/beams read alive,
    // and the entry points are the lowest ALIVE ids.
    val hops = (1 to beamHops).map(h =>
      nswGrowSql(s"b${h - 1}", s"u$h") + ",\n" + nswBeamSql(s"u$h", s"b$h"))
      .mkString(",\n")
    val aliveChain = Seq(
      kmChainSql(ivfRounds),
      s"cents AS (SELECT cent_id, cv, cnrm AS cn FROM c$ivfRounds)",
      annProbePrefixSqlFor("TRUE"),
      nswRankedEdgeSql,
      s"ed AS (SELECT src, dst FROM edr WHERE rnk <= $nswServeDegree)",
      "qs AS (SELECT vec_id AS q_id FROM qn WHERE vec_id % 100 = 0)",
      s"en AS (SELECT vec_id AS c_id FROM qn ORDER BY vec_id ASC LIMIT $nswEntryCount)",
      "u0 AS (SELECT q_id, c_id FROM qs CROSS JOIN en)",
      nswBeamSql("u0", "b0"),
      hops).mkString(",\n").replaceAll("\\bqn\\b", "qal")
    s"""WITH $qvecSql,
       |qal AS (SELECT vec_id, v, nrm FROM qn WHERE vec_id % 9 != 0),
       |$aliveChain,
       |ap AS (SELECT q_id, c_id FROM b$beamHops WHERE rnk <= $K),
       |ex AS (SELECT q_id, c_id FROM ($bruteAliveSql) a)
       |SELECT COUNT(*) AS n_exact,
       | CAST(SUM(CASE WHEN ap.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       | (CAST(SUM(CASE WHEN ap.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) * 100)
       |   // COUNT(*) AS recall_pct
       |FROM ex LEFT JOIN ap USING (q_id, c_id)""".stripMargin
  }

  // ---------------------------------------------------------------------
  // ss45: PER-LABEL PARTITIONED graphs — the PRE-FILTER alternative that
  // ss41's number exists to arbitrate: instead of navigating one global
  // graph and screening afterwards (ss40), build a separate navigation
  // graph PER LABEL (edges rank within label, entry points are each
  // label's lowest ids) and serve each query inside its own label's
  // graph. This is the per-tenant / per-language partitioned-index
  // strategy every filtered-ANN deployment weighs against
  // post-filtering; the audit against the same label-constrained brute
  // truth is fused in (one row out, one build paid). Measured at
  // sf0.01: **100% pre-filter (this query) vs 86% post-filter
  // (ss41)** — at this label granularity the partitioned graphs win
  // decisively (every hop stays in-label, no beam slot is wasted on
  // filtered-out candidates), which is exactly the regime where
  // partitioning pays: few, fat labels. The per-label fan-out costs a
  // graph per label — the operator picks per selectivity, with both
  // numbers on the table.
  // ---------------------------------------------------------------------
  /** Build the PER-LABEL partitioned graph artifact: edges rank
    * candidates within the src's label and are written PARTITIONED BY
    * LABEL — at scale each label's graph is its own partition DIRECTORY,
    * so a single-tenant/-language serve partition-prunes to 1/labels of
    * the edge files (NswIndexSpec pins the PartitionFilters); entries are
    * each label's lowest ids. This is the pre-filter alternative ss41's
    * post-filter number arbitrates against (100% vs 86% at sf0.01). */
  def buildPerLabelNswIndex(s: SparkSession, dir: String, idxDir: String): Unit = {
    val labels = graft.Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("label"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id").asc)
    // The pre-rank scored pairs are READ from the shared artifact's probe
    // table (round 15): the per-label build previously re-ran the entire
    // corpus probe pass (train + assign + probe window + pair join) that
    // the shared NSW build had already persisted. The probes' crn=1 slice
    // IS the argmax assignment (probeAssignmentsFrom's law), so
    // probes ⋈ crn=1 on cent_id is exactly the all-points candidate pair
    // set, each pair once, same cos expression — only the label filter
    // and the PER-LABEL rank below differ from the global graph.
    val idx = ensureNswIndex(s, dir)
    val p = s.read.parquet(s"$idx/probes")
    val probes = p.select(col("cent_id"), col("vec_id").as("q_id"),
      col("v").as("v1"), col("nrm").as("n1"))
    val lists = p.filter(col("crn") === 1)
      .select(col("cent_id"), col("vec_id").as("c_id"),
        col("v").as("v2"), col("nrm").as("n2"))
    val edges = probes.join(lists, Seq("cent_id"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cos",
        expr(dotExpr) / sqrt(col("n1").cast("double") * col("n2").cast("double")))
      .join(labels.withColumnRenamed("vec_id", "q_id")
        .withColumnRenamed("label", "l1"), Seq("q_id"))
      .join(labels.withColumnRenamed("vec_id", "c_id")
        .withColumnRenamed("label", "l2"), Seq("c_id"))
      .filter(col("l1") === col("l2"))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= nswMaxDegree)
      .select(col("l1").as("label"), col("q_id").as("src"),
        col("c_id").as("dst"), col("rnk").cast("int").as("rnk"))
    stagedWrite(s, s"$idxDir/edges") { tmp =>
      edges.repartition(col("label"))
        .write.mode("overwrite").partitionBy("label").parquet(tmp)
    }
    val wEnt = Window.partitionBy(col("label")).orderBy(col("vec_id").asc)
    stagedWrite(s, s"$idxDir/entries") { tmp =>
      labels.withColumn("rn", row_number().over(wEnt))
        .filter(col("rn") <= nswEntryCount)
        .select(col("label"), col("vec_id").as("c_id"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
    }
  }

  private[operators] def perLabelNswIndexFor(s: SparkSession, dir: String): String = {
    val idxL = indexPathFor(dir + "#nswlabel")
    Derived(s, idxL) { buildPerLabelNswIndex(s, dir, idxL) }
    idxL
  }

  def ss45PerLabelNsw(s: SparkSession, dir: String): DataFrame = {
    val base = qvec(s, dir).localCheckpoint()
    val labels = graft.Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("label"))
    val idxL = perLabelNswIndexFor(s, dir)
    // each query starts at its OWN label's stored entry points; the union
    // of per-label graphs needs no serve-time label filter — edges only
    // ever connect in-label, so the walk stays inside the query's graph
    val u0 = base.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"))
      .join(labels.withColumnRenamed("vec_id", "q_id"), Seq("q_id"))
      .join(s.read.parquet(s"$idxL/entries"), Seq("label"))
      .select(col("q_id"), col("c_id"))
    val edges = s.read.parquet(s"$idxL/edges")
      .filter(col("rnk") <= nswServeDegree).select(col("src"), col("dst"))
    recallAgainst(filteredBrute(s, dir),
      // visited set discarded — hop pairs fuse into single jobs
      nswBeamSearch(base, edges, materialize = true, beamHops,
        initialFrontier = Some(u0), fuseHops = true)._1)
  }

  lazy val ss45Oracle: String = {
    val hops = (1 to beamHops).map(h =>
      nswGrowSql(s"b${h - 1}", s"u$h", "edl") + ",\n" + nswBeamSql(s"u$h", s"b$h"))
      .mkString(",\n")
    s"""WITH $qvecSql,
       |lab AS (SELECT vec_id, label FROM embeddings),
       |${kmChainSql(ivfRounds)},
       |cents AS (SELECT cent_id, cv, cnrm AS cn FROM c$ivfRounds),
       |${annProbePrefixSqlFor("TRUE")},
       |$nswScoredSql,
       |edl AS MATERIALIZED (
       | SELECT q_id AS src, c_id AS dst FROM (
       |  SELECT s.q_id, s.c_id,
       |   ROW_NUMBER() OVER (PARTITION BY s.q_id ORDER BY s.cos DESC, s.c_id ASC) AS rnk
       |  FROM sc28 s
       |  JOIN lab la ON la.vec_id = s.q_id
       |  JOIN lab lb ON lb.vec_id = s.c_id
       |  WHERE la.label = lb.label) t WHERE rnk <= $nswServeDegree),
       |enl AS (
       | SELECT label, vec_id AS c_id FROM (
       |  SELECT l.vec_id, l.label,
       |   ROW_NUMBER() OVER (PARTITION BY l.label ORDER BY l.vec_id ASC) AS rn
       |  FROM lab l) t WHERE rn <= $nswEntryCount),
       |qsl AS (
       | SELECT q.vec_id AS q_id, l.label FROM qn q
       | JOIN lab l ON l.vec_id = q.vec_id WHERE q.vec_id % 100 = 0),
       |u0 AS (SELECT qsl.q_id, enl.c_id FROM qsl JOIN enl USING (label)),
       |${nswBeamSql("u0", "b0")},
       |$hops,
       |ap AS (SELECT q_id, c_id FROM b$beamHops WHERE rnk <= $K),
       |ex AS (
       | SELECT q_id, c_id FROM (
       |  SELECT a.q_id, a.c_id,
       |   ROW_NUMBER() OVER (PARTITION BY a.q_id ORDER BY a.cos DESC, a.c_id ASC) AS rnk
       |  FROM (
       |   SELECT q.vec_id AS q_id, c.vec_id AS c_id,
       |    CAST(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i])) AS BIGINT)
       |      / sqrt(CAST(q.nrm AS DOUBLE) * CAST(c.nrm AS DOUBLE)) AS cos
       |   FROM qn q JOIN lab lq ON lq.vec_id = q.vec_id
       |    CROSS JOIN qn c
       |    JOIN lab lc ON lc.vec_id = c.vec_id
       |   WHERE q.vec_id % 100 = 0 AND q.vec_id != c.vec_id
       |     AND lq.label = lc.label) a) t
       | WHERE rnk <= $K)
       |SELECT COUNT(*) AS n_exact,
       | CAST(SUM(CASE WHEN ap.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       | (CAST(SUM(CASE WHEN ap.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) * 100)
       |   // COUNT(*) AS recall_pct
       |FROM ex LEFT JOIN ap USING (q_id, c_id)""".stripMargin
  }

  // ---------------------------------------------------------------------
  // ss27: range-search RECALL audit — ss06's honesty metric applied to
  // the radius mode: the brute-force radius scan (queries × corpus, the
  // exact answer set) intersected with ss26's probed answer, reported as
  // per-mille recall plus both cardinalities. The probed set is a subset
  // of the brute set by construction (same integer threshold, candidates
  // only restricted), so the audit measures exactly what the nprobe
  // fence discards — the offline number that justifies (or indicts) the
  // nprobe choice before anyone serves it.
  // ---------------------------------------------------------------------
  def ss27RangeRecall(s: SparkSession, dir: String): DataFrame = {
    val base = qvec(s, dir).localCheckpoint()
    def inRadius(df: DataFrame): DataFrame =
      df.filter(col("dot") > 0 &&
        col("dot") * col("dot") * 100 >= col("n1") * col("n2") * 9)
        .select(col("q_id"), col("c_id"))
    val qs = base.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("v1"), col("nrm").as("n1"))
    val brute = inRadius(base
      .select(col("vec_id").as("c_id"), col("v").as("v2"), col("nrm").as("n2"))
      .join(broadcast(qs), col("q_id") =!= col("c_id"))
      .withColumn("dot", expr(dotExpr)))
      .localCheckpoint()
    val probed = inRadius(ivfScoredPairs(s, dir, base))
    val hit = brute.join(probed, Seq("q_id", "c_id"), "left_semi")
    brute.agg(count(lit(1)).as("n_brute"))
      .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
      .select(col("n_brute"), col("n_hit"),
        expr("(n_hit * 1000) div n_brute").as("recall_pm"))
  }

  lazy val ss27Oracle: String =
    s"""WITH $qvecSql,
       |${kmChainSql(ivfRounds)},
       |cents AS (SELECT cent_id, cv, cnrm AS cn FROM c$ivfRounds),
       |$annProbePrefixSql,
       |pd AS (
       | SELECT pairs.q_id, pairs.c_id,
       |  CAST(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) AS BIGINT) AS dot,
       |  a.nrm AS n1, b.nrm AS n2
       | FROM pairs JOIN qn a ON pairs.q_id = a.vec_id
       |  JOIN qn b ON pairs.c_id = b.vec_id),
       |probed AS (SELECT q_id, c_id FROM pd
       | WHERE dot > 0 AND dot * dot * 100 >= n1 * n2 * 9),
       |bd AS (
       | SELECT a.vec_id AS q_id, b.vec_id AS c_id,
       |  CAST(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) AS BIGINT) AS dot,
       |  a.nrm AS n1, b.nrm AS n2
       | FROM qn a JOIN qn b ON a.vec_id % 100 = 0 AND a.vec_id != b.vec_id),
       |brute AS (SELECT q_id, c_id FROM bd
       | WHERE dot > 0 AND dot * dot * 100 >= n1 * n2 * 9),
       |hit AS (SELECT brute.q_id, brute.c_id FROM brute
       | WHERE EXISTS (SELECT 1 FROM probed p
       |  WHERE p.q_id = brute.q_id AND p.c_id = brute.c_id)),
       |nb AS (SELECT COUNT(*) AS n_brute FROM brute),
       |nh AS (SELECT COUNT(*) AS n_hit FROM hit)
       |SELECT n_brute, n_hit, (n_hit * 1000) // n_brute AS recall_pm
       |FROM nb, nh""".stripMargin

  lazy val ss26Oracle: String =
    s"""WITH $qvecSql,
       |${kmChainSql(ivfRounds)},
       |cents AS (SELECT cent_id, cv, cnrm AS cn FROM c$ivfRounds),
       |$annProbePrefixSql,
       |rng AS (
       | SELECT pairs.q_id, pairs.c_id,
       |  CAST(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) AS BIGINT) AS dot,
       |  a.nrm AS n1, b.nrm AS n2
       | FROM pairs JOIN qn a ON pairs.q_id = a.vec_id
       |  JOIN qn b ON pairs.c_id = b.vec_id)
       |SELECT q_id, c_id, dot, n1, n2 FROM rng
       |WHERE dot > 0 AND dot * dot * 100 >= n1 * n2 * 9""".stripMargin

  // ---------------------------------------------------------------------
  // ss19: FILTERED ANN — label-constrained vector search ("same-class
  // neighbors only"), the metadata-filter serving mode every production
  // vector store exposes. Same learned-IVF probe as ss03; the label
  // equality lands BEFORE the exact rerank projection, so candidates
  // failing the filter never pay the 64-dim dot product and never reach
  // the top-k window — pre-filtering inside the inverted-list scan, not
  // post-filtering the results (post-filtering under-fills k when the
  // filter is selective; the rank here is dense within the filtered set).
  // Labels ride as a corpus-side hash-join attach; at 100 TB the
  // inverted lists would simply store the label column.
  // ---------------------------------------------------------------------
  def ss19FilteredTopk(s: SparkSession, dir: String): DataFrame = {
    val base = qvec(s, dir).localCheckpoint()
    val labels = graft.Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("label"))
    val qs = base.select(col("vec_id").as("q_id"), col("v").as("v1"), col("nrm").as("n1"))
      .join(labels.withColumnRenamed("vec_id", "q_id")
        .withColumnRenamed("label", "l1"), Seq("q_id"))
    val cs = base.select(col("vec_id").as("c_id"), col("v").as("v2"), col("nrm").as("n2"))
      .join(labels.withColumnRenamed("vec_id", "c_id")
        .withColumnRenamed("label", "l2"), Seq("c_id"))
    // the candidate pairs are the memoized canonical probe (identical
    // derivation — train/assign/probe shapes lived here verbatim)
    val scored = ivfCandPairsFor(s, dir)
      .join(broadcast(qs), Seq("q_id"))
      .join(cs, Seq("c_id"))
      .filter(col("l1") === col("l2")) // BEFORE the dot/cos projections
      .withColumn("dot", expr(dotExpr))
      .withColumn("cos",
        col("dot") / sqrt(col("n1").cast("double") * col("n2").cast("double")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id").asc)
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= K)
      .select(col("q_id"), col("c_id"), col("l2").as("label"), col("rnk"), col("cos"))
  }

  // lazy: annProbePrefixSql is declared later in the file (Scala vals
  // initialize in declaration order; the oracles map forces this at the
  // end of object init, when everything is available)
  lazy val ss19Oracle: String =
    s"""WITH $qvecSql,
       |lab AS (SELECT vec_id, label FROM embeddings),
       |${kmChainSql(ivfRounds)},
       |cents AS (SELECT cent_id, cv, cnrm AS cn FROM c$ivfRounds),
       |$annProbePrefixSql,
       |scored AS (
       | SELECT pairs.q_id, pairs.c_id, lb.label,
       |  CAST(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) AS BIGINT)
       |    / sqrt(CAST(a.nrm AS DOUBLE) * CAST(b.nrm AS DOUBLE)) AS cos
       | FROM pairs
       | JOIN qn a ON pairs.q_id = a.vec_id
       | JOIN qn b ON pairs.c_id = b.vec_id
       | JOIN lab la ON la.vec_id = pairs.q_id
       | JOIN lab lb ON lb.vec_id = pairs.c_id
       | WHERE la.label = lb.label)
       |SELECT q_id, c_id, label, rnk, cos FROM (
       | SELECT q_id, c_id, label, cos,
       |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rnk
       | FROM scored) t WHERE rnk <= $K""".stripMargin

  // ---------------------------------------------------------------------
  // ss20: filtered-ANN recall audit — ss19 measured against the
  // label-constrained BRUTE-FORCE truth (ss01's scan with the same label
  // equality). The number quantifies what filtering costs the probe: the
  // IVF lists were trained label-blind, so a selective filter can empty
  // the probed lists while matches hide in unprobed ones — the audit is
  // how a production deployment decides between pre-filter probing and
  // per-label partitioned indexes.
  // ---------------------------------------------------------------------
  private def filteredBrute(s: SparkSession, dir: String): DataFrame =
    Derived.pinned(s, s"filtered#$dir")(filteredBruteCompute(s, dir))

  private def filteredBruteCompute(s: SparkSession, dir: String): DataFrame = {
    val base = qvec(s, dir)
    val labels = graft.Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("label"))
    val qs = base.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("v1"), col("nrm").as("n1"))
      .join(labels.withColumnRenamed("vec_id", "q_id")
        .withColumnRenamed("label", "l1"), Seq("q_id"))
    val cand = base
      .select(col("vec_id").as("c_id"), col("v").as("v2"), col("nrm").as("n2"))
      .join(labels.withColumnRenamed("vec_id", "c_id")
        .withColumnRenamed("label", "l2"), Seq("c_id"))
    val scored = cand.join(broadcast(qs), col("q_id") =!= col("c_id"))
      .filter(col("l1") === col("l2"))
      .withColumn("cos",
        expr(dotExpr) / sqrt(col("n1").cast("double") * col("n2").cast("double")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id").asc)
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= K)
      .select(col("q_id"), col("c_id"))
  }

  def ss20FilteredRecall(s: SparkSession, dir: String): DataFrame = {
    val approx = ss19FilteredTopk(s, dir)
      .select(col("q_id"), col("c_id"), lit(1L).as("hit"))
    filteredBrute(s, dir).join(approx, Seq("q_id", "c_id"), "left")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .withColumn("recall_pct", expr("(n_hit * 100) div n_exact"))
  }

  lazy val ss20Oracle: String =
    s"""WITH ex AS (
       | SELECT q_id, c_id FROM (
       |  SELECT a.q_id, a.c_id,
       |   ROW_NUMBER() OVER (PARTITION BY a.q_id ORDER BY a.cos DESC, a.c_id ASC) AS rnk
       |  FROM (
       |   WITH $qvecSql,
       |   lab AS (SELECT vec_id, label FROM embeddings)
       |   SELECT q.vec_id AS q_id, c.vec_id AS c_id,
       |    CAST(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i])) AS BIGINT)
       |      / sqrt(CAST(q.nrm AS DOUBLE) * CAST(c.nrm AS DOUBLE)) AS cos
       |   FROM qn q JOIN lab lq ON lq.vec_id = q.vec_id
       |    CROSS JOIN qn c
       |    JOIN lab lc ON lc.vec_id = c.vec_id
       |   WHERE q.vec_id % 100 = 0 AND q.vec_id != c.vec_id
       |     AND lq.label = lc.label) a) t
       | WHERE rnk <= $K),
       |ap AS (SELECT q_id, c_id FROM ($ss19Oracle) b)
       |SELECT COUNT(*) AS n_exact,
       | CAST(SUM(CASE WHEN ap.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       | (CAST(SUM(CASE WHEN ap.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) * 100)
       |   // COUNT(*) AS recall_pct
       |FROM ex LEFT JOIN ap USING (q_id, c_id)""".stripMargin

  // ---------------------------------------------------------------------
  // ss08: MULTI-PROBE LSH ANN (Lv et al., VLDB'07) — the recall dial for
  // the ss02 tier that doesn't cost more tables: each query probes its own
  // bucket AND the 8 Hamming-distance-1 buckets (the weakest-bit
  // perturbations), so a near neighbour that landed one sign-flip away is
  // still found. Scale shape identical to ss02 — the probe fan-out
  // multiplies only the (tiny) query side ×9 before the same bucket
  // equi-join; each candidate lives in exactly ONE bucket, so no pair
  // dedup is needed. Exact-cosine rerank within probed buckets.
  // ---------------------------------------------------------------------
  def ss08AnnMultiprobe(s: SparkSession, dir: String): DataFrame = {
    val bucketed = qvec(s, dir).withColumn("bucket", expr(bucketExpr))
    val probes = bucketed.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("v1"), col("nrm").as("n1"),
        col("bucket"))
      .withColumn("probe", explode(expr(
        s"array_union(array(bucket), transform(sequence(0, ${numPlanes - 1}), p -> bucket ^ shiftleft(1, p)))")))
      .drop("bucket")
    val cand = bucketed
      .select(col("vec_id").as("c_id"), col("v").as("v2"), col("nrm").as("n2"),
        col("bucket"))
    val scored = cand.join(broadcast(probes), col("bucket") === col("probe"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("dot", expr(dotExpr))
      .withColumn("cos",
        col("dot") / sqrt(col("n1").cast("double") * col("n2").cast("double")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id").asc)
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= K)
      .select(col("q_id"), col("c_id"), col("rnk"), col("cos"))
  }

  val ss08Oracle: String =
    s"""WITH $qvecSql,
       |bucketed AS (
       | SELECT vec_id, v, nrm, CAST($bucketSql AS BIGINT) AS bucket FROM qn),
       |probes AS (
       | SELECT vec_id AS q_id, v AS v1, nrm AS n1,
       |  unnest(list_distinct(list_append(
       |    list_transform(range(0, $numPlanes), p -> xor(bucket, 1 << p)),
       |    bucket))) AS probe
       | FROM bucketed WHERE vec_id % 100 = 0),
       |scored AS (
       | SELECT p.q_id, b.vec_id AS c_id,
       |  CAST(list_sum(list_transform(range(1, len(p.v1) + 1), i -> p.v1[i] * b.v[i])) AS BIGINT) AS dot,
       |  p.n1, b.nrm AS n2
       | FROM probes p JOIN bucketed b ON b.bucket = p.probe AND p.q_id != b.vec_id)
       |SELECT q_id, c_id, rnk, cos FROM (
       | SELECT q_id, c_id,
       |  dot / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS cos,
       |  ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY dot / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) DESC, c_id ASC) AS rnk
       | FROM scored) t WHERE rnk <= $K""".stripMargin

  /** The ANN probe tail shared by ss03/ss05/ss07: score all vectors
    * against `cents`, assign (crn=1), probe (crn<=nprobe over the query
    * subset), rerank exactly within probed lists. */
  /** Coarse-quantizer CTEs shared by the exact-rerank tail (ss03/ss07) and
    * the IVF-PQ tail (ss11): score vs `cents`, assign (crn=1), probe
    * (crn<=nprobe over queries), candidate pairs. */
  private def annProbePrefixSqlFor(queryPred: String): String =
    s"""cscored AS (
       | SELECT qn.vec_id, cents.cent_id,
       |  CAST(list_sum(list_transform(range(1, len(qn.v) + 1), i -> qn.v[i] * cents.cv[i])) AS BIGINT)
       |    / sqrt(CAST(qn.nrm AS DOUBLE) * CAST(cents.cn AS DOUBLE)) AS ccos
       | FROM qn CROSS JOIN cents),
       |ranked AS (
       | SELECT vec_id, cent_id,
       |  ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id ASC) AS crn
       | FROM cscored),
       |assigned AS (SELECT vec_id AS a_id, cent_id FROM ranked WHERE crn = 1),
       |probes AS (SELECT vec_id AS q_id, cent_id FROM ranked WHERE crn <= $nprobe AND ($queryPred)),
       |pairs AS (
       | SELECT DISTINCT p.q_id, a.a_id AS c_id
       | FROM probes p JOIN assigned a ON p.cent_id = a.cent_id AND p.q_id != a.a_id)""".stripMargin

  private val annProbePrefixSql: String =
    annProbePrefixSqlFor("vec_id % 100 = 0")

  private val annProbeTailSql: String =
    s"""$annProbePrefixSql,
       |scored AS (
       | SELECT pairs.q_id, pairs.c_id,
       |  CAST(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) AS BIGINT)
       |    / sqrt(CAST(a.nrm AS DOUBLE) * CAST(b.nrm AS DOUBLE)) AS cos
       | FROM pairs JOIN qn a ON pairs.q_id = a.vec_id JOIN qn b ON pairs.c_id = b.vec_id)
       |SELECT q_id, c_id, rnk, cos FROM (
       | SELECT q_id, c_id, cos,
       |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rnk
       | FROM scored) t WHERE rnk <= $K""".stripMargin

  /** ss07: the centroid chain trains on the OLD subset (qn → qno via the
    * word-boundary rewrite — seeds, assignment and means CTEs all read
    * qno), but the probe tail scores the FULL corpus against those frozen
    * centroids: exactly what build-on-old + roll-forward produces. */
  val ss07Oracle: String =
    s"""WITH $qvecSql,
       |qno AS (SELECT * FROM qn WHERE vec_id % 10 != 3),
       |${kmChainSql(ivfRounds).replaceAll("\\bqn\\b", "qno")},
       |cents AS (SELECT cent_id, cv, cnrm AS cn FROM c$ivfRounds),
       |$annProbeTailSql""".stripMargin

  val ss03Oracle: String =
    s"""WITH $qvecSql,
       |${kmChainSql(ivfRounds)},
       |cents AS (SELECT cent_id, cv, cnrm AS cn FROM c$ivfRounds),
       |$annProbeTailSql""".stripMargin

  /** ss34: the ss03 index (same centroid chain over the FULL corpus — the
    * standing, un-rebuilt lists), with dead vectors screened from both
    * the query set and the probed candidates. */
  val ss34Oracle: String =
    s"""WITH $qvecSql,
       |${kmChainSql(ivfRounds)},
       |cents AS (SELECT cent_id, cv, cnrm AS cn FROM c$ivfRounds),
       |${annProbePrefixSqlFor("vec_id % 100 = 0 AND vec_id % 9 != 0")},
       |live AS (SELECT q_id, c_id FROM pairs WHERE c_id % 9 != 0),
       |scored AS (
       | SELECT live.q_id, live.c_id,
       |  CAST(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) AS BIGINT)
       |    / sqrt(CAST(a.nrm AS DOUBLE) * CAST(b.nrm AS DOUBLE)) AS cos
       | FROM live JOIN qn a ON live.q_id = a.vec_id JOIN qn b ON live.c_id = b.vec_id)
       |SELECT q_id, c_id, rnk, cos FROM (
       | SELECT q_id, c_id, cos,
       |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rnk
       | FROM scored) t WHERE rnk <= $K""".stripMargin

  // ---------------------------------------------------------------------
  // ss25: the RECALL-vs-NPROBE curve — the tuning deliverable behind
  // every IVF deployment ("how many lists must we probe for the recall
  // target"): recall@10 against the ss01 brute-force truth at nprobe ∈
  // {1, 2, 4}. The sweep costs ONE corpus assignment and ONE candidate
  // scoring pass, not one per setting: candidates carry the BEST probe
  // rank that reaches them (pr = min crn), so "probed with nprobe = p"
  // is the filter pr ≤ p over the already-scored table — the per-setting
  // work collapses to a rank filter + window over the (tiny) candidate
  // set. nprobe = 2 must reproduce ss03/ss06 exactly (internal
  // consistency: same assignment, same tiebreaks).
  // ---------------------------------------------------------------------
  private val npCurve = Seq(1, 2, 4)

  def ss25RecallCurve(s: SparkSession, dir: String): DataFrame = {
    val base = qvec(s, dir).localCheckpoint()
    // training and assignment from the shared per-JVM memos; only the
    // WIDER probe window (crn ≤ max nprobe of the curve) is ss25's own
    val cents = coarseCentroidsFor(s, dir)
      .select(col("cent_id"), col("cv").as("v2"), col("cnrm").as("n2"))
    def centScored(src: DataFrame, idCol: String): DataFrame =
      src.select(col("vec_id").as(idCol), col("v").as("v1"), col("nrm").as("n1"))
        .join(broadcast(cents), lit(true))
        .withColumn("ccos",
          expr(dotExpr) / sqrt(col("n1").cast("double") * col("n2").cast("double")))
    val npMax = npCurve.max
    val assigned = coarseAssignedFor(s, dir).select(col("a_id"), col("cent_id"))
    val wProbe = Window.partitionBy(col("q_id"))
      .orderBy(col("ccos").desc, col("cent_id").asc)
    val probes = centScored(base.filter(col("vec_id") % 100 === 0), "q_id")
      .withColumn("crn", row_number().over(wProbe)).filter(col("crn") <= npMax)
      .select(col("q_id"), col("cent_id"), col("crn"))
    val cand = probes.join(assigned, Seq("cent_id"))
      .filter(col("q_id") =!= col("a_id"))
      .groupBy(col("q_id"), col("a_id")).agg(min(col("crn")).as("pr"))
    val qs = base.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("v1"), col("nrm").as("n1"))
    val scored = cand
      .join(base.select(col("vec_id").as("a_id"), col("v").as("v2"),
        col("nrm").as("n2")), Seq("a_id"))
      .join(broadcast(qs), Seq("q_id"))
      .withColumn("cos",
        expr(dotExpr) / sqrt(col("n1").cast("double") * col("n2").cast("double")))
      .select(col("q_id"), col("a_id").as("c_id"), col("pr"), col("cos"))
      .localCheckpoint()
    val exact = ss01ExactPairs(s, dir)
      .localCheckpoint()
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id").asc)
    npCurve.map { np =>
      val approx = scored.filter(col("pr") <= np)
        .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= K)
        .select(col("q_id"), col("c_id"), lit(1L).as("hit"))
      exact.join(approx, Seq("q_id", "c_id"), "left")
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .select(lit(np).as("nprobe"), col("n_exact"), col("n_hit"),
          expr("(n_hit * 100) div n_exact").as("recall_pct"))
    }.reduce(_ unionAll _)
  }

  lazy val ss25Oracle: String = {
    val perNp = npCurve.map { np =>
      s"""SELECT $np AS nprobe, COUNT(*) AS n_exact,
         | CAST(SUM(CASE WHEN tk.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
         | (CAST(SUM(CASE WHEN tk.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) * 100)
         |   // COUNT(*) AS recall_pct
         |FROM ex25 LEFT JOIN (
         | SELECT q_id, c_id FROM (
         |  SELECT q_id, c_id,
         |   ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rnk
         |  FROM sc25 WHERE pr <= $np) t WHERE rnk <= $K) tk
         |USING (q_id, c_id)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $qvecSql,
       |${kmChainSql(ivfRounds)},
       |cents25 AS (SELECT cent_id, cv, cnrm AS cn FROM c$ivfRounds),
       |cs25 AS (
       | SELECT qn.vec_id, cents25.cent_id,
       |  CAST(list_sum(list_transform(range(1, len(qn.v) + 1), i -> qn.v[i] * cents25.cv[i])) AS BIGINT)
       |    / sqrt(CAST(qn.nrm AS DOUBLE) * CAST(cents25.cn AS DOUBLE)) AS ccos
       | FROM qn CROSS JOIN cents25),
       |rk25 AS (
       | SELECT vec_id, cent_id,
       |  ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id ASC) AS crn
       | FROM cs25),
       |as25 AS (SELECT vec_id AS a_id, cent_id FROM rk25 WHERE crn = 1),
       |pb25 AS (SELECT vec_id AS q_id, cent_id, crn FROM rk25
       |         WHERE crn <= ${npCurve.max} AND vec_id % 100 = 0),
       |cd25 AS (
       | SELECT p.q_id, a.a_id AS c_id, MIN(p.crn) AS pr
       | FROM pb25 p JOIN as25 a ON p.cent_id = a.cent_id AND p.q_id != a.a_id
       | GROUP BY 1, 2),
       |sc25 AS (
       | SELECT cd25.q_id, cd25.c_id, cd25.pr,
       |  CAST(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) AS BIGINT)
       |    / sqrt(CAST(a.nrm AS DOUBLE) * CAST(b.nrm AS DOUBLE)) AS cos
       | FROM cd25 JOIN qn a ON cd25.q_id = a.vec_id JOIN qn b ON cd25.c_id = b.vec_id),
       |ex25 AS (SELECT q_id, c_id FROM ($ss01Oracle) x)
       |$perNp""".stripMargin
  }

  // ---------------------------------------------------------------------
  // ss24: IVF index HEALTH report — per-list occupancy of the learned
  // quantizer's assignment (the observability half of index maintenance:
  // a hot list means probes over-scan, empty lists mean wasted training
  // capacity; ss13 watches drift over time, ss24 is the standing
  // snapshot an operator alerts on). One full-corpus assignment (the
  // same broadcast-cross + max_by argmax the index build runs — never a
  // window) into a ≤k-row occupancy table; the per-mille share is an
  // integer div so the report hashes exactly.
  // ---------------------------------------------------------------------
  def ss24IvfStats(s: SparkSession, dir: String): DataFrame = {
    // occupancy needs only (vec_id, cent_id) — the memoized corpus argmax
    // (same expression and tiebreak as assignToCentroids; the report never
    // touched the vectors that assignToCentroids re-attaches)
    val occ = coarseAssignedFor(s, dir)
      .groupBy(col("cent_id")).agg(count(lit(1)).as("n_vecs"))
    val tot = occ.agg(sum(col("n_vecs")).as("total"))
    occ.crossJoin(broadcast(tot))
      .select(col("cent_id"), col("n_vecs"),
        expr("(n_vecs * 1000) div total").as("occ_pm"))
  }

  lazy val ss24Oracle: String =
    s"""WITH $qvecSql,
       |${kmChainSql(ivfRounds)},
       |cents AS (SELECT cent_id, cv, cnrm AS cn FROM c$ivfRounds),
       |$annProbePrefixSql,
       |occ AS (SELECT cent_id, COUNT(*) AS n_vecs FROM assigned GROUP BY cent_id),
       |t AS (SELECT CAST(SUM(n_vecs) AS BIGINT) AS total FROM occ)
       |SELECT cent_id, n_vecs, (n_vecs * 1000) // t.total AS occ_pm
       |FROM occ, t""".stripMargin

  // ---------------------------------------------------------------------
  // ss04: k-means (Lloyd's) to a fixed round count — kmRounds full
  // assign→update rounds from the deterministic seed, then a final
  // assignment under the learned centroids, reporting per-cluster size
  // and inertia. Fixed-N (not data-dependent stopping) keeps the oracle a
  // finite CTE chain and the answer deterministic; at scale each round is
  // one broadcast-cross + two keyed aggregates — centroids stay
  // broadcast-size, the corpus is scanned from a checkpoint.
  // ---------------------------------------------------------------------
  private val kmRounds = 3

  def ss04Kmeans(s: SparkSession, dir: String): DataFrame = {
    val pts = qvec(s, dir).localCheckpoint()
    // Lloyd is a deterministic recurrence from the shared seed, so rounds
    // 1..ivfRounds ARE the memoized coarse chain — continue from it for
    // the remaining kmRounds-ivfRounds rounds instead of re-running them
    // (round 15; value-identical by construction).
    var cents =
      if (kmRounds >= ivfRounds) coarseCentroidsFor(s, dir)
      else learnedCentroids(pts, kmRounds)
    if (kmRounds > ivfRounds)
      for (_ <- ivfRounds + 1 to kmRounds)
        cents = kmUpdate(kmAssign(pts, cents), pts)
          .transform(Relational.loopCheckpoint)
    kmAssign(pts, cents)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"), sum(col("d2")).as("inertia"))
  }

  val ss04Oracle: String =
    s"""WITH $qvecSql,
       |${kmChainSql(kmRounds)},
       |${kmAssignSql(kmRounds + 1, s"c$kmRounds")}
       |SELECT cluster, COUNT(*) AS n_members, CAST(SUM(d2) AS BIGINT) AS inertia
       |FROM a${kmRounds + 1} GROUP BY cluster""".stripMargin

  // ---------------------------------------------------------------------
  // ss05: PERSISTED IVF index — the index-build/query split every
  // production ANN service runs (and the similarity-side twin of the
  // dd11 dedup store): `buildIvfIndex` trains the quantizer and writes
  //   <dir>/centroids  (cent_id, cv, cnrm)
  //   <dir>/lists      (vec_id, v, nrm) partitioned by cent_id — the
  //                    inverted lists, physically clustered by centroid
  // and the query path probes nprobe centroid lists READ FROM DISK —
  // assignment is never recomputed at query time. Partitioning the lists
  // by cent_id means a probe that broadcasts its (few) centroid ids can
  // dynamically prune to nprobe/k of the index files — at 100 TB the
  // query cost is driven by list size, not corpus size. Same assignment
  // and probe semantics as ss03, so the two share one oracle.
  // ---------------------------------------------------------------------
  /** ss03's cosine-argmax assignment (max_by, map-side partial agg) of
    * `pts` against a FIXED centroid set — shared by the index build and
    * [[appendToIvfIndex]], so the roll-forward can never drift from the
    * build's assignment rule. */
  private[operators] def assignToCentroids(pts: DataFrame, cents: DataFrame): DataFrame = {
    val assigned = pts
      .select(col("vec_id"), col("v").as("v1"), col("nrm").as("n1"))
      .join(broadcast(cents.select(col("cent_id"), col("cv").as("v2"),
        col("cnrm").as("n2"))), lit(true))
      .withColumn("ccos",
        expr(dotExpr) / sqrt(col("n1").cast("double") * col("n2").cast("double")))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cent_id"),
        struct(col("ccos"), (-col("cent_id")).as("neg"))).as("cent_id"))
    assigned.join(pts, Seq("vec_id"))
      .select(col("cent_id"), col("vec_id"), col("v"), col("nrm"))
  }

  def buildIvfIndex(pts: DataFrame, dir: String, rounds: Int = ivfRounds,
      centsPre: Option[DataFrame] = None): Unit = {
    val cents = centsPre.getOrElse(
      learnedCentroids(pts, rounds).localCheckpoint())
    // under the rewrite lease (round-13 advice): a concurrent
    // tombstoneIvfIndex recording a privacy delete during this rebuild's
    // tombstone clear would otherwise be silently discarded
    withWriterLease(pts.sparkSession, dir) {
    cents.write.mode("overwrite").parquet(s"$dir/centroids")
    // record the MEASURED external-serve rung with the artifact (ss54's
    // ladder at sf0.1: 60/84/100% recall at nprobe 2/4/8 — rung 4 is the
    // knee): ivfServeExternal reads it back, so the dial the audit chose
    // is the dial production serves, not a constant a human must sync
    writeIvfManifest(pts.sparkSession, dir)
    // the build is the ONLY place full-corpus assignment runs; queries
    // just read lists, and appends assign their increment only. One file
    // per list from day one (repartition on the partition column) — a
    // fresh index should look like a compacted one, and probe scans pay
    // one file open per probed list instead of one per writer task.
    assignToCentroids(pts, cents).repartition(col("cent_id"))
      .write.mode("overwrite").partitionBy("cent_id").parquet(s"$dir/lists")
    // a rebuilt index has no deletes: stale tombstones from the replaced
    // artifact must not screen the fresh corpus (buildNswIndex discipline)
    Artifact.fs(pts.sparkSession, dir)
      .delete(new org.apache.hadoop.fs.Path(s"$dir/tombstones"), true)
    listsListingMemo.remove(s"$dir/lists") // a rebuild voids the memo
    }
  }

  /** Roll the persisted index forward over an increment (dd11's
    * rollForward, similarity-side): assign `newVecs` against the STORED
    * centroids — never re-training, never re-reading the existing lists —
    * and append their rows to the cent_id-partitioned lists. Work is
    * O(increment × k); the existing corpus is untouched on disk. Quantizer
    * drift under appended data is bounded offline by the ss06 recall
    * audit; when recall sags, rebuild — exactly the IVF maintenance story
    * of a production ANN service. */
  def appendToIvfIndex(s: SparkSession, dir: String, newVecs: DataFrame): Unit = {
    promoteStages(s, dir) // heal a crashed staged lists compact first
    val cents = s.read.parquet(s"$dir/centroids")
    // the assignment (the append's only non-trivial compute) materializes
    // OUTSIDE the lock; the mutation lock covers only the increment-sized
    // write, so the append never waits out a rewrite's wall (round 14)
    val assigned = assignToCentroids(newVecs, cents).localCheckpoint()
    withTableLock(s, dir) {
      promoteStages(s, dir)
      assigned.repartition(col("cent_id"))
        .write.mode("append").partitionBy("cent_id").parquet(s"$dir/lists")
    }
  }

  /** [[appendToIvfIndex]] with REPLAY-SAFE file placement for at-least-once
    * callers (the streaming ingest sink): the increment's assigned rows are
    * staged under `.staged_append/<tag>`, then moved into the inverted-list
    * partitions under DETERMINISTIC tag-derived names (`ingest-<tag>-i`),
    * with any same-tag leftovers from a previous partially-moved attempt
    * deleted first. A replay of the same tag therefore converges to exactly
    * one copy of the batch whether the prior attempt crashed before, during
    * or after its move — closing the duplicate-rows window a plain
    * mode("append") replay leaves in the rank-sensitive lists (each file
    * rename is atomic; the delete-then-move pair is idempotent per tag).
    * True multi-file atomicity still belongs to a transactional table
    * format; this makes replays CONVERGENT, which is what the
    * foreachBatch restart contract needs. */
  def stagedAppendToIvfIndex(s: SparkSession, dir: String,
      newVecs: DataFrame, tag: String): Unit = {
    // no-stall (round 14): the append computes and stages outside any
    // lock, and [[stagedAppendPartitioned]] takes the short mutation lock
    // for its file moves only. A concurrent compact/erase carries files
    // moved in before its swap blink across the swap ([[Artifact.Staged]]), so
    // the ingest-<tag> files can no longer be swept while the stream's
    // commit marker survives — and the append no longer waits out the
    // rewrite's O(artifact) wall as it did under the round-13 blanket
    // writer lease.
    promoteStages(s, dir) // heal a crashed staged lists compact first
    val cents = s.read.parquet(s"$dir/centroids")
    stagedAppendPartitioned(s, s"$dir/lists",
      assignToCentroids(newVecs, cents), tag)
  }

  /** The tag-convergent append machinery behind [[stagedAppendToIvfIndex]]
    * (and the NSW artifact's reverse-probe table): stage the cent_id-
    * partitioned `rows` under a hidden dir, then move them into the table's
    * partitions under deterministic `ingest-<tag>-i` names
    * ([[Artifact.moveTaggedAppend]]), retiring any same-tag leftovers of a
    * previous partially-moved attempt first. */
  private def stagedAppendPartitioned(s: SparkSession, tableDir: String,
      rows: DataFrame, tag: String): Unit = {
    require(tag.matches("[A-Za-z0-9_-]+"), s"unsafe staging tag: $tag")
    val lockRoot = tableDir.replaceAll("/[^/]+$", "")
    val tableName = tableDir.substring(tableDir.lastIndexOf('/') + 1)
    // stage OUTSIDE the table dir (round 14: a concurrent two-phase
    // rewrite's swap deletes the table dir wholesale — the stage must
    // survive it) and OUTSIDE any lock: this Spark job is the append's
    // O(increment) compute, and the mutation lock below is held only for
    // the file moves, so an append never waits out a rewrite's wall.
    // One file per touched partition per append (an increment-sized
    // shuffle): without this, every shuffle partition holding rows for a
    // list writes its own small file — up to 32 files per list PER BATCH,
    // which put the file-count maintenance dial permanently past its
    // threshold on the hottest lists
    val staged = s"$lockRoot/.staged_append_$tableName/$tag"
    rows.repartition(col("cent_id"))
      .write.mode("overwrite").partitionBy("cent_id").parquet(staged)
    withTableLock(s, lockRoot) {
      // heal a crashed rewrite's delete→rename window BEFORE moving in:
      // renaming into a missing table dir would mkdirs a fresh one and
      // strand the staged base forever
      promoteStages(s, lockRoot)
      // the mover drops only this tag's stage — a concurrent append of
      // another tag may be staging under the same parent right now
      Artifact.moveTaggedAppend(s, staged, tableDir, s"ingest-$tag",
        Some("cent_id"))
      // the listing-memo bound: this append added at most one file per
      // partition of this table
      listsListingMemo.computeIfPresent(tableDir,
        (_, v) => (v._1, v._2, v._3, v._4 + 1L))
    }
  }

  /** Periodic maintenance mirroring [[graft.operators.DedupStore.compact]]:
    * roll-forwards append small files into the inverted-list partitions;
    * this rewrites each list as ONE file (repartition ON cent_id), through
    * the staged rewrite ([[Artifact.prepareRewrite]]) so a crash
    * mid-compact leaves the readable original
    * AND a death inside the delete→rename window self-heals on the next
    * read via [[Artifact.promoteStages]] (round-10 verdict #1 — the old bespoke
    * delete+rename here could leave the table missing with a finished
    * `.compact_` copy nothing promoted). Assignments are read, never
    * recomputed — answers unchanged, probe scans stop paying per-file
    * open costs. The NSW artifact's reverse-probe sidecar accumulates the
    * same per-tag small files — [[compactNswProbes]] is this verb pointed
    * at it. */
  def compactIvfIndex(s: SparkSession, dir: String): Unit =
    withWriterLease(s, dir) { rewriteCentPartitioned(s, s"$dir/lists") }

  /** [[compactIvfIndex]] for the NSW artifact's `probes/` table. */
  def compactNswProbes(s: SparkSession, idxDir: String): Unit =
    withWriterLease(s, idxDir) { rewriteCentPartitioned(s, s"$idxDir/probes") }

  /** The IVF tier's maintenance policy — [[nswMaintenancePlan]]'s sibling
    * for a plain inverted-list index, where appends land directly as
    * per-tag small files inside the list partitions (no delta layout to
    * fold): the health metric is FILES PER LIST PARTITION (metadata-only,
    * one directory listing) and the verb compacts the lists back to one
    * file per partition when the MAX per-partition count exceeds
    * `spark.graft.ivf.maxFilesPerList` (default 8 — the foldMaxTags
    * discipline: probe scans pay one file open per small file per serve,
    * forever, until someone compacts; max not mean, so one hot list under
    * skewed appends cannot fragment unboundedly while the fleet-wide mean
    * idles under the dial). File counts are filesystem
    * accidents no corpus oracle can see, so this policy is SPEC-pinned
    * (IvfIndexSpec) rather than oracle-checked like ss50's count-based
    * NSW plan. Compaction is answers-unchanged and crash-safe (temp dir
    * + rename), hence legal inside a streaming foreachBatch —
    * [[graft.streaming.EventStream.vectorIngestStream]] wires it as
    * `autoMaintain`. */
  /** `autoErase = true` arms the IVF tier's UNATTENDED GDPR path —
    * [[maintainNswIndex]]'s autoErase one tier down (round-12 verdict
    * "missing #1": the dedup store and the graph artifact both had an
    * in-loop physical purge; the IVF artifact's erase verbs were manual):
    * it declares this deployment's tombstones ([[tombstoneIvfIndex]] —
    * the O(ids) ledger, already screened out of every serve) to be
    * PRIVACY deletes whose bytes must leave without an operator in the
    * loop. Once tombstones exceed `spark.graft.ivf.erasePendingPct`
    * (default 10, integer percent of the stored list rows), maintenance
    * runs [[eraseFromIvfIndex]] over them under the lease: list rows
    * drop, the tombstone ledger self-clears, serves return to the
    * unscreened steady state. Answers unchanged at that moment (the
    * screens already applied the semantics — the dd30 equality, frozen-
    * quantizer edition), hence legal inside a streaming foreachBatch;
    * the erase's own rewrite restores one file per list, so an erase
    * turn subsumes compaction. Deliberately OPT-IN: a recall-first
    * deployment keeps tombstone routing semantics and rebuilds on its
    * own schedule. */
  def maintainIvfIndex(s: SparkSession, idxDir: String,
      autoErase: Boolean = false): Map[String, Long] = {
    promoteStages(s, idxDir) // heal a crashed staged lists compact first
    // the GDPR half runs BEFORE the listing memo's fast path: tombstone
    // counts are footer-only and paid only when armed — an unarmed
    // deployment's per-micro-batch maintain stays metadata-free
    val tomb = if (!autoErase) 0L else storedNswTombstones(s, idxDir).count()
    val erasePct = confInt(s, "spark.graft.ivf.erasePendingPct", 10)
    val eraseDue = autoErase && tomb > 0L &&
      tomb * 100L > s.read.parquet(s"$idxDir/lists").count() * erasePct
    if (eraseDue) {
      val (erased, yielded) = withMaintenanceLease(s, idxDir)((0L, 1L)) {
        eraseFromIvfIndex(s, idxDir,
          storedNswTombstones(s, idxDir).localCheckpoint())
        (1L, 0L)
      }
      // the erase rewrote every list as one file — compaction is moot
      // this turn, and the next maintain re-lists from the fresh layout
      return Map("tombstoned_vecs" -> tomb, "erase_due" -> 1L,
        "erased" -> erased, "compact_due" -> 0L, "compacted" -> 0L,
        "yielded" -> yielded)
    }
    val eraseKeys = Map("tombstoned_vecs" -> tomb, "erase_due" -> 0L,
      "erased" -> 0L)
    val maxPer = confInt(s, "spark.graft.ivf.maxFilesPerList", 8)
    val memoKey = s"$idxDir/lists"
    Option(listsListingMemo.get(memoKey)) match {
      case Some((mParts, mFiles, mMax, appends))
          if mMax + appends <= maxPer =>
        // provably un-due WITHOUT touching the filesystem (round-10 verdict
        // #8: the per-micro-batch O(list partitions) metadata listing):
        // every staged append writes at most ONE file per list partition,
        // so filesMax <= lastListedMax + appendsSince. list_files_max
        // reports that bound; list_partitions/list_files are as of the
        // last listing. Files dropped by anything OTHER than the staged
        // appends stay invisible until the bound (or a cold JVM, or a
        // compact/build invalidation) forces the next real listing — the
        // dial is a health policy, not an audited metric, and any other
        // JVM's maintainer starts cold and sees the truth.
        eraseKeys ++ Map("list_partitions" -> mParts, "list_files" -> mFiles,
          "list_files_max" -> (mMax + appends),
          "compact_due" -> 0L, "compacted" -> 0L, "yielded" -> 0L)
      case _ =>
        val f = Artifact.fs(s, idxDir)
        val lp = new org.apache.hadoop.fs.Path(s"$idxDir/lists")
        val parts = if (!f.exists(lp)) Array.empty[org.apache.hadoop.fs.FileStatus]
          else f.listStatus(lp).filter(st =>
            st.isDirectory && st.getPath.getName.startsWith("cent_id="))
        val perPart = parts.map(p => f.listStatus(p.getPath).count(st =>
          st.isFile && !st.getPath.getName.startsWith(".") &&
            !st.getPath.getName.startsWith("_")).toLong)
        val nFiles = perPart.sum
        val filesMax = if (perPart.isEmpty) 0L else perPart.max
        val nParts = parts.length.toLong
        // trigger on the MAX per-partition count, not the mean (round-10
        // advice): skewed appends can fragment one hot list indefinitely
        // while the fleet-wide mean stays under the dial. Frequency stays
        // bounded because every staged append writes exactly ONE file per
        // touched partition (stagedAppendPartitioned repartitions on
        // cent_id), so the hottest list needs maxPer appends between
        // compactions.
        val due = if (filesMax > maxPer) 1L else 0L
        val (ran, yielded) =
          if (due == 0L) { listsListingMemo.put(memoKey, (nParts, nFiles, filesMax, 0L)); (0L, 0L) }
          else withMaintenanceLease(s, idxDir)((0L, 1L)) {
            compactIvfIndex(s, idxDir); (1L, 0L) // removes the memo entry
          }
        eraseKeys ++ Map("list_partitions" -> nParts, "list_files" -> nFiles,
          "list_files_max" -> filesMax,
          "compact_due" -> due, "compacted" -> ran, "yielded" -> yielded)
    }
  }

  // maintainIvfIndex's listing memo: lists dir -> (partitions, files,
  // filesMax, stagedAppendsSince) as of the last real listing. Appends
  // bump the counter; rewriteCentPartitioned and buildIvfIndex invalidate
  // (the next maintain pays one listing, then skips again) — the
  // deltaSprawlChecked hygiene discipline.
  private val listsListingMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long, Long, Long)]()

  /** Compaction and erasure of one cent_id-partitioned table are ONE
    * rewrite: the TWO-PHASE rewrite (round 14, [[Artifact.prepareRewrite]])
    * prepares the one-file-per-list layout from a snapshot listing while
    * appends keep landing, then carries+swaps under the short mutation
    * lock. The round-10 crash discipline carries over unchanged — the
    * blink's delete→rename window still self-heals via promoteStages.
    * With `gone`, the rewrite is erasure: the ids' rows drop (a
    * `left_anti` join) and, after the swap, the fulfilled tombstones fold
    * out of the artifact's ledger ([[foldTombstones]]). */
  private def rewriteCentPartitioned(s: SparkSession, table: String,
      gone: Option[DataFrame] = None): Unit = {
    val root = table.replaceAll("/[^/]+$", "")
    Artifact.prepareRewrite(s, root, Seq(table.substring(root.length + 1))) {
      (_, snap) =>
        val rows = snap.withColumn("cent_id", col("cent_id").cast("long"))
        gone.fold(rows)(g => rows.join(g, Seq("vec_id"), "left_anti"))
          .repartition(col("cent_id")).write.partitionBy("cent_id")
    }.swap { _ =>
      gone.foreach(foldTombstones(s, root, _))
      listsListingMemo.remove(table) // the memoized listing no longer holds
    }
  }

  private[operators] def indexPathFor(dir: String): String = {
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    s"${sys.props("java.io.tmpdir")}/graft_ivf_index_$tag"
  }

  /** The disk-index probe path: nearest nprobe centroids per query, exact
    * rerank within the probed inverted lists — shared by ss05 and ss07.
    * Assignment is never recomputed here (plan-pinned). */
  private[operators] def probeIvfIndex(s: SparkSession, base: DataFrame,
      idxDir: String): DataFrame = {
    promoteStages(s, idxDir) // heal a crashed staged lists compact first
    val cents = s.read.parquet(s"$idxDir/centroids")
      .select(col("cent_id"), col("cv").as("v2"), col("cnrm").as("n2"))
    // pending deletes ([[tombstoneIvfIndex]]) screen the candidate rows —
    // absent set = identity, so an artifact without the delete verb
    // serves the exact pre-screen plan
    val lists = screenIvfTombstones(s, idxDir,
      s.read.parquet(s"$idxDir/lists"))
    // probe: nearest nprobe centroids per query (small query set → window ok)
    val wProbe = Window.partitionBy(col("q_id"))
      .orderBy(col("ccos").desc, col("cent_id").asc)
    val probes = base.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("v1"), col("nrm").as("n1"))
      .join(broadcast(cents), lit(true))
      .withColumn("ccos",
        expr(dotExpr) / sqrt(col("n1").cast("double") * col("n2").cast("double")))
      .withColumn("crn", row_number().over(wProbe)).filter(col("crn") <= nprobe)
      .select(col("q_id"), col("cent_id"))
    val qs = base.select(col("vec_id").as("q_id"), col("v").as("v1"), col("nrm").as("n1"))
    val scored = probes.join(lists, Seq("cent_id"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("c_id"), col("v").as("v2"),
        col("nrm").as("n2"))
      .join(broadcast(qs), Seq("q_id"))
      .withColumn("dot", expr(dotExpr))
      .withColumn("cos",
        col("dot") / sqrt(col("n1").cast("double") * col("n2").cast("double")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id").asc)
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= K)
      .select(col("q_id"), col("c_id"), col("rnk"), col("cos"))
  }

  def ss05AnnIvfIndexed(s: SparkSession, dir: String): DataFrame = {
    val base = qvec(s, dir).localCheckpoint()
    probeIvfIndex(s, base, ensureIvfIndex(s, dir, base))
  }

  /** PHYSICAL erasure for the standalone IVF artifact — the verb between
    * tombstone screening (ss34: rows stay, serves hide them) and a full
    * rebuild: remove the ids' list rows in place. Exact by the frozen-
    * quantizer argument ([[rotateNswIndex]]'s): assignment is per-vector
    * against frozen centroids, so deleting OTHER vectors cannot change an
    * alive vector's argmax list — filtering the stored assignment IS the
    * frozen re-assignment. GDPR-wise this is the embedding-side twin of
    * [[DedupStore.erase]]: a tombstone keeps the erased vector's bytes in
    * the artifact; this removes them. Staged rewrite (crash self-heals on
    * the next read), centroids untouched — they are aggregate statistics,
    * not member fingerprints. */
  def eraseFromIvfIndex(s: SparkSession, idxDir: String, ids: DataFrame): Unit = {
    // pin the id set BEFORE the lease (it may derive from the tombstone
    // table this verb rewrites), then rewrite under the REWRITE lease —
    // other rewriters and tombstone read-modify-writes serialize here,
    // while appends keep landing and are carried across the swap blink
    // (round 14, the two-phase no-stall discipline).
    val gone = ids.select(col("vec_id")).localCheckpoint()
    // fulfilled tombstones leave the ledger inside the swap blink (the
    // DedupStore.erase discipline): a crash before the fold leaves no-op
    // screens (the rows are already gone) and a still-armed dial whose
    // next erase is a no-op anti-join; a crash before the swap leaves the
    // ledger whole, so the screens keep hiding the unerased rows.
    withWriterLease(s, idxDir) {
      rewriteCentPartitioned(s, s"$idxDir/lists", Some(gone))
    }
  }

  /** The IVF artifact's DELETE verb — [[tombstoneNswIndex]] one tier down
    * (HNSWlib markDelete / Faiss IDSelector shape): record ids in the
    * artifact's tombstone set at O(ids) cost. Serves screen candidates
    * against it immediately ([[probeIvfIndex]]/[[ivfServeExternalAt]]),
    * so the right-to-be-forgotten takes effect at request time; the BYTES
    * leave when [[eraseFromIvfIndex]] runs — manually, or unattended via
    * [[maintainIvfIndex]]`(autoErase = true)` once the pending set passes
    * `spark.graft.ivf.erasePendingPct`. Idempotent (distinct merge). */
  def tombstoneIvfIndex(s: SparkSession, idxDir: String, ids: DataFrame): Unit =
      withWriterLease(s, idxDir) {
    writeTombstones(s, idxDir, storedNswTombstones(s, idxDir)
      .unionByName(ids.select(col("vec_id"))).distinct()
      .localCheckpoint()) // materialize BEFORE overwriting what it reads
  }

  /** Screen an id-bearing table against the artifact's stored tombstones.
    * Absent table = identity (zero plan change, the steady state); present
    * = an UN-HINTED anti-join — AQE broadcasts small sets from actual
    * runtime sizes, and a corpus-proportional set shuffles instead of
    * being forced onto the driver (the round-12 verdict #1 discipline). */
  private def screenIvfTombstones(s: SparkSession, idxDir: String,
      df: DataFrame): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$idxDir/tombstones")
    if (!Artifact.fs(s, idxDir).exists(p)) df
    else df.join(
      s.read.parquet(s"$idxDir/tombstones").select(col("vec_id")).distinct(),
      Seq("vec_id"), "left_anti")
  }

  // ---------------------------------------------------------------------
  // ss57: IVF PHYSICAL ERASURE, oracle-checked by an equality worth
  // stating — build on the full corpus, erase the % 9 == 0 ids from the
  // lists, probe with the alive queries: the answers must equal ss34's
  // tombstone-SCREENED serve over the standing index (the oracle IS
  // ss34's), because under a frozen quantizer hiding rows at serve time
  // and removing them from the artifact are the same function. What
  // differs is what remains on disk: nothing of the erased vectors.
  // ---------------------------------------------------------------------
  def ss57IvfErased(s: SparkSession, dir: String): DataFrame = {
    val base = qvec(s, dir).localCheckpoint()
    val idxDir = indexPathFor(dir + "#erase")
    buildIvfIndex(base, idxDir,
      centsPre = Some(coarseCentroidsFor(s, dir)))
    eraseFromIvfIndex(s, idxDir,
      base.filter(col("vec_id") % 9 === 0).select(col("vec_id")))
    probeIvfIndex(s, base.filter(col("vec_id") % 9 =!= 0), idxDir)
  }

  // ---------------------------------------------------------------------
  // ss59: the IVF tier's UNATTENDED GDPR path, oracle-checked end-to-end
  // (round-12 verdict "missing #1") — ss57's scenario driven the way a
  // privacy-deadline deployment actually runs it: the % 9 == 0 ids land
  // as TOMBSTONES (tombstoneIvfIndex — the O(ids) ledger; serves screen
  // them from that moment), then maintainIvfIndex(autoErase = true)
  // notices ~11% pending over the 10% default dial and runs the physical
  // pass itself — eraseFromIvfIndex under the lease, ledger self-clears —
  // and the alive probe must land exactly on ss34's tombstone-screened
  // answers (the oracle IS ss34's, like ss57): request-time screening,
  // dial-fired physical erasure and a hand-run erase are the same
  // function over answers under a frozen quantizer. What the physical
  // pass changes is what REMAINS ON DISK: nothing of the erased vectors,
  // in no stored table (IvfIndexSpec pins that half plus off-by-default).
  // ---------------------------------------------------------------------
  def ss59IvfAutoErased(s: SparkSession, dir: String): DataFrame = {
    val base = qvec(s, dir).localCheckpoint()
    val idxDir = indexPathFor(dir + "#autoerase")
    buildIvfIndex(base, idxDir,
      centsPre = Some(coarseCentroidsFor(s, dir)))
    tombstoneIvfIndex(s, idxDir,
      base.filter(col("vec_id") % 9 === 0).select(col("vec_id")))
    maintainIvfIndex(s, idxDir, autoErase = true)
    probeIvfIndex(s, base.filter(col("vec_id") % 9 =!= 0), idxDir)
  }

  // ---------------------------------------------------------------------
  // ss07: IVF index ROLL-FORWARD — the maintenance story ss05 lacked:
  // an index built on the standing corpus (vec_id % 10 != 3 — the
  // increment residue is 3 so the % 250 == 0 quantizer seeds stay in the
  // standing set), grown by appending the increment via
  // [[appendToIvfIndex]] —
  // assignment against the STORED centroids, O(increment) work, no
  // retraining, no touch of the existing lists — then probed exactly like
  // ss05. The oracle trains its centroid chain on the OLD subset only and
  // assigns the full corpus against those centroids: the roll-forward
  // must be indistinguishable from a one-shot build with the same frozen
  // quantizer (IvfIndexSpec pins list-level equality too).
  // ---------------------------------------------------------------------
  def ss07AnnIndexRollforward(s: SparkSession, dir: String): DataFrame = {
    val base = qvec(s, dir).localCheckpoint()
    val idxDir = indexPathFor(dir + "#rollforward")
    buildIvfIndex(base.filter(col("vec_id") % 10 =!= 3), idxDir)
    appendToIvfIndex(s, idxDir, base.filter(col("vec_id") % 10 === 3))
    probeIvfIndex(s, base, idxDir)
  }

  // ---------------------------------------------------------------------
  // ss06: ANN recall measurement — the honesty metric for the approximate
  // tier: what fraction of the brute-force (ss01) top-k pairs does the
  // IVF path (ss03) actually return? Running this per corpus snapshot is
  // how a production ANN deployment tunes its probe count / table count
  // dial; integer outputs so the oracle hash-matches. The exact side is
  // the documented quadratic baseline — this query is an offline audit,
  // not a serving path.
  // ---------------------------------------------------------------------
  def ss06AnnRecall(s: SparkSession, dir: String): DataFrame = {
    val exact = ss01ExactPairs(s, dir)
    val approx = ss03AnnIvf(s, dir)
      .select(col("q_id"), col("c_id"), lit(1L).as("hit"))
    exact.join(approx, Seq("q_id", "c_id"), "left")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .withColumn("recall_pct", expr("(n_hit * 100) div n_exact"))
  }

  val ss06Oracle: String =
    s"""WITH ex AS (SELECT q_id, c_id FROM ($ss01Oracle) a),
       |ap AS (SELECT q_id, c_id FROM ($ss03Oracle) b)
       |SELECT COUNT(*) AS n_exact,
       | CAST(SUM(CASE WHEN ap.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       | (CAST(SUM(CASE WHEN ap.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) * 100)
       |   // COUNT(*) AS recall_pct
       |FROM ex LEFT JOIN ap USING (q_id, c_id)""".stripMargin

  // ---------------------------------------------------------------------
  // ss09/ss10: product quantization — the memory-bound ANN tier (Jégou et
  // al. 2011, "Product Quantization for Nearest Neighbor Search"): the
  // 64-dim vector splits into 4 independent 16-dim subspaces, each with
  // its own Lloyd-learned codebook (the SAME exact-integer machinery as
  // ss03/ss04, run per subspace), and every vector is stored as 4 small
  // codes. At 100 TB the encode table is ~1/100th the raw vectors — the
  // point of PQ is that the ADC scan touches codes, never raw floats.
  //
  //  - ss09: the encode table (vec_id, m, code) — the index artifact; one
  //    broadcast-assign pass per subspace, each a single partial-agg'd
  //    argmin shuffle.
  //  - ss10: asymmetric-distance (ADC) top-k — each query computes its
  //    EXACT integer d² to every subspace centroid (a tiny per-query
  //    lookup table, broadcast), and a candidate's distance is the sum of
  //    its 4 codes' LUT entries. The scan is one map-side pass over the
  //    wide code table (array-of-maps lookup, no join on the corpus
  //    side); the only corpus shuffle is the final per-query top-k
  //    window. Everything stays in exact BIGINTs, so the oracle
  //    hash-matches despite the two-engine Lloyd chains.
  // ---------------------------------------------------------------------
  private val pqM = 4
  private val pqSubDims = dims / pqM // 16
  private val pqRounds = 2
  // PQ codebooks seed DENSER than the coarse quantizer's % 250: ADC can
  // only discriminate between code combinations, so per-subspace code
  // count is the resolution dial (real PQ uses 256). Every 25th vector →
  // 20 codes/subspace at sf0.01, 200 at sf0.1; recall_pct (ss12) is the
  // measurement that justifies the denser dial.
  private val pqSeedMod = 25

  /** One pass over the corpus → the tagged subvector stream (vec_id, m, v,
    * nrm): all 4 subspaces travel in ONE dataframe so Lloyd's rounds run
    * as single jobs (one barrier per round) instead of 4 sequential
    * per-subspace chains. */
  private def pqPtsAll(base: DataFrame): DataFrame =
    base.select(col("vec_id"), explode(expr(
        s"transform(sequence(0, ${pqM - 1}), m -> struct(m, slice(v, m * $pqSubDims + 1, $pqSubDims) AS sv))"))
        .as("p"))
      .select(col("vec_id"), col("p.m").as("m"), col("p.sv").as("v"))
      .withColumn("nrm", expr("dot_l(v, v)"))

  // Tagged-union Lloyd: identical per-subspace math to kmAssign/kmUpdate
  // with m carried through every key, so all codebooks learn in lockstep.
  private def pqAssignAll(pts: DataFrame, cents: DataFrame): DataFrame =
    pts.join(broadcast(cents), Seq("m"))
      .withColumn("d2", col("nrm") + col("cnrm") - expr("2 * dot_l(v, cv)"))
      .groupBy(col("m"), col("vec_id"))
      .agg(min_by(struct(col("cent_id"), col("d2")),
        struct(col("d2"), col("cent_id"))).as("x"))
      .select(col("m"), col("vec_id"), col("x.cent_id").as("cluster"))

  private def pqUpdateAll(assigned: DataFrame, pts: DataFrame): DataFrame =
    assigned.join(pts, Seq("m", "vec_id"))
      .select(col("m"), col("cluster"), posexplode(col("v")).as(Seq("d", "x")))
      .groupBy(col("m"), col("cluster"), col("d"))
      .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
      .withColumn("mx", (col("sx").cast("double") / col("n")).cast("long"))
      .groupBy(col("m"), col("cluster"))
      .agg(expr("transform(array_sort(collect_list(struct(d, mx))), s -> s.mx)").as("cv"))
      .select(col("m"), col("cluster").as("cent_id"), col("cv"),
        expr("dot_l(cv, cv)").as("cnrm"))

  /** (pts, codebooks, codes): the tagged subvector stream, the learned
    * (m, cent_id, cv, cnrm) codebooks, and the (vec_id, m, code) encode. */
  private def pqAll(base: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val pts = pqPtsAll(base).localCheckpoint()
    var cents = pts.filter(col("vec_id") % pqSeedMod === 0)
      .select(col("m"), col("vec_id").as("cent_id"),
        col("v").as("cv"), col("nrm").as("cnrm"))
    for (_ <- 1 to pqRounds)
      cents = pqUpdateAll(pqAssignAll(pts, cents), pts).localCheckpoint()
    (pts, cents,
      pqAssignAll(pts, cents).select(col("vec_id"), col("m"),
        col("cluster").as("code")))
  }

  /** The PQ training pipeline, a [[Derived]] key (round 15): ss09/ss10
    * and the IVF-PQ family each re-ran the identical per-subspace Lloyd
    * chain (≈2 s) inside one process. */
  private def pqAllFor(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) =
    Derived(s, s"pqall#$dir") {
      val (pts, cents, codes) = pqAll(qvec(s, dir).localCheckpoint())
      (pts, cents, Relational.loopCheckpoint(codes))
    }

  def ss09PqEncode(s: SparkSession, dir: String): DataFrame =
    pqAllFor(s, dir)._3

  /** Wide code row per vector: codes[m] — built once, the "PQ index". */
  private def pqCodesWide(codes: DataFrame): DataFrame =
    codes.groupBy(col("vec_id"))
      .agg(expr("transform(array_sort(collect_list(struct(m, code))), s -> s.code)")
        .as("codes"))

  /** Per-query LUTs: one row per query holding an array (by m) of code→d²
    * maps — tiny (n_queries × M × k entries), broadcast. */
  private def pqQueryLuts(pts: DataFrame, cents: DataFrame): DataFrame =
    pts.filter(col("vec_id") % 100 === 0)
      .join(broadcast(cents), Seq("m"))
      .withColumn("d2", col("nrm") + col("cnrm") - expr("2 * dot_l(v, cv)"))
      .select(col("vec_id").as("q_id"), col("m"),
        col("cent_id").as("code"), col("d2"))
      .groupBy(col("q_id"), col("m"))
      .agg(map_from_entries(collect_list(struct(col("code"), col("d2")))).as("mp"))
      .groupBy(col("q_id"))
      // structs holding MAPs aren't orderable (no array_sort) — collect a
      // m→LUT map instead and index it 0..M-1 into a positional array.
      .agg(map_from_entries(collect_list(struct(col("m"), col("mp")))).as("mpm"))
      .withColumn("mps",
        expr(s"transform(sequence(0, ${pqM - 1}), i -> element_at(mpm, i))"))
      .select(col("q_id"), col("mps"))

  // Codegen'd ADC accumulation (r14, guide step 2 "per-task work"): the
  // HOF form — aggregate(zip_with(mps, codes, (mp, cd) ->
  // element_at(mp, cd)), 0L, (acc, x) -> acc + x) — interprets two
  // lambdas and M map probes per (query, candidate) row; pq_adc_l is the
  // same Σ_m lut[m][code[m]] (null on a missing key, like element_at) as
  // one compiled loop. PqAdcSpec pins the equivalence on the HOF form.
  private val pqAdcExpr: String = "pq_adc_l(mps, codes)"

  def ss10PqAdc(s: SparkSession, dir: String): DataFrame = {
    val (pts, cents, codes) = pqAllFor(s, dir)
    val adc = pqCodesWide(codes).crossJoin(broadcast(pqQueryLuts(pts, cents)))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("adc_d2", expr(pqAdcExpr))
    val w = Window.partitionBy(col("q_id")).orderBy(col("adc_d2"), col("vec_id"))
    adc.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= K)
      .select(col("q_id"), col("vec_id").as("c_id"), col("rnk"), col("adc_d2"))
  }

  // ---------------------------------------------------------------------
  // ss11: IVF-PQ — the full FAISS-style serving architecture in one
  // declarative plan: the coarse quantizer (ss03's learned full-vector
  // centroids) partitions the corpus into inverted lists, and candidates
  // inside the nprobe probed lists are scored by PQ ADC (ss10's LUT
  // lookup) instead of exact rerank — the configuration that serves
  // billion-vector corpora from codes ~1/100th the raw size while
  // touching ~nprobe/k of them per query.
  //
  // Scale shape: the (cent_id, vec_id, codes) list-codes table is the
  // stored index (one corpus equi-join at build, = the physical layout
  // write); the query path joins it to the BROADCAST probe set and the
  // BROADCAST query LUTs — one map-side pass over the index, and the
  // only per-query shuffle is the final top-k window.
  // ---------------------------------------------------------------------
  /** The IVF-PQ candidate stream shared by ss11 (ADC top-k is the answer)
    * and ss14 (ADC is the SCREEN, exact rerank is the answer): distinct
    * (q_id, c_id, adc_d2) for candidates inside the probed lists. Returns
    * (base, adcScored). */
  private def ivfPqScored(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    // the whole scored candidate stream is one Derived key: ss11, ss12,
    // ss14 and ss15 all consume exactly this pair
    Derived(s, s"ivfpq#$dir")(ivfPqScoredCompute(s, dir))

  /** Builds the coarse quantizer, the PQ codebooks and the ADC-scored
    * candidates. Whether a slow ss11 is the training or the host is read
    * from Bench's `work` line: the same jobs/tasks/shuffle records with
    * inflated wall is host contention. */
  private def ivfPqScoredCompute(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val base = qvec(s, dir).localCheckpoint()
    // coarse quantizer + assignment + probes: the shared per-JVM memos
    // (identical machinery and tiebreaks to ss03)
    val cents = coarseCentroidsFor(s, dir)
      .select(col("cent_id"), col("cv").as("v2"), col("cnrm").as("n2"))
    val assigned = coarseAssignedFor(s, dir)
    val wProbe = Window.partitionBy(col("q_id"))
      .orderBy(col("ccos").desc, col("cent_id").asc)
    val probes = base.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("v1"), col("nrm").as("n1"))
      .join(broadcast(cents), lit(true))
      .withColumn("ccos",
        expr(dotExpr) / sqrt(col("n1").cast("double") * col("n2").cast("double")))
      .withColumn("crn", row_number().over(wProbe)).filter(col("crn") <= nprobe)
      .select(col("q_id"), col("cent_id"))
    // PQ side: codebooks + codes from the shared per-JVM training memo,
    // then the stored list-codes layout
    val (pts, pcents, codes) = pqAllFor(s, dir)
    val listCodes = assigned.join(pqCodesWide(codes),
        col("a_id") === col("vec_id"))
      .select(col("cent_id"), col("vec_id"), col("codes"))
    val adc = listCodes.join(broadcast(probes), Seq("cent_id"))
      .filter(col("q_id") =!= col("vec_id"))
      .join(broadcast(pqQueryLuts(pts, pcents)), Seq("q_id"))
      .withColumn("adc_d2", expr(pqAdcExpr))
      // a vector on two probed lists' boundary can't appear twice: lists
      // partition the corpus, but DISTINCT the (q, c) pairs like ss03 to
      // keep the contract explicit
      .select(col("q_id"), col("vec_id").as("c_id"), col("adc_d2")).distinct()
      .transform(Relational.loopCheckpoint)
    (base, adc)
  }

  def ss11IvfPqAdc(s: SparkSession, dir: String): DataFrame = {
    val (_, adc) = ivfPqScored(s, dir)
    val w = Window.partitionBy(col("q_id")).orderBy(col("adc_d2"), col("c_id"))
    adc.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= K)
      .select(col("q_id"), col("c_id"), col("rnk"), col("adc_d2"))
  }

  // ---------------------------------------------------------------------
  // ss14: ADC screen + EXACT rerank — the standard two-stage production
  // serve (FAISS's index.search with refine): the quantized tier keeps
  // the ADC top-4k per query (cheap, code-table-only), and only those
  // ~4k·n_queries survivors touch raw vectors for the exact cosine
  // rerank. Recovers most of the recall ADC distortion loses (measured
  // by ss15 against ss12) while the raw-vector reads stay a vanishing
  // fraction of the corpus at scale.
  // ---------------------------------------------------------------------
  private val rerankPool = 4 * K

  def ss14IvfPqRerank(s: SparkSession, dir: String): DataFrame = {
    val (base, adc) = ivfPqScored(s, dir)
    val wScreen = Window.partitionBy(col("q_id")).orderBy(col("adc_d2"), col("c_id"))
    val screened = adc.withColumn("srn", row_number().over(wScreen))
      .filter(col("srn") <= rerankPool)
      .select(col("q_id"), col("c_id"))
    val qs = base.select(col("vec_id").as("q_id"), col("v").as("v1"), col("nrm").as("n1"))
    val cs = base.select(col("vec_id").as("c_id"), col("v").as("v2"), col("nrm").as("n2"))
    val exact = screened
      .join(broadcast(qs), Seq("q_id"))
      .join(cs, Seq("c_id"))
      .withColumn("cos",
        expr(dotExpr) / sqrt(col("n1").cast("double") * col("n2").cast("double")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id").asc)
    exact.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= K)
      .select(col("q_id"), col("c_id"), col("rnk"), col("cos"))
  }

  // ---------------------------------------------------------------------
  // ss15: rerank recall audit — ss12's measurement for the two-stage
  // serve; the delta over ss12 is exactly what the exact rerank buys.
  // ---------------------------------------------------------------------
  def ss15RerankRecall(s: SparkSession, dir: String): DataFrame = {
    val exact = ss01ExactPairs(s, dir)
    val approx = ss14IvfPqRerank(s, dir)
      .select(col("q_id"), col("c_id"), lit(1L).as("hit"))
    exact.join(approx, Seq("q_id", "c_id"), "left")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .withColumn("recall_pct", expr("(n_hit * 100) div n_exact"))
  }

  // --- oracle side: the per-subspace Lloyd chain with suffixed CTE names.
  private def pqSubSql(m: Int): String = {
    val lo = m * pqSubDims + 1
    val hi = (m + 1) * pqSubDims
    s"""q$m AS (SELECT vec_id, v[$lo:$hi] AS v FROM qn),
       |qn$m AS (SELECT vec_id, v, CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS nrm FROM q$m)""".stripMargin
  }

  private def pqAssignSql(m: Int, r: Int, prev: String): String =
    s"""s${m}_$r AS (
       | SELECT q.vec_id, p.cent_id,
       |  q.nrm + p.cnrm - 2 * CAST(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * p.cv[i])) AS BIGINT) AS d2
       | FROM qn$m q CROSS JOIN $prev p),
       |r${m}_$r AS (SELECT vec_id, cent_id, d2,
       |  ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) AS rn FROM s${m}_$r),
       |a${m}_$r AS (SELECT vec_id, cent_id AS cluster, d2 FROM r${m}_$r WHERE rn = 1)""".stripMargin

  private def pqRoundSql(m: Int, r: Int): String = {
    val prev = s"c${m}_${r - 1}"
    s"""${pqAssignSql(m, r, prev)},
       |dims${m}_$r AS (
       | SELECT a.cluster, generate_subscripts(q.v, 1) AS d, unnest(q.v) AS x
       | FROM a${m}_$r a JOIN qn$m q ON a.vec_id = q.vec_id),
       |means${m}_$r AS (
       | SELECT cluster, d, CAST(trunc(CAST(SUM(x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mx
       | FROM dims${m}_$r GROUP BY cluster, d),
       |c${m}_$r AS (
       | SELECT cent_id, cv, CAST(list_sum(list_transform(cv, x -> x * x)) AS BIGINT) AS cnrm
       | FROM (SELECT cluster AS cent_id, list(mx ORDER BY d) AS cv FROM means${m}_$r GROUP BY cluster) t)""".stripMargin
  }

  /** CTE chain per subspace m: slice → seed c{m}_0 → rounds → final encode
    * assignment e{m} against c{m}_{pqRounds}. */
  private def pqChainSql(m: Int): String =
    s"""${pqSubSql(m)},
       |c${m}_0 AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM qn$m WHERE vec_id % $pqSeedMod = 0),
       |${(1 to pqRounds).map(pqRoundSql(m, _)).mkString(",\n")},
       |${pqAssignSql(m, pqRounds + 1, s"c${m}_$pqRounds")},
       |e$m AS (SELECT vec_id, cluster AS code FROM a${m}_${pqRounds + 1})""".stripMargin

  val ss09Oracle: String =
    s"""WITH $qvecSql,
       |${(0 until pqM).map(pqChainSql).mkString(",\n")}
       |${(0 until pqM).map(m => s"SELECT vec_id, $m AS m, code FROM e$m")
          .mkString("\nUNION ALL\n")}""".stripMargin

  val ss10Oracle: String =
    s"""WITH $qvecSql,
       |${(0 until pqM).map(pqChainSql).mkString(",\n")},
       |${(0 until pqM).map(m =>
            s"""l$m AS (
               | SELECT q.vec_id AS q_id, c.cent_id AS code,
               |  q.nrm + c.cnrm - 2 * CAST(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.cv[i])) AS BIGINT) AS d2
               | FROM qn$m q CROSS JOIN c${m}_$pqRounds c WHERE q.vec_id % 100 = 0)""".stripMargin)
          .mkString(",\n")},
       |adc AS (
       | SELECT q_id, c_id, CAST(SUM(d2) AS BIGINT) AS adc_d2 FROM (
       |  ${(0 until pqM).map(m =>
             s"SELECT l.q_id, e.vec_id AS c_id, l.d2 FROM e$m e JOIN l$m l ON e.code = l.code")
            .mkString("\n  UNION ALL\n  ")}
       | ) u WHERE q_id != c_id GROUP BY q_id, c_id)
       |SELECT q_id, c_id, rnk, adc_d2 FROM (
       | SELECT q_id, c_id, adc_d2,
       |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc_d2, c_id) AS rnk
       | FROM adc) t WHERE rnk <= $K""".stripMargin

  /** Shared ss11/ss14 CTE prefix: coarse chain (kmChainSql → cents) +
    * probe prefix (pairs) + PQ chains + the probed-list ADC scores. */
  private val ivfPqAdcCtesSql: String =
    s"""WITH $qvecSql,
       |${kmChainSql(ivfRounds)},
       |cents AS (SELECT cent_id, cv, cnrm AS cn FROM c$ivfRounds),
       |$annProbePrefixSql,
       |${(0 until pqM).map(pqChainSql).mkString(",\n")},
       |${(0 until pqM).map(m =>
            s"""l$m AS (
               | SELECT q.vec_id AS q_id, c.cent_id AS code,
               |  q.nrm + c.cnrm - 2 * CAST(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.cv[i])) AS BIGINT) AS d2
               | FROM qn$m q CROSS JOIN c${m}_$pqRounds c WHERE q.vec_id % 100 = 0)""".stripMargin)
          .mkString(",\n")},
       |adc AS (
       | SELECT q_id, c_id, CAST(SUM(d2) AS BIGINT) AS adc_d2 FROM (
       |  ${(0 until pqM).map(m =>
             s"SELECT pr.q_id, pr.c_id, l.d2 FROM pairs pr JOIN e$m e ON pr.c_id = e.vec_id JOIN l$m l ON l.q_id = pr.q_id AND l.code = e.code")
            .mkString("\n  UNION ALL\n  ")}
       | ) u GROUP BY q_id, c_id)""".stripMargin

  val ss11Oracle: String =
    s"""$ivfPqAdcCtesSql
       |SELECT q_id, c_id, rnk, adc_d2 FROM (
       | SELECT q_id, c_id, adc_d2,
       |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc_d2, c_id) AS rnk
       | FROM adc) t WHERE rnk <= $K""".stripMargin

  val ss14Oracle: String =
    s"""$ivfPqAdcCtesSql,
       |screen AS (
       | SELECT q_id, c_id FROM (
       |  SELECT q_id, c_id,
       |   ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc_d2, c_id) AS srn
       |  FROM adc) t WHERE srn <= $rerankPool),
       |ex AS (
       | SELECT s.q_id, s.c_id,
       |  CAST(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) AS BIGINT)
       |    / sqrt(CAST(a.nrm AS DOUBLE) * CAST(b.nrm AS DOUBLE)) AS cos
       | FROM screen s JOIN qn a ON s.q_id = a.vec_id JOIN qn b ON s.c_id = b.vec_id)
       |SELECT q_id, c_id, rnk, cos FROM (
       | SELECT q_id, c_id, cos,
       |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rnk
       | FROM ex) t WHERE rnk <= $K""".stripMargin

  val ss15Oracle: String =
    s"""WITH ex AS (SELECT q_id, c_id FROM ($ss01Oracle) a),
       |ap AS (SELECT q_id, c_id FROM ($ss14Oracle) b)
       |SELECT COUNT(*) AS n_exact,
       | CAST(SUM(CASE WHEN ap.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       | (CAST(SUM(CASE WHEN ap.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) * 100)
       |   // COUNT(*) AS recall_pct
       |FROM ex LEFT JOIN ap USING (q_id, c_id)""".stripMargin

  // ---------------------------------------------------------------------
  // ss13: quantizer drift monitor — the "when do we retrain" signal for
  // the roll-forward index (ss07): train centroids on the STANDING
  // corpus (residue-3 increment held out, ss07's split), assign
  // everything under those frozen centroids, and report per-list how the
  // increment lands vs the standing members — per-mille occupancy of
  // old/new per list in exact integers. A list whose new-share runs far
  // above its old-share is where the increment's distribution drifted
  // from the training corpus; persistent drift = retrain. One broadcast
  // assignment pass + a |lists|-row report.
  // ---------------------------------------------------------------------
  def ss13QuantizerDrift(s: SparkSession, dir: String): DataFrame = {
    val base = qvec(s, dir).localCheckpoint()
    val cents = learnedCentroids(base.filter(col("vec_id") % 10 =!= 3), ivfRounds)
    val assigned = assignToCentroids(base, cents)
      .withColumn("is_new", (col("vec_id") % 10 === 3).cast("long"))
    val tot = assigned.agg(sum(lit(1) - col("is_new")).as("tot_old"),
      sum(col("is_new")).as("tot_new"))
    assigned.groupBy(col("cent_id"))
      .agg(sum(lit(1) - col("is_new")).as("n_old"),
        sum(col("is_new")).as("n_new"))
      .crossJoin(broadcast(tot))
      .select(col("cent_id"), col("n_old"), col("n_new"),
        expr("(n_old * 1000) div tot_old").as("old_share_pm"),
        expr("(n_new * 1000) div tot_new").as("new_share_pm"))
  }

  val ss13Oracle: String =
    s"""WITH $qvecSql,
       |qno AS (SELECT * FROM qn WHERE vec_id % 10 != 3),
       |${kmChainSql(ivfRounds).replaceAll("\\bqn\\b", "qno")},
       |cents AS (SELECT cent_id, cv, cnrm AS cn FROM c$ivfRounds),
       |cscored AS (
       | SELECT qn.vec_id, cents.cent_id,
       |  CAST(list_sum(list_transform(range(1, len(qn.v) + 1), i -> qn.v[i] * cents.cv[i])) AS BIGINT)
       |    / sqrt(CAST(qn.nrm AS DOUBLE) * CAST(cents.cn AS DOUBLE)) AS ccos
       | FROM qn CROSS JOIN cents),
       |assigned AS (
       | SELECT vec_id, cent_id, CASE WHEN vec_id % 10 = 3 THEN 1 ELSE 0 END AS is_new
       | FROM (SELECT vec_id, cent_id,
       |   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id ASC) AS rn
       |  FROM cscored) t WHERE rn = 1),
       |tot AS (SELECT CAST(SUM(1 - is_new) AS BIGINT) AS tot_old,
       |        CAST(SUM(is_new) AS BIGINT) AS tot_new FROM assigned)
       |SELECT cent_id, CAST(SUM(1 - is_new) AS BIGINT) AS n_old,
       | CAST(SUM(is_new) AS BIGINT) AS n_new,
       | (CAST(SUM(1 - is_new) AS BIGINT) * 1000) // tot_old AS old_share_pm,
       | (CAST(SUM(is_new) AS BIGINT) * 1000) // tot_new AS new_share_pm
       |FROM assigned CROSS JOIN tot
       |GROUP BY cent_id, tot_old, tot_new""".stripMargin

  // ---------------------------------------------------------------------
  // ss12: PQ recall audit — ss06's honesty metric for the quantized tier:
  // what fraction of the brute-force top-k does IVF-PQ (ss11) return?
  // Quantization loses recall two ways (coarse probe misses + ADC
  // distance distortion); this is the dial-tuning measurement (M,
  // sub-dims, nprobe) a deployment runs per corpus snapshot. Integer
  // output; oracle nests both tiers' chains.
  // ---------------------------------------------------------------------
  def ss12PqRecall(s: SparkSession, dir: String): DataFrame = {
    val exact = ss01ExactPairs(s, dir)
    val approx = ss11IvfPqAdc(s, dir)
      .select(col("q_id"), col("c_id"), lit(1L).as("hit"))
    exact.join(approx, Seq("q_id", "c_id"), "left")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .withColumn("recall_pct", expr("(n_hit * 100) div n_exact"))
  }

  val ss12Oracle: String =
    s"""WITH ex AS (SELECT q_id, c_id FROM ($ss01Oracle) a),
       |ap AS (SELECT q_id, c_id FROM ($ss11Oracle) b)
       |SELECT COUNT(*) AS n_exact,
       | CAST(SUM(CASE WHEN ap.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       | (CAST(SUM(CASE WHEN ap.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) * 100)
       |   // COUNT(*) AS recall_pct
       |FROM ex LEFT JOIN ap USING (q_id, c_id)""".stripMargin

  // ---------------------------------------------------------------------
  // ss16/ss17/ss18: SCALAR quantization (SQ8) — the third compression
  // tier beside PQ (ss09-ss12) and IVF (ss03-ss08): each dimension maps
  // independently to an 8-bit code against per-dimension [min, max]
  // learned from the corpus (FAISS SQ8). Cheaper to train than PQ (one
  // min/max aggregate, no Lloyd rounds), 8× smaller than raw, and decoded
  // by pure arithmetic — no codebook join on the serve path.
  //  - ss16: the trained encode table (vec_id, d, code), long-form like
  //    ss09. Train = ONE per-dimension min/max aggregate (64 rows,
  //    broadcast back); encode = one map-side pass.
  //  - ss17: asymmetric top-k — the query keeps its EXACT integer vector;
  //    candidates dequantize per-dimension (mn + (code·(mx−mn)) div 255,
  //    all BIGINT — Spark `div` and DuckDB `//` agree on non-negatives)
  //    and score by exact integer L2 on the reconstruction. One map-side
  //    scan over the code table (queries broadcast), final top-k window —
  //    the ss10 serving shape with arithmetic instead of LUTs.
  //  - ss18: the honesty metric — recall of ss17 against the ss01 exact
  //    top-k, same form as ss06/ss12/ss15. SQ8's per-dim independence
  //    preserves geometry better than 4-subspace PQ at this dimension
  //    count, which the recall number quantifies.
  // ---------------------------------------------------------------------
  /** Per-dimension SQ8 stats (d, mn, mx) — 64 rows. */
  private def sqStats(base: DataFrame): DataFrame =
    base.select(posexplode(col("v")).as(Seq("d", "x")))
      .groupBy(col("d")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))

  /** Long-form encode stream (vec_id, d, code, mn, mx) with stats attached
    * (broadcast) — code in [0, 255]. */
  private def sqEncoded(base: DataFrame): DataFrame =
    base.select(col("vec_id"), posexplode(col("v")).as(Seq("d", "x")))
      .join(broadcast(sqStats(base)), Seq("d"))
      .withColumn("code", when(col("mx") === col("mn"), lit(0L))
        .otherwise(expr("((x - mn) * 255) div (mx - mn)")))

  def ss16SqEncode(s: SparkSession, dir: String): DataFrame =
    sqEncoded(qvec(s, dir).localCheckpoint())
      .select(col("vec_id"), col("d").cast("long").as("d"), col("code"))

  /** Oracle CTE prefix shared by ss16/ss17/ss18: positional explode,
    * per-dim stats, codes, and the dequantized reconstruction. */
  private val sqCtesSql: String =
    s"""ex AS (
       | SELECT vec_id, u.d, u.x FROM (
       |  SELECT vec_id, unnest(list_transform(range(1, $dims + 1),
       |    i -> {'d': i - 1, 'x': v[i]})) AS u
       |  FROM qn)),
       |st AS (SELECT d, MIN(x) AS mn, MAX(x) AS mx FROM ex GROUP BY d),
       |co AS (
       | SELECT vec_id, d, CASE WHEN mx = mn THEN 0
       |   ELSE ((x - mn) * 255) // (mx - mn) END AS code, mn, mx
       | FROM ex JOIN st USING (d)),
       |rec AS (
       | SELECT vec_id, list(mn + (code * (mx - mn)) // 255 ORDER BY d) AS rv
       | FROM co GROUP BY vec_id)""".stripMargin

  val ss16Oracle: String =
    s"""WITH $qvecSql,
       |$sqCtesSql
       |SELECT vec_id, CAST(d AS BIGINT) AS d, CAST(code AS BIGINT) AS code
       |FROM co""".stripMargin

  def ss17SqTopk(s: SparkSession, dir: String): DataFrame = {
    val base = qvec(s, dir).localCheckpoint()
    // reconstructed candidate vectors, reassembled in dimension order
    val rec = sqEncoded(base)
      .withColumn("rx", col("mn") + expr("(code * (mx - mn)) div 255"))
      .groupBy(col("vec_id"))
      .agg(expr("transform(array_sort(collect_list(struct(d, rx))), s -> s.rx)").as("rv"))
    val qs = base.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("v1"), col("nrm").as("n1"))
    val scored = rec.crossJoin(broadcast(qs))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("sq_d2",
        col("n1") + expr("dot_l(rv, rv)") - expr("2 * dot_l(v1, rv)"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sq_d2"), col("vec_id"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= K)
      .select(col("q_id"), col("vec_id").as("c_id"), col("rnk"), col("sq_d2"))
  }

  val ss17Oracle: String =
    s"""WITH $qvecSql,
       |$sqCtesSql,
       |qs AS (SELECT vec_id AS q_id, v AS v1, nrm AS n1 FROM qn WHERE vec_id % 100 = 0),
       |sc AS (
       | SELECT q.q_id, r.vec_id AS c_id,
       |  CAST(q.n1
       |   + list_sum(list_transform(r.rv, x -> x * x))
       |   - 2 * list_sum(list_transform(range(1, $dims + 1), i -> q.v1[i] * r.rv[i]))
       |   AS BIGINT) AS sq_d2
       | FROM rec r CROSS JOIN qs q WHERE q.q_id != r.vec_id),
       |rk AS (
       | SELECT q_id, c_id, sq_d2,
       |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sq_d2, c_id) AS rnk
       | FROM sc)
       |SELECT q_id, c_id, CAST(rnk AS INT) AS rnk, sq_d2 FROM rk WHERE rnk <= $K""".stripMargin

  def ss18SqRecall(s: SparkSession, dir: String): DataFrame = {
    val exact = ss01ExactPairs(s, dir)
    val approx = ss17SqTopk(s, dir)
      .select(col("q_id"), col("c_id"), lit(1L).as("hit"))
    exact.join(approx, Seq("q_id", "c_id"), "left")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .withColumn("recall_pct", expr("(n_hit * 100) div n_exact"))
  }

  val ss18Oracle: String =
    s"""WITH ex AS (SELECT q_id, c_id FROM ($ss01Oracle) a),
       |ap AS (SELECT q_id, c_id FROM ($ss17Oracle) b)
       |SELECT COUNT(*) AS n_exact,
       | CAST(SUM(CASE WHEN ap.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       | (CAST(SUM(CASE WHEN ap.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) * 100)
       |   // COUNT(*) AS recall_pct
       |FROM ex LEFT JOIN ap USING (q_id, c_id)""".stripMargin

  // ---------------------------------------------------------------------
  // ss21/ss22: IVF + SQ8 — the coarse-quantizer/scalar-code COMBINATION
  // (FAISS's IndexIVFScalarQuantizer), completing the tier matrix: IVF
  // bounds WHICH candidates are scored (nprobe lists instead of the
  // corpus), SQ8 bounds WHAT is stored per candidate (64 bytes of codes
  // instead of raw vectors). Same learned-IVF probe as ss03 (identical
  // assignment/probe CTEs), but the rerank scores the SQ8 RECONSTRUCTION
  // (ss17's integer-exact asymmetric distance) rather than the exact
  // vector — the serving shape where lists hold only codes and the raw
  // corpus is never touched at query time. At 100 TB the probe join
  // shuffles on cent_id exactly like ss03, and the candidate side carries
  // 8× less data than ss03's exact rerank. ss22 is the honesty metric
  // against the ss01 exact top-k (ss06/ss12/ss18's form) — quantifying
  // what stacking both compressions costs vs either alone.
  // ---------------------------------------------------------------------
  def ss21IvfSq(s: SparkSession, dir: String): DataFrame = {
    val base = qvec(s, dir).localCheckpoint()
    // the candidate pairs are the memoized canonical probe (identical
    // derivation — train/assign/probe shapes lived here verbatim)
    val pairs = ivfCandPairsFor(s, dir)
    val rec = sqEncoded(base)
      .withColumn("rx", col("mn") + expr("(code * (mx - mn)) div 255"))
      .groupBy(col("vec_id"))
      .agg(expr("transform(array_sort(collect_list(struct(d, rx))), s -> s.rx)").as("rv"))
    val qs = base.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("v1"), col("nrm").as("n1"))
    val scored = pairs
      .join(broadcast(qs), Seq("q_id"))
      .join(rec.select(col("vec_id").as("c_id"), col("rv")), Seq("c_id"))
      .withColumn("sq_d2",
        col("n1") + expr("dot_l(rv, rv)") - expr("2 * dot_l(v1, rv)"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sq_d2"), col("c_id"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= K)
      .select(col("q_id"), col("c_id"), col("rnk"), col("sq_d2"))
  }

  val ss21Oracle: String =
    s"""WITH $qvecSql,
       |${kmChainSql(ivfRounds)},
       |cents AS (SELECT cent_id, cv, cnrm AS cn FROM c$ivfRounds),
       |$annProbePrefixSql,
       |$sqCtesSql,
       |qs AS (SELECT vec_id AS q_id, v AS v1, nrm AS n1 FROM qn WHERE vec_id % 100 = 0),
       |sc AS (
       | SELECT p.q_id, p.c_id,
       |  CAST(q.n1
       |   + list_sum(list_transform(r.rv, x -> x * x))
       |   - 2 * list_sum(list_transform(range(1, $dims + 1), i -> q.v1[i] * r.rv[i]))
       |   AS BIGINT) AS sq_d2
       | FROM pairs p JOIN qs q ON p.q_id = q.q_id JOIN rec r ON p.c_id = r.vec_id),
       |rk AS (
       | SELECT q_id, c_id, sq_d2,
       |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sq_d2, c_id) AS rnk
       | FROM sc)
       |SELECT q_id, c_id, CAST(rnk AS INT) AS rnk, sq_d2 FROM rk WHERE rnk <= $K""".stripMargin

  def ss22IvfSqRecall(s: SparkSession, dir: String): DataFrame = {
    val exact = ss01ExactPairs(s, dir)
    val approx = ss21IvfSq(s, dir)
      .select(col("q_id"), col("c_id"), lit(1L).as("hit"))
    exact.join(approx, Seq("q_id", "c_id"), "left")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .withColumn("recall_pct", expr("(n_hit * 100) div n_exact"))
  }

  val ss22Oracle: String =
    s"""WITH ex AS (SELECT q_id, c_id FROM ($ss01Oracle) a),
       |ap AS (SELECT q_id, c_id FROM ($ss21Oracle) b)
       |SELECT COUNT(*) AS n_exact,
       | CAST(SUM(CASE WHEN ap.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       | (CAST(SUM(CASE WHEN ap.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) * 100)
       |   // COUNT(*) AS recall_pct
       |FROM ex LEFT JOIN ap USING (q_id, c_id)""".stripMargin

  // ---------------------------------------------------------------------
  // ss23: exact kNN CLASSIFICATION — the eval primitive a labeled
  // embedding table exists for ("does neighborhood structure predict the
  // label?"): each held-out query (vec_id % 100 == 0) takes its K=10
  // exact-cosine nearest TRAIN vectors (the complement — queries never
  // vote) and predicts by majority, ties broken toward the smaller
  // label. The vote pick is a packed-BIGINT min ((1000−cnt)·1000+label)
  // so the argmax stays a codegen'd HashAggregate (dd13's pattern, not
  // a SortAggregate struct-min); counts ≤ K and labels < 1000 by guard.
  // Integer end-to-end after the shared exact-cosine ranking, so the
  // oracle hash-matches.
  // ---------------------------------------------------------------------
  def ss23KnnClassify(s: SparkSession, dir: String): DataFrame = {
    val base = qvec(s, dir)
    val labels = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("label"))
    val qs = base.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("v1"), col("nrm").as("n1"))
    val tr = base.filter(col("vec_id") % 100 =!= 0)
      .select(col("vec_id").as("c_id"), col("v").as("v2"), col("nrm").as("n2"))
    val scored = tr.join(broadcast(qs))
      .withColumn("dot", expr(dotExpr))
      .withColumn("cos",
        col("dot") / sqrt(col("n1").cast("double") * col("n2").cast("double")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id").asc)
    val nb = scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= K).select(col("q_id"), col("c_id"))
    val votes = nb.join(labels, nb("c_id") === labels("vec_id"))
      .groupBy(col("q_id"), col("label")).agg(count(lit(1)).as("cnt"))
      .withColumn("label",
        when(col("label") >= 0 && col("label") < 1000, col("label"))
          .otherwise(raise_error(lit("ss23: label outside packed range"))))
    val pick = votes
      .groupBy(col("q_id"))
      .agg(min((lit(1000L) - col("cnt")) * 1000L + col("label")).as("p"))
      .select(col("q_id"), (col("p") % 1000).cast("int").as("pred_label"),
        (lit(1000L) - expr("p div 1000")).as("n_votes"))
    pick.join(labels, pick("q_id") === labels("vec_id"))
      .select(col("q_id"), col("label").as("true_label"),
        col("pred_label"), col("n_votes"),
        (col("label") === col("pred_label")).as("correct"))
  }

  val ss23Oracle: String =
    s"""WITH $qvecSql,
       |scored AS (
       | SELECT a.vec_id AS q_id, b.vec_id AS c_id,
       |  CAST(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) AS BIGINT) AS dot,
       |  a.nrm AS n1, b.nrm AS n2
       | FROM qn a JOIN qn b ON a.vec_id % 100 = 0 AND b.vec_id % 100 != 0),
       |nb AS (
       | SELECT q_id, c_id FROM (
       |  SELECT q_id, c_id,
       |   ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dot / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) DESC, c_id ASC) AS rnk
       |  FROM scored) t WHERE rnk <= $K),
       |votes AS (
       | SELECT nb.q_id, e.label, CAST(COUNT(*) AS BIGINT) AS cnt
       | FROM nb JOIN embeddings e ON nb.c_id = e.vec_id GROUP BY 1, 2),
       |pick AS (SELECT q_id, MIN((1000 - cnt) * 1000 + label) AS p FROM votes GROUP BY q_id)
       |SELECT p.q_id, t.label AS true_label,
       | CAST(p.p % 1000 AS INT) AS pred_label,
       | CAST(1000 - p.p // 1000 AS BIGINT) AS n_votes,
       | (t.label = p.p % 1000) AS correct
       |FROM pick p JOIN embeddings t ON p.q_id = t.vec_id""".stripMargin

  // ---------------------------------------------------------------------
  // ss29/ss30/ss31: RANDOM-PROJECTION (Johnson–Lindenstrauss) tier — the
  // third compression beside PQ (ss09-ss12) and SQ8 (ss16-ss18): a dense
  // ±1 Rademacher projection (Achlioptas 2003) from 64 to 32 dims.
  // Where ss02's sign-LSH keeps 1 BIT per plane, rp_project keeps the
  // whole projected coordinate — JL preserves inner products to within
  // ε·‖x‖‖y‖ at k = O(log n / ε²) dims, so a brute scan over the
  // projected table is the CHEAP-EXACT-SCAN serving mode: half the data
  // per distance with no codebook to train and no bucket-miss recall
  // cliff, the right tier when k is small and training a quantizer isn't
  // worth it (16 planes was measured at 20% recall on this corpus's
  // tight cosine margins vs 36% at 32 — ss31 is exactly the audit that
  // makes that tradeoff visible). All-integer encode (codegen'd native
  // expression, zero
  // shuffle) and integer projected dot products; the projected cosine is
  // one exact-IEEE double division like ss01's, so everything
  // hash-matches the oracle's literal-matrix recompute.
  //  - ss29: the projected table in LONG FORM (vec_id, p, c) — the encode
  //    pass. Long form (one row per plane coordinate) rather than
  //    (vec_id, rp[32]) because the driver's pandas-based canonicalizer
  //    cannot hash a nested list column (round-5 incident: the ONLY
  //    driver-red row in an otherwise clean sweep was this query's
  //    list<int64> output). All registered queries emit atomic columns
  //    only — enforced by OutputShapeSpec.
  //  - ss30: brute top-k IN PROJECTED SPACE for the ss01 query set —
  //    ss01's plan shape (broadcast queries, map-side scoring, per-query
  //    rank-limit) over 4× smaller vectors.
  //  - ss31: the honesty metric — ss30's recall against the ss01 exact
  //    top-k, same form as ss06/ss12/ss18.
  // ---------------------------------------------------------------------
  private val rpPlanes = 32

  private def rpEncoded(base: DataFrame): DataFrame =
    base.select(col("vec_id"), expr(s"rp_project(v, $rpPlanes)").as("rp"))
      .withColumn("pn", expr("dot_l(rp, rp)"))

  def ss29RpEncode(s: SparkSession, dir: String): DataFrame =
    rpEncoded(qvec(s, dir))
      .select(col("vec_id"), posexplode(col("rp")).as(Seq("p", "c")))
      .select(col("vec_id"), col("p").cast("long").as("p"), col("c"))

  /** Oracle CTEs for the projected table — the same md5-parity plane
    * matrix [[RpProjectImpl]] caches, embedded as LONG-FORM (p, d, w)
    * rows and evaluated relationally (positional unnest → join on d →
    * per-(vec, plane) sum → list reassembly in plane order). The
    * nested-lambda literal-matrix form ss02 uses is fine at 8 planes but
    * quadratically degrades DuckDB at 32×64. */
  private val rpSql: String = {
    val rows = planesFor(rpPlanes).zipWithIndex.flatMap { case (ws, p) =>
      ws.zipWithIndex.map { case (w, d) => s"($p, $d, $w)" }
    }.mkString(", ")
    s"""pl(p, d, w) AS (VALUES $rows),
       |vx AS (
       | SELECT vec_id, u.d, u.x FROM (
       |  SELECT vec_id, unnest(list_transform(range(1, $dims + 1),
       |    i -> {'d': i - 1, 'x': v[i]})) AS u
       |  FROM qn)),
       |rpl AS (
       | SELECT vec_id, p, CAST(SUM(x * w) AS BIGINT) AS c
       | FROM vx JOIN pl USING (d) GROUP BY vec_id, p),
       |en AS (
       | SELECT vec_id, list(c ORDER BY p) AS rp,
       |  CAST(SUM(c * c) AS BIGINT) AS pn
       | FROM rpl GROUP BY vec_id)""".stripMargin
  }

  val ss29Oracle: String =
    s"""WITH $qvecSql,
       |$rpSql
       |SELECT vec_id, CAST(p AS BIGINT) AS p, c FROM rpl""".stripMargin

  def ss30RpTopk(s: SparkSession, dir: String): DataFrame = {
    val enc = rpEncoded(qvec(s, dir)).localCheckpoint()
    val qs = enc.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("rp").as("r1"), col("pn").as("pn1"))
    val scored = enc
      .select(col("vec_id").as("c_id"), col("rp").as("r2"), col("pn").as("pn2"))
      .join(broadcast(qs), col("q_id") =!= col("c_id"))
      .withColumn("pdot", expr("dot_l(r1, r2)"))
      .withColumn("pcos",
        col("pdot") / sqrt(col("pn1").cast("double") * col("pn2").cast("double")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("pcos").desc, col("c_id").asc)
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= K)
      .select(col("q_id"), col("c_id"), col("rnk"), col("pdot"), col("pcos"))
  }

  val ss30Oracle: String =
    s"""WITH $qvecSql,
       |$rpSql,
       |qs AS (SELECT vec_id AS q_id, rp AS r1, pn AS pn1 FROM en WHERE vec_id % 100 = 0),
       |sc AS (
       | SELECT q.q_id, e.vec_id AS c_id,
       |  CAST(list_sum(list_transform(range(1, $rpPlanes + 1),
       |    i -> q.r1[i] * e.rp[i])) AS BIGINT) AS pdot,
       |  q.pn1, e.pn AS pn2
       | FROM en e CROSS JOIN qs q WHERE q.q_id != e.vec_id)
       |SELECT q_id, c_id, rnk, pdot, pcos FROM (
       | SELECT q_id, c_id, pdot,
       |  pdot / sqrt(CAST(pn1 AS DOUBLE) * CAST(pn2 AS DOUBLE)) AS pcos,
       |  ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY pdot / sqrt(CAST(pn1 AS DOUBLE) * CAST(pn2 AS DOUBLE)) DESC, c_id ASC) AS rnk
       | FROM sc) t WHERE rnk <= $K""".stripMargin

  def ss31RpRecall(s: SparkSession, dir: String): DataFrame = {
    val exact = ss01ExactPairs(s, dir)
    val approx = ss30RpTopk(s, dir)
      .select(col("q_id"), col("c_id"), lit(1L).as("hit"))
    exact.join(approx, Seq("q_id", "c_id"), "left")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .withColumn("recall_pct", expr("(n_hit * 100) div n_exact"))
  }

  val ss31Oracle: String =
    s"""WITH ex AS (SELECT q_id, c_id FROM ($ss01Oracle) a),
       |ap AS (SELECT q_id, c_id FROM ($ss30Oracle) b)
       |SELECT COUNT(*) AS n_exact,
       | CAST(SUM(CASE WHEN ap.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       | (CAST(SUM(CASE WHEN ap.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) * 100)
       |   // COUNT(*) AS recall_pct
       |FROM ex LEFT JOIN ap USING (q_id, c_id)""".stripMargin

  // ---------------------------------------------------------------------
  // ss32/ss33: IVF + RANDOM-PROJECTION serving — the last cell of the
  // tier matrix (IVF+exact ss03, IVF+PQ ss11, IVF+SQ8 ss21, IVF+RP
  // here): the learned-centroid probe bounds WHICH candidates are
  // scored, the JL projection bounds WHAT each candidate stores (32
  // BIGINT coordinates, half the exact vector, no codebook/stats to
  // train beside the planes). The serving shape where the inverted
  // lists hold projections only and the raw corpus is never read at
  // query time; rerank is the exact-integer projected dot, ranked by
  // projected cosine. ss33 is the honesty metric against the ss01
  // exact top-k (ss06/ss12/ss18/ss22's form) — it prices the COMBINED
  // loss of the nprobe fence and the projection.
  // ---------------------------------------------------------------------
  def ss32IvfRp(s: SparkSession, dir: String): DataFrame = {
    val base = qvec(s, dir).localCheckpoint()
    // the candidate pairs are the memoized canonical probe (identical
    // derivation — train/assign/probe shapes lived here verbatim)
    val pairs = ivfCandPairsFor(s, dir)
    val enc = rpEncoded(base)
    val qenc = enc.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("rp").as("r1"), col("pn").as("pn1"))
    val scored = pairs
      .join(broadcast(qenc), Seq("q_id"))
      .join(enc.select(col("vec_id").as("c_id"), col("rp").as("r2"),
        col("pn").as("pn2")), Seq("c_id"))
      .withColumn("pdot", expr("dot_l(r1, r2)"))
      .withColumn("pcos",
        col("pdot") / sqrt(col("pn1").cast("double") * col("pn2").cast("double")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("pcos").desc, col("c_id").asc)
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= K)
      .select(col("q_id"), col("c_id"), col("rnk"), col("pdot"), col("pcos"))
  }

  val ss32Oracle: String =
    s"""WITH $qvecSql,
       |${kmChainSql(ivfRounds)},
       |cents AS (SELECT cent_id, cv, cnrm AS cn FROM c$ivfRounds),
       |$annProbePrefixSql,
       |$rpSql,
       |qe AS (SELECT vec_id AS q_id, rp AS r1, pn AS pn1 FROM en WHERE vec_id % 100 = 0),
       |sc AS (
       | SELECT p.q_id, p.c_id,
       |  CAST(list_sum(list_transform(range(1, $rpPlanes + 1),
       |    i -> q.r1[i] * e.rp[i])) AS BIGINT) AS pdot,
       |  q.pn1, e.pn AS pn2
       | FROM pairs p JOIN qe q ON p.q_id = q.q_id JOIN en e ON p.c_id = e.vec_id)
       |SELECT q_id, c_id, rnk, pdot, pcos FROM (
       | SELECT q_id, c_id, pdot,
       |  pdot / sqrt(CAST(pn1 AS DOUBLE) * CAST(pn2 AS DOUBLE)) AS pcos,
       |  ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY pdot / sqrt(CAST(pn1 AS DOUBLE) * CAST(pn2 AS DOUBLE)) DESC, c_id ASC) AS rnk
       | FROM sc) t WHERE rnk <= $K""".stripMargin

  def ss33IvfRpRecall(s: SparkSession, dir: String): DataFrame = {
    val exact = ss01ExactPairs(s, dir)
    val approx = ss32IvfRp(s, dir)
      .select(col("q_id"), col("c_id"), lit(1L).as("hit"))
    exact.join(approx, Seq("q_id", "c_id"), "left")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .withColumn("recall_pct", expr("(n_hit * 100) div n_exact"))
  }

  val ss33Oracle: String =
    s"""WITH ex AS (SELECT q_id, c_id FROM ($ss01Oracle) a),
       |ap AS (SELECT q_id, c_id FROM ($ss32Oracle) b)
       |SELECT COUNT(*) AS n_exact,
       | CAST(SUM(CASE WHEN ap.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       | (CAST(SUM(CASE WHEN ap.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) * 100)
       |   // COUNT(*) AS recall_pct
       |FROM ex LEFT JOIN ap USING (q_id, c_id)""".stripMargin

  val queries: Map[String, Q] = Map(
    "ss32_ivf_rp" -> (ss32IvfRp _),
    "ss33_ivf_rp_recall" -> (ss33IvfRpRecall _),
    "ss29_rp_encode" -> (ss29RpEncode _),
    "ss30_rp_topk" -> (ss30RpTopk _),
    "ss31_rp_recall" -> (ss31RpRecall _),
    "ss23_knn_classify" -> (ss23KnnClassify _),
    "ss24_ivf_stats" -> (ss24IvfStats _),
    "ss25_recall_curve" -> (ss25RecallCurve _),
    "ss26_range_search" -> (ss26RangeSearch _),
    "ss27_range_recall" -> (ss27RangeRecall _),
    "ss28_knn_graph" -> (ss28KnnGraph _),
    "cc15_embedding_clusters" -> (cc15EmbeddingClusters _),
    "ss21_ivf_sq" -> (ss21IvfSq _),
    "ss22_ivf_sq_recall" -> (ss22IvfSqRecall _),
    "ss16_sq_encode" -> (ss16SqEncode _),
    "ss17_sq_topk" -> (ss17SqTopk _),
    "ss18_sq_recall" -> (ss18SqRecall _),
    "ss19_filtered_topk" -> (ss19FilteredTopk _),
    "ss20_filtered_recall" -> (ss20FilteredRecall _),
    "ss01_brute_topk" -> (ss01BruteTopk _),
    "ss02_ann_lsh" -> (ss02AnnLsh _),
    "ss03_ann_ivf" -> (ss03AnnIvf _),
    "ss04_kmeans" -> (ss04Kmeans _),
    "ss05_ann_ivf_indexed" -> (ss05AnnIvfIndexed _),
    "ss06_ann_recall" -> (ss06AnnRecall _),
    "ss07_ann_index_rollforward" -> (ss07AnnIndexRollforward _),
    "ss08_ann_multiprobe" -> (ss08AnnMultiprobe _),
    "ss09_pq_encode" -> (ss09PqEncode _),
    "ss10_pq_adc" -> (ss10PqAdc _),
    "ss11_ivf_pq" -> (ss11IvfPqAdc _),
    "ss12_pq_recall" -> (ss12PqRecall _),
    "ss13_quantizer_drift" -> (ss13QuantizerDrift _),
    "ss14_ivf_pq_rerank" -> (ss14IvfPqRerank _),
    "ss15_rerank_recall" -> (ss15RerankRecall _),
    "ss34_ann_tombstoned" -> (ss34AnnTombstoned _),
    "ss57_ivf_erased" -> (ss57IvfErased _),
    "ss59_ivf_auto_erased" -> (ss59IvfAutoErased _),
    "ss35_tombstone_recall" -> (ss35TombstoneRecall _),
    "ss36_nsw_beam" -> (ss36NswBeam _),
    "ss38_knn_graph_rollforward" -> (ss38KnnGraphRollforward _),
    "ss39_hard_negatives" -> (ss39HardNegatives _),
    "ss37_nsw_recall" -> (ss37NswRecall _),
    "ss40_filtered_nsw" -> (ss40FilteredNswBeam _),
    "ss41_filtered_nsw_recall" -> (ss41FilteredNswRecall _),
    "ss42_nsw_tombstoned" -> (ss42NswTombstoned _),
    "ss43_nsw_tombstone_recall" -> (ss43NswTombstoneRecall _),
    "ss44_nsw_compacted" -> (ss44NswCompacted _),
    "ss45_per_label_nsw" -> (ss45PerLabelNsw _),
    "ss46_nsw_index_build" -> (ss46NswIndexBuild _),
    "ss47_nsw_entry_rules" -> (ss47NswEntryRules _),
    "ss48_nsw_compact_frozen" -> (ss48NswCompactFrozen _),
    "ss58_nsw_erased" -> (ss58NswErased _),
    "ss49_nsw_delta_serve" -> (ss49NswDeltaServe _),
    "ss50_nsw_maintenance" -> (ss50NswMaintenance _),
    "ss51_external_serve" -> (ss51ExternalServe _),
    "ss52_ivf_external_serve" -> (ss52IvfExternalServe _),
    "ss53_external_recall" -> (ss53ExternalRecall _),
    "ss54_external_nprobe_ladder" -> (ss54ExternalNprobeLadder _),
    "ss55_external_delta_serve" -> (ss55ExternalDeltaServe _),
    "ss56_external_beam_ladder" -> (ss56ExternalBeamLadder _))

  val oracles: Map[String, String] = Map(
    "ss34_ann_tombstoned" -> ss34Oracle,
    // physical erase ≡ tombstone screening under a frozen quantizer
    "ss57_ivf_erased" -> ss34Oracle,
    // request-time screening + dial-fired physical pass ≡ the tombstone-
    // screened serve — ss34's oracle verbatim (the ss57 equality, armed)
    "ss59_ivf_auto_erased" -> ss34Oracle,
    "ss35_tombstone_recall" -> ss35Oracle,
    "ss36_nsw_beam" -> ss36Oracle,
    "ss38_knn_graph_rollforward" -> ss38Oracle,
    "ss39_hard_negatives" -> ss39Oracle,
    "ss37_nsw_recall" -> ss37Oracle,
    "ss40_filtered_nsw" -> ss40Oracle,
    "ss41_filtered_nsw_recall" -> ss41Oracle,
    "ss42_nsw_tombstoned" -> ss42Oracle,
    "ss43_nsw_tombstone_recall" -> ss43Oracle,
    "ss44_nsw_compacted" -> ss44Oracle,
    "ss45_per_label_nsw" -> ss45Oracle,
    "ss47_nsw_entry_rules" -> ss47Oracle,
    "ss48_nsw_compact_frozen" -> ss48Oracle,
    // physical graph erasure ≡ the frozen-quantizer compaction's serve
    "ss58_nsw_erased" -> ss58Oracle,
    "ss49_nsw_delta_serve" -> ss49Oracle,
    "ss50_nsw_maintenance" -> ss50Oracle,
    "ss51_external_serve" -> ss51Oracle,
    "ss52_ivf_external_serve" -> ss52Oracle,
    "ss53_external_recall" -> ss53Oracle,
    "ss54_external_nprobe_ladder" -> ss54Oracle,
    "ss55_external_delta_serve" -> ss55Oracle,
    "ss56_external_beam_ladder" -> ss56Oracle,
    // the cold build+serve pays the WHOLE build in-query and must land on
    // exactly the warm serving path's answer — ss36's oracle, shared
    "ss46_nsw_index_build" -> ss36Oracle,
    "ss32_ivf_rp" -> ss32Oracle,
    "ss33_ivf_rp_recall" -> ss33Oracle,
    "ss29_rp_encode" -> ss29Oracle,
    "ss30_rp_topk" -> ss30Oracle,
    "ss31_rp_recall" -> ss31Oracle,
    "ss21_ivf_sq" -> ss21Oracle,
    "ss22_ivf_sq_recall" -> ss22Oracle,
    "ss23_knn_classify" -> ss23Oracle,
    "ss24_ivf_stats" -> ss24Oracle,
    "ss25_recall_curve" -> ss25Oracle,
    "ss26_range_search" -> ss26Oracle,
    "ss27_range_recall" -> ss27Oracle,
    "ss28_knn_graph" -> ss28Oracle,
    "cc15_embedding_clusters" -> cc15Oracle,
    "ss16_sq_encode" -> ss16Oracle,
    "ss17_sq_topk" -> ss17Oracle,
    "ss18_sq_recall" -> ss18Oracle,
    "ss19_filtered_topk" -> ss19Oracle,
    "ss20_filtered_recall" -> ss20Oracle,
    "ss01_brute_topk" -> ss01Oracle,
    "ss02_ann_lsh" -> ss02Oracle,
    "ss03_ann_ivf" -> ss03Oracle,
    "ss04_kmeans" -> ss04Oracle,
    // identical semantics to ss03 — the index is a physical artifact only
    "ss05_ann_ivf_indexed" -> ss03Oracle,
    "ss06_ann_recall" -> ss06Oracle,
    "ss07_ann_index_rollforward" -> ss07Oracle,
    "ss08_ann_multiprobe" -> ss08Oracle,
    "ss09_pq_encode" -> ss09Oracle,
    "ss10_pq_adc" -> ss10Oracle,
    "ss11_ivf_pq" -> ss11Oracle,
    "ss12_pq_recall" -> ss12Oracle,
    "ss13_quantizer_drift" -> ss13Oracle,
    "ss14_ivf_pq_rerank" -> ss14Oracle,
    "ss15_rerank_recall" -> ss15Oracle)
}
