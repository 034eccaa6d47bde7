package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Deduplication operators over `documents` / `embeddings` — the
  * training-data-pipeline surface: exact hash dedup, MinHash+LSH,
  * SimHash, n-gram Jaccard verification, and embedding-cosine near-dup.
  *
  * Scale design (the part that matters at 100 TB):
  *  - Exact dedup is a single hash-shuffle on md5(text) with map-side
  *    partial aggregation.
  *  - MinHash signatures are computed per-row with higher-order functions
  *    (no shuffle at all); LSH banding turns the quadratic all-pairs
  *    problem into an equi-join on (band, bucket) — the only shuffle is on
  *    the band key, and candidate verification (dd05) touches only the
  *    candidate pairs, never n².
  *  - SimHash is one explode + two keyed aggregations; pairing is again
  *    band-bucketed, never all-pairs.
  *  - Embedding near-dup keeps the exact quadratic form only as the
  *    correctness baseline; the LSH path for scale is
  *    [[Similarity.ss02AnnLsh]].
  *
  * Portability convention: base hash = first 8 hex digits of md5 parsed as
  * a 32-bit integer (identical in Spark and DuckDB); MinHash permutations =
  * linear congruences over Z_(2^31-1) from shared constant tables
  * ([[graft.functions.MinHashImpl]]), so signatures are BIGINTs computed
  * with ONE digest per shingle; vector math is quantized to integers so the
  * oracle matches exactly (floor(x*1000), dot/norm comparisons done in
  * integer arithmetic: cos ≥ t  ⟺  dot > 0 ∧ dot²·denom ≥ t²·denom·‖a‖²‖b‖²).
  */
object Dedup {
  import Relational.Q

  /** (doc_id, shingles) with the tokenization materialized in its own
    * projection so it is evaluated once per row. The trigram build is the
    * codegen'd `shingle_arr` (r15, guide §4) — previously an interpreted
    * `transform(sequence(...), i -> concat(element_at(tk, i), ...))` HOF
    * whose lambda ran in the Catalyst interpreter for every shingle of
    * every corpus pass; values identical (ShingleWinnowSpec pins the
    * equivalence, and every consumer — the null filter, array_distinct,
    * minhash's null-skip — is blind to the remaining [null]-vs-empty
    * difference on sub-trigram docs, which no corpus contains). The input
    * is rebalanced ([[Tables.balanced]]) because shingling+hashing is
    * CPU-bound: a single-row-group file must not serialize the whole stage
    * onto one core (no-op when the scan already has enough splits). */
  def shingled(docs: DataFrame): DataFrame = {
    graft.functions.VectorFunctions.register(docs.sparkSession)
    Tables.balanced(docs.select(col("doc_id"), split(col("text"), " ").as("tk")))
      .select(col("doc_id"), expr("shingle_arr(tk)").as("shingles"))
  }

  private[operators] val shinglesSql: String =
    """list_transform(range(1, greatest(len(tk) - 1, 2)),
      |  i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])""".stripMargin

  private[operators] def tkSqlFrom(src: String): String =
    s"SELECT doc_id, string_split(text, ' ') AS tk FROM $src"

  private val tkSql: String = tkSqlFrom("documents")

  private[operators] val numHashes = 8 // 4 bands × 2 rows

  // ---------------------------------------------------------------------
  // dd01: exact dedup — hash-groupBy, keep min doc_id per content hash
  // (the deterministic form of the reference's first-writer-wins
  // INSERT OR IGNORE, /root/reference/src/database.rs:99-110 / SURVEY A13).
  // ---------------------------------------------------------------------
  def dd01ExactDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    docs.groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
  }

  val dd01Oracle: String =
    """SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      |FROM documents GROUP BY md5(text)""".stripMargin

  // ---------------------------------------------------------------------
  // dd02: MinHash signatures — k=8 permutations derived from ONE md5 per
  // shingle: h = first 8 hex digits of md5(s) as a 32-bit value, permuted
  // through (A(p)·h + B(p)) mod (2^31-1). One native per-row pass
  // (graft.functions.MinHashSigs): zero shuffles, one digest per shingle,
  // BIGINT signature values. The DuckDB oracle evaluates the identical
  // arithmetic from the same constant tables.
  // ---------------------------------------------------------------------
  /** Per-doc DISTINCT shingle sets (nulls dropped — Spark keeps a null in
    * array_distinct where DuckDB's list_distinct drops it, so both engines
    * filter explicitly). One tokenize+shingle pass over the corpus; the
    * staged form of "write the signature table once". */
  def shingleSets(docs: DataFrame): DataFrame =
    shingled(docs).select(col("doc_id"),
      array_distinct(expr("filter(shingles, x -> x IS NOT NULL)")).as("sh"))

  /** MinHash signature columns m0..m7 derived from a staged shingle-set
    * table — identical minima to computing over the raw shingle list
    * (duplicates and nulls never win a min). */
  def minhashSigsFromSets(sharr: DataFrame): DataFrame = {
    graft.functions.VectorFunctions.register(sharr.sparkSession)
    val sig = sharr.withColumn("mh", expr(s"minhash_sigs(sh, $numHashes)"))
    (0 until numHashes).foldLeft(sig) { (df, i) =>
      df.withColumn(s"m$i", col("mh").getItem(i))
    }.drop("mh")
  }

  def minhashSignatures(docs: DataFrame): DataFrame = {
    graft.functions.VectorFunctions.register(docs.sparkSession)
    val sig = shingled(docs)
      .withColumn("mh", expr(s"minhash_sigs(shingles, $numHashes)"))
    (0 until numHashes).foldLeft(sig) { (df, i) =>
      df.withColumn(s"m$i", col("mh").getItem(i))
    }.drop("shingles", "mh")
  }

  def dd02MinhashSig(s: SparkSession, dir: String): DataFrame =
    minhashSignatures(Tables(s, dir, "documents"))

  private[operators] def sigSqlFrom(src: String, name: String = "sig"): String = {
    import graft.functions.MinHashImpl.{A, B, Mod}
    val cols = (0 until numHashes).map(i =>
      s"list_min(list_transform(sh, s -> (${A(i)} * ('0x' || substr(md5(s), 1, 8))::BIGINT + ${B(i)}) % $Mod)) AS m$i")
      .mkString(",\n  ")
    s"""$name AS (SELECT doc_id,
       |  $cols
       | FROM (SELECT doc_id, $shinglesSql AS sh FROM (${tkSqlFrom(src)}) tks) shs)""".stripMargin
  }

  private val sigSql: String = sigSqlFrom("documents")

  val dd02Oracle: String =
    s"""WITH $sigSql
       |SELECT doc_id, m0, m1, m2, m3, m4, m5, m6, m7 FROM sig""".stripMargin

  // ---------------------------------------------------------------------
  // dd03: LSH candidate pairs — band the signature (4 bands × 2 rows),
  // bucket-join directly on the two BIGINT band values (band, k1, k2): no
  // hashing of the band at all, and the shuffle rows carry 8-byte keys
  // instead of hex strings. Catalyst plans a shuffled hash join keyed on
  // (band, k1, k2), so cost is Σ bucket² not n².
  // ---------------------------------------------------------------------
  def lshBands(sig: DataFrame): DataFrame = {
    val bandCols = (0 until numHashes / 2).map { b =>
      struct(lit(b).as("band"),
        col(s"m${2 * b}").as("k1"), col(s"m${2 * b + 1}").as("k2"))
    }
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("b"))
      .select(col("doc_id"), col("b.band").as("band"),
        col("b.k1").as("k1"), col("b.k2").as("k2"))
  }

  /** Candidate pairs from a STAGED shingle-set table: the band self-join's
    * two subtrees re-derive signatures from the checkpointed sets (a cheap
    * narrow pass now that MinHash is one digest per shingle) instead of
    * re-running tokenize+shingle — the interpreted HOF work — per side. */
  def candidatePairsFromSets(sharr: DataFrame): DataFrame = {
    val bands = lshBands(minhashSigsFromSets(sharr).drop("sh"))
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.k1") === col("b.k1") &&
          col("a.k2") === col("b.k2") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
      .distinct()
  }

  def candidatePairs(docs: DataFrame): DataFrame =
    candidatePairsFromSets(shingleSets(docs).localCheckpoint())

  def dd03LshPairs(s: SparkSession, dir: String): DataFrame =
    candidatePairs(Tables(s, dir, "documents"))

  private def bandsSqlFrom(src: String): String =
    s"""${sigSqlFrom(src)},
       |bands AS (
       | SELECT doc_id, 0 AS band, m0 AS k1, m1 AS k2 FROM sig
       | UNION ALL SELECT doc_id, 1, m2, m3 FROM sig
       | UNION ALL SELECT doc_id, 2, m4, m5 FROM sig
       | UNION ALL SELECT doc_id, 3, m6, m7 FROM sig),
       |cand AS (
       | SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
       | FROM bands a JOIN bands b ON a.band = b.band AND a.k1 = b.k1 AND a.k2 = b.k2 AND a.doc_id < b.doc_id)""".stripMargin

  private val bandsSql: String = bandsSqlFrom("documents")

  val dd03Oracle: String =
    s"""WITH $bandsSql
       |SELECT doc1, doc2 FROM cand""".stripMargin

  // ---------------------------------------------------------------------
  // dd04: SimHash — 32-bit signature over distinct word tokens. Bit source
  // = first 8 hex digits of md5(token); per (doc, bitpos) the ±1 votes are
  // summed and the sign becomes the bit. Computed entirely per-row with
  // nested higher-order functions: zero shuffles, zero exploded rows —
  // the shape that survives a 100 TB corpus (the alternative explode-by-32
  // plus two keyed aggregations shuffles 32× the token count).
  // ---------------------------------------------------------------------
  def dd04Simhash(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.balanced(Tables(s, dir, "documents"))
    docs.select(col("doc_id"),
        expr("transform(array_distinct(filter(split(text, ' '), x -> x != '')), t -> md5(t))").as("hs"))
      .select(col("doc_id"),
        expr("""aggregate(sequence(0, 31), CAST(0 AS BIGINT), (acc, p) ->
          acc + if(aggregate(hs, CAST(0 AS BIGINT), (a, h) ->
                     a + if(shiftright(instr('0123456789abcdef',
                              substring(h, CAST(p div 4 AS INT) + 1, 1)) - 1,
                            p % 4) % 2 = 1,
                            CAST(1 AS BIGINT), CAST(-1 AS BIGINT))) > 0,
                   shiftleft(CAST(1 AS BIGINT), p), CAST(0 AS BIGINT)))""")
          .as("simhash"))
  }

  val dd04Oracle: String =
    """WITH toks AS (
      | SELECT doc_id, unnest(list_distinct(list_filter(string_split(text, ' '), x -> x != ''))) AS tok
      | FROM documents),
      |bits AS (
      | SELECT doc_id, md5(tok) AS h, p.p
      | FROM toks CROSS JOIN (SELECT unnest(range(0, 32)) AS p) p),
      |votes AS (
      | SELECT doc_id, p,
      |  CASE WHEN ((strpos('0123456789abcdef', substr(h, CAST(p // 4 AS INTEGER) + 1, 1)) - 1)
      |             // CAST(2 ** (p % 4) AS INTEGER)) % 2 = 1 THEN 1 ELSE -1 END AS vote
      | FROM bits),
      |sums AS (SELECT doc_id, p, SUM(vote) AS s FROM votes GROUP BY doc_id, p)
      |SELECT doc_id,
      | CAST(SUM(CASE WHEN s > 0 THEN CAST(2 AS BIGINT) ** CAST(p AS INTEGER) ELSE 0 END) AS BIGINT) AS simhash
      |FROM sums GROUP BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // dd05: n-gram Jaccard verification of the LSH candidates — exact
  // set-intersection counts on candidate pairs only (never all-pairs).
  // Output is pure integers (|A∩B|, |A∪B|) so the oracle is exact;
  // is_dup applies the Jaccard ≥ 0.7 test in integer space (10·∩ ≥ 7·∪).
  // ---------------------------------------------------------------------
  /** LSH candidates verified by exact n-gram Jaccard over an arbitrary
    * (doc_id, text) input — reused by dd05 and the dd07/tp01 pipelines.
    *
    * The shingle-set table is staged ONCE (one tokenize+shingle pass — the
    * interpreted HOF work) and feeds both the LSH candidate generation and
    * the verification joins; the intersection is a per-pair
    * `array_intersect` on the two sets (codegen'd hash-set probe) instead
    * of an exploded shingle-row join — candidates only ever carry two
    * set arrays, and nothing re-tokenizes. At cluster scale the exploded
    * join would shuffle |corpus|·|shingles| rows; this shuffles
    * |candidates| rows of two ~KB arrays. */
  def jaccardVerified(docs: DataFrame): DataFrame = {
    val sharr = shingleSets(docs).localCheckpoint()
    val cand = candidatePairsFromSets(sharr)
    cand
      .join(sharr.as("s1"), col("doc1") === col("s1.doc_id"))
      .join(sharr.as("s2"), col("doc2") === col("s2.doc_id"))
      .withColumn("n_inter",
        size(array_intersect(col("s1.sh"), col("s2.sh"))).cast("long"))
      .withColumn("n_union",
        (size(col("s1.sh")) + size(col("s2.sh"))).cast("long") - col("n_inter"))
      .select(col("doc1"), col("doc2"), col("n_inter"), col("n_union"),
        (col("n_inter") * 10 >= col("n_union") * 7).as("is_dup"))
  }

  def dd05JaccardVerify(s: SparkSession, dir: String): DataFrame =
    jaccardVerified(Tables(s, dir, "documents"))

  private def verifyCtesFrom(src: String): String =
    s"""${bandsSqlFrom(src)},
       |sets AS (
       | SELECT doc_id, list_distinct(list_filter($shinglesSql, x -> x IS NOT NULL)) AS sh
       | FROM (${tkSqlFrom(src)}) tks)""".stripMargin

  private val verifySelect: String =
    """SELECT c.doc1, c.doc2,
      | CAST(len(list_intersect(s1.sh, s2.sh)) AS BIGINT) AS n_inter,
      | CAST(len(s1.sh) + len(s2.sh) - len(list_intersect(s1.sh, s2.sh)) AS BIGINT) AS n_union,
      | (len(list_intersect(s1.sh, s2.sh)) * 10 >= (len(s1.sh) + len(s2.sh) - len(list_intersect(s1.sh, s2.sh))) * 7) AS is_dup
      |FROM cand c JOIN sets s1 ON c.doc1 = s1.doc_id JOIN sets s2 ON c.doc2 = s2.doc_id""".stripMargin

  val dd05Oracle: String =
    s"""WITH ${verifyCtesFrom("documents")}
       |$verifySelect""".stripMargin

  // ---------------------------------------------------------------------
  // dd15: signature-ESTIMATED Jaccard for the LSH candidates — the O(k)
  // screen that runs before dd05's exact O(|sets|) verify at scale: the
  // fraction of agreeing MinHash components is an unbiased estimate of
  // the Jaccard similarity, costs 8 integer compares per pair (the
  // signatures already exist from banding — no shingle sets shipped),
  // and filters the candidate stream so only plausible pairs pay the
  // exact set intersection. Pure integers (n_agree of 8, percent via
  // div), so the oracle hash-matches.
  // ---------------------------------------------------------------------
  def dd15SigEstimate(s: SparkSession, dir: String): DataFrame = {
    val sharr = shingleSets(Tables(s, dir, "documents")).localCheckpoint()
    val sig = minhashSigsFromSets(sharr).drop("sh")
    val cand = candidatePairsFromSets(sharr)
    val agree = (0 until numHashes)
      .map(i => when(col(s"s1.m$i") === col(s"s2.m$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    cand
      .join(sig.as("s1"), col("doc1") === col("s1.doc_id"))
      .join(sig.as("s2"), col("doc2") === col("s2.doc_id"))
      .select(col("doc1"), col("doc2"), agree.as("n_agree"))
      .withColumn("est_pct", expr(s"(n_agree * 100) div $numHashes"))
  }

  val dd15Oracle: String = {
    val agree = (0 until numHashes)
      .map(i => s"CASE WHEN s1.m$i = s2.m$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH ${bandsSqlFrom("documents")}
       |SELECT c.doc1, c.doc2,
       | CAST($agree AS BIGINT) AS n_agree,
       | CAST((($agree) * 100) // $numHashes AS BIGINT) AS est_pct
       |FROM cand c JOIN sig s1 ON c.doc1 = s1.doc_id
       | JOIN sig s2 ON c.doc2 = s2.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // dd16: the LSH S-curve audit — for every verified candidate pair,
  // the THEORETICAL probability banding finds a pair of its Jaccard:
  // p = 1 - (1 - j^r)^b with r=2 rows, b=4 bands. Reading p against
  // is_dup is how the band/row dial is tuned ("pairs at our 0.7
  // threshold are found with p≈0.88 — acceptable false-negative
  // budget?"). The expression tree is identical on both engines and
  // uses only correctly-rounded IEEE ops (div, mul, sub) — no pow —
  // so the doubles hash-match bit-for-bit.
  // ---------------------------------------------------------------------
  def dd16LshCurve(s: SparkSession, dir: String): DataFrame = {
    val v = jaccardVerified(Tables(s, dir, "documents"))
    val j = col("n_inter").cast("double") / col("n_union").cast("double")
    val q = lit(1.0) - j * j
    v.select(col("doc1"), col("doc2"), col("n_inter"), col("n_union"),
      col("is_dup"),
      round(j, 6).as("jaccard"),
      round(lit(1.0) - q * q * q * q, 6).as("p_found"))
  }

  val dd16Oracle: String =
    s"""WITH ${verifyCtesFrom("documents")},
       |verified AS ($verifySelect)
       |SELECT doc1, doc2, n_inter, n_union, is_dup,
       | round(CAST(n_inter AS DOUBLE) / CAST(n_union AS DOUBLE), 6) AS jaccard,
       | round(1.0 - (1.0 - (CAST(n_inter AS DOUBLE) / CAST(n_union AS DOUBLE)) * (CAST(n_inter AS DOUBLE) / CAST(n_union AS DOUBLE)))
       |   * (1.0 - (CAST(n_inter AS DOUBLE) / CAST(n_union AS DOUBLE)) * (CAST(n_inter AS DOUBLE) / CAST(n_union AS DOUBLE)))
       |   * (1.0 - (CAST(n_inter AS DOUBLE) / CAST(n_union AS DOUBLE)) * (CAST(n_inter AS DOUBLE) / CAST(n_union AS DOUBLE)))
       |   * (1.0 - (CAST(n_inter AS DOUBLE) / CAST(n_union AS DOUBLE)) * (CAST(n_inter AS DOUBLE) / CAST(n_union AS DOUBLE))), 6) AS p_found
       |FROM verified""".stripMargin

  // ---------------------------------------------------------------------
  // dd17: SORTED-NEIGHBORHOOD blocking (Hernández & Stolfo, SIGMOD'95) —
  // the OTHER classic candidate-generation family beside LSH banding:
  // sort the corpus by a blocking key (here the 32-char prefix of the
  // canonicalized text), slide a fixed window of w=8 over the sorted
  // order, and emit every in-window pair as a candidate, then verify
  // with the same exact n-gram Jaccard as dd05. Near-identical texts
  // sort adjacent, so SNM finds prefix-preserving near-dups in O(n·w)
  // candidates where LSH's recall depends on its band dial — running
  // both and unioning candidates is the standard belt-and-braces setup.
  //
  // Scale shape: the "sort" is NEVER a single-partition window — the
  // global rank is the two-phase scheme (ds03's): prefix BUCKETS of the
  // key are order-convex, so per-bucket counts + an exclusive prefix
  // over the tiny bucket table + a within-bucket row_number compose the
  // exact global rank with every heavy stage partitioned. Window pairing
  // is an equi-join on rank+d (d ∈ 1..w-1), and verification touches
  // candidates only.
  // ---------------------------------------------------------------------
  private val snmKeyLen = 32
  private val snmWindow = 8 // each doc pairs with the next w-1 in sort order

  /** The two-phase global rank over (key, doc_id) (pre-checkpoint; plan
    * pinned by PlanShapeSpec): the bucket table is ~|alphabet|² rows, so
    * ITS prefix window is trivially small; the corpus-side window is
    * partitioned by bucket. */
  private[operators] def snmRanked(docs: DataFrame): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
    val keyed = docs.select(col("doc_id"), substring(norm, 1, snmKeyLen).as("key"))
      .withColumn("bkt", substring(col("key"), 1, 2))
    val pre = keyed.groupBy(col("bkt")).agg(count(lit(1)).as("bn"))
      .withColumn("bpre", coalesce(sum(col("bn")).over(
        Window.orderBy(col("bkt")).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("bkt"), col("bpre"))
    val wIn = Window.partitionBy(col("bkt")).orderBy(col("key"), col("doc_id"))
    keyed.join(broadcast(pre), Seq("bkt"))
      .withColumn("rn", col("bpre") + row_number().over(wIn))
      .select(col("doc_id"), col("rn"))
  }

  def dd17SortedNeighborhood(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val ranked = snmRanked(docs).localCheckpoint()
    val lhs = ranked.select(col("doc_id").as("doc1"), col("rn"))
      .withColumn("d", explode(expr(s"sequence(1, ${snmWindow - 1})")))
      .select(col("doc1"), (col("rn") + col("d")).as("rn2"),
        col("d").cast("long").as("win_d"))
    val cand = lhs.join(
        ranked.select(col("doc_id").as("doc2"), col("rn").as("rnb")),
        col("rn2") === col("rnb"))
      .select(col("doc1"), col("doc2"), col("win_d"))
    val sharr = shingleSets(docs).localCheckpoint()
    cand
      .join(sharr.as("s1"), col("doc1") === col("s1.doc_id"))
      .join(sharr.as("s2"), col("doc2") === col("s2.doc_id"))
      .withColumn("n_inter",
        size(array_intersect(col("s1.sh"), col("s2.sh"))).cast("long"))
      .withColumn("n_union",
        (size(col("s1.sh")) + size(col("s2.sh"))).cast("long") - col("n_inter"))
      .select(col("doc1"), col("doc2"), col("win_d"), col("n_inter"),
        col("n_union"),
        (col("n_inter") * 10 >= col("n_union") * 7).as("is_dup"))
  }

  val dd17Oracle: String =
    s"""WITH n AS (
       | SELECT doc_id,
       |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS key0
       | FROM documents),
       |r AS (
       | SELECT doc_id, ROW_NUMBER() OVER (ORDER BY substr(key0, 1, $snmKeyLen), doc_id) AS rn
       | FROM n),
       |cand AS (
       | SELECT a.doc_id AS doc1, b.doc_id AS doc2, CAST(b.rn - a.rn AS BIGINT) AS win_d
       | FROM r a JOIN r b ON b.rn > a.rn AND b.rn <= a.rn + ${snmWindow - 1}),
       |sets AS (
       | SELECT doc_id, list_distinct(list_filter($shinglesSql, x -> x IS NOT NULL)) AS sh
       | FROM (${tkSqlFrom("documents")}) tks)
       |SELECT c.doc1, c.doc2, c.win_d,
       | CAST(len(list_intersect(s1.sh, s2.sh)) AS BIGINT) AS n_inter,
       | CAST(len(s1.sh) + len(s2.sh) - len(list_intersect(s1.sh, s2.sh)) AS BIGINT) AS n_union,
       | (len(list_intersect(s1.sh, s2.sh)) * 10 >= (len(s1.sh) + len(s2.sh) - len(list_intersect(s1.sh, s2.sh))) * 7) AS is_dup
       |FROM cand c JOIN sets s1 ON c.doc1 = s1.doc_id JOIN sets s2 ON c.doc2 = s2.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // dd18: PREFIX-FILTERING set-similarity join (Chaudhuri/Ganti/Kaushik
  // ICDE'06; Xiao et al. PPJoin, WWW'08) — the third candidate-generation
  // family beside LSH banding (dd03) and sorted neighborhood (dd17), and
  // the only one of the three with a LOSSLESS guarantee: order every
  // doc's shingle set by global rarity (document frequency asc, shingle
  // asc) and keep only the first n − ceil(t·n) + 1 entries; two sets
  // with Jaccard ≥ t MUST share at least one prefix entry, so the
  // prefix-token equi-join generates a candidate superset with ZERO
  // false negatives at threshold t — recall 1.0 by theorem, not by
  // band-dial tuning. Verification is dd05's exact integer Jaccard.
  //
  // Scale shape: document frequencies are one hash aggregate over the
  // exploded shingle stream; the rarity sort happens PER DOC (array_sort
  // of (df, shingle) structs — bounded by doc length, no corpus window);
  // the candidate join keys on the RAREST shingles, which is exactly
  // what bounds its fan-out (a shingle shared by k docs contributes
  // C(k,2) pairs only if it survives into prefixes, and frequent
  // shingles never do). ceil is integer arithmetic ((n·7+9) div 10) so
  // both engines agree bit-for-bit.
  // ---------------------------------------------------------------------
  def dd18PrefixFilter(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val sharr = shingleSets(docs).localCheckpoint()
    val tok = sharr.select(col("doc_id"), explode(col("sh")).as("tok"))
    val dfreq = tok.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val pref = tok.join(dfreq, Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("df"), col("tok")))).as("ord"))
      .withColumn("n", size(col("ord")))
      .withColumn("p", expr("n - ((n * 7 + 9) div 10) + 1"))
      .select(col("doc_id"),
        explode(expr("transform(slice(ord, 1, p), x -> x.tok)")).as("tok"))
    val cand = pref.as("a").join(pref.as("b"),
        col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
      .distinct()
    cand
      .join(sharr.as("s1"), col("doc1") === col("s1.doc_id"))
      .join(sharr.as("s2"), col("doc2") === col("s2.doc_id"))
      .withColumn("n_inter",
        size(array_intersect(col("s1.sh"), col("s2.sh"))).cast("long"))
      .withColumn("n_union",
        (size(col("s1.sh")) + size(col("s2.sh"))).cast("long") - col("n_inter"))
      .select(col("doc1"), col("doc2"), col("n_inter"), col("n_union"),
        (col("n_inter") * 10 >= col("n_union") * 7).as("is_dup"))
  }

  val dd18Oracle: String =
    s"""WITH sets AS (
       | SELECT doc_id, list_distinct(list_filter($shinglesSql, x -> x IS NOT NULL)) AS sh
       | FROM (${tkSqlFrom("documents")}) tks),
       |tok AS (SELECT doc_id, unnest(sh) AS tok FROM sets),
       |dfreq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tok GROUP BY tok),
       |r AS (
       | SELECT t.doc_id, t.tok,
       |  ROW_NUMBER() OVER (PARTITION BY t.doc_id ORDER BY d.df, t.tok) AS rn,
       |  COUNT(*) OVER (PARTITION BY t.doc_id) AS n
       | FROM tok t JOIN dfreq d USING (tok)),
       |pref AS (SELECT doc_id, tok FROM r WHERE rn <= n - ((n * 7 + 9) // 10) + 1),
       |cand AS (
       | SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
       | FROM pref a JOIN pref b ON a.tok = b.tok AND a.doc_id < b.doc_id)
       |SELECT c.doc1, c.doc2,
       | CAST(len(list_intersect(s1.sh, s2.sh)) AS BIGINT) AS n_inter,
       | CAST(len(s1.sh) + len(s2.sh) - len(list_intersect(s1.sh, s2.sh)) AS BIGINT) AS n_union,
       | (len(list_intersect(s1.sh, s2.sh)) * 10 >= (len(s1.sh) + len(s2.sh) - len(list_intersect(s1.sh, s2.sh))) * 7) AS is_dup
       |FROM cand c JOIN sets s1 ON c.doc1 = s1.doc_id JOIN sets s2 ON c.doc2 = s2.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // dd19: CONTENT-DEFINED CHUNKING dedup profile (Muthitacharoen et al.
  // LBFS, SOSP'01 — the rolling-hash chunking behind storage dedup and
  // rsync) — the fourth candidate-generation family: chunk boundaries are
  // placed where the rolling trigram hash ≡ 0 (mod 16), so they stick to
  // CONTENT, not positions. Against fixed n-grams (dd10) this is what
  // survives edits: inserting one sentence shifts every downstream
  // fixed-gram but moves only the ONE chunk containing the edit — shared
  // chunk counts between page revisions stay high where gram overlap
  // collapses. Per doc: how many of its chunks (expected ~16 tokens,
  // variable length) also occur in ≥1 other document.
  //
  // Scale shape: chunking is entirely per-row (ngram_hashes + HOFs over
  // the projected token array — no UDF, no shuffle), then dd10's
  // two-exchange plan over md5 chunk ids: per-doc-distinct map-side,
  // count per chunk, join ownership back, per-doc rollup. Only 32-char
  // chunk ids cross the wire, never chunk text.
  // ---------------------------------------------------------------------
  private val cdcModulus = 16

  /** (doc_id, ch): per-doc-DISTINCT md5 ids of content-defined chunks —
    * boundaries where the rolling trigram hash ≡ 0 (mod [[cdcModulus]]).
    * Entirely per-row (HOFs over the projected token array); shared by
    * dd19 and the chunk-granular decontamination (dc04). */
  private[operators] def cdcChunks(docs: DataFrame): DataFrame = {
    val base = docs
      .select(col("doc_id"), expr("filter(split(text, ' '), x -> x != '')").as("toks"))
      .filter(size(col("toks")) > 0)
    Tables.balanced(base)
      .select(col("doc_id"), col("toks"),
        expr(s"""filter(
                   transform(ngram_hashes(toks, 3),
                     (g, i) -> if(g % $cdcModulus = 0, i + 1, cast(null as int))),
                   x -> x is not null)""").as("cuts"))
      .select(col("doc_id"),
        explode(array_distinct(expr(
          """zip_with(
               concat(array(1), transform(cuts, c -> c + 1)),
               concat(cuts, array(size(toks))),
               (s, e) -> md5(concat_ws(' ', slice(toks, s, e - s + 1))))"""
        ))).as("ch"))
  }

  /** The dd19/dc04 chunk CTE prefix: `chk(doc_id, ch)` over `documents`,
    * the DuckDB twin of [[cdcChunks]]. */
  private[operators] val cdcChunkCtesSql: String =
    s"""cdcn AS (
       | SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks
       | FROM documents),
       |cdcc AS (
       | SELECT doc_id, toks,
       |  list_filter(range(1, greatest(len(toks) - 2, 0) + 1),
       |    i -> ('0x' || substr(md5(array_to_string(toks[i:i+2], ' ')), 1, 15))::BIGINT
       |         % $cdcModulus = 0) AS cuts
       | FROM cdcn WHERE len(toks) > 0),
       |chk AS (
       | SELECT DISTINCT doc_id, md5(array_to_string(toks[s:e], ' ')) AS ch
       | FROM (
       |  SELECT doc_id, toks,
       |   unnest(list_concat([1], list_transform(cuts, x -> x + 1))) AS s,
       |   unnest(list_concat(cuts, [len(toks)])) AS e
       |  FROM cdcc) u)""".stripMargin

  def dd19CdcChunks(s: SparkSession, dir: String): DataFrame = {
    val chunks = cdcChunks(Tables(s, dir, "documents"))
    val shared = chunks.groupBy(col("ch")).agg(count(lit(1)).as("nd"))
    chunks.join(shared, Seq("ch"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_shared_chunks"))
  }

  val dd19Oracle: String =
    s"""WITH $cdcChunkCtesSql,
       |sh AS (SELECT ch, COUNT(*) AS nd FROM chk GROUP BY ch)
       |SELECT chk.doc_id, COUNT(*) AS n_chunks,
       | CAST(SUM(CASE WHEN sh.nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_chunks
       |FROM chk JOIN sh USING (ch)
       |GROUP BY chk.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // dd20: SEMANTIC dedup (SemDeDup, Abbas et al. 2023) — the third dedup
  // tier beside exact (dd01) and lexical-fuzzy (dd03/dd05): embeddings
  // are k-means-clustered (Similarity's Lloyd machinery, 2 rounds from
  // the deterministic seed), then cosine near-dup pairs are searched
  // ONLY within clusters, and every vector with a smaller-id similar
  // neighbor in its cluster is dropped (dd01's first-wins greedy). The
  // cluster fence is the entire scale story: all-pairs cosine is
  // corpus² (dd06's fenced baseline), but pairwise work confined to
  // clusters is Σ(n/k)² — at 100 TB you grow k with the corpus so
  // cluster sizes stay bounded (~thousands) and the quadratic term is a
  // constant per cluster; cross-cluster duplicates are the accepted
  // recall loss, the exact analog of ss03's nprobe tradeoff (and
  // auditable the same way ss06 audits IVF recall). Same integer
  // vector math as dd06 (cos ≥ 0.4 ⇔ dot > 0 ∧ 25·dot² ≥ 4·n1·n2), so
  // the oracle — the identical Lloyd chain + within-cluster pair scan
  // in SQL — hash-matches exactly.
  // ---------------------------------------------------------------------
  private val sdRounds = 2

  /** Cluster `base` (qvec-shaped: vec_id, v, nrm) with `sdRounds` Lloyd
    * rounds and return (assigned, drops): the per-vector cluster ids and
    * the DISTINCT vec_ids that have a smaller-id cosine-0.4 neighbor in
    * their own cluster. Shared by dd20 and the tp09 funnel's third tier. */
  private def semClusterDrops(base: DataFrame,
      centsPre: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    // dd20 trains on the FULL corpus with sdRounds == ivfRounds — exactly
    // the per-JVM coarse quantizer memo (round 15); tp09's third tier
    // trains on its survivor subset and keeps its own chain (None).
    val cents = centsPre.getOrElse(Similarity.learnedCentroids(base, sdRounds))
    val assigned = Similarity.kmAssign(base, cents)
      .select(col("vec_id"), col("cluster")).localCheckpoint()
    val withV = assigned.join(base, Seq("vec_id"))
    val a = withV.select(col("cluster"), col("vec_id").as("v1c"),
      col("v").as("v1"), col("nrm").as("n1"))
    val b = withV.select(col("cluster"), col("vec_id").as("v2c"),
      col("v").as("v2"), col("nrm").as("n2"))
    // The pair join shuffles on cluster id only — never a cross join; the
    // v1c < v2c predicate halves each cluster's quadrant.
    val pairs = a.join(b, Seq("cluster")).filter(col("v1c") < col("v2c"))
      .withColumn("dot", expr("dot_l(v1, v2)"))
      .filter(col("dot") > 0 &&
        col("dot") * col("dot") * 25 >= col("n1") * col("n2") * 4)
    (assigned, pairs.select(col("v2c").as("vec_id")).distinct())
  }

  /** Oracle-side mirror of [[semClusterDrops]]'s pair scan: reads the
    * assignment CTE `a$r` and the (possibly filtered) `qn`, defines
    * `cand` and `drops`. */
  private def semDropsSql(r: Int): String =
    s"""semcand AS (
       | SELECT x.vec_id AS v1c, y.vec_id AS v2c,
       |  CAST(list_sum(list_transform(range(1, len(q1.v) + 1), i -> q1.v[i] * q2.v[i])) AS BIGINT) AS dot,
       |  q1.nrm AS n1, q2.nrm AS n2
       | FROM a$r x JOIN a$r y
       |  ON x.cluster = y.cluster AND x.vec_id < y.vec_id
       | JOIN qn q1 ON q1.vec_id = x.vec_id
       | JOIN qn q2 ON q2.vec_id = y.vec_id),
       |semdrops AS (
       | SELECT DISTINCT v2c AS vec_id FROM semcand
       | WHERE dot > 0 AND dot * dot * 25 >= n1 * n2 * 4)""".stripMargin

  def dd20Semdedup(s: SparkSession, dir: String): DataFrame = {
    val base = Similarity.qvec(s, dir).localCheckpoint()
    // guard the share on the round-count equality it relies on
    val (assigned, drops) = semClusterDrops(base,
      if (sdRounds == Similarity.ivfRounds)
        Some(Similarity.coarseCentroidsFor(s, dir)) else None)
    assigned.join(drops.withColumn("dropped", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"), col("dropped").isNull.as("keep"))
  }

  val dd20Oracle: String = {
    val r = sdRounds + 1
    s"""WITH ${Similarity.qvecSql},
       |${Similarity.kmChainSql(sdRounds)},
       |${Similarity.kmAssignSql(r, s"c$sdRounds")},
       |${semDropsSql(r)}
       |SELECT a.vec_id, a.cluster, a.vec_id NOT IN (SELECT vec_id FROM semdrops) AS keep
       |FROM a$r a""".stripMargin
  }

  // ---------------------------------------------------------------------
  // tp09: the TIERED dedup funnel — the three tiers run in the order a
  // production corpus pipeline runs them, each consuming the previous
  // tier's survivors, with the per-stage attrition emitted as the audit
  // table every curation run reports: exact (hash groupBy — removes
  // byte-identical copies AND guards the later tiers' quadratic terms),
  // then lexical (MinHash-LSH candidates + exact-Jaccard verify,
  // remove-larger), then semantic (dd20's cluster-fenced cosine scan over
  // the survivors' embeddings, linked by the testdata's vec_id == doc_id
  // convention). Counts are four 1-row aggregates cross-joined and
  // stack()ed — the corpus is never collected, and each tier keeps its
  // standalone plan shape (the funnel adds two semi-joins, no new
  // shuffles). All-integer output.
  // ---------------------------------------------------------------------
  def tp09DedupFunnel(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
    val surv1 = docs.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))
    val sdocs = docs.join(surv1, Seq("doc_id"), "left_semi")
      .repartition(s.sparkContext.defaultParallelism)
      .localCheckpoint()
    val removed2 = jaccardVerified(sdocs)
      .filter(col("is_dup")).select(col("doc2").as("doc_id")).distinct()
    val surv2 = sdocs.select(col("doc_id"))
      .join(removed2, Seq("doc_id"), "left_anti").localCheckpoint()
    val base = Similarity.qvec(s, dir)
      .join(surv2.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
      .localCheckpoint()
    val (_, drops3) = semClusterDrops(base)
    val surv3 = base.select(col("vec_id"))
      .join(drops3, Seq("vec_id"), "left_anti")
    val c0 = docs.agg(count(lit(1)).as("n0"))
    val c1 = sdocs.agg(count(lit(1)).as("n1"))
    val c2 = surv2.agg(count(lit(1)).as("n2"))
    val c3 = surv3.agg(count(lit(1)).as("n3"))
    c0.crossJoin(c1).crossJoin(c2).crossJoin(c3)
      .select(expr(
        """stack(3,
          | 1, 'exact', n0, n1,
          | 2, 'lexical', n1, n2,
          | 3, 'semantic', n2, n3) AS (stage_ord, stage, n_in, n_out)""".stripMargin))
      .select(col("stage_ord"), col("stage"), col("n_in"),
        (col("n_in") - col("n_out")).as("n_removed"), col("n_out"))
  }

  val tp09Oracle: String = {
    val r = sdRounds + 1
    s"""WITH surv1 AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
       |sdocs AS (SELECT d.doc_id, d.text FROM documents d JOIN surv1 ON d.doc_id = surv1.doc_id),
       |${verifyCtesFrom("sdocs")},
       |verified AS ($verifySelect),
       |removed AS (SELECT DISTINCT doc2 FROM verified WHERE is_dup),
       |surv2 AS (SELECT doc_id FROM sdocs WHERE doc_id NOT IN (SELECT doc2 FROM removed)),
       |q AS (
       | SELECT vec_id, list_transform(embedding, x -> CAST(floor(x * 1000) AS BIGINT)) AS v
       | FROM embeddings WHERE vec_id IN (SELECT doc_id FROM surv2)),
       |qn AS (SELECT vec_id, v, CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS nrm FROM q),
       |${Similarity.kmChainSql(sdRounds)},
       |${Similarity.kmAssignSql(r, s"c$sdRounds")},
       |${semDropsSql(r)},
       |surv3 AS (SELECT vec_id FROM qn WHERE vec_id NOT IN (SELECT vec_id FROM semdrops)),
       |n0 AS (SELECT COUNT(*) AS n0 FROM documents),
       |n1 AS (SELECT COUNT(*) AS n1 FROM sdocs),
       |n2 AS (SELECT COUNT(*) AS n2 FROM surv2),
       |n3 AS (SELECT COUNT(*) AS n3 FROM surv3)
       |SELECT 1 AS stage_ord, 'exact' AS stage, n0 AS n_in, n0 - n1 AS n_removed, n1 AS n_out FROM n0, n1
       |UNION ALL
       |SELECT 2, 'lexical', n1, n1 - n2, n2 FROM n1, n2
       |UNION ALL
       |SELECT 3, 'semantic', n2, n2 - n3, n3 FROM n2, n3""".stripMargin
  }

  // ---------------------------------------------------------------------
  // dd21: CROSS-SIGNAL verification — every LSH candidate pair scored by
  // BOTH the lexical signal (exact Jaccard, dd05's 0.7 gate) and the
  // semantic signal (embedding cosine at 0.2 — calibrated like tx21's
  // thresholds: the synthetic embeddings are independent of the text, so
  // dd06's 0.4 gate would never fire here and the column would test
  // nothing; vec_id == doc_id links the modalities): `both` is the
  // high-precision dedup mode
  // (delete only when text AND meaning agree — the conservative setting
  // for irreplaceable corpora), and the single-signal disagreement rows
  // are the human-review queue (lexical-only ≈ boilerplate/template,
  // semantic-only ≈ paraphrase). Cost: dd05's candidates-only shape plus
  // one hash join per pair end against the quantized vectors — the
  // embedding corpus is never pairwise-scanned, only the candidate list
  // is. All-integer thresholds, hash-exact.
  // ---------------------------------------------------------------------
  def dd21CrossSignalVerify(s: SparkSession, dir: String): DataFrame = {
    val vecs = Similarity.qvec(s, dir)
    jaccardVerified(Tables(s, dir, "documents"))
      .join(vecs.select(col("vec_id").as("doc1"), col("v").as("ev1"),
        col("nrm").as("en1")), Seq("doc1"))
      .join(vecs.select(col("vec_id").as("doc2"), col("v").as("ev2"),
        col("nrm").as("en2")), Seq("doc2"))
      .withColumn("edot", expr("dot_l(ev1, ev2)"))
      .select(col("doc1"), col("doc2"), col("n_inter"), col("n_union"),
        col("edot"),
        col("is_dup").as("lex_dup"),
        (col("edot") > 0 &&
          col("edot") * col("edot") * 25 >= col("en1") * col("en2"))
          .as("sem_dup"))
      .withColumn("both_dup", col("lex_dup") && col("sem_dup"))
  }

  lazy val dd21Oracle: String =
    s"""WITH ${verifyCtesFrom("documents")},
       |verified AS ($verifySelect),
       |q AS (
       | SELECT vec_id, list_transform(embedding, x -> CAST(floor(x * 1000) AS BIGINT)) AS v
       | FROM embeddings),
       |qn AS (SELECT vec_id, v, CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS nrm FROM q),
       |e AS (
       | SELECT ver.doc1, ver.doc2, ver.n_inter, ver.n_union, ver.is_dup,
       |  CAST(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) AS BIGINT) AS edot,
       |  a.nrm AS en1, b.nrm AS en2
       | FROM verified ver JOIN qn a ON ver.doc1 = a.vec_id
       |  JOIN qn b ON ver.doc2 = b.vec_id)
       |SELECT doc1, doc2, n_inter, n_union, edot,
       | is_dup AS lex_dup,
       | (edot > 0 AND edot * edot * 25 >= en1 * en2) AS sem_dup,
       | (is_dup AND edot > 0 AND edot * edot * 25 >= en1 * en2) AS both_dup
       |FROM e""".stripMargin

  // ---------------------------------------------------------------------
  // dd23: INCREMENTAL semantic dedup — dd09's daily-ingest shape applied
  // to the semantic tier, completing the incremental story across all
  // three tiers (exact: dd11 store; lexical: dd09/dd12; semantic: this):
  // today's vectors (vec_id % 10 >= 8) are assigned against the
  // STANDING corpus's centroids — no retraining, the ss05/ss07
  // roll-forward invariant — and pair-scanned CROSS-SIDE ONLY (new ×
  // base within the shared cluster; never base×base, which the nightly
  // dd20 already settled, nor new×new, which next nightly will). Each
  // new vector reports its same-cluster base duplicates (count + the
  // smallest matching base id, the canonical it would collapse into).
  // Cosine gate 0.4 — dd20's tier threshold, so nightly and incremental
  // agree on what "semantic duplicate" means. At 100 TB: centroids and base
  // assignments are the persisted index, the increment pays one
  // broadcast assign + one cluster-keyed join against inverted lists.
  // ---------------------------------------------------------------------
  def dd23IncrementalSemdedup(s: SparkSession, dir: String): DataFrame = {
    val all = Similarity.qvec(s, dir)
    val qbase = all.filter(col("vec_id") % 10 < 8).localCheckpoint()
    val qnew = all.filter(col("vec_id") % 10 >= 8).localCheckpoint()
    val cents = Similarity.learnedCentroids(qbase, sdRounds)
    val abase = Similarity.kmAssign(qbase, cents)
      .select(col("vec_id"), col("cluster"))
    val anew = Similarity.kmAssign(qnew, cents)
      .select(col("vec_id"), col("cluster")).localCheckpoint()
    val nside = anew.join(qnew, Seq("vec_id"))
      .select(col("cluster"), col("vec_id").as("nv"),
        col("v").as("v1"), col("nrm").as("n1"))
    val bside = abase.join(qbase, Seq("vec_id"))
      .select(col("cluster"), col("vec_id").as("bv"),
        col("v").as("v2"), col("nrm").as("n2"))
    val hits = nside.join(bside, Seq("cluster"))
      .withColumn("dot", expr("dot_l(v1, v2)"))
      .filter(col("dot") > 0 &&
        col("dot") * col("dot") * 25 >= col("n1") * col("n2") * 4)
      .groupBy(col("nv"))
      .agg(count(lit(1)).as("n_sem_dups"), min(col("bv")).as("dup_of"))
    anew.join(hits, anew("vec_id") === hits("nv"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("n_sem_dups"), lit(0L)).as("n_sem_dups"), col("dup_of"))
  }

  lazy val dd23Oracle: String = {
    val r = sdRounds + 1
    s"""WITH qall AS (
       | SELECT vec_id, list_transform(embedding, x -> CAST(floor(x * 1000) AS BIGINT)) AS v
       | FROM embeddings),
       |qnall AS (SELECT vec_id, v, CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS nrm FROM qall),
       |qn AS (SELECT * FROM qnall WHERE vec_id % 10 < 8),
       |qnew AS (SELECT * FROM qnall WHERE vec_id % 10 >= 8),
       |${Similarity.kmChainSql(sdRounds)},
       |${Similarity.kmAssignSql(r, s"c$sdRounds")},
       |sn AS (
       | SELECT qnew.vec_id, c.cent_id,
       |  qnew.nrm + c.cnrm - 2 * CAST(list_sum(list_transform(range(1, len(qnew.v) + 1), i -> qnew.v[i] * c.cv[i])) AS BIGINT) AS d2
       | FROM qnew CROSS JOIN c$sdRounds c),
       |rn AS (SELECT vec_id, cent_id, ROW_NUMBER() OVER (
       |  PARTITION BY vec_id ORDER BY d2, cent_id) AS rnk FROM sn),
       |an AS (SELECT vec_id, cent_id AS cluster FROM rn WHERE rnk = 1),
       |cand AS (
       | SELECT n.vec_id AS nv, b.vec_id AS bv,
       |  CAST(list_sum(list_transform(range(1, len(q1.v) + 1), i -> q1.v[i] * q2.v[i])) AS BIGINT) AS dot,
       |  q1.nrm AS n1, q2.nrm AS n2
       | FROM an n JOIN a$r b ON n.cluster = b.cluster
       | JOIN qnew q1 ON q1.vec_id = n.vec_id
       | JOIN qn q2 ON q2.vec_id = b.vec_id),
       |hits AS (
       | SELECT nv, CAST(COUNT(*) AS BIGINT) AS n_sem_dups, MIN(bv) AS dup_of
       | FROM cand WHERE dot > 0 AND dot * dot * 25 >= n1 * n2 * 4
       | GROUP BY nv)
       |SELECT an.vec_id, an.cluster,
       | COALESCE(hits.n_sem_dups, 0) AS n_sem_dups, hits.dup_of
       |FROM an LEFT JOIN hits ON an.vec_id = hits.nv""".stripMargin
  }

  // ---------------------------------------------------------------------
  // dd14: CONTAINMENT verification of the LSH candidates — the asymmetric
  // complement of dd05's Jaccard: C(A→B) = |A∩B| / |A| answers "is doc A
  // mostly inside doc B", which Jaccard misses whenever the sizes differ
  // (a boilerplate template inside a long page has tiny Jaccard but ~1.0
  // containment — the template/quotation-detection signal). Same staged
  // shingle sets, same candidates-only join shape as dd05; both
  // directions flagged at 90% in integer space (10·∩ ≥ 9·|side|).
  // ---------------------------------------------------------------------
  def containmentVerified(docs: DataFrame): DataFrame = {
    val sharr = shingleSets(docs).localCheckpoint()
    val cand = candidatePairsFromSets(sharr)
    cand
      .join(sharr.as("s1"), col("doc1") === col("s1.doc_id"))
      .join(sharr.as("s2"), col("doc2") === col("s2.doc_id"))
      .withColumn("n_inter",
        size(array_intersect(col("s1.sh"), col("s2.sh"))).cast("long"))
      .withColumn("n_a", size(col("s1.sh")).cast("long"))
      .withColumn("n_b", size(col("s2.sh")).cast("long"))
      .select(col("doc1"), col("doc2"), col("n_inter"), col("n_a"), col("n_b"),
        (col("n_inter") * 10 >= col("n_a") * 9).as("a_in_b"),
        (col("n_inter") * 10 >= col("n_b") * 9).as("b_in_a"))
  }

  def dd14ContainmentVerify(s: SparkSession, dir: String): DataFrame =
    containmentVerified(Tables(s, dir, "documents"))

  val dd14Oracle: String =
    s"""WITH ${verifyCtesFrom("documents")}
       |SELECT c.doc1, c.doc2,
       | CAST(len(list_intersect(s1.sh, s2.sh)) AS BIGINT) AS n_inter,
       | CAST(len(s1.sh) AS BIGINT) AS n_a,
       | CAST(len(s2.sh) AS BIGINT) AS n_b,
       | (len(list_intersect(s1.sh, s2.sh)) * 10 >= len(s1.sh) * 9) AS a_in_b,
       | (len(list_intersect(s1.sh, s2.sh)) * 10 >= len(s2.sh) * 9) AS b_in_a
       |FROM cand c JOIN sets s1 ON c.doc1 = s1.doc_id
       | JOIN sets s2 ON c.doc2 = s2.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // dd07: the full training-data dedup pipeline — exact dedup first (cheap
  // hash groupBy; ALSO the scale guard: exact duplicates would otherwise
  // share every LSH band and make buckets quadratic), then MinHash-LSH
  // candidates on the survivors, exact Jaccard verification, and greedy
  // removal of every doc that near-duplicates a smaller-id survivor
  // (pairwise remove-larger, not transitive clustering — deterministic and
  // mirrored exactly by the oracle).
  // ---------------------------------------------------------------------
  def dd07DedupPipeline(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val surv1 = docs.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
    // Explicit rebalance before the checkpoint: AQE coalesces this small
    // semi-join output to ~1 partition (right by bytes, wrong for the
    // CPU-bound shingle/minhash stages that read the checkpoint). At
    // cluster scale this is the standard post-filter rebalance before an
    // expensive verification pass.
    val sdocs = docs.join(surv1.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .localCheckpoint()
    val removed = jaccardVerified(sdocs)
      .filter(col("is_dup")).select(col("doc2").as("doc_id")).distinct()
    sdocs.select(col("doc_id"))
      .join(removed, Seq("doc_id"), "left_anti")
  }

  val dd07Oracle: String =
    s"""WITH surv AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
       |sdocs AS (SELECT d.doc_id, d.text FROM documents d JOIN surv ON d.doc_id = surv.doc_id),
       |${verifyCtesFrom("sdocs")},
       |verified AS ($verifySelect),
       |removed AS (SELECT DISTINCT doc2 FROM verified WHERE is_dup)
       |SELECT doc_id FROM sdocs WHERE doc_id NOT IN (SELECT doc2 FROM removed)""".stripMargin

  // ---------------------------------------------------------------------
  // dd06: embedding-cosine near-dup pairs — quantized integer vector math
  // (floor(x·1000)); cos ≥ 0.4 tested as dot > 0 ∧ 25·dot² ≥ 4·‖a‖²·‖b‖².
  // This exact all-pairs form is the small-scale correctness baseline;
  // the bucketed scale path is dd08EmbNeardupLsh below.
  // ---------------------------------------------------------------------
  def quantized(emb: DataFrame): DataFrame = {
    graft.functions.VectorFunctions.register(emb.sparkSession)
    // quantize_l: one codegen'd pass (round 15) — the interpreted
    // transform() lambda rode ahead of EVERY vector query's corpus scan
    Tables.balanced(emb).select(col("vec_id"), col("label"),
        expr("quantize_l(embedding)").as("v"))
      .withColumn("nrm", expr("dot_l(v, v)"))
  }

  def dd06EmbNeardup(s: SparkSession, dir: String): DataFrame = {
    val q = quantized(Tables(s, dir, "embeddings"))
    val a = q.select(col("vec_id").as("vec1"), col("v").as("v1"), col("nrm").as("n1"))
    val b = q.select(col("vec_id").as("vec2"), col("v").as("v2"), col("nrm").as("n2"))
    a.join(b, col("vec1") < col("vec2"))
      .withColumn("dot", expr("dot_l(v1, v2)"))
      .filter(col("dot") > 0 && col("dot") * col("dot") * 25 >= col("n1") * col("n2") * 4)
      .select(col("vec1"), col("vec2"), col("dot"), col("n1"), col("n2"))
  }

  val dd06Oracle: String =
    """WITH q AS (
      | SELECT vec_id, list_transform(embedding, x -> CAST(floor(x * 1000) AS BIGINT)) AS v
      | FROM embeddings),
      |n AS (SELECT vec_id, v, CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS nrm FROM q),
      |pairs AS (
      | SELECT a.vec_id AS vec1, b.vec_id AS vec2,
      |  CAST(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) AS BIGINT) AS dot,
      |  a.nrm AS n1, b.nrm AS n2
      | FROM n a JOIN n b ON a.vec_id < b.vec_id)
      |SELECT vec1, vec2, dot, n1, n2 FROM pairs
      |WHERE dot > 0 AND dot * dot * 25 >= n1 * n2 * 4""".stripMargin

  // ---------------------------------------------------------------------
  // dd08: LSH-bucketed embedding near-dup — the 100 TB scale path dd06's
  // all-pairs baseline points at, built exactly like the MinHash banding
  // above: ONE native 16-plane random-hyperplane signature per vector
  // (lsh_bucket, codegen'd), sliced into 4 tables × 4 planes; candidates
  // are an equi-join on (table, 4-bit slice) with DISTINCT over
  // multi-table collisions, and the exact integer cosine test runs on
  // candidates only. Multi-table banding is what makes the recall/cost
  // dial explicit: per-pair recall 1-(1-p^4)^4 with p = 1-θ/π (~50% at
  // this data's θ≈60°; near-identical pairs ≈ always), candidate volume
  // Σ bucket² per table, never n². dd06 remains the exact-recall
  // baseline; the oracle runs the identical algorithm so rows hash-match.
  // ---------------------------------------------------------------------
  private val embTables = 4
  private val embPlanesPerTable = 4
  private val embSigPlanes = embTables * embPlanesPerTable

  def dd08EmbNeardupLsh(s: SparkSession, dir: String): DataFrame = {
    val mask = (1 << embPlanesPerTable) - 1
    val q = quantized(Tables(s, dir, "embeddings"))
      .withColumn("sig", expr(s"lsh_bucket(v, $embSigPlanes)"))
    val tableCols = (0 until embTables).map { t =>
      struct(lit(t).as("tbl"),
        expr(s"shiftright(sig, ${t * embPlanesPerTable}) & $mask").as("bkey"))
    }
    val bands = q.select(col("vec_id"), col("v"), col("nrm"),
        explode(array(tableCols: _*)).as("b"))
      .select(col("vec_id"), col("v"), col("nrm"),
        col("b.tbl").as("tbl"), col("b.bkey").as("bkey"))
    val a = bands.select(col("vec_id").as("vec1"), col("v").as("v1"),
      col("nrm").as("n1"), col("tbl"), col("bkey"))
    val b = bands.select(col("vec_id").as("vec2"), col("v").as("v2"),
      col("nrm").as("n2"), col("tbl"), col("bkey"))
    a.join(b, Seq("tbl", "bkey"))
      .filter(col("vec1") < col("vec2"))
      .select(col("vec1"), col("v1"), col("n1"), col("vec2"), col("v2"), col("n2"))
      .distinct()
      .withColumn("dot", expr("dot_l(v1, v2)"))
      .filter(col("dot") > 0 && col("dot") * col("dot") * 25 >= col("n1") * col("n2") * 4)
      .select(col("vec1"), col("vec2"), col("dot"), col("n1"), col("n2"))
  }

  val dd08Oracle: String = {
    val mask = (1 << embPlanesPerTable) - 1
    val bandSelects = (0 until embTables).map(t =>
      s"SELECT vec_id, v, nrm, $t AS tbl, (sig >> ${t * embPlanesPerTable}) & $mask AS bkey FROM sigs")
      .mkString("\n UNION ALL ")
    s"""WITH q AS (
       | SELECT vec_id, list_transform(embedding, x -> CAST(floor(x * 1000) AS BIGINT)) AS v
       | FROM embeddings),
       |n AS MATERIALIZED (SELECT vec_id, v, CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS nrm FROM q),
       |${Similarity.bucketSigCtesFor(embSigPlanes, "n", "sigv")},
       |sigs AS MATERIALIZED (
       | SELECT n.vec_id, n.v, n.nrm, sigv.sig FROM n JOIN sigv USING (vec_id)),
       |bands AS MATERIALIZED (
       | $bandSelects),
       |cand AS (
       | SELECT DISTINCT a.vec_id AS vec1, a.v AS v1, a.nrm AS n1,
       |                 b.vec_id AS vec2, b.v AS v2, b.nrm AS n2
       | FROM bands a JOIN bands b ON a.tbl = b.tbl AND a.bkey = b.bkey AND a.vec_id < b.vec_id),
       |pairs AS (
       | SELECT vec1, vec2,
       |  CAST(list_sum(list_transform(range(1, len(v1) + 1), i -> v1[i] * v2[i])) AS BIGINT) AS dot,
       |  n1, n2
       | FROM cand)
       |SELECT vec1, vec2, dot, n1, n2 FROM pairs
       |WHERE dot > 0 AND dot * dot * 25 >= n1 * n2 * 4""".stripMargin
  }

  // ---------------------------------------------------------------------
  // tp01: the end-to-end corpus-curation pipeline a training-data run
  // would ship — quality gate (token count ≥ 5 AND alpha ratio ≥ 0.3,
  // both as exact integer tests) → exact dedup (min doc_id per content
  // hash) → MinHash-LSH near-dup removal on the survivors. Composes the
  // dd-operators over the filtered corpus; every stage keeps the scale
  // shape it has standalone (the quality gate additionally SHRINKS the
  // corpus before any shuffle, which is why it runs first).
  // ---------------------------------------------------------------------
  def tp01CorpusCuration(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val qual = docs.filter(
      size(expr("filter(split(text, ' '), x -> x != '')")) >= 5 &&
        (length(col("text")) - length(regexp_replace(col("text"), "[a-z]", ""))) * 10
          >= length(col("text")) * 3)
      .select(col("doc_id"), col("text"))
    val surv1 = qual.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
    val sdocs = qual.join(surv1.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .localCheckpoint()
    val removed = jaccardVerified(sdocs)
      .filter(col("is_dup")).select(col("doc2").as("doc_id")).distinct()
    sdocs.select(col("doc_id"))
      .join(removed, Seq("doc_id"), "left_anti")
  }

  /** tp01 as a reusable CTE chain ending in `tp01surv(doc_id)` — composed
    * further by Curation.tp02's oracle. */
  private[operators] val tp01Ctes: String =
    s"""qual AS (
       | SELECT doc_id, text FROM documents
       | WHERE len(list_filter(string_split(text, ' '), x -> x != '')) >= 5
       |  AND (length(text) - length(regexp_replace(text, '[a-z]', '', 'g'))) * 10 >= length(text) * 3),
       |surv AS (SELECT MIN(doc_id) AS doc_id FROM qual GROUP BY md5(text)),
       |sdocs AS (SELECT q.doc_id, q.text FROM qual q JOIN surv ON q.doc_id = surv.doc_id),
       |${verifyCtesFrom("sdocs")},
       |verified AS ($verifySelect),
       |removed AS (SELECT DISTINCT doc2 FROM verified WHERE is_dup),
       |tp01surv AS (SELECT doc_id FROM sdocs WHERE doc_id NOT IN (SELECT doc2 FROM removed))""".stripMargin

  val tp01Oracle: String =
    s"""WITH $tp01Ctes
       |SELECT doc_id FROM tp01surv""".stripMargin

  // ---------------------------------------------------------------------
  // cc01: near-dup CLUSTERS — connected components over the verified
  // near-dup graph (min-label propagation, Relational.connectedComponents).
  // dd07 removes pairwise larger-ids; clustering is the transitive form a
  // curation run needs when near-duplication chains (A≈B≈C but A≉C): the
  // component id (min doc_id) is the canonical survivor for the whole
  // chain. The oracle walks the same graph with a recursive CTE.
  // ---------------------------------------------------------------------
  def cc01DupComponents(s: SparkSession, dir: String): DataFrame = {
    // Checkpoint the verified edges: connectedComponents' symmetrize union
    // references them twice, which would re-run the whole verify pipeline
    // per branch.
    val dup = jaccardVerified(Tables(s, dir, "documents"))
      .filter(col("is_dup"))
      .select(col("doc1").as("a"), col("doc2").as("b"))
      .localCheckpoint()
    Relational.connectedComponents(dup)
      .select(col("node").as("doc_id"), col("component"))
  }

  val cc01Oracle: String =
    s"""WITH RECURSIVE ${verifyCtesFrom("documents")},
       |verified AS ($verifySelect),
       |dup AS (SELECT doc1, doc2 FROM verified WHERE is_dup),
       |e AS (SELECT doc1 AS a, doc2 AS b FROM dup
       |      UNION SELECT doc2, doc1 FROM dup),
       |nodes AS (SELECT DISTINCT a AS node FROM e),
       |reach(a, b) AS (
       | SELECT node, node FROM nodes
       | UNION
       | SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a)
       |SELECT a AS doc_id, MIN(b) AS component FROM reach GROUP BY a""".stripMargin

  // ---------------------------------------------------------------------
  // cc02: the SAME clustering contract as cc01, computed by alternating
  // large-star/small-star edge rewriting (Relational.connectedComponentsStar)
  // — O(log diameter) rounds instead of O(diameter), the algorithm a
  // web-scale dup graph needs. Two independent implementations, one
  // oracle: both must hash-match the recursive-CTE ground truth.
  // ---------------------------------------------------------------------
  def cc02DupComponentsStar(s: SparkSession, dir: String): DataFrame = {
    val dup = jaccardVerified(Tables(s, dir, "documents"))
      .filter(col("is_dup"))
      .select(col("doc1").as("a"), col("doc2").as("b"))
      .localCheckpoint()
    Relational.connectedComponentsStar(dup)
      .select(col("node").as("doc_id"), col("component"))
  }

  // ---------------------------------------------------------------------
  // cc04: dup-cluster size distribution — the shape-of-the-problem report
  // read before choosing a dedup strategy: how many clusters of size 2,
  // 3, ... exist, and how many documents would removal reclaim at each
  // size (every member but the canonical survivor). Two dictionary-sized
  // aggregates over cc01's components — the corpus contributes nothing
  // beyond what cc01 already computed.
  // ---------------------------------------------------------------------
  def cc04ClusterSizes(s: SparkSession, dir: String): DataFrame =
    cc01DupComponents(s, dir)
      .groupBy(col("component"))
      .agg(count(lit(1)).as("sz"))
      .groupBy(col("sz"))
      .agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_removable", col("n_clusters") * (col("sz") - 1))

  val cc04Oracle: String =
    s"""WITH comp AS (SELECT * FROM ($cc01Oracle) t),
       |sizes AS (SELECT component, COUNT(*) AS sz FROM comp GROUP BY component)
       |SELECT sz, COUNT(*) AS n_clusters,
       | CAST(COUNT(*) * (sz - 1) AS BIGINT) AS n_removable
       |FROM sizes GROUP BY sz""".stripMargin

  // ---------------------------------------------------------------------
  // cc03: canonical-representative selection — the step that turns cluster
  // ids into an actionable rewrite: per dup cluster keep ONE document (the
  // longest; ties to the lowest doc_id) and map every member to it. The
  // output is the (doc_id → canon_id) substitution table a curation
  // pipeline applies to drop near-dup redundancy while keeping the best
  // exemplar. Winner is a max_by STRUCT aggregate (map-side partial —
  // cluster size never hot-keys a sort), then one equi-join back.
  // ---------------------------------------------------------------------
  def cc03Canonical(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val sized = cc01DupComponents(s, dir)
      .join(docs.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      .localCheckpoint() // referenced twice; the CC rounds must not re-run
    val canon = sized.groupBy(col("component"))
      .agg(max_by(col("doc_id"),
        struct(col("n_chars"), (-col("doc_id")).as("nid"))).as("canon_id"))
    sized.join(canon, Seq("component"))
      .select(col("doc_id"), col("component"), col("canon_id"),
        (col("doc_id") === col("canon_id")).as("is_canon"))
  }

  val cc03Oracle: String =
    s"""WITH comp AS (SELECT * FROM ($cc01Oracle) t),
       |sized AS (
       | SELECT c.doc_id, c.component, d.n_chars
       | FROM comp c JOIN documents d USING (doc_id)),
       |canon AS (
       | SELECT component, doc_id AS canon_id FROM (
       |  SELECT component, doc_id,
       |   ROW_NUMBER() OVER (PARTITION BY component
       |     ORDER BY n_chars DESC, doc_id ASC) AS rn
       |  FROM sized) r WHERE rn = 1)
       |SELECT s.doc_id, s.component, canon.canon_id,
       | s.doc_id = canon.canon_id AS is_canon
       |FROM sized s JOIN canon USING (component)""".stripMargin

  // ---------------------------------------------------------------------
  // cc06: BOUNDED label propagation on the dup graph — the same verified
  // edges as cc01 under Relational.labelPropagation's fixed 3 synchronous
  // min-label rounds instead of running to fixpoint. This is the
  // clustering a 100 TB dup graph actually schedules when the full CC
  // fixpoint (round count = diameter, unknown up front) can't be afforded:
  // a fixed round budget with a precise guarantee — after k rounds every
  // node within k hops of its component's minimum carries the final label,
  // so small-diameter dup clusters (the overwhelming shape of near-dup
  // graphs) are EXACTLY cc01's answer while a pathological chain stays
  // partially merged. Deterministic for the fixed budget, so the oracle is
  // the same recurrence unrolled to 3 steps in SQL.
  // ---------------------------------------------------------------------
  private val lpRounds = 3

  def cc06LabelProp(s: SparkSession, dir: String): DataFrame = {
    val dup = jaccardVerified(Tables(s, dir, "documents"))
      .filter(col("is_dup"))
      .select(col("doc1").as("a"), col("doc2").as("b"))
      .localCheckpoint()
    Relational.labelPropagation(dup, lpRounds)
      .select(col("node").as("doc_id"), col("label"))
  }

  /** One unrolled min-label round r (reads l{r-1}, defines l{r}); `e` is
    * the symmetrized edge CTE, so every node has ≥1 neighbor and the
    * neighbor-min join is inner, like the Spark side. */
  private def lpRoundSql(r: Int): String =
    s"""l$r AS (
       | SELECT l.node, LEAST(l.lab, m.mn) AS lab
       | FROM l${r - 1} l JOIN (
       |  SELECT e.b AS node, MIN(p.lab) AS mn
       |  FROM e JOIN l${r - 1} p ON e.a = p.node GROUP BY e.b) m
       | USING (node))""".stripMargin

  val cc06Oracle: String =
    s"""WITH ${verifyCtesFrom("documents")},
       |verified AS ($verifySelect),
       |dup AS (SELECT doc1, doc2 FROM verified WHERE is_dup),
       |e AS (SELECT doc1 AS a, doc2 AS b FROM dup
       |      UNION SELECT doc2, doc1 FROM dup),
       |l0 AS (SELECT DISTINCT a AS node, a AS lab FROM e),
       |${(1 to lpRounds).map(lpRoundSql).mkString(",\n")}
       |SELECT node AS doc_id, lab AS label FROM l$lpRounds""".stripMargin

  // ---------------------------------------------------------------------
  // cc08: bounded 2-core peel of the dup graph — the cluster-COHESION
  // audit: cc01 says which docs are connected; cc08 says which clusters
  // are held together by MULTIPLE independent matches (every surviving
  // doc has ≥2 verified dup partners) versus pairwise chains, where
  // A~B~C~D may be transitive drift with A and D not actually similar.
  // Peel verdicts gate whether a cluster is safe to collapse to one
  // canonical doc (cc03) or needs pairwise re-verification. Fixed 3
  // peel rounds (Relational.kCore), oracled as the unrolled recurrence.
  // ---------------------------------------------------------------------
  private val kcoreK = 2
  private val kcoreRounds = 3

  def cc08KCore(s: SparkSession, dir: String): DataFrame = {
    val dup = jaccardVerified(Tables(s, dir, "documents"))
      .filter(col("is_dup"))
      .select(col("doc1").as("a"), col("doc2").as("b"))
      .localCheckpoint()
    Relational.kCore(dup, kcoreK, kcoreRounds)
      .select(col("node").as("doc_id"), col("deg"))
  }

  /** One unrolled peel round r: degrees of e{r-1}, keep-set, both-endpoint
    * semi-join filter. */
  private def kcoreRoundSql(r: Int): String =
    s"""k$r AS (
       | SELECT a AS n FROM (SELECT a, COUNT(*) AS d FROM e${r - 1} GROUP BY a) t
       | WHERE d >= $kcoreK),
       |e$r AS (
       | SELECT e.a, e.b FROM e${r - 1} e
       | WHERE e.a IN (SELECT n FROM k$r) AND e.b IN (SELECT n FROM k$r))""".stripMargin

  val cc08Oracle: String =
    s"""WITH ${verifyCtesFrom("documents")},
       |verified AS ($verifySelect),
       |dup AS (SELECT doc1, doc2 FROM verified WHERE is_dup),
       |e0 AS (SELECT doc1 AS a, doc2 AS b FROM dup
       |       UNION SELECT doc2, doc1 FROM dup),
       |${(1 to kcoreRounds).map(kcoreRoundSql).mkString(",\n")}
       |SELECT a AS doc_id, COUNT(*) AS deg FROM e$kcoreRounds GROUP BY a""".stripMargin

  // ---------------------------------------------------------------------
  // cc16: MODULARITY of the cc06 partition — the quality score for a
  // community assignment (Newman's Q): a clustering is only as good as
  // its modularity, and a production pipeline that ships cc06's labels
  // needs this audit next to them exactly like ss06 audits ss03's
  // recall. Per community c over the dup graph with m undirected edges:
  // Q_c = L_c/m − (D_c/2m)² where L_c = intra-community edges and D_c =
  // the community's degree sum; Q = Σ_c Q_c. Emitted EXACTLY as the
  // integer fraction q_num = 4·m·L_c − D_c², q_den = 4·m² — no division
  // anywhere (q_num may be negative, and Spark `div` vs DuckDB `//`
  // disagree on negatives), so the result is hash-exact and Σ q_num /
  // q_den reconstructs Q losslessly.
  //
  // Scale shape: labels attach to the edge list by two hash equi-joins
  // on node id (the edge list's natural key), degrees and per-community
  // rollups are map-side-combined aggregates of dictionary size
  // (|communities| ≪ corpus), m rides a broadcast 1-row cross join.
  // ---------------------------------------------------------------------
  def cc16Modularity(s: SparkSession, dir: String): DataFrame = {
    val dup = jaccardVerified(Tables(s, dir, "documents"))
      .filter(col("is_dup"))
      .select(col("doc1").as("a"), col("doc2").as("b"))
      .localCheckpoint()
    val labels = Relational.labelPropagation(dup, lpRounds)
    val deg = dup.select(col("a").as("node"))
      .unionAll(dup.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val byLabel = labels.join(deg, Seq("node"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("d_tot"))
    val intra = dup
      .join(labels.select(col("node").as("a"), col("label").as("la")), Seq("a"))
      .join(labels.select(col("node").as("b"), col("label").as("lb")), Seq("b"))
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("label")).agg(count(lit(1)).as("l_intra"))
    val m = dup.agg(count(lit(1)).as("m"))
    byLabel.join(intra, Seq("label"), "left")
      .crossJoin(broadcast(m))
      .select(col("label"), col("n_nodes"),
        coalesce(col("l_intra"), lit(0L)).as("l_intra"), col("d_tot"),
        (lit(4L) * col("m") * coalesce(col("l_intra"), lit(0L)) -
          col("d_tot") * col("d_tot")).as("q_num"),
        (lit(4L) * col("m") * col("m")).as("q_den"))
  }

  val cc16Oracle: String =
    s"""WITH ${verifyCtesFrom("documents")},
       |verified AS ($verifySelect),
       |dup AS (SELECT doc1, doc2 FROM verified WHERE is_dup),
       |e AS (SELECT doc1 AS a, doc2 AS b FROM dup
       |      UNION SELECT doc2, doc1 FROM dup),
       |l0 AS (SELECT DISTINCT a AS node, a AS lab FROM e),
       |${(1 to lpRounds).map(lpRoundSql).mkString(",\n")},
       |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM dup),
       |deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
       |  SELECT doc1 AS node FROM dup UNION ALL SELECT doc2 FROM dup) d
       | GROUP BY node),
       |byl AS (
       | SELECT lab AS label, CAST(COUNT(*) AS BIGINT) AS n_nodes,
       |  CAST(SUM(deg) AS BIGINT) AS d_tot
       | FROM l$lpRounds l JOIN deg USING (node) GROUP BY 1),
       |li AS (
       | SELECT la.lab AS label, CAST(COUNT(*) AS BIGINT) AS l_intra
       | FROM dup JOIN l$lpRounds la ON dup.doc1 = la.node
       |  JOIN l$lpRounds lb ON dup.doc2 = lb.node
       | WHERE la.lab = lb.lab GROUP BY 1)
       |SELECT byl.label, n_nodes, COALESCE(l_intra, 0) AS l_intra, d_tot,
       | 4 * m * COALESCE(l_intra, 0) - d_tot * d_tot AS q_num,
       | 4 * m * m AS q_den
       |FROM byl LEFT JOIN li USING (label) CROSS JOIN m""".stripMargin

  // ---------------------------------------------------------------------
  // cc17: STRONGLY connected components of the event-TRANSITION graph —
  // the directed-graph decomposition every other cc operator ignores
  // (cc01/cc02 symmetrize; cc05 symmetrizes to avoid dangling mass). The
  // graph: nodes are the `props.k` values, with a directed edge k1 → k2
  // wherever some user produced k1 immediately before k2 (ordered by ts,
  // event_id) at least `sccMinCount` times — the navigation graph of a
  // clickstream, where an SCC is a "loop" users circulate in (the
  // bow-tie-core question of Broder et al. 2000) and the condensation
  // orders funnels. Spark side: Relational.stronglyConnectedComponents
  // (coloring + backward certify + peel — equi-joins and keyed
  // aggregates only). The oracle can afford what the engine must not:
  // a recursive-CTE transitive closure + mutual-reachability min, which
  // is exact on the |k|-sized node set and independent of the Spark
  // algorithm — hash-equality proves the dataflow SCC against the
  // definition itself.
  // ---------------------------------------------------------------------
  private val sccMinCount = 4

  private[operators] def transitionEdges(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables(s, dir, "events").select(col("user_id"), col("ts"),
      col("event_id"), get_json_object(col("props"), "$.k").cast("long").as("k"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    ev.withColumn("k2", lead(col("k"), 1).over(w))
      .where(col("k2").isNotNull && col("k") =!= col("k2"))
      .groupBy(col("k").as("src"), col("k2").as("dst"))
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= sccMinCount)
      .select(col("src"), col("dst"))
  }

  /** The transition edge set and its SCC decomposition, [[Derived]] keys
    * (cc17 serves the SCC directly, cc18 builds the condensation on top —
    * previously each re-ran the window + the full coloring/certify/peel
    * loop). */
  private def transitionEdgesMemo(s: SparkSession, dir: String): DataFrame =
    Derived.pinned(s, s"transe#$dir")(transitionEdges(s, dir))

  private def sccOfTransitions(s: SparkSession, dir: String): DataFrame =
    Derived.pinned(s, s"scc#$dir")(
      Relational.stronglyConnectedComponents(transitionEdgesMemo(s, dir)))

  def cc17Scc(s: SparkSession, dir: String): DataFrame =
    sccOfTransitions(s, dir)

  /** Shared oracle CTE chain ending in `scc(node, scc_id)` — cc17 serves
    * it directly, cc18 builds the condensation on top; one SQL text, no
    * drift. */
  private val sccCtes: String =
    s"""ev AS (
       | SELECT user_id, ts, event_id,
       |  CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
       | FROM events),
       |seq AS (
       | SELECT k, LEAD(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS k2
       | FROM ev),
       |e AS (
       | SELECT k AS src, k2 AS dst FROM seq
       | WHERE k2 IS NOT NULL AND k != k2
       | GROUP BY 1, 2 HAVING COUNT(*) >= $sccMinCount),
       |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |reach(src, dst) AS (
       | SELECT src, dst FROM e
       | UNION
       | SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
       |mutual AS (
       | SELECT a.src AS u, a.dst AS v
       | FROM reach a JOIN reach b ON a.src = b.dst AND a.dst = b.src),
       |scc AS MATERIALIZED (
       | SELECT n.node,
       |  CAST(LEAST(n.node, COALESCE(MIN(m.v), n.node)) AS BIGINT) AS scc_id
       | FROM n LEFT JOIN mutual m ON m.u = n.node
       | GROUP BY n.node)""".stripMargin

  val cc17Oracle: String =
    s"""WITH RECURSIVE $sccCtes
       |SELECT node, scc_id FROM scc""".stripMargin

  // ---------------------------------------------------------------------
  // cc18: CONDENSATION layers — the second half of the directed-graph
  // story: contract each cc17 SCC to one node (the condensation, a DAG
  // by construction) and assign every SCC its LONGEST-PATH depth from
  // the sources — the topological "funnel stage" ordering (which loops
  // feed which; Broder et al.'s IN → CORE → OUT decomposition made
  // quantitative). Layer is computed by `condRounds` synchronous
  // relaxations of layer(v) = max(layer(v), max_{u→v} layer(u) + 1) —
  // exact for condensations of depth ≤ condRounds, the same fixed-budget
  // contract as cc09/cc10, and the oracle is the identical recurrence
  // unrolled in SQL over ITS OWN closure-derived SCCs, so the equality
  // check covers both the contraction and the layering.
  //
  // Scale shape: the condensation has ≤ |SCCs| nodes and collapses the
  // edge list by two hash joins + distinct; each relaxation round is one
  // equi-join + keyed max on that contracted (dictionary-sized) DAG.
  // ---------------------------------------------------------------------
  private val condRounds = 12

  def cc18Condensation(s: SparkSession, dir: String): DataFrame = {
    val e = transitionEdgesMemo(s, dir)
    val scc = sccOfTransitions(s, dir)
    val cond = e
      .join(scc.select(col("node").as("src"), col("scc_id").as("a")), Seq("src"))
      .join(scc.select(col("node").as("dst"), col("scc_id").as("b")), Seq("dst"))
      .where(col("a") =!= col("b"))
      .select(col("a"), col("b")).distinct().localCheckpoint()
    var layers = scc.select(col("scc_id").as("node")).distinct()
      .withColumn("layer", lit(0L)).localCheckpoint()
    // Round fusion (round 15, the beam-search hop-fusion discipline): a
    // localCheckpoint per relaxation made each of the 12 rounds its own
    // synchronous job over a dictionary-sized DAG — pure barrier cost.
    // Cutting every SECOND round keeps the plan bounded (a skipped
    // round's frame is referenced twice by the next, so one uncut level
    // re-evaluates once — trivial at condensation size — and
    // ReuseExchange shares the shuffle) while halving the job count.
    // The recurrence and its answers are unchanged.
    for (r <- 1 to condRounds) {
      val prop = cond.join(layers, cond("a") === layers("node"))
        .groupBy(col("b").as("n2")).agg(max(col("layer") + 1).as("nl"))
      val next = layers.join(prop, layers("node") === col("n2"), "left")
        .select(col("node"),
          greatest(col("layer"), coalesce(col("nl"), col("layer"))).as("layer"))
      layers = if (r % 2 == 0 || r == condRounds) next.localCheckpoint()
        else next
    }
    val sizes = scc.groupBy(col("scc_id")).agg(count(lit(1)).as("n_nodes"))
    layers.join(sizes, layers("node") === sizes("scc_id"))
      .select(col("scc_id"), col("n_nodes"), col("layer"))
  }

  // MATERIALIZED: each round references the previous twice; DuckDB
  // inlines plain CTEs, which would expand the chain 2^condRounds-fold.
  private def condRoundSql(r: Int): String =
    s"""l$r AS MATERIALIZED (
       | SELECT l.node,
       |  GREATEST(l.layer, COALESCE(MAX(p.layer + 1), l.layer)) AS layer
       | FROM l${r - 1} l
       |  LEFT JOIN cond c ON c.b = l.node
       |  LEFT JOIN l${r - 1} p ON p.node = c.a
       | GROUP BY l.node, l.layer)""".stripMargin

  val cc18Oracle: String =
    s"""WITH RECURSIVE $sccCtes,
       |cond AS MATERIALIZED (
       | SELECT DISTINCT sa.scc_id AS a, sb.scc_id AS b
       | FROM e JOIN scc sa ON e.src = sa.node JOIN scc sb ON e.dst = sb.node
       | WHERE sa.scc_id != sb.scc_id),
       |l0 AS (SELECT DISTINCT scc_id AS node, CAST(0 AS BIGINT) AS layer FROM scc),
       |${(1 to condRounds).map(condRoundSql).mkString(",\n")},
       |sizes AS (
       | SELECT scc_id, CAST(COUNT(*) AS BIGINT) AS n_nodes FROM scc GROUP BY 1)
       |SELECT s.scc_id, s.n_nodes, CAST(l.layer AS BIGINT) AS layer
       |FROM sizes s JOIN l$condRounds l ON l.node = s.scc_id""".stripMargin

  // ---------------------------------------------------------------------
  // cc19: BIPARTITE PROJECTION — collapse the customer↔supplier purchase
  // graph onto one side: suppliers weighted by shared customers (the
  // co-engagement projection behind "users who bought from A also buy
  // from B" recommendation graphs and co-citation networks). The wedge
  // join at each customer squares that customer's supplier degree, so a
  // hub customer (one account touching 10^4 suppliers) would emit 10^8
  // pairs — the SAME quadratic hazard cc13's link prediction fences
  // with a degree cap, and the same answer applies: customers with more
  // than `bipCap` suppliers carry no pair evidence (a hub's
  // co-engagement signal is noise anyway — the classic tf-idf-style
  // down-weighting taken to its cap limit). Pair volume is then
  // Σ min(deg, cap)² — linear-ish in edges. Edges with ≥ 2 shared
  // customers survive (a single co-purchase is not a relationship).
  // ---------------------------------------------------------------------
  private val bipCap = 16

  def cc19BipartiteProjection(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val l = Tables(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    val cs = o.join(l, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
      .distinct().localCheckpoint()
    val keep = cs.groupBy(col("cust")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") <= bipCap).select(col("cust"))
    val k = cs.join(keep, Seq("cust"))
    k.select(col("cust"), col("supp").as("s1"))
      .join(k.select(col("cust"), col("supp").as("s2")), Seq("cust"))
      .filter(col("s1") < col("s2"))
      .groupBy(col("s1"), col("s2")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
  }

  val cc19Oracle: String =
    s"""WITH cs AS (
       | SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
       | FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
       |keep AS (
       | SELECT cust FROM cs GROUP BY cust HAVING COUNT(*) <= $bipCap),
       |k AS (SELECT cs.cust, cs.supp FROM cs JOIN keep USING (cust))
       |SELECT a.supp AS s1, b.supp AS s2, CAST(COUNT(*) AS BIGINT) AS n_shared
       |FROM k a JOIN k b ON a.cust = b.cust AND a.supp < b.supp
       |GROUP BY 1, 2 HAVING COUNT(*) >= 2""".stripMargin

  // ---------------------------------------------------------------------
  // cc05: fixed-iteration PageRank over the customer↔supplier interaction
  // graph (who bought from whom, orders⋈lineitem, supplier ids offset by
  // 10^7 into a shared id space; edges symmetrized so the bipartite graph
  // has no dangling nodes and rank flows both ways). Centrality is the
  // corpus-weighting signal a web-scale curation pipeline derives from
  // its link graph (cf. Common Crawl's harmonic-centrality ranking);
  // here it's the engine operator: 3 damping-0.85 iterations in exact
  // non-negative BIGINT arithmetic (Relational.pageRank — Spark `div` and
  // DuckDB `//` agree on non-negatives), so the oracle is the identical
  // recurrence unrolled in SQL and the result hash-matches bit-for-bit,
  // no float summation order anywhere.
  // ---------------------------------------------------------------------
  private val prIters = 3

  // The shared GRAPH DERIVATIONS the cc family reads are pinned
  // [[Derived]] keys (round 15): the co-purchase edge set feeds
  // cc07/cc13/cc14/cc20, the customer–supplier interaction edges feed
  // cc05/cc09/cc10/cc11/cc21/cc22/cc23, and cc07's triangle counts ARE
  // cc14's numerator — each query recomputed the identical corpus
  // derivation inside one process. The query DEFINITIONS and their
  // oracles are unchanged.
  /** The undirected co-purchase edge set (parts sharing an order),
    * a < b, distinct — the lineitem self-join every wedge-family query
    * starts from. */
  private def copurchaseEdges(s: SparkSession, dir: String): DataFrame =
    Derived.pinned(s, s"copurchase#$dir") {
      val l = Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"))
      l.as("x").join(l.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_partkey") < col("y.l_partkey"))
        .select(col("x.l_partkey").as("a"), col("y.l_partkey").as("b"))
        .distinct()
    }

  /** Per-node triangle counts of the co-purchase graph — cc07's answer
    * and cc14's numerator, derived once per process. */
  private def copurchaseTriangles(s: SparkSession, dir: String): DataFrame =
    Derived.pinned(s, s"cotri#$dir")(
      Relational.triangleCounts(copurchaseEdges(s, dir)))

  /** The shared customer↔supplier interaction graph (who bought from
    * whom through orders⋈lineitem; supplier ids offset by 10^7 into the
    * customer id space, symmetrized) — cc05's centrality and cc09's
    * k-hop reach both analyze this graph. */
  private def interactionEdges(s: SparkSession, dir: String): DataFrame = {
    val e0 = Derived.pinned(s, s"interact#$dir") {
      val o = Tables(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = Tables(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (lit(10000000L) + col("l_suppkey")).as("dst"))
        .distinct()
    }
    // no distinct after symmetrizing: custkeys < 10^7 ≤ offset suppkeys,
    // so a reversed copy can never equal a forward edge — the union IS
    // the distinct symmetric edge set, one full shuffle cheaper
    e0.unionAll(e0.select(col("dst").as("src"), col("src").as("dst")))
  }

  def cc05PageRank(s: SparkSession, dir: String): DataFrame =
    Relational.pageRank(interactionEdges(s, dir), prIters)

  private def prRoundSql(r: Int): String =
    s"""r$r AS (
       | SELECT ed.dst AS node,
       |  CAST(150000000 + (85 * SUM(r${r - 1}.pr // ed.outdeg)) // 100 AS BIGINT) AS pr
       | FROM ed JOIN r${r - 1} ON ed.src = r${r - 1}.node GROUP BY ed.dst)""".stripMargin

  val cc05Oracle: String =
    s"""WITH e0 AS (
       | SELECT DISTINCT o.o_custkey AS src, 10000000 + l.l_suppkey AS dst
       | FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
       |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
       |deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
       |ed AS (SELECT e.src, e.dst, deg.outdeg FROM e JOIN deg USING (src)),
       |n AS (SELECT DISTINCT src AS node FROM e),
       |r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS pr FROM n),
       |${(1 to prIters).map(prRoundSql).mkString(",\n")}
       |SELECT node, pr FROM r$prIters""".stripMargin

  // ---------------------------------------------------------------------
  // cc07: triangle counting on the co-purchase graph (parts appearing in
  // the same order), the third graph-analytics primitive beside
  // components (cc01/cc02) and centrality (cc05): per-node triangle
  // participation is the local-clustering signal that separates
  // community-embedded nodes from bridge/spam nodes in a web-corpus
  // link graph. The Spark side runs the DEGREE-ORDERED enumeration
  // (Cohen, "Graph Twiddling in a MapReduce World", 2009; Suri &
  // Vassilvitskii, WWW'11): every edge is oriented from its lower
  // (degree, id) endpoint to the higher, so each triangle is generated
  // by exactly one wedge — at the vertex whose out-degree is bounded by
  // O(√E) on any graph — and the wedge join never explodes at a
  // high-degree hub the way naive a<b<c enumeration does (a 10^6-degree
  // node contributes C(10^6,2) wedges naively, but its oriented
  // out-degree stays ~√E). The oracle enumerates naively in SQL: the
  // triangle SET is orientation-invariant, so both must hash-match.
  // ---------------------------------------------------------------------
  def cc07Triangles(s: SparkSession, dir: String): DataFrame =
    copurchaseTriangles(s, dir)

  val cc07Oracle: String =
    """WITH e AS (
      | SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
      | FROM lineitem x JOIN lineitem y
      |  ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
      |tri AS (
      | SELECT e1.a AS x, e1.b AS y, e2.b AS z
      | FROM e e1 JOIN e e2 ON e1.b = e2.a
      |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
      |SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
      | SELECT x AS node FROM tri
      | UNION ALL SELECT y FROM tri
      | UNION ALL SELECT z FROM tri) t
      |GROUP BY node""".stripMargin

  // ---------------------------------------------------------------------
  // cc09: bounded multi-source BFS — k-hop reach over the cc05
  // interaction graph from a seed set (customers of nation 0): "every
  // account and supplier within 3 hops of this cohort", the
  // neighborhood-expansion primitive behind influence radii, trust
  // propagation from seed domains, and fraud-ring tracing. Fixed round
  // budget like cc06/cc08 (distances ≤ k exact, nothing farther
  // emitted), so the oracle is the min-distance recurrence unrolled in
  // SQL. Per round the engine re-shuffles only the frontier table
  // against the statically hash-partitioned edges (Relational
  // .bfsDistances); integer distances end-to-end → hash-exact.
  // ---------------------------------------------------------------------
  private val bfsRounds = 3
  private val bfsSeedNation = 0

  def cc09BfsHops(s: SparkSession, dir: String): DataFrame = {
    val e = interactionEdges(s, dir)
    val cohort = Tables(s, dir, "customer")
      .filter(col("c_nationkey") === bfsSeedNation)
      .select(col("c_custkey").as("node"))
    // seeds restricted to graph nodes: a customer with no orders is not
    // in the graph, and the oracle's d0 draws from the edge node set too
    val seeds = e.select(col("src").as("node")).distinct()
      .join(cohort, Seq("node"), "left_semi")
    Relational.bfsDistances(e, seeds, bfsRounds)
  }

  private def bfsRoundSql(r: Int): String =
    s"""d$r AS (
       | SELECT node, MIN(dist) AS dist FROM (
       |  SELECT node, dist FROM d${r - 1}
       |  UNION ALL
       |  SELECT e.dst, d${r - 1}.dist + 1 FROM e JOIN d${r - 1} ON e.src = d${r - 1}.node) u
       | GROUP BY node)""".stripMargin

  val cc09Oracle: String =
    s"""WITH e0 AS (
       | SELECT DISTINCT o.o_custkey AS src, 10000000 + l.l_suppkey AS dst
       | FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
       |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
       |d0 AS (
       | SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS dist FROM e
       | WHERE src IN (SELECT c_custkey FROM customer WHERE c_nationkey = $bfsSeedNation)),
       |${(1 to bfsRounds).map(bfsRoundSql).mkString(",\n")}
       |SELECT node, dist FROM d$bfsRounds""".stripMargin

  // ---------------------------------------------------------------------
  // cc10: bounded WEIGHTED shortest paths (Bellman–Ford rounds) over the
  // interaction graph — cc09's metric upgrade: hop cost falls with
  // relationship strength (wt = max(1, 10 − #distinct orders on the
  // edge)), so "distance" reads as relationship friction, the signal
  // behind supplier-risk propagation and trust-weighted reach. Same
  // fixed-budget contract as cc09 (exact for paths of ≤ k edges); all
  // weights are non-negative BIGINTs so min/+ relaxation is exact and
  // the oracle is the recurrence unrolled. Per round the frontier alone
  // re-shuffles against the statically partitioned weighted edges
  // (Relational.ssspDistances).
  // ---------------------------------------------------------------------
  private def weightedInteractionEdges(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val l = Tables(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    val w0 = o.join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_custkey").as("src"),
        (lit(10000000L) + col("l_suppkey")).as("dst"))
      .agg(countDistinct(col("o_orderkey")).as("n_ord"))
      .select(col("src"), col("dst"),
        greatest(lit(1L), lit(10L) - col("n_ord")).as("wt"))
    // src < 10^7 ≤ dst, so the reversed copies can never collide
    w0.unionAll(w0.select(col("dst").as("src"), col("src").as("dst"), col("wt")))
  }

  def cc10Sssp(s: SparkSession, dir: String): DataFrame = {
    val e = weightedInteractionEdges(s, dir)
    val cohort = Tables(s, dir, "customer")
      .filter(col("c_nationkey") === bfsSeedNation)
      .select(col("c_custkey").as("node"))
    val seeds = e.select(col("src").as("node")).distinct()
      .join(cohort, Seq("node"), "left_semi")
    Relational.ssspDistances(e, seeds, bfsRounds)
  }

  private def ssspRoundSql(r: Int): String =
    s"""d$r AS (
       | SELECT node, MIN(dist) AS dist FROM (
       |  SELECT node, dist FROM d${r - 1}
       |  UNION ALL
       |  SELECT e.dst, d${r - 1}.dist + e.wt FROM e JOIN d${r - 1} ON e.src = d${r - 1}.node) u
       | GROUP BY node)""".stripMargin

  val cc10Oracle: String =
    s"""WITH w0 AS (
       | SELECT o.o_custkey AS src, 10000000 + l.l_suppkey AS dst,
       |  GREATEST(1, 10 - COUNT(DISTINCT o.o_orderkey)) AS wt
       | FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
       | GROUP BY 1, 2),
       |e AS (SELECT src, dst, wt FROM w0 UNION ALL SELECT dst, src, wt FROM w0),
       |d0 AS (
       | SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS dist FROM e
       | WHERE src IN (SELECT c_custkey FROM customer WHERE c_nationkey = $bfsSeedNation)),
       |${(1 to bfsRounds).map(ssspRoundSql).mkString(",\n")}
       |SELECT node, dist FROM d$bfsRounds""".stripMargin

  // ---------------------------------------------------------------------
  // cc11: bounded HARMONIC centrality (Marchiori & Latora 2000; Boldi &
  // Vigna's preferred centrality for web graphs because it handles
  // disconnected reach gracefully) for a seed cohort: h(s) = Σ 1/d(s,v)
  // over nodes within the round budget, larger = better-positioned. The
  // per-SEED distances come from Relational.multiSourceDistances (cc09's
  // min-over-seeds fusion cannot express a per-seed sum), so the state is
  // O(|cohort| · reach) — which is why the cohort is one nation's
  // suppliers, the bounded-audit shape ("rank OUR nodes by reach"), not
  // an all-nodes centrality sweep. 1/d is served in exact integer space:
  // 2520 = lcm(1..7) makes 2520 div d exact for every d ≤ 7 ≥ the round
  // budget, so the score hashes bit-identically cross-engine.
  // ---------------------------------------------------------------------
  private val harmonicSeedNation = 7

  def cc11Harmonic(s: SparkSession, dir: String): DataFrame = {
    val e = interactionEdges(s, dir)
    // The cohort bound is the operator's cost knob: per-seed state/
    // propagation scales linearly in |cohort|, so the audit samples a
    // deterministic quarter of the nation's suppliers (key ≡ 0 mod 4) —
    // the "rank OUR nodes" shape, not an all-nodes centrality sweep.
    val cohort = Tables(s, dir, "supplier")
      .filter(col("s_nationkey") === harmonicSeedNation &&
        col("s_suppkey") % 2 === 0)
      .select((lit(10000000L) + col("s_suppkey")).as("seed"))
    val seeds = e.select(col("src").as("seed")).distinct()
      .join(cohort, Seq("seed"), "left_semi")
    Relational.multiSourceDistances(e, seeds, bfsRounds)
      .filter(col("dist") > 0)
      .groupBy(col("seed"))
      .agg(count(lit(1)).as("n_reached"),
        sum(expr("2520 div dist")).as("harmonic_x2520"))
  }

  // ---------------------------------------------------------------------
  // cc12: DEGREE-DISTRIBUTION report — the graph-health snapshot every
  // other graph operator's cost model reads: per order-of-magnitude
  // degree bucket (decimal digit count — an integer-exact "log" both
  // engines compute identically on strings, immune to libm log2 ulps),
  // how many nodes, their min/max degree, and their share per-mille.
  // Hub detection (the 4+-digit buckets) is what decides salting for the
  // wedge joins (cc07) and frontier bounds (cc09/cc11). Two tiny keyed
  // aggregates after the one degree shuffle.
  // ---------------------------------------------------------------------
  def cc12DegreeDist(s: SparkSession, dir: String): DataFrame = {
    val deg = interactionEdges(s, dir)
      .groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val buckets = deg.groupBy(length(col("deg").cast("string")).as("digits"))
      .agg(count(lit(1)).as("n_nodes"),
        min(col("deg")).as("min_deg"), max(col("deg")).as("max_deg"))
    val tot = buckets.agg(sum(col("n_nodes")).as("total"))
    buckets.crossJoin(broadcast(tot))
      .select(col("digits"), col("n_nodes"), col("min_deg"), col("max_deg"),
        expr("(n_nodes * 1000) div total").as("share_pm"))
  }

  val cc12Oracle: String =
    """WITH e0 AS (
      | SELECT DISTINCT o.o_custkey AS src, 10000000 + l.l_suppkey AS dst
      | FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
      |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
      |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
      |b AS (
      | SELECT CAST(length(CAST(deg AS VARCHAR)) AS INT) AS digits,
      |  COUNT(*) AS n_nodes,
      |  CAST(MIN(deg) AS BIGINT) AS min_deg, CAST(MAX(deg) AS BIGINT) AS max_deg
      | FROM deg GROUP BY 1),
      |t AS (SELECT CAST(SUM(n_nodes) AS BIGINT) AS total FROM b)
      |SELECT digits, n_nodes, min_deg, max_deg,
      | (n_nodes * 1000) // t.total AS share_pm
      |FROM b, t""".stripMargin

  // ---------------------------------------------------------------------
  // cc13: LINK PREDICTION by bounded common neighbors — "customers also
  // bought" / people-you-may-know over the cc07 co-purchase graph: the
  // top-N non-adjacent part pairs ranked by shared neighbors, with the
  // common count and a per-mille Jaccard lower bound. Exact
  // common-neighbor counting is Σ deg² wedge work — the one graph
  // primitive with no subquadratic exact form at a hub — so this runs the
  // production shape: each wedge CENTER contributes at most its lpCap
  // smallest-id neighbors (deterministic fan-out cap, the standard
  // trick in large-scale PYMK systems), bounding wedge work at
  // |V|·C(lpCap,2) while true degrees still feed the Jaccard denominator
  // (so the score is a certified lower bound). The cap is a rank-limit
  // window (WindowGroupLimit: map tasks keep ≤lpCap rows per node before
  // the exchange, ds07's shape); the final top-N is TakeOrderedAndProject,
  // never a global sort. All-integer, so the oracle (same cap, naive
  // wedge SQL) hash-matches exactly.
  // ---------------------------------------------------------------------
  private val lpCap = 32
  private val lpTopN = 50

  def cc13LinkPredict(s: SparkSession, dir: String): DataFrame = {
    // e0 (an expensive self-join + distinct) feeds THREE consumers — the
    // degree count, the capped adjacency, and the final anti-join — and
    // is the per-JVM shared derivation (already checkpointed, so the
    // reuse is structural, not left to AQE exchange-reuse).
    val e0 = copurchaseEdges(s, dir)
    val adj = e0.select(col("a").as("node"), col("b").as("nbr"))
      .unionAll(e0.select(col("b").as("node"), col("a").as("nbr")))
    val deg = adj.groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val wCap = Window.partitionBy(col("node")).orderBy(col("nbr"))
    val capped = adj.withColumn("rn", row_number().over(wCap))
      .filter(col("rn") <= lpCap).select(col("node"), col("nbr"))
      .localCheckpoint()
    val wedges = capped.as("p").join(capped.as("q"),
        col("p.node") === col("q.node") && col("p.nbr") < col("q.nbr"))
      .select(col("p.nbr").as("u"), col("q.nbr").as("v"))
    val common = wedges.groupBy(col("u"), col("v")).agg(count(lit(1)).as("common"))
    val nonEdge = common.join(e0,
      common("u") === e0("a") && common("v") === e0("b"), "left_anti")
    nonEdge
      .join(deg.select(col("node").as("u"), col("deg").as("deg_u")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("deg").as("deg_v")), Seq("v"))
      .withColumn("jacc_pm", expr("(common * 1000) div (deg_u + deg_v - common)"))
      .orderBy(col("common").desc, col("u").asc, col("v").asc)
      .limit(lpTopN)
      .select(col("u"), col("v"), col("common"), col("deg_u"), col("deg_v"),
        col("jacc_pm"))
  }

  val cc13Oracle: String =
    s"""WITH e AS (
       | SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
       | FROM lineitem x JOIN lineitem y
       |  ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
       |adj AS (SELECT a AS node, b AS nbr FROM e UNION ALL SELECT b, a FROM e),
       |deg AS (SELECT node, COUNT(*) AS deg FROM adj GROUP BY node),
       |capped AS (
       | SELECT node, nbr FROM (
       |  SELECT node, nbr, ROW_NUMBER() OVER (PARTITION BY node ORDER BY nbr) AS rn
       |  FROM adj) t WHERE rn <= $lpCap),
       |w AS (
       | SELECT p.nbr AS u, q.nbr AS v FROM capped p JOIN capped q
       |  ON p.node = q.node AND p.nbr < q.nbr),
       |c AS (SELECT u, v, CAST(COUNT(*) AS BIGINT) AS common FROM w GROUP BY u, v),
       |ne AS (SELECT c.* FROM c WHERE NOT EXISTS (
       | SELECT 1 FROM e WHERE e.a = c.u AND e.b = c.v))
       |SELECT u, v, common, du.deg AS deg_u, dv.deg AS deg_v,
       | (common * 1000) // (du.deg + dv.deg - common) AS jacc_pm
       |FROM ne JOIN deg du ON ne.u = du.node JOIN deg dv ON ne.v = dv.node
       |ORDER BY common DESC, u, v LIMIT $lpTopN""".stripMargin

  // ---------------------------------------------------------------------
  // cc14: LOCAL CLUSTERING COEFFICIENT — cc07's triangle counts
  // normalized per node: n_tri / C(deg, 2) in per-mille, the standard
  // community-vs-bridge metric (a spam hub touches many nodes that don't
  // know each other → coefficient ≈ 0; an organic community member's
  // neighbors interlink → high). Composes the two already-scale-correct
  // pieces — degree-ordered triangle enumeration + one degree count —
  // with a left join so triangle-free nodes report 0 rather than vanish;
  // nodes with deg < 2 have no defined coefficient and are excluded
  // (both engines agree). All-integer; 2000·n_tri div (deg·(deg−1)).
  // ---------------------------------------------------------------------
  def cc14ClusteringCoeff(s: SparkSession, dir: String): DataFrame = {
    val e0 = copurchaseEdges(s, dir)
    val deg = e0.select(col("a").as("node")).unionAll(e0.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val tri = copurchaseTriangles(s, dir)
    deg.filter(col("deg") >= 2)
      .join(tri, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        expr("(coalesce(n_tri, 0) * 2000) div (deg * (deg - 1))").as("coeff_pm"))
  }

  val cc14Oracle: String =
    s"""WITH tri AS (SELECT node, n_tri FROM ($cc07Oracle) t),
       |e AS (
       | SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
       | FROM lineitem x JOIN lineitem y
       |  ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
       |deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
       | SELECT a AS node FROM e UNION ALL SELECT b FROM e) u GROUP BY node)
       |SELECT deg.node, deg.deg, COALESCE(tri.n_tri, 0) AS n_tri,
       | (COALESCE(tri.n_tri, 0) * 2000) // (deg.deg * (deg.deg - 1)) AS coeff_pm
       |FROM deg LEFT JOIN tri USING (node)
       |WHERE deg.deg >= 2""".stripMargin

  private def msRoundSql(r: Int): String =
    s"""d$r AS (
       | SELECT seed, node, MIN(dist) AS dist FROM (
       |  SELECT seed, node, dist FROM d${r - 1}
       |  UNION ALL
       |  SELECT d${r - 1}.seed, e.dst, d${r - 1}.dist + 1
       |  FROM e JOIN d${r - 1} ON e.src = d${r - 1}.node) u
       | GROUP BY seed, node)""".stripMargin

  val cc11Oracle: String =
    s"""WITH e0 AS (
       | SELECT DISTINCT o.o_custkey AS src, 10000000 + l.l_suppkey AS dst
       | FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
       |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
       |d0 AS (
       | SELECT DISTINCT src AS seed, src AS node, CAST(0 AS BIGINT) AS dist FROM e
       | WHERE src IN (SELECT 10000000 + s_suppkey FROM supplier
       |               WHERE s_nationkey = $harmonicSeedNation
       |                 AND s_suppkey % 2 = 0)),
       |${(1 to bfsRounds).map(msRoundSql).mkString(",\n")}
       |SELECT seed, COUNT(*) AS n_reached,
       | CAST(SUM(2520 // dist) AS BIGINT) AS harmonic_x2520
       |FROM d$bfsRounds WHERE dist > 0 GROUP BY seed""".stripMargin

  // ---------------------------------------------------------------------
  // dd09: INCREMENTAL dedup — a new batch (doc_id % 10 >= 8 stands in for
  // today's crawl) checked against the existing corpus, never against
  // itself: exact content-hash membership plus a cross-side LSH band join
  // (new bands × old bands only — no old×old or new×new pairing) with
  // Jaccard verification of the candidates. This is the daily-ingest
  // shape at 100 TB: the old side's signatures/bands are a precomputed
  // store read from disk (recomputed here because the testdata ships no
  // store), the band join shuffles only the incremental batch against
  // matching buckets, and verification touches candidate pairs alone.
  // Output: each new doc that duplicates the corpus, flagged exact/near.
  // ---------------------------------------------------------------------
  /** Broadcast Bloom filters over the corpus side's exact hashes and
    * packed LSH band keys — the classic membership pre-filter for
    * incremental dedup at scale. A mostly-novel daily batch is the common
    * case; without the filter EVERY new row shuffles into the semi-join
    * and every new band row shuffles into the band join, even though
    * almost none of them will match. With it, only bloom hits (true
    * matches + the fpp tail) reach the shuffles, and the filters
    * themselves are megabytes: answers are unchanged because every hit is
    * still confirmed by the real join — the bloom can only let extra rows
    * THROUGH to confirmation, never drop a true match.
    *
    * Sizing dial (documented, not hidden): `expectedItems`/`fpp` fix the
    * bit size, and merge-compatibility across [[DedupStore.rollForward]]
    * requires every increment to use the same constants. At ~1e9 corpus
    * docs and fpp 3% the hash filter is ~0.9 GB — near the practical
    * broadcast ceiling; beyond that, partition the corpus and bloom per
    * range, or lean on Spark's conf-first runtime row-level bloom
    * filtering (see RuntimeBloomFilterSpec) which builds on the shuffled
    * side instead of broadcasting.
    */
  final case class BloomPrefilter(
      hashes: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter],
      bands: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter]) {
    /** Both screens ride the native codegen'd `bloom_might_contain_bc`
      * (broadcast filter handle, deserialized once per JVM — see
      * [[graft.functions.BloomMightContainBC]]) instead of the boxed
      * Scala UDFs they started as: the corpus screen path evaluates this
      * per candidate row, where a UDF pays boxing and a codegen break per
      * call. The broadcast form (not a binary literal) matters at these
      * sizes: a ~3.5 MB literal is hashed by Catalyst during every plan
      * analysis pass — measured +2-3 s per store query at sf0.1. Both
      * filters key on BIGINT — the hash side pre-hashes the md5 hex with
      * xxhash64 (collisions only add bloom false positives, removed by
      * the verifying join downstream). */
    def hashFilter: Column = org.apache.spark.sql.graft.ColumnShim.column(
      graft.functions.BloomMightContainBC(
        org.apache.spark.sql.graft.ColumnShim.expression(hashKey), hashes))
    def bandFilter: Column = org.apache.spark.sql.graft.ColumnShim.column(
      graft.functions.BloomMightContainBC(
        org.apache.spark.sql.graft.ColumnShim.expression(bandKey), bands))
  }

  /** One 64-bit key per (band, k1, k2) row — packing collisions only add
    * bloom false positives, which the verifying join removes. */
  private def bandKey: Column = xxhash64(col("band"), col("k1"), col("k2"))

  /** 64-bit pre-hash of the md5 hex column `h` — the Long key domain the
    * native bloom expression (and `stat.bloomFilter` on a BIGINT column)
    * shares between build and probe. */
  private def hashKey: Column = xxhash64(col("h"))

  object BloomPrefilter {
    // Merge-compat constants shared by every store build/roll-forward.
    val expectedItems = 4_000_000L
    val fpp = 0.03

    /** The raw filter pair — [[DedupStore]] merges these in place on
      * roll-forward before serializing to the sidecar files. The two
      * builds scan DIFFERENT tables and are submitted from a 2-thread
      * ladder (guide §2.6): each is a driver-blocking aggregate job, so
      * running them back to back left the cluster idle through each
      * one's stage tail. Same two jobs, same filters — shorter critical
      * path. */
    def buildFilters(s: SparkSession, hashesOld: DataFrame, bandsOld: DataFrame)
        : (org.apache.spark.util.sketch.BloomFilter,
           org.apache.spark.util.sketch.BloomFilter) = {
      val both = Similarity.parLadder(Seq(
        () => buildHashFilterDf(hashesOld)
          .stat.bloomFilter("hk", expectedItems, fpp),
        () => buildBandFilterDf(bandsOld)
          .stat.bloomFilter("bk", expectedItems, fpp)))(f => f())
      (both(0), both(1))
    }

    /** The key projections the two filter builds scan — exposed so a
      * caller that must SEQUENCE one build differently (DedupStore.write
      * overlaps the hash build with the bands table write) derives the
      * identical key domain instead of duplicating it. */
    private[operators] def buildHashFilterDf(df: DataFrame): DataFrame =
      df.select(hashKey.as("hk"))
    private[operators] def buildBandFilterDf(df: DataFrame): DataFrame =
      df.select(bandKey.as("bk"))

    def apply(s: SparkSession, h: org.apache.spark.util.sketch.BloomFilter,
        b: org.apache.spark.util.sketch.BloomFilter): BloomPrefilter =
      BloomPrefilter(s.sparkContext.broadcast(h), s.sparkContext.broadcast(b))

    def build(s: SparkSession, hashesOld: DataFrame, bandsOld: DataFrame): BloomPrefilter = {
      val (h, b) = buildFilters(s, hashesOld, bandsOld)
      BloomPrefilter(s, h, b)
    }
  }

  /** The dd09 core against a PRE-STAGED corpus side — `hashesOld` (h),
    * `setsOld` (doc_id, sh) and `bandsOld` (doc_id, band, k1, k2) are the
    * precomputed dedup store a production pipeline maintains on disk and
    * reads, not recomputes, per increment. Both the batch query (dd09) and
    * the streaming front door ([[graft.streaming.EventStream
    * .incrementalDedupStream]]) delegate here, so the two entry points
    * can never drift semantically. When `prefilter` is set, the new side
    * is bloom-screened before BOTH shuffles (see [[BloomPrefilter]]);
    * results are identical either way. */
  def incrementalFlags(neu: DataFrame, hashesOld: DataFrame,
      setsOld: DataFrame, bandsOld: DataFrame,
      prefilter: Option[BloomPrefilter] = None): DataFrame = {
    val hashedNew = neu.select(col("doc_id"), md5(col("text")).as("h"))
    val exact = prefilter.fold(hashedNew)(p => hashedNew.filter(p.hashFilter))
      .join(hashesOld, Seq("h"), "left_semi")
      .select(col("doc_id")).distinct()
    val setsNew = shingleSets(neu).localCheckpoint()
    val allBandsNew = lshBands(minhashSigsFromSets(setsNew).drop("sh"))
    val bandsNew = prefilter.fold(allBandsNew)(p => allBandsNew.filter(p.bandFilter))
    val cand = bandsNew.as("n").join(bandsOld.as("o"),
        col("n.band") === col("o.band") && col("n.k1") === col("o.k1") &&
          col("n.k2") === col("o.k2"))
      .select(col("n.doc_id").as("doc_new"), col("o.doc_id").as("doc_old"))
      .distinct()
    val near = cand
      .join(setsNew.select(col("doc_id").as("doc_new"), col("sh").as("sh_n")), Seq("doc_new"))
      .join(setsOld.select(col("doc_id").as("doc_old"), col("sh").as("sh_o")), Seq("doc_old"))
      .filter(expr("""size(array_intersect(sh_n, sh_o)) * 10 >=
        (size(sh_n) + size(sh_o) - size(array_intersect(sh_n, sh_o))) * 7"""))
      .select(col("doc_new").as("doc_id")).distinct()
    neu.select(col("doc_id"))
      .join(exact.withColumn("dup_exact", lit(true)), Seq("doc_id"), "left")
      .join(near.withColumn("dup_near", lit(true)), Seq("doc_id"), "left")
      .filter(col("dup_exact").isNotNull || col("dup_near").isNotNull)
      .select(col("doc_id"),
        coalesce(col("dup_exact"), lit(false)).as("dup_exact"),
        coalesce(col("dup_near"), lit(false)).as("dup_near"))
  }

  /** INTRA-batch dedup flags — the within-micro-batch half of the
    * streaming ingest door's admission decision ([[graft.streaming
    * .EventStream.ingestDedupBatch]]): [[incrementalFlags]] checks a batch
    * against the standing store, so two copies arriving in the SAME batch
    * were both unflagged and both admitted (round-12 advice). This flags
    * every doc that duplicates a SMALLER-id doc of its own batch, in the
    * same (dup_exact, dup_near) shape:
    *  - exact: non-min doc_id per content hash — precisely the reference's
    *    row-at-a-time insert-conflict semantics
    *    (`/root/reference/src/database.rs:99-110`: within one batch the
    *    first writer lands, every later identical row conflicts; equality
    *    is transitive, so order-of-insert and flag-non-min agree);
    *  - near: LSH-candidate + exact-Jaccard ≥ 0.7 against ANY smaller-id
    *    batch doc. Deliberately a superset of strict sequential admission
    *    (there, a doc flagged against the store is absent, so a later
    *    near-twin of ONLY that doc would be admitted): the reference has
    *    no near-dup verb to defer to, and for dedup the conservative
    *    convention — never admit two near-twins from one batch — is the
    *    useful one. Documented divergence, spec-pinned.
    * Cost is the dd03 candidate shape over one micro-batch: banded
    * equi-join with `doc_old < doc_new`, verification on candidates only
    * — never all-pairs, O(batch) at any corpus size. */
  def intraBatchFlags(batch: DataFrame): DataFrame = {
    val hashed = batch.select(col("doc_id"), md5(col("text")).as("h"))
    val exact = hashed
      .withColumn("mn", min(col("doc_id")).over(Window.partitionBy(col("h"))))
      .filter(col("doc_id") > col("mn"))
      .select(col("doc_id")).distinct()
    val sets = shingleSets(batch).localCheckpoint()
    val bands = lshBands(minhashSigsFromSets(sets).drop("sh"))
    val cand = bands.as("n").join(bands.as("o"),
        col("n.band") === col("o.band") && col("n.k1") === col("o.k1") &&
          col("n.k2") === col("o.k2") && col("n.doc_id") > col("o.doc_id"))
      .select(col("n.doc_id").as("doc_new"), col("o.doc_id").as("doc_old"))
      .distinct()
    val near = cand
      .join(sets.select(col("doc_id").as("doc_new"), col("sh").as("sh_n")),
        Seq("doc_new"))
      .join(sets.select(col("doc_id").as("doc_old"), col("sh").as("sh_o")),
        Seq("doc_old"))
      .filter(expr("""size(array_intersect(sh_n, sh_o)) * 10 >=
        (size(sh_n) + size(sh_o) - size(array_intersect(sh_n, sh_o))) * 7"""))
      .select(col("doc_new").as("doc_id")).distinct()
    batch.select(col("doc_id"))
      .join(exact.withColumn("dup_exact", lit(true)), Seq("doc_id"), "left")
      .join(near.withColumn("dup_near", lit(true)), Seq("doc_id"), "left")
      .filter(col("dup_exact").isNotNull || col("dup_near").isNotNull)
      .select(col("doc_id"),
        coalesce(col("dup_exact"), lit(false)).as("dup_exact"),
        coalesce(col("dup_near"), lit(false)).as("dup_near"))
  }

  def dd09IncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val old = docs.filter(col("doc_id") % 10 < 8)
    val neu = docs.filter(col("doc_id") % 10 >= 8)
    val setsOld = shingleSets(old).localCheckpoint()
    incrementalFlags(neu,
      old.select(md5(col("text")).as("h")).distinct(),
      setsOld,
      lshBands(minhashSigsFromSets(setsOld).drop("sh")))
  }

  // ---------------------------------------------------------------------
  // dd12: dd09 with broadcast Bloom pre-filters on both membership probes
  // (exact hash + LSH band key). Same split, same answer, same oracle —
  // what changes is the PLAN: the mostly-novel batch is screened against
  // two megabyte-scale filters before anything shuffles, which at 100 TB
  // turns "shuffle today's whole crawl against the corpus store" into
  // "shuffle the hits". Blooms are built here in-query; the production
  // path persists them in the DedupStore and rolls them forward.
  // ---------------------------------------------------------------------
  def dd12BloomIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val old = docs.filter(col("doc_id") % 10 < 8)
    val neu = docs.filter(col("doc_id") % 10 >= 8)
    val setsOld = shingleSets(old).localCheckpoint()
    val hashesOld = old.select(md5(col("text")).as("h")).distinct().localCheckpoint()
    val bandsOld = lshBands(minhashSigsFromSets(setsOld).drop("sh")).localCheckpoint()
    incrementalFlags(neu, hashesOld, setsOld, bandsOld,
      Some(BloomPrefilter.build(s, hashesOld, bandsOld)))
  }

  val dd09Oracle: String = {
    val bandUnions = (b: String) => (0 until numHashes / 2).map(i =>
      s"SELECT doc_id, $i AS band, m${2 * i} AS k1, m${2 * i + 1} AS k2 FROM $b")
      .mkString("\n UNION ALL ")
    s"""WITH docs_old AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 < 8),
       |docs_new AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 >= 8),
       |${sigSqlFrom("docs_old", "sig_o")},
       |${sigSqlFrom("docs_new", "sig_n")},
       |bands_o AS (${bandUnions("sig_o")}),
       |bands_n AS (${bandUnions("sig_n")}),
       |cand AS (
       | SELECT DISTINCT n.doc_id AS doc_new, o.doc_id AS doc_old
       | FROM bands_n n JOIN bands_o o
       |  ON n.band = o.band AND n.k1 = o.k1 AND n.k2 = o.k2),
       |set_o AS (SELECT doc_id, list_distinct(list_filter($shinglesSql, x -> x IS NOT NULL)) AS sh
       |  FROM (${tkSqlFrom("docs_old")}) tks),
       |set_n AS (SELECT doc_id, list_distinct(list_filter($shinglesSql, x -> x IS NOT NULL)) AS sh
       |  FROM (${tkSqlFrom("docs_new")}) tks),
       |near AS (
       | SELECT DISTINCT c.doc_new AS doc_id
       | FROM cand c JOIN set_n s1 ON c.doc_new = s1.doc_id
       |  JOIN set_o s2 ON c.doc_old = s2.doc_id
       | WHERE len(list_intersect(s1.sh, s2.sh)) * 10 >=
       |  (len(s1.sh) + len(s2.sh) - len(list_intersect(s1.sh, s2.sh))) * 7),
       |ex AS (
       | SELECT DISTINCT n.doc_id FROM docs_new n
       | WHERE md5(n.text) IN (SELECT md5(text) FROM docs_old))
       |SELECT doc_id,
       | doc_id IN (SELECT doc_id FROM ex) AS dup_exact,
       | doc_id IN (SELECT doc_id FROM near) AS dup_near
       |FROM docs_new
       |WHERE doc_id IN (SELECT doc_id FROM ex)
       |   OR doc_id IN (SELECT doc_id FROM near)""".stripMargin
  }

  // ---------------------------------------------------------------------
  // cc20: K-TRUSS core of the co-purchase graph — cc07 counts triangles,
  // cc08 keeps degree-dense NODES (k-core); the truss keeps
  // triangle-dense EDGES: survive iff ≥ k-2 co-purchase triangles of the
  // surviving subgraph corroborate the pair. Peeling cascades to a
  // fixpoint (Relational.trussEdges), collapsing 115k raw co-purchase
  // edges to the ~5k genuinely clustered ones at sf0.01 — the
  // "recommendation backbone" extraction.
  //
  // Oracle: the DEFINITION unrolled — 10 rounds of naive a<b triangle
  // enumeration + support filter, CTEs MATERIALIZED (each round is
  // referenced four times; DuckDB would inline plain CTEs exponentially,
  // cc18's gotcha). The sf0.01 peel reaches fixpoint in 8 rounds, so
  // rounds 9–10 are idempotent no-ops and both sides serve the same
  // fixpoint; the engine side is budget-free (fails loudly at 40).
  // ---------------------------------------------------------------------
  def cc20Ktruss(s: SparkSession, dir: String): DataFrame =
    Relational.trussEdges(copurchaseEdges(s, dir), k = 10)

  val cc20Oracle: String = {
    val rounds = 10
    val steps = (0 until rounds).map { i =>
      s"""t${i + 1} AS MATERIALIZED (
         | SELECT e1.a AS x, e1.b AS y, e2.b AS z
         | FROM e$i e1 JOIN e$i e2 ON e1.b = e2.a
         |  JOIN e$i e3 ON e3.a = e1.a AND e3.b = e2.b),
         |e${i + 1} AS MATERIALIZED (
         | SELECT e.a, e.b FROM e$i e JOIN (
         |  SELECT a, b, COUNT(*) AS c FROM (
         |   SELECT x AS a, y AS b FROM t${i + 1}
         |   UNION ALL SELECT x, z FROM t${i + 1}
         |   UNION ALL SELECT y, z FROM t${i + 1}) u
         |  GROUP BY a, b) s USING (a, b)
         | WHERE s.c >= 8)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS MATERIALIZED (
       | SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
       | FROM lineitem x JOIN lineitem y
       |  ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
       |$steps
       |SELECT a, b FROM e$rounds""".stripMargin
  }

  // ---------------------------------------------------------------------
  // dd25: SPARSE COSINE similarity join over shingle COUNT vectors — the
  // all-pairs similarity search of Bayardo et al. (WWW'07) re-expressed
  // as posting-list dataflow. dd18's Jaccard treats a document as a
  // shingle SET; repetition-heavy near-dups (boilerplate, template spam)
  // are better separated by the multiset cosine, which weights each
  // shingle by how often it repeats. Blocking = "share at least one
  // DISCRIMINATIVE shingle" (document frequency 2..20): df=1 shingles
  // pair nothing, df>20 shingles are corpus boilerplate whose candidate
  // fan-out grows O(df²) while their evidence value vanishes — the
  // inverted-index pruning every sparse-similarity engine applies.
  // Verification is the EXACT full-vector dot via a candidate-restricted
  // posting join, so the is_sim verdict is exact for every candidate.
  //
  // Exactness: cos ≥ 0.6 is tested as 25·dot² ≥ 9·‖a‖²·‖b‖² — all
  // BIGINT, no sqrt, no floats anywhere.
  //
  // Scale shape: the corpus is shingle-counted ONCE (localCheckpoint)
  // and re-read by four consumers; candidates come from the rare-posting
  // self-join (fan-out bounded by df ≤ 20 → ≤190 pairs per shingle);
  // dots touch only candidate pairs' postings, never the O(n²) cross
  // join.
  // ---------------------------------------------------------------------
  /** dd25's phase split of the LAST run in this JVM: (candidate pairs,
    * candidate-generation wall). The exact-verify share is dd25's benched
    * total minus this wall (the ss11_phases arithmetic), so a contended
    * capture self-adjudicates: same pair count + uniform wall inflation =
    * host noise; a pair-count jump = the posting-band dial drifted. */
  val dd25PhaseLog = new java.util.concurrent.atomic.AtomicReference[
    Option[(Long, Double)]](None)

  def dd25CosinePairs(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    val t0 = System.nanoTime()
    val docs = Tables(s, dir, "documents")
    // The whole shingle-count derivation is row-local (a doc's shingles all
    // live in its own token array), so it is ONE codegen'd pass per row
    // (shingle_rle, r15 guide §4/§2.2): the doc table below carries each
    // doc's key-sorted count vector (ss, cs) AND its Σct² — what previously
    // took the interpreted transform() HOF + explode + a corpus-wide
    // (doc_id, s) exchange, then TWO more per-doc aggregates (the
    // sort_array(collect_list) docvec and the Σct² norm) over the
    // checkpointed posting rows. Values are identical: same shingles (the
    // expression mirrors the concat-null filter), same local counts, same
    // binary-sorted key order that sort_array produced.
    val dv0 = Tables.balanced(docs.select(col("doc_id"), split(col("text"), " ").as("tk")))
      .select(col("doc_id"), expr("shingle_rle(tk)").as("r"))
      .select(col("doc_id"), col("r.ss").as("ss"), col("r.cs").as("cs"),
        col("r.n2").as("n2"))
    // the returned plan is checkpoint-truncated; the one-pass claim is
    // evidenced by this env-gated pre-checkpoint dump (r14 plan hygiene)
    if (sys.env.contains("GRAFT_PLAN_DEBUG"))
      System.err.println("[plan] dd25 shingle-count pre-checkpoint:\n" +
        dv0.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    val dv = dv0
      .localCheckpoint() // feeds df, candidates, and the dot join
    val sc0 = dv.select(col("doc_id"), explode(col("ss")).as("s"))
    val dfreq = sc0.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val rare = sc0.join(dfreq.filter(col("df").between(2, 20)).select("s"), Seq("s"))
      .select(col("doc_id"), col("s"))
    val candRaw = rare.as("a").join(rare.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
      .distinct()
    // telemetry is BENCH-only (round-13 advice): the checkpoint+count pins
    // the full candidate-pair set in executor block-manager storage, which
    // the serving path must not pay — unflagged, the pairs stream straight
    // through the verify join below. Bench sets the flag, so the captures
    // keep their self-adjudicating pair count.
    val cand =
      if (s.conf.getOption("spark.graft.bench.telemetry").contains("true")) {
        // pinned: the pair set feeds one join but is ALSO the telemetry —
        // the count reads the checkpoint, not a recompute
        val pinned = candRaw.localCheckpoint()
        dd25PhaseLog.set(Some((pinned.count(), (System.nanoTime() - t0) / 1e9)))
        pinned
      } else candRaw
    // Exact verify WITHOUT the posting-join blowup (r14, guide §2.3/§3.3):
    // the join form (cand ⋈ postings(doc1) ⋈ postings(doc2) on s, then
    // SUM) materializes |cand| × postings-per-doc rows — 71.6M at sf0.1
    // for 1.12M candidates — through a hash probe and an aggregate. Each
    // doc's count vector arrives packed from shingle_rle (the SAME
    // s-sorted parallel arrays sort_array(collect_list) built before),
    // the pair join attaches two array handles AND both norms per
    // candidate (two 1:1 equi-joins instead of r14's four), and the exact
    // dot is one codegen'd two-pointer merge per pair (sparse_dot_l).
    // Same BIGINT arithmetic, same rows: every candidate shares ≥1 rare
    // shingle, so the inner posting join emitted every candidate too.
    cand
      .join(dv.select(col("doc_id").as("doc1"), col("ss").as("ss1"),
        col("cs").as("cs1"), col("n2").as("n2a")), Seq("doc1"))
      .join(dv.select(col("doc_id").as("doc2"), col("ss").as("ss2"),
        col("cs").as("cs2"), col("n2").as("n2b")), Seq("doc2"))
      .select(col("doc1"), col("doc2"),
        expr("sparse_dot_l(ss1, cs1, ss2, cs2)").as("dot"),
        col("n2a"), col("n2b"))
      .select(col("doc1"), col("doc2"), col("dot"), col("n2a"), col("n2b"),
        (lit(25L) * col("dot") * col("dot") >=
          lit(9L) * col("n2a") * col("n2b")).as("is_sim"))
  }

  val dd25Oracle: String =
    s"""WITH tks AS ($tkSql),
       |sh AS (
       | SELECT doc_id, unnest(list_filter($shinglesSql, x -> x IS NOT NULL)) AS s
       | FROM tks),
       |sc AS (SELECT doc_id, s, CAST(COUNT(*) AS BIGINT) AS ct FROM sh GROUP BY 1, 2),
       |dfreq AS (SELECT s FROM sc GROUP BY s HAVING COUNT(*) BETWEEN 2 AND 20),
       |n2 AS (SELECT doc_id, CAST(SUM(ct * ct) AS BIGINT) AS n2 FROM sc GROUP BY 1),
       |rare AS (SELECT sc.doc_id, sc.s FROM sc JOIN dfreq USING (s)),
       |cand AS (SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
       |  FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id),
       |dot AS (SELECT c.doc1, c.doc2, CAST(SUM(t1.ct * t2.ct) AS BIGINT) AS dot
       |  FROM cand c JOIN sc t1 ON t1.doc_id = c.doc1
       |   JOIN sc t2 ON t2.doc_id = c.doc2 AND t2.s = t1.s
       |  GROUP BY 1, 2)
       |SELECT d.doc1, d.doc2, d.dot, na.n2 AS n2a, nb.n2 AS n2b,
       | (25 * d.dot * d.dot >= 9 * na.n2 * nb.n2) AS is_sim
       |FROM dot d JOIN n2 na ON na.doc_id = d.doc1
       | JOIN n2 nb ON nb.doc_id = d.doc2""".stripMargin

  // ---------------------------------------------------------------------
  // cc21: PERSONALIZED PageRank from the three lowest-keyed customers of
  // the customer–supplier interaction graph — "who matters to THESE
  // nodes", the related-entity recommender cc05's global rank cannot
  // answer (a globally central hub scores high for everyone; PPR scores
  // it by proximity to the seeds). Same integer recurrence as cc05,
  // sparse rank table (only the reached ball carries rows — here the
  // bipartite graph's ball closes quickly, but on a web graph this is
  // the difference between a local job and a full-corpus one).
  // Oracle: the recurrence unrolled, restart union per round.
  // ---------------------------------------------------------------------
  def cc21Ppr(s: SparkSession, dir: String): DataFrame = {
    val seeds = Tables(s, dir, "orders")
      .select(col("o_custkey").as("node")).distinct()
      .orderBy(col("node")).limit(3)
    Relational.personalizedPageRank(interactionEdges(s, dir), seeds, prIters)
  }

  private def pprRoundSql(r: Int): String =
    s"""r$r AS (
       | SELECT node, CAST(SUM(pr) AS BIGINT) AS pr FROM (
       |  SELECT node, CAST(150000000 AS BIGINT) AS pr FROM seeds
       |  UNION ALL
       |  SELECT ed.dst, (85 * SUM(r${r - 1}.pr // ed.outdeg)) // 100
       |  FROM ed JOIN r${r - 1} ON ed.src = r${r - 1}.node GROUP BY ed.dst) u
       | GROUP BY node)""".stripMargin

  val cc21Oracle: String =
    s"""WITH e0 AS (
       | SELECT DISTINCT o.o_custkey AS src, 10000000 + l.l_suppkey AS dst
       | FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
       |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
       |deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
       |ed AS (SELECT e.src, e.dst, deg.outdeg FROM e JOIN deg USING (src)),
       |seeds AS (SELECT DISTINCT o_custkey AS node FROM orders ORDER BY node LIMIT 3),
       |r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS pr FROM seeds),
       |${(1 to prIters).map(pprRoundSql).mkString(",\n")}
       |SELECT node, pr FROM r$prIters""".stripMargin

  // ---------------------------------------------------------------------
  // dd26: WINNOWING fingerprints (Schleimer, Wilkerson & Aiken,
  // SIGMOD'03 — the MOSS algorithm): slide a window of 4 consecutive
  // shingle hashes and keep each window's MINIMUM as a fingerprint.
  // The guarantee minhash can't give: any shared run of ≥ w+2 tokens
  // between two documents shares at least one WINNOWED fingerprint —
  // position-robust local evidence, where dd02's global minhash only
  // sees whole-document similarity and dd10's span grams keep every
  // gram. Selection is ~1/w of grams, value-identical in any engine:
  // fingerprints are the DISTINCT window-min VALUES, so the rightmost-
  // vs-leftmost tie convention never matters.
  //
  // Pairing: fingerprint postings self-join with dd25's df ∈ [2, 20]
  // discrimination band (ubiquitous boilerplate fingerprints prune
  // out, as MOSS drops over-shared ones), pairs needing ≥ 2 shared
  // fingerprints. Hash = the repo's md5-prefix integer, identical SQL
  // on both engines.
  // ---------------------------------------------------------------------
  def dd26Winnowing(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    val docs = Tables(s, dir, "documents")
    // A doc's fingerprint set is a pure function of its own token array, so
    // the whole derivation — gram hash, length-4 window minima, per-doc
    // distinct — is ONE codegen'd pass per row (winnow_fps, r15 guide
    // §4/§2.2). Previously: posexplode to one row per gram, an interpreted
    // md5/conv chain per gram, a window whose doc-partition exchange+sort
    // moved every gram row, then a distinct exchange. The fingerprint
    // VALUES are bit-identical (same 60-bit md5-prefix hash, same full-
    // window minima, same distinct set — winnowing fingerprints are
    // value-defined, the tie convention never matters), and the exploded
    // (doc_id, fp) rows below are already distinct by construction.
    val fps0 = Tables.balanced(docs.select(col("doc_id"), split(col("text"), " ").as("tk")))
      .select(col("doc_id"), explode(expr("winnow_fps(tk)")).as("fp"))
    if (sys.env.contains("GRAFT_PLAN_DEBUG"))
      System.err.println("[plan] dd26 fps pre-checkpoint:\n" +
        fps0.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    val fps = fps0
      .localCheckpoint() // feeds the df filter and both join sides
    val banded = fps.join(
      fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
        .filter(col("df").between(2, 20)).select("fp"), Seq("fp"))
    banded.as("a").join(banded.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
  }

  val dd26Oracle: String =
    s"""WITH tks AS ($tkSql),
       |sh AS (
       | SELECT doc_id, CAST(generate_subscripts(l, 1) - 1 AS INTEGER) AS idx,
       |  unnest(l) AS sh
       | FROM (SELECT doc_id, $shinglesSql AS l FROM tks) f),
       |g AS (
       | SELECT doc_id, idx,
       |  ('0x' || substr(md5(sh), 1, 15))::BIGINT AS h
       | FROM sh WHERE sh IS NOT NULL),
       |wm AS (
       | SELECT doc_id, idx,
       |  MIN(h) OVER (PARTITION BY doc_id ORDER BY idx
       |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
       | FROM g),
       |fps AS (SELECT DISTINCT doc_id, fp FROM wm WHERE idx >= 3),
       |banded AS (
       | SELECT f.doc_id, f.fp FROM fps f JOIN (
       |  SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) BETWEEN 2 AND 20) d
       |  USING (fp))
       |SELECT a.doc_id AS doc1, b.doc_id AS doc2,
       | CAST(COUNT(*) AS BIGINT) AS n_shared
       |FROM banded a JOIN banded b
       | ON a.fp = b.fp AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING COUNT(*) >= 2""".stripMargin

  // ---------------------------------------------------------------------
  // cc22: HITS hubs & authorities (Kleinberg, JACM'99) on the DIRECTED
  // customer→supplier purchase graph — the dual-eigenvector centrality
  // cc05/cc21's single random-walk score can't express: a good HUB
  // (customer) buys from good authorities, a good AUTHORITY (supplier)
  // is bought by good hubs — the two scores reinforce mutually.
  // Three synchronous rounds of the power iteration with a fixed
  // ÷64 downscale per half-step standing in for the L2 normalization
  // (integer, engine-agnostic; HITS ranking only needs the relative
  // magnitudes, and the raw sums would grow geometrically by the
  // principal eigenvalue per round). All non-negative BIGINT — same
  // exactness contract as pageRank. One keyed sum per half-step; the
  // edge table is hash-partitioned once per direction.
  // ---------------------------------------------------------------------
  def cc22Hits(s: SparkSession, dir: String): DataFrame = {
    val scale = 1000000L
    val o = Tables(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val l = Tables(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    val e = o.join(l, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"), col("l_suppkey").as("dst"))
      .distinct().localCheckpoint()
    var hubs = e.select(col("src")).distinct().withColumn("h", lit(scale))
      .localCheckpoint()
    var auths: DataFrame = null
    // one lineage cut per HITS round, not two (round 15): the auth table
    // is consumed only by the same round's hub update (and the final
    // select, which re-derives the last round's auths from the
    // checkpointed hubs — one cheap extra join at action time), so its
    // per-round checkpoint was a pure job barrier
    for (_ <- 1 to 3) {
      auths = e.join(hubs, Seq("src"))
        .groupBy(col("dst")).agg(expr("sum(h) div 64").as("a"))
      hubs = e.join(auths, Seq("dst"))
        .groupBy(col("src")).agg(expr("sum(a) div 64").as("h"))
        .localCheckpoint()
    }
    hubs.select(col("src").as("node"), lit("hub").as("role"), col("h").as("score"))
      .unionByName(auths.select(col("dst").as("node"), lit("authority").as("role"),
        col("a").as("score")))
  }

  private def hitsRoundSql(r: Int): String =
    s"""a$r AS (
       | SELECT e.dst, CAST(SUM(h${r - 1}.h) // 64 AS BIGINT) AS a
       | FROM e JOIN h${r - 1} ON e.src = h${r - 1}.src GROUP BY e.dst),
       |h$r AS (
       | SELECT e.src, CAST(SUM(a$r.a) // 64 AS BIGINT) AS h
       | FROM e JOIN a$r ON e.dst = a$r.dst GROUP BY e.src)""".stripMargin

  val cc22Oracle: String =
    s"""WITH e AS (
       | SELECT DISTINCT o.o_custkey AS src, l.l_suppkey AS dst
       | FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
       |h0 AS (SELECT DISTINCT src, CAST(1000000 AS BIGINT) AS h FROM e),
       |${(1 to 3).map(hitsRoundSql).mkString(",\n")}
       |SELECT src AS node, 'hub' AS role, h AS score FROM h3
       |UNION ALL
       |SELECT dst, 'authority', a FROM a3""".stripMargin

  // ---------------------------------------------------------------------
  // cc23: K-SOURCE STRESS CENTRALITY on the interaction graph — "which
  // suppliers sit on the most shortest paths between these customers and
  // the rest of the market": the brokerage/bottleneck metric cc05's
  // random-walk rank and cc11's harmonic distance both miss (a node can
  // be CLOSE to everything yet lie on no one's path). Brandes' two-phase
  // sweep from the 4 lowest-keyed customers, horizon 6 (the sf graph
  // exhausts at distance 4); see Relational.stressCentrality for the
  // integer-exactness argument (path COUNTS, not betweenness ratios).
  // Oracle: both sweeps unrolled — forward σ-BFS rounds, the DAG, then
  // suffix-count rounds top-down — CTEs MATERIALIZED, every SUM cast
  // back to BIGINT (DuckDB HUGEINT otherwise).
  // ---------------------------------------------------------------------
  private val stressHorizon = 6

  def cc23StressCentrality(s: SparkSession, dir: String): DataFrame = {
    val seeds = Tables(s, dir, "orders")
      .select(col("o_custkey").as("node")).distinct()
      .orderBy(col("node")).limit(4)
    Relational.stressCentrality(interactionEdges(s, dir), seeds, stressHorizon)
  }

  val cc23Oracle: String = {
    val fwd = (0 until stressHorizon).map { d =>
      s"""s${d + 1} AS MATERIALIZED (
         | SELECT * FROM s$d
         | UNION ALL
         | SELECT f.seed, e.dst AS node, ${d + 1} AS dist,
         |  CAST(SUM(f.sigma) AS BIGINT) AS sigma
         | FROM s$d f JOIN e ON e.src = f.node
         | WHERE f.dist = $d AND NOT EXISTS (
         |   SELECT 1 FROM s$d v WHERE v.seed = f.seed AND v.node = e.dst)
         | GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    val back = (0 until stressHorizon).map { k =>
      val d = stressHorizon - 1 - k
      s"""c${k + 1} AS MATERIALIZED (
         | SELECT c.seed, c.node, c.dist,
         |  CASE WHEN c.dist = $d THEN COALESCE(s.x, 0) ELSE c.c END AS c
         | FROM c$k c LEFT JOIN (
         |  SELECT dag.seed, dag.u AS node, CAST(SUM(cv.c + 1) AS BIGINT) AS x
         |  FROM dag JOIN c$k cv ON cv.seed = dag.seed AND cv.node = dag.v
         |  WHERE dag.du = $d GROUP BY 1, 2) s
         | ON s.seed = c.seed AND s.node = c.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (
       | SELECT DISTINCT o.o_custkey AS src, 10000000 + l.l_suppkey AS dst
       | FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
       |e AS MATERIALIZED (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
       |seeds AS (SELECT DISTINCT o_custkey AS node FROM orders ORDER BY node LIMIT 4),
       |s0 AS (SELECT node AS seed, node, 0 AS dist, CAST(1 AS BIGINT) AS sigma FROM seeds),
       |$fwd,
       |dag AS MATERIALIZED (
       | SELECT u.seed, u.node AS u, v.node AS v, u.dist AS du
       | FROM s$stressHorizon u JOIN e ON e.src = u.node
       |  JOIN s$stressHorizon v ON v.seed = u.seed AND v.node = e.dst
       |   AND v.dist = u.dist + 1),
       |c0 AS (SELECT seed, node, dist, CAST(0 AS BIGINT) AS c FROM s$stressHorizon),
       |$back
       |SELECT st.node, CAST(SUM(st.sigma * c.c) AS BIGINT) AS stress
       |FROM s$stressHorizon st JOIN c$stressHorizon c
       | ON c.seed = st.seed AND c.node = st.node AND c.dist = st.dist
       |WHERE st.node != st.seed
       |GROUP BY 1 HAVING SUM(st.sigma * c.c) > 0""".stripMargin
  }

  // ---------------------------------------------------------------------
  // cc24: DEGREE ASSORTATIVITY (Newman, PRL 2002) of the co-purchase
  // graph — the Pearson correlation of endpoint degrees over edges:
  // positive = hubs buy with hubs (social-network shape), negative =
  // hubs pair with leaves (technological/star shape); the one-number
  // summary of a graph's wiring style. All five power sums are exact
  // BIGINTs over the symmetrized edge list; the final
  // r = (nΣxy − ΣxΣy) / √((nΣx² − (Σx)²)(nΣy² − (Σy)²)) is served as
  // the integer numerator and radicand pair plus ONE double expression —
  // IEEE sqrt is correctly rounded, so both engines produce the same
  // bits. By x↔y symmetry of the symmetrized list the two radicands are
  // equal; both are still served (the spec checks the symmetry).
  // ---------------------------------------------------------------------
  def cc24Assortativity(s: SparkSession, dir: String): DataFrame = {
    val e0 = copurchaseEdges(s, dir)
    val e = e0.unionAll(e0.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint()
    val deg = e.groupBy(col("a").as("n0")).agg(count(lit(1)).as("d"))
    val xy = e
      .join(broadcast(deg.select(col("n0").as("a"), col("d").as("dx"))), Seq("a"))
      .join(broadcast(deg.select(col("n0").as("b"), col("d").as("dy"))), Seq("b"))
    xy.agg(count(lit(1)).as("m"),
        sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
        sum(col("dx") * col("dy")).as("sxy"),
        sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dy") * col("dy")).as("syy"))
      // m·Σd² approaches 2^63 on hub-heavy graphs — fail loudly, don't
      // wrap. The guard lives INSIDE the served num column: a standalone
      // boolean column would be pruned away unevaluated by the optimizer.
      .select(col("m"),
        when(greatest(col("sxy"), col("sxx"), col("syy")) <
            lit(Long.MaxValue) / col("m"),
          col("m") * col("sxy") - col("sx") * col("sy"))
          .otherwise(raise_error(lit(
            "cc24: m * power sums would overflow BIGINT — rescale degrees")))
          .as("num"),
        (col("m") * col("sxx") - col("sx") * col("sx")).as("rad_x"),
        (col("m") * col("syy") - col("sy") * col("sy")).as("rad_y"))
      .withColumn("r", col("num").cast("double") /
        sqrt(col("rad_x").cast("double") * col("rad_y").cast("double")))
  }

  val cc24Oracle: String =
    """WITH e0 AS (
      | SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
      | FROM lineitem x JOIN lineitem y
      |  ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
      |e AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
      |deg AS (SELECT a AS n0, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY 1),
      |xy AS (
      | SELECT dx.d AS dx, dy.d AS dy
      | FROM e JOIN deg dx ON dx.n0 = e.a JOIN deg dy ON dy.n0 = e.b),
      |p AS (
      | SELECT CAST(COUNT(*) AS BIGINT) AS m,
      |  CAST(SUM(dx) AS BIGINT) AS sx, CAST(SUM(dy) AS BIGINT) AS sy,
      |  CAST(SUM(dx * dy) AS BIGINT) AS sxy,
      |  CAST(SUM(dx * dx) AS BIGINT) AS sxx,
      |  CAST(SUM(dy * dy) AS BIGINT) AS syy
      | FROM xy)
      |SELECT m, m * sxy - sx * sy AS num,
      | m * sxx - sx * sx AS rad_x, m * syy - sy * sy AS rad_y,
      | CAST(m * sxy - sx * sy AS DOUBLE) /
      |  sqrt(CAST(m * sxx - sx * sx AS DOUBLE) * CAST(m * syy - sy * sy AS DOUBLE)) AS r
      |FROM p""".stripMargin

  // ---------------------------------------------------------------------
  // cc25: RICH-CLUB coefficient (Zhou & Mondragón 2004) — φ(k) =
  // 2·E_k / (N_k·(N_k−1)): how densely the nodes of degree > k connect
  // AMONG THEMSELVES, at the four thresholds a topology report plots.
  // cc24's assortativity is the one-number trend; the rich-club curve
  // localizes WHERE the hubs clique up. One degree aggregate, one
  // broadcast membership screen per threshold over the same edge list,
  // exact (2·E_k, N_k·(N_k−1)) rational + one double.
  // ---------------------------------------------------------------------
  def cc25RichClub(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e0 = copurchaseEdges(s, dir)
    val deg = e0.select(col("a").as("n0")).unionAll(e0.select(col("b").as("n0")))
      .groupBy(col("n0")).agg(count(lit(1)).as("d"))
      .localCheckpoint()
    val ks = Seq(64L, 128L, 192L, 256L).toDF("k")
    val nk = ks.crossJoin(deg).filter(col("d") > col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_k"))
    val ek = ks.crossJoin(e0)
      .join(deg.select(col("n0").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("n0").as("b"), col("d").as("db")), Seq("b"))
      .filter(col("da") > col("k") && col("db") > col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("e_k"))
    nk.join(ek, Seq("k"), "left")
      .select(col("k"), col("n_k"), coalesce(col("e_k"), lit(0L)).as("e_k"))
      .withColumn("phi",
        when(col("n_k") < 2, lit(null).cast("double"))
          .otherwise((lit(2L) * col("e_k")).cast("double") /
            (col("n_k") * (col("n_k") - 1L))))
  }

  val cc25Oracle: String =
    """WITH e0 AS (
      | SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
      | FROM lineitem x JOIN lineitem y
      |  ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
      |deg AS (
      | SELECT n0, CAST(COUNT(*) AS BIGINT) AS d FROM (
      |  SELECT a AS n0 FROM e0 UNION ALL SELECT b FROM e0) u GROUP BY 1),
      |ks(k) AS (VALUES (64), (128), (192), (256)),
      |nk AS (
      | SELECT ks.k, CAST(COUNT(*) AS BIGINT) AS n_k
      | FROM ks JOIN deg ON deg.d > ks.k GROUP BY 1),
      |ek AS (
      | SELECT ks.k, CAST(COUNT(*) AS BIGINT) AS e_k
      | FROM ks JOIN e0 ON true
      |  JOIN deg da ON da.n0 = e0.a JOIN deg db ON db.n0 = e0.b
      | WHERE da.d > ks.k AND db.d > ks.k GROUP BY 1)
      |SELECT CAST(nk.k AS BIGINT) AS k, nk.n_k, COALESCE(ek.e_k, 0) AS e_k,
      | CASE WHEN nk.n_k < 2 THEN NULL
      |  ELSE CAST(2 * COALESCE(ek.e_k, 0) AS DOUBLE) / (nk.n_k * (nk.n_k - 1))
      | END AS phi
      |FROM nk LEFT JOIN ek ON ek.k = nk.k""".stripMargin

  val queries: Map[String, Q] = Map(
    "cc25_rich_club" -> (cc25RichClub _),
    "cc24_assortativity" -> (cc24Assortativity _),
    "cc23_stress_centrality" -> (cc23StressCentrality _),
    "cc22_hits" -> (cc22Hits _),
    "dd26_winnowing" -> (dd26Winnowing _),
    "cc21_ppr" -> (cc21Ppr _),
    "dd25_cosine_pairs" -> (dd25CosinePairs _),
    "cc20_ktruss" -> (cc20Ktruss _),
    "dd09_incremental" -> (dd09IncrementalDedup _),
    "dd12_bloom_incremental" -> (dd12BloomIncremental _),
    "cc01_dup_components" -> (cc01DupComponents _),
    "cc04_cluster_sizes" -> (cc04ClusterSizes _),
    "cc02_dup_components_star" -> (cc02DupComponentsStar _),
    "cc03_canonical" -> (cc03Canonical _),
    "cc05_pagerank" -> (cc05PageRank _),
    "cc06_label_prop" -> (cc06LabelProp _),
    "cc07_triangles" -> (cc07Triangles _),
    "cc08_kcore" -> (cc08KCore _),
    "cc09_bfs_hops" -> (cc09BfsHops _),
    "cc10_sssp" -> (cc10Sssp _),
    "cc11_harmonic" -> (cc11Harmonic _),
    "cc12_degree_dist" -> (cc12DegreeDist _),
    "cc13_link_predict" -> (cc13LinkPredict _),
    "cc14_clustering_coeff" -> (cc14ClusteringCoeff _),
    "cc16_modularity" -> (cc16Modularity _),
    "cc17_scc" -> (cc17Scc _),
    "cc18_condensation" -> (cc18Condensation _),
    "cc19_bipartite_projection" -> (cc19BipartiteProjection _),
    "dd19_cdc_chunks" -> (dd19CdcChunks _),
    "dd20_semdedup" -> (dd20Semdedup _),
    "dd21_cross_signal" -> (dd21CrossSignalVerify _),
    "dd23_incremental_semdedup" -> (dd23IncrementalSemdedup _),
    "tp09_dedup_funnel" -> (tp09DedupFunnel _),
    "tp01_corpus_curation" -> (tp01CorpusCuration _),
    "dd01_exact_dedup" -> (dd01ExactDedup _),
    "dd02_minhash_sig" -> (dd02MinhashSig _),
    "dd03_lsh_pairs" -> (dd03LshPairs _),
    "dd04_simhash" -> (dd04Simhash _),
    "dd05_jaccard_verify" -> (dd05JaccardVerify _),
    "dd14_containment_verify" -> (dd14ContainmentVerify _),
    "dd15_sig_estimate" -> (dd15SigEstimate _),
    "dd16_lsh_curve" -> (dd16LshCurve _),
    "dd17_sorted_neighborhood" -> (dd17SortedNeighborhood _),
    "dd18_prefix_filter" -> (dd18PrefixFilter _),
    "dd06_emb_neardup" -> (dd06EmbNeardup _),
    "dd07_dedup_pipeline" -> (dd07DedupPipeline _),
    "dd08_emb_neardup_lsh" -> (dd08EmbNeardupLsh _))

  val oracles: Map[String, String] = Map(
    "cc25_rich_club" -> cc25Oracle,
    "cc24_assortativity" -> cc24Oracle,
    "cc23_stress_centrality" -> cc23Oracle,
    "cc22_hits" -> cc22Oracle,
    "dd26_winnowing" -> dd26Oracle,
    "cc21_ppr" -> cc21Oracle,
    "dd25_cosine_pairs" -> dd25Oracle,
    "cc20_ktruss" -> cc20Oracle,
    "dd09_incremental" -> dd09Oracle,
    "dd12_bloom_incremental" -> dd09Oracle,
    "cc01_dup_components" -> cc01Oracle,
    "cc04_cluster_sizes" -> cc04Oracle,
    "cc02_dup_components_star" -> cc01Oracle,
    "cc03_canonical" -> cc03Oracle,
    "cc05_pagerank" -> cc05Oracle,
    "cc06_label_prop" -> cc06Oracle,
    "cc07_triangles" -> cc07Oracle,
    "cc08_kcore" -> cc08Oracle,
    "cc09_bfs_hops" -> cc09Oracle,
    "cc10_sssp" -> cc10Oracle,
    "cc11_harmonic" -> cc11Oracle,
    "cc12_degree_dist" -> cc12Oracle,
    "cc13_link_predict" -> cc13Oracle,
    "cc14_clustering_coeff" -> cc14Oracle,
    "cc16_modularity" -> cc16Oracle,
    "cc17_scc" -> cc17Oracle,
    "cc18_condensation" -> cc18Oracle,
    "cc19_bipartite_projection" -> cc19Oracle,
    "dd19_cdc_chunks" -> dd19Oracle,
    "dd20_semdedup" -> dd20Oracle,
    "dd21_cross_signal" -> dd21Oracle,
    "dd23_incremental_semdedup" -> dd23Oracle,
    "tp09_dedup_funnel" -> tp09Oracle,
    "tp01_corpus_curation" -> tp01Oracle,
    "dd01_exact_dedup" -> dd01Oracle,
    "dd02_minhash_sig" -> dd02Oracle,
    "dd03_lsh_pairs" -> dd03Oracle,
    "dd04_simhash" -> dd04Oracle,
    "dd05_jaccard_verify" -> dd05Oracle,
    "dd14_containment_verify" -> dd14Oracle,
    "dd15_sig_estimate" -> dd15Oracle,
    "dd16_lsh_curve" -> dd16Oracle,
    "dd17_sorted_neighborhood" -> dd17Oracle,
    "dd18_prefix_filter" -> dd18Oracle,
    "dd06_emb_neardup" -> dd06Oracle,
    "dd07_dedup_pipeline" -> dd07Oracle,
    "dd08_emb_neardup_lsh" -> dd08Oracle)
}
