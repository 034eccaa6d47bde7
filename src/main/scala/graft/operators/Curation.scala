package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Dataset-curation operators for a training-data pipeline: deterministic
  * train/val/test splitting, per-stratum mixture sampling, and eval-set
  * decontamination. These sit downstream of the dedup/quality surface
  * ([[Dedup]], [[TextOps]]) and upstream of tokenization.
  *
  * Scale notes (the whole point of these shapes):
  *  - Splits/sampling are pure per-row hash arithmetic — zero shuffles,
  *    fully codegen'd, and stable under re-runs/backfills because the
  *    bucket derives from content, not from row order or RNG state.
  *  - Decontamination joins the (huge) training side against the (small)
  *    eval side on 60-bit n-gram hashes: the eval side broadcasts, so the
  *    100 TB side never shuffles; shipping 8-byte hashes instead of raw
  *    n-gram strings keeps the build side tiny.
  */
object Curation {
  import Relational.{Q, pin}

  /** First 8 hex chars of md5 as a non-negative long in [0, 2^32) — the
    * portable content-hash bucket both Spark and DuckDB compute
    * identically. */
  private def hashBucket(c: Column, mod: Int): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long") % mod

  /** The ONE bucket→split mapping (80/10/10) shared by every split fence
    * (ds01 per-doc, ds04 per-source, tp02's pipeline stage) — changing the
    * ratios happens here and in the oracles, nowhere else. */
  private def splitOf(bucket: Column): Column =
    when(bucket < 80, "train")
      .when(bucket < 90, "validation")
      .otherwise("test")

  // ---------------------------------------------------------------------
  // ds01: deterministic train/val/test split by content hash. 80/10/10 by
  // md5 bucket — membership is a pure function of the document text, so
  // the split survives re-ingestion, sharding changes, and incremental
  // appends (unlike rand()-based sampling, which is neither stable nor
  // reproducible across partitionings).
  // ---------------------------------------------------------------------
  def ds01HashSplit(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    docs.select(col("doc_id"), hashBucket(col("text"), 100).as("bucket"))
      .withColumn("split", splitOf(col("bucket")))
  }

  val ds01Oracle: String =
    """SELECT doc_id, bucket,
      | CASE WHEN bucket < 80 THEN 'train'
      |      WHEN bucket < 90 THEN 'validation'
      |      ELSE 'test' END AS split
      |FROM (SELECT doc_id,
      |  ('0x' || substr(md5(text), 1, 8))::BIGINT % 100 AS bucket
      | FROM documents) t""".stripMargin

  // ---------------------------------------------------------------------
  // ds02: stratified mixture sampling — each language stratum keeps a
  // configured percentage, selected by a salted content hash (salt keeps
  // it independent of the ds01 split buckets). The rate table is a
  // broadcast dim; the corpus side is a scan + filter, no shuffle.
  // This is the "data mixture" knob of a training pipeline (e.g. upsample
  // low-resource languages, downsample boilerplate-heavy sources).
  // ---------------------------------------------------------------------
  private val mixRates: Seq[(String, Int)] =
    Seq("en" -> 40, "de" -> 80, "es" -> 100, "fr" -> 25, "zh" -> 60)

  def ds02StratifiedSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir, "documents")
    val rates = mixRates.toDF("lang", "keep_pct")
    docs.join(broadcast(rates), Seq("lang"), "left")
      .withColumn("bucket", hashBucket(concat(lit("mix1:"), col("text")), 100))
      .filter(col("bucket") < coalesce(col("keep_pct"), lit(100)))
      .select(col("doc_id"), col("lang"), col("bucket"))
  }

  val ds02Oracle: String = {
    val values = mixRates.map { case (l, p) => s"('$l', $p)" }.mkString(", ")
    s"""WITH r(lang, keep_pct) AS (VALUES $values),
       |b AS (SELECT doc_id, lang,
       |  ('0x' || substr(md5('mix1:' || text), 1, 8))::BIGINT % 100 AS bucket
       | FROM documents)
       |SELECT b.doc_id, b.lang, b.bucket
       |FROM b LEFT JOIN r USING (lang)
       |WHERE b.bucket < COALESCE(r.keep_pct, 100)""".stripMargin
  }

  // ---------------------------------------------------------------------
  // dc01: eval-set decontamination — flag training documents sharing any
  // 5-token n-gram with the held-out eval slice (doc_id % 97 == 0 stands
  // in for a benchmark suite). Grams are canonicalized (lowercase,
  // alnum-only, collapsed whitespace) then reduced to 60-bit md5-prefix
  // hashes; the distinct eval-gram set is small → broadcast, so the
  // training side is scanned once with no shuffle before the final
  // per-doc count. Output: contaminated doc_id + how many distinct eval
  // grams it shares (the usual threshold input).
  // ---------------------------------------------------------------------
  /** (doc_id, gh) 5-gram hashes over canonicalized text. The gram hashing
    * is the native one-pass `ngram_hashes` expression
    * ([[graft.functions.NGramHashes]]) — bit-identical to the built-in
    * `conv(substring(md5(concat_ws(' ', slice(toks, i, 5))), 1, 15), 16, 10)`
    * chain the DuckDB oracle evaluates, but one reused digest/buffer per
    * row instead of an interpreted lambda over four expression nodes per
    * gram. */
  private def gramHashes(docs: DataFrame): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
    val toks = expr("filter(split(norm, ' '), x -> x != '')")
    docs.select(col("doc_id"), norm.as("norm"))
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"),
        explode(expr("ngram_hashes(toks, 5)")).as("gh"))
  }

  // ---------------------------------------------------------------------
  // dd10: cross-document repeated-span detection — for every doc, how many
  // of its DISTINCT 8-token spans also occur in at least one OTHER doc
  // (the memorization-removal signal of Lee et al. 2022, "Deduplicating
  // Training Data Makes Language Models Better", approximated at the
  // fixed-length-gram granularity a shuffle engine handles natively
  // instead of a distributed suffix array). Unlike dc01 this is
  // corpus-vs-corpus, so neither side broadcasts; the scale shape is the
  // canonical two-exchange plan: per-doc-distinct gram hashes (computed
  // MAP-SIDE via array_distinct before the explode — no dedup shuffle),
  // one exchange to count docs per gram, one exchange to join the gram
  // stream back to the shared subset, then a tiny per-doc count. 60-bit
  // hashes mean ~8 bytes cross the wire per span, never the span text.
  // ---------------------------------------------------------------------
  private def distinctGramHashes(docs: DataFrame, n: Int): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
    val toks = expr("filter(split(norm, ' '), x -> x != '')")
    docs.select(col("doc_id"), norm.as("norm"))
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"),
        explode(array_distinct(expr(s"ngram_hashes(toks, $n)"))).as("gh"))
  }

  def dd10RepeatedSpans(s: SparkSession, dir: String): DataFrame = {
    val g = distinctGramHashes(Tables(s, dir, "documents"), 8)
    // g is per-doc distinct, so count(*) per gh IS the distinct doc count
    // and the final count(*) per doc IS the distinct shared-gram count —
    // both stay plain counts (map-side partial agg), no countDistinct
    // expansion anywhere.
    val shared = g.groupBy(col("gh")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select(col("gh"))
    g.join(shared, Seq("gh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared_grams"))
  }

  val dd10Oracle: String =
    s"""WITH nrm AS (
       | SELECT doc_id, list_filter(string_split(
       |   trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')),
       |   ' '), x -> x != '') AS toks
       | FROM documents),
       |g AS (
       | SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 6),
       |   i -> ('0x' || substr(md5(array_to_string(toks[i:i+7], ' ')), 1, 15))::BIGINT))) AS gh
       | FROM nrm),
       |shared AS (SELECT gh FROM g GROUP BY gh HAVING COUNT(*) >= 2)
       |SELECT g.doc_id, COUNT(*) AS n_shared_grams
       |FROM g JOIN shared USING (gh)
       |GROUP BY g.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // dd22: MAXIMAL shared-span EXTRACTION — dd10's other half. dd10 counts
  // how much of a doc is duplicated somewhere; dd22 says WHERE: for each
  // doc pair, the maximal runs of consecutive shared 8-token grams, i.e.
  // the actual copied passages (the span-level output of Lee et al.
  // 2022's ExactSubstr dedup, re-expressed for a shuffle engine: a
  // distributed suffix array is the wrong tool when consecutive-gram
  // coalescing gets the same maximal spans from equi-joins + one
  // window). A run of k consecutive positions with the same alignment
  // offset is one shared substring of k+7 tokens; emitting (start_a,
  // start_b, n_toks) is what a surgical span-removal pass consumes.
  //
  // Scale shape: positional grams are map-side; only grams shared by
  // 2..16 docs build pairs (the SAME bounded-fan-out defense as cc13's
  // capped wedges — a boilerplate gram in 10⁴ docs would otherwise
  // square; those grams are para-dedup territory (dd13), not pair
  // evidence), so pair volume is Σ min(nd,16)² per gram. The
  // island window runs per (pair, offset) — alignment groups are span-
  // sized, never corpus-sized.
  // ---------------------------------------------------------------------
  private val spanGramDocCap = 16

  def dd22SharedSpans(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(s, dir, "documents")
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
    val toks = expr("filter(split(norm, ' '), x -> x != '')")
    val pg = docs.select(col("doc_id"), norm.as("norm"))
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"),
        posexplode(expr("ngram_hashes(toks, 8)")).as(Seq("pos0", "gh")))
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"), col("gh"))
      .transform(pin)
    val keep = pg.select(col("doc_id"), col("gh")).distinct()
      .groupBy(col("gh")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2 && col("nd") <= spanGramDocCap)
      .select(col("gh"))
    val hits = pg.join(keep, Seq("gh"))
    val pairs = hits.select(col("gh"), col("doc_id").as("doc_a"), col("pos").as("pa"))
      .join(hits.select(col("gh"), col("doc_id").as("doc_b"), col("pos").as("pb")),
        Seq("gh"))
      .filter(col("doc_a") < col("doc_b"))
    val w = Window.partitionBy(col("doc_a"), col("doc_b"), col("pa") - col("pb"))
      .orderBy(col("pa"))
    pairs
      .withColumn("seg", col("pa") - row_number().over(w))
      .groupBy(col("doc_a"), col("doc_b"), col("pa") - col("pb"), col("seg"))
      .agg(min(col("pa")).as("a_start"), min(col("pb")).as("b_start"),
        (count(lit(1)) + 7).as("n_toks"))
      .select(col("doc_a"), col("doc_b"), col("a_start"), col("b_start"),
        col("n_toks"))
  }

  val dd22Oracle: String =
    s"""WITH nrm AS (
       | SELECT doc_id, list_filter(string_split(
       |   trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')),
       |   ' '), x -> x != '') AS toks
       | FROM documents),
       |pg AS (
       | SELECT doc_id, unnest(range(1, len(toks) - 6)) AS pos,
       |  unnest(list_transform(range(1, len(toks) - 6),
       |   i -> ('0x' || substr(md5(array_to_string(toks[i:i+7], ' ')), 1, 15))::BIGINT)) AS gh
       | FROM nrm),
       |keep AS (
       | SELECT gh FROM (SELECT DISTINCT doc_id, gh FROM pg) d
       | GROUP BY gh HAVING COUNT(*) BETWEEN 2 AND $spanGramDocCap),
       |pr AS (
       | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb
       | FROM pg a JOIN keep USING (gh) JOIN pg b USING (gh)
       | WHERE a.doc_id < b.doc_id),
       |seg AS (
       | SELECT doc_a, doc_b, pa, pb,
       |  pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, pa - pb
       |    ORDER BY pa) AS seg
       | FROM pr)
       |SELECT doc_a, doc_b,
       | CAST(MIN(pa) AS BIGINT) AS a_start, CAST(MIN(pb) AS BIGINT) AS b_start,
       | CAST(COUNT(*) + 7 AS BIGINT) AS n_toks
       |FROM seg GROUP BY doc_a, doc_b, pa - pb, seg""".stripMargin

  // ---------------------------------------------------------------------
  // dd24: span EXCISION — ExactSubstr's removal step (Lee et al. 2022
  // cut the duplicated substring out of the text, not the document out
  // of the corpus; dd22 finds the spans, dd24 performs the surgery).
  // Policy: each shared passage survives in the LOWEST doc id that has
  // it — every dd22 pair is doc_a < doc_b, so the b-side intervals
  // [b_start, b_start + n_toks) are the removals; doc_a's copy stands.
  // Overlapping removals (one passage shared with many docs, offset
  // variants) are merged per doc by the standard islands window over
  // interval starts BEFORE touching any text, so the per-doc interval
  // list the excision consumes is minimal and disjoint.
  //
  // Scale shape: spans are pair-bounded by dd22's gram cap, the interval
  // merge windows over per-doc span counts (never corpus-wide), and the
  // excision itself is ONE codegen'd higher-order filter per doc — the
  // merged intervals ride along as a tiny array column (hash equi-join on
  // doc_id), so no token-level explode and no position range-join ever
  // materializes corpus × spans. Output: per affected-or-clean doc, the
  // token accounting and a fingerprint of the surviving token stream
  // (the cross-engine witness that BOTH sides cut exactly the same
  // tokens).
  // ---------------------------------------------------------------------
  def dd24SpanExcision(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spans = dd22SharedSpans(s, dir)
    val iv = spans.select(col("doc_b").as("doc_id"), col("b_start").as("s0"),
      (col("b_start") + col("n_toks") - 1).as("e0"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("s0"), col("e0"))
    val maxPrev = max(col("e0"))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    val merged = iv
      .withColumn("fresh",
        (col("s0") > coalesce(maxPrev, lit(Long.MinValue))).cast("long"))
      .withColumn("island",
        sum(col("fresh")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("s0")).as("s"), max(col("e0")).as("e"))
    val ivs = merged.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sort_array(collect_list(struct(col("s"), col("e")))).as("ivs"))
    val docs = Tables(s, dir, "documents")
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
    docs.select(col("doc_id"), norm.as("norm"))
      .select(col("doc_id"),
        expr("filter(split(norm, ' '), x -> x != '')").as("toks"))
      .join(ivs, Seq("doc_id"), "left")
      .withColumn("ivs", coalesce(col("ivs"),
        expr("CAST(array() AS array<struct<s:bigint,e:bigint>>)")))
      // sequence(1, n) is DESCENDING for n = 0 (dd13's trap) — guard empties.
      .withColumn("kept", expr(
        """CASE WHEN size(toks) > 0 THEN transform(
          |  filter(sequence(1, size(toks)),
          |    p -> NOT exists(ivs, v -> p >= v.s AND p <= v.e)),
          |  p -> element_at(toks, p))
          |ELSE CAST(array() AS array<string>) END""".stripMargin))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_toks"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        (size(col("toks")) - size(col("kept"))).cast("long").as("n_removed"),
        size(col("kept")).cast("long").as("n_kept"),
        expr("CAST(conv(substring(md5(concat_ws(' ', kept)), 1, 15), 16, 10) AS BIGINT)")
          .as("clean_fp"))
  }

  val dd24Oracle: String =
    s"""WITH nrm AS (
       | SELECT doc_id, list_filter(string_split(
       |   trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')),
       |   ' '), x -> x != '') AS toks
       | FROM documents),
       |pg AS (
       | SELECT doc_id, unnest(range(1, len(toks) - 6)) AS pos,
       |  unnest(list_transform(range(1, len(toks) - 6),
       |   i -> ('0x' || substr(md5(array_to_string(toks[i:i+7], ' ')), 1, 15))::BIGINT)) AS gh
       | FROM nrm),
       |keep AS (
       | SELECT gh FROM (SELECT DISTINCT doc_id, gh FROM pg) d
       | GROUP BY gh HAVING COUNT(*) BETWEEN 2 AND $spanGramDocCap),
       |pr AS (
       | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb
       | FROM pg a JOIN keep USING (gh) JOIN pg b USING (gh)
       | WHERE a.doc_id < b.doc_id),
       |seg AS (
       | SELECT doc_a, doc_b, pa, pb,
       |  pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, pa - pb
       |    ORDER BY pa) AS seg
       | FROM pr),
       |sp AS (
       | SELECT doc_b AS doc_id, MIN(pb) AS s0, MIN(pb) + COUNT(*) + 6 AS e0
       | FROM seg GROUP BY doc_a, doc_b, pa - pb, seg),
       |isl AS (
       | SELECT doc_id, s0, e0,
       |  SUM(CASE WHEN mp IS NULL OR s0 > mp THEN 1 ELSE 0 END)
       |   OVER (PARTITION BY doc_id ORDER BY s0, e0
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       | FROM (
       |  SELECT doc_id, s0, e0,
       |   MAX(e0) OVER (PARTITION BY doc_id ORDER BY s0, e0
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mp
       |  FROM sp) t),
       |mg AS (
       | SELECT doc_id, island, MIN(s0) AS s, MAX(e0) AS e
       | FROM isl GROUP BY doc_id, island),
       |ivs AS (
       | SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
       |  list_sort(list(struct_pack(s := s, e := e))) AS ivs
       | FROM mg GROUP BY doc_id),
       |cut AS (
       | SELECT nrm.doc_id, toks,
       |  COALESCE(n_spans, 0) AS n_spans,
       |  list_transform(
       |   list_filter(range(1, len(toks) + 1),
       |    p -> ivs.ivs IS NULL OR
       |         len(list_filter(ivs.ivs, v -> p >= v.s AND p <= v.e)) = 0),
       |   p -> toks[p]) AS kept
       | FROM nrm LEFT JOIN ivs USING (doc_id))
       |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks, n_spans,
       | CAST(len(toks) - len(kept) AS BIGINT) AS n_removed,
       | CAST(len(kept) AS BIGINT) AS n_kept,
       | -- array_to_string([]) is NULL in DuckDB (Spark's concat_ws gives '')
       | ('0x' || substr(md5(COALESCE(array_to_string(kept, ' '), '')), 1, 15))::BIGINT AS clean_fp
       |FROM cut""".stripMargin

  // ---------------------------------------------------------------------
  // dd13: corpus-wide paragraph dedup (RefinedWeb/Falcon-style) — exact
  // dedup at SUB-document granularity: chop each doc into fixed 20-token
  // chunks (the paragraph stand-in for this corpus, which has no line
  // breaks), keep only the FIRST occurrence of each chunk corpus-wide
  // (first = lowest (doc_id, chunk_idx)), and report per doc how many of
  // its chunks survive. Catches the boilerplate/navigation text that
  // whole-document dedup (dd01) misses because the surrounding document
  // differs.
  //
  // Scale shape: chunks are hashed to 60 bits map-side (8 bytes on the
  // wire, never chunk text); the winner per chunk hash is a min-struct
  // AGGREGATE (map-side partial, so a chunk repeated across half the
  // corpus collapses locally instead of hot-keying a window sort), and
  // the join back to the chunk stream is hash-equi on the same key. Two
  // exchanges total, same as dd10.
  // ---------------------------------------------------------------------
  private val chunkWidth = 20

  def dd13ParagraphDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val toks = expr("filter(split(text, ' '), x -> x != '')")
    // sequence(0, n-1) is DESCENDING for n = 0, so guard empty docs.
    val chunkList = expr(
      s"""CASE WHEN size(toks) > 0 THEN
         |  transform(sequence(0, cast(ceil(size(toks) / $chunkWidth.0) as int) - 1),
         |    i -> conv(substring(md5(concat_ws(' ',
         |           slice(toks, i * $chunkWidth + 1, $chunkWidth))), 1, 15), 16, 10))
         |ELSE CAST(array() AS array<string>) END""".stripMargin)
    val chunks = docs.select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"), posexplode(chunkList).as(Seq("idx", "ch")))
      .select(col("doc_id"), col("idx"), col("ch").cast("long").as("ch"))
    // The winner key is PACKED into one BIGINT (doc_id·2^20 + idx) so the
    // aggregate is a plain codegen'd HashAggregate with map-side partials —
    // both min(struct(...)) and min_by(struct ordering) fall back to
    // SortAggregate, a per-phase sort of the whole chunk stream at 100 TB.
    // Packing is lexicographic iff idx < 2^20 and doc_id < 2^43 — asserted
    // loudly (q30's pattern) so a violating corpus fails instead of
    // silently mis-picking winners.
    val winners = chunks.groupBy(col("ch"))
      .agg(min(col("doc_id") * 1048576L + col("idx")).as("wp"),
        max(col("idx")).as("__mi"), max(col("doc_id")).as("__md"),
        min(col("doc_id")).as("__nd"))
      .withColumn("wp",
        when(col("__mi") < 1048576 && col("__md") < 8796093022208L &&
            col("__nd") >= 0, col("wp"))
          .otherwise(raise_error(
            lit("dd13: idx >= 2^20, doc_id >= 2^43, or doc_id < 0 " +
              "breaks the packed winner key"))))
      .select(col("ch"), expr("wp div 1048576").as("w_doc"),
        (col("wp") % 1048576L).as("w_idx"))
    chunks.join(winners, Seq("ch"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        count(when(col("doc_id") === col("w_doc") && col("idx") === col("w_idx"),
          lit(1))).as("n_kept_chunks"))
  }

  val dd13Oracle: String =
    s"""WITH t AS (
       | SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks
       | FROM documents),
       |c AS (
       | SELECT doc_id, i AS idx,
       |  ('0x' || substr(md5(array_to_string(
       |     toks[(i * $chunkWidth + 1):(i * $chunkWidth + $chunkWidth)], ' ')), 1, 15))::BIGINT AS ch
       | FROM t, LATERAL unnest(range(0, CAST(ceil(len(toks) / $chunkWidth.0) AS INT))) AS u(i)
       | WHERE len(toks) > 0),
       |r AS (
       | SELECT doc_id, idx,
       |  ROW_NUMBER() OVER (PARTITION BY ch ORDER BY doc_id, idx) AS rn
       | FROM c)
       |SELECT doc_id, COUNT(*) AS n_chunks,
       | CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_chunks
       |FROM r GROUP BY doc_id""".stripMargin

  def dc01Decontaminate(s: SparkSession, dir: String): DataFrame = {
    val grams = gramHashes(Tables(s, dir, "documents"))
    // No pre-join distinct on the training side: the broadcast join filters
    // the corpus down to hit grams first, so the only shuffle in the plan
    // is the final per-doc count over hits (tiny). countDistinct de-dups
    // repeated grams within a doc at that point.
    val train = grams.filter(col("doc_id") % 97 =!= 0)
    val eval = grams.filter(col("doc_id") % 97 === 0)
      .select(col("gh")).distinct()
    train.join(broadcast(eval), Seq("gh"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("gh")).as("n_hit_grams"))
  }

  /** DuckDB CTE pair `{name}_n, {name}` producing (doc_id, gh) 5-gram
    * hashes from `src` (a table name or aliased subquery with doc_id,
    * text) — the SQL twin of [[gramHashes]]. */
  private def gramSql(src: String, name: String): String =
    s"""${name}_n AS (
       | SELECT doc_id, list_filter(string_split(
       |   trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')),
       |   ' '), x -> x != '') AS toks
       | FROM $src),
       |$name AS (
       | SELECT doc_id, unnest(list_transform(range(1, len(toks) - 3),
       |   i -> ('0x' || substr(md5(array_to_string(toks[i:i+4], ' ')), 1, 15))::BIGINT)) AS gh
       | FROM ${name}_n)""".stripMargin

  val dc01Oracle: String =
    s"""WITH ${gramSql("documents", "g")},
       |train AS (SELECT doc_id, gh FROM g WHERE doc_id % 97 != 0),
       |ev AS (SELECT DISTINCT gh FROM g WHERE doc_id % 97 = 0)
       |SELECT t.doc_id, COUNT(DISTINCT t.gh) AS n_hit_grams
       |FROM train t JOIN ev USING (gh)
       |GROUP BY t.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // dc02: the benchmark-integrity report — dc01 in the other direction.
  // dc01 answers "which TRAINING docs must be dropped"; dc02 answers the
  // question the eval owner asks: per EVAL doc, what fraction of its
  // distinct 5-grams leak into the training corpus, and how many
  // (gram, training-doc) pairs carry the leak — the evidence needed to
  // retire a compromised benchmark instead of trusting its scores.
  //
  // Scale shape: the training gram stream (the 100 TB side) is filtered
  // by the BROADCAST distinct eval-gram set before its only shuffle (a
  // per-gram aggregate over hits), and the final join back to per-eval-doc
  // grams is hits-sized × eval-sized — never corpus-wide. All-integer
  // output, so the oracle hash-matches exactly.
  // ---------------------------------------------------------------------
  def dc02ContaminationReport(s: SparkSession, dir: String): DataFrame = {
    val grams = gramHashes(Tables(s, dir, "documents"))
    val evGrams = grams.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("eval_id"), col("gh")).distinct()
    val evSet = evGrams.select(col("gh")).distinct()
    val hits = grams.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(evSet), Seq("gh"))
      .groupBy(col("gh"))
      .agg(countDistinct(col("doc_id")).as("n_train_docs"))
    evGrams.join(hits, Seq("gh"), "left")
      .groupBy(col("eval_id"))
      .agg(count(lit(1)).as("n_grams"),
        count(col("n_train_docs")).as("n_hit_grams"),
        sum(coalesce(col("n_train_docs"), lit(0L))).as("n_leak_pairs"))
      .withColumn("contam_pct",
        expr("(n_hit_grams * 100) div n_grams"))
  }

  val dc02Oracle: String =
    s"""WITH ${gramSql("documents", "g")},
       |ev AS (SELECT DISTINCT doc_id AS eval_id, gh FROM g WHERE doc_id % 97 = 0),
       |evs AS (SELECT DISTINCT gh FROM ev),
       |hits AS (
       | SELECT g.gh, COUNT(DISTINCT g.doc_id) AS n_train_docs
       | FROM g JOIN evs USING (gh) WHERE g.doc_id % 97 != 0
       | GROUP BY g.gh)
       |SELECT ev.eval_id, COUNT(*) AS n_grams,
       | CAST(COUNT(h.n_train_docs) AS BIGINT) AS n_hit_grams,
       | CAST(COALESCE(SUM(h.n_train_docs), 0) AS BIGINT) AS n_leak_pairs,
       | CAST((COUNT(h.n_train_docs) * 100) // COUNT(*) AS BIGINT) AS contam_pct
       |FROM ev LEFT JOIN hits h USING (gh)
       |GROUP BY ev.eval_id""".stripMargin

  // ---------------------------------------------------------------------
  // dc03: SPAN-level decontamination — dc01 says which training docs are
  // contaminated; dc03 says WHERE, as merged token ranges, which is what a
  // pipeline that redacts leaked passages (instead of dropping whole
  // documents) actually consumes. Each eval-gram hit marks tokens
  // [gstart, gstart+4]; overlapping or adjacent marks merge into maximal
  // spans by the classic islands pattern (fixed gram length ⇒ interval end
  // is monotone in start, so a lag test is exact).
  //
  // Scale shape: identical to dc01 until the hits exist — positional gram
  // stream filtered by the BROADCAST eval set before any shuffle. The
  // islands window partitions by doc_id over HITS ONLY (sparse, bounded
  // per doc), never over the corpus gram stream.
  // ---------------------------------------------------------------------
  def dc03SpanDecontaminate(s: SparkSession, dir: String): DataFrame =
    spanDecontaminate(Tables(s, dir, "documents"))

  /** [[dc03SpanDecontaminate]] over any (doc_id, text) frame — factored so
    * the islands merge is testable on planted contamination (CurationSpec),
    * since the synthetic corpus yields almost no natural cross-split
    * grams. Eval membership: doc_id % 97 == 0, as in dc01/dc02. */
  def spanDecontaminate(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
    val toks = expr("filter(split(norm, ' '), x -> x != '')")
    val grams = docs
      .select(col("doc_id"), norm.as("norm"))
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"), posexplode(expr("ngram_hashes(toks, 5)")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("gstart"), col("col").as("gh"))
    val eval = grams.filter(col("doc_id") % 97 === 0).select(col("gh")).distinct()
    // eval is distinct ⇒ the join is 1:1 per (doc, gstart); no dedup needed
    val hits = grams.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(eval), Seq("gh"))
      .select(col("doc_id"), col("gstart"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("gstart"))
    hits
      .withColumn("ni", when(lag(col("gstart"), 1).over(w).isNull ||
        col("gstart") > lag(col("gstart"), 1).over(w) + 5, 1L).otherwise(0L))
      .withColumn("isl", sum(col("ni")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("gstart")).as("span_start"),
        (max(col("gstart")) + 4).as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col("doc_id"), col("span_start"), col("span_end"), col("n_grams"))
  }

  /** Positional twin of [[gramSql]]: CTEs `{name}_n, {name}` producing
    * (doc_id, gstart, gh) with gstart the 1-based token index of the
    * gram's first token. */
  private def posGramSql(src: String, name: String): String =
    s"""${name}_n AS (
       | SELECT doc_id, list_filter(string_split(
       |   trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')),
       |   ' '), x -> x != '') AS toks
       | FROM $src),
       |$name AS (
       | SELECT doc_id, u.i AS gstart, u.gh FROM (
       |  SELECT doc_id, unnest(list_transform(range(1, len(toks) - 3),
       |    i -> {'i': i,
       |          'gh': ('0x' || substr(md5(array_to_string(toks[i:i+4], ' ')), 1, 15))::BIGINT}))
       |    AS u
       |  FROM ${name}_n))""".stripMargin

  val dc03Oracle: String =
    s"""WITH ${posGramSql("documents", "g")},
       |ev AS (SELECT DISTINCT gh FROM g WHERE doc_id % 97 = 0),
       |hits AS (
       | SELECT t.doc_id, t.gstart FROM g t JOIN ev USING (gh)
       | WHERE t.doc_id % 97 != 0),
       |m AS (
       | SELECT doc_id, gstart,
       |  CASE WHEN lag(gstart) OVER w IS NULL
       |        OR gstart > lag(gstart) OVER w + 5 THEN 1 ELSE 0 END AS ni
       | FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY gstart)),
       |i AS (
       | SELECT doc_id, gstart,
       |  SUM(ni) OVER (PARTITION BY doc_id ORDER BY gstart
       |    ROWS UNBOUNDED PRECEDING) AS isl
       | FROM m)
       |SELECT doc_id, CAST(MIN(gstart) AS BIGINT) AS span_start,
       | CAST(MAX(gstart) + 4 AS BIGINT) AS span_end,
       | CAST(COUNT(*) AS BIGINT) AS n_grams
       |FROM i GROUP BY doc_id, isl""".stripMargin

  // ---------------------------------------------------------------------
  // dc04: CHUNK-granular decontamination — dc01 asks "does this training
  // doc share any fixed 5-gram with the eval set"; dc04 asks it at
  // content-defined-chunk granularity (dd19's CDC ids), which is the
  // edit-robust form: an eval answer lightly paraphrased into training
  // text shifts every fixed gram near the edits but keeps the untouched
  // chunks intact, so chunk overlap survives where gram overlap decays.
  // Same broadcast-screen scale shape as dc01: the eval slice's chunk
  // ids are MBs against TBs, the corpus chunk stream is screened before
  // any shuffle, and the per-doc rollup counts shared chunks.
  // ---------------------------------------------------------------------
  // The eval slice here is doc_id % 10 (not dc01's % 97): chunk overlap
  // needs a ~16-token exact span in common, which the sparser slice never
  // exhibits on this corpus — a permanently-empty check would be vacuous.
  def dc04ChunkDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val chunks = Dedup.cdcChunks(Tables(s, dir, "documents"))
    val eval = chunks.filter(col("doc_id") % 10 === 0)
      .select(col("ch")).distinct()
    chunks.filter(col("doc_id") % 10 =!= 0)
      .join(broadcast(eval), Seq("ch"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared_chunks"))
  }

  val dc04Oracle: String =
    s"""WITH ${Dedup.cdcChunkCtesSql},
       |ev AS (SELECT DISTINCT ch FROM chk WHERE doc_id % 10 = 0)
       |SELECT chk.doc_id, COUNT(*) AS n_shared_chunks
       |FROM chk JOIN ev USING (ch)
       |WHERE chk.doc_id % 10 != 0
       |GROUP BY chk.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // tp02: the complete training-data preparation pipeline, end to end in
  // one plan — quality gate → exact dedup → MinHash-LSH near-dup removal
  // (all via tp01) → benchmark-slice exclusion + 5-gram decontamination →
  // deterministic train/val/test split → per-language mixture sampling of
  // the train split. This is the "a user could run their whole curation
  // job on this engine" demonstration; every stage is the scale-shaped
  // variant (broadcast eval grams, hash-bucket splits, no corpus-side
  // pre-join shuffles beyond what dedup itself needs).
  // ---------------------------------------------------------------------
  def tp02FullCuration(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir, "documents")
    val keep = docs
      .join(Dedup.tp01CorpusCuration(s, dir), Seq("doc_id"), "left_semi")
      .filter(col("doc_id") % 97 =!= 0) // the benchmark slice never trains
    val evalGrams = gramHashes(docs.filter(col("doc_id") % 97 === 0))
      .select(col("gh")).distinct()
    val contaminated = gramHashes(keep)
      .join(broadcast(evalGrams), Seq("gh"))
      .select(col("doc_id")).distinct()
    val rates = mixRates.toDF("lang", "keep_pct")
    keep.join(contaminated, Seq("doc_id"), "left_anti")
      .withColumn("bucket", hashBucket(col("text"), 100))
      .withColumn("split", splitOf(col("bucket")))
      .withColumn("mixb", hashBucket(concat(lit("mix1:"), col("text")), 100))
      .join(broadcast(rates), Seq("lang"), "left")
      // mixture sampling applies to training data only; eval splits keep all
      .filter(col("split") =!= "train" ||
        col("mixb") < coalesce(col("keep_pct"), lit(100)))
      .select(col("doc_id"), col("lang"), col("split"))
  }

  val tp02Oracle: String = {
    val values = mixRates.map { case (l, p) => s"('$l', $p)" }.mkString(", ")
    s"""WITH ${Dedup.tp01Ctes},
       |keep AS (
       | SELECT d.doc_id, d.text, d.lang FROM documents d
       | JOIN tp01surv t ON d.doc_id = t.doc_id
       | WHERE d.doc_id % 97 != 0),
       |${gramSql("(SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0) _e", "evg")},
       |${gramSql("keep", "kg")},
       |contaminated AS (SELECT DISTINCT k.doc_id FROM kg k
       |  WHERE k.gh IN (SELECT gh FROM evg)),
       |r(lang, keep_pct) AS (VALUES $values),
       |sp AS (
       | SELECT doc_id, lang,
       |  ('0x' || substr(md5(text), 1, 8))::BIGINT % 100 AS bucket,
       |  ('0x' || substr(md5('mix1:' || text), 1, 8))::BIGINT % 100 AS mixb
       | FROM keep
       | WHERE doc_id NOT IN (SELECT doc_id FROM contaminated))
       |SELECT sp.doc_id, sp.lang,
       | CASE WHEN bucket < 80 THEN 'train'
       |      WHEN bucket < 90 THEN 'validation'
       |      ELSE 'test' END AS split
       |FROM sp LEFT JOIN r USING (lang)
       |WHERE bucket >= 80 OR mixb < COALESCE(r.keep_pct, 100)""".stripMargin
  }

  // ---------------------------------------------------------------------
  // tp04: curation → packing, end to end — tokenize and sequence-pack the
  // TRAIN split that tp02's full curation pipeline emits (the last hop
  // before a training job reads shards). One plan: tp02's quality gate /
  // dedup / decontamination / split / mixture stages feed a left-semi
  // join, then ds03's two-phase distributed prefix sum assigns every
  // surviving train document its global token offset and sequence id.
  // Composing the stages keeps each one's scale shape — the semi-join is
  // hash-equi on doc_id, and no stage windows the corpus globally.
  // ---------------------------------------------------------------------
  def tp04PackTrain(s: SparkSession, dir: String): DataFrame = {
    val train = tp02FullCuration(s, dir)
      .filter(col("split") === "train").select(col("doc_id"))
    val docs = Tables(s, dir, "documents").join(train, Seq("doc_id"), "left_semi")
    // withStartOffsets checkpoints the tokenized table itself (round 15),
    // which also cuts the tp02 curation chain to one evaluation —
    // previously a separate caller-side checkpoint did that (15.4 s vs
    // 3.9 s at sf0.1 without any cut).
    val toks = docs.select(col("doc_id"),
      size(expr("filter(split(text, ' '), x -> x != '')")).cast("long").as("n_tokens"))
    withStartOffsets(toks, Seq.empty)
      .withColumn("seq_id", expr(s"start_off div $packBudget"))
      .select(col("doc_id"), col("n_tokens"), col("start_off"), col("seq_id"))
  }

  lazy val tp04Oracle: String =
    s"""WITH tr AS (SELECT doc_id FROM ($tp02Oracle) q WHERE split = 'train'),
       |t AS (
       | SELECT d.doc_id,
       |  CAST(len(list_filter(string_split(d.text, ' '), x -> x != '')) AS BIGINT) AS n_tokens
       | FROM documents d JOIN tr USING (doc_id)),
       |c AS (
       | SELECT doc_id, n_tokens,
       |  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
       | FROM t)
       |SELECT doc_id, n_tokens, start_off,
       | CAST(start_off // $packBudget AS BIGINT) AS seq_id
       |FROM c""".stripMargin

  // ---------------------------------------------------------------------
  // tp08: target mixture → packing — the other composition a training
  // run actually ships: resample the corpus to the ds19 target language
  // distribution, then assign every kept doc its PER-LANGUAGE token
  // offset and sequence id (language-pure sequences, the multilingual
  // packing recipe). Reuses ds19's water-filled membership as a semi-join
  // and ds05's language-partitioned two-phase prefix sum; the checkpoint
  // before the sum bounds the mixture chain to one evaluation (tp04's
  // lesson).
  // ---------------------------------------------------------------------
  def tp08MixturePack(s: SparkSession, dir: String): DataFrame = {
    val kept = ds19TargetMixture(s, dir).select(col("doc_id"))
    val docs = Tables(s, dir, "documents").join(kept, Seq("doc_id"), "left_semi")
    val toks = docs.select(col("doc_id"), col("lang"),
      size(expr("filter(split(text, ' '), x -> x != '')")).cast("long").as("n_tokens"))
    withStartOffsets(toks, Seq("lang"))
      .withColumn("seq_id", expr(s"start_off div $packBudget"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        col("start_off"), col("seq_id"))
  }

  lazy val tp08Oracle: String =
    s"""WITH kept AS (SELECT doc_id FROM ($ds19Oracle) q),
       |t AS (
       | SELECT d.doc_id, d.lang,
       |  CAST(len(list_filter(string_split(d.text, ' '), x -> x != '')) AS BIGINT) AS n_tokens
       | FROM documents d JOIN kept USING (doc_id)),
       |c AS (
       | SELECT doc_id, lang, n_tokens,
       |  CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
       | FROM t)
       |SELECT doc_id, lang, n_tokens, start_off,
       | CAST(start_off // $packBudget AS BIGINT) AS seq_id
       |FROM c""".stripMargin

  // ---------------------------------------------------------------------
  // ds03: sequence packing — the GPT-style "concatenate the corpus in
  // doc_id order, cut every `budget` tokens" training-prep step. Each doc
  // gets its global token start offset, its training-sequence id, and a
  // straddles-boundary flag (the docs a packer would split or pad around).
  //
  // A global running sum is inherently order-serial, so the SCALE shape is
  // the classic two-phase distributed prefix sum: (1) order-preserving
  // buckets (doc_id ranges) are summed independently — map-side,
  // parallel; (2) the tiny per-bucket totals table gets an exclusive
  // prefix (window over ~corpus/B rows); (3) each doc's offset = its
  // bucket's prefix + a within-bucket cumsum (window PARTITIONED by
  // bucket — parallel again). No stage ever windows over the whole corpus
  // in one partition; the oracle runs the plain global window and must
  // match exactly.
  // ---------------------------------------------------------------------
  private val packBudget = 512L
  private val packBucketWidth = 256L

  /** The two-phase distributed prefix sum shared by ds03 (global order)
    * and ds05 (per-language order): doc_id-range buckets are summed
    * independently (map-side, parallel), the tiny per-partition bucket
    * totals get an exclusive prefix window, and each doc's `start_off` =
    * its bucket's prefix + a within-bucket cumsum — so no stage ever
    * windows a full partition's corpus through one task. Input: (doc_id,
    * n_tokens [, partCols...]); output adds bkt/bpre/start_off. */
  private def withStartOffsets(docsTokens: DataFrame,
      partCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pc = partCols.map(col)
    // ONE pass computes the (doc_id, n_tokens, bkt) table for BOTH
    // consumers (round 15): the bucket-sum aggregate and the
    // within-bucket cumsum window each re-evaluated the input subtree —
    // for ds03/ds05 that re-tokenized the corpus (the split() lives in
    // the input projection), and explicit same-key repartitioning could
    // not make ReuseExchange collapse the branches because column
    // pruning specializes their projections (measured: two scans either
    // way). The checkpoint pins the narrow projected rows once; the two
    // downstream exchanges then carry ~24-byte rows. Callers no longer
    // pre-checkpoint (this cut subsumes tp04/tp08's).
    val toks = docsTokens.withColumn("bkt", expr(s"doc_id div $packBucketWidth"))
      .transform(pin)
    val bucketPrefix = toks.groupBy(pc :+ col("bkt"): _*)
      .agg(sum(col("n_tokens")).as("bsum"))
      .withColumn("bpre",
        coalesce(sum(col("bsum")).over(
          Window.partitionBy(pc: _*).orderBy(col("bkt"))
            .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(pc :+ col("bkt") :+ col("bpre"): _*)
    val wIn = Window.partitionBy(pc :+ col("bkt"): _*).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    toks.join(broadcast(bucketPrefix), partCols :+ "bkt")
      .withColumn("start_off",
        col("bpre") + coalesce(sum(col("n_tokens")).over(wIn), lit(0L)))
  }

  def ds03SequencePack(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val toks = docs.select(col("doc_id"),
      size(expr("filter(split(text, ' '), x -> x != '')")).cast("long").as("n_tokens"))
    withStartOffsets(toks, Seq.empty)
      .withColumn("seq_id", expr(s"start_off div $packBudget"))
      .withColumn("straddles",
        col("n_tokens") > 0 &&
          expr(s"(start_off + n_tokens - 1) div $packBudget") =!= col("seq_id"))
      .select(col("doc_id"), col("n_tokens"), col("start_off"),
        col("seq_id"), col("straddles"))
  }

  val ds03Oracle: String =
    s"""WITH t AS (
       | SELECT doc_id,
       |  CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS BIGINT) AS n_tokens
       | FROM documents),
       |c AS (
       | SELECT doc_id, n_tokens,
       |  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
       | FROM t)
       |SELECT doc_id, n_tokens, start_off,
       | CAST(start_off // $packBudget AS BIGINT) AS seq_id,
       | (n_tokens > 0 AND (start_off + n_tokens - 1) // $packBudget != start_off // $packBudget) AS straddles
       |FROM c""".stripMargin

  // ---------------------------------------------------------------------
  // ds04: leakage-free GROUP split — ds01 hashes each document, which can
  // put two documents from the same crawl source on opposite sides of the
  // train/test fence; near-identical boilerplate from one site then leaks
  // eval answers into training. The standard fix (group-wise splitting) is
  // to hash the GROUP key so every document of a source lands in the same
  // split. Still pure per-row hash arithmetic — zero shuffles, no
  // group-by: membership derives from the source string alone, so appends
  // from a known source join their group's split without reading anything.
  // ---------------------------------------------------------------------
  def ds04SourceSplit(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    docs.select(col("doc_id"), col("source"),
      hashBucket(concat(lit("grp1:"), col("source")), 100).as("bucket"))
      .withColumn("split", splitOf(col("bucket")))
  }

  val ds04Oracle: String =
    """SELECT doc_id, source, bucket,
      | CASE WHEN bucket < 80 THEN 'train'
      |      WHEN bucket < 90 THEN 'validation'
      |      ELSE 'test' END AS split
      |FROM (SELECT doc_id, source,
      |  ('0x' || substr(md5('grp1:' || source), 1, 8))::BIGINT % 100 AS bucket
      | FROM documents) t""".stripMargin

  // ---------------------------------------------------------------------
  // ds05: per-language token-budget selection — "take documents, in a
  // deterministic priority order, until each language's token budget is
  // spent" (the fixed-token-count mixture recipe of every pretraining
  // run). A doc is kept iff the tokens BEFORE it in its language fit the
  // budget, so the kept set is a prefix of the per-language order and the
  // output carries the running offset a packer would resume from.
  //
  // Scale shape: the running sum reuses ds03's two-phase distributed
  // prefix sum, but partitioned by language — per-(lang, doc_id-range)
  // bucket sums map-side, a tiny per-lang bucket-prefix window, then a
  // within-bucket window. No per-language serial scan of the corpus: the
  // widest window in the plan holds ~corpus/B rows (bucket totals), and
  // a 100 TB language never collapses into one partition.
  // ---------------------------------------------------------------------
  private[operators] val langTokenBudget = 2000L

  def ds05TokenBudget(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val toks = docs.select(col("doc_id"), col("lang"),
      size(expr("filter(split(text, ' '), x -> x != '')")).cast("long").as("n_tokens"))
    withStartOffsets(toks, Seq("lang"))
      .filter(col("start_off") < langTokenBudget)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("start_off"))
  }

  val ds05Oracle: String =
    s"""WITH t AS (
       | SELECT doc_id, lang,
       |  CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS BIGINT) AS n_tokens
       | FROM documents),
       |c AS (
       | SELECT doc_id, lang, n_tokens,
       |  CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
       | FROM t)
       |SELECT doc_id, lang, n_tokens, start_off
       |FROM c WHERE start_off < $langTokenBudget""".stripMargin

  // ---------------------------------------------------------------------
  // ds06: Z-order (Morton) layout key — multi-dimensional data clustering.
  // A 100 TB table filtered on TWO columns at once (user × time, lat ×
  // lon, shard × length) can only be sorted by one of them; Z-ordering
  // interleaves the bits of both so every aligned power-of-2 rectangle in
  // (x, y) space occupies a contiguous key range. Written out with
  // [[zorderClustered]], parquet min/max row-group stats then prune BOTH
  // dimensions' predicates. The key itself is the native codegen'd
  // [[graft.functions.ZOrder2]] (12 mask-shift ops per value).
  // ---------------------------------------------------------------------
  def ds06ZorderKey(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    val ev = Tables(s, dir, "events")
    ev.select(col("event_id"),
      (col("event_id") % 4096).as("x"),
      (col("user_id") % 4096).as("y"))
      .withColumn("zkey", expr("zorder2(x, y)"))
  }

  val ds06Oracle: String =
    """SELECT event_id, x, y,
      | CAST(list_sum(list_transform(range(0, 12), i ->
      |   (((x >> i) & 1) * (1::BIGINT << (2*i))) +
      |   (((y >> i) & 1) * (1::BIGINT << (2*i + 1))))) AS BIGINT) AS zkey
      |FROM (SELECT event_id, event_id % 4096 AS x, user_id % 4096 AS y
      |      FROM events) t""".stripMargin

  // ---------------------------------------------------------------------
  // ds07: deterministic k-per-stratum sampling — "give me exactly 50 docs
  // per language, reproducibly" (fixed-size eval slices, human-review
  // samples, per-stratum debugging corpora). The sample is the k smallest
  // salted content hashes per stratum: content-derived like ds01/ds02, so
  // re-runs, re-shards and appends agree on the sample (an append only
  // swaps members if a new doc hashes below the current k-th).
  //
  // Scale shape: rank-limit pushdown. The `row_number <= k` filter lets
  // Spark insert WindowGroupLimit BEFORE the shuffle (partial top-k per
  // map task, like TakeOrderedAndProject per group), so the exchange
  // carries ~k rows per (task × stratum), never the full corpus —
  // plan-pinned. Skewed strata cost map-side heap work only.
  // ---------------------------------------------------------------------
  private[operators] val groupSampleK = 50

  def ds07GroupSample(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(s, dir, "documents")
    val w = Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))
    docs.select(col("doc_id"), col("lang"),
        md5(concat(lit("samp1:"), col("text"))).as("h"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= groupSampleK)
      .select(col("doc_id"), col("lang"), col("rn"))
  }

  val ds07Oracle: String =
    s"""WITH h AS (
       | SELECT doc_id, lang, md5('samp1:' || text) AS h FROM documents),
       |r AS (
       | SELECT doc_id, lang,
       |  ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn
       | FROM h)
       |SELECT doc_id, lang, CAST(rn AS INT) AS rn
       |FROM r WHERE rn <= $groupSampleK""".stripMargin

  // ---------------------------------------------------------------------
  // ds19: WATER-FILLING target-mixture resample — "make the corpus match
  // THIS language distribution" (the Llama/Gopher data-mixture spec),
  // answered exactly: the largest corpus reachable at the target shares
  // by downsampling only is T = min_l floor(n_l·1000 / share_l), and each
  // language keeps keep_l = floor(share_l·T / 1000) docs — the binding
  // language keeps (almost) everything, every other language is cut to
  // proportion. Differs from ds02 (which applies GIVEN per-language
  // rates) by DERIVING the rates from the target; all arithmetic is
  // integer floors so both engines agree bit-for-bit.
  //
  // Scale shape: the per-language histogram and the T/keep_l table are
  // tiny aggregates (broadcast); member selection is ds07's
  // content-stable rank — k smallest salted hashes per language — with
  // the per-language k joined in. The one corpus-scale cost is the
  // per-language rank window (one shuffle keyed by lang); its skew bound
  // is the largest language, the same bound every per-stratum operator
  // here carries.
  // ---------------------------------------------------------------------
  private val targetShares: Seq[(String, Int)] =
    Seq("en" -> 400, "fr" -> 250, "de" -> 200, "es" -> 100, "zh" -> 50)

  def ds19TargetMixture(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(s, dir, "documents")
    val tgt = targetShares.toDF("lang", "share_pm")
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .join(broadcast(tgt), Seq("lang"))
    val tRow = counts.agg(min(expr("(n_docs * 1000) div share_pm")).as("t"))
    val keeps = counts.crossJoin(broadcast(tRow))
      .select(col("lang"), expr("(share_pm * t) div 1000").as("keep_n"))
    val w = Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))
    docs.join(broadcast(keeps), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("keep_n"),
        md5(concat(lit("ds19:"), col("text"))).as("h"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("keep_n"))
      .select(col("doc_id"), col("lang"), col("rn"), col("keep_n"))
  }

  val ds19Oracle: String = {
    val values = targetShares.map { case (l, p) => s"('$l', $p)" }.mkString(", ")
    s"""WITH tgt(lang, share_pm) AS (VALUES $values),
       |c AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
       |j AS (SELECT c.lang, n_docs, share_pm FROM c JOIN tgt USING (lang)),
       |t AS (SELECT MIN((n_docs * 1000) // share_pm) AS t FROM j),
       |k AS (SELECT lang, CAST((share_pm * t.t) // 1000 AS BIGINT) AS keep_n
       |      FROM j, t),
       |h AS (SELECT doc_id, lang, md5('ds19:' || text) AS h FROM documents),
       |r AS (
       | SELECT h.doc_id, h.lang, k.keep_n,
       |  ROW_NUMBER() OVER (PARTITION BY h.lang ORDER BY h.h, h.doc_id) AS rn
       | FROM h JOIN k USING (lang))
       |SELECT doc_id, lang, CAST(rn AS INT) AS rn, keep_n
       |FROM r WHERE rn <= keep_n""".stripMargin
  }

  // ---------------------------------------------------------------------
  // ds12: global fixed-k content-stable sample — ds07 without the strata:
  // "exactly 200 documents from the whole corpus, reproducibly". The k
  // smallest salted content hashes overall, so re-runs/re-shards/appends
  // agree (an append only swaps members if a new doc hashes below the
  // k-th). Plan shape: TakeOrderedAndProject — each map task keeps its
  // local k, the driver merges heaps; no window, no full sort, and the
  // exchange carries k rows per task at any corpus size.
  // ---------------------------------------------------------------------
  private val globalSampleK = 200

  def ds12GlobalSample(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    docs.select(col("doc_id"), col("lang"),
        md5(concat(lit("gsamp1:"), col("text"))).as("h"))
      .orderBy(col("h"), col("doc_id"))
      .limit(globalSampleK)
      .select(col("doc_id"), col("lang"), col("h"))
  }

  val ds12Oracle: String =
    s"""SELECT doc_id, lang, h FROM (
       | SELECT doc_id, lang, md5('gsamp1:' || text) AS h FROM documents) t
       |ORDER BY h, doc_id LIMIT $globalSampleK""".stripMargin

  // ---------------------------------------------------------------------
  // ds13: curriculum ordering — the full training order as a function of a
  // QUALITY signal: cleanest documents first (type-token ratio per-mille,
  // exact integers from tx02's signals), in three phases, shuffled
  // content-stably within each phase. The scale shape avoids every global
  // row sort:
  //  - phase boundaries come from the SCORE HISTOGRAM (≤1001 rows — score
  //    is a per-mille), not an NTILE over the corpus: a score's phase is
  //    1 + (docs_strictly_better * 3) div n, so equal scores share a
  //    phase and assignment is one broadcast lookup;
  //  - position within phase is the ds09 two-phase rank (bucket counts →
  //    tiny prefix window → one (phase, bucket)-slice sort per task);
  //  - the global position adds the 3-row phase-offset prefix.
  // The oracle states the same order as one ROW_NUMBER — tiny at sf0.01,
  // which is exactly why the oracle may sort globally and the engine
  // must not.
  // ---------------------------------------------------------------------
  def ds13Curriculum(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = "filter(split(text, ' '), x -> x != '')"
    val scored = Tables(s, dir, "documents")
      .select(col("doc_id"), col("text"),
        expr(s"(cast(size(array_distinct($toks)) as bigint) * 1000) div " +
          s"greatest(cast(size($toks) as bigint), 1)").as("score"))
    val hist = scored.groupBy(col("score")).agg(count(lit(1)).as("c"))
    val wAbove = Window.orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val phaseOf = hist
      .withColumn("cb", coalesce(sum(col("c")).over(wAbove), lit(0L)))
      .withColumn("n", sum(col("c")).over(wAll))
      .select(col("score"),
        (expr("(cb * 3) div n") + 1).cast("int").as("phase"))
    val keyed = scored.join(broadcast(phaseOf), Seq("score"))
      .select(col("doc_id"), col("phase"),
        conv(substring(md5(concat(lit("curr1:"), col("text"))), 1, 8), 16, 10)
          .cast("long").as("hkey"))
    val ranked = twoPhaseRank(keyed, "phase")
    val wPh = Window.orderBy(col("phase"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ranked.groupBy(col("phase")).agg(count(lit(1)).as("pc"))
      .withColumn("off", coalesce(sum(col("pc")).over(wPh), lit(0L)))
      .select(col("phase"), col("off"))
    ranked.join(broadcast(offsets), Seq("phase"))
      .select(col("doc_id"), col("phase"), (col("off") + col("pos")).as("pos"))
  }

  val ds13Oracle: String =
    s"""WITH s AS (
       | SELECT doc_id,
       |  (CAST(len(list_distinct(list_filter(string_split(text, ' '), x -> x != ''))) AS BIGINT) * 1000)
       |    // greatest(CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS BIGINT), 1) AS score,
       |  ('0x' || substr(md5('curr1:' || text), 1, 8))::BIGINT AS hkey
       | FROM documents),
       |h AS (SELECT score, COUNT(*) AS c FROM s GROUP BY score),
       |p AS (
       | SELECT score,
       |  CAST((COALESCE(SUM(c) OVER (ORDER BY score DESC
       |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 3)
       |    // SUM(c) OVER () + 1 AS INT) AS phase
       | FROM h)
       |SELECT s.doc_id, p.phase,
       | CAST(ROW_NUMBER() OVER (ORDER BY p.phase, s.hkey, s.doc_id) AS BIGINT) AS pos
       |FROM s JOIN p USING (score)""".stripMargin

  // ---------------------------------------------------------------------
  // ds14: dataset version diff — the change manifest between two corpus
  // snapshots (what a data registry shows per release, and what
  // incremental consumers like dd09/dd11 take as their increment):
  // added / removed / changed by CONTENT HASH, never by byte-comparing
  // documents across the wire. One full-outer hash join on doc_id, with
  // 16-byte hashes as the only payload — the canonical shape at 100 TB.
  // Versions are carved deterministically from the corpus (v1 drops
  // doc_id%10==7, v2 drops %10==3 and rewrites %10==5) so the oracle
  // reproduces them exactly.
  // ---------------------------------------------------------------------
  def ds14VersionDiff(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val v1 = docs.filter(col("doc_id") % 10 =!= 7)
      .select(col("doc_id"), md5(col("text")).as("h1"))
    val v2 = docs.filter(col("doc_id") % 10 =!= 3)
      .select(col("doc_id"),
        md5(when(col("doc_id") % 10 === 5, concat(col("text"), lit(" v2")))
          .otherwise(col("text"))).as("h2"))
    v1.join(v2, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("h1").isNull, "added")
          .when(col("h2").isNull, "removed")
          .when(col("h1") =!= col("h2"), "changed")
          .otherwise("same"))
      .filter(col("status") =!= "same")
      .select(col("doc_id"), col("status"))
  }

  val ds14Oracle: String =
    """WITH v1 AS (
      | SELECT doc_id, md5(text) AS h1 FROM documents WHERE doc_id % 10 != 7),
      |v2 AS (
      | SELECT doc_id,
      |  md5(CASE WHEN doc_id % 10 = 5 THEN text || ' v2' ELSE text END) AS h2
      | FROM documents WHERE doc_id % 10 != 3)
      |SELECT doc_id, status FROM (
      | SELECT doc_id,
      |  CASE WHEN h1 IS NULL THEN 'added'
      |       WHEN h2 IS NULL THEN 'removed'
      |       WHEN h1 != h2 THEN 'changed' ELSE 'same' END AS status
      | FROM v1 FULL OUTER JOIN v2 USING (doc_id)) t
      |WHERE status != 'same'""".stripMargin

  // ---------------------------------------------------------------------
  // ds15: SCD2 snapshot merge — collapse a sequence of full dataset
  // snapshots into slowly-changing-dimension type-2 validity intervals
  // (key, value, valid_from, valid_to; open interval = current). The
  // warehouse twin of ds14's set diff: ds14 says WHAT changed between two
  // versions, ds15 materializes WHEN each value held across all of them,
  // covering updates (new interval), deletes (closed interval with no
  // successor), and late inserts (interval starting past v1). Three
  // deterministic snapshots derive from `customer` (v1 misses key%5=0 —
  // later inserts; v2 bumps key%7=0 balances; v3 drops key%11=0 — deletes
  // — and bumps key%3=0), and the merge is the islands pattern shared
  // with dc03: one window over (key, version) marks a new segment at any
  // presence gap or value change, a running sum names segments, one
  // aggregate emits [min_ver, max_ver+1) intervals. At 100 TB this is a
  // single hash-shuffle on the key with a ≤n_versions-row window per key
  // — never a global sort — and value equality is on doubles read from
  // the SAME parquet plus exact IEEE adds, so both engines see identical
  // bits and the interval boundaries hash-match.
  // ---------------------------------------------------------------------
  def ds15Scd2(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cust = Tables(s, dir, "customer")
    val b2 = when(col("c_custkey") % 7 === 0, col("c_acctbal") + 100.0)
      .otherwise(col("c_acctbal"))
    val v1 = cust.filter(col("c_custkey") % 5 =!= 0)
      .select(col("c_custkey"), col("c_acctbal").as("bal"), lit(1).as("ver"))
    val v2 = cust.select(col("c_custkey"), b2.as("bal"), lit(2).as("ver"))
    val v3 = cust.filter(col("c_custkey") % 11 =!= 0)
      .select(col("c_custkey"),
        when(col("c_custkey") % 3 === 0, b2 + 50.0).otherwise(b2).as("bal"),
        lit(3).as("ver"))
    val w = Window.partitionBy(col("c_custkey")).orderBy(col("ver"))
    val lastVer = 3
    v1.unionByName(v2).unionByName(v3)
      .withColumn("brk",
        when(lag(col("ver"), 1).over(w).isNull ||
          lag(col("ver"), 1).over(w) =!= col("ver") - 1 ||
          lag(col("bal"), 1).over(w) =!= col("bal"), 1).otherwise(0))
      .withColumn("seg", sum(col("brk")).over(w))
      .groupBy(col("c_custkey"), col("seg"))
      .agg(min(col("bal")).as("acctbal"),
        min(col("ver")).cast("int").as("valid_from"),
        max(col("ver")).as("mv"))
      .withColumn("valid_to",
        when(col("mv") === lastVer, lit(null)).otherwise(col("mv") + 1)
          .cast("int"))
      .select(col("c_custkey"), col("acctbal"), col("valid_from"),
        col("valid_to"))
  }

  val ds15Oracle: String =
    """WITH v2bal AS (
      | SELECT c_custkey,
      |  CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0 ELSE c_acctbal END AS b2,
      |  c_acctbal AS b1
      | FROM customer),
      |snaps AS (
      | SELECT c_custkey, b1 AS bal, 1 AS ver FROM v2bal WHERE c_custkey % 5 != 0
      | UNION ALL
      | SELECT c_custkey, b2, 2 FROM v2bal
      | UNION ALL
      | SELECT c_custkey,
      |  CASE WHEN c_custkey % 3 = 0 THEN b2 + 50.0 ELSE b2 END, 3
      | FROM v2bal WHERE c_custkey % 11 != 0),
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
      | CAST(CASE WHEN MAX(ver) = 3 THEN NULL ELSE MAX(ver) + 1 END AS INT) AS valid_to
      |FROM segs GROUP BY c_custkey, seg""".stripMargin

  // ---------------------------------------------------------------------
  // ds16: TEMPORAL split with leakage audit — the time-based train/test
  // protocol (train strictly before the cutoff, test strictly after)
  // that evaluation-honest pipelines use instead of random splits when
  // data has a time axis: a random split lets the model see the future.
  // Split at entity (user) granularity: users entirely before the cutoff
  // → train, entirely after → test, straddling users are LEAKY — their
  // pre-cutoff rows would encode post-cutoff behavior through the entity
  // — and are dropped, with the audit counts (n_train/n_test) kept so
  // the cost of the drop is visible. One hash aggregate on the entity
  // key; epoch-floored comparisons (q20's convention) so nano-vs-micro
  // timestamp precision can't move an event across the cutoff.
  // ---------------------------------------------------------------------
  private val temporalCutoffEpoch = 1705795200L // 2024-01-21T00:00:00Z

  def ds16TemporalSplit(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    ev.groupBy(col("user_id"))
      .agg(
        count(when(unix_timestamp(col("ts")) < temporalCutoffEpoch, 1))
          .as("n_train"),
        count(when(unix_timestamp(col("ts")) >= temporalCutoffEpoch, 1))
          .as("n_test"))
      .withColumn("assignment",
        when(col("n_train") > 0 && col("n_test") > 0, "drop")
          .when(col("n_test") > 0, "test").otherwise("train"))
  }

  val ds16Oracle: String =
    s"""SELECT user_id,
       | COUNT(CASE WHEN floor(epoch(ts)) < $temporalCutoffEpoch THEN 1 END) AS n_train,
       | COUNT(CASE WHEN floor(epoch(ts)) >= $temporalCutoffEpoch THEN 1 END) AS n_test,
       | CASE WHEN COUNT(CASE WHEN floor(epoch(ts)) < $temporalCutoffEpoch THEN 1 END) > 0
       |        AND COUNT(CASE WHEN floor(epoch(ts)) >= $temporalCutoffEpoch THEN 1 END) > 0
       |       THEN 'drop'
       |      WHEN COUNT(CASE WHEN floor(epoch(ts)) >= $temporalCutoffEpoch THEN 1 END) > 0
       |       THEN 'test' ELSE 'train' END AS assignment
       |FROM events GROUP BY user_id""".stripMargin

  // ---------------------------------------------------------------------
  // ds17: deterministic weighted PRIORITY SAMPLE (Duffield–Lund–Thorup,
  // "Priority sampling", JACM 54(6) 2007): each row gets priority
  // q = w/u for u uniform on (0,1], the k highest-priority rows are the
  // sample, and any subset-sum is estimated unbiasedly by Σ max(w, τ)
  // over sampled members, τ = the (k+1)-th priority — the
  // variance-near-optimal way to downsample a corpus while preserving
  // weighted statistics (long docs matter more than short ones). The
  // uniform derives from the content hash — u = (h+1)/2^32, h the first
  // 8 md5 hex digits — so the sample is reproducible under re-runs and
  // backfills (the ds01 property), and the whole comparison runs in
  // BIGINT: q = (w·2^32) div (h+1), where Spark `div` and DuckDB `//`
  // agree (non-negative operands), ties broken by doc_id.
  //
  // Scale shape: one codegen'd per-row projection, then
  // TakeOrderedAndProject over k+1 — per-partition heaps, no global
  // sort, no corpus-wide window; the only driver-side state is the
  // (k+1)-row head. τ comes from that head, never a second pass.
  // ---------------------------------------------------------------------
  private val prioK = 100

  /** The corpus-side stage of ds17 (pre-checkpoint) — per-row priority
    * arithmetic + TakeOrderedAndProject(k+1); plan pinned by
    * PlanShapeSpec, which needs it BEFORE the lineage cut. */
  private[operators] def prioHead(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("n_chars"),
        conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long").as("u32"))
      .withColumn("priority", expr("(n_chars * 4294967296) div (u32 + 1)"))
      .orderBy(col("priority").desc, col("doc_id"))
      .limit(prioK + 1)

  def ds17PrioritySample(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    // TakeOrderedAndProject(k+1); ≤ k+1 rows from here on
    val head = prioHead(docs).transform(pin)
    val tau = head.agg(min(col("priority")).as("tau"))
    head.orderBy(col("priority").desc, col("doc_id")).limit(prioK)
      .crossJoin(broadcast(tau))
      .select(col("doc_id"), col("n_chars"), col("priority"),
        greatest(col("n_chars"), coalesce(col("tau"), lit(0L))).as("est_weight"))
  }

  val ds17Oracle: String =
    s"""WITH p AS (
       | SELECT doc_id, n_chars,
       |  (n_chars * 4294967296) // (('0x' || substr(md5(text), 1, 8))::BIGINT + 1) AS priority
       | FROM documents),
       |r AS (SELECT p.*, ROW_NUMBER() OVER (ORDER BY priority DESC, doc_id) AS rn FROM p),
       |tau AS (SELECT MIN(priority) AS t FROM r WHERE rn <= ${prioK + 1})
       |SELECT doc_id, n_chars, priority,
       | CAST(GREATEST(n_chars, COALESCE((SELECT t FROM tau), 0)) AS BIGINT) AS est_weight
       |FROM r WHERE rn <= $prioK""".stripMargin

  // ---------------------------------------------------------------------
  // tp06: curriculum → worker shards, the capstone composing ds13 with
  // the sharding a data-parallel run consumes: ROUND-ROBIN over the
  // curriculum position, so (a) shard sizes differ by at most 1 and
  // (b) ascending shard_pos within every shard preserves the curriculum
  // order — each worker sees cleanest-first locally, not just globally
  // (contiguous blocks would give worker 0 all of phase 1 and worker N
  // none). Pure arithmetic on ds13's output: zero additional shuffles.
  // ---------------------------------------------------------------------
  private val currShards = 8

  def tp06CurriculumShards(s: SparkSession, dir: String): DataFrame =
    ds13Curriculum(s, dir).select(col("doc_id"), col("phase"), col("pos"),
      ((col("pos") - 1) % currShards).cast("int").as("shard"),
      (expr(s"(pos - 1) div $currShards") + 1).as("shard_pos"))

  val tp06Oracle: String =
    s"""SELECT doc_id, phase, pos,
       | CAST((pos - 1) % $currShards AS INT) AS shard,
       | (pos - 1) // $currShards + 1 AS shard_pos
       |FROM ($ds13Oracle) c""".stripMargin

  // ---------------------------------------------------------------------
  // ds18: CONSISTENT-HASH shard assignment (Karger et al. STOC'97) — the
  // resharding story plain hash-mod cannot tell: docs map to the ring
  // successor among shard points (16 replicas per shard for balance),
  // so growing 8 → 9 shards moves only ~1/9 of the corpus (pinned by
  // CurationSpec) where `% n` reshuffles nearly everything. Output is
  // both assignments plus the moved flag — the migration manifest a
  // 100 TB reshard executes.
  //
  // Scale shape: the ring is N·R packed literals (point·64 + shard)
  // baked into the plan; assignment is a per-row array scan — ZERO
  // shuffles, no join, the corpus is touched once map-side. The oracle
  // computes the identical successor via the explode + conditional-min
  // formulation; the packed-min trick keeps the argmin associative.
  // ---------------------------------------------------------------------
  private val ringReplicas = 16

  private[operators] def ringPacked(nShards: Int): Seq[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (for { sh <- 0 until nShards; r <- 0 until ringReplicas } yield {
      val hex = md.digest(s"$sh:$r".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16) * 64L + sh
    }).sorted
  }

  def ds18ConsistentShards(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    def assign(packed: Seq[Long]): Column = {
      val arr = array(packed.map(lit): _*)
      coalesce(array_min(filter(arr, x => x >= col("h64"))),
        lit(packed.min)) % 64
    }
    docs.select(col("doc_id"),
        (conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long") * 64L)
          .as("h64"))
      .select(col("doc_id"),
        assign(ringPacked(8)).as("shard8"),
        assign(ringPacked(9)).as("shard9"))
      .withColumn("moved", col("shard8") =!= col("shard9"))
  }

  private def ringSql(n: Int): String =
    s"""SELECT ('0x' || substr(md5(CAST(t.s AS VARCHAR) || ':' || CAST(u.r AS VARCHAR)), 1, 8))::BIGINT * 64 + t.s AS packed
       |FROM range(0, $n) t(s), range(0, $ringReplicas) u(r)""".stripMargin

  val ds18Oracle: String =
    s"""WITH ring8 AS (${ringSql(8)}),
       |ring9 AS (${ringSql(9)}),
       |d AS (
       | SELECT doc_id, ('0x' || substr(md5(text), 1, 8))::BIGINT * 64 AS h64
       | FROM documents),
       |a8 AS (
       | SELECT doc_id,
       |  COALESCE(MIN(CASE WHEN packed >= h64 THEN packed END), MIN(packed)) % 64 AS shard8
       | FROM d CROSS JOIN ring8 GROUP BY doc_id, h64),
       |a9 AS (
       | SELECT doc_id,
       |  COALESCE(MIN(CASE WHEN packed >= h64 THEN packed END), MIN(packed)) % 64 AS shard9
       | FROM d CROSS JOIN ring9 GROUP BY doc_id, h64)
       |SELECT doc_id, shard8, shard9, shard8 != shard9 AS moved
       |FROM a8 JOIN a9 USING (doc_id)""".stripMargin

  // ---------------------------------------------------------------------
  // tp07: the DAILY-INGEST cycle capstone — today's batch (doc_id % 10 >=
  // 8, the dd09/dd11 convention) checked against the persistent dedup
  // store ([[DedupStore]] — the corpus side is read from disk, never
  // re-tokenized), survivors assigned their content-hash train/val/test
  // split (the ds01 fence). This is the composition a 100 TB pipeline
  // runs nightly: maintained store in, deduplicated + routed batch out;
  // every stage keeps its standalone plan shape (store band join on the
  // increment only, anti-join drop, per-row split arithmetic). The
  // oracle nests dd09's full recurrence as the dup set — so the store
  // path is ALSO re-proven equivalent to the from-scratch computation
  // every time this query is checked.
  // ---------------------------------------------------------------------
  def tp07IngestCycle(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val neu = docs.filter(col("doc_id") % 10 >= 8)
    val dups = DedupStore.dd11StoreIncremental(s, dir).select(col("doc_id"))
    neu.join(dups, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), hashBucket(col("text"), 100).as("bucket"))
      .select(col("doc_id"), col("bucket"), splitOf(col("bucket")).as("split"))
  }

  val tp07Oracle: String =
    s"""WITH dups AS (SELECT doc_id FROM (${Dedup.dd09Oracle}) d),
       |nw AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 >= 8)
       |SELECT doc_id, bucket,
       | CASE WHEN bucket < 80 THEN 'train'
       |      WHEN bucket < 90 THEN 'validation'
       |      ELSE 'test' END AS split
       |FROM (SELECT doc_id,
       |  ('0x' || substr(md5(text), 1, 8))::BIGINT % 100 AS bucket
       | FROM nw WHERE doc_id NOT IN (SELECT doc_id FROM dups)) t""".stripMargin

  /** Cluster `df` for multi-dimensional scan pruning: range-partition and
    * sort by the Morton key of (x, y). Each output file then covers a
    * near-disjoint zkey range (range partitioner boundaries + in-file
    * sort), so a reader's two-sided rectangle predicate — rewritten as
    * zkey BETWEEN bounds — skips every non-overlapping row group via
    * parquet min/max stats. `numFiles` sizes the write; at scale you'd
    * target ~1 GB files. */
  def zorderClustered(df: DataFrame, x: String, y: String, numFiles: Int): DataFrame = {
    graft.functions.VectorFunctions.register(df.sparkSession)
    df.withColumn("zkey", expr(s"zorder2($x, $y)"))
      .repartitionByRange(numFiles, col("zkey"))
      .sortWithinPartitions(col("zkey"))
  }

  /** Read-side rewrite for a [[zorderClustered]] table: the rectangle
    * [xLo,xHi] × [yLo,yHi] becomes a disjunction of `zkey BETWEEN`
    * intervals ([[graft.functions.ZOrderImpl.zRanges]]) that parquet
    * min/max stats can prune on — BOTH dimensions at once — AND the exact
    * x/y predicates (the z-ranges are a covering superset, so the column
    * predicates stay authoritative). Without this helper the layout's
    * pruning was only usable by hand-derived BETWEEN bounds; this is the
    * index surface the reference exposes over its cities lat/lon-adjacent
    * lookups (reference `src/setup.sql:48-51`). */
  def zRectScan(df: DataFrame, x: String, y: String,
      xLo: Long, xHi: Long, yLo: Long, yHi: Long,
      maxRanges: Int = 64): DataFrame = {
    val ranges = graft.functions.ZOrderImpl.zRanges(xLo, xHi, yLo, yHi, maxRanges)
    val zPred = ranges.map { case (lo, hi) => col("zkey").between(lo, hi) }
      .reduce(_ || _)
    // exact predicates FIRST: codegen short-circuits the conjunction, so
    // rows outside the rectangle never evaluate the multi-interval zPred —
    // whose real job is row-group stats pruning, done before row eval
    df.filter(col(x).between(xLo, xHi) && col(y).between(yLo, yHi) && zPred)
  }

  // ---------------------------------------------------------------------
  // ds08: the Z-order READ side as a checked query — a two-sided rectangle
  // over the (x, y) domain answered through the zkey rewrite: zRanges
  // decomposes the rectangle into BETWEEN intervals (what parquet min/max
  // stats prune on a ds06-clustered layout), the exact column predicates
  // stay on top. The answer must equal the plain rectangle filter — the
  // oracle IS the plain filter, so a covering bug in the decomposition
  // (a dropped key) or a masking bug (zkey of the wrong bits) hash-fails.
  // ---------------------------------------------------------------------
  def ds08ZrectQuery(s: SparkSession, dir: String): DataFrame =
    zRectScan(ds06ZorderKey(s, dir), "x", "y", 100, 900, 200, 777)

  val ds08Oracle: String =
    s"""SELECT * FROM ($ds06Oracle) z
       |WHERE x BETWEEN 100 AND 900 AND y BETWEEN 200 AND 777""".stripMargin

  // ---------------------------------------------------------------------
  // ds09: epoch sharding — the deterministic corpus shuffle every training
  // run performs before writing shards: a pseudorandom but REPRODUCIBLE
  // permutation (md5 of a seeded doc_id, so re-runs, re-shards and
  // backfills agree), bucketed into a fixed shard count, with each doc's
  // 1-based position within its shard. Downstream, shard s / position p
  // IS the training order — no RNG state, no row-order dependence.
  //
  // Scale shape: the naive form is ROW_NUMBER over each shard — one task
  // sorting corpus/nShards rows (~TBs each at 100 TB). Instead the rank is
  // two-phase like ds03's prefix sum: per-(shard, hkey-range) bucket
  // counts map-side, a tiny per-shard bucket-prefix window (nShards ×
  // nBuckets rows total), then a within-bucket row_number — the widest
  // sort any task runs is one (shard, bucket) slice, corpus/(16·64) rows.
  // ---------------------------------------------------------------------
  private val epochShards = 16

  /** Two-phase rank: 1-based position of each row within its `part`
    * group under (hkey, doc_id) order, WITHOUT a per-part global sort.
    * hkey sub-buckets (div 2^26, ≤64 buckets) are counted map-side, a
    * tiny per-part bucket-prefix window (|parts| × 64 rows) assigns
    * offsets, and the widest sort any task runs is one (part, bucket)
    * slice. Input needs columns (part, hkey, doc_id); output adds pos. */
  private def twoPhaseRank(keyed: DataFrame, part: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bucketed = keyed.withColumn("bkt", expr("hkey div 67108864"))
    val bucketPrefix = bucketed.groupBy(col(part), col("bkt"))
      .agg(count(lit(1)).as("c"))
      .withColumn("pre",
        coalesce(sum(col("c")).over(
          Window.partitionBy(col(part)).orderBy(col("bkt"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(part), col("bkt"), col("pre"))
    val wIn = Window.partitionBy(col(part), col("bkt"))
      .orderBy(col("hkey"), col("doc_id"))
    bucketed.join(broadcast(bucketPrefix), Seq(part, "bkt"))
      .withColumn("pos", col("pre") + row_number().over(wIn))
      .drop("bkt", "pre")
  }

  def ds09EpochShards(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val keyed = docs.select(col("doc_id"),
      conv(substring(md5(concat(lit("epoch1:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
        .cast("long").as("hkey"))
      .withColumn("shard", (col("hkey") % epochShards).cast("int"))
    twoPhaseRank(keyed, "shard")
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  val ds09Oracle: String =
    s"""WITH k AS (
       | SELECT doc_id,
       |  ('0x' || substr(md5('epoch1:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS hkey
       | FROM documents)
       |SELECT doc_id, CAST(hkey % $epochShards AS INT) AS shard,
       | CAST(ROW_NUMBER() OVER (PARTITION BY hkey % $epochShards
       |   ORDER BY hkey, doc_id) AS BIGINT) AS pos
       |FROM k""".stripMargin

  // ---------------------------------------------------------------------
  // ds10: temperature-scaled language mixture — the multilingual
  // upsampling recipe (XLM-R/mT5's exponent-smoothed sampling): each
  // language's target token share ∝ (its token mass)^(1/T) with T = 2, so
  // low-resource languages are upsampled relative to their raw frequency,
  // then documents are kept by a content-stable hash draw at the
  // language's keep rate against a corpus-half token budget. T = 2 means
  // the weight is sqrt(tokens) — IEEE-exact in both engines (sqrt is
  // correctly rounded; pow(x, 0.7) is not), so the keep decision is
  // reproducible bit-for-bit.
  //
  // Scale shape: the per-language totals are a |langs|-row aggregate —
  // broadcast back over the corpus, so the doc-level pass is one
  // map-side scan; the only corpus-wide exchange is the token-count
  // groupBy's partial-aggregated shuffle.
  // ---------------------------------------------------------------------
  def ds10TempMixture(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val t = docs.select(col("doc_id"), col("lang"),
      expr("size(filter(split(text, ' '), x -> x != ''))").cast("long")
        .as("n_tokens"))
    val langTot = t.groupBy(col("lang"))
      .agg(sum(col("n_tokens")).as("lang_toks"))
      .withColumn("w", sqrt(col("lang_toks").cast("double")))
    val tot = langTot.agg(sum(col("w")).as("sw"),
      sum(col("lang_toks")).as("st"))
    val rates = langTot.crossJoin(broadcast(tot))
      .withColumn("target_toks",
        col("w") / col("sw") * col("st").cast("double") / 2.0)
      .withColumn("keep_rate",
        least(lit(1.0), col("target_toks") / col("lang_toks").cast("double")))
      .select(col("lang"), col("lang_toks"), col("keep_rate"))
    t.join(broadcast(rates), Seq("lang"))
      .withColumn("u",
        conv(substring(md5(concat(lit("mix1:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
          .cast("double") / 4294967296.0)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("lang_toks"),
        round(col("keep_rate"), 6).as("keep_rate"),
        (col("u") < col("keep_rate")).as("kept"))
  }

  val ds10Oracle: String =
    """WITH t AS (
      | SELECT doc_id, lang,
      |  CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS BIGINT) AS n_tokens
      | FROM documents),
      |lt AS (
      | SELECT lang, CAST(SUM(n_tokens) AS BIGINT) AS lang_toks,
      |  sqrt(CAST(SUM(n_tokens) AS DOUBLE)) AS w
      | FROM t GROUP BY lang),
      |tot AS (SELECT SUM(w) AS sw, CAST(SUM(lang_toks) AS BIGINT) AS st FROM lt),
      |r AS (
      | SELECT lang, lang_toks,
      |  least(1.0, (w / sw * CAST(st AS DOUBLE) / 2.0) / CAST(lang_toks AS DOUBLE)) AS keep_rate
      | FROM lt CROSS JOIN tot)
      |SELECT t.doc_id, t.lang, t.n_tokens, r.lang_toks,
      | round(r.keep_rate, 6) AS keep_rate,
      | (CAST(('0x' || substr(md5('mix1:' || CAST(t.doc_id AS VARCHAR)), 1, 8))::BIGINT AS DOUBLE)
      |   / 4294967296.0 < r.keep_rate) AS kept
      |FROM t JOIN r USING (lang)""".stripMargin

  // ---------------------------------------------------------------------
  // ds11: deterministic weighted source interleave — the ORDER in which a
  // mixture is read: give each source an integer weight (here 1..4 from a
  // stable name hash; in production the mixture config) and assign every
  // doc the virtual-time key pos_in_source · (12 / w) — weighted fair
  // queueing's finish tag with LCM(1..4) = 12 keeping it an exact
  // integer. Reading in ascending (ikey, source, pos) interleaves
  // sources proportionally to weight at every prefix — the property
  // "every training window sees the configured mixture", with no RNG and
  // stable under re-sharding.
  //
  // Scale shape: pos is the ds09 two-phase rank partitioned by source —
  // per-(source, id-range) bucket counts, a tiny broadcast prefix, a
  // within-bucket row_number — so no task ever sorts one source's full
  // stream; the weight table is per-source arithmetic, no join at all.
  // ---------------------------------------------------------------------
  def ds11SourceInterleave(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(s, dir, "documents")
    val keyed = docs.select(col("doc_id"), col("source"))
      .withColumn("w", hashBucket(concat(lit("mixw:"), col("source")), 4) + 1)
      .withColumn("bkt", expr("doc_id div 256"))
    val bucketPrefix = keyed.groupBy(col("source"), col("bkt"))
      .agg(count(lit(1)).as("c"))
      .withColumn("pre",
        coalesce(sum(col("c")).over(
          Window.partitionBy(col("source")).orderBy(col("bkt"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("source"), col("bkt"), col("pre"))
    val wIn = Window.partitionBy(col("source"), col("bkt")).orderBy(col("doc_id"))
    keyed.join(broadcast(bucketPrefix), Seq("source", "bkt"))
      .withColumn("pos", col("pre") + row_number().over(wIn))
      .select(col("doc_id"), col("source"), col("w").cast("int").as("weight"),
        col("pos"), (col("pos") * expr("12 div w")).as("ikey"))
  }

  val ds11Oracle: String =
    """WITH k AS (
      | SELECT doc_id, source,
      |  (('0x' || substr(md5('mixw:' || source), 1, 8))::BIGINT % 4) + 1 AS w
      | FROM documents),
      |p AS (
      | SELECT doc_id, source, w,
      |  ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS pos
      | FROM k)
      |SELECT doc_id, source, CAST(w AS INT) AS weight,
      | CAST(pos AS BIGINT) AS pos,
      | CAST(pos * (12 // w) AS BIGINT) AS ikey
      |FROM p""".stripMargin

  // ---------------------------------------------------------------------
  // tp05: mixture → reading order → shards, end to end — the data-order
  // deliverable a pretraining run actually consumes: ds10's temperature
  // mixture decides WHAT to read, ds11's weighted-fair-queueing key
  // decides in WHAT ORDER (per-language weights on the kept subset), and
  // a round-robin over the global interleave rank decides WHERE each doc
  // lands (shard s, position p) — so every shard individually preserves
  // the configured mixture at every prefix.
  //
  // Scale shape: the global interleave rank is the two-phase trick a
  // THIRD time — per-(ikey-range) bucket counts, one tiny ordered prefix
  // over the bucket table, within-bucket row_number — so the "global
  // sort" never materializes; everything else is per-row arithmetic.
  // ---------------------------------------------------------------------
  def tp05MixtureShards(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val kept = ds10TempMixture(s, dir).filter(col("kept"))
      .select(col("doc_id"), col("lang"))
    // per-language position within the KEPT subset (ds09's two-phase rank)
    val keyed = kept
      .withColumn("w", hashBucket(concat(lit("mixw:"), col("lang")), 4) + 1)
      .withColumn("bkt", expr("doc_id div 256"))
    val posPrefix = keyed.groupBy(col("lang"), col("bkt"))
      .agg(count(lit(1)).as("c"))
      .withColumn("pre",
        coalesce(sum(col("c")).over(
          Window.partitionBy(col("lang")).orderBy(col("bkt"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("lang"), col("bkt"), col("pre"))
    val wPos = Window.partitionBy(col("lang"), col("bkt")).orderBy(col("doc_id"))
    val interleaved = keyed.join(broadcast(posPrefix), Seq("lang", "bkt"))
      .withColumn("pos", col("pre") + row_number().over(wPos))
      .withColumn("ikey", col("pos") * expr("12 div w"))
      .select(col("doc_id"), col("lang"), col("pos"), col("ikey"))
    // global rank over (ikey, lang, pos) without a global sort
    val ranked = interleaved.withColumn("ibkt", expr("ikey div 4096"))
    val rankPrefix = ranked.groupBy(col("ibkt")).agg(count(lit(1)).as("c"))
      .withColumn("rpre",
        coalesce(sum(col("c")).over(Window.orderBy(col("ibkt"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("ibkt"), col("rpre"))
    val wRank = Window.partitionBy(col("ibkt"))
      .orderBy(col("ikey"), col("lang"), col("pos"))
    ranked.join(broadcast(rankPrefix), Seq("ibkt"))
      .withColumn("r", col("rpre") + row_number().over(wRank))
      .select(col("doc_id"), col("lang"), col("ikey"),
        ((col("r") - 1) % epochShards).cast("int").as("shard"),
        expr(s"(r - 1) div $epochShards").as("shard_pos"))
  }

  val tp05Oracle: String =
    s"""WITH m AS (SELECT * FROM ($ds10Oracle) t),
       |k AS (SELECT doc_id, lang FROM m WHERE kept),
       |p AS (
       | SELECT doc_id, lang,
       |  ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS pos,
       |  (('0x' || substr(md5('mixw:' || lang), 1, 8))::BIGINT % 4) + 1 AS w
       | FROM k),
       |i AS (SELECT doc_id, lang, pos, CAST(pos * (12 // w) AS BIGINT) AS ikey FROM p),
       |r AS (
       | SELECT doc_id, lang, ikey,
       |  ROW_NUMBER() OVER (ORDER BY ikey, lang, pos) AS r
       | FROM i)
       |SELECT doc_id, lang, ikey,
       | CAST((r - 1) % $epochShards AS INT) AS shard,
       | CAST((r - 1) // $epochShards AS BIGINT) AS shard_pos
       |FROM r""".stripMargin

  // ---------------------------------------------------------------------
  // tp03: the corpus report card — the fleet-management question every
  // data team asks between pipeline runs, answered in ONE plan: per
  // language, how many documents and tokens do we hold, how many are
  // exact-dup copies, how many share n-grams with the eval suite, and how
  // much of the token mass is out-of-vocabulary. Composes the dd01 dup
  // groups, the tx09 learned-vocab OOV scores and the dc01 contamination
  // flags; everything is integer sums, so the oracle hash-matches
  // exactly. Scale: the per-doc joins are hash-equi on doc_id / content
  // hash; the final per-language rollup is ~|langs| rows.
  // ---------------------------------------------------------------------
  def tp03CorpusReport(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val base = docs.select(col("doc_id"), col("lang"), md5(col("text")).as("h"))
    // the dd01 surface IS the dup-group authority — reuse it so tp03's
    // n_dup_docs can never drift from the dedup operator it reports on
    val dupGroups = Dedup.dd01ExactDedup(s, dir)
      .select(col("text_hash").as("h"), col("n_copies"))
    val oov = TextOps.tx09OovRate(s, dir)
      .select(col("doc_id"), col("n_tokens"), col("n_in_vocab"))
    val contaminated = dc01Decontaminate(s, dir)
      .select(col("doc_id"), lit(1L).as("is_cont"))
    base.join(dupGroups, Seq("h"))
      .join(oov, Seq("doc_id"), "left")
      .join(contaminated, Seq("doc_id"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("n_tokens"), lit(0L))).as("total_tokens"),
        count(when(col("n_copies") > 1, lit(1))).as("n_dup_docs"),
        count(col("is_cont")).as("n_contaminated"),
        sum(coalesce(col("n_tokens") - col("n_in_vocab"), lit(0L))).as("total_oov"))
  }

  val tp03Oracle: String =
    s"""WITH d AS (SELECT doc_id, lang, md5(text) AS h FROM documents),
       |g AS (SELECT md5(text) AS h, COUNT(*) AS n_copies FROM documents GROUP BY 1),
       |ov AS (SELECT doc_id, n_tokens, n_in_vocab FROM (${graft.operators.TextOps.oracles("tx09_oov_rate")}) q),
       |ct AS (SELECT doc_id FROM ($dc01Oracle) q2)
       |SELECT d.lang, COUNT(*) AS n_docs,
       | CAST(SUM(COALESCE(ov.n_tokens, 0)) AS BIGINT) AS total_tokens,
       | CAST(SUM(CASE WHEN g.n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
       | CAST(SUM(CASE WHEN ct.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
       | CAST(SUM(COALESCE(ov.n_tokens - ov.n_in_vocab, 0)) AS BIGINT) AS total_oov
       |FROM d JOIN g USING (h)
       |LEFT JOIN ov USING (doc_id)
       |LEFT JOIN ct USING (doc_id)
       |GROUP BY d.lang""".stripMargin

  // ---------------------------------------------------------------------
  // dc05: SPLIT-LEAKAGE audit — the eval bug decontamination can't see:
  // dc01–dc04 screen the corpus against an EXTERNAL eval set, but a
  // near-duplicate pair straddling the train/test boundary of the
  // corpus's OWN split (ds01) leaks test answers into training just the
  // same. This composes the two fences: dd05's verified near-dup pairs
  // (LSH candidates + exact Jaccard, is_dup only) annotated with each
  // side's ds01 split and a `straddles` flag — the audit table a
  // pipeline reviews before trusting held-out numbers (9 of 25 verified
  // dup pairs straddle at sf0.01 — content-hash splits do NOT co-locate
  // near-duplicates, which is exactly why this audit exists). Cost: the
  // dd05 pipeline plus two hash joins of the tiny pair list against the
  // split projection — the corpus pays nothing new.
  // ---------------------------------------------------------------------
  def dc05SplitLeakage(s: SparkSession, dir: String): DataFrame = {
    val splits = ds01HashSplit(s, dir).select(col("doc_id"), col("split"))
    Dedup.dd05JaccardVerify(s, dir).filter(col("is_dup"))
      .select(col("doc1"), col("doc2"), col("n_inter"), col("n_union"))
      .join(splits.select(col("doc_id").as("doc1"), col("split").as("split1")),
        Seq("doc1"))
      .join(splits.select(col("doc_id").as("doc2"), col("split").as("split2")),
        Seq("doc2"))
      .select(col("doc1"), col("doc2"), col("split1"), col("split2"),
        col("n_inter"), col("n_union"),
        (col("split1") =!= col("split2")).as("straddles"))
  }

  val dc05Oracle: String =
    s"""WITH v AS (SELECT * FROM (${Dedup.oracles("dd05_jaccard_verify")}) x WHERE is_dup),
       |sp AS (SELECT doc_id,
       |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'validation'
       |       ELSE 'test' END AS split
       | FROM (SELECT doc_id,
       |   ('0x' || substr(md5(text), 1, 8))::BIGINT % 100 AS b
       |  FROM documents) t)
       |SELECT v.doc1, v.doc2, s1.split AS split1, s2.split AS split2,
       | v.n_inter, v.n_union, s1.split != s2.split AS straddles
       |FROM v JOIN sp s1 ON v.doc1 = s1.doc_id
       | JOIN sp s2 ON v.doc2 = s2.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // dc06: SEMANTIC decontamination — the embedding-space member of the
  // family: dc01–dc04 catch verbatim/n-gram leakage, dc05 catches split
  // straddle, but a PARAPHRASED eval item shares no 5-gram with its
  // training twin; the modern screen (GPT-3 appendix C → Llama-era
  // "fuzzy dedup against benchmarks") is cosine similarity between
  // train and eval EMBEDDINGS. Threshold = the SAME cos ≥ 0.4 fence the
  // dd06 near-dup tier uses, in the same exact integer form (dot > 0 ∧
  // 25·dot² ≥ 4·n_t·n_e — no float in the decision), so "contaminated"
  // here means exactly "near-duplicate of an eval item".
  //
  // Scale shape: eval sets are SMALL by nature (benchmarks, not
  // corpora) — the eval side broadcasts whole, every (train, eval) dot
  // is evaluated map-side in ONE corpus scan (zero shuffles before the
  // per-vec rollup, which is a map-side-combined aggregate). Ranking by
  // raw integer dot (MIPS) keeps the best-hit pick hash-exact; ties
  // break to the lowest eval id.
  // ---------------------------------------------------------------------
  def dc06SemanticDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val q = Dedup.quantized(Tables(s, dir, "embeddings"))
    val ev = q.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("eval_id"), col("v").as("v2"), col("nrm").as("ne"))
    val tr = q.filter(col("vec_id") % 50 =!= 0)
      .select(col("vec_id"), col("v").as("v1"), col("nrm").as("nt"))
    tr.join(broadcast(ev), lit(true))
      .withColumn("dot", expr("dot_l(v1, v2)"))
      .filter(col("dot") > 0 &&
        col("dot") * col("dot") * 25 >= col("nt") * col("ne") * 4)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_eval_hits"),
        max(struct(col("dot"), (-col("eval_id")).as("nege"))).as("b"))
      .select(col("vec_id"), col("n_eval_hits"),
        (-col("b.nege")).as("best_eval_id"), col("b.dot").as("best_dot"))
  }

  val dc06Oracle: String =
    s"""WITH ${Similarity.qvecSql},
       |ev AS (SELECT vec_id AS eval_id, v, nrm AS ne FROM qn WHERE vec_id % 50 = 0),
       |tr AS (SELECT vec_id, v, nrm AS nt FROM qn WHERE vec_id % 50 != 0),
       |hits AS (
       | SELECT tr.vec_id, ev.eval_id,
       |  CAST(list_sum(list_transform(range(1, len(tr.v) + 1), i -> tr.v[i] * ev.v[i])) AS BIGINT) AS dot,
       |  tr.nt, ev.ne
       | FROM tr CROSS JOIN ev),
       |flagged AS (
       | SELECT vec_id, eval_id, dot FROM hits
       | WHERE dot > 0 AND 25 * dot * dot >= 4 * nt * ne),
       |ranked AS (
       | SELECT vec_id, eval_id, dot,
       |  ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dot DESC, eval_id ASC) AS rn,
       |  CAST(COUNT(*) OVER (PARTITION BY vec_id) AS BIGINT) AS nh
       | FROM flagged)
       |SELECT vec_id, nh AS n_eval_hits, eval_id AS best_eval_id, dot AS best_dot
       |FROM ranked WHERE rn = 1""".stripMargin

  // ---------------------------------------------------------------------
  // ds22: SPLIT REPAIR — the actionable remedy for what dc05 audits: a
  // near-duplicate pair straddling the train/eval boundary makes the
  // eval copy worthless (its answer is in training), so the standard fix
  // is to QUARANTINE leaked eval docs INTO train (dropping them from
  // eval keeps eval clean; keeping them in train costs nothing — the
  // content is already there via the twin). Rule: any doc appearing in a
  // straddling verified-dup pair whose split is not 'train' moves to
  // 'train'; everything else keeps its ds01 assignment. Output is the
  // full repaired assignment plus the `moved` flag — re-running dc05
  // against new_split finds zero straddles with a train side by
  // construction (the spec's law).
  //
  // Scale shape: dc05's pair list is tiny (verified dups only); the
  // repair is one distinct over its two id columns and one hash
  // left-join against the split projection — the corpus pays one scan.
  // ---------------------------------------------------------------------
  def ds22SplitRepair(s: SparkSession, dir: String): DataFrame = {
    val splits = ds01HashSplit(s, dir).select(col("doc_id"), col("split"))
    val str = dc05SplitLeakage(s, dir).filter(col("straddles"))
    val leaked = str.select(col("doc1").as("doc_id"))
      .unionAll(str.select(col("doc2").as("doc_id"))).distinct()
      .withColumn("leaked", lit(true))
    splits.join(leaked, Seq("doc_id"), "left")
      .select(col("doc_id"), col("split"),
        when(coalesce(col("leaked"), lit(false)) && col("split") =!= "train",
          lit("train")).otherwise(col("split")).as("new_split"),
        (coalesce(col("leaked"), lit(false)) && col("split") =!= "train")
          .as("moved"))
  }

  val ds22Oracle: String =
    s"""WITH d AS (SELECT * FROM ($dc05Oracle) x WHERE straddles),
       |lk AS (SELECT doc1 AS doc_id FROM d UNION SELECT doc2 FROM d),
       |sp AS (SELECT doc_id, split FROM ($ds01Oracle) t)
       |SELECT sp.doc_id, sp.split,
       | CASE WHEN lk.doc_id IS NOT NULL AND sp.split != 'train'
       |      THEN 'train' ELSE sp.split END AS new_split,
       | (lk.doc_id IS NOT NULL AND sp.split != 'train') AS moved
       |FROM sp LEFT JOIN lk ON sp.doc_id = lk.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // ds20: k-CENTER CORESET selection — greedy farthest-point traversal
  // over the embedding space (Gonzalez 1985; the diversity-sampling
  // member of the data-selection family: ds13 orders by difficulty, ds17
  // samples by priority, ds19 matches a mixture — this picks the
  // MAXIMALLY SPREAD exemplar set, the D4/coreset-pruning shape). Each
  // round broadcasts the chosen centers, computes every point's distance
  // to its nearest center map-side (exact integer d²), and takes the
  // argmax as the next center — a TakeOrdered(1), never a sort. The
  // greedy loop is inherently sequential, so rounds are driver-iterated
  // with a FIXED k (kmeans/ss04's convention — keeps the oracle a finite
  // CTE chain); each round costs one broadcast scan, total k scans of
  // the corpus. Output: every point's nearest chosen center and the
  // distance — the coverage map whose max is the classic 2-approximation
  // certificate. Ties argmax by min vec_id; all-integer, hash-exact.
  // ---------------------------------------------------------------------
  private val kcRounds = 4

  def ds20KcenterCoreset(s: SparkSession, dir: String): DataFrame = {
    val base = Similarity.qvec(s, dir)
    def asCenter(df: DataFrame): DataFrame =
      df.select(col("vec_id").as("c_id"), col("v").as("cv"),
        col("nrm").as("cn"))
    var centers = asCenter(base.filter(col("vec_id") === 0)).transform(pin)
    for (_ <- 2 to kcRounds) {
      val dmin = base.join(broadcast(centers), lit(true))
        .withColumn("d2", col("nrm") + col("cn") - expr("2 * dot_l(v, cv)"))
        .groupBy(col("vec_id")).agg(min(col("d2")).as("dmin"))
      val next = asCenter(dmin.join(base, Seq("vec_id"))
        .orderBy(col("dmin").desc, col("vec_id").asc).limit(1))
      centers = centers.unionByName(next).transform(pin)
    }
    base.join(broadcast(centers), lit(true))
      .withColumn("d2", col("nrm") + col("cn") - expr("2 * dot_l(v, cv)"))
      .groupBy(col("vec_id"))
      .agg(min_by(struct(col("c_id"), col("d2")),
        struct(col("d2"), col("c_id"))).as("m"))
      .select(col("vec_id"), col("m.c_id").as("center_id"),
        col("m.d2").as("d2"))
  }

  private def kcRoundSql(r: Int): String =
    s"""d$r AS (
       | SELECT qn.vec_id,
       |  MIN(qn.nrm + c.cn - 2 * CAST(list_sum(list_transform(range(1, len(qn.v) + 1), i -> qn.v[i] * c.cv[i])) AS BIGINT)) AS dmin
       | FROM qn CROSS JOIN c${r - 1} c GROUP BY qn.vec_id),
       |n$r AS (
       | SELECT qn.vec_id AS c_id, qn.v AS cv, qn.nrm AS cn
       | FROM d$r JOIN qn USING (vec_id)
       | ORDER BY d$r.dmin DESC, vec_id ASC LIMIT 1),
       |c$r AS (SELECT * FROM c${r - 1} UNION ALL SELECT * FROM n$r)""".stripMargin

  lazy val ds20Oracle: String =
    s"""WITH ${Similarity.qvecSql},
       |c1 AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM qn WHERE vec_id = 0),
       |${(2 to kcRounds).map(kcRoundSql).mkString(",\n")},
       |scored AS (
       | SELECT qn.vec_id, c.c_id,
       |  qn.nrm + c.cn - 2 * CAST(list_sum(list_transform(range(1, len(qn.v) + 1), i -> qn.v[i] * c.cv[i])) AS BIGINT) AS d2
       | FROM qn CROSS JOIN c$kcRounds c)
       |SELECT vec_id, c_id AS center_id, d2 FROM (
       | SELECT vec_id, c_id, d2,
       |  ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, c_id) AS rn
       | FROM scored) t WHERE rn = 1""".stripMargin

  // ---------------------------------------------------------------------
  // q60: TEMPORAL-VALIDITY lookup over the ds15 SCD2 dimension — the
  // time-travel join every warehouse runs ("the customer's balance AS OF
  // this order's version"): each fact row carries an as-of version and
  // must match the dim interval containing it (valid_from ≤ v < valid_to,
  // open current interval). Spark-first shape: because validity here is a
  // SMALL DISCRETE domain (snapshot versions), the interval side is
  // EXPLODED to one row per covered version and the lookup becomes a
  // plain hash equi-join on (key, version) — the interval→equi
  // enumeration trick, which beats a range join whenever the domain is
  // enumerable (for continuous time the q37 interval-join machinery is
  // the fallback). LEFT join keeps facts whose key had no valid version
  // (late inserts / deletes) with a NULL balance — exactly the rows an
  // audit wants to see. Version arithmetic is pure integers; balances
  // are the same parquet doubles plus exact IEEE adds on both engines.
  // ---------------------------------------------------------------------
  private val scd2LastVer = 3

  def q60TemporalLookup(s: SparkSession, dir: String): DataFrame = {
    val dimx = ds15Scd2(s, dir)
      .withColumn("ver", explode(sequence(col("valid_from"),
        coalesce(col("valid_to") - 1, lit(scd2LastVer)))))
      .select(col("c_custkey"), col("ver"), col("acctbal"))
    val facts = Tables(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        (col("o_orderkey") % 3 + 1).cast("int").as("ver"))
    facts.join(dimx, facts("o_custkey") === dimx("c_custkey") &&
        facts("ver") === dimx("ver"), "left")
      .select(col("o_orderkey"), col("o_custkey"), facts("ver"),
        col("acctbal").as("asof_acctbal"))
  }

  lazy val q60Oracle: String =
    s"""WITH dim AS (SELECT * FROM ($ds15Oracle) d),
       |dimx AS (
       | SELECT c_custkey, CAST(unnest(range(valid_from,
       |   COALESCE(valid_to, ${scd2LastVer + 1}))) AS INT) AS ver, acctbal
       | FROM dim),
       |facts AS (
       | SELECT o_orderkey, o_custkey, CAST(o_orderkey % 3 + 1 AS INT) AS ver
       | FROM orders)
       |SELECT f.o_orderkey, f.o_custkey, f.ver, dimx.acctbal AS asof_acctbal
       |FROM facts f LEFT JOIN dimx
       | ON f.o_custkey = dimx.c_custkey AND f.ver = dimx.ver""".stripMargin

  // ---------------------------------------------------------------------
  // ds21: REPRODUCIBILITY manifest — the release fingerprint a dataset
  // ships with: per split, the document count, total chars/tokens, and
  // an ORDER-INDEPENDENT content digest (bit_xor of a 60-bit md5 prefix
  // per document — xor is the commutative monoid that makes the digest
  // identical under any partitioning, shard order, or engine, where a
  // concatenated hash would depend on row order). Two runs produced the
  // same split iff the manifest rows match — the cheap equality check
  // that replaces diffing terabytes (ds14 says WHAT changed; this says
  // WHETHER, in O(|splits|) space). One scan, one |splits|-row rollup.
  // ---------------------------------------------------------------------
  def ds21SplitManifest(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    docs.select(
        splitOf(hashBucket(col("text"), 100)).as("split"),
        conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long").as("h"),
        col("n_chars"),
        size(expr("filter(split(text, ' '), x -> x != '')")).cast("long")
          .as("n_toks"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        expr("bit_xor(h)").as("content_digest"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("n_toks")).as("total_tokens"))
  }

  val ds21Oracle: String =
    """SELECT split, COUNT(*) AS n_docs,
      | bit_xor(h) AS content_digest,
      | CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      | CAST(SUM(n_toks) AS BIGINT) AS total_tokens
      |FROM (
      | SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'validation'
      |   ELSE 'test' END AS split,
      |  ('0x' || substr(md5(text), 1, 15))::BIGINT AS h,
      |  n_chars,
      |  CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS BIGINT) AS n_toks
      | FROM (SELECT doc_id, text, n_chars,
      |   ('0x' || substr(md5(text), 1, 8))::BIGINT % 100 AS b
      |  FROM documents) t) u
      |GROUP BY split""".stripMargin

  // ---------------------------------------------------------------------
  // tp10: RELEASE manifest capstone — the last artifact a curation
  // pipeline ships: tp02's fully-curated corpus (quality gate → dedup →
  // near-dup removal → decontamination → split → train mixture) rolled
  // up into the per-split release fingerprint (doc counts, token/char
  // totals, and ds21's order-independent bit_xor content digest). Two
  // releases are byte-equivalent iff their manifest rows match — the
  // O(|splits|) equality check that replaces diffing shipped shards, now
  // over the CURATED corpus rather than ds21's raw one. Composition adds
  // one hash semi-join (curated ids back to text) and a |splits|-row
  // rollup on top of tp02's plan; every stage keeps its standalone
  // shape.
  // ---------------------------------------------------------------------
  def tp10ReleaseManifest(s: SparkSession, dir: String): DataFrame = {
    val curated = tp02FullCuration(s, dir).select(col("doc_id"), col("split"))
    Tables(s, dir, "documents")
      .join(curated, Seq("doc_id"))
      .select(col("split"),
        conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long").as("h"),
        col("n_chars"),
        size(expr("filter(split(text, ' '), x -> x != '')")).cast("long")
          .as("n_toks"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        expr("bit_xor(h)").as("content_digest"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("n_toks")).as("total_tokens"))
  }

  val tp10Oracle: String =
    s"""WITH cur AS (SELECT doc_id, split FROM ($tp02Oracle) c)
       |SELECT split, COUNT(*) AS n_docs,
       | bit_xor(('0x' || substr(md5(d.text), 1, 15))::BIGINT) AS content_digest,
       | CAST(SUM(d.n_chars) AS BIGINT) AS total_chars,
       | CAST(SUM(len(list_filter(string_split(d.text, ' '), x -> x != ''))) AS BIGINT) AS total_tokens
       |FROM documents d JOIN cur USING (doc_id)
       |GROUP BY split""".stripMargin

  // ---------------------------------------------------------------------
  // ds23: LENGTH-BUCKETED batching report — the padding-waste ledger of a
  // training data loader. Fixed-shape training kernels pad every sequence
  // in a batch to a common length; bucketing documents by
  // next-power-of-two token length (the standard dataloader trick,
  // e.g. fairseq's --required-batch-size-multiple world) bounds padding
  // waste at <50% per bucket instead of the unbounded waste of mixing a
  // 10-token doc into a 4096-token batch. The report: per bucket, docs,
  // real tokens, padded tokens (bucket width × docs), batches at batch
  // size 8, and the waste fraction.
  //
  // Exactness: the bucket is computed with INTEGER bit arithmetic —
  // 1 << length(bin(n-1)) — never floor(log2(x)) floats (log2 is exact
  // on powers of two in IEEE, but trusting two engines' libm to agree on
  // the rest is exactly the kind of cross-engine coin flip this repo
  // avoids); `bin` exists verbatim in Spark and DuckDB. The only double
  // is the final waste ratio, computed as the same single division on
  // both sides.
  //
  // Scale shape: pure per-row arithmetic (no join against a powers
  // table) into a map-side-combined groupBy on ~17 bucket keys — one
  // O(|buckets|) partial-aggregate shuffle, nothing corpus-sized moves.
  // ---------------------------------------------------------------------
  def ds23LengthBuckets(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    docs.select(
        size(expr("filter(split(text, ' '), x -> x != '')")).cast("long")
          .as("n"))
      .withColumn("bucket",
        when(col("n") <= 1, lit(1L))
          .otherwise(expr("shiftleft(cast(1 as bigint), length(bin(n - 1)))")))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("sum_tokens"))
      .withColumn("padded_tokens", col("bucket") * col("n_docs"))
      .withColumn("n_batches", expr("(n_docs + 7) div 8"))
      .withColumn("waste_pct",
        (col("padded_tokens") - col("sum_tokens")).cast("double") /
          col("padded_tokens"))
  }

  val ds23Oracle: String =
    """WITH t AS (
      | SELECT CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS BIGINT) AS n
      | FROM documents),
      |b AS (
      | SELECT CASE WHEN n <= 1 THEN 1
      |   ELSE CAST(1 AS BIGINT) << length(bin(n - 1)) END AS bucket, n
      | FROM t),
      |g AS (
      | SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n) AS BIGINT) AS sum_tokens
      | FROM b GROUP BY bucket)
      |SELECT bucket, n_docs, sum_tokens,
      | bucket * n_docs AS padded_tokens,
      | (n_docs + 7) // 8 AS n_batches,
      | CAST(bucket * n_docs - sum_tokens AS DOUBLE) / (bucket * n_docs) AS waste_pct
      |FROM g""".stripMargin

  // ---------------------------------------------------------------------
  // ds24: ZONE-MAP manifest over sort-clustered shards — the data-
  // skipping machinery of Delta/Iceberg/ORC (min/max statistics per
  // file) as an operator: cluster the corpus by (lang, n_chars), cut it
  // into 8 equal shards, and publish each shard's column min/max fences
  // plus a worked pruning verdict (can a reader skip the shard for
  // lang='de' AND n_chars IN [100, 300]?). Clustering is what makes the
  // fences tight — the same rows hashed randomly would give every shard
  // the full value range and prune nothing (ds06's Z-order point, in
  // 1D).
  //
  // Scale shape: the global (lang, n_chars, doc_id) rank is NOT a
  // corpus-wide ROW_NUMBER (one task sorting everything) — it is the
  // ds13 histogram form: a dictionary-sized (lang, n_chars) count
  // histogram, a prefix window over THAT, and a within-bucket
  // row_number whose widest sort is one value-bucket. The equal-split
  // shard-of-position arithmetic (NTILE's big-shards-first rule, spelled
  // out) and the fence aggregation are identical integer expressions on
  // both engines.
  // ---------------------------------------------------------------------
  private val zoneShards = 8

  def ds24ZoneMaps(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val pre = docs.groupBy(col("lang"), col("n_chars")).agg(count(lit(1)).as("c"))
      .withColumn("pre", coalesce(sum(col("c")).over(
        Window.orderBy(col("lang"), col("n_chars"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("lang"), col("n_chars"), col("pre"))
    val wIn = Window.partitionBy(col("lang"), col("n_chars")).orderBy(col("doc_id"))
    val nDf = docs.agg(count(lit(1)).as("n"))
    docs.join(broadcast(pre), Seq("lang", "n_chars"))
      .withColumn("pos", col("pre") + row_number().over(wIn))
      .crossJoin(broadcast(nDf))
      .withColumn("shard", expr(
        s"""case when pos <= (n % $zoneShards) * (n div $zoneShards + 1)
           | then (pos - 1) div (n div $zoneShards + 1) + 1
           | else n % $zoneShards +
           |  (pos - (n % $zoneShards) * (n div $zoneShards + 1) - 1)
           |   div (n div $zoneShards) + 1 end""".stripMargin))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("lang")).as("min_lang"), max(col("lang")).as("max_lang"),
        min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      .withColumn("skip_de_mid",
        col("max_lang") < "de" || col("min_lang") > "de" ||
          col("max_chars") < 100 || col("min_chars") > 300)
  }

  val ds24Oracle: String =
    s"""WITH r AS (
       | SELECT doc_id, lang, n_chars,
       |  CAST(ROW_NUMBER() OVER (ORDER BY lang, n_chars, doc_id) AS BIGINT) AS pos,
       |  CAST(COUNT(*) OVER () AS BIGINT) AS n
       | FROM documents),
       |sh AS (
       | SELECT doc_id, lang, n_chars,
       |  CASE WHEN pos <= (n % $zoneShards) * (n // $zoneShards + 1)
       |   THEN (pos - 1) // (n // $zoneShards + 1) + 1
       |   ELSE n % $zoneShards +
       |    (pos - (n % $zoneShards) * (n // $zoneShards + 1) - 1)
       |     // (n // $zoneShards) + 1 END AS shard
       | FROM r)
       |SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
       | MIN(lang) AS min_lang, MAX(lang) AS max_lang,
       | CAST(MIN(n_chars) AS BIGINT) AS min_chars,
       | CAST(MAX(n_chars) AS BIGINT) AS max_chars,
       | CAST(MIN(doc_id) AS BIGINT) AS min_id,
       | CAST(MAX(doc_id) AS BIGINT) AS max_id,
       | (MAX(lang) < 'de' OR MIN(lang) > 'de'
       |  OR MAX(n_chars) < 100 OR MIN(n_chars) > 300) AS skip_de_mid
       |FROM sh GROUP BY shard""".stripMargin

  // ---------------------------------------------------------------------
  // q69: CHI-SQUARE drift matrix — the lang × source independence test a
  // corpus monitor runs to catch composition drift ("did source X start
  // skewing German?"): per contingency cell, observed count O vs the
  // independence expectation R·C/N, with the cell's chi-square
  // contribution (O−E)²/E. ZERO cells are included (an expected-but-
  // absent combination is drift evidence too) — the cell frame is the
  // dictionary-sized lang × source cross join, left-joined with
  // observations.
  //
  // Exactness: the contribution is served as the scaled integer
  // 1000·(O·N−R·C)² div (R·C·N) — algebraically 1000·N·(O−E)²/E — so no
  // engine floats anywhere; |O·N−R·C| ≥ 9.5·10⁷ would overflow 1000·d²
  // past 2⁶³ (√(2⁶³/1000) ≈ 9.6·10⁷), so it fails loudly rather than
  // wrapping.
  //
  // Scale shape: three map-side-combined count passes + dictionary-sized
  // broadcast joins; nothing corpus-sized shuffles twice.
  // ---------------------------------------------------------------------
  def q69ChisqDrift(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val o = docs.groupBy(col("lang"), col("source")).agg(count(lit(1)).as("o"))
    val r = docs.groupBy(col("lang")).agg(count(lit(1)).as("r"))
    val c = docs.groupBy(col("source")).agg(count(lit(1)).as("c"))
    val n = docs.agg(count(lit(1)).as("n"))
    val cells = r.crossJoin(broadcast(c)).crossJoin(broadcast(n))
      .join(o, Seq("lang", "source"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .withColumn("d", col("o") * col("n") - col("r") * col("c"))
    val guard = cells.agg(max(abs(col("d"))).as("__maxd"))
    // Two explicit fences, so the scale limits never rest on ANSI mode
    // turning a wrap into an error: 1000·d² needs |d| < 9.6e7, and the
    // divisor r·c·n ≤ n³ needs n < 2^21 ≈ 2.1M docs. Past ~2M documents
    // this exact-integer formulation must move to a rescaled one — the
    // fence makes that limit loud instead of latent.
    cells.crossJoin(broadcast(guard))
      .withColumn("contrib_x1k",
        when(col("__maxd") < 95000000L && col("n") < 2097152L,
          expr("(1000 * d * d) div (r * c * n)"))
          .otherwise(raise_error(lit(
            "q69: |O*N - R*C| >= 9.5e7 or N >= 2^21 overflows the " +
              "x1000 chi-square integer scale"))))
      .select(col("lang"), col("source"), col("o"), col("r"), col("c"),
        col("n"), col("d"), col("contrib_x1k"))
  }

  val q69Oracle: String =
    """WITH o AS (
      | SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS o
      | FROM documents GROUP BY 1, 2),
      |r AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS r FROM documents GROUP BY 1),
      |c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS c FROM documents GROUP BY 1),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
      |cells AS (
      | SELECT r.lang, c.source, COALESCE(o.o, 0) AS o, r.r, c.c, n.n
      | FROM r CROSS JOIN c CROSS JOIN n
      |  LEFT JOIN o ON o.lang = r.lang AND o.source = c.source)
      |SELECT lang, source, o, r, c, n,
      | o * n - r * c AS d,
      | (1000 * (o * n - r * c) * (o * n - r * c)) // (r * c * n) AS contrib_x1k
      |FROM cells""".stripMargin

  // ---------------------------------------------------------------------
  // ds25: K-ANONYMITY release gate with a GENERALIZATION LADDER
  // (Sweeney 2002; the Mondrian/Datafly family's fixed ladder) — before
  // a customer table ships in a data release, every row must hide in a
  // crowd of ≥ k on its quasi-identifiers. Level 0 = (nation, segment);
  // rows whose level-0 group is smaller than k=5 GENERALIZE to level 1
  // (nation only — segment redacted); still under k → SUPPRESS. The
  // level-1 crowd counts include the rows that stayed at level 0 (they
  // reveal their nation too — standard full-domain counting, and the
  // reason level 1 is counted over the WHOLE table, not the spill).
  //
  // Output is the per-row release decision (level 0/1/2, released
  // flag) — the auditable artifact. Scale shape: two dictionary-sized
  // count aggregates broadcast back over the row stream; no row-level
  // shuffle beyond the first count's partials.
  // ---------------------------------------------------------------------
  private val kAnon = 5L

  def ds25KAnonymity(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))
    val g0 = c.groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n0"))
    val g1 = c.groupBy(col("c_nationkey")).agg(count(lit(1)).as("n1"))
    c.join(broadcast(g0), Seq("c_nationkey", "c_mktsegment"))
      .join(broadcast(g1), Seq("c_nationkey"))
      .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
        col("n0"), col("n1"),
        when(col("n0") >= kAnon, lit(0L))
          .when(col("n1") >= kAnon, lit(1L))
          .otherwise(lit(2L)).as("level"))
      .withColumn("released", col("level") < 2)
      .withColumn("mktsegment_out",
        when(col("level") === 0, col("c_mktsegment")).otherwise(lit("*")))
  }

  val ds25Oracle: String =
    s"""WITH g0 AS (
       | SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n0
       | FROM customer GROUP BY 1, 2),
       |g1 AS (
       | SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n1
       | FROM customer GROUP BY 1)
       |SELECT c.c_custkey, c.c_nationkey, c.c_mktsegment, g0.n0, g1.n1,
       | CASE WHEN g0.n0 >= $kAnon THEN 0
       |      WHEN g1.n1 >= $kAnon THEN 1 ELSE 2 END AS level,
       | (CASE WHEN g0.n0 >= $kAnon THEN 0
       |       WHEN g1.n1 >= $kAnon THEN 1 ELSE 2 END) < 2 AS released,
       | CASE WHEN g0.n0 >= $kAnon THEN c.c_mktsegment ELSE '*' END AS mktsegment_out
       |FROM customer c
       | JOIN g0 ON g0.c_nationkey = c.c_nationkey AND g0.c_mktsegment = c.c_mktsegment
       | JOIN g1 ON g1.c_nationkey = c.c_nationkey""".stripMargin

  // ---------------------------------------------------------------------
  // tp11: PER-DOCUMENT PROVENANCE CARD — the row-level audit trail a
  // release ships beside tp10's corpus-level manifest: for EVERY raw
  // document, whether it survived exact dedup (dd01's first-writer
  // rule), whether it made the fully-curated corpus (tp02's quality →
  // dedup → decontamination → mixture funnel) and under which split,
  // and its ds01 hash-split — the "why is / isn't my page in the
  // training set" lookup that data-governance requests (GDPR access,
  // takedown audits) are answered from. All three signals reuse the
  // standing operators' own plans (and the oracle reuses their SQL
  // verbatim), so the card can never drift from the pipeline it
  // documents. Left joins keep every raw doc; scale shape adds two
  // hash joins and one broadcast over the tp02 plan.
  // ---------------------------------------------------------------------
  def tp11DocProvenance(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val survivor = docs.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keep_id"))
      .select(col("keep_id").as("doc_id"), lit(true).as("is_exact_survivor"))
    val curated = tp02FullCuration(s, dir)
      .select(col("doc_id"), col("split").as("curated_split"))
    val hashSplit = ds01HashSplit(s, dir).select(col("doc_id"), col("split").as("hash_split"))
    docs.select(col("doc_id"), col("lang"), col("source"))
      .join(survivor, Seq("doc_id"), "left")
      .join(curated, Seq("doc_id"), "left")
      .join(hashSplit, Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("source"),
        coalesce(col("is_exact_survivor"), lit(false)).as("is_exact_survivor"),
        col("curated_split").isNotNull.as("in_curated"),
        col("curated_split"), col("hash_split"))
  }

  val tp11Oracle: String =
    s"""WITH surv AS (
       | SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
       |cur AS (SELECT doc_id, split AS curated_split FROM ($tp02Oracle) c),
       |hs AS (SELECT doc_id, split AS hash_split FROM ($ds01Oracle) h)
       |SELECT d.doc_id, d.lang, d.source,
       | (surv.doc_id IS NOT NULL) AS is_exact_survivor,
       | (cur.doc_id IS NOT NULL) AS in_curated,
       | cur.curated_split, hs.hash_split
       |FROM documents d
       | LEFT JOIN surv ON surv.doc_id = d.doc_id
       | LEFT JOIN cur ON cur.doc_id = d.doc_id
       | JOIN hs ON hs.doc_id = d.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // ds26: QUOTA SAMPLE by LARGEST-REMAINDER apportionment (Hare quota —
  // the election-seat algorithm applied to sampling budgets): given a
  // FIXED budget of exactly B=100 documents, each language gets
  // floor(n_l·B/N) seats and the leftover seats go to the largest
  // remainders (ties to the lexicographically first lang). Unlike
  // ds19's ratio-fit mixture (which scales shares and lets the total
  // float), the quotas here sum to B EXACTLY — the property an
  // eval-set budget or labeling contract needs. Selection within a
  // language is the ds19 hash-order top-quota (deterministic,
  // append-stable). Dictionary-sized allocation arithmetic; one
  // corpus pass for the counts, one partitioned window for the pick.
  // ---------------------------------------------------------------------
  private val quotaBudget = 100L

  def ds26QuotaSample(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(s, dir, "documents")
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val nRow = counts.agg(sum(col("n_docs")).as("n"))
    val alloc = counts.crossJoin(broadcast(nRow))
      .withColumn("base", expr(s"(n_docs * $quotaBudget) div n"))
      .withColumn("rem", expr(s"(n_docs * $quotaBudget) % n"))
    val leftover = alloc.agg((lit(quotaBudget) - sum(col("base"))).as("lo"))
    val wRem = Window.orderBy(col("rem").desc, col("lang").asc)
    val quotas = alloc.crossJoin(broadcast(leftover))
      .withColumn("rrk", row_number().over(wRem).cast("long"))
      .withColumn("quota",
        col("base") + when(col("rrk") <= col("lo"), 1L).otherwise(0L))
      .select(col("lang"), col("quota"))
    val wPick = Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))
    docs.join(broadcast(quotas), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("quota"),
        md5(concat(lit("ds26:"), col("text"))).as("h"))
      .withColumn("rn", row_number().over(wPick).cast("long"))
      .filter(col("rn") <= col("quota"))
      .select(col("doc_id"), col("lang"), col("rn"), col("quota"))
  }

  val ds26Oracle: String =
    s"""WITH c AS (
       | SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1),
       |n AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n FROM c),
       |a AS (
       | SELECT lang, (n_docs * $quotaBudget) // n.n AS base,
       |  (n_docs * $quotaBudget) % n.n AS rem
       | FROM c CROSS JOIN n),
       |lo AS (SELECT $quotaBudget - CAST(SUM(base) AS BIGINT) AS lo FROM a),
       |q AS (
       | SELECT lang, base + CASE WHEN
       |   CAST(ROW_NUMBER() OVER (ORDER BY rem DESC, lang ASC) AS BIGINT)
       |    <= lo.lo THEN 1 ELSE 0 END AS quota
       | FROM a CROSS JOIN lo),
       |p AS (
       | SELECT d.doc_id, d.lang, q.quota,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY d.lang
       |    ORDER BY md5('ds26:' || d.text), d.doc_id) AS BIGINT) AS rn
       | FROM documents d JOIN q ON q.lang = d.lang)
       |SELECT doc_id, lang, rn, quota FROM p WHERE rn <= quota""".stripMargin

  // ---------------------------------------------------------------------
  // ds27: CLUSTER-AWARE split — the PRINCIPLED fix to near-duplicate
  // leakage that ds22 only repairs after the fact: assign every verified
  // near-dup CLUSTER (cc01's transitive components) to one split by
  // hashing the cluster's canonical id, so no A≈B≈C chain can ever
  // straddle train/test; singleton docs keep ds01's per-content split.
  // Same group-key-hash principle as ds04 (source-wise splitting), one
  // level up the equivalence hierarchy: exact content → source →
  // similarity cluster. Law (spec + construction): a component's docs
  // always share a split.
  // ---------------------------------------------------------------------
  def ds27ClusterSplit(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val comp = Dedup.cc01DupComponents(s, dir)
    docs.select(col("doc_id"), col("text"))
      .join(comp, Seq("doc_id"), "left")
      .withColumn("clustered", col("component").isNotNull)
      .withColumn("bucket", hashBucket(
        when(col("clustered"),
          concat(lit("ds27:"), col("component").cast("string")))
          .otherwise(col("text")), 100))
      .select(col("doc_id"), col("clustered"), col("component"),
        col("bucket"), splitOf(col("bucket")).as("split"))
  }

  val ds27Oracle: String = {
    val cc01 = Dedup.cc01Oracle
    s"""WITH comp AS (SELECT doc_id, component FROM ($cc01) c)
       |SELECT d.doc_id, (comp.doc_id IS NOT NULL) AS clustered, comp.component,
       | b.bucket,
       | CASE WHEN b.bucket < 80 THEN 'train'
       |      WHEN b.bucket < 90 THEN 'validation' ELSE 'test' END AS split
       |FROM documents d
       | LEFT JOIN comp ON comp.doc_id = d.doc_id
       | CROSS JOIN LATERAL (SELECT
       |  ('0x' || substr(md5(CASE WHEN comp.doc_id IS NOT NULL
       |    THEN 'ds27:' || CAST(comp.component AS VARCHAR) ELSE d.text END), 1, 8))::BIGINT
       |   % 100 AS bucket) b""".stripMargin
  }

  // ---------------------------------------------------------------------
  // tp12: ERASURE-IMPACT audit (right-to-be-forgotten sweep) — before a
  // deletion batch executes, governance needs the blast radius across
  // every derived artifact: how many docs erase outright; which exact-
  // dup clusters lose their CANONICAL KEEPER (dd01's min-id winner) and
  // re-elect a survivor vs dissolve entirely; what each train/val/test
  // split loses (ds01); and how many packed training sequences (ds03)
  // contain an erased doc and must re-pack. One (metric, n, detail)
  // row per impact class — the report a GDPR processor attaches to the
  // deletion ticket. Every signal reuses the standing operator's own
  // definition (and its oracle SQL), so the audit can't drift from the
  // artifacts it predicts.
  // ---------------------------------------------------------------------
  def tp12GdprErasure(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val del = docs.filter(col("doc_id") % 83 === 7)
      .select(col("doc_id")).transform(pin)
    val erased = docs.join(del, Seq("doc_id"), "left_semi")
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("n_chars")), lit(0L)).as("detail"))
      .select(lit("docs_erased").as("metric"), col("n"), col("detail"))
    val clusters = docs
      .select(col("doc_id"), md5(col("text")).as("h"))
      .join(del.withColumn("is_del", lit(1L)), Seq("doc_id"), "left")
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("keeper"),
        min(when(col("is_del").isNull, col("doc_id"))).as("new_keeper"),
        count(lit(1)).as("members"),
        sum(coalesce(col("is_del"), lit(0L))).as("n_del"))
    // keeper erased ⟺ the surviving minimum differs from the old keeper
    val reassigned = clusters
      .filter(col("n_del") > 0 &&
        col("new_keeper").isNotNull && col("new_keeper") =!= col("keeper"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("members") - col("n_del")), lit(0L)).as("detail"))
      .select(lit("keepers_reassigned").as("metric"), col("n"), col("detail"))
    val dissolved = clusters.filter(col("n_del") === col("members"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("members")), lit(0L)).as("detail"))
      .select(lit("clusters_dissolved").as("metric"), col("n"), col("detail"))
    val splits = ds01HashSplit(s, dir)
      .join(del.withColumn("is_del", lit(1L)), Seq("doc_id"), "left")
      .groupBy(col("split"))
      .agg(sum(coalesce(col("is_del"), lit(0L))).as("n"),
        sum(when(col("is_del").isNull, 1L).otherwise(0L)).as("detail"))
      .select(concat(lit("split_"), col("split")).as("metric"), col("n"), col("detail"))
    val packs = ds03SequencePack(s, dir)
      .join(del.withColumn("is_del", lit(1L)), Seq("doc_id"), "left")
      .groupBy(col("seq_id"))
      .agg(sum(coalesce(col("is_del"), lit(0L))).as("nd"), count(lit(1)).as("m"))
      .filter(col("nd") > 0)
      .agg(count(lit(1)).as("n"), coalesce(sum(col("m")), lit(0L)).as("detail"))
      .select(lit("pack_sequences_touched").as("metric"), col("n"), col("detail"))
    erased.unionByName(reassigned).unionByName(dissolved)
      .unionByName(splits).unionByName(packs)
  }

  val tp12Oracle: String =
    s"""WITH del AS (SELECT doc_id FROM documents WHERE doc_id % 83 = 7),
       |cl AS (
       | SELECT md5(text) AS h, MIN(d.doc_id) AS keeper,
       |  MIN(CASE WHEN del.doc_id IS NULL THEN d.doc_id END) AS new_keeper,
       |  CAST(COUNT(*) AS BIGINT) AS members,
       |  CAST(SUM(CASE WHEN del.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_del
       | FROM documents d LEFT JOIN del ON del.doc_id = d.doc_id
       | GROUP BY md5(text)),
       |sp AS (SELECT doc_id, split FROM ($ds01Oracle) s),
       |pk AS (SELECT doc_id, seq_id FROM ($ds03Oracle) p)
       |SELECT 'docs_erased' AS metric, CAST(COUNT(*) AS BIGINT) AS n,
       | CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS detail
       |FROM documents JOIN del USING (doc_id)
       |UNION ALL
       |SELECT 'keepers_reassigned', CAST(COUNT(*) AS BIGINT),
       | CAST(COALESCE(SUM(members - n_del), 0) AS BIGINT)
       |FROM cl WHERE n_del > 0 AND new_keeper IS NOT NULL AND new_keeper != keeper
       |UNION ALL
       |SELECT 'clusters_dissolved', CAST(COUNT(*) AS BIGINT),
       | CAST(COALESCE(SUM(members), 0) AS BIGINT)
       |FROM cl WHERE n_del = members
       |UNION ALL
       |SELECT 'split_' || sp.split,
       | CAST(SUM(CASE WHEN del.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT),
       | CAST(SUM(CASE WHEN del.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |FROM sp LEFT JOIN del ON del.doc_id = sp.doc_id GROUP BY sp.split
       |UNION ALL
       |SELECT 'pack_sequences_touched', CAST(COUNT(*) AS BIGINT),
       | CAST(COALESCE(SUM(m), 0) AS BIGINT)
       |FROM (
       | SELECT pk.seq_id,
       |  SUM(CASE WHEN del.doc_id IS NULL THEN 0 ELSE 1 END) AS nd,
       |  CAST(COUNT(*) AS BIGINT) AS m
       | FROM pk LEFT JOIN del ON del.doc_id = pk.doc_id
       | GROUP BY pk.seq_id) t
       |WHERE nd > 0""".stripMargin

  // ---------------------------------------------------------------------
  // tp13: ERASE-VERB SYMMETRY audit (round-12 verdict #8) — the
  // cross-tier compliance evidence a fleet owner actually files with a
  // deletion ticket: ONE erasure batch (the % 9 == 0 ids) driven through
  // all three derived artifacts — the dedup store (dd29's physical
  // erase), the standalone IVF index (ss57's), and the NSW graph
  // artifact (ss58's, shared via the per-JVM build memo) — then one
  // (tier, table, rows_before, rows_after) row per corpus-derivable
  // stored table. The oracle recomputes every count from the corpus
  // alone (per-doc store layout: one hash/set row and numHashes/2 band
  // rows per admitted doc; one list row per vector per index tier;
  // nprobe probe rows per vector), so a green row IS the proof that no
  // artifact retains an erased member's rows — the count-level half of
  // the GDPR story whose id-level half the dd29/ss57/ss58 oracles and
  // the erasure specs pin.
  // ---------------------------------------------------------------------
  def tp13EraseSymmetry(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir, "documents")
    val old = docs.filter(col("doc_id") % 10 < 8)
    val storeDir = DedupStore.storePathFor(dir + "#tp13")
    val base = Similarity.qvec(s, dir)
    val goneV = base.filter(col("vec_id") % 9 === 0).select(col("vec_id"))
    val ivfDir = Similarity.indexPathFor(dir + "#tp13ivf")
    val nswDir = Similarity.indexPathFor(dir + "#nswerase")
    // The three tiers build and erase DISJOINT artifacts (own dirs, own
    // locks) from already-pinned inputs — three independent job chains,
    // overlapped (round 15, guide §2.6): previously the audit ran them
    // strictly one after another. The NSW lane stays ss58's shared
    // artifact through its Derived key: first toucher builds+erases,
    // everyone else (including a concurrent toucher, who waits) reads.
    Relational.parLadder(Seq[() => Unit](
      () => {
        // same standing-corpus build — clone the per-JVM pristine store
        // and erase the clone (the dd27/dd29/dd30 discipline)
        DedupStore.cloneBase80Store(s, dir, storeDir)
        DedupStore.erase(s, storeDir,
          old.filter(col("doc_id") % 9 === 0).select(col("doc_id")))
      },
      () => {
        Similarity.buildIvfIndex(base, ivfDir,
          centsPre = Some(Similarity.coarseCentroidsFor(s, dir)))
        Similarity.eraseFromIvfIndex(s, ivfDir, goneV)
      },
      () => Derived(s, nswDir) {
        Similarity.buildNswIndex(s, base, nswDir,
          centsPre = Some(Similarity.coarseCentroidsFor(s, dir)))
        Similarity.eraseFromNswIndex(s, nswDir, goneV)
      }))(f => f())
    val dAll = old.count()
    val dAlive = old.filter(col("doc_id") % 9 =!= 0).count()
    val vAll = base.count()
    val vAlive = base.filter(col("vec_id") % 9 =!= 0).count()
    val nBands = (Dedup.numHashes / 2).toLong
    def cnt(path: String): Long = s.read.parquet(path).count()
    Seq(
      ("dedup_store", "hashes", dAll, cnt(s"$storeDir/hashes")),
      ("dedup_store", "sets", dAll, cnt(s"$storeDir/sets")),
      ("dedup_store", "bands", nBands * dAll, cnt(s"$storeDir/bands")),
      ("ivf", "lists", vAll, cnt(s"$ivfDir/lists")),
      ("nsw", "lists", vAll, cnt(s"$nswDir/ivf/lists")),
      ("nsw", "probes", 2L * vAll, cnt(s"$nswDir/probes")),
      // expected after-counts: dAlive/dAlive/4·dAlive/vAlive/vAlive/
      // 2·vAlive — the oracle derives them from the corpus; a retained
      // erased row in ANY artifact breaks the hash match
    ).toDF("tier", "tbl", "rows_before", "rows_after")
  }

  val tp13Oracle: String = {
    val nBands = graft.operators.Dedup.numHashes / 2
    s"""WITH m AS (SELECT
       | (SELECT COUNT(*) FROM documents WHERE doc_id % 10 < 8) AS d_all,
       | (SELECT COUNT(*) FROM documents
       |   WHERE doc_id % 10 < 8 AND doc_id % 9 != 0) AS d_alive,
       | (SELECT COUNT(*) FROM embeddings) AS v_all,
       | (SELECT COUNT(*) FROM embeddings WHERE vec_id % 9 != 0) AS v_alive)
       |SELECT 'dedup_store' AS tier, 'hashes' AS tbl,
       | CAST(d_all AS BIGINT) AS rows_before, CAST(d_alive AS BIGINT) AS rows_after FROM m
       |UNION ALL SELECT 'dedup_store', 'sets', CAST(d_all AS BIGINT), CAST(d_alive AS BIGINT) FROM m
       |UNION ALL SELECT 'dedup_store', 'bands', CAST($nBands * d_all AS BIGINT), CAST($nBands * d_alive AS BIGINT) FROM m
       |UNION ALL SELECT 'ivf', 'lists', CAST(v_all AS BIGINT), CAST(v_alive AS BIGINT) FROM m
       |UNION ALL SELECT 'nsw', 'lists', CAST(v_all AS BIGINT), CAST(v_alive AS BIGINT) FROM m
       |UNION ALL SELECT 'nsw', 'probes', CAST(2 * v_all AS BIGINT), CAST(2 * v_alive AS BIGINT) FROM m""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "tp13_erase_symmetry" -> (tp13EraseSymmetry _),
    "tp12_gdpr_erasure" -> (tp12GdprErasure _),
    "ds27_cluster_split" -> (ds27ClusterSplit _),
    "ds26_quota_sample" -> (ds26QuotaSample _),
    "tp11_doc_provenance" -> (tp11DocProvenance _),
    "ds25_k_anonymity" -> (ds25KAnonymity _),
    "q69_chisq_drift" -> (q69ChisqDrift _),
    "ds24_zone_maps" -> (ds24ZoneMaps _),
    "ds23_length_buckets" -> (ds23LengthBuckets _),
    "tp10_release_manifest" -> (tp10ReleaseManifest _),
    "dc05_split_leakage" -> (dc05SplitLeakage _),
    "dc06_semantic_decontaminate" -> (dc06SemanticDecontaminate _),
    "ds22_split_repair" -> (ds22SplitRepair _),
    "ds20_kcenter_coreset" -> (ds20KcenterCoreset _),
    "ds21_split_manifest" -> (ds21SplitManifest _),
    "q60_temporal_lookup" -> (q60TemporalLookup _),
    "ds01_hash_split" -> (ds01HashSplit _),
    "ds02_stratified_sample" -> (ds02StratifiedSample _),
    "ds03_sequence_pack" -> (ds03SequencePack _),
    "ds04_source_split" -> (ds04SourceSplit _),
    "ds05_token_budget" -> (ds05TokenBudget _),
    "ds06_zorder_key" -> (ds06ZorderKey _),
    "ds07_group_sample" -> (ds07GroupSample _),
    "ds08_zrect_query" -> (ds08ZrectQuery _),
    "ds09_epoch_shards" -> (ds09EpochShards _),
    "ds10_temp_mixture" -> (ds10TempMixture _),
    "ds11_source_interleave" -> (ds11SourceInterleave _),
    "ds12_global_sample" -> (ds12GlobalSample _),
    "ds19_target_mixture" -> (ds19TargetMixture _),
    "ds13_curriculum" -> (ds13Curriculum _),
    "ds14_version_diff" -> (ds14VersionDiff _),
    "ds15_scd2" -> (ds15Scd2 _),
    "ds16_temporal_split" -> (ds16TemporalSplit _),
    "ds17_priority_sample" -> (ds17PrioritySample _),
    "ds18_consistent_shards" -> (ds18ConsistentShards _),
    "dc01_decontaminate" -> (dc01Decontaminate _),
    "dc02_contamination_report" -> (dc02ContaminationReport _),
    "dc03_span_decontaminate" -> (dc03SpanDecontaminate _),
    "dc04_chunk_decontaminate" -> (dc04ChunkDecontaminate _),
    "dd10_repeated_spans" -> (dd10RepeatedSpans _),
    "dd13_paragraph_dedup" -> (dd13ParagraphDedup _),
    "dd22_shared_spans" -> (dd22SharedSpans _),
    "dd24_span_excision" -> (dd24SpanExcision _),
    "tp02_full_curation" -> (tp02FullCuration _),
    "tp03_corpus_report" -> (tp03CorpusReport _),
    "tp04_pack_train" -> (tp04PackTrain _),
    "tp08_mixture_pack" -> (tp08MixturePack _),
    "tp05_mixture_shards" -> (tp05MixtureShards _),
    "tp06_curriculum_shards" -> (tp06CurriculumShards _),
    "tp07_ingest_cycle" -> (tp07IngestCycle _))

  val oracles: Map[String, String] = Map(
    "tp12_gdpr_erasure" -> tp12Oracle,
    "tp13_erase_symmetry" -> tp13Oracle,
    "ds27_cluster_split" -> ds27Oracle,
    "ds26_quota_sample" -> ds26Oracle,
    "tp11_doc_provenance" -> tp11Oracle,
    "ds25_k_anonymity" -> ds25Oracle,
    "q69_chisq_drift" -> q69Oracle,
    "ds24_zone_maps" -> ds24Oracle,
    "ds23_length_buckets" -> ds23Oracle,
    "tp10_release_manifest" -> tp10Oracle,
    "dc05_split_leakage" -> dc05Oracle,
    "dc06_semantic_decontaminate" -> dc06Oracle,
    "ds22_split_repair" -> ds22Oracle,
    "ds20_kcenter_coreset" -> ds20Oracle,
    "q60_temporal_lookup" -> q60Oracle,
    "ds21_split_manifest" -> ds21Oracle,
    "ds01_hash_split" -> ds01Oracle,
    "ds02_stratified_sample" -> ds02Oracle,
    "ds03_sequence_pack" -> ds03Oracle,
    "ds04_source_split" -> ds04Oracle,
    "ds05_token_budget" -> ds05Oracle,
    "ds06_zorder_key" -> ds06Oracle,
    "ds07_group_sample" -> ds07Oracle,
    "ds08_zrect_query" -> ds08Oracle,
    "ds09_epoch_shards" -> ds09Oracle,
    "ds10_temp_mixture" -> ds10Oracle,
    "ds11_source_interleave" -> ds11Oracle,
    "ds12_global_sample" -> ds12Oracle,
    "ds19_target_mixture" -> ds19Oracle,
    "ds13_curriculum" -> ds13Oracle,
    "ds14_version_diff" -> ds14Oracle,
    "ds15_scd2" -> ds15Oracle,
    "ds16_temporal_split" -> ds16Oracle,
    "ds17_priority_sample" -> ds17Oracle,
    "ds18_consistent_shards" -> ds18Oracle,
    "dc01_decontaminate" -> dc01Oracle,
    "dc02_contamination_report" -> dc02Oracle,
    "dc03_span_decontaminate" -> dc03Oracle,
    "dc04_chunk_decontaminate" -> dc04Oracle,
    "dd10_repeated_spans" -> dd10Oracle,
    "dd13_paragraph_dedup" -> dd13Oracle,
    "dd22_shared_spans" -> dd22Oracle,
    "dd24_span_excision" -> dd24Oracle,
    "tp02_full_curation" -> tp02Oracle,
    "tp03_corpus_report" -> tp03Oracle,
    "tp04_pack_train" -> tp04Oracle,
    "tp08_mixture_pack" -> tp08Oracle,
    "tp05_mixture_shards" -> tp05Oracle,
    "tp06_curriculum_shards" -> tp06Oracle,
    "tp07_ingest_cycle" -> tp07Oracle)
}
