package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Text-analysis operators over `documents` — the LLM-training-data-pipeline
  * surface (language-ID, quality scoring, token counting, fingerprinting)
  * plus the extraction idioms from SURVEY.md §2.B that are expressible on the
  * star schema (emission-order posexplode B6/B7, quantity parse B15).
  *
  * Everything stays in whole-stage-codegen'd built-ins (split / transform /
  * aggregate / regexp) — no UDFs — and produces integer/string results so
  * the DuckDB oracle matches bit-for-bit.
  */
object TextOps {
  import Relational.{Q, pin}

  // ---------------------------------------------------------------------
  // q25: emission-order indexed explode (B6/B7 — lang_index counts only
  // *emitted* claims, so the filter runs BEFORE posexplode;
  // /root/reference/src/wiki_data_line.rs:392-407 and SURVEY §7.4 #7).
  // Tokens >4 chars, first 3 per doc.
  // ---------------------------------------------------------------------
  def q25PosexplodeFiltered(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    docs.select(col("doc_id"),
        expr("filter(split(text, ' '), x -> length(x) > 4)").as("toks"))
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("idx", "token")))
      .filter(col("idx") < 3)
  }

  val q25Oracle: String =
    """SELECT doc_id, idx, token FROM (
      | SELECT doc_id, CAST(generate_subscripts(l, 1) - 1 AS INTEGER) AS idx, unnest(l) AS token
      | FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> length(x) > 4) AS l FROM documents) f
      |) t WHERE idx < 3""".stripMargin

  // ---------------------------------------------------------------------
  // q26: quantity parsing (B15 — strips whitespace/,/./+ then casts;
  // "+12,345" → 12345 and the deliberate "1.5" → 15 quirk;
  // /root/reference/src/wiki_data_line.rs:507-523, SURVEY §7.4 #6).
  // Applied to a synthesized messy numeral so both engines parse the same
  // string the same way.
  // ---------------------------------------------------------------------
  def q26QuantityParse(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    docs.select(col("doc_id"),
      regexp_replace(
        concat(lit("+"), col("n_chars").cast("string"), lit(",00.5")),
        "[\\s,.+]", "").cast("long").as("qty"))
  }

  val q26Oracle: String =
    """SELECT doc_id,
      | CAST(regexp_replace('+' || CAST(n_chars AS VARCHAR) || ',00.5', '[\s,.+]', '', 'g') AS BIGINT) AS qty
      |FROM documents""".stripMargin

  // ---------------------------------------------------------------------
  // tx01: language identification — marker-token n-gram heuristic. Counts
  // non-overlapping marker occurrences per language via the length-delta
  // trick (pure codegen arithmetic, no UDF), then argmax with a
  // deterministic (score DESC, lang DESC) struct-max tiebreak.
  // ---------------------------------------------------------------------
  private val langMarkers: Seq[(String, String)] = Seq(
    "en" -> " the ", "de" -> " der ", "es" -> " la ",
    "fr" -> " le ", "zh" -> " shi ")

  def tx01LangId(s: SparkSession, dir: String): DataFrame =
    langScored(Tables(s, dir, "documents"))

  /** tx01's marker scoring over any (doc_id, text) frame — stateless, so
    * it is streaming-safe like [[ruleFiltered]]. `carry` columns pass
    * through untouched. */
  private[graft] def langScored(docs: DataFrame,
      carry: Seq[String] = Nil): DataFrame = {
    val padded = concat(lit(" "), col("text"), lit(" "))
    val scored = langMarkers.foldLeft(
      docs.select((col("doc_id") +: carry.map(col)) :+ padded.as("p"): _*)) {
      case (df, (lang, marker)) =>
        df.withColumn(s"score_$lang",
          ((length(col("p")) - length(regexp_replace(col("p"), marker, ""))) / marker.length)
            .cast("int"))
    }
    val candidates = array(langMarkers.map { case (lang, _) =>
      struct(col(s"score_$lang").as("score"), lit(lang).as("lang"))
    }: _*)
    scored.select((col("doc_id") +: carry.map(col)) ++ Seq(
      array_max(candidates).getField("lang").as("guessed_lang"),
      array_max(candidates).getField("score").as("best_score")): _*)
  }

  val tx01Oracle: String = {
    val unions = langMarkers.map { case (lang, m) =>
      s"""SELECT doc_id, '$lang' AS lang,
         | CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', '$m', ''))) // ${m.length} AS INTEGER) AS score
         |FROM documents""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH scores AS (\n$unions\n)
       |SELECT doc_id, lang AS guessed_lang, score AS best_score FROM (
       | SELECT doc_id, lang, score,
       |  ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rn
       | FROM scores) t WHERE rn = 1""".stripMargin
  }

  // ---------------------------------------------------------------------
  // tx02: quality scoring — length / token / stopword / distinct-token
  // signals as exact integers (ratios left to the consumer so the oracle
  // stays float-free).
  // ---------------------------------------------------------------------
  def tx02Quality(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    docs.select(col("doc_id"),
      length(col("text")).as("len_chars"),
      size(expr("filter(split(text, ' '), x -> x != '')")).as("n_tokens"),
      size(expr("filter(split(text, ' '), x -> x IN ('the','a','of','and','la','le','der'))")).as("n_stopwords"),
      size(array_distinct(expr("filter(split(text, ' '), x -> x != '')"))).as("n_distinct_tokens"),
      (length(col("text")) - length(regexp_replace(col("text"), "[a-z]", ""))).as("n_alpha_chars"))
  }

  val tx02Oracle: String =
    """SELECT doc_id,
      | length(text) AS len_chars,
      | CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS INTEGER) AS n_tokens,
      | CAST(len(list_filter(string_split(text, ' '), x -> x IN ('the','a','of','and','la','le','der'))) AS INTEGER) AS n_stopwords,
      | CAST(len(list_distinct(list_filter(string_split(text, ' '), x -> x != ''))) AS INTEGER) AS n_distinct_tokens,
      | CAST(length(text) - length(regexp_replace(text, '[a-z]', '', 'g')) AS INTEGER) AS n_alpha_chars
      |FROM documents""".stripMargin

  // ---------------------------------------------------------------------
  // tx03: token counting — whitespace tokens plus a BPE-ish regex
  // tokenization ([a-z]+ | digit runs | single other chars).
  // ---------------------------------------------------------------------
  def tx03TokenCount(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    docs.select(col("doc_id"),
      size(expr("filter(split(text, ' '), x -> x != '')")).as("ws_tokens"),
      size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+', 0)")).as("re_tokens"))
  }

  val tx03Oracle: String =
    """SELECT doc_id,
      | CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS INTEGER) AS ws_tokens,
      | CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS INTEGER) AS re_tokens
      |FROM documents""".stripMargin

  // ---------------------------------------------------------------------
  // tx04: document fingerprinting — md5 content hash over canonicalized
  // text plus a 31-ary polynomial rolling hash mod 1e9+7 (Karp-Rabin style)
  // computed with the `aggregate` higher-order function: distributed,
  // codegen-friendly, no UDF.
  // ---------------------------------------------------------------------
  def tx04Fingerprint(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    docs.select(col("doc_id"),
        regexp_replace(regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " ").as("canon"))
      .select(col("doc_id"),
        md5(col("canon")).as("content_md5"),
        expr("aggregate(sequence(1, length(canon)), 0L, (acc, i) -> (acc * 31 + ascii(substring(canon, i, 1))) % 1000000007)")
          .as("poly_hash"))
  }

  val tx04Oracle: String =
    """WITH c AS (
      | SELECT doc_id, regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g') AS canon
      | FROM documents)
      |SELECT doc_id, md5(canon) AS content_md5,
      | CAST(list_reduce(list_transform(range(1, length(canon) + 1), i -> CAST(ascii(substr(canon, CAST(i AS INTEGER), 1)) AS BIGINT)), (acc, x) -> (acc * 31 + x) % 1000000007) AS BIGINT) AS poly_hash
      |FROM c""".stripMargin

  // ---------------------------------------------------------------------
  // tx05: text normalization — the canonical form trainers dedup/train on:
  // lowercase, drop everything outside [a-z0-9 .,], collapse whitespace,
  // trim. Pure codegen'd regexp chain; emitted alongside the original
  // length so filters can gate on shrinkage (markup-heavy docs shrink most).
  // ---------------------------------------------------------------------
  def tx05Normalize(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    docs.select(col("doc_id"),
        trim(regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z0-9 .,]", " "),
          " +", " ")).as("norm_text"),
        length(col("text")).as("len_raw"))
      .withColumn("len_norm", length(col("norm_text")))
  }

  val tx05Oracle: String =
    """SELECT doc_id,
      | trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 .,]', ' ', 'g'), ' +', ' ', 'g')) AS norm_text,
      | length(text) AS len_raw,
      | length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 .,]', ' ', 'g'), ' +', ' ', 'g'))) AS len_norm
      |FROM documents""".stripMargin

  // ---------------------------------------------------------------------
  // tx06: PII scrubbing — emails and phone-shaped digit runs masked by
  // regexp, with per-doc counts of what was masked. The corpus text has no
  // planted PII, so (like q26's messy numeral) the input is synthesized
  // deterministically per doc — both engines scrub the same string; the
  // operator is the regex chain, which transfers to real corpora verbatim.
  // ---------------------------------------------------------------------
  private val emailRe = "[a-z0-9._]+@[a-z0-9.]+\\.[a-z]+"
  private val phoneRe = "\\+?[0-9][0-9()\\- ]{6,}[0-9]"

  def tx06PiiScrub(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val withPii = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@mail.example.org or +1-555-01"), col("doc_id").cast("string"))
    docs.select(col("doc_id"), withPii.as("t"))
      .select(col("doc_id"),
        regexp_replace(regexp_replace(col("t"), emailRe, "<EMAIL>"),
          phoneRe, "<PHONE>").as("scrubbed"),
        size(regexp_extract_all(col("t"), lit(emailRe), lit(0))).as("n_emails"),
        size(regexp_extract_all(
          regexp_replace(col("t"), emailRe, "<EMAIL>"), lit(phoneRe), lit(0)))
          .as("n_phones"))
  }

  val tx06Oracle: String =
    s"""WITH p AS (
       | SELECT doc_id,
       |  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.org or +1-555-01' || CAST(doc_id AS VARCHAR) AS t
       | FROM documents)
       |SELECT doc_id,
       | regexp_replace(regexp_replace(t, '$emailRe', '<EMAIL>', 'g'), '$phoneRe', '<PHONE>', 'g') AS scrubbed,
       | CAST(len(regexp_extract_all(t, '$emailRe')) AS INTEGER) AS n_emails,
       | CAST(len(regexp_extract_all(regexp_replace(t, '$emailRe', '<EMAIL>', 'g'), '$phoneRe')) AS INTEGER) AS n_phones
       |FROM p""".stripMargin

  // ---------------------------------------------------------------------
  // tx07: intra-document repetition signals (Gopher-style quality gates):
  // how many token 2-grams / 3-grams inside a doc are repeats of an
  // earlier n-gram in the same doc. High dup fractions mark boilerplate /
  // degenerate text. Pure per-row array arithmetic — zip_with over shifted
  // slices builds the n-grams, array_distinct counts the unique ones — so
  // the whole operator is a zero-shuffle codegen'd projection. Counts stay
  // integers; the ratio is the consumer's division.
  // ---------------------------------------------------------------------
  def tx07Repetition(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val toks = expr("filter(split(text, ' '), x -> x != '')")
    val n = size(col("toks"))
    // zip_with over slices shifted by 1 (and 2) tokens; the when-guard
    // keeps slice lengths non-negative for degenerate 0/1-token docs.
    val g2 = when(n >= 2,
      zip_with(slice(col("toks"), lit(1), n - 1), slice(col("toks"), lit(2), n - 1),
        (a, b) => concat_ws(" ", a, b))).otherwise(array().cast("array<string>"))
    val g3 = when(n >= 3,
      zip_with(slice(col("toks"), lit(1), n - 2),
        zip_with(slice(col("toks"), lit(2), n - 2), slice(col("toks"), lit(3), n - 2),
          (b, c) => concat_ws(" ", b, c)),
        (a, bc) => concat_ws(" ", a, bc))).otherwise(array().cast("array<string>"))
    docs.select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"), g2.as("g2"), g3.as("g3"))
      .select(col("doc_id"),
        size(col("g2")).as("n_2grams"),
        (size(col("g2")) - size(array_distinct(col("g2")))).as("n_dup_2grams"),
        size(col("g3")).as("n_3grams"),
        (size(col("g3")) - size(array_distinct(col("g3")))).as("n_dup_3grams"))
  }

  val tx07Oracle: String =
    """WITH t AS (
      | SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks
      | FROM documents),
      |g AS (
      | SELECT doc_id,
      |  list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) AS g2,
      |  list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS g3
      | FROM t)
      |SELECT doc_id,
      | CAST(len(g2) AS INTEGER) AS n_2grams,
      | CAST(len(g2) - len(list_distinct(g2)) AS INTEGER) AS n_dup_2grams,
      | CAST(len(g3) AS INTEGER) AS n_3grams,
      | CAST(len(g3) - len(list_distinct(g3)) AS INTEGER) AS n_dup_3grams
      |FROM g""".stripMargin

  // ---------------------------------------------------------------------
  // tx08: corpus-wide top-k terms (exact heavy hitters) — explode tokens,
  // count, take the global top 20 with a deterministic (count DESC, token
  // ASC) order. The plan is the scale shape for exact top-k: map-side
  // partial counts, one shuffle to finalize, then TakeOrderedAndProject
  // (per-partition top-k + driver merge of k·partitions rows — never a
  // global sort of the full term dictionary).
  // ---------------------------------------------------------------------
  def tx08TopTerms(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    docs.select(explode(expr("filter(split(text, ' '), x -> x != '')")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(20)
  }

  val tx08Oracle: String =
    """SELECT token, COUNT(*) AS n FROM (
      | SELECT unnest(list_filter(string_split(text, ' '), x -> x != '')) AS token
      | FROM documents) t
      |GROUP BY token ORDER BY n DESC, token ASC LIMIT 20""".stripMargin

  // ---------------------------------------------------------------------
  // tx09: out-of-vocabulary rate against a LEARNED corpus vocabulary —
  // the integer-exact core of a CCNet-style LM quality filter: build the
  // top-1000 token vocabulary (count desc, token asc — deterministic),
  // broadcast it, and score each doc by how many of its tokens fall
  // outside. Two shuffles total at any scale: the partial-aggregated
  // vocab count and the per-doc regroup; the vocab membership join is a
  // broadcast, and the top-k is TakeOrderedAndProject (tx08's shape),
  // never a full sort. All-integer outputs so the oracle hash-matches.
  // ---------------------------------------------------------------------
  private val vocabSize = 1000

  def tx09OovRate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val toks = docs.select(col("doc_id"),
      explode(expr("filter(split(text, ' '), x -> x != '')")).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok").asc).limit(vocabSize)
      .select(col("tok"), lit(1L).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("in_vocab"), lit(0L))).as("n_in_vocab"))
      .withColumn("oov_pct",
        expr("((n_tokens - n_in_vocab) * 100) div n_tokens"))
  }

  val tx09Oracle: String =
    s"""WITH toks AS (
       | SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS tok
       | FROM documents),
       |v AS (
       | SELECT tok FROM (
       |  SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
       |  ORDER BY cnt DESC, tok ASC LIMIT $vocabSize) t)
       |SELECT t.doc_id, COUNT(*) AS n_tokens,
       | CAST(SUM(CASE WHEN v.tok IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_in_vocab,
       | ((COUNT(*) - CAST(SUM(CASE WHEN v.tok IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)) * 100)
       |   // COUNT(*) AS oov_pct
       |FROM toks t LEFT JOIN v ON t.tok = v.tok
       |GROUP BY t.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // tx10: BPE merge-pair mining — the inner statistic of tokenizer
  // training: count every ADJACENT token pair corpus-wide and surface the
  // top candidates (count DESC, pair ASC — the deterministic order a BPE
  // trainer would merge in). One explode over zip_with'd slices (no
  // self-join of token positions), map-side partial counts, then the
  // tx08 top-k shape: TakeOrderedAndProject over the pair dictionary,
  // never a global sort. Iterating this query with a re-tokenize between
  // rounds IS the BPE training loop; each round is this same plan.
  // ---------------------------------------------------------------------
  def tx10BpePairs(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val toks = expr("filter(split(text, ' '), x -> x != '')")
    val n = size(col("toks"))
    val pairs = when(n >= 2,
      zip_with(slice(col("toks"), lit(1), n - 1), slice(col("toks"), lit(2), n - 1),
        (a, b) => concat_ws(" ", a, b))).otherwise(array().cast("array<string>"))
    docs.select(toks.as("toks"))
      .select(explode(pairs).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair").asc)
      .limit(20)
  }

  val tx10Oracle: String =
    """SELECT pair, COUNT(*) AS n FROM (
      | SELECT unnest(list_transform(range(1, len(toks)),
      |   i -> toks[i] || ' ' || toks[i+1])) AS pair
      | FROM (SELECT list_filter(string_split(text, ' '), x -> x != '') AS toks
      |       FROM documents) t) p
      |GROUP BY pair ORDER BY n DESC, pair ASC LIMIT 20""".stripMargin

  // ---------------------------------------------------------------------
  // tx11: BPE-ish token counting — whitespace tokens vs pretokenizer
  // units. LLM cost/budget accounting needs the TOKENIZER's token count,
  // not the whitespace one; the standard pretokenizer splits into letter
  // runs / digit runs / single punctuation (the GPT-2 regex family,
  // reduced to the engine-portable core). Pure per-row regexp work,
  // codegen'd, zero shuffles. The alternation's branches start from
  // disjoint character classes, so leftmost-first (Java) and RE2 (DuckDB)
  // semantics cannot diverge.
  // ---------------------------------------------------------------------
  def tx11BpeTokenCount(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    docs.select(col("doc_id"),
      size(expr("filter(split(text, ' '), x -> x != '')")).as("n_ws_tokens"),
      size(expr(
        "regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
        .as("n_bpe_tokens"))
  }

  val tx11Oracle: String =
    """SELECT doc_id,
      | CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS INTEGER) AS n_ws_tokens,
      | CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER) AS n_bpe_tokens
      |FROM documents""".stripMargin

  // ---------------------------------------------------------------------
  // tx12: BPE merge APPLICATION — the other half of tokenizer training.
  // tx10 mines the best pair; tx12 closes the loop: apply the top-ranked
  // merge to the token stream, re-mine over the merged corpus, repeat K
  // rounds (mine → merge → re-mine — the actual BPE training iteration).
  //
  // The merge itself is greedy left-to-right non-overlapping, expressed as
  // a FOLD over the token array with a string accumulator: each token is
  // tagged with a \u0001 separator, and a step either fuses the incoming
  // token onto the accumulator (when the accumulator ends with SEP+a and
  // the token is SEP+b) or appends it. endsWith(acc, SEP+a) is exact
  // last-token equality because SEP never occurs inside a token, and a
  // fused token a||b can never re-match as `a` (that would need b = ""),
  // so the fold IS the greedy pass — 'x x x' merges to ['xx','x'], not
  // ['xx','xx'].
  //
  // Scale shape: each round is (1) the tx10 mining plan — map-side partial
  // counts + TakeOrderedAndProject top-1, never a global sort — and (2) a
  // pure per-row merge pass. The only driver-side data movement is the
  // ONE mined pair per round (same driver-loop coordination as ss04's
  // k-means; localCheckpoint truncates the growing lineage). The mined
  // pair enters the next plan as a lit() Column, never spliced into SQL
  // text. Oracle: the same K rounds as a generated CTE chain whose fold
  // is DuckDB list_reduce — both sides COMPUTE the pairs, so the oracle
  // stays self-contained.
  // ---------------------------------------------------------------------
  private[operators] val bpeRounds = 3
  private val SEP = "\u0001"

  private[operators] def minedTopPairWithCount(
      docs: DataFrame): Option[(String, String, Long)] = {
    val n = size(col("toks"))
    val pairs = when(n >= 2,
      zip_with(slice(col("toks"), lit(1), n - 1), slice(col("toks"), lit(2), n - 1),
        (a, b) => concat_ws(" ", a, b))).otherwise(array().cast("array<string>"))
    docs.select(explode(pairs).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair").asc)
      .limit(1).collect().headOption.map { r =>
        val Array(a, b) = r.getString(0).split(" ", 2)
        (a, b, r.getLong(1))
      }
  }

  private[operators] def minedTopPair(docs: DataFrame): Option[(String, String)] =
    minedTopPairWithCount(docs).map { case (a, b, _) => (a, b) }

  private[operators] def mergedToks(a: String, b: String): Column = {
    val tagged = transform(col("toks"), t => concat(lit(SEP), t))
    val folded = aggregate(tagged, lit(""), (acc, x) =>
      when(endswith(acc, lit(SEP + a)) && x === lit(SEP + b),
        concat(acc, x.substr(lit(2), length(x))))
        .otherwise(concat(acc, x)))
    filter(split(folded, SEP), z => z =!= "")
  }

  def tx12BpeMergeApply(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    var cur = docs.select(col("doc_id"),
      expr("filter(split(text, ' '), x -> x != '')").as("toks"))
    for (_ <- 1 to bpeRounds) {
      minedTopPair(cur).foreach { case (a, b) =>
        cur = cur.withColumn("toks", mergedToks(a, b)).transform(pin)
      }
    }
    cur.select(col("doc_id"), size(col("toks")).as("n_tokens"),
      concat_ws(" ", col("toks")).as("merged_text"))
  }

  /** The shared K-round CTE chain for tx12/tx13: pc$i mines round i's top
    * pair WITH its count, m$i splits it, r$i applies the greedy merge. */
  private def bpeChainSql(rounds: Int): String = {
    val sb = new StringBuilder(
      """WITH r0 AS (
        | SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks
        | FROM documents)""".stripMargin)
    for (i <- 1 to rounds) {
      val p = i - 1
      sb.append(s""",
         |pc$i AS (
         | SELECT pair, COUNT(*) AS n FROM (
         |  SELECT unnest(list_transform(range(1, len(toks)),
         |    i -> toks[i] || ' ' || toks[i+1])) AS pair FROM r$p) t
         | GROUP BY pair ORDER BY n DESC, pair ASC LIMIT 1),
         |m$i AS (
         | SELECT string_split(pair, ' ')[1] AS a, string_split(pair, ' ')[2] AS b, n
         | FROM pc$i),
         |r$i AS (
         | SELECT doc_id, CASE WHEN len(toks) = 0 THEN toks ELSE
         |  list_filter(string_split(
         |   list_reduce(list_transform(toks, t -> chr(1) || t), (acc, x) ->
         |    CASE WHEN ends_with(acc, chr(1) || m$i.a) AND x = chr(1) || m$i.b
         |         THEN acc || substr(x, 2) ELSE acc || x END), chr(1)),
         |   z -> z != '') END AS toks
         | FROM r$p CROSS JOIN m$i)""".stripMargin)
    }
    sb.toString
  }

  val tx12Oracle: String =
    s"""${bpeChainSql(bpeRounds)}
       |SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens,
       | array_to_string(toks, ' ') AS merged_text
       |FROM r$bpeRounds""".stripMargin

  // ---------------------------------------------------------------------
  // tx13: the learned MERGE TABLE — the artifact BPE training actually
  // ships (the ordered merge list a tokenizer loads). Same loop as tx12,
  // but the deliverable is the per-round (a, b, count) rows instead of
  // the re-tokenized corpus. The count is the pair's frequency in the
  // corpus state it was mined FROM — the merge priority signal.
  // ---------------------------------------------------------------------
  def tx13BpeMergeTable(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir, "documents")
    var cur = docs.select(col("doc_id"),
      expr("filter(split(text, ' '), x -> x != '')").as("toks"))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    for (round <- 1 to bpeRounds) {
      minedTopPairWithCount(cur).foreach { case (a, b, n) =>
        merges += ((round, a, b, n))
        cur = cur.withColumn("toks", mergedToks(a, b)).transform(pin)
      }
    }
    merges.toSeq.toDF("round", "a", "b", "n")
  }

  val tx13Oracle: String = {
    val rows = (1 to bpeRounds)
      .map(i => s"SELECT $i AS round, a, b, n FROM m$i")
      .mkString("\nUNION ALL\n")
    s"${bpeChainSql(bpeRounds)}\n$rows"
  }

  // ---------------------------------------------------------------------
  // tx14: bigram-LM cross-entropy scoring — the LEARNED half of a
  // CCNet/Gopher-style quality filter: train an add-½-smoothed bigram
  // language model on the corpus itself, then score every document by its
  // mean surprisal, bits per bigram = avg over bigrams of
  // -log2((c(w1,w2) + ½) / (c(w1·) + ½·V)). Fluent, common text scores
  // low; gibberish and boilerplate-with-rare-tokens score high — the
  // standard perplexity-gate signal, learned with no external model.
  //
  // Scale shape: the bigram/context count tables are dictionary-sized
  // (≪ corpus), built with map-side partial counts; the score pass
  // re-joins the corpus bigram stream to them by hash equi-join (the
  // dictionary shuffles, the corpus stream shuffles ONCE on (w1,w2) and
  // the context join piggy-backs on w1), then one per-doc regroup. V is
  // a 1-row aggregate cross-joined in-plan — never a driver collect.
  // The per-doc mean is rounded to 4 decimals so the double sum's
  // last-ulp noise (summation order, log2 libm differences) can't leak
  // into the hash compare; every input to the rounding is ≤1e-13 from
  // the oracle's value.
  // ---------------------------------------------------------------------
  def tx14LmScore(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val toksE = expr("filter(split(lower(text), ' '), x -> x != '')")
    val n = size(col("toks"))
    val pairsArr = when(n >= 2,
      zip_with(slice(col("toks"), lit(1), n - 1), slice(col("toks"), lit(2), n - 1),
        (a, b) => struct(a.as("w1"), b.as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
    val bi = docs.select(col("doc_id"), toksE.as("toks"))
      .select(col("doc_id"), explode(pairsArr).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val big = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    val ctx = big.groupBy(col("w1")).agg(sum(col("cb")).as("cu"))
    val vocab = docs.select(explode(toksE).as("tok"))
      .agg(countDistinct(col("tok")).as("v"))
    bi.join(big, Seq("w1", "w2"))
      .join(ctx, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("bits",
        -log2((col("cb").cast("double") + lit(0.5)) /
          (col("cu").cast("double") + lit(0.5) * col("v").cast("double"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("bits")).as("sb"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("sb") / col("n_bigrams").cast("double"), 4).as("bits_per_bigram"))
  }

  val tx14Oracle: String =
    """WITH t AS (
      | SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x != '') AS toks
      | FROM documents),
      |bi AS (
      | SELECT doc_id, unnest(list_transform(range(1, len(toks)), i -> toks[i])) AS w1,
      |  unnest(list_transform(range(1, len(toks)), i -> toks[i+1])) AS w2
      | FROM t),
      |big AS (SELECT w1, w2, COUNT(*) AS cb FROM bi GROUP BY w1, w2),
      |ctx AS (SELECT w1, CAST(SUM(cb) AS BIGINT) AS cu FROM big GROUP BY w1),
      |voc AS (SELECT COUNT(DISTINCT tok) AS v FROM (
      | SELECT unnest(toks) AS tok FROM t) u)
      |SELECT bi.doc_id, COUNT(*) AS n_bigrams,
      | round(SUM(-log2((CAST(cb AS DOUBLE) + 0.5) /
      |   (CAST(cu AS DOUBLE) + 0.5 * CAST(v AS DOUBLE)))) / COUNT(*), 4) AS bits_per_bigram
      |FROM bi JOIN big USING (w1, w2) JOIN ctx USING (w1) CROSS JOIN voc
      |GROUP BY bi.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // tx19: PMI collocation mining (Church & Hanks 1990) — which adjacent
  // word pairs co-occur far above chance: PMI(a,b) =
  // log2(p(ab)/(p(a)p(b))) over the corpus token/bigram streams, the
  // standard multiword-expression and tokenizer-merge-candidate signal
  // complementing raw-count BPE mining (tx10: frequency; tx19: lift).
  // The SELECTION is pure integer (c_ab ≥ threshold) — never a ranking
  // on the float score, which could flip on cross-libm log ulps; the
  // reported pmi rounds the log2 of one deterministic double expression
  // to 4 decimals (tx14's convention). Two hash aggregates + one join of
  // the thresholded (small) pair set against the unigram counts; scalar
  // totals ride a broadcast cross join.
  // ---------------------------------------------------------------------
  private val colloMinCount = 5

  def tx19Collocations(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val toksE = expr("filter(split(lower(text), ' '), x -> x != '')")
    val n = size(col("toks"))
    val pairsArr = when(n >= 2,
      zip_with(slice(col("toks"), lit(1), n - 1), slice(col("toks"), lit(2), n - 1),
        (a, b) => struct(a.as("w1"), b.as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
    val toks = docs.select(col("doc_id"), toksE.as("toks")).transform(pin)
    val uni = toks.select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val bi = toks.select(explode(pairsArr).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    val big = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cab"))
      .filter(col("cab") >= colloMinCount)
    val totals = toks.select(
      sum(size(col("toks"))).as("nt"),
      sum(greatest(size(col("toks")) - 1, lit(0))).as("nb"))
    big
      .join(uni.select(col("w").as("w1"), col("c").as("ca")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("cb")), Seq("w2"))
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("cab"),
        // + 0.0 normalizes IEEE negative zero (round can yield -0.0 for
        // tiny negative lifts, and -0.0 vs 0.0 diverges in sort/hash)
        (round(log2(col("cab").cast("double") * col("nt") * col("nt") /
          (col("nb").cast("double") * col("ca") * col("cb"))), 4) + lit(0.0)).as("pmi"))
  }

  val tx19Oracle: String =
    s"""WITH t AS (
       | SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x != '') AS toks
       | FROM documents),
       |uni AS (SELECT tok AS w, CAST(COUNT(*) AS BIGINT) AS c FROM (
       | SELECT unnest(toks) AS tok FROM t) u GROUP BY 1),
       |bi AS (
       | SELECT unnest(list_transform(range(1, len(toks)), i -> toks[i])) AS w1,
       |  unnest(list_transform(range(1, len(toks)), i -> toks[i+1])) AS w2
       | FROM t),
       |big AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cab FROM bi
       | GROUP BY 1, 2 HAVING COUNT(*) >= $colloMinCount),
       |tot AS (SELECT CAST(SUM(len(toks)) AS BIGINT) AS nt,
       |  CAST(SUM(GREATEST(len(toks) - 1, 0)) AS BIGINT) AS nb FROM t)
       |SELECT big.w1, big.w2, cab,
       | round(log2(CAST(cab AS DOUBLE) * nt * nt /
       |   (CAST(nb AS DOUBLE) * a.c * b.c)), 4) + 0.0 AS pmi
       |FROM big JOIN uni a ON big.w1 = a.w
       | JOIN uni b ON big.w2 = b.w CROSS JOIN tot""".stripMargin

  // ---------------------------------------------------------------------
  // tx15: TF-IDF top terms per document — the classic distinctive-term
  // surface (search snippets, topic labeling, per-doc keywords): score =
  // tf · ln((N+1)/(df+1)), top 3 per doc (score desc, term asc). Scale
  // shape: tf is the corpus's one per-(doc, term) shuffle; df derives
  // from tf (dictionary-sized, partial-agg'd); N is a 1-row aggregate
  // cross-joined in-plan; the per-doc top-3 is a WindowGroupLimit (map
  // tasks keep ≤3 rows per doc before the exchange, ds07's shape). The
  // rank orders on the raw double score — ln differs by ≤1 ulp across
  // engines, and two scores tie only at identical (tf, df), where the
  // term-asc tiebreak decides — so the emitted rounded score can't mask
  // an ordering divergence.
  // ---------------------------------------------------------------------
  def tx15Tfidf(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val toks = docs.select(col("doc_id"),
      explode(expr("filter(split(text, ' '), x -> x != '')")).as("tok"))
    val tf = toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val nd = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, Seq("tok")).crossJoin(broadcast(nd))
      .withColumn("score", col("tf").cast("double") *
        log((col("n_docs") + 1).cast("double") / (col("df") + 1).cast("double")))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("tok").asc)
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 3)
      .select(col("doc_id"), col("tok"), col("rnk"), col("tf"), col("df"),
        round(col("score"), 4).as("tfidf"))
  }

  val tx15Oracle: String =
    """WITH toks AS (
      | SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS tok
      | FROM documents),
      |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
      |df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
      |nd AS (SELECT COUNT(*) AS n_docs FROM documents)
      |SELECT doc_id, tok, rnk, tf, df, round(score, 4) AS tfidf FROM (
      | SELECT tf.doc_id, tf.tok, tf.tf, df.df,
      |  CAST(tf.tf AS DOUBLE) * ln(CAST(n_docs + 1 AS DOUBLE) / CAST(df.df + 1 AS DOUBLE)) AS score,
      |  ROW_NUMBER() OVER (PARTITION BY tf.doc_id
      |    ORDER BY CAST(tf.tf AS DOUBLE) * ln(CAST(n_docs + 1 AS DOUBLE) / CAST(df.df + 1 AS DOUBLE)) DESC,
      |      tf.tok ASC) AS rnk
      | FROM tf JOIN df USING (tok) CROSS JOIN nd) t
      |WHERE rnk <= 3""".stripMargin

  // ---------------------------------------------------------------------
  // tx16: exact length percentiles per language via the histogram trick —
  // the 100 TB way to answer "median / p90 document length": a global
  // sort (what percentile_disc does naively) is the one thing that can't
  // scale, but the distinct-length histogram per language is tiny, so the
  // corpus contributes one partial-agg'd shuffle to build it and the
  // cumulative walk runs over the dictionary, never the corpus. The
  // percentile is the inverse-CDF definition in pure integers (min length
  // whose 2·cum ≥ n, 10·cum ≥ 9·n) — exact, and oracle-hash-identical.
  // ---------------------------------------------------------------------
  def tx16LengthPercentiles(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val t = docs.select(col("lang"),
      expr("size(filter(split(text, ' '), x -> x != ''))").cast("long").as("len"))
    val hist = t.groupBy(col("lang"), col("len")).agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("lang")).orderBy(col("len"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val tot = hist.groupBy(col("lang")).agg(sum(col("c")).as("n"))
    hist.withColumn("cum", sum(col("c")).over(w))
      .join(broadcast(tot), Seq("lang"))
      .groupBy(col("lang"))
      .agg(max(col("n")).as("n_docs"),
        min(when(col("cum") * 2 >= col("n"), col("len"))).as("median_len"),
        min(when(col("cum") * 10 >= col("n") * 9, col("len"))).as("p90_len"),
        max(col("len")).as("max_len"))
  }

  val tx16Oracle: String =
    """WITH t AS (
      | SELECT lang,
      |  CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS BIGINT) AS len
      | FROM documents),
      |hist AS (SELECT lang, len, COUNT(*) AS c FROM t GROUP BY lang, len),
      |cum AS (
      | SELECT lang, len, c,
      |  CAST(SUM(c) OVER (PARTITION BY lang ORDER BY len
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      | FROM hist),
      |tot AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n FROM hist GROUP BY lang)
      |SELECT cum.lang, MAX(n) AS n_docs,
      | MIN(CASE WHEN cum * 2 >= n THEN len END) AS median_len,
      | MIN(CASE WHEN cum * 10 >= n * 9 THEN len END) AS p90_len,
      | MAX(len) AS max_len
      |FROM cum JOIN tot USING (lang)
      |GROUP BY cum.lang""".stripMargin

  // ---------------------------------------------------------------------
  // tx17: language-ID confusion matrix — the EVALUATION of tx01 against
  // the labeled corpus: counts per (actual, guessed) cell plus each
  // actual language's accuracy in per-mille. This is how a production
  // langid filter's quality is tracked release-over-release; all-integer
  // so it hash-matches. The per-cell rollup is |langs|² — the corpus
  // contributes only tx01's shuffle-free scoring pass plus one count.
  // ---------------------------------------------------------------------
  def tx17LangidConfusion(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val cells = tx01LangId(s, dir)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .groupBy(col("lang"), col("guessed_lang"))
      .agg(count(lit(1)).as("n"))
    val tots = cells.groupBy(col("lang")).agg(sum(col("n")).as("n_lang"))
    cells.join(broadcast(tots), Seq("lang"))
      .select(col("lang"), col("guessed_lang"), col("n"),
        expr("case when lang = guessed_lang then (n * 1000) div n_lang end")
          .as("accuracy_pm"))
  }

  val tx17Oracle: String =
    s"""WITH g AS (SELECT * FROM ($tx01Oracle) t),
       |cells AS (
       | SELECT d.lang, g.guessed_lang, COUNT(*) AS n
       | FROM g JOIN documents d USING (doc_id)
       | GROUP BY d.lang, g.guessed_lang),
       |tots AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS n_lang FROM cells GROUP BY lang)
       |SELECT c.lang, c.guessed_lang, c.n,
       | CASE WHEN c.lang = c.guessed_lang THEN (c.n * 1000) // t.n_lang END AS accuracy_pm
       |FROM cells c JOIN tots t USING (lang)""".stripMargin

  // ---------------------------------------------------------------------
  // tx18: Heaps-law vocabulary-growth curve — distinct-token counts over
  // growing doc_id prefixes, the release-over-release corpus diversity
  // metric (a flattening curve means new data adds volume, not variety).
  // Scale shape: each token contributes exactly once, at its FIRST doc;
  // tokens bucket to the smallest prefix threshold containing that doc,
  // and vocab(T) is a running sum over the ≤|thresholds| bucket counts —
  // two keyed aggregates plus a constant-size window, never a
  // per-threshold corpus scan and never a fd<T theta join.
  // ---------------------------------------------------------------------
  // Geometric from 1: the synthetic corpus draws from a small lexicon, so
  // the interesting part of the curve is the first few docs; real corpora
  // fill the right-hand thresholds instead.
  private val vocabThresholds = Seq(1L, 2L, 4L, 8L, 16L, 32L, 64L, 128L, 256L, 512L)

  def tx18VocabGrowth(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val first = Tables(s, dir, "documents")
      .select(col("doc_id"),
        explode(expr("filter(split(text, ' '), x -> x != '')")).as("token"))
      .groupBy(col("token")).agg(min(col("doc_id")).as("fd"))
    val bucket = vocabThresholds.reverse.foldLeft(lit(null).cast("long")) {
      (acc, t) => when(col("fd") < t, lit(t)).otherwise(acc)
    }
    first.select(bucket.as("t")).filter(col("t").isNotNull)
      .groupBy(col("t")).agg(count(lit(1)).as("nv"))
      .select(col("t").as("threshold"),
        sum(col("nv")).over(Window.orderBy(col("t"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("vocab"))
  }

  val tx18Oracle: String = {
    val cases = vocabThresholds.map(t => s"WHEN fd < $t THEN $t").mkString(" ")
    s"""WITH tok AS (
       | SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS token
       | FROM documents),
       |f AS (SELECT token, MIN(doc_id) AS fd FROM tok GROUP BY token),
       |b AS (SELECT CASE $cases END AS t FROM f),
       |c AS (SELECT t, COUNT(*) AS nv FROM b WHERE t IS NOT NULL GROUP BY t)
       |SELECT CAST(t AS BIGINT) AS threshold,
       | CAST(SUM(nv) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab
       |FROM c""".stripMargin
  }

  // ---------------------------------------------------------------------
  // tx20: n-gram NOVELTY attribution — per document, the share of its
  // distinct trigram hashes that occur in NO earlier document (doc_id
  // order): the template-saturation signal behind "stop crawling this
  // source" decisions — boilerplate-heavy corpora converge to near-zero
  // novelty while fresh content stays high. Complements dd10, which asks
  // the symmetric "is this span ANYWHERE else" question; novelty ASSIGNS
  // each shared gram to its earliest occurrence, so the scores sum to the
  // corpus vocabulary and a source's novelty decay is monotone.
  //
  // Scale shape: dd10's canonical two-exchange plan — per-doc-distinct
  // gram hashes dedup'd MAP-SIDE (array_distinct before explode, no
  // dedup shuffle), one exchange to min(doc_id) per gram (map-side
  // partials — first-occurrence is an associative min, never a window
  // over the gram stream), one exchange to join ownership back, then a
  // tiny per-doc count. The served ratio stays integer (per-mille div,
  // the tx09 convention) so no float crosses the oracle hash.
  // ---------------------------------------------------------------------
  def tx20NgramNovelty(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
    val toks = expr("filter(split(norm, ' '), x -> x != '')")
    val g = graft.Tables.balanced(docs.select(col("doc_id"), norm.as("norm")))
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"),
        explode(array_distinct(expr("ngram_hashes(toks, 3)"))).as("gh"))
    val owner = g.groupBy(col("gh")).agg(min(col("doc_id")).as("first_doc"))
    g.join(owner, Seq("gh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty_pm", expr("(n_novel * 1000) div n_grams"))
  }

  val tx20Oracle: String =
    """WITH n AS (
      | SELECT doc_id, list_filter(string_split(
      |   trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')),
      |   ' '), x -> x != '') AS toks
      | FROM documents),
      |g AS (
      | SELECT DISTINCT doc_id,
      |  ('0x' || substr(md5(array_to_string(toks[i:i+2], ' ')), 1, 15))::BIGINT AS gh
      | FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i FROM n) u),
      |o AS (SELECT gh, MIN(doc_id) AS first_doc FROM g GROUP BY gh)
      |SELECT g.doc_id, COUNT(*) AS n_grams,
      | CAST(SUM(CASE WHEN o.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
      | (CAST(SUM(CASE WHEN o.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) * 1000)
      |   // COUNT(*) AS novelty_pm
      |FROM g JOIN o USING (gh)
      |GROUP BY g.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // tx21: RULE-BASED quality filter — the decision layer on top of tx02's
  // raw signals: Gopher/FineWeb-style threshold rules, each contributing a
  // named failure, the keep bit = "no rule fired", and the fired rules
  // emitted as an auditable reason string (what a curation pipeline logs
  // so every dropped document is explainable). All comparisons are
  // integer cross-multiplications (mean word length ∈ [4.0, 5.0] becomes
  // 10·chars ≷ 40/50·words), so the verdict is exact in both engines —
  // no float ratio anywhere. Per-row, shuffle-free, codegen'd: the 100 TB
  // cost is one scan. Thresholds are tuned to the synthetic corpus so
  // every rule actually fires somewhere (a filter that never fires tests
  // nothing). Rule order in the reason string is fixed.
  // ---------------------------------------------------------------------
  def tx21RuleFilter(s: SparkSession, dir: String): DataFrame =
    ruleFiltered(Tables(s, dir, "documents"))

  /** tx21's rule evaluation over any (doc_id, text) frame — a stateless
    * projection, so it runs unchanged over a STREAMING frame
    * ([[graft.streaming.EventStream.ingestGateStream]]). `carry` columns
    * pass through untouched (the streaming gate threads guessed_lang
    * through without a stateful self-join). */
  private[graft] def ruleFiltered(docs: DataFrame,
      carry: Seq[String] = Nil): DataFrame = {
    val sig = docs.select((col("doc_id") +: carry.map(col)) ++ Seq(
      expr("cast(size(filter(split(text, ' '), x -> x != '')) as bigint)").as("n_words"),
      expr("cast(length(replace(text, ' ', '')) as bigint)").as("n_wchars"),
      expr("cast(size(filter(split(text, ' '), x -> x IN ('the','a','of','and','la','le','der'))) as bigint)").as("n_stop"),
      expr("cast(size(array_distinct(filter(split(text, ' '), x -> x != ''))) as bigint)").as("n_distinct")): _*)
    sig.withColumn("failed_rules", concat_ws(",",
        when(col("n_words") < 20, "too_short"),
        when(col("n_wchars") * 10 < col("n_words") * 40 ||
          col("n_wchars") * 10 > col("n_words") * 50, "word_len"),
        when(col("n_stop") < 2, "low_stopword"),
        when(col("n_distinct") * 5 < col("n_words") * 2, "repetitive")))
      .select((col("doc_id") +: carry.map(col)) ++ Seq(col("n_words"),
        (col("failed_rules") === "").as("keep"), col("failed_rules")): _*)
  }

  val tx21Oracle: String =
    """WITH sig AS (
      | SELECT doc_id,
      |  CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS BIGINT) AS n_words,
      |  CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_wchars,
      |  CAST(len(list_filter(string_split(text, ' '), x -> x IN ('the','a','of','and','la','le','der'))) AS BIGINT) AS n_stop,
      |  CAST(len(list_distinct(list_filter(string_split(text, ' '), x -> x != ''))) AS BIGINT) AS n_distinct
      | FROM documents),
      |r AS (
      | SELECT doc_id, n_words, concat_ws(',',
      |   CASE WHEN n_words < 20 THEN 'too_short' END,
      |   CASE WHEN n_wchars * 10 < n_words * 40
      |     OR n_wchars * 10 > n_words * 50 THEN 'word_len' END,
      |   CASE WHEN n_stop < 2 THEN 'low_stopword' END,
      |   CASE WHEN n_distinct * 5 < n_words * 2 THEN 'repetitive' END) AS failed_rules
      | FROM sig)
      |SELECT doc_id, n_words, failed_rules = '' AS keep, failed_rules FROM r""".stripMargin

  // ---------------------------------------------------------------------
  // tx22: per-SOURCE rule drift — tx21 rolled up by crawl source: keep
  // rate (per-mille) and per-rule firing counts for every source, the
  // "which feed went bad" dashboard a curation pipeline watches
  // release-over-release (a source whose keep rate drops or whose
  // repetitive-rule count spikes gets quarantined before it poisons the
  // mix). One hash join of tx21's per-doc verdicts back to the source
  // column, one |sources|-group rollup — all integers. Rule attribution
  // parses the reason string tx21 logs (names are prefix-free, so
  // substring containment is exact).
  // ---------------------------------------------------------------------
  def tx22RuleDrift(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    def fired(rule: String) =
      sum(when(col("failed_rules").contains(rule), 1L).otherwise(0L))
    tx21RuleFilter(s, dir)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
        fired("too_short").as("n_too_short"),
        fired("word_len").as("n_word_len"),
        fired("low_stopword").as("n_low_stopword"),
        fired("repetitive").as("n_repetitive"))
      .withColumn("keep_pm", expr("(n_keep * 1000) div n_docs"))
  }

  val tx22Oracle: String =
    s"""WITH r AS (SELECT * FROM ($tx21Oracle) x),
       |j AS (SELECT r.*, d.source FROM r JOIN documents d USING (doc_id))
       |SELECT source, COUNT(*) AS n_docs,
       | CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       | CAST(SUM(CASE WHEN contains(failed_rules, 'too_short') THEN 1 ELSE 0 END) AS BIGINT) AS n_too_short,
       | CAST(SUM(CASE WHEN contains(failed_rules, 'word_len') THEN 1 ELSE 0 END) AS BIGINT) AS n_word_len,
       | CAST(SUM(CASE WHEN contains(failed_rules, 'low_stopword') THEN 1 ELSE 0 END) AS BIGINT) AS n_low_stopword,
       | CAST(SUM(CASE WHEN contains(failed_rules, 'repetitive') THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive,
       | (CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) * 1000) // COUNT(*) AS keep_pm
       |FROM j GROUP BY source""".stripMargin

  // ---------------------------------------------------------------------
  // tx23: BM25 retrieval — the lexical search mode over the corpus (eval-
  // set mining, "find the docs about X" curation probes, and the sparse
  // half of hybrid retrieval next to the ss ANN tier). Okapi BM25 with
  // k1 = 1.2, b = 0.75, idf = ln((N+1)/(df+1)) (tx15's positive-idf
  // convention), top-10 docs per query.
  //
  // Scale shape: the corpus contributes exactly the postings build — the
  // one (doc, term) shuffle tf/df/dl all derive from with map-side
  // partials (tx15's plan). The QUERY side is a handful of literal terms
  // broadcast against the postings, so scoring touches only matching
  // postings, never the corpus; N/Σdl ride a broadcast 1-row cross join
  // and the per-query top-k is a WindowGroupLimit rank-limit.
  //
  // Determinism: each per-(query,doc,term) BM25 contribution is ONE
  // double expression written identically in both engines, rounded to
  // integer ten-thousandths BEFORE summing — so the per-doc score is an
  // order-independent BIGINT sum and the ranking carries no float
  // ambiguity (the same trick that makes tx16's percentiles exact;
  // per-term rounding noise is ≤1 ulp of libm ln, same exposure tx15
  // accepted).
  // ---------------------------------------------------------------------
  private val bm25K = 10
  private[operators] val bm25Queries: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("hash", "join"),
    2 -> Seq("window", "batch"),
    3 -> Seq("vector", "scan", "slow"),
    4 -> Seq("spark", "stream"))

  /** BM25-ranked (qid, doc_id, rnk, n_terms_hit, score_x10k) for the
    * literal query set, unfiltered — tx23 serves the top-k directly,
    * tx25 fuses the ranks with the dense tier. */
  private[operators] def bm25Ranked(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir, "documents")
    val qterms = broadcast(
      bm25Queries.flatMap { case (q, ts) => ts.map(t => (q, t)) }
        .toDF("qid", "tok"))
    // tf feeds THREE derivations (doc lengths, document frequencies, and
    // the postings probe) — localCheckpoint cuts the DAG so the corpus is
    // tokenized and (doc, term)-shuffled exactly once, not three times
    val tf = docs.select(col("doc_id"),
        explode(expr("filter(split(lower(text), ' '), x -> x != '')")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      .transform(pin)
    val dls = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val stats = dls.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val contrib =
      log((col("n_docs").cast("double") + lit(1.0)) /
          (col("df").cast("double") + lit(1.0))) *
        (col("tf").cast("double") * lit(2.2) /
          (col("tf").cast("double") + lit(1.2) *
            (lit(0.25) + lit(0.75) * col("dl").cast("double") *
              col("n_docs").cast("double") / col("sum_dl").cast("double"))))
    val scored = tf.join(qterms, Seq("tok"))
      .join(df, Seq("tok"))
      .join(dls, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("c_x10k", round(contrib * lit(10000), 0).cast("long"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(count(lit(1)).as("n_terms_hit"), sum(col("c_x10k")).as("score_x10k"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score_x10k").desc, col("doc_id").asc)
    scored.withColumn("rnk", row_number().over(w))
  }

  def tx23Bm25(s: SparkSession, dir: String): DataFrame =
    bm25Ranked(s, dir).filter(col("rnk") <= bm25K)
      .select(col("qid"), col("doc_id"), col("rnk"), col("n_terms_hit"),
        col("score_x10k"))

  /** The shared oracle CTE chain ending in `ranked` — tx23's and tx25's
    * lexical side are the SAME SQL text, so they cannot drift. */
  private val bm25RankedSql: String = {
    val qvals = bm25Queries
      .flatMap { case (q, ts) => ts.map(t => s"($q, '$t')") }.mkString(", ")
    s"""qt(qid, tok) AS (VALUES $qvals),
       |toks AS (
       | SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), x -> x != '')) AS tok
       | FROM documents),
       |tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
       |dls AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
       |df AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dls),
       |hits AS (
       | SELECT qt.qid, tf.doc_id,
       |  CAST(round(
       |   ln((CAST(n_docs AS DOUBLE) + 1.0) / (CAST(df AS DOUBLE) + 1.0)) *
       |    (CAST(tf AS DOUBLE) * 2.2 /
       |     (CAST(tf AS DOUBLE) + 1.2 *
       |      (0.25 + 0.75 * CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE) / CAST(sum_dl AS DOUBLE))))
       |   * 10000) AS BIGINT) AS c_x10k
       | FROM tf JOIN qt USING (tok) JOIN df USING (tok)
       |  JOIN dls USING (doc_id) CROSS JOIN st),
       |sc AS (
       | SELECT qid, doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
       |  CAST(SUM(c_x10k) AS BIGINT) AS score_x10k
       | FROM hits GROUP BY 1, 2),
       |ranked AS (
       | SELECT qid, doc_id, n_terms_hit, score_x10k,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY qid
       |   ORDER BY score_x10k DESC, doc_id ASC) AS INT) AS rnk
       | FROM sc)""".stripMargin
  }

  val tx23Oracle: String =
    s"""WITH $bm25RankedSql
       |SELECT qid, doc_id, rnk, n_terms_hit, score_x10k
       |FROM ranked WHERE rnk <= $bm25K""".stripMargin

  // ---------------------------------------------------------------------
  // tx24: tokenizer FERTILITY report — tokens-per-word and chars-per-
  // token by language, the standard tokenizer-efficiency eval (a
  // tokenizer that fragments one language into 2× the tokens of another
  // doubles that language's effective sequence cost; fertility is the
  // number tokenizer papers report per language). Uses tx11's BPE-ish
  // pretokenizer as the token stream and whitespace words as the
  // denominator. One corpus scan, one |langs|-row hash aggregate with
  // map-side partials; all-integer per-mille ratios (non-negative, so
  // Spark div and DuckDB // agree) — hash-exact.
  // ---------------------------------------------------------------------
  def tx24Fertility(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    docs.select(col("lang"),
        size(expr("filter(split(text, ' '), x -> x != '')")).cast("long").as("n_ws"),
        size(expr(
          "regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
          .cast("long").as("n_bpe"),
        col("n_chars"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_ws")).as("sum_ws_tokens"),
        sum(col("n_bpe")).as("sum_bpe_tokens"),
        sum(col("n_chars")).as("sum_chars"))
      .select(col("lang"), col("n_docs"), col("sum_ws_tokens"),
        col("sum_bpe_tokens"), col("sum_chars"),
        expr("(sum_bpe_tokens * 1000) div sum_ws_tokens").as("fertility_pm"),
        expr("(sum_chars * 1000) div sum_bpe_tokens").as("chars_per_tok_pm"))
  }

  val tx24Oracle: String =
    """WITH t AS (
      | SELECT lang,
      |  CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS BIGINT) AS n_ws,
      |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe,
      |  n_chars
      | FROM documents)
      |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      | CAST(SUM(n_ws) AS BIGINT) AS sum_ws_tokens,
      | CAST(SUM(n_bpe) AS BIGINT) AS sum_bpe_tokens,
      | CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      | (CAST(SUM(n_bpe) AS BIGINT) * 1000) // CAST(SUM(n_ws) AS BIGINT) AS fertility_pm,
      | (CAST(SUM(n_chars) AS BIGINT) * 1000) // CAST(SUM(n_bpe) AS BIGINT) AS chars_per_tok_pm
      |FROM t GROUP BY lang""".stripMargin

  // ---------------------------------------------------------------------
  // tx25: HYBRID retrieval — reciprocal-rank fusion (Cormack et al.,
  // SIGIR'09: RRF(d) = Σ_sides 1/(60 + rank_side(d))) of the two search
  // modes this engine already serves: tx23's BM25 lexical ranks and a
  // dense inner-product rank over the embedding tier (each lexical query
  // qid probes with vector 100·qid — the eval convention that pairs the
  // literal terms with an embedding-space probe). RRF is THE standard
  // fusion because it needs no score calibration — only ranks — which
  // also makes it hash-exact here: each side's contribution is the
  // integer 1000000 div (60 + rank) over the side's top-10, summed, so
  // no float ever enters the fused ordering (dense ranks come from the
  // exact integer dot product — MIPS ranking — not the float cosine).
  //
  // Scale shape: the lexical side is tx23's postings plan unchanged; the
  // dense side is a 4-probe broadcast against the corpus (the exact
  // baseline — a production stack swaps in the ss05/ss32 index probes,
  // same (qid, doc_id, rank) contract); fusion itself touches only
  // 2 × top-10 rows per query — a full-outer join on (qid, doc_id) of
  // two k-row lists, then a k-row window.
  // ---------------------------------------------------------------------
  def tx25HybridRrf(s: SparkSession, dir: String): DataFrame = {
    val lex = bm25Ranked(s, dir).filter(col("rnk") <= bm25K)
      .select(col("qid"), col("doc_id"), col("rnk").as("lex_rnk"))
    val base = Similarity.qvec(s, dir)
    val qs = base
      .filter(col("vec_id") % 100 === 0 && col("vec_id").between(100, 400))
      .select(expr("CAST(vec_id div 100 AS INT)").as("qid"),
        col("vec_id").as("qvid"), col("v").as("v1"))
    val cand = base.select(col("vec_id").as("doc_id"), col("v").as("v2"))
    val wd = Window.partitionBy(col("qid"))
      .orderBy(col("dot").desc, col("doc_id").asc)
    val dense = cand.join(broadcast(qs), col("doc_id") =!= col("qvid"))
      .withColumn("dot", expr("dot_l(v1, v2)"))
      .withColumn("dense_rnk", row_number().over(wd))
      .filter(col("dense_rnk") <= bm25K)
      .select(col("qid"), col("doc_id"), col("dense_rnk"))
    val wf = Window.partitionBy(col("qid"))
      .orderBy(col("rrf_x1m").desc, col("doc_id").asc)
    lex.join(dense, Seq("qid", "doc_id"), "full_outer")
      .withColumn("rrf_x1m",
        coalesce(expr("CAST(1000000 div (60 + lex_rnk) AS BIGINT)"), lit(0L)) +
          coalesce(expr("CAST(1000000 div (60 + dense_rnk) AS BIGINT)"), lit(0L)))
      .withColumn("rnk", row_number().over(wf))
      .filter(col("rnk") <= bm25K)
      .select(col("qid"), col("doc_id"), col("lex_rnk"), col("dense_rnk"),
        col("rrf_x1m"), col("rnk"))
  }

  // ---------------------------------------------------------------------
  // tx26: ZIPF rank-frequency FIT — the corpus-statistics sanity report
  // (natural text follows freq ∝ rank^(-s) with s ≈ 1; synthetic spam,
  // template boilerplate, and broken extractions bend the log-log line,
  // so the fitted slope is a cheap corpus-health indicator next to
  // tx02's per-doc quality). Least-squares over (ln rank, ln freq) of
  // the top `zipfTop` terms. Determinism: each term's ln-products are
  // rounded to integer ten-thousandths BEFORE the sums (tx23's trick —
  // float addition order never matters), and the slope ships as the
  // EXACT integer fraction (num, den), cc16's convention, because the
  // numerator is negative and Spark `div` vs DuckDB `//` disagree on
  // negatives. slope = num/den; den > 0 always (Cauchy–Schwarz).
  //
  // Scale shape: one corpus tokenize + count (map-side partials), a
  // top-1000 TakeOrdered over the vocabulary, and a 1000-row window +
  // single-row aggregate — corpus pays one pass.
  // ---------------------------------------------------------------------
  private val zipfTop = 1000

  def tx26ZipfFit(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val freq = docs
      .select(explode(expr("filter(split(text, ' '), x -> x != '')")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc).limit(zipfTop)
    val w = Window.orderBy(col("n").desc, col("token").asc)
    freq.withColumn("rnk", row_number().over(w))
      .select(
        expr("CAST(round(ln(rnk) * 10000) AS BIGINT)").as("xi"),
        expr("CAST(round(ln(n) * 10000) AS BIGINT)").as("yi"),
        expr("CAST(round(ln(rnk) * ln(n) * 10000) AS BIGINT)").as("xyi"),
        expr("CAST(round(ln(rnk) * ln(rnk) * 10000) AS BIGINT)").as("xxi"))
      .agg(count(lit(1)).as("n_terms"), sum(col("xi")).as("s_x"),
        sum(col("yi")).as("s_y"), sum(col("xyi")).as("s_xy"),
        sum(col("xxi")).as("s_xx"))
      .select(col("n_terms"), col("s_x"), col("s_y"), col("s_xy"), col("s_xx"),
        (col("n_terms") * col("s_xy") * 10000L - col("s_x") * col("s_y"))
          .as("slope_num"),
        (col("n_terms") * col("s_xx") * 10000L - col("s_x") * col("s_x"))
          .as("slope_den"))
  }

  val tx26Oracle: String =
    s"""WITH freq AS (
       | SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM (
       |  SELECT unnest(list_filter(string_split(text, ' '), x -> x != '')) AS token
       |  FROM documents) t
       | GROUP BY token ORDER BY n DESC, token ASC LIMIT $zipfTop),
       |ranked AS (
       | SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, token ASC) AS rnk
       | FROM freq),
       |terms AS (
       | SELECT CAST(round(ln(rnk) * 10000) AS BIGINT) AS xi,
       |  CAST(round(ln(n) * 10000) AS BIGINT) AS yi,
       |  CAST(round(ln(rnk) * ln(n) * 10000) AS BIGINT) AS xyi,
       |  CAST(round(ln(rnk) * ln(rnk) * 10000) AS BIGINT) AS xxi
       | FROM ranked),
       |sums AS (
       | SELECT CAST(COUNT(*) AS BIGINT) AS n_terms, CAST(SUM(xi) AS BIGINT) AS s_x,
       |  CAST(SUM(yi) AS BIGINT) AS s_y, CAST(SUM(xyi) AS BIGINT) AS s_xy,
       |  CAST(SUM(xxi) AS BIGINT) AS s_xx
       | FROM terms)
       |SELECT n_terms, s_x, s_y, s_xy, s_xx,
       | n_terms * s_xy * 10000 - s_x * s_y AS slope_num,
       | n_terms * s_xx * 10000 - s_x * s_x AS slope_den
       |FROM sums""".stripMargin

  val tx25Oracle: String =
    s"""WITH $bm25RankedSql,
       |${Similarity.qvecSql},
       |lex AS (SELECT qid, doc_id, rnk AS lex_rnk FROM ranked WHERE rnk <= $bm25K),
       |dq AS (
       | SELECT CAST(vec_id // 100 AS INT) AS qid, vec_id AS qvid, v
       | FROM qn WHERE vec_id % 100 = 0 AND vec_id BETWEEN 100 AND 400),
       |dsc AS (
       | SELECT dq.qid, c.vec_id AS doc_id,
       |  CAST(list_sum(list_transform(range(1, len(dq.v) + 1), i -> dq.v[i] * c.v[i])) AS BIGINT) AS dot
       | FROM dq JOIN qn c ON c.vec_id != dq.qvid),
       |den AS (
       | SELECT qid, doc_id, dense_rnk FROM (
       |  SELECT qid, doc_id, CAST(ROW_NUMBER() OVER (PARTITION BY qid
       |    ORDER BY dot DESC, doc_id ASC) AS INT) AS dense_rnk
       |  FROM dsc) t WHERE dense_rnk <= $bm25K),
       |fus AS (
       | SELECT COALESCE(l.qid, d.qid) AS qid,
       |  COALESCE(l.doc_id, d.doc_id) AS doc_id, l.lex_rnk, d.dense_rnk,
       |  COALESCE(CAST(1000000 // (60 + l.lex_rnk) AS BIGINT), 0) +
       |  COALESCE(CAST(1000000 // (60 + d.dense_rnk) AS BIGINT), 0) AS rrf_x1m
       | FROM lex l FULL JOIN den d ON l.qid = d.qid AND l.doc_id = d.doc_id)
       |SELECT qid, doc_id, lex_rnk, dense_rnk, rrf_x1m, rnk FROM (
       | SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid
       |   ORDER BY rrf_x1m DESC, doc_id ASC) AS INT) AS rnk
       | FROM fus) t WHERE rnk <= $bm25K""".stripMargin

  // ---------------------------------------------------------------------
  // tx27: EDIT-DISTANCE-1 string join via DELETION NEIGHBORHOODS (FastSS,
  // Bocek et al. 2007; the symmetric-delete scheme behind SymSpell) —
  // the entity-resolution primitive that finds "Customer#000000410" vs
  // "Customer#000000416"-style single-keystroke variants WITHOUT the
  // O(|V|²) brute-force Levenshtein matrix a naive dataflow would build.
  // Each distinct name generates |w|+1 keys (itself + every one-char
  // deletion); two names are within edit distance 1 iff they share a
  // key — complete by case analysis (insert/delete: the shorter IS one
  // of the longer's deletions; substitute: both delete the substituted
  // position) — so the hash join on keys is a LOSSLESS candidate
  // generator and the exact levenshtein() probe only confirms or drops
  // (shared-key pairs can still be distance 2: e.g. a transposition).
  //
  // Scale shape: the key index is O(Σ|w|) rows; candidates are bounded
  // by per-key bucket collisions, never |V|²; levenshtein runs once per
  // candidate. Both engines implement the same classic DP levenshtein,
  // and the verdict (≤ 1) is integer.
  // ---------------------------------------------------------------------
  def tx27Edit1Pairs(s: SparkSession, dir: String): DataFrame = {
    val v = Tables(s, dir, "customer").select(col("c_name").as("w")).distinct()
    // join on the 64-bit hash of the deletion key, not the key string
    // (r14, guide §2.3 "narrower types"): the key index shuffles 8-byte
    // hashes instead of |w|+1-char strings, and the hash join compares
    // longs. Result-identical: FastSS completeness puts every true edit-1
    // pair on a SHARED key (hence equal hashes), and the exact
    // levenshtein confirm below already screens every candidate — a hash
    // collision can only admit a candidate the confirm re-judges, and any
    // pair passing lev ≤ 1 belongs in the answer by definition.
    // the deletion-variant build + per-variant dedup + hash is one
    // codegen'd pass (del1_hashes, r15 guide §4) — previously an
    // interpreted transform/concat/substring lambda per character plus an
    // array_distinct and a separate xxhash64 per exploded variant. Hash
    // values identical (same xxhash64 seed 42 over the same key strings);
    // dedup moves from key strings to key hashes, which the confirm +
    // distinct below make indistinguishable.
    graft.functions.VectorFunctions.register(s)
    val vr = v.select(col("w"), explode(expr("del1_hashes(w)")).as("vr"))
    vr.as("a").join(vr.as("b"),
        col("a.vr") === col("b.vr") && col("a.w") < col("b.w"))
      .select(col("a.w").as("w1"), col("b.w").as("w2"))
      // the natural predicate; RewriteBoundedLevenshtein turns it into
      // the early-exit threshold form levenshtein(w1, w2, 1) >= 0 —
      // O(|w|) per pair instead of O(|w|²) (PlanShapeSpec pins this).
      // Confirm BEFORE the pair dedup (r14, guide §2.3 "aggregate before
      // you shuffle" inverted: filter before you shuffle): key-collision
      // multiplicity is ~1.02 (977k raw vs 956k distinct pairs at
      // sf0.1), so running the O(|w|) confirm on the raw stream costs
      // ~2% extra evals and shrinks the distinct's exchange to the
      // 262k survivors instead of 956k candidates.
      .filter(levenshtein(col("w1"), col("w2")) <= 1)
      .distinct()
  }

  val tx27Oracle: String =
    """WITH v AS (SELECT DISTINCT c_name AS w FROM customer),
      |var AS (
      | SELECT w, unnest(list_distinct(list_append(
      |   list_transform(generate_series(1, length(w)),
      |     i -> substr(w, 1, i - 1) || substr(w, i + 1)), w))) AS vr
      | FROM v),
      |cand AS (
      | SELECT DISTINCT a.w AS w1, b.w AS w2
      | FROM var a JOIN var b ON a.vr = b.vr AND a.w < b.w)
      |SELECT w1, w2 FROM cand WHERE levenshtein(w1, w2) <= 1""".stripMargin

  // ---------------------------------------------------------------------
  // tx28: BOILERPLATE-PREFIX detection per source — "does every page
  // from this crawl start with the same header?", the template-
  // stripping prerequisite of web curation. The trick that makes it one
  // aggregate instead of a per-source all-pairs fold: the longest
  // common prefix of a SET of strings equals lcp(min, max) under
  // binary (code-point) ordering — the lexicographic extremes bracket
  // every other member, so any divergence between ANY pair shows up in
  // the extremes first. Two map-side MIN/MAX aggregates over the
  // corpus; the per-row lcp scan then runs on |sources| rows only.
  // Both engines compare strings bytewise here (ASCII corpus;
  // DuckDB default collation and Spark UTF8String order agree).
  // ---------------------------------------------------------------------
  def tx28BoilerplatePrefix(s: SparkSession, dir: String): DataFrame = {
    val ext = Tables(s, dir, "documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("text")).as("lo"), max(col("text")).as("hi"))
    // first mismatch position over the dictionary-sized extremes table
    ext.withColumn("lim", least(length(col("lo")), length(col("hi"))).cast("long"))
      .withColumn("lcp_len", coalesce(
        expr("""filter(sequence(1L, lim),
               |  i -> substring(lo, cast(i as int), 1) != substring(hi, cast(i as int), 1))[0]""".stripMargin) - 1L,
        col("lim")))
      .select(col("source"), col("n_docs"), col("lcp_len"),
        expr("substring(lo, 1, cast(least(lcp_len, 64L) as int))").as("prefix64"))
  }

  val tx28Oracle: String =
    """WITH ext AS (
      | SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  MIN(text) AS lo, MAX(text) AS hi
      | FROM documents GROUP BY 1),
      |l AS (
      | SELECT source, n_docs, lo, hi,
      |  CAST(LEAST(length(lo), length(hi)) AS BIGINT) AS lim
      | FROM ext),
      |p AS (
      | SELECT source, n_docs, lo, lim,
      |  COALESCE(list_filter(generate_series(1, lim),
      |    i -> substr(lo, CAST(i AS INT), 1) != substr(hi, CAST(i AS INT), 1))[1] - 1,
      |   lim) AS lcp_len
      | FROM l)
      |SELECT source, n_docs, CAST(lcp_len AS BIGINT) AS lcp_len,
      | substr(lo, 1, CAST(LEAST(lcp_len, 64) AS INT)) AS prefix64
      |FROM p""".stripMargin

  // ---------------------------------------------------------------------
  // tx29: LANGUAGE DIVERSITY per source — the Gini-Simpson index
  // 1 − Σ(n_l/n)², the EXACT-RATIONAL diversity metric (Shannon entropy
  // needs logs two engines' libm won't reproduce bit-for-bit; Simpson's
  // probability-of-different-languages form is pure integer algebra):
  // served as num = n² − Σn_l², den = n², plus the inverse-Simpson
  // "effective language count" n²/Σn_l² as a second rational — the
  // ecology-standard pair a corpus-mixture monitor tracks per source.
  // One dictionary-sized (source, lang) count pass.
  // ---------------------------------------------------------------------
  def tx29Diversity(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "documents")
      .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("nl"))
    c.groupBy(col("source"))
      .agg(sum(col("nl")).as("n"), sum(col("nl") * col("nl")).as("s2"),
        count(lit(1)).as("n_langs"))
      .select(col("source"), col("n"), col("n_langs"),
        (col("n") * col("n") - col("s2")).as("gs_num"),
        (col("n") * col("n")).as("gs_den"))
      .withColumn("gini_simpson",
        col("gs_num").cast("double") / col("gs_den"))
      .withColumn("effective_langs",
        col("gs_den").cast("double") / (col("gs_den") - col("gs_num")))
  }

  val tx29Oracle: String =
    """WITH c AS (
      | SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS nl
      | FROM documents GROUP BY 1, 2),
      |a AS (
      | SELECT source, CAST(SUM(nl) AS BIGINT) AS n,
      |  CAST(SUM(nl * nl) AS BIGINT) AS s2,
      |  CAST(COUNT(*) AS BIGINT) AS n_langs
      | FROM c GROUP BY 1)
      |SELECT source, n, n_langs,
      | n * n - s2 AS gs_num, n * n AS gs_den,
      | CAST(n * n - s2 AS DOUBLE) / (n * n) AS gini_simpson,
      | CAST(n * n AS DOUBLE) / (n * n - (n * n - s2)) AS effective_langs
      |FROM a""".stripMargin

  val queries: Map[String, Q] = Map(
    "tx29_diversity" -> (tx29Diversity _),
    "tx28_boilerplate_prefix" -> (tx28BoilerplatePrefix _),
    "tx27_edit1_pairs" -> (tx27Edit1Pairs _),
    "tx23_bm25" -> (tx23Bm25 _),
    "tx25_hybrid_rrf" -> (tx25HybridRrf _),
    "tx26_zipf_fit" -> (tx26ZipfFit _),
    "tx24_fertility" -> (tx24Fertility _),
    "tx22_rule_drift" -> (tx22RuleDrift _),
    "tx21_rule_filter" -> (tx21RuleFilter _),
    "q25_posexplode_filtered" -> (q25PosexplodeFiltered _),
    "tx20_ngram_novelty" -> (tx20NgramNovelty _),
    "tx18_vocab_growth" -> (tx18VocabGrowth _),
    "tx19_collocations" -> (tx19Collocations _),
    "q26_quantity_parse" -> (q26QuantityParse _),
    "tx01_langid" -> (tx01LangId _),
    "tx02_quality" -> (tx02Quality _),
    "tx03_token_count" -> (tx03TokenCount _),
    "tx04_fingerprint" -> (tx04Fingerprint _),
    "tx05_normalize" -> (tx05Normalize _),
    "tx06_pii_scrub" -> (tx06PiiScrub _),
    "tx07_repetition" -> (tx07Repetition _),
    "tx08_top_terms" -> (tx08TopTerms _),
    "tx09_oov_rate" -> (tx09OovRate _),
    "tx10_bpe_pairs" -> (tx10BpePairs _),
    "tx11_bpe_token_count" -> (tx11BpeTokenCount _),
    "tx12_bpe_merge_apply" -> (tx12BpeMergeApply _),
    "tx13_bpe_merge_table" -> (tx13BpeMergeTable _),
    "tx14_lm_score" -> (tx14LmScore _),
    "tx15_tfidf" -> (tx15Tfidf _),
    "tx16_length_percentiles" -> (tx16LengthPercentiles _),
    "tx17_langid_confusion" -> (tx17LangidConfusion _))

  val oracles: Map[String, String] = Map(
    "tx29_diversity" -> tx29Oracle,
    "tx28_boilerplate_prefix" -> tx28Oracle,
    "tx27_edit1_pairs" -> tx27Oracle,
    "tx23_bm25" -> tx23Oracle,
    "tx25_hybrid_rrf" -> tx25Oracle,
    "tx26_zipf_fit" -> tx26Oracle,
    "tx24_fertility" -> tx24Oracle,
    "tx22_rule_drift" -> tx22Oracle,
    "tx21_rule_filter" -> tx21Oracle,
    "q25_posexplode_filtered" -> q25Oracle,
    "tx20_ngram_novelty" -> tx20Oracle,
    "tx18_vocab_growth" -> tx18Oracle,
    "tx19_collocations" -> tx19Oracle,
    "q26_quantity_parse" -> q26Oracle,
    "tx01_langid" -> tx01Oracle,
    "tx02_quality" -> tx02Oracle,
    "tx03_token_count" -> tx03Oracle,
    "tx04_fingerprint" -> tx04Oracle,
    "tx05_normalize" -> tx05Oracle,
    "tx06_pii_scrub" -> tx06Oracle,
    "tx07_repetition" -> tx07Oracle,
    "tx08_top_terms" -> tx08Oracle,
    "tx09_oov_rate" -> tx09Oracle,
    "tx10_bpe_pairs" -> tx10Oracle,
    "tx11_bpe_token_count" -> tx11Oracle,
    "tx12_bpe_merge_apply" -> tx12Oracle,
    "tx13_bpe_merge_table" -> tx13Oracle,
    "tx14_lm_score" -> tx14Oracle,
    "tx15_tfidf" -> tx15Oracle,
    "tx16_length_percentiles" -> tx16Oracle,
    "tx17_langid_confusion" -> tx17Oracle)
}
