package graft.wikidata

import org.apache.spark.sql.SparkSession

/** Deterministic synthetic WikiData-dump generator — scale evidence for the
  * ingest path beyond the 520k-entity/367 MB largest measured run (the real
  * `latest-all.json.bz2` is not downloadable in this environment, so the
  * multi-GB slice is synthesized; reference input format:
  * /root/reference/src/wiki_data_line.rs:336-350 — one JSON entity per line,
  * trailing commas, `[`/`]` wrapper lines).
  *
  * Every entity is a pure function of its index, so any slice is
  * reproducible and the 9-table output counts are a CLOSED FORM of n
  * (DumpGenSpec pins them at small n; the multi-GB run re-checks the same
  * formulas at 10×–100× — a self-verifying scale test, not just a timing).
  * The branch mix per block of 1000 indices:
  *   - i%1000==0   country (P297 iso + 2 active P37 + 1 inactive)
  *   - i%1000==1   language entity (P31→Q34770, P424 code)
  *   - i%1000 2–41 territorial entity (P31→Q56061; even ranks also
  *                 Q10864048 → is_2nd, with P300 iso); P131 parent, P37
  *   - i%1000==42  excluded class (Q131596) — classified out
  *   - i%1000==43  tombstoned city (P1366, no P518) — dropped
  *   - i%1000==44  P1366 WITH P518 qualifier — tombstone exemption, kept
  *   - i%1000==45  human settlement with NO P17 → missing_p17
  *   - i%1000==46  dissolved city (P576) — dropped
  *   - i%1000 47–96 DUAL-TYPED city+TE (P31 carries both classes) with a
  *                 P37 official language — the rows that survive to the
  *                 final cities_languages table, and duplicate label
  *                 emissions exercising the post cleanup's first-wins keys
  *   - i%1000==97  POISON line (truncated mid-escape) — the PERMISSIVE
  *                 parse must skip it; a known budget of 1/1000 lines
  *   - i%1000==98  PATHOLOGY city: unicode-escaped labels (ascii-escaped
  *                 en — same decoded value; escaped real CJK zh-hans), a
  *                 >64 KiB description pad with an escaped surrogate-pair
  *                 emoji, and a 24-level nested unread claim — otherwise a
  *                 plain city, so every closed form is unchanged
  *   - else        plain city: P17 (one active + one P582-expired), P131,
  *                 dated+undated+P518-disqualified P1082 population, P625
  *                 coords (2/3 of cities), en/de/zh-hans labels, P1705
  *                 native label (every 3rd) or P1448 fallback (every 5th)
  * All entity references point at generated entities of the right kind.
  * Lines carry an unread `descriptions` pad so the parser's
  * "touch-only-these-paths" tokenization cost (skipping every field the
  * entity schema does not name) is exercised realistically.
  */
object DumpGen {

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def qid(i: Long): String = s"Q${i + 1}"

  /** Entity index of the k-th country / TE when n entities exist. */
  private def countryIdx(k: Long): Long = k * 1000
  private def teIdx(k: Long): Long = (k / 40) * 1000 + 2 + (k % 40)

  private val isoA = "abcdefghijklmnopqrstuvwxyz"

  private val langCodes = Vector("en", "de", "fr", "es", "pt", "ru", "zh",
    "ja", "ar", "hi", "it", "nl", "pl", "sv", "tr", "ko", "vi", "id", "fa",
    "uk")

  def entityJson(i: Long, n: Long): String = {
    val h = mix(i)
    val m = i % 1000
    // m == 97: POISON line (round-9 — real-dump pathology): a city record
    // truncated mid-escape, as a corrupted chunk boundary would leave it.
    // The PERMISSIVE parser must tokenize-fail it to null id and the
    // extractor must skip it — a KNOWN budget of exactly 1 line per 1000
    // (DumpGenSpec pins parse count == n - blocks and that Q98 reaches no
    // table), so every closed form stays a closed form.
    if (m == 97)
      return s"""{"id":"${qid(i)}","labels":{"en":{"language":"en","value":"Entity $i trunca\\u00"""
    val nCountries = math.max(1L, (n + 999) / 1000)
    val nLangs = nCountries
    val nTes = math.max(1L, (n / 1000) * 40)
    def countryRef = qid(countryIdx(math.abs(h % nCountries)))
    def langRef(s: Long) = qid(countryIdx(math.abs(mix(h + s) % nLangs)) + 1)
    def teRef = qid(teIdx(math.abs(mix(h + 7) % nTes)))
    val sb = new java.lang.StringBuilder(900)
    def claim(p: String, inner: String, quals: String = ""): Unit = {
      sb.append("\"").append(p).append("\":[")
      sb.append(inner)
      if (quals.nonEmpty) { sb.setLength(sb.length - 1); sb.append(",\"qualifiers\":{").append(quals).append("}}") }
      sb.append("],")
    }
    def idSnak(ref: String) =
      s"""{"mainsnak":{"snaktype":"value","datavalue":{"value":{"id":"$ref"}}}}"""
    def strSnak(v: String) =
      s"""{"mainsnak":{"snaktype":"value","datavalue":{"value":"$v"}}}"""
    def timeQual(p: String, t: String) =
      s""""$p":[{"snaktype":"value","datavalue":{"value":{"time":"$t","timezone":0}}}]"""

    sb.append("{\"id\":\"").append(qid(i)).append("\",")
    // labels (read: language+value map) — en always; de/zh-hans on cities.
    // m == 98 is the PATHOLOGY CITY (round-9): its en label arrives
    // unicode-ESCAPED ascii (decodes to the same "Entity <i>" every other
    // city carries — the closed-form label values are untouched), its
    // zh-hans label is escaped real CJK, and below it carries a >64 KiB
    // description pad with an escaped surrogate-pair emoji plus a deeply
    // nested unread claim — the JSON shapes a real dump throws at the
    // tokenizer that the generator previously skipped.
    if (m == 98)
      sb.append("\"labels\":{\"en\":{\"language\":\"en\",\"value\":\"\\u0045ntity ")
        .append(i).append("\"}")
    else
      sb.append("\"labels\":{\"en\":{\"language\":\"en\",\"value\":\"Entity ")
        .append(i).append("\"}")
    if (m >= 47 || m == 44 || m == 45) {
      sb.append(",\"de\":{\"language\":\"de\",\"value\":\"Ort ").append(i).append("\"}")
      if (m == 98)
        sb.append(",\"zh-hans\":{\"language\":\"zh-hans\",\"value\":\"\\u57ce\\u5e02 ")
          .append(i % 997).append("\"}")
      else if (h % 4 == 0)
        sb.append(",\"zh-hans\":{\"language\":\"zh-hans\",\"value\":\"Cs").append(i % 997).append("\"}")
    }
    sb.append("},")
    // unread pad — realistic tokenization load on the PERMISSIVE parser
    sb.append("\"descriptions\":{\"en\":{\"language\":\"en\",\"value\":\"synthetic scale-test entity number ")
      .append(i).append(" block ").append(i / 1000)
      .append(" generated deterministically for the multi-GB ingest measurement")
    if (m == 98) {
      // >64 KiB line: 1100 × 64-char units + an escaped surrogate pair —
      // the splitter and parser must stream past it (unread path)
      sb.append(" \\uD83D\\uDE00 ")
      val unit = "padding-unit-0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKL "
      for (_ <- 1 to 1100) sb.append(unit)
    }
    sb.append("\"}},")
    sb.append("\"claims\":{")
    m match {
      case 0 => // country
        val cIso = "" + isoA.charAt(((i / 1000) % 26).toInt) + isoA.charAt(((i / 1000 / 26) % 26).toInt)
        claim("P297", strSnak(cIso.toUpperCase))
        claim("P31", idSnak("Q6256"))
        // two DISTINCT active languages (consecutive language blocks), so
        // the first-wins (id, lang_id) dedup leaves exactly 2 rows/country
        val la = math.abs(h % nLangs)
        val lb = (la + 1) % nLangs
        sb.append("\"P37\":[").append(idSnak(qid(countryIdx(la) + 1))).append(",")
          .append(idSnak(qid(countryIdx(lb) + 1))).append(",")
          // expired third language — active() must drop it
          .append(idSnak(langRef(3)))
        sb.setLength(sb.length - 1)
        sb.append(",\"qualifiers\":{").append(timeQual("P582", "+1990-01-01T00:00:00Z")).append("}}],")
      case 1 => // language entity — REAL Wikimedia codes, so the post
        // phase's prefix-language cascade (C7/C14) has matches to resolve
        // against the cities' en/de/zh-hans/fr/es labels at scale
        claim("P31", idSnak("Q34770"))
        claim("P424", strSnak(langCodes(((i / 1000) % langCodes.length).toInt)))
      case mm if mm >= 2 && mm <= 41 => // territorial entity
        val is2nd = mm % 2 == 0
        sb.append("\"P31\":[").append(idSnak("Q56061"))
        if (is2nd) sb.append(",").append(idSnak("Q10864048"))
        sb.append("],")
        if (is2nd) claim("P300", strSnak(s"XX-${i % 97}"))
        claim("P131", idSnak(teRef))
        claim("P37", idSnak(langRef(4)))
      case 42 => // excluded class: city-shaped but classified out
        claim("P31", idSnak("Q131596"))
        claim("P17", idSnak(countryRef))
      case 43 => // tombstoned: P1366 without P518 → dropped entirely
        claim("P31", idSnak("Q486972"))
        claim("P1366", idSnak(qid((i + 1000) % n)))
        claim("P17", idSnak(countryRef))
      case 46 => // dissolved: P576 → dropped
        claim("P31", idSnak("Q486972"))
        claim("P576",
          s"""{"mainsnak":{"snaktype":"value","datavalue":{"value":{"time":"+2001-05-05T00:00:00Z","timezone":0}}}}""")
        claim("P17", idSnak(countryRef))
      case mm => // 44 (exempted tombstone), 45 (missing P17), 47+ plain city
        // 47–96: DUAL-TYPED city+TE (a city that is also a municipality —
        // the common real-world case): both branches fire, the entity gets
        // a te row, P37-derived object_languages (the rows that survive to
        // the final cities_languages table), and duplicate label emissions
        // that the post cleanup's first-wins keying must collapse
        val dual = mm >= 47 && mm <= 96
        if (dual) {
          sb.append("\"P31\":[").append(idSnak("Q486972")).append(",")
            .append(idSnak("Q56061")).append("],")
          claim("P37", idSnak(langRef(5)))
        } else claim("P31", idSnak("Q486972"))
        if (mm == 44)
          claim("P1366", idSnak(qid((i + 1000) % n)),
            s""""P518":[{"snaktype":"value","datavalue":{"value":"Q0"}}]""")
        if (mm != 45) {
          // two P17s: [0] expired (P582 past) → priority falls to 1001
          sb.append("\"P17\":[").append(idSnak(countryRef))
          sb.setLength(sb.length - 1)
          sb.append(",\"qualifiers\":{").append(timeQual("P582", "+1980-06-15T00:00:00Z")).append("}},")
            .append(idSnak(countryRef)).append("],")
        }
        claim("P131", idSnak(teRef))
        // population: undated base, dated larger (argmax must pick it),
        // and a P518-disqualified huge one (must be excluded)
        val pop = math.abs(h % 1000000L) + 50
        sb.append("\"P1082\":[")
          .append(s"""{"mainsnak":{"snaktype":"value","datavalue":{"value":{"amount":"+$pop","unit":"1"}}}},""")
          .append(s"""{"mainsnak":{"snaktype":"value","datavalue":{"value":{"amount":"+${pop * 2}","unit":"1"}}},"qualifiers":{${timeQual("P585", "+2015-01-01T00:00:00Z")}}},""")
          .append(s"""{"mainsnak":{"snaktype":"value","datavalue":{"value":{"amount":"+${pop * 100}","unit":"1"}}},"qualifiers":{"P518":[{"snaktype":"value","datavalue":{"value":"Q0"}}]}}],""")
        if (h % 3 != 0) {
          val lat = (math.abs(mix(h + 11)) % 1800000L) / 10000.0 - 90.0
          val lon = (math.abs(mix(h + 13)) % 3600000L) / 10000.0 - 180.0
          claim("P625",
            s"""{"mainsnak":{"snaktype":"value","datavalue":{"value":{"latitude":$lat,"longitude":$lon}}}}""")
        }
        if (mm == 98) {
          // deeply nested UNREAD claim (24 levels of array/object) — the
          // explicit-schema PERMISSIVE parse must stream past it without
          // touching the read paths
          val deep = new java.lang.StringBuilder("1")
          for (_ <- 1 to 24) { deep.insert(0, "{\"a\":["); deep.append("]}") }
          claim("P9999",
            s"""{"mainsnak":{"snaktype":"value","datavalue":{"value":$deep}}}""")
        }
        if (h % 3 == 0)
          claim("P1705",
            s"""{"mainsnak":{"snaktype":"value","datavalue":{"value":{"text":"Ville $i","language":"fr"}}}}""")
        else if (h % 5 == 0)
          claim("P1448",
            s"""{"mainsnak":{"snaktype":"value","datavalue":{"value":{"text":"Oficial $i","language":"es"}}}}""")
    }
    if (sb.charAt(sb.length - 1) == ',') sb.setLength(sb.length - 1)
    sb.append("}},") // trailing comma: the sanitizer's job (A7)
    sb.toString
  }

  /** args: <nEntities> <outDir> [numFiles]. Lines carry the dump's
    * trailing commas; the `[`/`]` wrapper lines are already covered by
    * ExtractSpec's sanitizer fixtures, so the generator emits pure
    * comma-terminated NDJSON (what a dump slice looks like mid-file). */
  def main(args: Array[String]): Unit = {
    val n = args(0).toLong
    val out = args(1)
    val files = if (args.length > 2) args(2).toInt
      else Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("dump-gen").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val t0 = System.nanoTime()
    spark.range(0, n, 1, files)
      .map(i => DumpGen.entityJson(i, n))
      .write.mode("overwrite").text(out)
    println(f"[dumpgen] wrote $n entities to $out in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    spark.stop()
  }
}
