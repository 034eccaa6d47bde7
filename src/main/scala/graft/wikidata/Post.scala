package graft.wikidata

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Relational

/** Post-processing: the reference's 10 sequential SQL stages plus 9 cleanup
  * scripts (reference src/post/mod.rs:114-190), re-expressed as
  * DataFrame transformations (SURVEY §3.3): per-key candidates joined once;
  * cascade order is a coalesce.
  *
  * Key re-designs (SURVEY C16, §7.4):
  *  - UPDATE-in-place becomes left-join + coalesce. Each stage's candidate
  *    depends only on its key (the city id for stages 3-6, the 2nd_id for
  *    stages 7-11), so every stage is computed once for every key and the
  *    "fill only rows the previous stage left NULL" order (C14) is a
  *    `coalesce` over the candidates in stage order.
  *  - The reference's per-row recursive-CTE driver loops (per_city.sql /
  *    per_subdivision.sql, one UPDATE per cursor row) become ONE closure
  *    from every city and every is_2nd TE, shared by stages 2, 4 and 8,
  *    plus one window pass per stage. The closure walks the broadcast
  *    TE→TE sub-graph inside executor tasks, so it costs the same few
  *    Spark jobs on a shallow tree and on a cyclic hierarchy walked to its
  *    100-step cap.
  *  - Where SQLite semantics are unspecified (which row an UPDATE...FROM
  *    picks on multiple matches, GROUP_CONCAT order after DISTINCT), we pick
  *    a deterministic equivalent and document it at the use site.
  */
object Post {

  final case class FinalTables(cities: DataFrame, citiesLabels: DataFrame,
      citiesLanguages: DataFrame)

  /** Primary language subtag: `zh-hans` → `zh` (per_city.sql:34 —
    * `substring(code, 0, instr(code,"-"))` in SQLite terms). */
  private def primaryOf(c: Column): Column = split(c, "-").getItem(0)

  /** The theta-join kept hash-joinable (C7, SURVEY q08): equi-join on the
    * primary subtag plus the residual `lang = code OR lang LIKE primary-%`. */
  private def prefixMatch(labelLang: Column, code: Column): Column =
    labelLang === code ||
      labelLang.startsWith(concat(primaryOf(code), lit("-")))

  /** The iif-merge of two label candidates
    * (city_labels_by_country.sql:6-18, C10). */
  private def mergeLabels(a: Column, b: Column): Column =
    when(a.isNull, b).when(b.isNull, a).when(a === b, a)
      .otherwise(concat(a, lit(" / "), b))

  def apply(
      countries: DataFrame,        // (id, iso)
      objectLanguages: DataFrame,  // (id, lang_id, lang_index)
      languages: DataFrame,        // (id, code)
      territorialEntities: DataFrame, // (id, is_2nd, iso)
      teParents: DataFrame,        // (id, parent)
      cities0: DataFrame,          // (id, population, lat, lon)
      citiesCountries: DataFrame,  // (city, priority, country)
      objectLabels: DataFrame      // (id, lang, label, native_order)
  ): FinalTables =
    cleanup(countries, objectLanguages, languages, objectLabels,
      cascade(countries, objectLanguages, languages, territorialEntities,
        teParents, cities0, citiesCountries, objectLabels))

  /** The 10-stage label cascade alone (the reference's `do_post` half —
    * `post --no-cleanup`, src/main.rs:98-111 / src/post/mod.rs:114-155):
    * returns the ENRICHED cities table (country pick, subdivision, the
    * four label columns, 2nd_iso) with every input city still present —
    * pruning and the final 3-table shape are [[cleanup]]'s business. */
  def cascade(
      countries: DataFrame,        // (id, iso)
      objectLanguages: DataFrame,  // (id, lang_id, lang_index)
      languages: DataFrame,        // (id, code)
      territorialEntities: DataFrame, // (id, is_2nd, iso)
      teParents: DataFrame,        // (id, parent)
      cities0: DataFrame,          // (id, population, lat, lon)
      citiesCountries: DataFrame,  // (city, priority, country)
      objectLabels: DataFrame      // (id, lang, label, native_order)
  ): DataFrame = {

    // ------------------------------------------------------------------
    // Stage 1 — city_countries.sql: drop countries that don't exist (C1),
    // then pick the MIN(priority) country per city (C2/C3). (city,priority)
    // is unique (setup.sql:62) so min_by is deterministic.
    // ------------------------------------------------------------------
    val ccLive = citiesCountries.join(broadcast(countries),
      citiesCountries("country") === countries("id"), "left_semi")
    val picked = ccLive.groupBy(col("city"))
      .agg(min_by(col("country"), col("priority")).as("picked_country"))
    val c1 = cities0.join(picked, cities0("id") === picked("city"), "left")
      .select(cities0("id"), col("picked_country").as("country"),
        col("population"), col("lat"), col("lon"))

    // ------------------------------------------------------------------
    // The keys: every city (stages 2-6) and every is_2nd TE (stages 7-11;
    // every 2nd_id is one). A key-derived candidate is computed once per
    // key, so a key that is both a city and a subdivision shares it.
    // One hierarchy walk (C4) from all keys serves stages 2, 4 and 8: each
    // seed's frontier evolves on its own under the same 100-step cap, so
    // the closure's rows for a seed equal a walk from that seed alone. The
    // walk comes back checkpointed, so the stages below read it once.
    // ------------------------------------------------------------------
    val cityIds = cities0.select(col("id"))
    val secondIds = territorialEntities.filter(col("is_2nd")).select(col("id"))
    val keys = cityIds.union(secondIds).distinct()
    val closure = Relational.transitiveClosure(
      teParents.select(col("id"), col("parent")),
      keys.select(col("id").as("seed")),
      maxSteps = 100, dedupPerStep = true)

    // ------------------------------------------------------------------
    // Stage 2 — find_subdivision.sql: per seed of the closure, the
    // deepest ancestor flagged is_2nd wins — ORDER BY step DESC picks the
    // match closest to the root (C5 + note †); deterministic tiebreak
    // `node asc` added for multi-parent DAGs.
    // ------------------------------------------------------------------
    val wDeep = Window.partitionBy(col("seed"))
      .orderBy(col("step").desc, col("node").asc)
    val deepest = closure
      .join(secondIds.select(col("id").as("te_id")), col("node") === col("te_id"))
      .withColumn("rn", row_number().over(wDeep)).filter(col("rn") === 1)
      .select(col("seed"), col("node").as("second_id"))
    val c2 = c1.join(deepest, c1("id") === deepest("seed"), "left")
      .select(c1("*"), col("second_id").as("2nd_id"))

    // ------------------------------------------------------------------
    // Stage 3 — city_labels.sql: native_label from own native labels with
    // native_order <= 1; DISTINCT labels GROUP_CONCAT'd with " / " (C8).
    // SQLite's DISTINCT temp-B-tree emits (label, id) sorted, so the concat
    // order is label-ascending — made explicit here with array_sort.
    // ------------------------------------------------------------------
    val nativeFull = objectLabels
      .filter(col("native_order").isNotNull && col("native_order") <= 1)
      .join(cityIds, Seq("id"), "left_semi")
      .groupBy(col("id"))
      .agg(concat_ws(" / ",
        array_sort(array_distinct(collect_list(col("label"))))).as("full_label"))

    // ------------------------------------------------------------------
    // Stage 4 — per_city.sql, set-based (C16): for every key; the coalesce
    // keeps the order. Walk ancestors (incl. self at step 0), take their
    // official languages, prefix-match the key's own labels against those
    // codes, keep the best 2 by (step asc, lang_index asc), dedupe, " / ".
    // The reference's bare-column GROUP BY picks an arbitrary label per
    // (step, ancestor, lang); we take min(label).
    // ------------------------------------------------------------------
    val langCodes = objectLanguages.as("ol")
      .join(languages.as("lg"), col("ol.lang_id") === col("lg.id"))
      .select(col("ol.id").as("holder"), col("ol.lang_id").as("lang_id"),
        col("ol.lang_index").as("lang_index"), col("lg.code").as("code"),
        primaryOf(col("lg.code")).as("code_primary"))
    val labelsP = objectLabels.select(col("id").as("lab_id"),
      col("lang").as("lab_lang"), col("label").as("lab_label"),
      primaryOf(col("lang")).as("lab_primary"))

    // (seed, full_label); stage 8 reads it by 2nd_id
    val recursiveLabels = {
      val cand = closure
        .join(langCodes, col("node") === col("holder"))
        .join(labelsP,
          col("lab_id") === col("seed") &&
            col("lab_primary") === col("code_primary") &&
            prefixMatch(col("lab_lang"), col("code")))
        .groupBy(col("seed"), col("step"), col("node"), col("lang_id"))
        .agg(min(col("lab_label")).as("label"),
          min(col("lang_index")).as("lang_index"))
      val wTop = Window.partitionBy(col("seed"))
        .orderBy(col("step").asc, col("lang_index").asc, col("label").asc)
      cand.withColumn("rn", row_number().over(wTop)).filter(col("rn") <= 2)
        .groupBy(col("seed"))
        .agg(concat_ws(" / ", array_distinct(transform(
          array_sort(collect_list(struct(col("rn"), col("label")))),
          x => x.getField("label")))).as("full_label"))
    }

    // ------------------------------------------------------------------
    // Stage 5 — city_labels_by_country.sql (C11): for every city; the
    // coalesce keeps the order. Use the city's country's primary
    // (lang_index 0) and secondary (1) languages to prefix-match the
    // city's labels; merge the two candidates (C10). Multiple matching
    // labels per slot → min(label) (UPDATE pick is unspecified in SQLite).
    // ------------------------------------------------------------------
    def countrySlotLabels(targets: DataFrame): DataFrame = {
      // targets: (owner, t_country), distinct, both freshly aliased — labels
      // are looked up for `owner` (the city itself, or its subdivision) in
      // the languages of `t_country`. Keyed on that natural pair: a
      // synthetic row id (monotonically_increasing_id) is NOT stable across
      // the two evaluations of an uncached plan and can silently mis-join
      // under AQE/task retry.
      val base = targets
        .join(broadcast(countries.as("co")), col("t_country") === col("co.id"))
        .join(langCodes.as("lc1"),
          col("lc1.holder") === col("co.id") && col("lc1.lang_index") === 0)
        .join(langCodes.as("lc2"),
          col("lc2.holder") === col("co.id") && col("lc2.lang_index") === 1,
          "left")
      val withL1 = base.join(labelsP.as("lb1"),
          col("lb1.lab_id") === col("owner") &&
            col("lb1.lab_primary") === col("lc1.code_primary") &&
            prefixMatch(col("lb1.lab_lang"), col("lc1.code")), "left")
      val withL2 = withL1.join(labelsP.as("lb2"),
          col("lc2.code").isNotNull &&
            col("lb2.lab_id") === col("owner") &&
            col("lb2.lab_primary") === col("lc2.code_primary") &&
            prefixMatch(col("lb2.lab_lang"), col("lc2.code")), "left")
      withL2.groupBy(col("owner"), col("t_country"))
        .agg(min(col("lb1.lab_label")).as("label1"),
          min(col("lb2.lab_label")).as("label2"))
        .select(col("owner"),
          mergeLabels(col("label1"), col("label2")).as("full_label"))
    }

    val by5 = countrySlotLabels(
      c1.select(col("id").as("owner"), col("country").as("t_country")))

    // ------------------------------------------------------------------
    // Stage 6 — esperanto_city_labels.sql (C13): eo_label for every key —
    // any own label in (eo fr es en de nl), Esperanto preferred; tiebreak
    // (lang asc, label asc) added for determinism. Stage 10 reads it by
    // 2nd_id.
    // ------------------------------------------------------------------
    val eoLangs = Seq("eo", "fr", "es", "en", "de", "nl")
    val wEo = Window.partitionBy(col("lab_id"))
      .orderBy((col("lab_lang") === "eo").desc, col("lab_lang").asc,
        col("lab_label").asc)
    val preferredLabel = labelsP
      .join(keys, col("lab_id") === col("id"), "left_semi")
      .filter(col("lab_lang").isin(eoLangs: _*))
      .withColumn("rn", row_number().over(wEo)).filter(col("rn") === 1)
      .select(col("lab_id"), col("lab_label"))

    // ------------------------------------------------------------------
    // Stage 7 — subdivision_labels.sql: the same native-label aggregate,
    // joined via 2nd_id. (Native labels only ever exist for settlement
    // entities — the reference computes the aggregate over cities' labels
    // and that restriction is kept, quirk included.) The candidate is
    // stage 3's `nativeFull`, joined on 2nd_id below.
    // ------------------------------------------------------------------

    // ------------------------------------------------------------------
    // Stage 8 — per_subdivision.sql, set-based: stage 4's candidate read by
    // 2nd_id; the coalesce keeps the order. The result labels every city
    // sharing that subdivision (per_subdivision.sql:43).
    // ------------------------------------------------------------------

    // ------------------------------------------------------------------
    // Stage 9 — subdivision_labels_by_country.sql: country-language labels
    // for the subdivision, computed per (2nd_id, country) over every city
    // (the coalesce keeps the order: a 2nd_id's stage 7/8 labels are
    // functions of the 2nd_id alone, so the pairs seen by a still-unlabeled
    // 2nd_id are unchanged); one deterministic winner per 2nd_id (non-null
    // labels preferred, then min) — the reference's UPDATE pick is
    // unspecified.
    // ------------------------------------------------------------------
    val by9 = countrySlotLabels(c2.filter(col("2nd_id").isNotNull)
      .select(col("2nd_id").as("owner"), col("country").as("t_country"))
      .distinct())
    // (owner, country) pairs that produced no row (dead country, no official
    // language) are equivalent to a null full_label — both lose the pick
    // below and coalesce(null) is a no-op, so no left-join-back is needed.
    // `min` skips nulls, so it is the non-null-first-then-min pick.
    val pick9 = by9.groupBy(col("owner")).agg(min(col("full_label")))

    // ------------------------------------------------------------------
    // Stage 10 — esperanto_subdivision_labels.sql: 2nd_eo_label per 2nd_id,
    // stage 6's candidate read by 2nd_id.
    // ------------------------------------------------------------------

    // ------------------------------------------------------------------
    // Stage 11 — subdivision_iso.sql: 2nd_iso from the is_2nd TE row.
    // ------------------------------------------------------------------
    val isoSrc = territorialEntities.filter(col("is_2nd"))
      .select(col("id"), col("iso"))

    // Each candidate (key, value) is left-joined once onto the stage-2
    // table by its key column, as column `s<stage>`.
    val candidates = Seq(
      ("id", nativeFull, "s3"), ("id", recursiveLabels, "s4"),
      ("id", by5, "s5"), ("id", preferredLabel, "s6"),
      ("2nd_id", nativeFull, "s7"), ("2nd_id", recursiveLabels, "s8"),
      ("2nd_id", pick9, "s9"), ("2nd_id", preferredLabel, "s10"),
      ("2nd_id", isoSrc, "s11"))
    candidates.foldLeft(c2) { case (df, (key, cand, name)) =>
      val kv = cand.toDF(s"${name}_key", name)
      df.join(kv, df(key) === kv(s"${name}_key"), "left").drop(s"${name}_key")
    }.select(col("id"), col("country"), col("population"), col("lat"),
      col("lon"), col("2nd_id"),
      coalesce(col("s3"), col("s4"), col("s5")).as("native_label"),
      col("s6").as("eo_label"),
      coalesce(col("s7"), col("s8"), col("s9")).as("2nd_native_label"),
      col("s10").as("2nd_eo_label"), col("s11").as("2nd_iso"))
  }

  /** The 9 cleanup scripts alone (the reference's `do_cleanup` half —
    * `post --only-cleanup`): prune, dedup and rename into the final
    * 3-table schema. `citiesEnriched` is [[cascade]]'s output (or a table
    * a previous `--no-cleanup` run wrote). */
  def cleanup(
      countries: DataFrame,        // (id, iso)
      objectLanguages: DataFrame,  // (id, lang_id, lang_index)
      languages: DataFrame,        // (id, code)
      objectLabels: DataFrame,     // (id, lang, label, native_order)
      citiesEnriched: DataFrame    // cascade's 11-column cities
  ): FinalTables = {
    val c11 = citiesEnriched

    // ------------------------------------------------------------------
    // Cleanup 05/06 (C18/C19): keep cities whose country survived, repoint
    // country Q-id → ISO, drop cities with no label at all.
    // ------------------------------------------------------------------
    val cFinal = c11
      .join(broadcast(countries.select(col("id").as("co_id"), col("iso"))),
        c11("country") === col("co_id"))
      .filter(col("native_label").isNotNull || col("eo_label").isNotNull)
      .select(c11("id"), col("iso").as("country"), c11("population"),
        c11("lat"), c11("lon"), c11("2nd_id"), c11("native_label"),
        c11("eo_label"), c11("2nd_native_label"), c11("2nd_eo_label"),
        c11("2nd_iso"))
      .transform(Relational.pin)

    // ------------------------------------------------------------------
    // Cleanup 02/08 (C17): object_languages keyed (id, lang=code); the
    // SQLite first-wins is insertion order = ascending lang_index, so
    // min(lang_index) per (id, lang); drop null langs and non-cities.
    // ------------------------------------------------------------------
    val citiesLanguages = objectLanguages.as("ol")
      .join(languages.as("lg"), col("ol.lang_id") === col("lg.id"), "left")
      .select(col("ol.id").as("id"), col("lg.code").as("lang"),
        col("ol.lang_index").as("lang_index"))
      .filter(col("lang").isNotNull)
      .groupBy(col("id"), col("lang"))
      .agg(min(col("lang_index")).as("lang_index"))
      .join(cFinal.select(col("id")), Seq("id"), "left_semi")

    // ------------------------------------------------------------------
    // Cleanup 03/07 (C17): object_labels keyed (id, lang); first-wins is
    // insertion order — plain labels (native_order NULL) precede native
    // rows, so prefer native_order NULL, then min(native_order), min(label).
    // The semi-join to the surviving cities runs first: `id` is in the
    // window's partition key, so the rows are the same, and Catalyst does
    // not push the semi-join below the window itself.
    // ------------------------------------------------------------------
    val wLab = Window.partitionBy(col("id"), col("lang"))
      .orderBy(col("native_order").asc_nulls_first, col("label").asc)
    val citiesLabels = objectLabels
      .join(cFinal.select(col("id")), Seq("id"), "left_semi")
      .withColumn("rn", row_number().over(wLab)).filter(col("rn") === 1)
      .select(col("id"), col("lang"), col("label"))

    FinalTables(cFinal, citiesLabels, citiesLanguages)
  }
}
