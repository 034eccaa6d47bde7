package graft.wikidata

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** End-to-end test of the post-processing cascade on a synthetic geo world
  * (SURVEY §5: countries / TE graph / cities with known expected labels after
  * the full 4-tier cascade + cleanup). Covers every stage:
  *   X1 native labels · X2 recursive ancestor-language · X3 country-language
  *   merge · X4 Esperanto-fallback survival · X5 unlabeled deletion ·
  *   X6 dead-country deletion · subdivision label tiers via T2/TB.
  */
class PostSpec extends SparkSpec {
  import spark.implicits._

  // the 8 input tables, reused by the full-post result and the split
  // cascade/cleanup (--no-cleanup / --only-cleanup) cases
  lazy val inputs: PostSpec.Inputs = PostSpec.inputs(spark)

  lazy val result: Post.FinalTables = {
    val (countries, objectLanguages, languages, tes, teParents,
      cities, citiesCountries, objectLabels) = inputs
    Post(countries, objectLanguages, languages, tes, teParents,
      cities, citiesCountries, objectLabels)
  }

  test("--no-cleanup half (cascade): enriched schema, every input city survives " +
      "(pruning is the cleanup's business — main.rs:98-111 flag parity)") {
    val (countries, objectLanguages, languages, tes, teParents,
      cities, citiesCountries, objectLabels) = inputs
    val enriched = Post.cascade(countries, objectLanguages, languages, tes,
      teParents, cities, citiesCountries, objectLabels)
    assert(enriched.columns.toSet == Set("id", "country", "population",
      "lat", "lon", "2nd_id", "native_label", "eo_label",
      "2nd_native_label", "2nd_eo_label", "2nd_iso"), enriched.columns.toSeq)
    val ids = enriched.select("id").collect().map(_.getString(0)).toSet
    assert(ids == Set("X1", "X2", "X3", "X4", "X5", "X6"),
      s"the cascade must keep unlabeled/dead-country cities: $ids")
  }

  test("--only-cleanup half composes: cleanup over the cascade's output equals " +
      "the one-shot post") {
    val (countries, objectLanguages, languages, tes, teParents,
      cities, citiesCountries, objectLabels) = inputs
    val enriched = Post.cascade(countries, objectLanguages, languages, tes,
      teParents, cities, citiesCountries, objectLabels)
    val split = Post.cleanup(countries, objectLanguages, languages,
      objectLabels, enriched)
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    assert(rows(split.cities) == rows(result.cities))
    assert(rows(split.citiesLabels) == rows(result.citiesLabels))
    assert(rows(split.citiesLanguages) == rows(result.citiesLanguages))
  }

  lazy val byId: Map[String, Row] =
    result.cities.collect().map(r => r.getString(0) -> r).toMap

  test("survivors: X5 (no labels) and X6 (dead country) are deleted") {
    assert(byId.keySet == Set("X1", "X2", "X3", "X4"))
  }

  test("country pick: min priority wins and Q-id is repointed to ISO") {
    assert(byId("X1").getString(1) == "de")
    assert(byId("X3").getString(1) == "fr") // priority 0 (C2) beats 1 (C1)
  }

  test("stage 3: native labels, distinct + sorted, ' / ' joined") {
    assert(byId("X1").getString(6) == "AlphaEn / AlphaNative")
  }

  test("stage 4: recursive ancestor-language label (zh-hans matches zh)") {
    assert(byId("X2").getString(6) == "Zhongwen")
  }

  test("stage 5: country-language two-slot merge") {
    assert(byId("X3").getString(6) == "Ville / Stadt")
  }

  test("stage 6: Esperanto-preferred fallback label") {
    assert(byId("X4").isNullAt(6))            // native never found
    assert(byId("X4").getString(7) == "Urbo") // eo wins
    assert(byId("X1").getString(7) == "Alpha") // no eo -> min (lang, label)
    assert(byId("X3").getString(7) == "Stadt") // de sorts before fr
  }

  test("subdivision: deepest is_2nd ancestor and its label cascade") {
    assert(byId("X2").getString(5) == "T2")       // 2nd_id via T1 -> T2
    assert(byId("X3").getString(5) == "T2")
    assert(byId("X1").getString(5) == "TB")
    // T2 has no native/recursive labels -> country tier: de label of T2
    assert(byId("X2").getString(8) == "T2de")
    assert(byId("X3").getString(8) == "T2de")
    // TB via X1's country language de
    assert(byId("X1").getString(8) == "TBde")
    // Esperanto tier: T2 has an eo label, TB only de
    assert(byId("X2").getString(9) == "T2eo")
    assert(byId("X1").getString(9) == "TBde")
    // ISO from the is_2nd TE row
    assert(byId("X2").getString(10) == "DE-X")
    assert(byId("X1").getString(10) == "DE-B")
  }

  test("X4 has no subdivision: all 2nd_* stay null") {
    assert(byId("X4").isNullAt(5) && byId("X4").isNullAt(8) &&
      byId("X4").isNullAt(9) && byId("X4").isNullAt(10))
  }

  test("cities_labels: dedup per (id, lang), plain label preferred") {
    val labels = result.citiesLabels.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(labels == Set(
      ("X1", "de", "Alpha"),   // plain row beats native rows
      ("X1", "en", "AlphaEn"), // min native_order among natives
      ("X2", "zh-hans", "Zhongwen"), ("X2", "en", "X2En"),
      ("X3", "fr", "Ville"), ("X3", "de", "Stadt"),
      ("X4", "eo", "Urbo")))
  }

  test("cities_languages: resolved to codes, only surviving cities") {
    val langs = result.citiesLanguages.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(langs == Set(("X1", "de", 0L)))
  }

  // Equivalence fixture: every cascade candidate depends only on its key
  // (city id for stages 3-6, 2nd_id for stages 7-11), so the cascade order
  // can be a coalesce over per-key candidates. These rows were computed by
  // the sequential cascade (each stage filling only the rows the previous
  // one left NULL) and pin the four cases where the two could differ:
  //   A1  labeled at stage 3, with stage-4 (TA: fr) and stage-5 (CA: de/fr)
  //       candidates of its own;
  //   SB  2nd_id of B1 (CA) and B2 (CB), unlabeled by stages 7 and 8: stage
  //       9's pick takes the non-null candidate (CA has none); SB2 (B3 in
  //       CA, B4 in CC) has two non-null candidates and min decides;
  //   SC  2nd_id labeled at stage 7 (SC is also a city with a native label)
  //       whose city C1 also yields a stage-9 candidate;
  //   TD  a TE with two is_2nd parents at equal depth: 2nd_id by node asc,
  //       stage 4 draws from both parents' languages.
  lazy val equivalenceInputs = {
    val countries = Seq(("CA", "aa"), ("CB", "bb"), ("CC", "cc")).toDF("id", "iso")
    val languages = Seq(("LDE", "de"), ("LFR", "fr"), ("LIT", "it"),
      ("LES", "es")).toDF("id", "code")
    val objectLanguages = Seq(
      ("CA", "LDE", 0L), ("CA", "LFR", 1L),
      ("CB", "LIT", 0L),
      ("CC", "LES", 0L), ("CC", "LDE", 1L),
      ("TA", "LFR", 0L), ("TDZ", "LDE", 0L), ("TDA", "LFR", 0L)
    ).toDF("id", "lang_id", "lang_index")
    val tes = Seq(
      ("TA", false, None), ("SB", true, Some("X-SB")),
      ("SB2", true, Some("X-SB2")), ("SC", true, Some("X-SC")),
      ("TD", false, None), ("TDZ", true, Some("X-DZ")),
      ("TDA", true, Some("X-DA"))
    ).toDF("id", "is_2nd", "iso")
    val teParents = Seq(
      ("A1", "TA"), ("B1", "SB"), ("B2", "SB"), ("B3", "SB2"), ("B4", "SB2"),
      ("C1", "SC"), ("D1", "TD"), ("TD", "TDZ"), ("TD", "TDA")
    ).toDF("id", "parent")
    val cities = Seq("A1", "B1", "B2", "B3", "B4", "C1", "SC", "D1")
      .map(id => (id, Option.empty[Long])).toDF("id", "population")
      .withColumn("lat", org.apache.spark.sql.functions.lit(null).cast("double"))
      .withColumn("lon", org.apache.spark.sql.functions.lit(null).cast("double"))
    val citiesCountries = Seq(
      ("A1", 0L, "CA"), ("B1", 0L, "CA"), ("B2", 0L, "CB"), ("B3", 0L, "CA"),
      ("B4", 0L, "CC"), ("C1", 0L, "CA"), ("SC", 0L, "CA"), ("D1", 0L, "CB")
    ).toDF("city", "priority", "country")
    val objectLabels = Seq(
      ("A1", "de", "ANative", Some(0L)), ("A1", "de", "ADe", None),
      ("A1", "fr", "AFr", None),
      ("B1", "en", "B1en", None),
      ("SB", "it", "SBit", None),
      ("SB2", "de", "SB2de", None), ("SB2", "es", "SB2es", None),
      ("SC", "en", "SCNative", Some(0L)), ("SC", "de", "SCde", None),
      ("SC", "fr", "SCfr", None),
      ("C1", "fr", "C1fr", None),
      ("D1", "de", "Dde", None), ("D1", "fr", "Dfr", None),
      ("TDA", "fr", "TDAfr", None), ("TDA", "eo", "TDAeo", None)
    ).toDF("id", "lang", "label", "native_order")
    (countries, objectLanguages, languages, tes, teParents, cities,
      citiesCountries, objectLabels)
  }

  test("cascade equivalence fixture: per-key candidates in cascade order") {
    val (countries, objectLanguages, languages, tes, teParents,
      cities, citiesCountries, objectLabels) = equivalenceInputs
    val got = Post.cascade(countries, objectLanguages, languages, tes,
      teParents, cities, citiesCountries, objectLabels)
      .select("id", "country", "2nd_id", "native_label", "eo_label",
        "2nd_native_label", "2nd_eo_label", "2nd_iso")
      .orderBy("id").collect().map(_.toString).toSeq
    assert(got == Seq(
      // id, country, 2nd_id, native_label, eo_label,
      // 2nd_native_label, 2nd_eo_label, 2nd_iso
      "[A1,CA,null,ANative,ADe,null,null,null]",
      "[B1,CA,SB,null,B1en,SBit,null,X-SB]",
      "[B2,CB,SB,null,null,SBit,null,X-SB]",
      "[B3,CA,SB2,null,null,SB2de,SB2de,X-SB2]",
      "[B4,CC,SB2,null,null,SB2de,SB2de,X-SB2]",
      "[C1,CA,SC,C1fr,C1fr,SCNative,SCde,X-SC]",
      "[D1,CB,TDA,Dde / Dfr,Dde,TDAfr,TDAeo,X-DA]",
      "[SC,CA,SC,SCNative,SCde,SCNative,SCde,X-SC]"), got.mkString("\n"))
  }

  // DumpGen gives every TE a random P131 parent, so its hierarchy has
  // cycles and the walk runs to its 100-step cap (the `pipeline` benchmark
  // re-points it into a tree). The fingerprint of the three final tables
  // (rows, xor and sum of the row hashes, in the benchmark's form) was
  // computed by the step-per-round walk this one replaced.
  test("DumpGen's cyclic hierarchy: pinned final tables, Post within 120 jobs") {
    val n = 4000L
    val dir = java.nio.file.Files.createTempDirectory("post-cyclic").toString
    try {
      val lines = spark.range(0, n, 1, 4).map(i => DumpGen.entityJson(i, n))
        .toDF("value")
      Extract.tableMap(Extract(Extract.parse(lines), ClassSets.seedsOnly,
        WTime(2026, 0, 0, 0, 0, 0))).foreach { case (name, df) =>
        df.write.parquet(s"$dir/$name")
      }
      spark.catalog.clearCache()
      def rd(name: String) = spark.read.parquet(s"$dir/$name")
      val start = System.nanoTime()
      val (fingerprint, sites) = graft.SparkSpec.jobSites {
        val f = Post(rd("countries"), rd("object_languages"), rd("languages"),
          rd("territorial_entities"), rd("territorial_entities_parents"),
          rd("cities"), rd("cities_countries"), rd("object_labels"))
        Seq(f.cities, f.citiesLabels, f.citiesLanguages).map { df =>
          val h = xxhash64(df.columns.map(c => col(s"`$c`")): _*)
          val r = df.agg(count(lit(1)), bit_xor(h),
            coalesce(sum(shiftrightunsigned(h, 24)), lit(0L))).head()
          f"${r.getLong(0)}:${r.getLong(1)}%016x:${r.getLong(2)}%x"
        }.mkString("/")
      }
      info(f"Post: ${sites.size} jobs, ${(System.nanoTime() - start) / 1e9}%.1f s")
      assert(fingerprint == PostSpec.cyclicFingerprint)
      assert(sites.size <= 120, s"${sites.size} jobs: ${sites.mkString(", ")}")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}

object PostSpec {
  /** Final-table fingerprint of Post on DumpGen's 4,000-entity dump. */
  val cyclicFingerprint: String =
    "3812:b6f1ebb3015a6320:768db8b53b9eb/" +
      "10329:8d5346703ac40730:144009ff0a58c0/200:1301949503f2657f:5bbf785818c9"

  type Inputs = (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame,
    DataFrame, DataFrame, DataFrame)

  /** The synthetic geo world's 8 input tables, in `Post.apply` order. */
  def inputs(spark: SparkSession): Inputs = {
    import spark.implicits._
    val countries = Seq(("C1", "de"), ("C2", "fr")).toDF("id", "iso")
    val languages = Seq(("LDE", "de"), ("LFR", "fr"), ("LEO", "eo"),
      ("LZH", "zh")).toDF("id", "code")
    val objectLanguages = Seq(
      ("C1", "LDE", 0L),
      ("C2", "LFR", 0L), ("C2", "LDE", 1L),
      ("T1", "LZH", 0L),
      ("X1", "LDE", 0L)
    ).toDF("id", "lang_id", "lang_index")
    val tes = Seq(
      ("T1", false, None), ("T2", true, Some("DE-X")),
      ("T3", false, None), ("TB", true, Some("DE-B"))
    ).toDF("id", "is_2nd", "iso")
    val teParents = Seq(
      ("X2", "T1"), ("T1", "T2"), ("T2", "T3"), ("X1", "TB"), ("X3", "T2")
    ).toDF("id", "parent")
    val cities = Seq(
      ("X1", Some(1000L)), ("X2", None), ("X3", None),
      ("X4", None), ("X5", None), ("X6", None)
    ).toDF("id", "population")
      .withColumn("lat", org.apache.spark.sql.functions.lit(null).cast("double"))
      .withColumn("lon", org.apache.spark.sql.functions.lit(null).cast("double"))
    val citiesCountries = Seq(
      ("X1", 0L, "C1"), ("X2", 1000L, "C1"),
      ("X3", 0L, "C2"), ("X3", 1L, "C1"),
      ("X4", 1000L, "C1"), ("X5", 0L, "C1"), ("X6", 1000L, "CDEAD")
    ).toDF("city", "priority", "country")
    val objectLabels = Seq(
      ("X1", "de", "Alpha", None), ("X1", "de", "AlphaNative", Some(0L)),
      ("X1", "en", "AlphaEn", Some(1L)), ("X1", "en", "AlphaOld", Some(2L)),
      ("X2", "zh-hans", "Zhongwen", None), ("X2", "en", "X2En", None),
      ("X3", "fr", "Ville", None), ("X3", "de", "Stadt", None),
      ("X4", "eo", "Urbo", None),
      ("X6", "de", "Tot", None),
      ("T2", "zh", "T2zh", None), ("T2", "eo", "T2eo", None),
      ("T2", "de", "T2de", None),
      ("TB", "de", "TBde", None)
    ).toDF("id", "lang", "label", "native_order")

    (countries, objectLanguages, languages, tes, teParents,
      cities, citiesCountries, objectLabels)
  }
}
