package graft.wikidata

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dump ingest + extraction: the Spark shape of the reference's
  * handle_line pipeline (/root/reference/src/main.rs:123-234 → SURVEY §3.1):
  *
  *   text source → sanitize → from_json(typed schema) → tombstone filter
  *   → classify via broadcast class sets → 9 typed outputs.
  *
  * One pass over the dump: `entities` is cached once, each output is a
  * narrow flatMap over it (no shuffle except the keyed dedups mandated by
  * the reference's PK semantics, SURVEY A13). At cluster scale the dump text
  * source is splittable (bz2/parquet landing), so partition parallelism
  * replaces the reference's rayon fan-out (SURVEY D2).
  */
object Extract {

  /** All nine ingest tables (src/setup.sql:8-75), plus the raw entity view. */
  final case class Tables(
      entities: Dataset[Entity],
      countries: Dataset[CountryRow],
      objectLanguages: DataFrame,
      languages: Dataset[LanguageRow],
      territorialEntities: Dataset[TERow],
      teParents: DataFrame,
      cities: Dataset[CityRow],
      citiesCountries: Dataset[CityCountryRow],
      objectLabels: Dataset[ObjectLabelRow],
      missingP17: Dataset[MissingP17Row])

  val entitySchema = Encoders.product[Entity].schema

  /** Sanitize + parse the dump lines (wiki_data_line.rs:336-350, A6-A8):
    * drop `[`/`]`/empty lines, strip the trailing comma, parse with the
    * explicit minimal schema (PERMISSIVE: bad lines → null id → dropped,
    * mirroring the reference's log-and-skip). */
  def parse(lines: DataFrame): Dataset[Entity] = {
    val spark = lines.sparkSession
    import spark.implicits._
    // A real dump lands as many bz2 blocks / files and arrives well-split;
    // a small single-file input would otherwise parse on ONE task. Shuffle
    // the raw lines (cheap: strings, before from_json) only in that case.
    val parallelism = spark.sparkContext.defaultParallelism
    // queryExecution.toRdd probes the physical partitioning without the
    // row-conversion lineage that `.rdd` would materialize.
    val split =
      if (lines.queryExecution.toRdd.getNumPartitions < parallelism)
        lines.repartition(parallelism)
      else lines
    split
      .filter(length(col("value")) > 1)
      .select(from_json(
        regexp_replace(col("value"), ",$", ""), entitySchema).as("e"))
      .select(col("e.*"))
      .as[Entity]
      .filter((e: Entity) => e.id.isDefined)
  }

  /** One flat tagged row covering every output table — the whole dump is
    * deserialized from the wide Entity schema exactly ONCE (the per-task
    * codegen for that schema is megabytes of generated source; paying it per
    * output table dominated ingest wall time), and the 9 tables are cheap
    * filters over this cached union. This is also the reference's own shape:
    * one handle_line pass emitting tagged DataEntry rows to a router
    * (SURVEY A14, §3.1).
    *
    * Typed-vs-columnar, measured (38 MB / 52k-entity fixture, local[8],
    * steady state; `perfbench`'s traced `pipeline` run reports the same
    * split as `extract.parse` vs `extract.tables`): from_json parse alone
    * 1.4 s; parse + typed emit + all 9 outputs 2.9 s. The emit surcharge ≈ 1× the parse
    * cost that ANY design pays, so this one-pass route sits within ~2× of
    * the theoretical floor — while 9 per-output columnar plans would re-pay
    * the wide-schema parse per table (~9×), and a columnar emit of the
    * B13/B17/B18 logic (custom time parser, qualifier walks) would live in
    * interpreted HOF/UDF territory anyway. */
  final case class RawOut(tag: String, id: String,
      s1: Option[String], s2: Option[String],
      n1: Option[Long], n2: Option[Long],
      d1: Option[Double], d2: Option[Double],
      b1: Option[Boolean])

  private def emit(e: Entity, cs: ClassSets, now: WTime): Seq[RawOut] = {
    val c = e.claims.getOrElse(emptyClaims)
    if (EntityLogic.tombstoned(c)) return Seq.empty
    val id = e.id.get
    val out = scala.collection.mutable.ArrayBuffer.empty[RawOut]
    def row(tag: String, s1: Option[String] = None, s2: Option[String] = None,
        n1: Option[Long] = None, n2: Option[Long] = None,
        d1: Option[Double] = None, d2: Option[Double] = None,
        b1: Option[Boolean] = None): RawOut =
      RawOut(tag, id, s1, s2, n1, n2, d1, d2, b1)

    val excluded = EntityLogic.isSubclassOf(c, cs.excluded, now)
    val isTe = EntityLogic.isSubclassOf(c, cs.territorialEntities, now) && !excluded
    val isHs = EntityLogic.isSubclassOf(c, cs.humanSettlements, now) && !excluded &&
      !EntityLogic.isSubclassOf(c, cs.excludedSettlements, now)
    val isLang = EntityLogic.isSubclassOf(c, cs.languages, now)

    // Country branch (wiki_data_line.rs:376-408) — BEFORE the TE branch, so
    // its language rows carry branch 0 for the first-wins dedup (A13).
    if (c.P297.isDefined) {
      EntityLogic.country(id, c, now).foreach(r =>
        out += row("country", s1 = Some(r.iso)))
      EntityLogic.countryLanguages(id, c, now).foreach(r =>
        out += row("olang", s1 = Some(r.lang_id), n1 = Some(r.lang_index),
          n2 = Some(0L)))
    }
    if (isTe) {
      val is2nd = EntityLogic.isSubclassOf(c, cs.secondLevelAdminDiv, now)
      val te = EntityLogic.territorialEntity(id, c, is2nd)
      out += row("te", s1 = te.iso, b1 = Some(is2nd))
      EntityLogic.parentEdges(id, c, now).foreach(r =>
        out += row("edge", s1 = Some(r.parent)))
      EntityLogic.teLanguages(id, c, now).foreach(r =>
        out += row("olang", s1 = Some(r.lang_id), n1 = Some(r.lang_index),
          n2 = Some(1L)))
      EntityLogic.plainLabels(id, e.labels).foreach(r =>
        out += row("label", s1 = Some(r.lang), s2 = Some(r.label)))
    }
    if (isHs) {
      if (c.P17.isEmpty) out += row("missing")
      else {
        // handle_place runs only past the missing-P17 gate
        // (wiki_data_line.rs:125-135)
        EntityLogic.parentEdges(id, c, now).foreach(r =>
          out += row("edge", s1 = Some(r.parent)))
        EntityLogic.cityCountries(id, c, now).foreach(r =>
          out += row("cc", s1 = Some(r.country), n1 = Some(r.priority)))
        val coords = EntityLogic.coordinates(c)
        out += row("city", n1 = EntityLogic.population(c, now),
          d1 = coords.map(_._1), d2 = coords.map(_._2))
        EntityLogic.plainLabels(id, e.labels).foreach(r =>
          out += row("label", s1 = Some(r.lang), s2 = Some(r.label)))
        EntityLogic.nativeLabels(id, c, now).foreach(r =>
          out += row("label", s1 = Some(r.lang), s2 = Some(r.label),
            n1 = r.native_order))
      }
    }
    if (isLang)
      EntityLogic.language(id, c).foreach(r => out += row("lang", s1 = Some(r.code)))
    out.toSeq
  }

  /** Full extraction over parsed entities. `now` is injected for
    * reproducibility (SURVEY §7.4 #8). */
  def apply(raw: Dataset[Entity], classes: ClassSets, now: WTime): Tables = {
    val spark = raw.sparkSession
    import spark.implicits._

    val bc = spark.sparkContext.broadcast(classes)

    // Kept for debugging/tests; the output tables below deliberately do NOT
    // read through this (see RawOut).
    val entities = raw.filter((e: Entity) =>
      e.claims.forall(c => !EntityLogic.tombstoned(c)))

    val tagged = raw.flatMap((e: Entity) => emit(e, bc.value, now)).cache()

    def part(tag: String) = tagged.filter((r: RawOut) => r.tag == tag)

    val countries = part("country").map(r => CountryRow(r.id, r.s1.get))

    // PK(id, lang_id) is first-wins in the reference (setup.sql:14-20,
    // database.rs:128-137): country branch (n2=0) precedes TE branch (n2=1).
    val olWindow = Window.partitionBy(col("id"), col("lang_id"))
      .orderBy(col("branch"), col("lang_index"))
    val objectLanguages = part("olang")
      .select(col("id"), col("s1").as("lang_id"), col("n1").as("lang_index"),
        col("n2").as("branch"))
      .withColumn("rn", row_number().over(olWindow))
      .filter(col("rn") === 1)
      .select(col("id"), col("lang_id"), col("lang_index"))

    val languages = part("lang").map(r => LanguageRow(r.id, r.s1.get))

    val territorialEntities = part("te")
      .map(r => TERow(r.id, r.b1.get, r.s1))

    val teParents = part("edge")
      .map(r => TEParentRow(r.id, r.s1.get))
      .dropDuplicates("id", "parent").toDF()

    val missingP17 = part("missing").map(r => MissingP17Row(r.id))

    val cities = part("city").map(r => CityRow(r.id, r.n1, r.d1, r.d2))

    val citiesCountries = part("cc")
      .map(r => CityCountryRow(r.id, r.n1.get, r.s1.get))

    val objectLabels = part("label")
      .map(r => ObjectLabelRow(r.id, r.s1.get, r.s2.get, r.n1))

    Tables(entities, countries, objectLanguages, languages,
      territorialEntities, teParents, cities, citiesCountries,
      objectLabels, missingP17)
  }

  /** Read NDJSON dump files (optionally .bz2 — splittable, A3/A4) and run
    * the full extraction. */
  def fromDump(spark: SparkSession, path: String, classes: ClassSets,
      now: WTime = WikiTime.now()): Tables =
    apply(parse(spark.read.text(path)), classes, now)

  /** The 9 output tables in write order — shared by the batch CLI sink and
    * the streaming sink. */
  def tableMap(t: Tables): Seq[(String, DataFrame)] = Seq(
    "countries" -> t.countries.toDF(),
    "object_languages" -> t.objectLanguages,
    "languages" -> t.languages.toDF(),
    "territorial_entities" -> t.territorialEntities.toDF(),
    "territorial_entities_parents" -> t.teParents,
    "cities" -> t.cities.toDF(),
    "cities_countries" -> t.citiesCountries.toDF(),
    "object_labels" -> t.objectLabels.toDF(),
    "missing_p17" -> t.missingP17.toDF())

  /** Streaming flavor of the dump ingest — SURVEY A1's landing-dir mapping
    * (`spark.readStream.format("text")` over a landing directory). Each
    * NDJSON (optionally .bz2) file dropped into `landingDir` runs through
    * the SAME batch extraction per micro-batch (foreachBatch: the 9-table
    * fan-out needs a multi-sink) and appends to the parquet layout the
    * batch CLI writes; the checkpoint gives exactly-once file→output
    * tracking across restarts. Keyed dedups (A13) apply within each
    * arriving batch — the dump is a bounded file set arriving
    * incrementally, not a changelog. Default trigger AvailableNow:
    * process everything landed, then stop (drop the trigger for a
    * continuously watching ingest daemon). */
  def streamIngest(spark: SparkSession, landingDir: String, outDir: String,
      checkpointDir: String, classes: ClassSets,
      now: WTime = WikiTime.now()): org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.text(landingDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        tableMap(apply(parse(batch), classes, now)).foreach { case (name, df) =>
          df.write.mode("append").parquet(s"$outDir/$name")
        }
      }
      .start()

  private val emptyClaims = Claims(None, None, None, None, None, None, None,
    None, None, None, None, None, None, None)
}
