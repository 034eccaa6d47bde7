package graft.wikidata

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, JsonToStructs}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Dump ingest + extraction: the Spark shape of the reference's
  * handle_line pipeline (/root/reference/src/main.rs:123-234 → SURVEY §3.1):
  *
  *   text source → sanitize → parse each line straight to an `Entity`
  *   → tombstone filter → classify via broadcast class sets → 9 typed outputs.
  *
  * One pass over the dump: each line is parsed once into a typed entity, as
  * the reference's `serde_json::from_str` does (wiki_data_line.rs:350, A8);
  * the emitted rows are cached once, and each output is a column filter
  * over them (no shuffle except the keyed dedups mandated by the
  * reference's PK semantics, SURVEY A13). At cluster scale the dump text
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

  private lazy val entityEncoder = ExpressionEncoder[Entity]().resolveAndBind()

  /** The encoder's deserializer is stateful, so each executor thread keeps
    * its own; it is generated once per thread, not once per task. */
  private val entityDeserializer =
    ThreadLocal.withInitial(() => entityEncoder.createDeserializer())

  /** Sanitize + parse the dump lines (wiki_data_line.rs:336-350, A6-A8):
    * drop `[`/`]`/empty lines, strip the trailing comma (both on the
    * line's bytes, see [[sanitized]]), parse with the
    * explicit minimal schema (PERMISSIVE: bad lines → null id → dropped,
    * mirroring the reference's log-and-skip).
    *
    * Each line goes through Spark's own `from_json` expression (same
    * schema, no options, the session time zone) and the row it yields
    * straight through the `Entity` encoder's deserializer, in one
    * `mapPartitions`. The result is one kryo-encoded column, so no
    * operator carries Entity's wide columnar form (see [[RawOut]]). */
  def parse(lines: DataFrame): Dataset[Entity] = {
    val spark = lines.sparkSession
    import spark.implicits._
    // A real dump lands as many bz2 blocks / files and arrives well-split;
    // a small single-file input would otherwise parse on ONE task. Shuffle
    // the raw lines (cheap: strings, before parsing) only in that case.
    val parallelism = spark.sparkContext.defaultParallelism
    // queryExecution.toRdd probes the physical partitioning without the
    // row-conversion lineage that `.rdd` would materialize.
    val split =
      if (lines.queryExecution.toRdd.getNumPartitions < parallelism)
        lines.repartition(parallelism)
      else lines
    val timeZone = spark.sessionState.conf.sessionLocalTimeZone
    split
      .select(col("value").cast("binary"))
      .as[Array[Byte]]
      .mapPartitions { it =>
        // Built per task: JSON options read the session conf of the task.
        val json = JsonToStructs(entitySchema, Map.empty,
          BoundReference(0, StringType, nullable = true), Some(timeZone))
        val toEntity = entityDeserializer.get()
        val in = new GenericInternalRow(1)
        it.flatMap { bytes =>
          val line = sanitized(bytes)
          if (line == null) None
          else {
            in.update(0, line)
            json.eval(in) match {
              case row: InternalRow =>
                val e = toEntity(row)
                if (e.id.isDefined) Some(e) else None
              case _ => None
            }
          }
        }
      }(Encoders.kryo[Entity])
  }

  /** A dump line's UTF-8 bytes as the parser reads them, or null for a
    * line of at most one character (`[`, `]`, empty). The same rows as
    * `length(value) > 1` and `regexp_replace(value, ",$", "")`, from the
    * first and last bytes only: a line is one character when it is one
    * UTF-8 sequence (at most 4 bytes), and Java's `$` also matches before
    * a final line terminator (\n, \r, \r\n, U+0085, U+2028, U+2029),
    * so a comma there is dropped too. ASCII bytes never occur inside a
    * multi-byte sequence, so the byte tests cannot misread a character. */
  private[wikidata] def sanitized(b: Array[Byte]): UTF8String = {
    val n = b.length
    if (n == 0 || n <= 4 && UTF8String.fromBytes(b).numChars() <= 1) null
    else {
      def endsWith(suffix: Int*): Boolean = suffix.length <= n &&
        suffix.indices.forall(k => b(n - suffix.length + k) == suffix(k).toByte)
      val terminator =
        if (endsWith('\r', '\n')) 2
        else if (endsWith('\n') || endsWith('\r')) 1
        else if (endsWith(0xc2, 0x85)) 2
        else if (endsWith(0xe2, 0x80, 0xa8) || endsWith(0xe2, 0x80, 0xa9)) 3
        else 0
      val comma = n - terminator - 1
      if (comma < 0 || b(comma) != ',') UTF8String.fromBytes(b)
      else if (terminator == 0) UTF8String.fromBytes(b, 0, comma)
      else UTF8String.concat(UTF8String.fromBytes(b, 0, comma),
        UTF8String.fromBytes(b, comma + 1, terminator))
    }
  }

  /** One flat tagged row covering every output table — each entity is
    * read and emitted exactly ONCE, and the 9 tables are column filters
    * over this cached union. This is also the reference's own shape: one
    * handle_line pass emitting tagged DataEntry rows to a router (SURVEY
    * A14, §3.1).
    *
    * Typed-vs-columnar, measured (`perfbench`'s traced `pipeline` run:
    * 4,000-entity DumpGen dump, 5.3 MB, local[4]; `extract.parse` is the
    * parse alone, `extract.tables` is parse + emit + the 9 outputs): parse
    * 0.6 s wall / 1.5 s busy, tables 3.0 s / 4.3 s, in 11 jobs and 38
    * tasks. The columnar route this replaced (`from_json` into the Entity
    * struct, `e.*`, `.as[Entity]`, typed filters on RawOut) took 2.0 / 4.6 s
    * and 6.0 / 9.3 s for the same jobs and tasks: Entity has far more
    * nested fields than `spark.sql.codegen.maxFields` (100), so every
    * operator carrying its columns fell out of whole-stage codegen, and
    * each task deserialized those expression trees and regenerated
    * megabytes of projection source. Nine per-output plans would re-pay the
    * parse per table, and a columnar emit of the B13/B17/B18 logic (custom
    * time parser, qualifier walks) would live in interpreted HOF/UDF
    * territory anyway. */
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

    def part(tag: String) = tagged.filter(col("tag") === tag)

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

  /** The 9 output tables in write order — shared by the batch CLI sink,
    * the CLI's `post` and `entity` commands and the streaming sink. */
  private val tables: Seq[(String, Tables => DataFrame)] = Seq(
    ("countries", _.countries.toDF()),
    ("object_languages", _.objectLanguages),
    ("languages", _.languages.toDF()),
    ("territorial_entities", _.territorialEntities.toDF()),
    ("territorial_entities_parents", _.teParents),
    ("cities", _.cities.toDF()),
    ("cities_countries", _.citiesCountries.toDF()),
    ("object_labels", _.objectLabels.toDF()),
    ("missing_p17", _.missingP17.toDF()))

  val tableNames: Seq[String] = tables.map(_._1)

  def tableMap(t: Tables): Seq[(String, DataFrame)] =
    tables.map { case (name, table) => name -> table(t) }

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
