package graft.wikidata

/** Typed mirror of the WikiData entity subset plus the pure per-entity
  * extraction logic — a faithful re-expression of
  * /root/reference/src/wiki_data_line.rs, testable without a SparkSession.
  *
  * These case classes ARE the parse schema: `Extract.entitySchema` is the
  * `Entity` encoder's schema, so the parser reads only the JSON paths named
  * here (the reference's json.rs:1-42 navigation; field inventory in
  * FIXTURES.md §1). Everything is optional: a malformed entity yields
  * `None`s rather than killing the job, matching the reference's
  * log-and-skip per line (main.rs:183-189). Per-property value payloads
  * differ (entity id, string, monolingual text, coordinate, quantity), so
  * each claim property has its own precise element type.
  *
  * `Extract.parse` parses each dump line straight to an `Entity` and maps
  * over partitions; every function here is row-local, so the extraction
  * scales with partition parallelism and shuffles nothing.
  */

final case class TimeV(time: Option[String], timezone: Option[Long])
final case class TimeDV(value: Option[TimeV])
final case class TimeSnak(snaktype: Option[String], datavalue: Option[TimeDV])

final case class PresDV(value: Option[String])
final case class PresSnak(snaktype: Option[String], datavalue: Option[PresDV])

final case class Qualifiers(
    P580: Option[Seq[TimeSnak]], P582: Option[Seq[TimeSnak]],
    P585: Option[Seq[TimeSnak]], P518: Option[Seq[PresSnak]],
    P1539: Option[Seq[PresSnak]], P1540: Option[Seq[PresSnak]],
    P1366: Option[Seq[PresSnak]])

final case class IdV(id: Option[String])
final case class IdDV(value: Option[IdV])
final case class IdSnak(snaktype: Option[String], datavalue: Option[IdDV])
final case class IdClaim(mainsnak: Option[IdSnak], qualifiers: Option[Qualifiers])

final case class StrDV(value: Option[String])
final case class StrSnak(snaktype: Option[String], datavalue: Option[StrDV])
final case class StrClaim(mainsnak: Option[StrSnak], qualifiers: Option[Qualifiers])

final case class MonoV(text: Option[String], language: Option[String])
final case class MonoDV(value: Option[MonoV])
final case class MonoSnak(snaktype: Option[String], datavalue: Option[MonoDV])
final case class MonoClaim(mainsnak: Option[MonoSnak], qualifiers: Option[Qualifiers])

final case class CoordV(latitude: Option[Double], longitude: Option[Double])
final case class CoordDV(value: Option[CoordV])
final case class CoordSnak(snaktype: Option[String], datavalue: Option[CoordDV])
final case class CoordClaim(mainsnak: Option[CoordSnak], qualifiers: Option[Qualifiers])

final case class TimeClaim(mainsnak: Option[TimeSnak], qualifiers: Option[Qualifiers])

final case class QtyV(amount: Option[String], unit: Option[String])
final case class QtyDV(value: Option[QtyV])
final case class QtySnak(snaktype: Option[String], datavalue: Option[QtyDV])
final case class QtyClaim(mainsnak: Option[QtySnak], qualifiers: Option[Qualifiers])

final case class Claims(
    P31: Option[Seq[IdClaim]], P131: Option[Seq[IdClaim]],
    P17: Option[Seq[IdClaim]], P37: Option[Seq[IdClaim]],
    P2936: Option[Seq[IdClaim]], P1366: Option[Seq[IdClaim]],
    P576: Option[Seq[TimeClaim]],
    P297: Option[Seq[StrClaim]], P300: Option[Seq[StrClaim]],
    P424: Option[Seq[StrClaim]],
    P1705: Option[Seq[MonoClaim]], P1448: Option[Seq[MonoClaim]],
    P625: Option[Seq[CoordClaim]], P1082: Option[Seq[QtyClaim]])

final case class LabelV(language: Option[String], value: Option[String])

final case class Entity(
    id: Option[String],
    labels: Option[Map[String, LabelV]],
    claims: Option[Claims])

// ---- the 9 ingest-table rows (src/database.rs:5-49 / src/setup.sql) ----
final case class CountryRow(id: String, iso: String)
final case class ObjectLanguageRow(id: String, lang_id: String, lang_index: Long)
final case class LanguageRow(id: String, code: String)
final case class TERow(id: String, is_2nd: Boolean, iso: Option[String])
final case class TEParentRow(id: String, parent: String)
final case class CityRow(id: String, population: Option[Long],
    lat: Option[Double], lon: Option[Double])
final case class CityCountryRow(city: String, priority: Long, country: String)
final case class ObjectLabelRow(id: String, lang: String, label: String,
    native_order: Option[Long])
final case class MissingP17Row(id: String)

object EntityLogic {

  private def timeQual0(q: Option[Seq[TimeSnak]]): Option[TimeSnak] =
    q.flatMap(_.headOption)

  private def pieces(s: Option[TimeSnak]): (String, String, java.lang.Long) = s match {
    case Some(snak) =>
      val v = snak.datavalue.flatMap(_.value)
      (snak.snaktype.orNull,
        v.flatMap(_.time).orNull,
        v.flatMap(_.timezone).map(Long.box).orNull)
    case None => (null, null, null)
  }

  /** is_object_start_active over typed qualifiers (wiki_time.rs:139-163). */
  def startActive(q: Option[Qualifiers], now: WTime): Option[Boolean] = {
    val p580 = timeQual0(q.flatMap(_.P580))
    val (st, t, tz) = pieces(p580)
    WikiTime.startActive(p580.isDefined, st, t, tz, now)
  }

  /** is_object_end_active (wiki_time.rs:165-189). */
  def endActive(q: Option[Qualifiers], now: WTime): Option[Boolean] = {
    val p582 = timeQual0(q.flatMap(_.P582))
    val (st, t, tz) = pieces(p582)
    WikiTime.endActive(p582.isDefined, st, t, tz, now)
  }

  /** is_object_active (wiki_time.rs:191-201): no qualifiers object → true. */
  def active(q: Option[Qualifiers], now: WTime): Boolean =
    q.isEmpty ||
      (!endActive(q, now).contains(false) && !startActive(q, now).contains(false))

  /** Tombstone (wiki_data_line.rs:353-374): replaced-by (P1366, unless any
    * claim carries a non-empty P518 applies-to-part qualifier) or dissolved
    * (P576 non-empty). */
  def tombstoned(c: Claims): Boolean = {
    val replacedBy = c.P1366.exists { a =>
      val appliesToPart = a.exists(
        _.qualifiers.flatMap(_.P518).exists(_.nonEmpty))
      a.nonEmpty && !appliesToPart
    }
    replacedBy || c.P576.exists(_.nonEmpty)
  }

  /** is_subclass_of (wiki_data_line.rs:464-497): any P31 claim whose target
    * is in the set, is temporally active, and has no P1366 qualifier. */
  def isSubclassOf(c: Claims, classes: Set[String], now: WTime): Boolean =
    c.P31.exists(_.exists { p =>
      p.mainsnak.flatMap(_.datavalue).flatMap(_.value).flatMap(_.id) match {
        case Some(id) if classes.contains(id) =>
          active(p.qualifiers, now) &&
            p.qualifiers.flatMap(_.P1366).flatMap(_.headOption).isEmpty
        case _ => false
      }
    })

  /** Country branch (wiki_data_line.rs:376-390): first temporally-active
    * P297 claim; emit lowercased ISO if it has a string value. */
  def country(id: String, c: Claims, now: WTime): Option[CountryRow] =
    c.P297.flatMap { entries =>
      entries.find(e => active(e.qualifiers, now))
        .flatMap(_.mainsnak.flatMap(_.datavalue).flatMap(_.value))
        .map(iso => CountryRow(id, iso.toLowerCase(java.util.Locale.ROOT)))
    }

  /** Country official languages (wiki_data_line.rs:392-407): all active P37
    * claims; index counts only emitted (active, id-bearing) claims. Note:
    * unlike the TE variant there is NO snaktype check. */
  def countryLanguages(id: String, c: Claims, now: WTime): Seq[ObjectLanguageRow] =
    c.P37.map { langs =>
      var idx = 0L
      langs.flatMap { lang =>
        if (!active(lang.qualifiers, now)) None
        else lang.mainsnak.flatMap(_.datavalue).flatMap(_.value).flatMap(_.id).map { lid =>
          val r = ObjectLanguageRow(id, lid, idx); idx += 1; r
        }
      }
    }.getOrElse(Seq.empty)

  /** TE official/used languages (wiki_data_line.rs:58-85): P37, else (key
    * absent) P2936; requires snaktype == "value" AND active. */
  def teLanguages(id: String, c: Claims, now: WTime): Seq[ObjectLanguageRow] = {
    val langs = c.P37.orElse(c.P2936).getOrElse(Seq.empty)
    var idx = 0L
    langs.flatMap { lang =>
      if (!lang.mainsnak.flatMap(_.snaktype).contains("value")) None
      else if (!active(lang.qualifiers, now)) None
      else lang.mainsnak.flatMap(_.datavalue).flatMap(_.value).flatMap(_.id).map { lid =>
        val r = ObjectLanguageRow(id, lid, idx); idx += 1; r
      }
    }
  }

  /** TE row (wiki_data_line.rs:37-54): iso from P300[0] only when is_2nd. */
  def territorialEntity(id: String, c: Claims, is2nd: Boolean): TERow =
    TERow(id, is2nd,
      if (is2nd) c.P300.flatMap(_.headOption)
        .flatMap(_.mainsnak).flatMap(_.datavalue).flatMap(_.value)
      else None)

  /** P131 parent edges (wiki_data_line.rs:13-35), both TEs and settlements. */
  def parentEdges(id: String, c: Claims, now: WTime): Seq[TEParentRow] =
    c.P131.getOrElse(Seq.empty).flatMap { p =>
      if (!active(p.qualifiers, now)) None
      else p.mainsnak.flatMap(_.datavalue).flatMap(_.value).flatMap(_.id)
        .map(TEParentRow(id, _))
    }

  /** Plain label map (wiki_data_line.rs:87-103 / 268-284): every labels entry
    * with both fields, native_order = NULL. */
  def plainLabels(id: String, labels: Option[Map[String, LabelV]]): Seq[ObjectLabelRow] =
    labels.getOrElse(Map.empty).values.toSeq.flatMap { l =>
      for (lang <- l.language; v <- l.value)
        yield ObjectLabelRow(id, lang, v, None)
    }

  /** Native labels (wiki_data_line.rs:286-331): P1705 claims in order (no
    * active check); ONLY if the P1705 key is absent, active P1448 claims.
    * native_order counts emitted claims. */
  def nativeLabels(id: String, c: Claims, now: WTime): Seq[ObjectLabelRow] = {
    var idx = 0L
    c.P1705 match {
      case Some(claims) =>
        claims.flatMap { cl =>
          val v = cl.mainsnak.flatMap(_.datavalue).flatMap(_.value)
          for (lang <- v.flatMap(_.language); text <- v.flatMap(_.text)) yield {
            val r = ObjectLabelRow(id, lang, text, Some(idx)); idx += 1; r
          }
        }
      case None =>
        c.P1448.getOrElse(Seq.empty).flatMap { cl =>
          if (!active(cl.qualifiers, now)) None
          else {
            val v = cl.mainsnak.flatMap(_.datavalue).flatMap(_.value)
            for (lang <- v.flatMap(_.language); text <- v.flatMap(_.text)) yield {
              val r = ObjectLabelRow(id, lang, text, Some(idx)); idx += 1; r
            }
          }
        }
    }
  }

  /** City-country rows with priority (wiki_data_line.rs:137-163): claims at
    * index i → priority i if a P580 qualifier exists (even unparseable) else
    * 1000+i; inactive (ended or not-yet-started) claims skipped. First-wins
    * per country (the unique(city,country) INSERT OR IGNORE, setup.sql:60). */
  def cityCountries(id: String, c: Claims, now: WTime): Seq[CityCountryRow] = {
    val entries = c.P17.getOrElse(Seq.empty)
    val seen = scala.collection.mutable.HashSet.empty[String]
    entries.zipWithIndex.flatMap { case (e, i) =>
      val sa = startActive(e.qualifiers, now)
      val ea = endActive(e.qualifiers, now)
      if (ea.contains(false) || sa.contains(false)) None
      else {
        val priority = if (sa.isDefined) i.toLong else 1000L + i
        e.mainsnak.flatMap(_.datavalue).flatMap(_.value).flatMap(_.id)
          .filter(seen.add)
          .map(CityCountryRow(id, priority, _))
      }
    }
  }

  /** Latest population (wiki_data_line.rs:165-240): only claims with a
    * parseable P585 point-in-time and none of P518/P1539/P1540; unit must be
    * "1"; later-or-equal times win (>=, so array order breaks ties). */
  def population(c: Claims, now: WTime): Option[Long] = {
    var pop: Option[Long] = None
    var popTime: Option[WTime] = None
    for (entry <- c.P1082.getOrElse(Seq.empty)) {
      var newTime: Option[WTime] = None
      var skip = false
      entry.qualifiers.flatMap(_.P585).flatMap(_.headOption) match {
        case Some(pt) =>
          if (!pt.snaktype.contains("value")) skip = true
          else {
            val v = pt.datavalue.flatMap(_.value)
            (v.flatMap(_.time), v.flatMap(_.timezone)) match {
              case (Some(t), Some(tz)) => newTime = WikiTime.parse(t, tz.toInt)
              case _ => ()
            }
          }
        case None => ()
      }
      if (!skip) {
        val q = entry.qualifiers
        if (q.flatMap(_.P518).exists(_.nonEmpty)) newTime = None
        if (q.flatMap(_.P1539).exists(_.nonEmpty)) newTime = None
        if (q.flatMap(_.P1540).exists(_.nonEmpty)) newTime = None
        newTime match {
          case Some(nt) if popTime.forall(nt >= _) =>
            val v = entry.mainsnak.flatMap(_.datavalue).flatMap(_.value)
            (v.flatMap(_.amount), v.flatMap(_.unit)) match {
              case (Some(amount), Some(unit)) if unit == "1" =>
                WikiTime.parseQuantity(amount).foreach { value =>
                  pop = Some(value); popTime = Some(nt)
                }
              case _ => ()
            }
          case _ => ()
        }
      }
    }
    pop
  }

  /** Coordinates (wiki_data_line.rs:242-259): P625[0].mainsnak if snaktype
    * is "value" and both lat and lon are present. */
  def coordinates(c: Claims): Option[(Double, Double)] =
    c.P625.flatMap(_.headOption).flatMap(_.mainsnak).flatMap { snak =>
      if (!snak.snaktype.contains("value")) None
      else {
        val v = snak.datavalue.flatMap(_.value)
        for (lat <- v.flatMap(_.latitude); lon <- v.flatMap(_.longitude))
          yield (lat, lon)
      }
    }

  /** Language entity (wiki_data_line.rs:108-121): P424[0] string value. */
  def language(id: String, c: Claims): Option[LanguageRow] =
    c.P424.flatMap(_.headOption).flatMap(_.mainsnak)
      .flatMap(_.datavalue).flatMap(_.value)
      .map(LanguageRow(id, _))
}
