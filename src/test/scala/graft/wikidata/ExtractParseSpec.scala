package graft.wikidata

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.{FilterExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ObjectType

import graft.SparkSpec

/** `Extract.parse` against the columnar route it replaced, and the plan
  * shape that keeps that route from coming back.
  *
  * The oracle is the former parse: `from_json` with the entity schema,
  * `e.*`, `.as[Entity]`, then the typed `id.isDefined` filter. The parser
  * must return the same multiset of entities on the synthetic dump (poison
  * and >64 KiB pathology lines included), on every ExtractSpec fixture line
  * and on lines that are malformed in the ways a real dump can be. */
class ExtractParseSpec extends SparkSpec {
  import spark.implicits._

  private def oracle(lines: DataFrame): Dataset[Entity] =
    lines
      .filter(length(col("value")) > 1)
      .select(from_json(
        regexp_replace(col("value"), ",$", ""), Extract.entitySchema).as("e"))
      .select(col("e.*"))
      .as[Entity]
      .filter((e: Entity) => e.id.isDefined)

  private def multiset(ds: Dataset[Entity]): Map[Entity, Int] =
    ds.collect().groupBy(identity).view.mapValues(_.length).toMap

  private def assertSameEntities(lines: DataFrame): Int = {
    val want = multiset(oracle(lines))
    val got = multiset(Extract.parse(lines))
    val missing = want.keySet.diff(got.keySet).take(3)
    val extra = got.keySet.diff(want.keySet).take(3)
    assert(got == want,
      s"parse differs from the from_json route: missing $missing, extra $extra")
    want.values.sum
  }

  private def dumpLines(n: Long): DataFrame =
    spark.range(0, n, 1, 4).map(i => DumpGen.entityJson(i, n)).toDF("value")

  private def snak(value: String) =
    s"""{"mainsnak":{"snaktype":"value","datavalue":{"value":$value}}}"""

  private val p580 =
    """"qualifiers":{"P580":[{"snaktype":"value","datavalue":{"value":""" +
      """{"time":"+2000-01-01T00:00:00Z","timezone":"zz"}}}]}"""

  /** Malformed in the ways a dump line can be: a wrong JSON type under a
    * typed path, null maps, empty or id-less objects, a non-string id, a
    * truncated record and a line that is not JSON at all. */
  private val badLines: Seq[String] = Seq(
    s"""{"id":"QB1","claims":{"P297":[${snak("42")}]}},""",
    s"""{"id":"QB2","claims":{"P297":[${snak("""{"x":1}""")}]}},""",
    s"""{"id":"QB3","claims":{"P17":[{"mainsnak":{"snaktype":"value",""" +
      s""""datavalue":{"value":{"id":"Q1"}}},$p580}]},""" +
      """"labels":{"en":{"language":"en","value":"After"}}},""",
    """{"id":"QB4","labels":null},""",
    """{"id":"QB5","claims":{"P1082":[{"mainsnak":{"snaktype":"value",""" +
      """"datavalue":{"value":{"amount":"+5","unit":"1"}}},"qualifiers":""" +
      """{"P585":[{"snaktype":"value","datavalue":{"value":""" +
      """{"time":"+2000-00-00T00:00:00Z","timezone":[1]}}}]}}]}}""",
    "{}",
    """{"id":null},""",
    """{"id":7,"labels":{"en":{"language":"en","value":"Seven"}}}""",
    """{"id":"QB9","labels":{"en":{"language":"en","val""",
    "not json",
    """{"id":"QB11","labels":{"en":{"language":"en","value":"Kept"}}},""")

  /** The ends of a line that the sanitize steps look at: trailing commas,
    * a comma before a final line terminator (Java's `$` matches there),
    * lines of one character of each UTF-8 width, and the dump's wrappers. */
  private val edgeLines: Seq[String] = {
    Seq(",", ",,", ",\u2028", ",\u2029", ",\u0085", ",\n", ",\r", ",\r\n",
      "\u2028,", " ,", ",\u2028,").zipWithIndex.map { case (end, k) =>
        s"""{"id":"QE$k","labels":{"en":{"language":"en","value":"Edge"}}}$end"""
      } ++
      Seq("", ",", "[", "]", "\u00e9", "\u20ac", "\ud83d\ude00", "\r\n",
        ",\u2028", ",\u0085", "[,", "\u00e9,")
  }

  test("parse returns the from_json route's entities on the synthetic dump") {
    val n = 2000L
    val parsed = assertSameEntities(dumpLines(n))
    assert(parsed == n - n / 1000, "only the poison lines fail to parse")
  }

  test("parse returns the from_json route's entities on every fixture line") {
    val fixture = new ExtractSpec().lines
    assert(assertSameEntities(fixture.toDF("value")) > 0)
  }

  test("parse returns the from_json route's entities on malformed lines") {
    assertSameEntities(badLines.toDF("value"))
    badLines.foreach(l => assertSameEntities(Seq(l).toDF("value")))
  }

  test("parse sanitizes line ends as the length filter and the ,$ strip do") {
    assert(assertSameEntities(edgeLines.toDF("value")) > 0)
    // the sanitized text itself, since the parser can read past a comma
    val want = edgeLines.toDF("value")
      .select(when(length(col("value")) > 1, regexp_replace(col("value"), ",$", "")))
      .collect().map(_.getString(0)).toSeq
    val got = edgeLines.map(l => Option(Extract.sanitized(
      l.getBytes(java.nio.charset.StandardCharsets.UTF_8))).map(_.toString).orNull)
    assert(got == want)
  }

  /** Every node of an executed plan, through adaptive query stages, reused
    * exchanges and the plans of cached relations. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case r: ReusedExchangeExec => r +: nodes(r.child)
    case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
    case other => other +: other.children.flatMap(nodes)
  }

  test("parse carries each entity as one column") {
    assert(Extract.parse(dumpLines(1000)).schema.length == 1)
  }

  test("no operator of the nine tables' executed plans is too wide for " +
      "whole-stage codegen, and no typed filter over RawOut is left") {
    val conf = spark.sessionState.conf
    val tables = Extract(Extract.parse(dumpLines(1000)), ClassSets.seedsOnly,
      WikiTime.parse("+2026-01-01T00:00:00Z", 0).get)
    Extract.tableMap(tables).foreach { case (name, df) =>
      df.collect()
      val plan = nodes(df.queryExecution.executedPlan)
      assert(plan.exists(_.isInstanceOf[InMemoryTableScanExec]),
        s"$name: the guard must see the cached extraction plan")
      val wide = plan.filter(n => WholeStageCodegenExec.isTooManyFields(conf, n.schema))
      assert(wide.isEmpty, s"$name: operators wider than " +
        s"${conf.wholeStageMaxNumFields} nested fields: ${wide.map(_.nodeName)}")
      val rawOut = ObjectType(classOf[Extract.RawOut])
      val typed = plan.collect {
        case f: FilterExec if f.condition.exists(_.dataType == rawOut) => f
      }
      assert(typed.isEmpty, s"$name: typed filters over RawOut: $typed")
    }
  }
}
