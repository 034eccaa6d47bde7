package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.util.sketch.BloomFilter

import graft.SparkSpec

/** The native-function table is the ONE list both install paths consume:
  * a session that only has the extension (no `register` call) resolves
  * and evaluates every name, and `register` alone installs the same set. */
class FunctionTableSpec extends SparkSpec {

  private val bloomHex = {
    val bloom = BloomFilter.create(16)
    bloom.putLong(7L)
    BloomMightContain.serialize(bloom).map("%02X".format(_)).mkString
  }

  // one evaluating query per table entry
  private val samples: Map[String, String] = Map(
    "dot_l" -> "SELECT dot_l(array(1L, 2L), array(3L, 4L))",
    "minhash_sigs" -> "SELECT minhash_sigs(array('a', 'b'), 4)",
    "lsh_bucket" -> "SELECT lsh_bucket(array(1L, 2L), 4)",
    "rp_project" -> "SELECT rp_project(array(1L, 2L), 4)",
    "intersect_size" -> "SELECT intersect_size(array('a', 'b'), array('b', 'c'))",
    "sparse_dot_l" ->
      "SELECT sparse_dot_l(array('a', 'b'), array(1L, 2L), array('b'), array(3L))",
    "pq_adc_l" -> "SELECT pq_adc_l(array(map(0L, 5L)), array(0L))",
    "ngram_hashes" -> "SELECT ngram_hashes(array('a', 'b', 'c'), 2)",
    "shingle_rle" -> "SELECT shingle_rle(array('a', 'b', 'c', 'd', 'e'))",
    "shingle_arr" -> "SELECT shingle_arr(array('a', 'b', 'c', 'd', 'e'))",
    "del1_hashes" -> "SELECT del1_hashes('abc')",
    "quantize_l" -> "SELECT quantize_l(array(0.5D, 1.5D))",
    "winnow_fps" -> "SELECT winnow_fps(array('a', 'b', 'c', 'd', 'e', 'f', 'g'))",
    "zorder2" -> "SELECT zorder2(3, 5)",
    "bloom_might_contain" -> s"SELECT bloom_might_contain(7L, X'$bloomHex')",
    "bitmap_agg" -> "SELECT bitmap_agg(id) FROM range(3)",
    "bitmap_cardinality" -> "SELECT bitmap_cardinality(bitmap_agg(id)) FROM range(3)",
    "bitmap_and_cardinality" ->
      "SELECT bitmap_and_cardinality(bitmap_agg(id), bitmap_agg(id)) FROM range(3)")

  private val names = VectorFunctions.table.map(_._1.funcName)

  private def installed(s: SparkSession): Set[String] =
    VectorFunctions.table.map(_._1)
      .filter(s.sessionState.functionRegistry.functionExists)
      .map(_.funcName).toSet

  private def assertEvaluates(s: SparkSession): Unit =
    for (n <- names) {
      val row = s.sql(samples(n)).head()
      assert(!row.isNullAt(0), s"$n evaluated to null")
    }

  test("every table entry has an evaluating sample, and names are unique") {
    assert(names.toSet == samples.keySet)
    assert(names.distinct.size == names.size)
  }

  test("a fresh session with the extension alone resolves and evaluates every name") {
    val fresh = spark.newSession()
    assert(installed(fresh) == names.toSet)
    assertEvaluates(fresh)
    assert(fresh.sql(samples("dot_l")).head().getLong(0) == 11L)
    assert(fresh.sql(samples("bloom_might_contain")).head().getBoolean(0))
    assert(fresh.sql(samples("bitmap_and_cardinality")).head().getLong(0) == 3L)
    VectorFunctions.register(fresh)
    assert(installed(fresh) == names.toSet)
  }

  test("register alone installs the same name set") {
    val fresh = spark.newSession()
    val reg = fresh.sessionState.functionRegistry
    VectorFunctions.table.foreach { case (id, _, _) => reg.dropFunction(id) }
    assert(installed(fresh).isEmpty)
    VectorFunctions.register(fresh)
    assert(installed(fresh) == names.toSet)
    assertEvaluates(fresh)
  }

  test("zorder2 keeps its arity check") {
    val e = intercept[Exception](spark.newSession().sql("SELECT zorder2(1, 2, 3)").head())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage.contains("exactly 2 arguments")), e.toString)
  }
}
