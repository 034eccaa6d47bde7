package graft.functions

import scala.reflect.{ClassTag, classTag}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Native Catalyst expressions for the vector-similarity hot path.
  *
  * The built-in route — `aggregate(zip_with(v1, v2, (x, y) -> x * y), ...)` —
  * is evaluated by the interpreter (higher-order functions never enter
  * whole-stage codegen) and allocates a zipped array per row. On an all-pairs
  * or bucket-join rerank that's the dominant cost at any scale. This
  * expression compiles to a tight primitive loop over the two ArrayData
  * (no allocation, stays inside WholeStageCodegen), ~20× the interpreted
  * throughput.
  */
case class DotProductLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_l expects (array<bigint>, array<bigint>), " +
        s"got (${left.dataType.sql}, ${right.dataType.sql})")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "dot_l"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) { s += x.getLong(i) * y.getLong(i); i += 1 }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Runtime helper for [[MinHashSigs]]: one pass over the shingle array
  * computing ALL k per-permutation minima, ONE MD5 per shingle, one
  * MessageDigest reused for the whole row. Static entry point so generated
  * code can call it directly.
  *
  * Permutation scheme (shared verbatim with the DuckDB oracle): the base
  * hash is the first 4 digest bytes of md5(shingle) as an unsigned 32-bit
  * value h; permutation p maps it through the linear congruence
  * `(A(p)·h + B(p)) mod 2147483647`. One digest feeds all k permutations —
  * at 100 TB this is the difference between 1 and k MD5 passes over the
  * corpus — and the signature values are BIGINTs, so band keys downstream
  * are two 8-byte join columns instead of 32-char hex strings. */
object MinHashImpl {
  val Mod: Long = 2147483647L // 2^31 - 1 (prime)
  // Arbitrary fixed odd multipliers/offsets < 2^23 / 2^30: A·h + B stays
  // far below 2^63 for any 32-bit h, so the arithmetic is overflow-free in
  // both Spark (ANSI) and DuckDB.
  val A: Array[Long] = Array(976369L, 1982627L, 2916197L, 3946649L,
    4975303L, 6012269L, 7045003L, 8095789L)
  val B: Array[Long] = Array(178291199L, 282578489L, 378291191L, 477218579L,
    581030603L, 685983289L, 786432001L, 881930311L)

  def compute(shingles: ArrayData, k: Int): ArrayData = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val minima = new Array[Long](k)
    java.util.Arrays.fill(minima, Long.MaxValue)
    val n = shingles.numElements()
    var i = 0
    while (i < n) {
      val s = shingles.getUTF8String(i)
      if (s != null) {
        val dig = md.digest(s.getBytes) // digest() resets the MessageDigest
        val h = ((dig(0) & 0xffL) << 24) | ((dig(1) & 0xffL) << 16) |
          ((dig(2) & 0xffL) << 8) | (dig(3) & 0xffL)
        var p = 0
        while (p < k) {
          val v = (A(p) * h + B(p)) % Mod
          if (v < minima(p)) minima(p) = v
          p += 1
        }
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      minima.map(m => if (m == Long.MaxValue) null else java.lang.Long.valueOf(m)))
  }
}

/** `minhash_sigs(shingles, k)` → array of the k MinHash signature values
  * (min over shingles of `(A(p)·h32(md5(shingle)) + B(p)) mod (2^31-1)`,
  * p = 0..k-1) — semantically identical to k separate
  * `array_min(transform(shingles, s -> (A·conv(substring(md5(s),1,8),16,10)
  * + B) % M))` columns, but one MD5 and one pass per shingle, no lambda
  * interpretation, no intermediate arrays. */
case class MinHashSigs(child: Expression, k: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.StringType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_sigs expects array<string>, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(LongType)
  override def prettyName: String = "minhash_sigs"

  override def nullSafeEval(input: Any): Any =
    MinHashImpl.compute(input.asInstanceOf[ArrayData], k)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHashImpl.compute($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Runtime helper for [[LshBucket]]: the deterministic ±1 hyperplane matrix
  * — w(p)(d) = parity of the first hex digit of md5("p:d"), d 1-based, same
  * arithmetic the DuckDB oracle evaluates — computed once per
  * (numPlanes, dims) and cached process-wide, so per row the work is one
  * primitive multiply-add loop. */
object LshBucketImpl {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Int]]]()

  private[functions] def planes(numPlanes: Int, dims: Int): Array[Array[Int]] =
    cache.computeIfAbsent((numPlanes, dims), { key: (Int, Int) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      Array.tabulate(key._1) { p =>
        Array.tabulate(key._2) { d0 =>
          md.reset()
          val dig = md.digest(s"$p:${d0 + 1}".getBytes("UTF-8"))
          ((((dig(0) >> 4) & 0xf) % 2) * 2) - 1
        }
      }
    })

  def compute(v: ArrayData, numPlanes: Int): Int = {
    val n = v.numElements()
    val w = planes(numPlanes, n)
    var bucket = 0
    var p = 0
    while (p < numPlanes) {
      val wp = w(p)
      var s = 0L
      var d = 0
      while (d < n) { s += v.getLong(d) * wp(d); d += 1 }
      if (s > 0) bucket |= 1 << p
      p += 1
    }
    bucket
  }
}

/** `lsh_bucket(v, numPlanes)` → the random-hyperplane signature of a
  * quantized vector: bit p set iff Σ_d v[d]·w(p,d) > 0. Semantically the
  * nested `aggregate(sequence(...), aggregate(...))` HOF form, but that runs
  * in the Catalyst interpreter (8×64 lambda evaluations per row); this is a
  * codegen'd primitive loop against a cached plane matrix. */
case class LshBucket(child: Expression, numPlanes: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"lsh_bucket expects array<bigint>, got ${other.sql}")
  }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "lsh_bucket"

  override def nullSafeEval(input: Any): Any =
    LshBucketImpl.compute(input.asInstanceOf[ArrayData], numPlanes)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.LshBucketImpl.compute($c, $numPlanes)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Runtime helper for [[RpProject]]: the FULL Rademacher projection against
  * [[LshBucketImpl]]'s cached ±1 plane matrix — where lsh_bucket keeps only
  * the SIGN of each plane's dot product (1 bit), rp_project keeps the whole
  * integer sum (the Johnson–Lindenstrauss projected coordinate). */
object RpProjectImpl {
  def compute(v: ArrayData, numPlanes: Int): ArrayData = {
    val n = v.numElements()
    val w = LshBucketImpl.planes(numPlanes, n)
    val out = new Array[Any](numPlanes)
    var p = 0
    while (p < numPlanes) {
      val wp = w(p)
      var s = 0L
      var d = 0
      while (d < n) { s += v.getLong(d) * wp(d); d += 1 }
      out(p) = s
      p += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** `rp_project(v, numPlanes)` → the dense random projection of a quantized
  * vector: out[p] = Σ_d v[d]·w(p,d) over the same md5-parity ±1 planes as
  * [[LshBucket]]. Codegen'd primitive loop; exact BIGINT output, so both
  * engines agree bit-for-bit. */
case class RpProject(child: Expression, numPlanes: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"rp_project expects array<bigint>, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "rp_project"

  override def nullSafeEval(input: Any): Any =
    RpProjectImpl.compute(input.asInstanceOf[ArrayData], numPlanes)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.RpProjectImpl.compute($c, $numPlanes)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Runtime helper for [[NGramHashes]]: one MessageDigest and one
  * StringBuilder reused across every n-gram of the row. */
object NGramHashImpl {
  /** 60-bit md5-prefix hash of each n-token gram of `toks` joined with a
    * single space — bit-identical to the built-in chain
    * `conv(substring(md5(concat_ws(' ', slice(toks, i, n))), 1, 15), 16, 10)`
    * (15 hex chars = digest bytes 0..6 plus the high nibble of byte 7),
    * including concat_ws's null-skipping. Returns one long per gram,
    * empty array when the row has fewer than n tokens. */
  def compute(toks: ArrayData, n: Int): ArrayData = {
    val cnt = toks.numElements() - n + 1
    if (cnt <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Any])
    val md = java.security.MessageDigest.getInstance("MD5")
    val sb = new java.lang.StringBuilder(64)
    val out = new Array[Any](cnt)
    var i = 0
    while (i < cnt) {
      sb.setLength(0)
      var first = true
      var j = 0
      while (j < n) {
        val s = toks.getUTF8String(i + j)
        if (s != null) {
          if (!first) sb.append(' ')
          sb.append(s.toString)
          first = false
        }
        j += 1
      }
      val dig = md.digest(sb.toString.getBytes("UTF-8"))
      var h = 0L
      var k = 0
      while (k < 7) { h = (h << 8) | (dig(k) & 0xffL); k += 1 }
      h = (h << 4) | ((dig(7) >> 4) & 0xfL)
      out(i) = h
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** `ngram_hashes(toks, n)` → array of 60-bit hashes of the n-token grams —
  * the decontamination/fingerprint hot path. The built-in form
  * (`transform(sequence(...), i -> conv(substring(md5(concat_ws(...)), ...)))`)
  * interprets a lambda and materializes each gram string through four
  * expression nodes per element; this is one codegen'd call reusing a
  * single digest and buffer per row. */
case class NGramHashes(child: Expression, n: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.StringType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"ngram_hashes expects array<string>, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "ngram_hashes"

  override def nullSafeEval(input: Any): Any =
    NGramHashImpl.compute(input.asInstanceOf[ArrayData], n)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NGramHashImpl.compute($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Runtime helper for [[SparseDotLong]]: two-pointer merge over two
  * key-sorted parallel posting arrays — Σ c1[i]·c2[j] over positions with
  * equal keys. Keys must be sorted by Spark's binary string ordering (what
  * `sort_array` over `struct(s, ct)` produces), so equality scans are one
  * linear merge with no hashing and no per-pair allocation. */
object SparseDotImpl {
  def compute(s1: ArrayData, c1: ArrayData, s2: ArrayData, c2: ArrayData): Long = {
    val n1 = s1.numElements()
    val n2 = s2.numElements()
    var i = 0
    var j = 0
    var acc = 0L
    while (i < n1 && j < n2) {
      val c = s1.getUTF8String(i).compareTo(s2.getUTF8String(j))
      if (c == 0) { acc += c1.getLong(i) * c2.getLong(j); i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    acc
  }
}

/** `sparse_dot_l(keys1, cts1, keys2, cts2)` → the sparse dot product of two
  * (key-sorted array<string>, array<bigint>) count-vector encodings:
  * Σ cts1[i]·cts2[j] over matching keys. Semantically the posting-list join
  * `SELECT SUM(a.ct*b.ct) FROM p1 a JOIN p2 b USING (s)` per pair, but as
  * one codegen'd merge over the pair's two arrays — the candidate-verify
  * hot path pays O(|p1|+|p2|) per pair with zero intermediate rows, where
  * the join form materializes |pairs|×|postings-per-doc| rows into a
  * shuffle+aggregate (71.6M rows for 1.12M candidates at sf0.1). */
case class SparseDotLong(first: Expression, second: Expression,
    third: Expression, fourth: Expression)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(first, third).forall(_.dataType match {
      case ArrayType(org.apache.spark.sql.types.StringType, _) => true
      case _ => false
    }) && Seq(second, fourth).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "sparse_dot_l expects (array<string>, array<bigint>, array<string>, " +
        s"array<bigint>), got (${first.dataType.sql}, ${second.dataType.sql}, " +
        s"${third.dataType.sql}, ${fourth.dataType.sql})")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "sparse_dot_l"

  override def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    SparseDotImpl.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      c.asInstanceOf[ArrayData], d.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c, d) =>
      s"graft.functions.SparseDotImpl.compute($a, $b, $c, $d)")

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression,
      newFourth: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird,
      fourth = newFourth)
}

/** Runtime helper for [[PqAdcLong]]: Σ_m luts[m][codes[m]] over parallel
  * arrays — the PQ asymmetric-distance accumulation. Key lookup is a
  * linear scan of each map's key array (codebooks are dictionary-sized),
  * but in one compiled loop instead of M interpreted element_at lambdas.
  * A missing key yields null, matching
  * `aggregate(zip_with(luts, codes, (mp, cd) -> element_at(mp, cd)), ...)`. */
object PqAdcImpl {
  def compute(luts: ArrayData, codes: ArrayData): Any = {
    // zip_with pads the shorter side with null → element_at → null sum,
    // so ANY length mismatch nulls the HOF form's result; mirror it
    if (luts.numElements() != codes.numElements()) return null
    val m = luts.numElements()
    var acc = 0L
    var i = 0
    while (i < m) {
      val mp = luts.getMap(i)
      val code = codes.getLong(i)
      val keys = mp.keyArray()
      val n = keys.numElements()
      var j = 0
      var found = false
      while (j < n && !found) {
        if (keys.getLong(j) == code) {
          acc += mp.valueArray().getLong(j)
          found = true
        }
        j += 1
      }
      if (!found) return null
      i += 1
    }
    acc
  }
}

/** `pq_adc_l(luts, codes)` ≡
  * `aggregate(zip_with(luts, codes, (mp, cd) -> element_at(mp, cd)), 0L,
  * (acc, x) -> acc + x)` for (array<map<bigint,bigint>>, array<bigint>) —
  * the ADC hot path as one codegen'd loop. The HOF form interprets two
  * lambdas and a per-element map probe for every (query, candidate) row. */
case class PqAdcLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = (left.dataType match {
      case ArrayType(org.apache.spark.sql.types.MapType(LongType, LongType, _), _) => true
      case _ => false
    }) && (right.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "pq_adc_l expects (array<map<bigint,bigint>>, array<bigint>), got " +
        s"(${left.dataType.sql}, ${right.dataType.sql})")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "pq_adc_l"

  override def nullSafeEval(a: Any, b: Any): Any =
    PqAdcImpl.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("r")
      s"""
         |Object $r = graft.functions.PqAdcImpl.compute($a, $b);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ((Long) $r).longValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Runtime helper for [[IntersectSize]]. */
object IntersectSizeImpl {
  /** Count of DISTINCT common elements, null matching null — exactly
    * `size(array_intersect(a, b))` for array<string> inputs, without
    * building the intersection array. */
  def compute(a: ArrayData, b: ArrayData): Int = {
    val right = new java.util.HashSet[org.apache.spark.unsafe.types.UTF8String]()
    var rightNull = false
    var i = 0
    val nb = b.numElements()
    while (i < nb) {
      val s = b.getUTF8String(i)
      if (s == null) rightNull = true else right.add(s)
      i += 1
    }
    val seen = new java.util.HashSet[org.apache.spark.unsafe.types.UTF8String]()
    var seenNull = false
    var n = 0
    var j = 0
    val na = a.numElements()
    while (j < na) {
      val s = a.getUTF8String(j)
      if (s == null) {
        if (rightNull && !seenNull) { n += 1; seenNull = true }
      } else if (right.contains(s) && seen.add(s)) n += 1
      j += 1
    }
    n
  }
}

/** `intersect_size(a, b)` ≡ `size(array_intersect(a, b))` for two
  * array<string> columns, as one codegen'd hash-probe pass with no
  * intersection-array allocation — the shape of the Jaccard verification
  * hot path, where candidates × array materialization is real memory
  * traffic at scale. Installed automatically by the optimizer rule
  * [[graft.plans.RewriteIntersectSize]]. */
case class IntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(org.apache.spark.sql.types.StringType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"intersect_size expects (array<string>, array<string>), " +
        s"got (${left.dataType.sql}, ${right.dataType.sql})")
  }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "intersect_size"

  override def nullSafeEval(a: Any, b: Any): Any =
    IntersectSizeImpl.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.IntersectSizeImpl.compute($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Runtime helper for [[ShingleRle]]: build the word-trigram shingles of a
  * token array, count duplicates locally, and emit the doc's count vector as
  * key-sorted parallel arrays plus its squared L2 norm — one compiled pass
  * per row. Equals the pipeline it replaces exactly:
  *   `transform(sequence(1, greatest(size(tk)-2, 1)), i -> concat(tk[i], ' ',
  *   tk[i+1], ' ', tk[i+2]))` → explode → filter NOT NULL →
  *   groupBy(doc_id, s).count — but the per-(doc,s) counting is local to the
  *   row (a doc's shingles all live in its own token array), so the
  *   corpus-wide (doc_id, s) exchange, the sort_array(collect_list) docvec
  *   aggregate and the Σct² aggregate all collapse into this expression.
  * Keys are sorted by Spark's binary string order (UTF8String.compareTo —
  * what sort_array produces), the contract [[SparseDotImpl]]'s merge needs.
  * A doc with fewer than 3 tokens has no complete trigram (the concat form
  * yields null there and is filtered) → empty arrays, n2 = 0. */
object ShingleRleImpl {
  private val Space = org.apache.spark.unsafe.types.UTF8String.fromString(" ")

  /** The doc's non-null word-trigram shingles in positional order — the
    * value set of `filter(transform(sequence(1, greatest(n-2, 1)),
    * i -> concat(tk[i], ' ', tk[i+1], ' ', tk[i+2])), x -> x IS NOT NULL)`
    * (empty when no complete trigram exists, the oracle's list-indexing
    * semantics). Returns the filled prefix length in `outLen(0)`. */
  private[functions] def trigrams(
      tk: ArrayData,
      outLen: Array[Int]): Array[org.apache.spark.unsafe.types.UTF8String] = {
    val cnt = tk.numElements() - 2
    if (cnt <= 0) { outLen(0) = 0; return ShingleRleImpl.NoShingles }
    val sh = new Array[org.apache.spark.unsafe.types.UTF8String](cnt)
    var m = 0
    var i = 0
    while (i < cnt) {
      val a = tk.getUTF8String(i)
      val b = tk.getUTF8String(i + 1)
      val c = tk.getUTF8String(i + 2)
      // a null token would null the concat and be filtered in the old form
      if (a != null && b != null && c != null) {
        sh(m) = org.apache.spark.unsafe.types.UTF8String.concat(a, Space, b, Space, c)
        m += 1
      }
      i += 1
    }
    outLen(0) = m
    sh
  }

  private[functions] val NoShingles =
    new Array[org.apache.spark.unsafe.types.UTF8String](0)

  def compute(tk: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val len = new Array[Int](1)
    val sh = trigrams(tk, len)
    val m = len(0)
    if (m == 0) {
      val empty = Array.empty[Any]
      return new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](new org.apache.spark.sql.catalyst.util.GenericArrayData(empty),
          new org.apache.spark.sql.catalyst.util.GenericArrayData(empty), 0L))
    }
    // natural order: UTF8String.compareTo = binary string order
    java.util.Arrays.sort(sh.asInstanceOf[Array[AnyRef]], 0, m)
    val ss = new Array[Any](m)
    val cs = new Array[Any](m)
    var d = 0
    var n2 = 0L
    var j = 0
    while (j < m) {
      var k = j + 1
      while (k < m && sh(k).equals(sh(j))) k += 1
      val ct = (k - j).toLong
      ss(d) = sh(j)
      cs(d) = ct
      n2 += ct * ct
      d += 1
      j = k
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        java.util.Arrays.copyOf(ss.asInstanceOf[Array[AnyRef]], d).asInstanceOf[Array[Any]]),
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        java.util.Arrays.copyOf(cs.asInstanceOf[Array[AnyRef]], d).asInstanceOf[Array[Any]]),
      n2))
  }
}

/** `shingle_rle(tk)` → `struct(ss array<string>, cs array<bigint>, n2 bigint)`
  * — the doc's distinct word-trigram shingles (key-sorted), their counts,
  * and Σ ct². One codegen'd pass replacing tokenize-HOF + explode +
  * groupBy(doc_id, s) + two more per-doc aggregates on the sparse-cosine
  * path (guide §4: the per-(doc,s) count never needed a shuffle — the
  * group key's doc_id component makes every group row-local). */
case class ShingleRle(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.StringType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"shingle_rle expects array<string>, got ${other.sql}")
  }
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("ss",
      ArrayType(org.apache.spark.sql.types.StringType, containsNull = false),
      nullable = false),
    org.apache.spark.sql.types.StructField("cs",
      ArrayType(LongType, containsNull = false), nullable = false),
    org.apache.spark.sql.types.StructField("n2", LongType, nullable = false)))
  override def prettyName: String = "shingle_rle"

  override def nullSafeEval(input: Any): Any =
    ShingleRleImpl.compute(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleRleImpl.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `shingle_arr(tk)` → the doc's word-trigram shingles in positional order
  * (non-null, empty when fewer than 3 tokens) — a codegen'd drop-in for the
  * interpreted HOF `transform(sequence(1, greatest(size(tk)-2, 1)),
  * i -> concat(tk[i], ' ', tk[i+1], ' ', tk[i+2]))` every shingle consumer
  * projects (guide §4). Values are identical for any doc with ≥ 3 tokens;
  * shorter docs yield the empty array where the HOF form yields [null] —
  * both are invisible to every consumer (the null filter, array_distinct,
  * and minhash's null-skip all erase the difference, and no corpus doc has
  * fewer than 3 tokens). */
case class ShingleArr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.StringType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"shingle_arr expects array<string>, got ${other.sql}")
  }
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)
  override def prettyName: String = "shingle_arr"

  override def nullSafeEval(input: Any): Any =
    ShingleArrImpl.compute(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleArrImpl.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Runtime helper for [[ShingleArr]]. */
object ShingleArrImpl {
  def compute(tk: ArrayData): ArrayData = {
    val len = new Array[Int](1)
    val sh = ShingleRleImpl.trigrams(tk, len)
    val out = new Array[Any](len(0))
    var i = 0
    while (i < len(0)) { out(i) = sh(i); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Runtime helper for [[WinnowFps]]: the winnowing fingerprint SET of a
  * token array in one compiled pass. Gram hashes come from
  * [[NGramHashImpl]] (n = 3) — bit-identical to
  * `conv(substring(md5(shingle), 1, 15), 16, 10)` per gram — then each
  * length-4 window's minimum is kept for windows ending at gram index ≥ 3
  * (the `idx >= 3` full-window rule) and the DISTINCT minima are returned
  * sorted. Replaces posexplode → md5/conv per row → window
  * (partitionBy doc ORDER BY idx ROWS 3 PRECEDING) → distinct: the window's
  * doc-partition exchange+sort and the distinct's exchange both collapse —
  * a doc's fingerprint set is a pure function of its own token array. */
object WinnowFpsImpl {
  def compute(tk: ArrayData): ArrayData = {
    val hsData = NGramHashImpl.compute(tk, 3)
    val m = hsData.numElements()
    if (m < 4)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Any])
    val hs = hsData.toLongArray()
    val set = new java.util.HashSet[java.lang.Long]()
    var j = 3
    while (j < m) {
      var mn = hs(j)
      if (hs(j - 1) < mn) mn = hs(j - 1)
      if (hs(j - 2) < mn) mn = hs(j - 2)
      if (hs(j - 3) < mn) mn = hs(j - 3)
      set.add(mn)
      j += 1
    }
    val out = new Array[Long](set.size())
    val it = set.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    java.util.Arrays.sort(out)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      out.map(java.lang.Long.valueOf(_): Any))
  }
}

/** `winnow_fps(tk)` → sorted array of the doc's DISTINCT winnowing
  * fingerprints (window w = 4 over the word-trigram gram hashes, full
  * windows only). The fingerprint VALUES are exactly the old pipeline's:
  * same 60-bit md5-prefix gram hash, same window minima, same distinct
  * set — only the per-doc exchange+sort and the distinct shuffle are gone
  * (guide §2: the whole derivation is row-local). */
case class WinnowFps(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.StringType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"winnow_fps expects array<string>, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fps"

  override def nullSafeEval(input: Any): Any =
    WinnowFpsImpl.compute(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WinnowFpsImpl.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Runtime helper for [[Del1Hashes]]: the FastSS deletion-neighborhood
  * keys of a word — xxhash64 (seed 42, Spark's default) of the word itself
  * and of each one-character deletion, deduplicated, sorted. One compiled
  * pass per row, replacing the interpreted
  * `array_distinct(concat(array(w), transform(sequence(1, length(w)),
  * i -> concat(substring(w, 1, i-1), substring(w, i+1)))))` → explode →
  * xxhash64 chain. Dedup is over the HASHES where the old form dedups the
  * key STRINGS — indistinguishable downstream: the self-join's candidate
  * multiplicity is erased by the exact-confirm + distinct that follows
  * (and equal hashes from unequal keys would only drop a duplicate
  * candidate row, never a candidate). */
object Del1HashesImpl {
  import org.apache.spark.unsafe.types.UTF8String

  private def hash(s: UTF8String): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      s, org.apache.spark.sql.types.StringType, 42L)

  def compute(w: UTF8String): ArrayData = {
    val n = w.numChars()
    val set = new java.util.HashSet[java.lang.Long](n + 2)
    set.add(hash(w))
    var i = 1
    while (i <= n) {
      val del = UTF8String.concat(
        w.substringSQL(1, i - 1), w.substringSQL(i + 1, Integer.MAX_VALUE))
      set.add(hash(del))
      i += 1
    }
    val out = new Array[Long](set.size())
    val it = set.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    java.util.Arrays.sort(out)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      out.map(java.lang.Long.valueOf(_): Any))
  }
}

/** `del1_hashes(w)` → sorted distinct xxhash64 keys of the FastSS deletion
  * neighborhood {w} ∪ {w minus char i} — tx27's candidate-index hot path
  * as one codegen'd pass (guide §4). */
case class Del1Hashes(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"del1_hashes expects string, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "del1_hashes"

  override def nullSafeEval(input: Any): Any =
    Del1HashesImpl.compute(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Del1HashesImpl.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Runtime helper for [[QuantizeVec]]: floor(x · 1000) per element,
  * cast-to-long with Spark's non-ANSI double→long semantics (Scala
  * `.toLong` — NaN → 0, ±Inf → Long.Min/MaxValue), null elements kept
  * null — bit-identical to the interpreted HOF
  * `transform(embedding, x -> CAST(floor(x * 1000) AS BIGINT))` on the
  * SAME element type. The corpus stores FLOAT vectors; Spark's coercion
  * widens float × int to a DOUBLE multiply (measured: -0.001f quantizes
  * to -2, the double-product floor — a float-precision multiply would
  * round to -1.0 and give -1), so the float path widens FIRST and
  * multiplies in double. */
object QuantizeVecImpl {
  def computeF(v: ArrayData): ArrayData = {
    val n = v.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) = if (v.isNullAt(i)) null
               else java.lang.Math.floor(v.getFloat(i).toDouble * 1000d).toLong
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
  def computeD(v: ArrayData): ArrayData = {
    val n = v.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) = if (v.isNullAt(i)) null
               else java.lang.Math.floor(v.getDouble(i) * 1000d).toLong
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** `quantize_l(embedding)` → the integer-quantized vector floor(x·1000) —
  * a codegen'd drop-in for the interpreted per-element HOF every
  * embeddings consumer projects (guide §4: the corpus-wide quantize pass
  * riding ahead of EVERY vector query was an interpreted lambda). */
case class QuantizeVec(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.FloatType, _) |
         ArrayType(org.apache.spark.sql.types.DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"quantize_l expects array<float|double>, got ${other.sql}")
  }
  private def isFloat: Boolean = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.FloatType, _) => true
    case _ => false
  }
  // mirror the input's element nullability (exactly what the HOF's
  // transform + null-propagating cast produced)
  override def dataType: DataType = ArrayType(LongType,
    containsNull = child.dataType.asInstanceOf[ArrayType].containsNull)
  override def prettyName: String = "quantize_l"

  override def nullSafeEval(input: Any): Any =
    if (isFloat) QuantizeVecImpl.computeF(input.asInstanceOf[ArrayData])
    else QuantizeVecImpl.computeD(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = if (isFloat) "computeF" else "computeD"
    defineCodeGen(ctx, ev, c => s"graft.functions.QuantizeVecImpl.$fn($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VectorFunctions {
  /** The ONE table of the engine's native expressions, as
    * (name, info, builder). [[graft.GraftExtensions]] injects every entry
    * into each session it is installed in; [[register]] adds them to a
    * session that lacks the extension. */
  val table: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    fn[DotProductLong]("dot_l")(a => DotProductLong(a(0), a(1))),
    fn[MinHashSigs]("minhash_sigs")(a =>
      MinHashSigs(a(0), a(1).eval().asInstanceOf[Int])),
    fn[LshBucket]("lsh_bucket")(a =>
      LshBucket(a(0), a(1).eval().asInstanceOf[Int])),
    fn[RpProject]("rp_project")(a =>
      RpProject(a(0), a(1).eval().asInstanceOf[Int])),
    fn[IntersectSize]("intersect_size")(a => IntersectSize(a(0), a(1))),
    fn[SparseDotLong]("sparse_dot_l")(a =>
      SparseDotLong(a(0), a(1), a(2), a(3))),
    fn[PqAdcLong]("pq_adc_l")(a => PqAdcLong(a(0), a(1))),
    fn[NGramHashes]("ngram_hashes")(a =>
      NGramHashes(a(0), a(1).eval().asInstanceOf[Int])),
    fn[ShingleRle]("shingle_rle")(a => ShingleRle(a(0))),
    fn[ShingleArr]("shingle_arr")(a => ShingleArr(a(0))),
    fn[Del1Hashes]("del1_hashes")(a => Del1Hashes(a(0))),
    fn[QuantizeVec]("quantize_l")(a => QuantizeVec(a(0))),
    fn[WinnowFps]("winnow_fps")(a => WinnowFps(a(0))),
    fn[ZOrder2]("zorder2") { a =>
      // explicit arity check: surplus args must not be silently dropped
      // (zorder2(x, y, z) returning the 2-D key would mis-cluster data)
      if (a.length != 2) throw new IllegalArgumentException(
        s"zorder2 expects exactly 2 arguments, got ${a.length}")
      ZOrder2(a(0), a(1))
    },
    fn[BloomMightContain]("bloom_might_contain")(a =>
      BloomMightContain(a(0), a(1))),
    fn[BitmapAgg]("bitmap_agg")(a => BitmapAgg(a.head).toAggregateExpression()),
    fn[BitmapCardinality]("bitmap_cardinality")(a => BitmapCardinality(a.head)),
    fn[BitmapAndCardinality]("bitmap_and_cardinality")(a =>
      BitmapAndCardinality(a(0), a(1))))

  private def fn[T: ClassTag](name: String)(build: Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo(classTag[T].runtimeClass.getName, name), build)

  /** Registers the [[table]] so operators can use it in `expr(...)`
    * strings. Registration is skipped when the name already exists (the
    * extension is installed, or an earlier call ran), so repeated calls
    * (one per query build) stay silent — re-registering would WARN-spam
    * the log. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    for ((id, info, build) <- table if !reg.functionExists(id))
      reg.registerFunction(id, info, build)
  }
}
