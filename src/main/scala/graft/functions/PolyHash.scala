package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native kernels for the engine-wide polynomial rolling hash
  *   h(s) = fold (acc·31 + codepoint(c)) mod 1 000 000 007 over the
  * characters of `s` — the deterministic token/shingle hash every dedup
  * and sketch family shares with its DuckDB oracle (DedupQueries header).
  *
  * The relational spelling, `aggregate(split(s, ''), 0L, (acc, ch) ->
  * (acc*31 + ascii(ch)) % 1000000007L)`, is an interpreted higher-order
  * fold that first materializes one single-character UTF8String per input
  * character (the measured r17 HOF-vs-expression gap on the SWAR kernel
  * was ~9×; optimization guide §1.2 "per-task work"). These expressions
  * compute the IDENTICAL values in one codegen'd pass over the UTF-8
  * bytes:
  *
  *  - `poly_hash(s)`           — the fold itself (ascii() returns the
  *    first CODEPOINT in Spark, so the unit is code points, matching
  *    DuckDB's string_split(s,'') / ascii pair);
  *  - `gram_hashes(ts, n)`     — the in-sequence word-n-gram hash stream
  *    `transform(sequence(0, size(ts)-n), i -> poly_hash(concat_ws(' ',
  *    ts[i], …, ts[i+n-1])))`, composed from ONE hash of each token via
  *    exact mod algebra — h(a ++ b) = (h(a)·31^|b| + h(b)) mod p with
  *    |b| = codepoints(b) — so each character is hashed once instead of
  *    n times (the r18 "rolling-hash composition" lead). concat_ws
  *    semantics are preserved exactly: NULL tokens are skipped with no
  *    separator, empty tokens keep their separators. Callers filter
  *    size(ts) >= n first (as every existing site does); for shorter
  *    arrays the result is empty rather than the descending-sequence
  *    accident of the HOF spelling.
  *  - `sliding_min(hs, w)`     — the winnowing selection
  *    `when(size(hs) >= w, transform(sequence(0, size(hs)-w), p ->
  *    array_min(slice(hs, p+1, w)))).otherwise(array(array_min(hs)))`
  *    as one monotone-deque pass (O(n) instead of O(n·w) slice
  *    allocations).
  *
  * Equality with the HOF forms is pinned value-by-value in PolyHashSpec
  * (fixture text + adversarial unicode/empty/whitespace cases), and every
  * SQL twin keeps the HOF spelling, so SqlParitySpec re-proves the
  * equivalence on real data each run. Overflow safety: all accumulators
  * stay < p < 2^30, so products with 31 or with 31^k mod p fit in a Long
  * (< 2^60).
  */
case class PolyHash(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"poly_hash requires STRING, got ${other.catalogString}")
  }

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    PolyHash.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.PolyHash$$.MODULE$$.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): PolyHash =
    copy(child = newChild)
}

object PolyHash {

  val P: Long = 1000000007L

  /** The fold over the characters `split(s, '')` yields, each valued
    * as `ascii` values it (its first code point). ASCII fast path: while
    * every byte is below 0x80 the bytes ARE the code points. Any other
    * byte sends the string through [[computeDecoded]] — counting
    * characters instead (numBytes == numChars) would keep malformed
    * UTF-8 on the byte path and fold raw negative bytes.
    */
  def compute(s: UTF8String): Long = {
    val nb = s.numBytes
    var acc = 0L
    var i = 0
    while (i < nb) {
      val b = s.getByte(i)
      if (b < 0) return computeDecoded(s)
      acc = (acc * 31L + b) % P
      i += 1
    }
    acc
  }

  /** Valid UTF-8: fold the decoded code points. Malformed UTF-8: fold
    * the split characters one by one (Spark's lead-byte lengths, each
    * decoded on its own, so a bad byte reads as U+FFFD exactly where
    * `ascii` of that character would).
    */
  private def computeDecoded(s: UTF8String): Long = {
    var acc = 0L
    if (s.isValid) {
      val str = s.toString
      var i = 0
      while (i < str.length) {
        val cp = str.codePointAt(i)
        acc = (acc * 31L + cp) % P
        i += Character.charCount(cp)
      }
    } else {
      val bytes = s.getBytes
      var i = 0
      while (i < bytes.length) {
        val len = math.min(UTF8String.numBytesForFirstByte(bytes(i)), bytes.length - i)
        val cp = new String(bytes, i, len, java.nio.charset.StandardCharsets.UTF_8).codePointAt(0)
        acc = (acc * 31L + cp) % P
        i += len
      }
    }
    acc
  }

  /** 31^chars(s) mod p — the composition weight of appending `s`. */
  def pow31(s: UTF8String): Long = {
    val n = s.numChars
    var r = 1L
    var b = 31L
    var e = n
    while (e > 0) {
      if ((e & 1) == 1) r = r * b % P
      b = b * b % P
      e >>= 1
    }
    r
  }

  private[graft] val injection
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("poly_hash"),
    new ExpressionInfo(classOf[PolyHash].getName, "poly_hash"),
    (children: Seq[Expression]) => {
      require(children.length == 1, "poly_hash takes 1 argument")
      PolyHash(children.head)
    })

  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      injection._1, injection._2, injection._3)
}

/** `gram_hashes(ts, n)` — see [[PolyHash]] header. `n` must be a
  * foldable positive integer.
  */
case class GramHashes(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), IntegerType) =>
        if (!right.foldable)
          TypeCheckResult.TypeCheckFailure("gram_hashes: n must be foldable")
        else TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"gram_hashes requires (ARRAY<STRING>, INT), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(arr: Any, n: Any): Any =
    GramHashes.compute(arr.asInstanceOf[ArrayData], n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, n) =>
      s"graft.functions.GramHashes$$.MODULE$$.compute($a, $n)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): GramHashes =
    copy(left = newLeft, right = newRight)
}

object GramHashes {

  import PolyHash.P

  def compute(arr: ArrayData, n: Int): ArrayData = {
    require(n > 0, "gram_hashes: n must be positive")
    val m = arr.numElements()
    if (m < n) return new GenericArrayData(Array.empty[Long])
    // one hash + one composition weight per token (each char hashed once)
    val h = new Array[Long](m)
    val pw = new Array[Long](m)
    val nul = new Array[Boolean](m)
    var i = 0
    while (i < m) {
      if (arr.isNullAt(i)) nul(i) = true
      else {
        val t = arr.getUTF8String(i)
        h(i) = PolyHash.compute(t)
        pw(i) = PolyHash.pow31(t)
      }
      i += 1
    }
    val out = new Array[Long](m - n + 1)
    var g = 0
    while (g <= m - n) {
      // exactly concat_ws(' ', ...): NULLs skipped with no separator
      var acc = 0L
      var first = true
      var j = g
      while (j < g + n) {
        if (!nul(j)) {
          if (!first) acc = (acc * 31L + 32L) % P
          acc = (acc * pw(j) + h(j)) % P
          first = false
        }
        j += 1
      }
      out(g) = acc
      g += 1
    }
    new GenericArrayData(out)
  }

  private[graft] val injection
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("gram_hashes"),
    new ExpressionInfo(classOf[GramHashes].getName, "gram_hashes"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "gram_hashes takes 2 arguments")
      GramHashes(children.head, children(1))
    })

  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      injection._1, injection._2, injection._3)
}

/** `sliding_min(hs, w)` — see [[PolyHash]] header. Input must be an
  * ARRAY<BIGINT> whose type excludes NULL elements (gram_hashes output),
  * or analysis fails; `w` must be a foldable positive integer. An empty
  * input gives `[NULL]`, the HOF's `array(array_min(hs))`.
  */
case class SlidingMin(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, false), IntegerType) =>
        if (!right.foldable)
          TypeCheckResult.TypeCheckFailure("sliding_min: w must be foldable")
        else TypeCheckResult.TypeCheckSuccess
      case (ArrayType(LongType, true), _) => TypeCheckResult.TypeCheckFailure(
        "sliding_min requires an ARRAY<BIGINT> without NULL elements " +
          "(containsNull = false), as gram_hashes produces")
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"sliding_min requires (ARRAY<BIGINT>, INT), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }

  // containsNull: an empty input yields [NULL]
  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def nullSafeEval(arr: Any, w: Any): Any =
    SlidingMin.compute(arr.asInstanceOf[ArrayData], w.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, w) =>
      s"graft.functions.SlidingMin$$.MODULE$$.compute($a, $w)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SlidingMin =
    copy(left = newLeft, right = newRight)
}

object SlidingMin {

  def compute(arr: ArrayData, w: Int): ArrayData = {
    require(w > 0, "sliding_min: w must be positive")
    val n = arr.numElements()
    val xs = arr.toLongArray()
    if (n == 0) return new GenericArrayData(Array[Any](null))
    if (n < w) {
      // the `otherwise(array(array_min(hs)))` branch: one global min
      var mn = xs(0)
      var i = 1
      while (i < n) { if (xs(i) < mn) mn = xs(i); i += 1 }
      return new GenericArrayData(Array(mn))
    }
    // monotone deque of indices, increasing values
    val out = new Array[Long](n - w + 1)
    val dq = new Array[Int](n)
    var head = 0
    var tail = 0 // exclusive
    var i = 0
    while (i < n) {
      while (tail > head && xs(dq(tail - 1)) >= xs(i)) tail -= 1
      dq(tail) = i
      tail += 1
      if (dq(head) <= i - w) head += 1
      if (i >= w - 1) out(i - w + 1) = xs(dq(head))
      i += 1
    }
    new GenericArrayData(out)
  }

  private[graft] val injection
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("sliding_min"),
    new ExpressionInfo(classOf[SlidingMin].getName, "sliding_min"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "sliding_min takes 2 arguments")
      SlidingMin(children.head, children(1))
    })

  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      injection._1, injection._2, injection._3)
}
