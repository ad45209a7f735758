package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.types.{DataType, Decimal, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native expression: per-document character-bigram Shannon statistics —
  * `char_bigram_stats(text)` → STRUCT<n_bigrams, n_distinct, ent_s>.
  *
  * The entropy of a document's character-bigram distribution is a classic
  * repetition/boilerplate quality signal (low entropy ⇒ the text reuses a
  * few character patterns; cf. the compression-ratio heuristics in
  * CCNet/Gopher-class pipelines). Computing it relationally costs an
  * explode to (doc, bigram) rows plus two doc-keyed shuffles — a
  * token-volume exchange for a quantity that is a pure per-row function of
  * the text. This expression does the whole computation in ONE map-side
  * pass per document (open-addressed local counting, no Generate, no
  * shuffle), staying inside whole-stage codegen; at 100 TB the signal
  * costs exactly a scan. The relational form is kept as the SQL twin and
  * the DuckDB oracle.
  *
  * Exact-arithmetic contract (so the twin and the oracle match
  * bit-for-bit): bigrams are CODEPOINT pairs of `lower(text)` — the same
  * unit `substring(text, i, 2)` yields in both engines; with
  * n = codepoints − 1 total bigrams and c_g the count of distinct bigram
  * g, the struct carries
  *   ent_s = Σ_g micros(CAST(c_g·(ln n − ln c_g) AS DECIMAL(18,6)))
  * as unscaled 10⁻⁶ units. Each term quantizes through Spark's own
  * `Decimal` cast (ulp wobble in ln dies at 10⁻⁶, the q_c26 discipline),
  * and the sum of longs is ORDER-INDEPENDENT — no float summation-order
  * hazard across partitions or engines. The caller divides by n in exact
  * decimal to finish H = Σ (c/n)·ln(n/c).
  */
case class CharBigramStats(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"char_bigram_stats requires STRING, got ${other.catalogString}")
  }

  override def dataType: DataType = CharBigramStats.outputType

  override def nullSafeEval(input: Any): Any =
    CharBigramStats.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.CharBigramStats$$.MODULE$$.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): CharBigramStats =
    copy(child = newChild)
}

object CharBigramStats {

  val outputType: StructType = StructType(Seq(
    StructField("n_bigrams", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("ent_s", LongType, nullable = false)))

  /** micros(CAST(d AS DECIMAL(18,6))) — the engine-wide quantization,
    * single-sourced in [[graft.core.Decimals.micros6]].
    */
  private def q6micros(d: Double): Long = graft.core.Decimals.micros6(d)

  /** Power-of-two capacity (min 8, > 2n) of an open-addressed table for
    * `n` bigram keys, shared with [[TokenRepStats]]. A document with 2^28
    * or more bigrams needs a >= 16 GiB table and is outside a per-row
    * kernel's envelope; it fails here with a clear error, before the
    * capacity overflows Int (at n >= 2^29) and collapses the table.
    */
  private[graft] def tableCapacity(kernel: String, n: Int): Int = {
    if (n >= (1 << 28)) throw new IllegalArgumentException(
      s"$kernel: document with $n bigrams exceeds the supported " +
        "2^28 per-document limit")
    val capL = java.lang.Long.highestOneBit(n.toLong * 4 - 1) << 1
    if (capL < 8) 8 else capL.toInt
  }

  /** One pass over the lowered text; called from interpreted eval and
    * generated code (one monomorphic static call per row).
    */
  def compute(s: UTF8String): InternalRow = {
    // Spark's own lowercase (what `lower(text)` evaluates), then codepoint
    // iteration — the unit `substring(lower(text), i, 2)` works in
    val str = s.toLowerCase.toString
    val nChars = str.codePointCount(0, str.length)
    if (nChars < 2) return InternalRow(0L, 0L, 0L)
    val cps = new Array[Int](nChars)
    var i = 0
    var k = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      cps(k) = cp
      k += 1
      i += Character.charCount(cp)
    }
    val n = nChars - 1
    // open-addressed long->long map; capacity > 2n keeps load factor < 0.5
    val cap = tableCapacity("char_bigram_stats", n)
    val mask = cap - 1
    val keys = new Array[Long](cap)
    val cnts = new Array[Long](cap)
    var distinct = 0L
    var g = 0
    while (g < n) {
      // +1 on the high half keeps every real key nonzero even for NUL
      // codepoints; 0 marks an empty slot
      val key = ((cps(g) + 1).toLong << 32) | (cps(g + 1).toLong & 0xFFFFFFFFL)
      var slot = (java.lang.Long.hashCode(key * -7046029254386353131L)) & mask
      while (keys(slot) != 0L && keys(slot) != key) slot = (slot + 1) & mask
      if (keys(slot) == 0L) { keys(slot) = key; distinct += 1L }
      cnts(slot) += 1L
      g += 1
    }
    val lnN = Math.log(n.toDouble)
    var entS = 0L
    var sIdx = 0
    while (sIdx < cap) {
      if (keys(sIdx) != 0L) {
        val c = cnts(sIdx)
        entS += q6micros(c.toDouble * (lnN - Math.log(c.toDouble)))
      }
      sIdx += 1
    }
    InternalRow(n.toLong, distinct, entS)
  }

  /** One (name, info, builder) triple shared by [[register]] and
    * [[GraftExtensions]] — a fork between them would let the session
    * path and the pure-SQL extension path diverge.
    */
  private[graft] val injection
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("char_bigram_stats"),
    new ExpressionInfo(classOf[CharBigramStats].getName, "char_bigram_stats"),
    (children: Seq[Expression]) => {
      require(children.length == 1, "char_bigram_stats takes 1 argument")
      CharBigramStats(children.head)
    })

  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      injection._1, injection._2, injection._3)
}
