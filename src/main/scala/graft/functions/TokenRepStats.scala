package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native expression: per-document token/bigram repetition statistics —
  * `token_rep_stats(text)` → STRUCT<n_tok, n_distinct, top_tok, n_big,
  * top_big> (q_c14's five integers).
  *
  * All five are pure per-row functions of the text, but the relational
  * spelling costs TWO explode → groupBy(doc, key) → groupBy(doc)
  * pipelines — four doc/token-keyed exchanges of token-volume rows for
  * quantities that never leave their document (the [[CharBigramStats]]
  * argument, optimization r19 / guide §2.4). This expression computes
  * them in ONE map-side pass; at 100 TB the signal costs exactly a scan.
  * The relational form is kept as the SQL twin and the DuckDB oracle.
  *
  * Exact contract (so the twin and the oracle match bit-for-bit):
  * tokens are `split(lower(text), ' ')` — single-space split with
  * trailing empty fields KEPT (Spark's limit = -1 / DuckDB string_split
  * semantics; "" splits to [""], so n_tok ≥ 1 always). Token identity is
  * full-string equality (per-doc dense ids off a string hash map — no
  * hash-collision exposure); bigram identity is the id PAIR, which
  * equals `concat(ts[k], ' ', ts[k+1])` string equality because within
  * one document id ↔ token string is a bijection and the single-space
  * joiner makes (a,b) ↦ "a b" injective given that both sides come from
  * a space-split (tokens cannot contain ' '). n_big/top_big are NULL
  * when the document has < 2 tokens — exactly the left-join-miss of the
  * relational form.
  */
case class TokenRepStats(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"token_rep_stats requires STRING, got ${other.catalogString}")
  }

  override def dataType: DataType = TokenRepStats.outputType

  override def nullSafeEval(input: Any): Any =
    TokenRepStats.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TokenRepStats$$.MODULE$$.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): TokenRepStats =
    copy(child = newChild)
}

object TokenRepStats {

  val outputType: StructType = StructType(Seq(
    StructField("n_tok", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("top_tok", LongType, nullable = false),
    StructField("n_big", LongType, nullable = true),
    StructField("top_big", LongType, nullable = true)))

  def compute(s: UTF8String): InternalRow = {
    // Spark's own lowercase (what lower(text) evaluates), then a literal
    // single-space split with trailing empties kept (split's limit = -1)
    val str = s.toLowerCase.toString
    var nTok = 0
    var from = 0
    val len = str.length
    // count tokens first (spaces + 1)
    var sp = 0
    var ci = 0
    while (ci < len) { if (str.charAt(ci) == ' ') sp += 1; ci += 1 }
    nTok = sp + 1
    // per-doc dense token ids via exact string map
    val ids = new Array[Int](nTok)
    val idOf = new java.util.HashMap[String, Integer](nTok * 2)
    val cnt = new Array[Long](nTok)
    var nDistinct = 0
    var t = 0
    from = 0
    while (t < nTok) {
      val to = if (t == nTok - 1) len else str.indexOf(' ', from)
      val tok = str.substring(from, to)
      var id = idOf.get(tok)
      if (id == null) { id = Integer.valueOf(nDistinct); idOf.put(tok, id); nDistinct += 1 }
      ids(t) = id.intValue()
      cnt(id.intValue()) += 1L
      from = to + 1
      t += 1
    }
    var topTok = 0L
    var i = 0
    while (i < nDistinct) { if (cnt(i) > topTok) topTok = cnt(i); i += 1 }
    if (nTok < 2)
      return InternalRow(nTok.toLong, nDistinct.toLong, topTok, null, null)
    // bigram counts keyed by the (id, id) pair — open-addressed long map
    // (the CharBigramStats layout; ids < nTok ≤ 2^31, +1 keeps keys
    // nonzero so 0 marks an empty slot)
    val nBig = nTok - 1
    val cap = CharBigramStats.tableCapacity("token_rep_stats", nBig)
    val mask = cap - 1
    val keys = new Array[Long](cap)
    val cnts = new Array[Long](cap)
    var topBig = 0L
    var g = 0
    while (g < nBig) {
      val key = ((ids(g) + 1).toLong << 32) | ((ids(g + 1) + 1).toLong & 0xFFFFFFFFL)
      var slot = java.lang.Long.hashCode(key * -7046029254386353131L) & mask
      while (keys(slot) != 0L && keys(slot) != key) slot = (slot + 1) & mask
      if (keys(slot) == 0L) keys(slot) = key
      cnts(slot) += 1L
      if (cnts(slot) > topBig) topBig = cnts(slot)
      g += 1
    }
    InternalRow(nTok.toLong, nDistinct.toLong, topTok, nBig.toLong, topBig)
  }

  private[graft] val injection
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("token_rep_stats"),
    new ExpressionInfo(classOf[TokenRepStats].getName, "token_rep_stats"),
    (children: Seq[Expression]) => {
      require(children.length == 1, "token_rep_stats takes 1 argument")
      TokenRepStats(children.head)
    })

  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      injection._1, injection._2, injection._3)
}
