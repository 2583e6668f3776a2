package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native token-count kernel: `token_stats(array<string>) →
  * struct<n_tokens, n_types, top_token, top_bigram, sum_sq>`, all
  * exact `bigint` counts of one token array:
  *
  *   - `n_tokens`   elements (`size`)
  *   - `n_types`    distinct elements, a null counting as one
  *                  (`size(array_distinct)`)
  *   - `top_token`  occurrences of the most frequent non-null element
  *   - `top_bigram` occurrences of the most frequent adjacent pair of
  *                  non-null elements
  *   - `sum_sq`     Σc² over the non-null elements' counts c
  *
  * The composable form — a `transform` over the distinct tokens that
  * `filter`s the whole array once per token, and its `zip_with` bigram
  * twin — makes O(distinct·n) interpreted lambda calls per row; this walks
  * the array once with an open-addressing hash of token ids and is
  * called straight from generated code (the [[DotLong]] finding). A
  * pair is counted by element identity, which equals counting the
  * old `concat(a, ' ', b)` strings whenever no element contains a
  * space — always so for whitespace-split tokens. Null array → null.
  */
case class TokenStats(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"token_stats expects array<string>, got ${other.simpleString}")
  }

  override def dataType: DataType = TokenStats.resultType

  override def prettyName: String = "token_stats"

  override protected def nullSafeEval(input: Any): Any =
    TokenStats.count(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.TokenStats.count($a);")

  override protected def withNewChildInternal(newChild: Expression): TokenStats =
    copy(child = newChild)
}

object TokenStats {

  val resultType: StructType = StructType(
    Seq("n_tokens", "n_types", "top_token", "top_bigram", "sum_sq")
      .map(StructField(_, LongType, nullable = false)))

  /** Row kernel. Tokens get dense ids in first-seen order through one
    * open-addressing table; pairs are then counted as `id·k + id'`
    * keys (k = distinct tokens) in a second one.
    */
  def count(ts: ArrayData): InternalRow = {
    val n = ts.numElements()
    val cap = tableSize(n)
    val slots = new Array[Int](cap) // token id + 1; 0 = empty
    val tokens = new Array[UTF8String](n)
    val counts = new Array[Long](n)
    val ids = new Array[Int](n) // per position; -1 = null element
    var k = 0
    var hasNull = false
    var i = 0
    while (i < n) {
      if (ts.isNullAt(i)) { ids(i) = -1; hasNull = true }
      else {
        val t = ts.getUTF8String(i)
        var s = t.hashCode() & (cap - 1)
        while (slots(s) != 0 && !tokens(slots(s) - 1).equals(t)) s = (s + 1) & (cap - 1)
        if (slots(s) == 0) { tokens(k) = t; k += 1; slots(s) = k }
        val id = slots(s) - 1
        counts(id) += 1
        ids(i) = id
      }
      i += 1
    }
    var top = 0L
    var sumSq = 0L
    i = 0
    while (i < k) {
      val c = counts(i)
      if (c > top) top = c
      sumSq += c * c
      i += 1
    }
    val pairKeys = new Array[Long](cap)
    val pairCounts = new Array[Long](cap) // 0 = empty slot
    var topPair = 0L
    i = 0
    while (i + 1 < n) {
      if (ids(i) >= 0 && ids(i + 1) >= 0) {
        val key = ids(i).toLong * k + ids(i + 1)
        var s = (java.lang.Long.hashCode(key * 0x9E3779B97F4A7C15L)) & (cap - 1)
        while (pairCounts(s) != 0 && pairKeys(s) != key) s = (s + 1) & (cap - 1)
        pairKeys(s) = key
        pairCounts(s) += 1
        if (pairCounts(s) > topPair) topPair = pairCounts(s)
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](
      n.toLong, (if (hasNull) k + 1 else k).toLong, top, topPair, sumSq))
  }

  /** A power of two at least twice `n`, so probe chains stay short. */
  private def tableSize(n: Int): Int =
    Integer.highestOneBit(math.max(n, 4) * 2 - 1) << 1

  /** Column-API entry. */
  def apply(tokens: Column): Column =
    ColumnBridge.column(TokenStats(ColumnBridge.expression(tokens)))

  /** Registration triple for SparkSessionExtensions.injectFunction /
    * FunctionRegistry.
    */
  val descriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    new FunctionIdentifier("token_stats"),
    new ExpressionInfo(classOf[TokenStats].getName, "token_stats"),
    (children: Seq[Expression]) => {
      require(children.length == 1, "token_stats(tokens) takes exactly 1 argument")
      TokenStats(children.head)
    })
}
