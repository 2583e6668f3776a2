package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The learned merge table, resolved ONCE at plan time and shipped to
  * executors as a single reference object: (left, right) piece pairs
  * in RANK order, plus nothing else — ~vocab-sized driver state,
  * broadcast with the task closure.
  */
final case class BpeMergeTable(pairs: Seq[(String, String)])
    extends Serializable {
  // value semantics on `pairs` keep Catalyst expression equality /
  // canonicalization working (Array fields compare by REFERENCE in a
  // case class — two plans with identical tables would never be
  // semantically equal); the kernel's hot loop reads these transient
  // array views, rebuilt after deserialization on first use
  @transient lazy val left: Array[String] = pairs.map(_._1).toArray
  @transient lazy val right: Array[String] = pairs.map(_._2).toArray
  @transient lazy val merged: Array[String] =
    pairs.map { case (l, r) => l + "\u001f" + r }.toArray

  /** Pair → 1-based rank, lowest rank winning duplicates — the probe
    * table for [[BpeEncodeMinRank]]'s classic encode loop. Keyed
    * `l + " " + r`: tokens come from a space split and min-rank merged
    * pieces are space-free concatenations, so the space is
    * unambiguous.
    */
  @transient lazy val minRankIndex: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](pairs.size * 2)
    var rank = 1
    // forward traversal (pairs is a Seq — indexed access would be
    // O(n²) on a List at vocabulary size); putIfAbsent keeps the
    // LOWEST rank on duplicate pairs
    pairs.foreach { case (l, r) =>
      m.putIfAbsent(l + " " + r, Integer.valueOf(rank))
      rank += 1
    }
    m
  }
  def size: Int = pairs.size
}

/** Native BPE encode: `bpe_encode_pieces(text)` with a plan-time merge
  * table → `array<string>` of the encoded pieces.
  *
  * This is the kernel behind
  * [[graft.operators.TextAnalysis.bpeEncodeNative]]. A literal replace
  * chain compiles the merge table INTO the plan (one nested `replace`
  * per merge — Catalyst's recursive tree walks stack-overflow near
  * ~512), while this expression carries the table as ONE reference
  * object and applies it in a per-row kernel, so a 30k-merge
  * tokenizer ships as a single task-closure broadcast and the plan
  * stays depth-1.
  *
  * Semantics are EXACTLY the replace chain's (and the DuckDB
  * oracle's): merges apply as sequential passes in rank order, each
  * pass a greedy non-overlapping left-to-right scan — a merged piece
  * cannot be the LEFT of another match in the same pass (the closing
  * delimiter is consumed), but the following piece can start one.
  * This is deliberately NOT the classic min-rank-first encode loop:
  * with merges 1:(ab,c), 2:(a,b) over [a b c], rank-order passes give
  * [ab, c] while min-rank-first would re-check and give [abc] — the
  * pass semantics is what [[graft.operators.TextAnalysis.bpeTrain]]'s corpus rewrite
  * applies, so train and encode stay one semantics.
  *
  * Scale shape per row: pieces live in one array; a piece-count
  * multiset (string → occurrences) lets every pass whose left or
  * right token is ABSENT skip in O(1) — for a real vocabulary
  * (30k merges, docs of ~10² tokens) almost every pass skips, so the
  * cost is O(merges) hash probes + O(applied · pieces) scans, not
  * O(merges · pieces). Inside whole-stage codegen via a static
  * kernel forwarder, same shape as [[UnicodeNormalize]].
  */
case class BpeEncodePieces(child: Expression, table: BpeMergeTable)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bpe_encode_pieces expects a string column, got ${child.dataType.simpleString}")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "bpe_encode_pieces"

  override protected def nullSafeEval(input: Any): Any =
    BpeEncodePieces.encode(input.asInstanceOf[UTF8String], table)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tableRef =
      ctx.addReferenceObj("bpeMergeTable", table, classOf[BpeMergeTable].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.BpeEncodePieces.encode($c, $tableRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeEncodePieces =
    copy(child = newChild)
}

object BpeEncodePieces {

  /** Row kernel, shared by interpreted eval and codegen (static
    * forwarder from generated Java). Tokenization mirrors the
    * DataFrame form bit-for-bit: strip `|`/U+001F, trim SPACES only
    * (Spark's `trim`, not Java's), split on `" +"` with limit −1 —
    * an empty text yields the single empty piece, same as the rep
    * encoding's `"||"`.
    */
  def encode(s: UTF8String, t: BpeMergeTable): ArrayData = {
    val raw = s.toString
    val sb = new java.lang.StringBuilder(raw.length)
    var ci = 0
    while (ci < raw.length) {
      val ch = raw.charAt(ci)
      if (ch != '|' && ch != '\u001f') sb.append(ch)
      ci += 1
    }
    // Spark trim: spaces only, both ends
    var lo = 0
    var hi = sb.length
    while (lo < hi && sb.charAt(lo) == ' ') lo += 1
    while (hi > lo && sb.charAt(hi - 1) == ' ') hi -= 1
    var pieces = sb.substring(lo, hi).split(" +", -1)
    var n = pieces.length
    // occurrence multiset for O(1) pass skips
    val counts = new java.util.HashMap[String, Int](n * 2)
    var i = 0
    while (i < n) {
      counts.merge(pieces(i), 1, (a, b) => a + b); i += 1
    }
    def cnt(p: String): Int = { val c = counts.get(p); if (c == null) 0 else c }
    var m = 0
    while (m < t.size) {
      val l = t.left(m)
      val r = t.right(m)
      val applicable =
        if (l == r) cnt(l) >= 2
        else cnt(l) > 0 && cnt(r) > 0
      if (applicable) {
        val merged = t.merged(m)
        var w = 0
        var j = 0
        var any = false
        while (j < n) {
          if (j + 1 < n && pieces(j) == l && pieces(j + 1) == r) {
            pieces(w) = merged
            counts.merge(l, -1, (a, b) => a + b)
            counts.merge(r, -1, (a, b) => a + b)
            counts.merge(merged, 1, (a, b) => a + b)
            any = true
            j += 2
          } else {
            pieces(w) = pieces(j)
            j += 1
          }
          w += 1
        }
        if (any) n = w
      }
      m += 1
    }
    val out = new Array[Any](n)
    var k = 0
    while (k < n) { out(k) = UTF8String.fromString(pieces(k)); k += 1 }
    new GenericArrayData(out)
  }

  /** Column-API entry: the merge table is a driver-side Seq in rank
    * order ([[graft.operators.TextAnalysis.bpeTrain]]'s output shape).
    */
  def apply(c: Column, merges: Seq[(String, String)]): Column =
    ColumnBridge.column(
      BpeEncodePieces(ColumnBridge.expression(c), BpeMergeTable(merges)))

  /** SQL merge-table literal: `l||r` pairs joined by `|,|` — tokens
    * cannot contain `|` (stripped on corpus entry), so both
    * separators are unambiguous even for merged tokens carrying
    * U+001F. Produced from a trained table with [[tableToSql]].
    */
  def parseTable(lit: String): Seq[(String, String)] = {
    if (lit.isEmpty) return Nil
    lit.split("\\|,\\|", -1).toSeq.map { pair =>
      val lr = pair.split("\\|\\|", -1)
      require(lr.length == 2,
        s"bpe_encode_pieces: malformed merge pair '$pair' (want l||r)")
      (lr(0), lr(1))
    }
  }

  /** Render a merge table as the SQL literal [[parseTable]] reads. */
  def tableToSql(merges: Seq[(String, String)]): String =
    merges.map { case (l, r) => s"$l||$r" }.mkString("|,|")

  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  /** Registration triple for SparkSessionExtensions.injectFunction:
    * `bpe_encode_pieces(text, '<table literal>')` — the table must be
    * a string literal (resolved at plan time, one reference object).
    */
  val descriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    new FunctionIdentifier("bpe_encode_pieces"),
    new ExpressionInfo(classOf[BpeEncodePieces].getName, "bpe_encode_pieces"),
    (children: Seq[Expression]) => {
      require(children.length == 2,
        "bpe_encode_pieces(text, table) takes exactly 2 arguments")
      val tableLit = children(1) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: UTF8String, _: StringType) =>
          v.toString
        case other =>
          throw new IllegalArgumentException(
            s"bpe_encode_pieces: table must be a string literal, got $other")
      }
      BpeEncodePieces(children(0), BpeMergeTable(parseTable(tableLit)))
    })
}
