package graft.operators

import org.apache.spark.sql.{Column, DataFrame, functions}
import org.apache.spark.sql.functions._

/** The engine's one token layer: the token rule and token windows,
  * stated once for every text operator, batch and streaming alike.
  * Set-similarity operators are defined over one record-to-token-set
  * mapping, so a shingle, a block, a chunk and a SimHash feature all
  * mean the same tokens here and in the DuckDB oracles
  * (`string_split_regex(trim(text), ' +')`).
  *
  * The gram and block builders take [[windows]]: one array per
  * document, a `transform` over [[starts]]. A prototype that exploded
  * the starts instead, with the token array carried into every
  * generated row, ran the 8-gram and 20-block hashes about 3× slower.
  */
private[graft] object Tokens {

  /** The token rule: trim the text, split on runs of spaces. Empty
    * text is one empty token; null text is a null array.
    */
  def of(text: Column): Column = split(trim(text), " +")

  /** 0-based starts of the `size`-token windows taken every `stride`
    * tokens of `ts`: every multiple of `stride` up to the last start
    * whose window still adds a token the previous window did not
    * cover. A document shorter than one window is one window; so is
    * a null one (`greatest` skips the null bound).
    */
  def starts(ts: Column, size: Int, stride: Int): Column =
    sequence(lit(0),
      greatest(functions.size(ts) - 1 - (size - stride), lit(0)), lit(stride))

  /** The window texts of [[starts]], in order: each window's tokens
    * joined by one space, then `f` (e.g. `md5`) applied inside the
    * same `transform`. Callers that need exactly `size` tokens per
    * window (k-grams) drop documents shorter than `size` first.
    */
  def windows(ts: Column, size: Int, stride: Int,
      f: Column => Column = identity): Column =
    transform(starts(ts, size, stride),
      st => f(concat_ws(" ", slice(ts, st + 1, lit(size)))))

  /** Every k-token window (stride 1) of each doc's `text` as a row
    * (doc_id, pos, `out`), `f` applied to the gram text; docs shorter
    * than k tokens have none. `pos` is the window's 0-based start.
    * The caller names the gram column here: a rename after the
    * explode would plan one more projection over every gram row.
    */
  def grams(docs: DataFrame, k: Int, out: String,
      f: Column => Column = identity): DataFrame =
    docs.select(col("doc_id"), of(col("text")).as("ts"))
      .where(size(col("ts")) >= k)
      .select(col("doc_id"),
        posexplode(windows(col("ts"), k, 1, f)).as(Seq("pos", out)))
}
