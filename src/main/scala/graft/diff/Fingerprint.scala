package graft.diff

import graft.canon.Canonicalizer
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The bucket-fingerprint algebra behind every dataset diff — the batch
  * [[Comparator.compare]], the stored [[FingerprintStore]] snapshot and
  * the streaming [[graft.streaming.Streaming.diffStreams]] /
  * [[graft.streaming.Streaming.incrementalFingerprints]] — stated once:
  *
  *  - the two row hashes: [[Canonicalizer.rowHash]] at seeds 42 (`__h`)
  *    and `0x9E3779B9` (`__h2`), with cross-type value forms passed in;
  *  - the bucket `pmod(__h, numBuckets)` (`__bucket`);
  *  - the bucket cell `(cnt, hsum, h2sum)`: the row count and both hash
  *    sums, summed in DECIMAL(38,0) — a long sum of 64-bit hashes
  *    overflows (an error under Spark 4's default ANSI mode) while 38
  *    digits hold exact sums of |v|≤2⁶³ for ~10¹⁹ rows per bucket;
  *  - the mismatch rule: two cells differ when any of the three fields
  *    differs, an absent side reading as the empty cell (all zero).
  *
  * So no path calls a bucket clean on less evidence than another.
  */
private[graft] object Fingerprint {

  /** Column names the diff derives on its inputs: the two row hashes,
    * the bucket, the bag delta, the orphan row number and the orphan
    * copy count. An input column with one of these names would be
    * silently overwritten or consumed, so every entry that hashes a
    * frame rejects it (case-insensitively, as Spark resolves names).
    */
  val Reserved: Seq[String] = Seq("__h", "__h2", "__bucket", "__d", "__rn", "__copies")

  def rejectReserved(sides: (String, DataFrame)*): Unit =
    for ((side, df) <- sides; c <- df.columns if Reserved.exists(_.equalsIgnoreCase(c)))
      throw new IllegalArgumentException(s"$side column '$c' uses a name reserved for " +
        s"the comparator's internal columns (${Reserved.mkString(", ")}); rename it")

  /** `df` + `__h`, `__h2` and `__bucket`, after the reserved-name check
    * (`side` names the frame in its message). A narrow projection: the
    * hashing rides the scan stage. (Measured: forcing a pre-repartition
    * for extra scan parallelism does not pay for its shuffle even on
    * single-row-group local files; on real multi-file data scan splits
    * provide parallelism.)
    */
  def withBuckets(df: DataFrame, numBuckets: Int, side: String,
      valueForms: Map[String, Column] = Map.empty): DataFrame = {
    rejectReserved(side -> df)
    df.withColumn("__h", Canonicalizer.rowHash(df, 42L, valueForms = valueForms))
      .withColumn("__h2", Canonicalizer.rowHash(df, 0x9E3779B9L, valueForms = valueForms))
      .withColumn("__bucket", pmod(col("__h"), lit(numBuckets.toLong)))
  }

  private val Fields = Seq("cnt", "hsum", "h2sum")

  /** The bucket cell's aggregates over `__h`/`__h2`, named
    * `prefix + (cnt, hsum, h2sum)`. With `only`, rows where it is not
    * true are masked to null, which `count` and `sum` skip: a
    * side-tagged union aggregates one cell per side in one pass.
    */
  def cell(prefix: String = "", only: Option[Column] = None): Seq[Column] = {
    def on(c: Column) = only.fold(c)(when(_, c))
    val dec38 = DecimalType(38, 0)
    Seq(count(on(lit(1))), sum(on(col("__h")).cast(dec38)), sum(on(col("__h2")).cast(dec38)))
      .zip(Fields).map { case (c, f) => c.as(prefix + f) }
  }

  /** One row per non-empty bucket of a [[withBuckets]] frame: `__bucket`,
    * the cell, then `extra` aggregates. Map-side partial aggregation
    * applies, so the only shuffle is O(numBuckets).
    */
  def cells(bucketed: DataFrame, extra: Column*): DataFrame = {
    val aggs = cell() ++ extra
    bucketed.groupBy(col("__bucket")).agg(aggs.head, aggs.tail: _*)
  }

  /** Two [[cells]] tables full-outer-joined on `__bucket`, their other
    * columns prefixed `s_` and `t_`.
    */
  def joined(s: DataFrame, t: DataFrame): DataFrame = {
    def prefixed(f: DataFrame, p: String) =
      f.select(col("__bucket") +: f.columns.tail.map(c => col(c).as(p + c)).toIndexedSeq: _*)
    prefixed(s, "s_").join(prefixed(t, "t_"), Seq("__bucket"), "full_outer")
  }

  /** The mismatch rule over the cells prefixed `a` and `b`. */
  def mismatch(a: String, b: String): Column =
    Fields.map(f => coalesce(col(a + f), lit(0)) =!= coalesce(col(b + f), lit(0))).reduce(_ || _)
}
