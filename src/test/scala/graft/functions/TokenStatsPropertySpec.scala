package graft.functions

import graft.SparkSpec
import graft.operators.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property check: the `token_stats`-backed text operators and the
  * higher-order-function forms they replaced are the SAME functions —
  * every output compared exactly (doubles with `==`, nulls included)
  * over generated texts. The lambda forms live on here, and only
  * here, as the reference. Texts cover a null text, `""`, a single
  * token, one token repeated, tabs and newlines inside tokens,
  * non-ASCII text and documents of more than 1000 tokens; a tiny
  * word pool keeps repetition (and bigram collisions) frequent. Each
  * property runs on a local relation (folded through the kernel's
  * interpreted `eval`) and on a parquet scan (generated code).
  */
class TokenStatsPropertySpec extends SparkSpec {

  import spark.implicits._

  // ---- reference: the lambda forms the kernel replaced ----------------

  private def toks = split(trim(col("text")), " +")

  private def topFrac(arr: Column, n: Column): Column = when(n > 0,
    array_max(transform(array_distinct(arr), t =>
      size(filter(arr, x => x === t)))).cast("double") / n.cast("double"))
    .otherwise(lit(0.0))

  private def bigrams(ts: Column): Column = zip_with(
    slice(ts, lit(1), size(ts) - 1), slice(ts, lit(2), size(ts) - 1),
    (a, b) => concat(a, lit(" "), b))

  private def refRepetition(docs: DataFrame): DataFrame = {
    val ts = toks
    val dr = size(array_distinct(ts)).cast("double") / size(ts).cast("double")
    val tt = topFrac(ts, size(ts))
    val tb = topFrac(bigrams(ts), size(ts) - 1)
    docs.select(col("doc_id"), size(ts).cast("long").as("n_tokens"),
      dr.as("distinct_ratio"), tt.as("top_token_frac"),
      tb.as("top_bigram_frac"),
      (dr >= 0.4 && tt <= 0.12 && tb <= 0.08).as("passes_repetition"))
  }

  private def refDiversity(docs: DataFrame): DataFrame = {
    val ts = toks
    val counts = transform(array_distinct(ts), t => size(filter(ts, x => x === t)))
    val sumSq = aggregate(counts, lit(0L), (a, c) => a + c.cast("long") * c.cast("long"))
    val n = size(ts).cast("long")
    docs.select(col("doc_id"), n.as("n_tokens"),
      size(array_distinct(ts)).cast("long").as("n_types"),
      (lit(1.0) - sumSq.cast("double") / (n * n)).as("gini_simpson"),
      ((n * n).cast("double") / sumSq).as("effective_types"))
  }

  private def refFilterStack(docs: DataFrame): DataFrame = {
    val ts = toks
    val len = length(col("text"))
    val alpha = length(regexp_replace(col("text"), "[^a-z]", ""))
    val passesQuality = size(ts) >= 10 && size(ts) <= 1000 &&
      alpha.cast("double") / len > lit(0.6)
    val dr = size(array_distinct(ts)).cast("double") / size(ts).cast("double")
    val passesRepetition = dr >= 0.4 &&
      topFrac(ts, size(ts)) <= 0.12 && topFrac(bigrams(ts), size(ts) - 1) <= 0.08
    val langOk = size(filter(ts, t =>
      t.isInCollection(Seq("the", "a", "and", "of", "is")))) > 0
    docs.select(col("doc_id"), passesQuality.as("passes_quality"),
      passesRepetition.as("passes_repetition"), langOk.as("lang_ok"),
      (passesQuality && passesRepetition && langOk).as("keep"))
  }

  // ---- generated texts ------------------------------------------------

  private val pool = Vector("the", "a", "and", "of", "x", "y", "zz",
    "t\tab", "new\nline", "é", "naïve", "日本", "语", "ß")

  private def textGen: Gen[String] = for {
    n <- Gen.frequency(6 -> Gen.choose(1, 30), 2 -> Gen.choose(31, 300),
      1 -> Gen.choose(1001, 1400))
    words <- Gen.listOfN(n, Gen.frequency(
      3 -> Gen.oneOf(pool.take(4)), 5 -> Gen.oneOf(pool),
      2 -> Gen.choose(0, 5000).map(i => s"w$i")))
    seps <- Gen.listOfN(n, Gen.frequency(8 -> Gen.const(" "), 1 -> Gen.const("   ")))
    pad <- Gen.oneOf("", " ", "  ")
  } yield pad + words.zip(seps).map { case (w, s) => w + s }.mkString.trim + pad

  private val fixed: Seq[Option[String]] = Seq(
    None, Some(""), Some(" "), Some("solo"), Some(("w " * 40).trim),
    Some("a\tb c\nd a\tb c\nd"), Some("日本 語 日本 ça va ça va"),
    Some((1 to 1200).map(i => s"t${i % 37}").mkString(" ")),
    Some((1 to 1100).map(i => s"u$i").mkString(" ")))

  private def sample[A](g: Gen[A], seed: Long): A =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  private lazy val texts: Seq[(Long, Option[String])] =
    (fixed ++ (1L to 160L).map(i => Some(sample(textGen, i)))).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }

  private lazy val local: DataFrame = texts.toDF("doc_id", "text")

  private lazy val scanned: DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft-token-stats").toString
    local.repartition(3).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private def rows(df: DataFrame): Map[Long, Row] =
    df.collect().map(r => r.getLong(0) -> r).toMap

  /** Exact equality per document and column; doubles compared with ==. */
  private def assertSame(what: String, got: DataFrame, want: DataFrame): Unit = {
    assert(got.columns.toSeq == want.columns.toSeq, what)
    val (g, w) = (rows(got), rows(want))
    assert(g.keySet == w.keySet && g.size == texts.size, what)
    w.foreach { case (id, wr) =>
      val gr = g(id)
      got.columns.indices.foreach { c =>
        val same = (gr.get(c), wr.get(c)) match {
          case (a: Double, b: Double) => a == b
          case (a, b)                 => a == b
        }
        assert(same, s"$what doc=$id col=${got.columns(c)}: kernel=${gr.get(c)} " +
          s"reference=${wr.get(c)} text=${texts(id.toInt)._2.map(_.take(80))}")
      }
    }
  }

  private val frames = Seq("local relation" -> (() => local),
    "parquet scan" -> (() => scanned))

  frames.foreach { case (form, docs) =>
    test(s"property: repetitionStats == lambda reference ($form)") {
      assertSame("repetition", TextAnalysis.repetitionStats(docs()), refRepetition(docs()))
    }

    test(s"property: diversityStats == lambda reference ($form)") {
      assertSame("diversity", TextAnalysis.diversityStats(docs()), refDiversity(docs()))
    }

    test(s"property: filterStack flags == lambda reference ($form)") {
      assertSame("filter stack", TextAnalysis.filterStack(docs()), refFilterStack(docs()))
    }
  }

  test("generated texts hit every shape the kernel must agree on") {
    val ts = texts.flatMap(_._2)
    assert(texts.exists(_._2.isEmpty) && ts.contains(""))
    assert(ts.exists(t => t.nonEmpty && !t.trim.contains(" ")))
    assert(ts.exists(t => t.contains("\t")) && ts.exists(t => t.contains("\n")))
    assert(ts.exists(t => t.exists(_ > 127)))
    assert(ts.count(t => t.trim.split(" +").length > 1000) >= 3)
    // the generated shapes, not just the fixed ones: repetition trips
    // the verdict both ways
    val verdicts = refRepetition(local).select("passes_repetition")
      .collect().map(_.get(0)).toSet
    assert(verdicts == Set(true, false, null), verdicts)
  }

  test("token_stats: counts by hand, null elements, SQL registration") {
    val d = Seq((1L, Seq("a", "b", "a", "b", "a")), (2L, Seq[String]()),
      (3L, Seq("x", null, "x", null))).toDF("id", "ts")
    val r = d.select(col("id"), TokenStats(col("ts")).as("s"))
      .select(col("id"), col("s.*")).collect()
      .map(x => x.getLong(0) -> (1 to 5).map(x.getLong)).toMap
    // n_tokens, n_types, top_token, top_bigram, sum_sq
    assert(r(1L) == Seq(5L, 2L, 3L, 2L, 13L))
    assert(r(2L) == Seq(0L, 0L, 0L, 0L, 0L))
    // a null element is one type, counts nothing, pairs with nothing
    assert(r(3L) == Seq(4L, 2L, 2L, 0L, 4L))
    graft.plans.GraftExtensions.register(spark)
    d.createOrReplaceTempView("token_stats_test")
    val s = spark.sql(
      "SELECT token_stats(ts).top_bigram FROM token_stats_test WHERE id = 1")
    assert(s.head().getLong(0) == 2L)
  }
}
