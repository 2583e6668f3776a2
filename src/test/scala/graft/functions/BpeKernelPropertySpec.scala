package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property check: the native BPE kernel and the literal replace
  * chain are the SAME function — piece-for-piece, not just counts —
  * over generated corpora and generated merge tables (fixed seeds,
  * deterministic CI). The generator builds tables the way training
  * does: each merge draws from a pool that includes earlier merged
  * tokens, so deep chains (a merge consuming a merge) are common, and
  * the tiny alphabet forces heavy overlap/self-merge traffic — the
  * regimes where a greedy-scan off-by-one would diverge.
  */
class BpeKernelPropertySpec extends SparkSpec {

  import spark.implicits._

  private val us = "\u001f"
  private val base = Vector("a", "b", "c", "d")

  private def docGen: Gen[String] =
    Gen.choose(0, 24).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(base)).map(_.mkString(" ")))

  // training-shaped table: each merge may consume earlier merges
  private def mergesGen: Gen[List[(String, String)]] =
    Gen.choose(1, 20).flatMap { k =>
      def step(pool: Vector[String], left: Int,
          acc: List[(String, String)]): Gen[List[(String, String)]] =
        if (left == 0) Gen.const(acc.reverse)
        else for {
          l <- Gen.oneOf(pool)
          r <- Gen.oneOf(pool)
          out <- step(pool :+ (l + us + r), left - 1, (l, r) :: acc)
        } yield out
      step(base, k, Nil)
    }

  private def sample[A](g: Gen[A], seed: Long): A =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  test("property: native kernel == replace chain, pieces and counts, over generated corpora and tables") {
    (1L to 8L).foreach { seed =>
      val docs = (1L to 40L).map(i =>
        (i, sample(docGen, seed * 1000 + i))).toDF("doc_id", "text")
      val merges = sample(mergesGen, seed)
      // the literal replace chain: bar-wrapped tokens, one replace per
      // merge in rank order
      val rep0 = concat(lit("|"),
        array_join(split(trim(translate(col("text"), "|" + us, "")), " +"), "||"),
        lit("|"))
      val repN = merges.foldLeft(rep0) { case (c, (l, r)) =>
        replace(c, lit(s"|$l||$r|"), lit(s"|$l$us$r|"))
      }
      val chain = docs.select(col("doc_id"),
          split(trim(repN, "|"), "\\|\\|").as("p"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      val native = docs.select(col("doc_id"),
          BpeEncodePieces(col("text"), merges).as("p"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      (1L to 40L).foreach { i =>
        assert(native(i) == chain(i),
          s"seed=$seed doc=$i merges=$merges:\n native=${native(i)}\n chain=${chain(i)}")
      }
    }
  }
}
