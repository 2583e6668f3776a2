package graft.operators

import graft.{GraftSession, SparkSpec}
import java.nio.file.Files
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

class SkewAndBucketingSpec extends SparkSpec {

  test("saltedJoin is row-identical to the plain join") {
    val o = GraftSession.table(spark, Sf0001, "orders")
    val c = GraftSession.table(spark, Sf0001, "customer")
    val plain = o.join(c, o("o_custkey") === c("c_custkey"))
      .select("o_orderkey", "c_custkey").collect().map(_.toSeq).toSet
    val salted = Skew.saltedJoin(o, c, "o_custkey", "c_custkey", salts = 8)
      .select("o_orderkey", "c_custkey").collect().map(_.toSeq).toSet
    assert(salted == plain && plain.nonEmpty)
  }

  test("bucketed tables join without a shuffle (co-located join)") {
    val wh = Files.createTempDirectory("graft_wh").toString
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try {
      // tables are external (explicit path) — no warehouse conf needed
      // disable broadcast so the join would normally shuffle both sides
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val o = GraftSession.table(spark, Sf0001, "orders")
      val c = GraftSession.table(spark, Sf0001, "customer")
      o.write.mode("overwrite").bucketBy(8, "o_custkey").sortBy("o_custkey")
        .option("path", s"$wh/orders_b").saveAsTable("orders_b")
      c.write.mode("overwrite").bucketBy(8, "c_custkey").sortBy("c_custkey")
        .option("path", s"$wh/customer_b").saveAsTable("customer_b")
      val j = spark.table("orders_b")
        .join(spark.table("customer_b"),
          col("o_custkey") === col("c_custkey"))
      val plan = j.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case p                        => p
      }
      val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
      assert(shuffles.isEmpty,
        s"bucketed join must not shuffle, found ${shuffles.size}:\n$plan")
      // and it still returns the right rows
      assert(j.count() ==
        o.join(c, o("o_custkey") === c("c_custkey")).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS customer_b")
    }
  }
}
