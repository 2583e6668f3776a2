package graft.operators

import graft.GraftSession.table
import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Property check: BFS, now the distance relaxation over unit weights,
  * and global PageRank, now the personalized walk seeded with every
  * node, return exactly the rows of the loop bodies they replaced. The
  * replaced bodies live on here, and only here, as the reference.
  * Graphs: two generated edge lists (duplicate edges, self-loops,
  * cycles, dangling nodes, disconnected parts) and the q40/q42 gate
  * input at sf0.01. Seeds: several, one of them not in the graph.
  * Rows compare as multisets (`exceptAll` both ways), with names and
  * types equal too.
  */
class GraphPropertySpec extends SparkSpec {

  import spark.implicits._

  // ---- references: the loop bodies the shared ones replaced ---------------

  /** The deleted frontier-expansion BFS body. */
  private def refBfs(edges: DataFrame, seeds: DataFrame, maxHops: Int): DedupPlan = {
    val e = edges.select(col("src"), col("dst")).repartition(col("src"))
      .sortWithinPartitions(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    val r = Fixpoint.run(seeds.select(col("id")).distinct()
        .select(col("id"), lit(0L).as("lvl")), maxHops, Fixpoint.EachRound) {
        (h, lvl) =>
      val frontier = lvl.where(col("lvl") === h - 1).select(col("id"))
      val next = e.join(frontier, e("src") === frontier("id"))
        .select(col("dst").as("id")).distinct()
        .join(lvl, Seq("id"), "left_anti")
        .select(col("id"), lit(h.toLong).as("lvl"))
      lvl.unionAll(next)
    }
    r.plan(r.result, "bfs_levels", Seq(e))
  }

  /** The deleted node-grain global PageRank body. */
  private def refPageRank(edges: DataFrame, iters: Int, dampingPct: Int): DedupPlan = {
    val e = edges.select(col("src"), col("dst")).repartition(col("src"))
      .sortWithinPartitions(col("src"))
      .withColumn("deg", count(lit(1)).over(Window.partitionBy(col("src"))))
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    val nodes = e.select(col("src").as("id"))
      .unionAll(e.select(col("dst").as("id"))).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    val n = nodes.count()
    val base = (100L - dampingPct) * Graph.Scale / (100L * n)
    val r = Fixpoint.run(nodes.select(col("id"), lit(Graph.Scale / n).as("r")),
        iters, Fixpoint.Lazy) { (_, rank) =>
      val contrib = e.join(rank, e("src") === rank("id"))
        .select(col("dst").as("id"), expr("r div deg").as("c"))
        .groupBy(col("id")).agg(sum(col("c")).as("sc"))
      nodes.join(contrib, Seq("id"), "left")
        .select(col("id"),
          (lit(base) + expr(s"($dampingPct * coalesce(sc, 0)) div 100")).as("r"))
    }
    r.plan(r.result, "pagerank", Seq(e, nodes))
  }

  // ---- graphs --------------------------------------------------------------

  /** 40 nodes, 90 random edges (so duplicates and self-loops occur),
    * the cycle 0→1→…→7→0, an explicit duplicate and self-loop, the
    * disconnected cycle 100→101→102→100 and the dangling 103 (in-edge
    * only).
    */
  private def generated(seed: Long): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val random = Seq.fill(90)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    val cycle = (0L until 8L).map(i => (i, (i + 1) % 8))
    val apart = Seq((100L, 101L), (101L, 102L), (102L, 100L), (101L, 103L))
    (random ++ cycle ++ Seq((3L, 4L), (3L, 4L), (9L, 9L)) ++ apart).toDF("src", "dst")
  }

  private lazy val graphs: Seq[(String, DataFrame, DataFrame)] = {
    val seeds = Seq(0L, 5L, 101L, 999L).toDF("id") // 999 is not in the graph
    Seq(
      ("generated(7)", generated(7L), seeds),
      ("generated(11)", generated(11L), seeds))
  }

  private def assertSameRows(got: DedupPlan, ref: DedupPlan, what: String): Unit =
    try {
      assert(got.df.schema.map(f => (f.name, f.dataType)) ==
        ref.df.schema.map(f => (f.name, f.dataType)), what)
      assert(got.df.exceptAll(ref.df).unionAll(ref.df.exceptAll(got.df)).isEmpty, what)
    } finally {
      got.release()
      ref.release()
    }

  // ---- properties ----------------------------------------------------------

  test("bfsLevelsPlan == the deleted BFS body (maxHops 0, 1, 3, 8)") {
    for ((name, e, seeds) <- graphs; hops <- Seq(0, 1, 3, 8))
      assertSameRows(Graph.bfsLevelsPlan(e, seeds, hops), refBfs(e, seeds, hops),
        s"$name maxHops=$hops")
  }

  test("pageRankPlan == the deleted global body (damping 0, 85, 100; iters 1, 3, 6)") {
    for ((name, e, _) <- graphs; d <- Seq(0, 85, 100); it <- Seq(1, 3, 6))
      assertSameRows(Graph.pageRankPlan(e, it, d), refPageRank(e, it, d),
        s"$name damping=$d iters=$it")
  }

  test("the q40 and q42 gate inputs at sf0.01 give the same rows") {
    val li = table(spark, Sf001, "lineitem")
    val e = Graph.partSupplierEdgesL(li)
    val seed = li.agg((min(col("l_partkey")).cast("long") * 2).as("id"))
    assertSameRows(Graph.pageRankPlan(e, 3), refPageRank(e, 3, 85), "q40")
    assertSameRows(Graph.bfsLevelsPlan(e, seed, 4), refBfs(e, seed, 4), "q42")
  }
}
