package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class GraphSpec extends SparkSpec {

  test("pagerank: one round on a hand-computed star graph, exact fixed-point values") {
    import spark.implicits._
    // undirected star a–b, a–c as directed edge pairs
    val e = Seq(("a", "b"), ("b", "a"), ("a", "c"), ("c", "a")).toDF("src", "dst")
    val r = Graph.pageRank(e, iters = 1).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    // N=3: r0 = 333333333333 each; base = 15e12/300 = 50000000000
    // a receives b and c whole: 85% of 666666666666 + base
    assert(r("a") == 50000000000L + 85L * 666666666666L / 100L)
    // b (and c) receive half of a: 85% of 166666666666 + base
    assert(r("b") == 50000000000L + 85L * 166666666666L / 100L)
    assert(r("c") == r("b"))
  }

  test("pagerank: hub outranks leaves after 3 rounds; result is partitioning-invariant") {
    import spark.implicits._
    val e = Seq(("a", "b"), ("b", "a"), ("a", "c"), ("c", "a"),
      ("a", "d"), ("d", "a"), ("b", "c"), ("c", "b")).toDF("src", "dst")
    val r = Graph.pageRank(e, iters = 3)
    val byId = r.collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(byId("a") > byId("b") && byId("a") > byId("d"))
    val re = Graph.pageRank(e.repartition(7), iters = 3)
    assert(re.collect().map(x => x.getString(0) -> x.getLong(1)).toMap == byId)
  }

  test("pagerank: lineage cuts past 5 rounds do not move a bit (iters=11)") {
    import spark.implicits._
    val edges = Seq(("a", "b"), ("b", "a"), ("a", "c"), ("c", "a"),
      ("a", "d"), ("d", "a"), ("b", "c"), ("c", "b"))
    val e = edges.toDF("src", "dst")
    // reference in plain Scala: the same integer arithmetic, no Spark
    val deg = edges.groupBy(_._1).map { case (s, out) => s -> out.size.toLong }
    val ids = edges.flatMap { case (s, d) => Seq(s, d) }.distinct
    val base = 15L * Graph.Scale / (100L * ids.size)
    var want = ids.map(_ -> Graph.Scale / ids.size).toMap
    (1 to 11).foreach { _ =>
      val sc = edges.groupBy(_._2).map { case (d, in) =>
        d -> in.map { case (s, _) => want(s) / deg(s) }.sum }
      want = ids.map(id => id -> (base + 85L * sc.getOrElse(id, 0L) / 100L)).toMap
    }
    val plan = Graph.pageRankPlan(e, iters = 11)
    assert(plan.df.collect().map(x => x.getString(0) -> x.getLong(1)).toMap == want)
    // the plan is CUT after rounds 5 and 10: one lazy round over a cut
    // leaf is shallower than five composed rounds
    val five = Graph.pageRankPlan(e, iters = 5)
    val depth = plan.df.queryExecution.analyzed.toString.linesIterator.size
    val fiveDepth = five.df.queryExecution.analyzed.toString.linesIterator.size
    assert(depth < fiveDepth, s"iters=11: $depth lines, iters=5: $fiveDepth")
    plan.release()
    five.release()
  }

  test("triangle count: K4 minus one edge has exactly two triangles") {
    import spark.implicits._
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L)).toDF("u", "v")
    val plan = Graph.triangleCountPlan(e)
    val r = plan.df.head()
    assert(r.getLong(0) == 5L && r.getLong(1) == 2L)
    plan.release()
  }

  test("triangle orientation is degree-ordered: hub fan-out collapses") {
    import spark.implicits._
    // star with hub id 20 in the MIDDLE of leaves 0..40, plus one
    // triangle edge (1,2). Wedge count is Σ_x indeg(x)·outdeg(x):
    // id-ordering gives the hub 20 in-edges (from leaves 0..19) and 20
    // out-edges (to 21..40) → 400 wedges through the hub; degree-
    // ordering points EVERY star edge leaf→hub (hub outdeg 0), leaving
    // exactly the one wedge 1→2→20 that closes the real triangle.
    val hub = 20L
    val star = (0L to 40L).filter(_ != hub)
      .map(l => (math.min(l, hub), math.max(l, hub)))
    val e = (star :+ (1L, 2L)).toDF("u", "v")
    val plan = Graph.triangleCountPlan(e)
    val r = plan.df.head()
    assert(r.getLong(0) == 41L && r.getLong(1) == 1L)
    plan.release()
    // re-derive the oriented list the same way the plan does and count
    // the wedges the join actually forms
    val p = e.select(col("u"), col("v"))
    val deg = p.select(col("u").as("id")).unionAll(p.select(col("v").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("d"))
    val flip = struct(col("du"), col("u")) > struct(col("dv"), col("v"))
    val or2 = p.join(deg.select(col("id").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("id").as("v"), col("d").as("dv")), Seq("v"))
      .select(when(flip, col("v")).otherwise(col("u")).as("u"),
        when(flip, col("u")).otherwise(col("v")).as("v"))
    val wedges = or2.as("e1").join(or2.as("e2"), col("e1.v") === col("e2.u")).count()
    assert(wedges == 1L, s"wedges=$wedges — id-ordering would form 400 through the hub")
  }

  test("bfs levels: shortest hop wins, unreachable nodes excluded, caches released") {
    import spark.implicits._
    // chain a->b->c->d->e->f with shortcut a->d; x->y disconnected
    val e = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("e", "f"),
      ("a", "d"), ("x", "y")).toDF("src", "dst")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val plan = Graph.bfsLevelsPlan(e, Seq("a").toDF("id"), maxHops = 3)
    val m = plan.df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // d reached at hop 1 via the shortcut, NOT hop 3 via the chain
    assert(m == Map("a" -> 0L, "b" -> 1L, "d" -> 1L, "c" -> 2L, "e" -> 2L, "f" -> 3L))
    plan.release()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"released bfs plan leaked caches: $leaked")
  }

  test("eager convenience wrappers self-release: no input-sized caches survive") {
    import spark.implicits._
    import org.apache.spark.sql.graftshim.CheckpointBridge
    val e = Seq(("a", "b"), ("b", "a"), ("a", "c"), ("c", "a"),
      ("b", "c"), ("c", "b")).toDF("src", "dst")
    val pairs = Seq(("a", "b"), ("a", "c"), ("b", "c")).toDF("u", "v")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val pr = Graph.pageRank(e, iters = 3)
    val tc = Graph.triangleCount(pairs)
    val bl = Graph.bfsLevels(e, Seq("a").toDF("id"), maxHops = 2)
    val cs = Graph.componentSummary(pairs)
    // results correct (materialized eagerly, readable after release)
    assert(pr.count() == 3 && tc.head().getLong(1) == 1L)
    assert(bl.count() == 3 && cs.head().getLong(0) == 1L)
    // ONLY the four results' own checkpoint blocks remain — every
    // input-sized cache (edges, degrees, round checkpoints) is gone
    // with no harness-side global unpersist
    val mid = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(mid.size <= 4, s"wrappers left input-sized caches: $mid")
    // the returned frames are themselves the release handles
    Seq(pr, tc, bl, cs).foreach(CheckpointBridge.release)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"leaked after releasing results: $leaked")
  }

  test("eager wrappers under a reliable checkpoint dir: same results, caches released") {
    import spark.implicits._
    import org.apache.spark.sql.graftshim.CheckpointBridge
    val e = Seq(("a", "b"), ("b", "a"), ("a", "c"), ("c", "a"),
      ("b", "c"), ("c", "b")).toDF("src", "dst")
    // reference run WITHOUT a checkpoint dir (localCheckpoint path)
    val ref = Graph.pageRank(e, iters = 3)
    val want = ref.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    CheckpointBridge.release(ref)
    val dir = java.nio.file.Files.createTempDirectory("graft-eager-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val pr = Graph.pageRank(e, iters = 3)
      val got = pr.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // bit-identical ranks: the reliable path changes storage, not math
      assert(got == want)
      // reliable checkpoint files were actually written
      assert(new java.io.File(dir).listFiles().nonEmpty)
      // the persist-before-checkpoint staging cache did not leak: at
      // most the result's own block survives the wrapper
      val mid = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(mid.size <= 1, s"reliable eager path leaked caches: $mid")
      // the returned frame is the release handle for its checkpoint
      CheckpointBridge.release(pr)
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty, s"leaked after release: $leaked")
    } finally spark.sparkContext.setCheckpointDir(null)
  }

  test("pagerank/bfs round leaves keep bounded size estimates (stats-clamp guard)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.LogicalRDD
    // inflate the edge frame's size estimate past Long range by
    // stacking row-preserving self-joins (the size-only visitor
    // multiplies child estimates) — the seed shape of the measured
    // driver stats explosion, here fed into the OTHER two iterative
    // checkpoint users besides connected components
    val base = Seq(("a", "b"), ("b", "a"), ("a", "c"), ("c", "a"))
      .toDF("src", "dst")
    var big = base
    (1 to 6).foreach { _ =>
      val r = big.select(col("src").as("s2"), col("dst").as("d2"))
      big = big.join(r, col("src") === col("s2") && col("dst") === col("d2"))
        .select(col("src"), col("dst"))
    }
    def assertBounded(df: org.apache.spark.sql.DataFrame, what: String): Unit = {
      val rddLeaves = df.queryExecution.optimizedPlan.collectLeaves()
        .collect { case l: LogicalRDD => l }
      assert(rddLeaves.nonEmpty, s"$what: expected checkpoint leaves in the plan")
      rddLeaves.foreach { l =>
        val s = l.computeStats().sizeInBytes
        assert(s.isValidLong, s"$what leaf carries an unbounded estimate: $s")
      }
    }
    val pr = Graph.pageRankPlan(big, iters = 6) // cut after round 5
    assert(pr.df.collect().nonEmpty)
    assertBounded(pr.df, "pagerank")
    pr.release()
    val bfs = Graph.bfsLevelsPlan(big, Seq("a").toDF("id"), maxHops = 3)
    assert(bfs.df.collect().nonEmpty)
    assertBounded(bfs.df, "bfs")
    bfs.release()
  }

  test("label propagation: communities converge by hand, checkpoint path identical") {
    import spark.implicits._
    // two disjoint triangles, symmetrized
    def tri(a: Long, b: Long, c: Long) =
      Seq((a, b), (b, a), (a, c), (c, a), (b, c), (c, b))
    val e = (tri(1L, 2L, 3L) ++ tri(10L, 11L, 12L)).toDF("src", "dst")
    val l3 = Graph.labelPropagation(e, iters = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // hand trace: round 1 takes each node's min neighbor id (all votes
    // tie at 1); rounds 2-3 flood the community min everywhere
    assert(l3 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
    // the communities are a fixpoint: 12 cut rounds keep them
    val l12 = Graph.labelPropagation(e, iters = 12).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(l12 == l3)
    // round 1 alone really is the min-neighbor vote (not yet converged)
    val l1 = Graph.labelPropagation(e, iters = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(l1(1L) == 2L && l1(2L) == 1L && l1(3L) == 1L)
  }

  test("co-purchase edges: support threshold drops accidental pairs") {
    import spark.implicits._
    val li = Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L), (3L, 10L), (3L, 30L))
      .toDF("l_orderkey", "l_partkey")
    val e = Graph.copurchaseEdges(li, minSupport = 2)
      .as[(Long, Long)].collect().toSet
    assert(e == Set((10L, 20L))) // (10,30) co-occurs once -> dropped
  }

  test("part-supplier edges: both directions, distinct pairs only") {
    import spark.implicits._
    val li = Seq((1L, 10L), (1L, 10L), (2L, 10L)).toDF("l_partkey", "l_suppkey")
    val e = Graph.partSupplierEdges(li).as[(String, String)].collect().toSet
    assert(e == Set(("p1", "s10"), ("s10", "p1"), ("p2", "s10"), ("s10", "p2")))
  }

  test("renderPsId: exact integer decode up to the 2^62 encoding bound") {
    import spark.implicits._
    // keys near 2^61: encoded ids (2k, 2k+1) approach 2^62 — double
    // division would round these (2^53 is the double mantissa limit);
    // shiftright must render the exact original key
    val pk = (1L << 61) - 3L // part key
    val sk = (1L << 61) - 7L // supplier key
    val ids = Seq(pk * 2, sk * 2 + 1, 2L, 3L).toDF("id")
    val got = ids.select(Graph.renderPsId(col("id")).as("s"))
      .as[String].collect().toSet
    assert(got == Set(s"p$pk", s"s$sk", "p1", "s1"))
  }

  test("local clustering: hand-computed ppm on K4-minus-an-edge; triangle-free node scores 0") {
    import spark.implicits._
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (5L, 6L), (6L, 7L)) // a path: 6 has deg 2 and no triangle
      .toDF("u", "v")
    val r = Graph.localClustering(e).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getLong(3))).toMap
    // nodes 1,2: deg 3, in 2 triangles -> 2*2e6/(3*2) = 666666
    assert(r(1L) == ((3L, 2L, 666666L)) && r(2L) == ((3L, 2L, 666666L)))
    // nodes 3,4: deg 2, 1 triangle -> fully clustered
    assert(r(3L) == ((2L, 1L, 1000000L)) && r(4L) == ((2L, 1L, 1000000L)))
    // node 6: deg 2, zero triangles -> 0; degree-1 nodes 5,7 excluded
    assert(r(6L) == ((2L, 0L, 0L)))
    assert(!r.contains(5L) && !r.contains(7L))
  }

  test("triangle profile: one shared derivation matches the census and lcc forms") {
    import spark.implicits._
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (5L, 6L), (6L, 7L)).toDF("u", "v")
    val prof = Graph.triangleProfilePlan(e)
    val censusPlan = Graph.triangleCountPlan(e)
    assert(prof.census.head().toSeq == censusPlan.df.head().toSeq)
    val lccRows = prof.lcc.collect().map(_.toSeq).toSet
    assert(lccRows == Graph.localClustering(e).collect().map(_.toSeq).toSet)
    // internal consistency: every triangle has exactly 3 corners
    val sumTri = prof.lcc.agg(sum(col("n_tri"))).head().getLong(0)
    assert(sumTri == 3L * prof.census.head().getLong(1))
    prof.release(); censusPlan.release()
  }

  test("personalized pagerank: teleport mass stays with the seed; unreached nodes are exactly zero") {
    import spark.implicits._
    // chain a->b->c reachable from seed a; x->y disconnected
    val e = Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("src", "dst")
    val seeds = Seq("a").toDF("id")
    val r = Graph.personalizedPageRank(e, seeds, iters = 3).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    val base = 15L * Graph.Scale / 100L
    // seed has no in-edges: rank = teleport base exactly, every round
    assert(r("a") == base)
    // the disconnected component holds EXACT integer zero
    assert(r("x") == 0L && r("y") == 0L)
    // mass decays along the chain but reaches c within 3 rounds
    assert(r("b") > r("c") && r("c") > 0L)
    // global pagerank on the same graph gives x/y nonzero teleport mass
    val g = Graph.pageRank(e, iters = 3).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(g("x") > 0L)
  }

  test("link prediction: square diagonals scored exactly; adjacency and hub cap exclude") {
    import spark.implicits._
    // square 1-2-3-4-1: the two diagonals each share both corners
    val sq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("u", "v")
    val r = Graph.linkPrediction(sq, minCommon = 2).collect()
      .map(x => (x.getLong(0), x.getLong(1)) ->
        (x.getLong(2), x.getLong(3), x.getLong(6))).toMap
    assert(r.keySet == Set((1L, 3L), (2L, 4L)))
    // all degrees 2: RA = 2·(1e6 DIV 2); jaccard = 2e6 DIV (2+2−2)
    assert(r((1L, 3L)) == ((2L, 1000000L, 1000000L)))
    assert(r((2L, 4L)) == ((2L, 1000000L, 1000000L)))
    // an existing edge is never a candidate: close one diagonal
    val withDiag = sq.unionAll(Seq((1L, 3L)).toDF("u", "v"))
    val r2 = Graph.linkPrediction(withDiag, minCommon = 2).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(r2 == Set((2L, 4L)))
    // hub cap: a pure star's leaf pairs exist only through the hub —
    // capped below the hub degree, no candidate survives
    val star = Seq((5L, 9L), (6L, 9L), (7L, 9L)).toDF("u", "v")
    assert(Graph.linkPrediction(star, maxHubDegree = 2, minCommon = 1).count() == 0)
    assert(Graph.linkPrediction(star, maxHubDegree = 3, minCommon = 1).count() == 3)
  }

  test("k-core: pendant peels off the triangle; hub degree drops with it") {
    import spark.implicits._
    // triangle a-b-c plus pendant d hanging off a
    val p = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("a", "d")).toDF("u", "v")
    val r = Graph.kCore(p, k = 2, rounds = 2).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    // d (deg 1) peels in round 1; a's in-subgraph degree falls 3 -> 2
    assert(r == Map("a" -> 2L, "b" -> 2L, "c" -> 2L))
  }

  test("k-core: chain peeling is genuinely multi-round; set is monotone to empty") {
    import spark.implicits._
    // path a-b-c-d-e: 2-core is empty, but only after 3 peel rounds
    val p = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")).toDF("u", "v")
    def ids(rounds: Int): Set[String] =
      Graph.kCore(p, k = 2, rounds = rounds).collect().map(_.getString(0)).toSet
    assert(ids(1) == Set("b", "c", "d")) // endpoints peel first
    assert(ids(2) == Set("c"))           // b, d lose their outer neighbor
    assert(ids(3) == Set.empty)          // c has no live neighbors left
  }

  test("k-core: convergence bit flags under-rounded peels; fixpoint early-exits") {
    import spark.implicits._
    // path a-b-c-d-e: needs 3 peel rounds to empty out
    val chain = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")).toDF("u", "v")
    val (p2, c2) = Graph.kCoreStatus(chain, k = 2, rounds = 2)
    assert(!c2, "2 rounds on a 3-round peel must be flagged unconverged")
    assert(p2.df.count() == 1) // partial peel: c still alive
    p2.release()
    val (p3, c3) = Graph.kCoreStatus(chain, k = 2, rounds = 3)
    assert(c3) // empty set is a fixpoint
    assert(p3.df.count() == 0)
    p3.release()
    // triangle + pendant: converges in round 2 (round-1 survivors all
    // keep deg >= 2); a 10-round budget must early-exit to the same frame
    val tri = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("a", "d")).toDF("u", "v")
    val (pDeep, cDeep) = Graph.kCoreStatus(tri, k = 2, rounds = 10)
    assert(cDeep)
    val deep = pDeep.df.collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    pDeep.release()
    assert(deep == Map("a" -> 2L, "b" -> 2L, "c" -> 2L))
    // one round can never prove convergence
    val (p1, c1) = Graph.kCoreStatus(tri, k = 2, rounds = 1)
    assert(!c1)
    p1.release()
  }

  test("k-core: checkpointed run is bit-identical and cuts lineage") {
    import spark.implicits._
    // a 16-node path peels exactly its two endpoints per round, so
    // after r rounds a<r>..a<15-r> survive, each with degree 2
    val p = (0 until 15).map(i => (f"a$i%02d", f"a${i + 1}%02d"))
      .toDF("u", "v")
    Seq(3, 6).foreach { rounds =>
      val plan = Graph.kCoreStatus(p, k = 2, rounds = rounds)._1
      val got = plan.df.collect().map(x => x.getString(0) -> x.getLong(1)).toMap
      assert(got == (rounds to 15 - rounds).map(i => f"a$i%02d" -> 2L).toMap)
      // the result reads one round's cut, not the composed peel
      assert(plan.df.queryExecution.analyzed.toString.linesIterator.size <= 2)
      plan.release()
    }
  }

  test("label propagation and k-core: result plan depth does not grow with rounds") {
    import spark.implicits._
    // a 40-node path: k = 2 peels two nodes a round, so 12 rounds run
    // without an early exit
    val pairs = (0L until 39L).map(i => (i, i + 1)).toDF("u", "v")
    val sym = pairs.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(pairs.select(col("v").as("src"), col("u").as("dst")))
    def depth(plan: DedupPlan): Int = {
      val n = plan.df.queryExecution.analyzed.toString.linesIterator.size
      plan.release()
      n
    }
    val (lp4, lp12) = (depth(Graph.labelPropagationPlan(sym, iters = 4)),
      depth(Graph.labelPropagationPlan(sym, iters = 12)))
    assert(lp12 <= lp4 + 5, s"label propagation: 4 rounds $lp4 lines, 12 rounds $lp12")
    val (kc4, kc12) = (depth(Graph.kCoreStatus(pairs, k = 2, rounds = 4)._1),
      depth(Graph.kCoreStatus(pairs, k = 2, rounds = 12)._1))
    assert(kc12 <= kc4 + 5, s"k-core: 4 rounds $kc4 lines, 12 rounds $kc12")
  }

  test("sssp: cheaper two-hop path beats the direct edge; exact integer distances") {
    import spark.implicits._
    // a->b(10), b->c(10), a->c(25): the direct edge is NOT shortest
    val e = Seq(("a", "b", 10L), ("b", "c", 10L), ("a", "c", 25L))
      .toDF("src", "dst", "w")
    val seed = Seq("a").toDF("id")
    val r = Graph.sssp(e, seed, rounds = 3).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r == Map("a" -> 0L, "b" -> 10L, "c" -> 20L))
    // partitioning-invariant (integer relaxation, no float order)
    val rp = Graph.sssp(e.repartition(7), seed, rounds = 3).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(rp == r)
  }

  test("sssp: convergence bit flags budget-truncated runs; fixpoint early-exits") {
    import spark.implicits._
    val e = Seq(("a", "b", 10L), ("b", "c", 10L), ("a", "c", 25L))
      .toDF("src", "dst", "w")
    val seed = Seq("a").toDF("id")
    // round 1 still holds the 25 direct distance and cannot prove a fixpoint
    val (p1, c1) = Graph.ssspStatus(e, seed, rounds = 1)
    assert(!c1, "round-1 result is budget-truncated, must be flagged")
    assert(p1.df.collect().map(x => x.getString(0) -> x.getLong(1)).toMap
      == Map("a" -> 0L, "b" -> 10L, "c" -> 25L))
    p1.release()
    // converges at round 3 (round-2 improvement, round-3 empty frontier);
    // a 10-round budget must early-exit to the same frame
    val (p10, c10) = Graph.ssspStatus(e, seed, rounds = 10)
    assert(c10)
    assert(p10.df.collect().map(x => x.getString(0) -> x.getLong(1)).toMap
      == Map("a" -> 0L, "b" -> 10L, "c" -> 20L))
    p10.release()
  }

  test("sssp: unreachable nodes are absent; an off-graph seed converges to itself") {
    import spark.implicits._
    val e = Seq(("a", "b", 1L), ("c", "d", 1L)).toDF("src", "dst", "w")
    val r = Graph.sssp(e, Seq("a").toDF("id"), rounds = 5).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r == Map("a" -> 0L, "b" -> 1L)) // c, d never appear
    val (pz, cz) = Graph.ssspStatus(e, Seq("z").toDF("id"), rounds = 5)
    assert(cz, "a seed with no out-edges is already the fixpoint")
    assert(pz.df.collect().map(x => x.getString(0) -> x.getLong(1)).toMap
      == Map("z" -> 0L))
    pz.release()
  }

  test("release contract: every managed iterative plan, local and reliable checkpoint modes") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.graftshim.CheckpointBridge
    val e = Seq(("a", "b"), ("b", "a"), ("a", "c"), ("c", "a"), ("b", "c"),
      ("c", "b"), ("c", "d"), ("d", "e"), ("e", "f")).toDF("src", "dst")
    val we = e.withColumn("w", length(col("src")) + ascii(col("dst")) % 7)
    // triangle a-b-c with the tail c-d-e-f: k=2 peels one tail node a round
    val pairs = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "d"), ("d", "e"),
      ("e", "f")).toDF("u", "v")
    val seeds = Seq("a").toDF("id")
    val vertices = (1L to 9L).toDF("doc_id")
    val links = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (7L, 8L))
      .toDF("doc_a", "doc_b")
    // (name, managed plan, eager reference); PageRank and PPR run past
    // Fixpoint's 5-round cut, so every plan holds a live round cut
    val cases: Seq[(String, () => DedupPlan, () => DataFrame)] = Seq(
      ("pageRankPlan", () => Graph.pageRankPlan(e, iters = 7),
        () => Graph.pageRank(e, iters = 7)),
      ("personalizedPageRankPlan",
        () => Graph.personalizedPageRankPlan(e, seeds, iters = 7),
        () => Graph.personalizedPageRank(e, seeds, iters = 7)),
      ("bfsLevelsPlan", () => Graph.bfsLevelsPlan(e, seeds, maxHops = 4),
        () => Graph.bfsLevels(e, seeds, maxHops = 4)),
      ("labelPropagationPlan",
        () => Graph.labelPropagationPlan(e, iters = 5),
        () => Graph.labelPropagation(e, iters = 5)),
      ("kCoreStatus", () => Graph.kCoreStatus(pairs, k = 2, rounds = 6)._1,
        () => Graph.kCore(pairs, k = 2, rounds = 6)),
      ("ssspStatus", () => Graph.ssspStatus(we, seeds, rounds = 6)._1,
        () => Graph.sssp(we, seeds, rounds = 6)),
      ("connectedComponentsPlan", () => Dedup.connectedComponentsPlan(vertices, links),
        () => Dedup.connectedComponents(vertices, links)))
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
    val want = cases.map { case (name, _, eager) =>
      val out = eager()
      val r = rows(out)
      CheckpointBridge.release(out)
      name -> r
    }.toMap
    def roundFiles(dir: java.nio.file.Path): Long = {
      val s = java.nio.file.Files.walk(dir)
      try s.filter(_.getFileName.toString.startsWith("rdd-")).count() finally s.close()
    }
    def check(reliableDir: Option[java.nio.file.Path]): Unit =
      cases.foreach { case (name, managed, _) =>
        val mode = if (reliableDir.isDefined) "reliable" else "local"
        val before = spark.sparkContext.getPersistentRDDs.keySet
        val plan = managed()
        assert(rows(plan.df) == want(name), s"$name ($mode) differs from the eager form")
        reliableDir.foreach(d => assert(roundFiles(d) > 0, s"$name wrote no round files"))
        plan.release()
        val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
        assert(leaked.isEmpty, s"$name ($mode) leaked after release: $leaked")
        reliableDir.foreach(d =>
          assert(roundFiles(d) == 0, s"$name left round files in the checkpoint dir"))
      }
    check(None)
    val dir = java.nio.file.Files.createTempDirectory("graft-round-ckpt")
    spark.sparkContext.setCheckpointDir(dir.toString)
    try check(Some(dir))
    finally spark.sparkContext.setCheckpointDir(null)
  }
}
