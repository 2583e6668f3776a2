package graft.operators

import graft.GraftSession.table
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Iterative graph analytics over edge tables. The clustering side of
  * the engine ([[Dedup.connectedComponents]]) converges by pointer
  * doubling; this module covers the other canonical iterative shapes
  * with the engine's determinism contract: ALL rank arithmetic is
  * 64-bit integer fixed-point (ranks in units of 10⁻¹², `div` for
  * every division), so partial-aggregation order, partitioning, and
  * engine choice cannot move a single bit. The tiny mass the
  * floor-divisions shed (vs float PageRank) is irrelevant to ranking
  * and identical everywhere.
  *
  * Five loop bodies run on the [[Fixpoint]] driver here: the rank walk
  * (personalized PageRank; global PageRank is the walk seeded with
  * every node), the distance relaxation (SSSP; BFS is the relaxation
  * over unit weights), label propagation, k-core peeling, and — in
  * [[Dedup]] — connected components. Each round-joined edge list is
  * laid out once by [[bySrc]].
  *
  * Scale shape of the rank walk: each iteration is one join of the
  * edge list with the current rank table + one map-side-combinable sum
  * at the dst grain — the textbook distributed PageRank plan.
  * Iterations compose LAZILY into one Catalyst plan (no driver round
  * trips, nothing materialized between rounds) and [[Fixpoint]] cuts
  * lineage every few rounds. The seed count rides in as a
  * driver-computed literal — one COUNT, the kmeans-centroid
  * bounded-state pattern.
  */
object Graph {

  val Scale = 1000000000000L // rank fixed-point: 1.0 == 10^12

  private val Level = StorageLevel.MEMORY_AND_DISK_SER

  /** Materialize a managed plan's result into its OWN result-sized
    * storage (a [[Fixpoint.cut]]) and release every intermediate the
    * plan retained — what makes the convenience wrappers leak-free: the
    * returned frame is the handle for its own blocks
    * (`CheckpointBridge.release`), which in localCheckpoint mode the
    * ContextCleaner also drops when the frame is garbage-collected.
    * Reliable checkpoint FILES are not dropped on GC (unless
    * `spark.cleaner.referenceTracking.cleanCheckpoints` is enabled), so
    * a long-lived session calling the eager wrappers under a checkpoint
    * dir releases each result when done with it.
    */
  private def eagerReleased(plan: DedupPlan): DataFrame = {
    val out = Fixpoint.cut(plan.df)
    plan.release()
    out
  }

  /** The edge layout every round join reads, built once: the edge list
    * cached PRE-PARTITIONED and PRE-SORTED on `src`. A cached frame's
    * output partitioning and ordering satisfy the per-round sort-merge
    * join's requirement, so the rounds × |E| exchange becomes one and
    * the edge side needs no per-round sort either — only the
    * node-grain table pays per-round shuffle+sort (guide §2.4).
    * `derive` adds columns over that same layout before the persist:
    * the rank walk folds the out-degree in as a window count, whose
    * hashpartitioning(src)+sort(src) requirements are exactly this
    * layout, so each round needs ONE join (edges ⋈ rank) and no
    * separately cached degree table.
    */
  private def bySrc(edges: DataFrame,
      derive: DataFrame => DataFrame = identity): DataFrame =
    derive(edges.repartition(col("src")).sortWithinPartitions(col("src")))
      .persist(Level)

  /** Every node of a (src, dst) edge list, once, as `id`. */
  private def nodesOf(e: DataFrame): DataFrame =
    e.select(col("src").as("id")).unionAll(e.select(col("dst").as("id"))).distinct()

  /** Both directed edges (src, dst) of every undirected (u, v) pair. */
  private def symmetric(pairs: DataFrame): DataFrame =
    pairs.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(pairs.select(col("v").as("src"), col("u").as("dst")))

  /** `iters` rounds of damped PageRank over a DIRECTED edge list
    * (src, dst). Returns (id, r) with r in [[Scale]] fixed-point.
    * Dangling nodes (no out-edges) keep the teleport term only —
    * their outflow is dropped, matching the common sparse formulation.
    *
    * EAGER convenience form: runs the plan at call time, returns the
    * materialized O(nodes) rank table, and releases every
    * intermediate cache before returning (see `eagerReleased`).
    * Long-lived sessions that want lazy composition or reliable
    * checkpoints use [[pageRankPlan]] + `release()`.
    */
  def pageRank(edges: DataFrame, iters: Int, dampingPct: Int = 85): DataFrame =
    eagerReleased(pageRankPlan(edges, iters, dampingPct))

  /** Eager convenience form of [[triangleCountPlan]] — 1-row result,
    * all input-sized caches released before returning.
    */
  def triangleCount(pairs: DataFrame): DataFrame =
    eagerReleased(triangleCountPlan(pairs))

  /** Eager convenience form of [[bfsLevelsPlan]] — materialized
    * (id, lvl) table, caches and round checkpoints released.
    */
  def bfsLevels(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame =
    eagerReleased(bfsLevelsPlan(edges, seeds, maxHops))

  /** Eager convenience form of [[componentSummaryPlan]] — 1-row
    * result, all input-sized caches released before returning.
    */
  def componentSummary(pairs: DataFrame): DataFrame =
    eagerReleased(componentSummaryPlan(pairs))

  /** Managed form of [[pageRank]]: the personalized walk
    * ([[personalizedPageRankPlan]]) seeded with EVERY node. With k = n
    * seeds the teleport base and the start mass are the global ones,
    * the walk's full outer join with the seed set keeps every node,
    * and a rank-0 row the walk drops (possible only at
    * `dampingPct = 100`) adds 0 to its neighbours; the final node join
    * restores its exact zero. Rounds compose lazily
    * ([[Fixpoint.Lazy]]).
    */
  def pageRankPlan(edges: DataFrame, iters: Int, dampingPct: Int = 85): DedupPlan =
    rankWalk(edges, identity, iters, dampingPct, "pagerank")

  /** PERSONALIZED PageRank — the teleport mass restricted to a SEED
    * set: ranks measure relevance *to the seeds* (random walks restart
    * at a seed, never uniformly), the recommendation /
    * trust-propagation / related-items form of the algorithm. Nodes
    * the seeds cannot reach hold rank exactly 0 — integer arithmetic
    * makes that statement exact, not epsilon — so the output is
    * naturally LOCALIZED: on a 100 TB graph the non-zero frontier is
    * the seeds' neighborhood, not the node set.
    *
    * Scale shape: the edge list cached pre-partitioned on src with its
    * out-degree ([[bySrc]]), a per-round map-side-combinable
    * contribution sum; the seed set is node-grain, persisted, and
    * joins into each round's rank rebuild as the teleport indicator
    * (a broadcast-sized join at any realistic seed count).
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame, iters: Int,
      dampingPct: Int = 85): DataFrame =
    eagerReleased(personalizedPageRankPlan(edges, seeds, iters, dampingPct))

  def personalizedPageRankPlan(edges: DataFrame, seeds: DataFrame,
      iters: Int, dampingPct: Int = 85): DedupPlan =
    rankWalk(edges, _ => seeds.select(col("id")).distinct(), iters, dampingPct,
      "personalized-pagerank")

  /** The one rank walk: `seedsOf` picks the distinct teleport set
    * from the node set (all of it for global PageRank). The edge
    * layout and the seed set are each referenced once per round plus
    * the seed-count job — without a persist the whole upstream (here:
    * a full distinct over lineitem) re-executes every round. They and
    * the node set, which the output joins back, are cached
    * MEMORY_AND_DISK_SER and released via the [[DedupPlan]] ownership
    * contract.
    */
  private def rankWalk(edges: DataFrame, seedsOf: DataFrame => DataFrame,
      iters: Int, dampingPct: Int, strategy: String): DedupPlan = {
    require(iters >= 1, "need iters >= 1")
    require(dampingPct >= 0 && dampingPct <= 100, "dampingPct in [0,100]")
    val e = bySrc(edges.select(col("src"), col("dst")),
      _.withColumn("deg", count(lit(1)).over(Window.partitionBy(col("src")))))
    val nodes = nodesOf(e).persist(Level)
    val sd = seedsOf(nodes).withColumn("__sd", lit(1)).persist(Level)
    val k = sd.count() // one job, one long — bounded driver state
    require(k > 0, s"$strategy: empty seed set")
    val base = (100L - dampingPct) * Scale / (100L * k)
    // FRONTIER-SIZED rounds (guide §2.6 — the r16 q50 anti-scaling
    // fix): the walk is localized by construction (integer zeros are
    // exact), so the round state carries ONLY non-zero rows — seeds
    // at round 0, (contribution receivers ∪ seeds) afterwards. A
    // zero-rank node contributes r div deg = 0, so dropping it moves
    // no mass; its next-round value rebuilds from the contribution
    // table exactly as the node-grain form computed it. Rounds thus
    // shuffle the seeds' expanding neighborhood, never O(|V|); the
    // full node set joins back ONCE at the end for the exact-zero
    // rows of the output contract.
    val r = Fixpoint.run(sd.select(col("id"), lit(Scale / k).as("r")),
        iters, Fixpoint.Lazy) { (_, rank) =>
      val contrib = e.join(rank, e("src") === rank("id"))
        .select(col("dst").as("id"), expr("r div deg").as("c"))
        .groupBy(col("id")).agg(sum(col("c")).as("sc"))
      contrib.join(sd, Seq("id"), "full_outer")
        .select(col("id"),
          (when(col("__sd").isNotNull, lit(base)).otherwise(lit(0L))
            + expr(s"($dampingPct * coalesce(sc, 0)) div 100")).as("r"))
        .where(col("r") > 0)
    }
    // exact zeros for everything the walk never reached: one
    // (id, r) row for every node
    val out = nodes.join(r.result, Seq("id"), "left")
      .select(col("id"), coalesce(col("r"), lit(0L)).as("r"))
    r.plan(out, strategy, Seq(e, nodes, sd))
  }

  /** Triangle count over an undirected edge list given as distinct
    * (u < v) pairs — the clustering-coefficient numerator and the
    * classic "how cliquish is this graph" audit. Sorted-adjacency
    * closing sets ([[triangleBase]]); acyclic orientation means every
    * triangle is counted exactly once.
    *
    * Orientation is DEGREE-ordered (point each edge from its
    * lower-degree endpoint to its higher-degree one, ties by id) —
    * the standard skew refinement: wedge count is Σ_v outdeg(v)², and
    * degree-ordering caps every out-degree at O(√m) (a node of degree
    * d > √m has < √m higher-degree neighbors), so a hub of degree 10⁶
    * contributes ~m wedges instead of 10¹². Total work is bounded by
    * arboricity — O(m^{3/2}) worst case — where id-ordering degrades
    * to Σ deg(hub)² on exactly the nodes a skewed co-purchase graph
    * has. The triangle COUNT is orientation-invariant, so this is a
    * pure plan-shape change.
    *
    * Scale notes: the oriented edge list is referenced three times and
    * the degree table twice, so both are persisted behind the
    * [[DedupPlan]] release contract.
    */
  def triangleCountPlan(pairs: DataFrame): DedupPlan = {
    val (_, e, ws, caches) = triangleBase(pairs)
    DedupPlan(census(e, ws), "triangles", caches)
  }

  /** The 1-row census off the oriented edges and their closing sets:
    * (n_edges, n_triangles).
    */
  private def census(e: DataFrame, ws: DataFrame): DataFrame =
    e.agg(count(lit(1)).as("n_edges")).crossJoin(
      ws.agg(coalesce(sum(size(col("ws")).cast("long")), lit(0L)).as("n_triangles")))

  /** Shared machinery behind [[triangleCountPlan]],
    * [[localClusteringPlan]] and [[triangleProfilePlan]]: the degree
    * table, the degree-oriented edge list, and the per-edge CLOSING
    * SET `ws` — for each oriented edge (u, v), the sorted
    * out-neighbor arrays N⁺(u) and N⁺(v) intersected in-row. Every
    * triangle appears exactly once, on its lowest-oriented edge, with
    * the closing third corners as an array.
    *
    * This replaces the earlier wedge-close JOIN (e1⋈e2 on v=u, then a
    * third-edge membership join): the wedge stream — Σ outdeg², the
    * dominant volume — never materializes into a shuffle; instead the
    * neighbor lists ride along two edge-grain joins and the closure
    * test is one codegen'd `array_intersect`. Same asymptotic bound
    * (degree orientation caps out-degrees at O(√m), so list bytes =
    * wedge count), but two shuffles fewer and no join on the wedge
    * stream. Measured at sf0.1 local[32]: census 7.2 s → 5.1 s cold
    * on identical output.
    */
  private def triangleBase(
      pairs: DataFrame): (DataFrame, DataFrame, DataFrame, Seq[DataFrame]) = {
    val p = pairs.select(col("u"), col("v"))
    val deg = p.select(col("u").as("id"))
      .unionAll(p.select(col("v").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("d"))
      .persist(Level)
    val flip = struct(col("du"), col("u")) > struct(col("dv"), col("v"))
    val e = p
      .join(deg.select(col("id").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("id").as("v"), col("d").as("dv")), Seq("v"))
      .select(
        when(flip, col("v")).otherwise(col("u")).as("u"),
        when(flip, col("u")).otherwise(col("v")).as("v"))
      .persist(Level)
    val nbrs = e.groupBy(col("u").as("id"))
      .agg(sort_array(collect_list(col("v"))).as("ns"))
      .persist(Level)
    // inner join on v: an edge whose head has no out-neighbors cannot
    // close a triangle — dropped here, not null-handled downstream
    val ws = e
      .join(nbrs.select(col("id").as("u"), col("ns").as("nu")), Seq("u"))
      .join(nbrs.select(col("id").as("v"), col("ns").as("nv")), Seq("v"))
      .select(col("u"), col("v"),
        array_intersect(col("nu"), col("nv")).as("ws"))
      .where(size(col("ws")) > 0)
    (deg, e, ws, Seq(e, deg, nbrs))
  }

  /** Per-edge closing sets → per-node triangle counts: edge (u, v)
    * with k closing corners contributes k to u, k to v, and 1 to each
    * closing node w — one in-row struct expansion (k + 2 rows per
    * closing edge, total exactly 3 × n_triangles) and one
    * map-side-combinable sum per node.
    */
  private def cornerCounts(ws: DataFrame): DataFrame =
    ws.select(explode(concat(
        array(struct(col("u").as("id"), size(col("ws")).cast("long").as("c"))),
        array(struct(col("v").as("id"), size(col("ws")).cast("long").as("c"))),
        transform(col("ws"), w => struct(w.as("id"), lit(1L).as("c"))))).as("x"))
      .groupBy(col("x.id").as("id")).agg(sum(col("x.c")).as("n_tri"))

  private def lccFrom(deg: DataFrame, perNode: DataFrame): DataFrame =
    deg.where(col("d") >= 2)
      .join(perNode, Seq("id"), "left")
      .select(col("id"), col("d").as("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      // numerator in DECIMAL(38,0): a hub of degree ~3M has ~4.6e12
      // triangles possible and n_tri*2e6 silently wraps 64-bit (the
      // keySkew/concentration count-square precedent); IntegralDivide
      // on decimals still returns BIGINT so the schema is unchanged
      .withColumn("lcc_ppm",
        expr("CAST(n_tri AS DECIMAL(38,0)) * 2 * 1000000" +
          " DIV (CAST(deg AS DECIMAL(38,0)) * (deg - 1))"))

  /** BOTH triangle outputs — the 1-row census and the per-node
    * clustering table — off ONE persisted closing-set stream: a
    * caller auditing a graph wants both, and the closing-set
    * derivation (the whole cost) is identical, so deriving them
    * separately pays the dominant work twice. `release()` drops the
    * shared caches once both outputs are consumed.
    */
  final case class TriangleProfile(census: DataFrame, lcc: DataFrame,
      private val retained: Seq[DataFrame]) {
    def release(): Unit = retained.foreach(_.unpersist(blocking = false))
  }

  def triangleProfilePlan(pairs: DataFrame): TriangleProfile = {
    val (deg, e, ws0, caches) = triangleBase(pairs)
    val ws = ws0.persist(Level)
    TriangleProfile(census(e, ws), lccFrom(deg, cornerCounts(ws)), caches :+ ws)
  }

  /** Per-node LOCAL CLUSTERING COEFFICIENT — [[triangleCountPlan]]'s
    * node-grain sibling: for each node, how many of its neighbor
    * pairs are themselves connected, in exact integer ppm
    * (2·triangles·10⁶ div (deg·(deg−1))). The "is this node inside a
    * community or a hub of strangers" score: spam/bot accounts and
    * aggregator pages score near 0 while organic community members
    * score high, which is why it is a standard graph feature next to
    * PageRank in quality models. Output one row per node of degree
    * ≥ 2: (id, deg, n_tri, lcc_ppm).
    *
    * Scale shape: the SAME shared closing-set machinery as the global
    * count ([[triangleBase]] — degree orientation caps out-degrees at
    * O(√m), total work arboricity-bounded); each closing edge then
    * expands to its corner contributions in-row (exactly
    * 3 × n_triangles rows, far smaller than the edge list) and one
    * map-side-combinable sum per node. Degrees come from the
    * already-built degree table. The eager form releases the shared
    * caches; compose via the plan form, or take BOTH outputs from one
    * derivation via [[triangleProfilePlan]].
    */
  def localClustering(pairs: DataFrame): DataFrame =
    eagerReleased(localClusteringPlan(pairs))

  def localClusteringPlan(pairs: DataFrame): DedupPlan = {
    val (deg, _, ws, caches) = triangleBase(pairs)
    DedupPlan(lccFrom(deg, cornerCounts(ws)), "local-clustering", caches)
  }

  /** BFS hop distance — min hops from a SEED node set to every node
    * reachable within `maxHops`, over a directed edge list: FRONTIER
    * EXPANSION, the reachability probe behind neighborhood queries,
    * contamination blast radius and supply-chain reach. It runs as the
    * distance relaxation ([[ssspStatus]]) over unit weights: with
    * every weight 1, round h improves exactly the nodes BFS first
    * reaches at hop h, so each round touches only the just-reached
    * frontier — O(Σ frontier-adjacent edges), never rounds × |E| —
    * and the loop exits early once the frontier is empty. Levels are
    * exact integers; output one row per REACHED node: (id, lvl);
    * `maxHops = 0` returns the seeds at level 0.
    */
  def bfsLevelsPlan(edges: DataFrame, seeds: DataFrame, maxHops: Int): DedupPlan = {
    require(maxHops >= 0, "need maxHops >= 0")
    relax(edges.select(col("src"), col("dst")).withColumn("w", lit(1L)), seeds,
      maxHops, "lvl", "bfs_levels")._1
  }

  /** Component census over an undirected (u, v) pair list: component
    * count, giant-component size, node count — the 1-row structural
    * summary behind the q43 gate, built on the shared
    * [[Dedup.connectedComponents]] engine. The pair list feeds BOTH
    * the node derivation and the edge set, so it is persisted behind
    * the [[DedupPlan]] contract (unpersisted, an expensive upstream —
    * here the co-purchase self-join — would execute twice).
    */
  def componentSummaryPlan(pairs: DataFrame): DedupPlan = {
    val e = pairs.select(col("u"), col("v"))
      .persist(Level)
    val nodes = e.select(col("u").as("doc_id"))
      .unionAll(e.select(col("v").as("doc_id"))).distinct()
    // managed CC form: forward its finalizer so release() also frees
    // the final round checkpoint the label table reads
    val cc = Dedup.connectedComponentsPlan(nodes,
      e.select(col("u").as("doc_a"), col("v").as("doc_b")))
    val out = cc.df
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
      .agg(count(lit(1)).as("n_components"), max(col("sz")).as("largest"),
        sum(col("sz")).as("n_nodes"))
    DedupPlan(out, "component_summary", Seq(e),
      finalizers = Seq(() => cc.release()))
  }

  /** Co-purchase graph: parts appearing in the same order, kept only
    * at `minSupport`+ co-occurrences — the support threshold is what
    * keeps a dense accidental-co-occurrence graph (every pair that
    * ever shared one order) from exploding the edge list.
    *
    * BASKET-ARRAY build, not a self-join: ONE groupBy(order) shuffle
    * collects each order's distinct sorted part set (`collect_set`
    * dedups in the partial aggregate, so this subsumes the
    * (order, part)-distinct pass), then the u < v pairs expand
    * IN-ROW via nested `transform`/`slice` — codegen'd, no join —
    * and one pair-grain count applies the support floor. The
    * previous distinct + self-join + count form paid three shuffles
    * and a join for the same output; this pays two shuffles and the
    * pair stream is born already oriented. Per-basket expansion is
    * O(|basket|²), the same pair volume the join emitted — baskets
    * are order-bounded (single-digit lines in TPC-H-shaped data), so
    * no row inflates pathologically. Measured at sf0.1 local[32]:
    * 3.4 s vs 8.2 s cold, identical 3573-edge output.
    */
  def copurchaseEdges(li: DataFrame, minSupport: Int = 2): DataFrame =
    copurchaseEdgesWeighted(li, minSupport).select(col("u"), col("v"))

  /** [[copurchaseEdges]] keeping the co-occurrence count: (u, v, sup),
    * u < v, sup >= minSupport. The support column is the natural edge
    * WEIGHT for distance-flavored analytics (see the q51 gate: w =
    * 10⁶ div sup turns "frequently bought together" into "close").
    */
  def copurchaseEdgesWeighted(li: DataFrame, minSupport: Int = 2): DataFrame = {
    val baskets = li.groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .where(size(col("ps")) >= 2)
    baskets.select(explode(flatten(transform(col("ps"), (x, i) =>
        transform(slice(col("ps"), i + 2, size(col("ps"))),
          y => struct(x.as("u"), y.as("v")))))).as("pr"))
      .groupBy(col("pr.u").as("u"), col("pr.v").as("v"))
      .agg(count(lit(1)).as("sup"))
      .where(col("sup") >= minSupport)
  }

  /** The gate's graph: the undirected part↔supplier bipartite graph
    * induced by lineitem ("which suppliers ship which parts"), each
    * distinct pair contributing both directed edges, with the public
    * `p<partkey>` / `s<suppkey>` string ids: [[partSupplierEdgesL]]
    * rendered by [[renderPsId]]. The long encoding is injective, so
    * rendering after its distinct still yields distinct pairs.
    */
  def partSupplierEdges(li: DataFrame): DataFrame =
    partSupplierEdgesL(li)
      .select(renderPsId(col("src")).as("src"), renderPsId(col("dst")).as("dst"))

  /** LONG-keyed form of [[partSupplierEdges]] — the iterative gates'
    * internal form (guide §2.3, narrower types): every round's join/
    * aggregation key is an 8-byte long (part k → 2k, supplier k →
    * 2k+1) instead of a rendered `p…`/`s…` string, so the distinct,
    * the per-round shuffles and the node-grain state all move fixed-
    * width ints; [[renderPsId]] rebuilds the exact public string id at
    * the output grain (one narrow projection on O(nodes) rows). Key
    * range: TPC-H keys are ≥ 1 and far below 2⁶², so 2k+1 cannot
    * overflow.
    */
  private[operators] def partSupplierEdgesL(li: DataFrame): DataFrame =
    symmetric(li.select(
      (col("l_partkey").cast("long") * 2).as("u"),
      (col("l_suppkey").cast("long") * 2 + 1).as("v")).distinct())

  /** Decode a [[partSupplierEdgesL]] node id back to the public
    * `p<partkey>` / `s<suppkey>` string form. INTEGER division only
    * (`shiftright`, never Column `/`, which is double division and
    * loses exactness above 2⁵³): the decode is exact over the full
    * non-negative long range, so the encoding's stated 2⁶² safety
    * bound holds end-to-end. Ids are non-negative by construction
    * (TPC-H keys ≥ 1), so the arithmetic shift is the floor the
    * decode needs; (id − 1) >> 1 = id >> 1 for odd id.
    */
  private[operators] def renderPsId(id: Column): Column =
    when(pmod(id, lit(2L)) === 0L, concat(lit("p"), shiftright(id, 1)))
      .otherwise(concat(lit("s"), shiftright(id, 1)))

  /** Synchronous label propagation (community detection), `iters`
    * fixed rounds: every node starts as its own label; each round a
    * node adopts the most frequent label among its IN-neighbors
    * (count DESC, label ASC — fully deterministic, unlike classic
    * random-order LPA), keeping its current label when it has none.
    * Fixed-round synchronous updates make the result engine-exact (no
    * convergence race) and sidestep LPA's bipartite oscillation by
    * construction — callers pick `iters`, they don't wait on a fixed
    * point.
    *
    * Scale shape matches [[pageRankPlan]]: edges cached PRE-PARTITIONED
    * on src ([[bySrc]]) so the per-round label join never re-exchanges
    * the edge list; each round is that join + a map-side-combinable (dst,
    * label) count + a min(struct) argmax at the node grain; each
    * round is cut ([[Fixpoint.EachRound]]). Labels live at the node
    * grain — O(|V|) state per round, never edge-sized.
    */
  def labelPropagation(edges: DataFrame, iters: Int): DataFrame =
    eagerReleased(labelPropagationPlan(edges, iters))

  def labelPropagationPlan(edges: DataFrame, iters: Int): DedupPlan = {
    require(iters >= 1, "need iters >= 1")
    val e = bySrc(edges.select(col("src"), col("dst")))
    val nodes = nodesOf(e).persist(Level)
    // each round's label frame is consumed TWICE by the next round
    // (vote join + keep-own coalesce), so every round is cut
    val r = Fixpoint.run(nodes.select(col("id"), col("id").as("lbl")),
        iters, Fixpoint.EachRound) { (_, labels) =>
      val votes = e.join(labels, e("src") === labels("id"))
        .groupBy(e("dst").as("nid"), col("lbl"))
        .agg(count(lit(1)).as("c"))
      // argmax by (count DESC, label ASC) via min(struct(-c, lbl))
      val winner = votes
        .groupBy(col("nid"))
        .agg(min(struct((-col("c")).as("nc"), col("lbl").as("l"))).as("w"))
        .select(col("nid").as("id"), col("w.l").as("new_lbl"))
      labels.join(winner, Seq("id"), "left")
        .select(col("id"), coalesce(col("new_lbl"), col("lbl")).as("lbl"))
    }
    r.plan(r.result, "label-propagation", Seq(e, nodes))
  }

  /** Fixed-round k-CORE PEELING over an undirected (u, v) pair list —
    * the density filter a web/co-occurrence graph gets before
    * community or spam analysis: repeatedly discard nodes with fewer
    * than `k` neighbors INSIDE the surviving subgraph. After `rounds`
    * synchronous peels, returns the survivors with the in-subgraph
    * degree that justified their survival: (id, deg), deg >= k.
    * Fixed-round (not run-to-fixpoint) for the same reason as
    * [[labelPropagation]]: the result is engine-exact and replayable —
    * callers pick `rounds`; on a converged graph extra rounds are
    * provable no-ops (the alive set is monotone non-increasing) and
    * are SKIPPED, and [[kCoreStatus]] reports whether the fixpoint
    * was actually reached within the budget.
    *
    * This is the fourth iterative-graph shape in the module, distinct
    * from score propagation (pagerank), frontier expansion (BFS) and
    * label convergence (LPA/CC): a MONOTONE SHRINKING vertex set.
    * Each round's work is bounded by the CURRENT subgraph, so cost
    * falls as peeling progresses — the property that makes k-core
    * tractable on a 100 TB edge list where a fixpoint re-scan of the
    * full graph per round would not be.
    *
    * Eager convenience form of [[kCoreStatus]].
    */
  def kCore(pairs: DataFrame, k: Int, rounds: Int): DataFrame =
    eagerReleased(kCoreStatus(pairs, k, rounds)._1)

  /** Managed form of [[kCore]] plus the CONVERGENCE bit: `true` iff
    * the peel provably reached the k-core fixpoint within `rounds`.
    * The alive set is monotone non-increasing, so two consecutive
    * rounds with the SAME survivor count have the same survivor SET —
    * a fixpoint (and the empty set is trivially one). A `false` here
    * means the returned frame is a PARTIAL peel — the
    * BFS-frontier-emptiness contract applied to the shrinking-vertex-
    * set shape; without it a deep peel that hasn't converged is
    * silently wrong-by-truncation.
    *
    * Scale shape: the symmetrized edge list is cached PRE-PARTITIONED
    * on src ([[bySrc]] — the per-round src-side semi-join never
    * re-exchanges it); each round is two semi-joins against the
    * O(|V|)-and-shrinking alive set (src side exchange-free by layout,
    * dst side exchanges only the current — already peeled — edge
    * subset) plus one map-side-combinable degree count. Per-round alive
    * sets are node-grain, consumed twice (both semi-joins), and cut
    * every round ([[Fixpoint.EachRound]]).
    *
    * The check rides on counts of the per-round survivor cuts
    * (node-grain, already materialized for the next round's two
    * semi-joins) and doubles as EARLY EXIT: once the fixpoint is
    * reached, remaining rounds are provable no-ops and are skipped, so
    * over-provisioning `rounds` on a shallow graph costs nothing.
    */
  def kCoreStatus(pairs: DataFrame, k: Int, rounds: Int): (DedupPlan, Boolean) = {
    require(k >= 1, "need k >= 1")
    require(rounds >= 1, "need rounds >= 1")
    val e = bySrc(symmetric(pairs))
    // read the survivor count off each round's cut: equal consecutive
    // counts on a monotone-shrinking set ⇒ fixpoint; empty ⇒ fixpoint
    var prevN = -1L // unknown before the first peel
    def peeled(core: DataFrame): Boolean = {
      val n = core.count()
      val done = n == prevN || n == 0L
      prevN = n
      done
    }
    // round state: the survivors WITH the degree that justified
    // survival (the output); before the first peel, every node
    val r = Fixpoint.run(e.select(col("src").as("id")).distinct(), rounds,
        Fixpoint.EachRound, peeled) { (_, alive) =>
      e.join(alive.select(col("id").as("sid")),
          col("src") === col("sid"), "left_semi")
        .join(alive.select(col("id").as("did")),
          col("dst") === col("did"), "left_semi")
        .groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .where(col("deg") >= k)
        .select(col("src").as("id"), col("deg"))
    }
    (r.plan(r.result, "kcore", Seq(e)), r.converged)
  }

  /** LINK PREDICTION over an undirected (u < v) edge list: score every
    * NON-adjacent node pair at distance 2 by shared-neighborhood
    * evidence — the "bought X and W together, W and Y together, so X
    * and Y belong together" recommender/graph-completion primitive.
    * Output per candidate pair: common-neighbor count, the
    * resource-allocation index (Σ over shared neighbors w of
    * 1e6 DIV deg(w) — hub neighbors contribute ~0, rare shared
    * neighbors dominate, the reason RA beats raw counts on skewed
    * graphs), both endpoint degrees, and neighborhood Jaccard
    * (n_common·1e6 DIV (deg_u + deg_v − n_common)). All integer ppm —
    * bit-reproducible cross-engine where float 1/deg would drift.
    *
    * Scale shape: candidates enumerate as wedges PER CENTER node
    * (cost Σ deg(w)² over centers), so hubs dominate the volume;
    * `maxHubDegree` drops centers above the cap BEFORE the self-join.
    * That is principled, not just cheap: a super-hub's RA weight is
    * 1e6/deg ≈ 0 and co-occurrence through it is noise, the same
    * argument as the prefiltered jaccard's hot-shingle floor. The
    * remaining work is Σ_{deg ≤ cap} deg² ≤ cap·m. One self-join at
    * the center grain, one map-side-combinable pair aggregate, one
    * left-anti against the edge list, two node-grain degree joins.
    * A pair ALL of whose shared neighbors are capped hubs is absent
    * from the output — the cap's documented semantics. `minCommon`
    * floors the evidence (2+ shared neighbors) the way the ER
    * threshold sweep floors link evidence.
    */
  def linkPrediction(pairs: DataFrame, maxHubDegree: Long = 10000L,
      minCommon: Long = 2L): DataFrame =
    eagerReleased(linkPredictionPlan(pairs, maxHubDegree, minCommon))

  def linkPredictionPlan(pairs: DataFrame, maxHubDegree: Long = 10000L,
      minCommon: Long = 2L): DedupPlan = {
    require(maxHubDegree >= 1, "need maxHubDegree >= 1")
    require(minCommon >= 1, "need minCommon >= 1")
    val p = pairs.select(col("u"), col("v"))
    val sym = symmetric(p)
    val deg = sym.groupBy(col("src").as("id")).agg(count(lit(1)).as("d"))
      .persist(Level)
    // center-annotated half-edges: consumed twice by the self-join
    val half = sym
      .join(deg.where(col("d") <= maxHubDegree)
        .select(col("id").as("src"), col("d").as("dc")), Seq("src"))
      .persist(Level)
    val wedges = half.as("a").join(half.as("b"),
        col("a.src") === col("b.src") && col("a.dst") < col("b.dst"))
      .select(col("a.dst").as("u"), col("b.dst").as("v"), col("a.dc").as("dc"))
    val scored = wedges.groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("n_common"),
        sum(expr("1000000 DIV dc")).as("ra_ppm"))
      .where(col("n_common") >= minCommon)
    val out = scored.join(p, Seq("u", "v"), "left_anti")
      .join(deg.select(col("id").as("u"), col("d").as("deg_u")), Seq("u"))
      .join(deg.select(col("id").as("v"), col("d").as("deg_v")), Seq("v"))
      .select(col("u"), col("v"), col("n_common"), col("ra_ppm"),
        col("deg_u"), col("deg_v"))
      .withColumn("jaccard_ppm",
        expr("n_common * 1000000 DIV (deg_u + deg_v - n_common)"))
    DedupPlan(out, "link-prediction", Seq(deg, half))
  }

  /** WEIGHTED single-source shortest paths — min total edge weight
    * from a seed set to every node reachable within `rounds`
    * relaxation rounds, over a directed (src, dst, w) edge list with
    * NON-NEGATIVE integer weights: MONOTONE DISTANCE RELAXATION
    * (distributed Bellman-Ford), the loop [[bfsLevelsPlan]] also runs,
    * over unit weights. Output
    * one row per reached node: (id, dist); integer weights make every
    * distance exact, so cross-engine equality is bit-level, not
    * epsilon.
    *
    * FRONTIER-DELTA rounds, not full re-relaxation: each round
    * relaxes only edges whose source IMPROVED last round. That is
    * result-identical to relaxing every edge every round (distances
    * are monotone non-increasing, and a non-improved source's offers
    * were already absorbed the round after it last improved) but does
    * frontier-proportional work — the property that makes SSSP
    * tractable on a 100 TB edge list, where rounds × |E| relaxation
    * would not be. Per round: one src-side join of the cached
    * pre-partitioned edge list with the frontier (exchange-free by
    * layout), one map-side-combinable MIN per dst, one full-outer
    * merge at the O(reached)-node grain. The merged frame is cut
    * every round ([[Fixpoint.EachRound]]) and its frontier emptiness
    * doubles as CONVERGENCE detection and EARLY EXIT: an empty
    * frontier is the SSSP fixpoint — remaining rounds are provable
    * no-ops and are skipped ([[ssspStatus]] reports the bit; a
    * `false` means distances are exact only for paths of <= `rounds`
    * edges, the BFS `maxHops` contract).
    */
  def sssp(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame =
    eagerReleased(ssspStatus(edges, seeds, rounds)._1)

  /** [[sssp]] plus the convergence bit (managed-plan form). */
  def ssspStatus(edges: DataFrame, seeds: DataFrame,
      rounds: Int): (DedupPlan, Boolean) = {
    require(rounds >= 1, "need rounds >= 1")
    relax(edges, seeds, rounds, "dist", "sssp")
  }

  /** The one distance relaxation behind [[ssspStatus]] and
    * [[bfsLevelsPlan]], naming the distance column `out`. It accepts
    * 0 rounds (the seeds at distance 0), which BFS's `maxHops = 0`
    * needs.
    */
  private def relax(edges: DataFrame, seeds: DataFrame, rounds: Int,
      out: String, strategy: String): (DedupPlan, Boolean) = {
    val e = bySrc(edges.select(col("src"), col("dst"), col("w")))
    // round state: every reached node's distance, `improved` marking
    // the frontier (the seeds, before the first round); the frontier
    // emptiness read off each cut is the convergence probe
    val r = Fixpoint.run(seeds.select(col("id")).distinct()
        .select(col("id"), lit(0L).as("dist"), lit(true).as("improved")),
        rounds, Fixpoint.EachRound, _.where(col("improved")).isEmpty) {
        (_, merged) =>
      val offers = e.join(merged.where(col("improved"))
            .select(col("id").as("fid"), col("dist").as("fd")),
          col("src") === col("fid"))
        .select(col("dst").as("id"), (col("fd") + col("w")).as("nd"))
        .groupBy(col("id")).agg(min(col("nd")).as("nd"))
      // full outer: an offer may reach a brand-new node (dist null) or
      // an already-reached one (keep the min); explicit CASE, not
      // least(), so null semantics are spelled out for the oracle twin
      merged.select(col("id"), col("dist")).join(offers, Seq("id"), "full_outer")
        .select(col("id"),
          when(col("dist").isNull, col("nd"))
            .when(col("nd").isNull, col("dist"))
            .when(col("nd") < col("dist"), col("nd"))
            .otherwise(col("dist")).as("dist"),
          (col("dist").isNull ||
            (col("nd").isNotNull && col("nd") < col("dist"))).as("improved"))
    }
    (r.plan(r.result.select(col("id"), col("dist").as(out)), strategy, Seq(e)),
      r.converged)
  }

  /** The q51 gate body: inverse-support shortest paths over the
    * co-purchase graph from its lowest-keyed node. The weighted pair
    * list feeds THREE consumers (two symmetrization legs via one
    * in-row explode, plus the seed argmin), so it is persisted here
    * and released after the eager SSSP materializes — the same
    * one-traversal discipline as [[componentSummaryPlan]].
    */
  private def ssspGate(li: DataFrame, rounds: Int): DataFrame = {
    val cp = copurchaseEdgesWeighted(li)
      .withColumn("w", expr("1000000 DIV sup"))
      .persist(Level)
    val e = cp.select(explode(array(
        struct(col("u").as("src"), col("v").as("dst"), col("w").as("w")),
        struct(col("v").as("src"), col("u").as("dst"), col("w").as("w"))))
        .as("x"))
      .select(col("x.src").as("src"), col("x.dst").as("dst"),
        col("x.w").as("w"))
    val seed = cp.agg(min(col("u")).as("id")) // u < v, so min(u) = min node
    val out = sssp(e, seed, rounds)
    cp.unpersist(blocking = false)
    out
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // 3 unrolled rounds; top-25 hub nodes (suppliers dominate: a
    // supplier touches ~20x more edges than any part). Long-keyed
    // internally (partSupplierEdgesL); ids render to the public
    // string form BEFORE the (r DESC, id) order so the tie-break
    // stays the oracle's string order
    "q40_pagerank" -> ((s, dir) =>
      pageRank(partSupplierEdgesL(table(s, dir, "lineitem")), iters = 3)
        .select(renderPsId(col("id")).as("id"), col("r"))
        .orderBy(col("r").desc, col("id")).limit(25)),

    // triangles in the support-2 co-purchase graph
    "q41_triangles" -> ((s, dir) =>
      triangleCount(copurchaseEdges(table(s, dir, "lineitem")))),

    // component structure of the co-purchase graph: how many product
    // communities exist and how big the giant one is — the shared CC
    // engine (pointer doubling) applied to a product graph, aggregated
    // to a 1-row structural summary
    "q43_components" -> ((s, dir) =>
      componentSummary(copurchaseEdges(table(s, dir, "lineitem")))),

    // 4-hop reach from the lowest-keyed part over the part-supplier
    // graph: which parts/suppliers are within two supply steps.
    // Long-keyed internally; render before the (lvl, id) string order
    "q42_bfs" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      val seed = li.agg((min(col("l_partkey")).cast("long") * 2).as("id"))
      bfsLevels(partSupplierEdgesL(li), seed, maxHops = 4)
        .select(renderPsId(col("id")).as("id"), col("lvl"))
        .orderBy("lvl", "id")
    }),

    // per-node clustering coefficient over the co-purchase graph: the
    // community-vs-hub score beside the global triangle census
    "q48_lcc" -> ((s, dir) =>
      localClustering(copurchaseEdges(table(s, dir, "lineitem")))
        .orderBy("id")),

    // 3 peeling rounds of the 2-core over the co-purchase graph: the
    // dense backbone after pendant/chain products are stripped, with
    // the in-subgraph degree that justified each survival
    "q47_kcore" -> ((s, dir) =>
      kCore(copurchaseEdges(table(s, dir, "lineitem")), k = 2, rounds = 3)
        .orderBy("id")),

    // link prediction over the co-purchase graph: non-adjacent part
    // pairs sharing >= 2 co-purchase neighbors, scored by integer-ppm
    // resource allocation and neighborhood Jaccard — the
    // "recommend Y next to X" candidate table
    "q49_link_predict" -> ((s, dir) =>
      linkPrediction(copurchaseEdges(table(s, dir, "lineitem")),
        maxHubDegree = 1000L, minCommon = 2L)
        .orderBy("u", "v")),

    // personalized PageRank from the lowest-keyed part over the
    // part-supplier graph: relevance TO that product — top-25 of the
    // naturally-localized non-zero frontier (exact integer zeros)
    "q50_ppr" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      val seed = li.agg((min(col("l_partkey")).cast("long") * 2).as("id"))
      personalizedPageRank(partSupplierEdgesL(li), seed, iters = 3)
        .where(col("r") > 0)
        .select(renderPsId(col("id")).as("id"), col("r"))
        .orderBy(col("r").desc, col("id")).limit(25)
    }),

    // inverse-support shortest paths (4 relaxation rounds) from the
    // lowest-keyed product over the co-purchase graph: "how close is
    // every other product, where frequently-bought-together = near"
    "q51_sssp" -> ((s, dir) =>
      ssspGate(table(s, dir, "lineitem"), rounds = 4).orderBy("id")),

    // 3 synchronous label-propagation rounds over the symmetrized
    // co-purchase graph: deterministic community labels per product
    "q46_label_prop" -> ((s, dir) =>
      labelPropagation(symmetric(copurchaseEdges(table(s, dir, "lineitem"))),
        iters = 3).orderBy("id")))

  def oracles: Map[String, String] = Map(
    "q40_pagerank" -> {
      def round(prev: String, cur: String): String =
        s"""c$cur AS (SELECT e.dst AS id, SUM($prev.r // deg.deg) AS sc
           |  FROM e JOIN $prev ON e.src = $prev.id JOIN deg ON e.src = deg.src
           |  GROUP BY e.dst),
           |$cur AS (SELECT nodes.id,
           |   (15 * ${Scale}) // (100 * (SELECT n FROM n))
           |    + (85 * COALESCE(sc, 0)) // 100 AS r
           |  FROM nodes LEFT JOIN c$cur ON nodes.id = c$cur.id)""".stripMargin
      s"""WITH e0 AS (SELECT DISTINCT 'p' || l_partkey AS p, 's' || l_suppkey AS s
         |  FROM lineitem),
         |e AS (SELECT p AS src, s AS dst FROM e0
         |      UNION ALL SELECT s AS src, p AS dst FROM e0),
         |nodes AS (SELECT DISTINCT src AS id FROM e),
         |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
         |n AS (SELECT COUNT(*) AS n FROM nodes),
         |r0 AS (SELECT id, ${Scale} // (SELECT n FROM n) AS r FROM nodes),
         |${round("r0", "r1")},
         |${round("r1", "r2")},
         |${round("r2", "r3")}
         |SELECT id, CAST(r AS BIGINT) AS r
         |FROM r3 ORDER BY r DESC, id LIMIT 25""".stripMargin
    },
    "q43_components" ->
      """WITH RECURSIVE
        |li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e0 AS (SELECT a.p AS u, b.p AS v FROM li a
        |      JOIN li b ON a.o = b.o AND a.p < b.p
        |      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |edges AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
        |nodes AS (SELECT DISTINCT u AS id FROM edges),
        |reach(u, v) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
        |cl AS (SELECT u, MIN(v) AS c FROM reach GROUP BY u),
        |szs AS (SELECT c, COUNT(*) AS sz FROM cl GROUP BY c)
        |SELECT COUNT(*) AS n_components, MAX(sz) AS largest,
        | CAST(SUM(sz) AS BIGINT) AS n_nodes
        |FROM szs""".stripMargin,

    // UNION (not UNION ALL) recursion: states dedup per (id, lvl), so
    // the CTE is bounded by nodes × levels, never path counts
    "q42_bfs" ->
      """WITH RECURSIVE
        |e0 AS (SELECT DISTINCT 'p' || l_partkey AS p, 's' || l_suppkey AS s
        |       FROM lineitem),
        |e AS (SELECT p AS src, s AS dst FROM e0
        |      UNION ALL SELECT s AS src, p AS dst FROM e0),
        |seed AS (SELECT 'p' || MIN(l_partkey) AS id FROM lineitem),
        |b(id, lvl) AS (
        |  SELECT id, 0 FROM seed
        |  UNION
        |  SELECT e.dst, b.lvl + 1 FROM b JOIN e ON e.src = b.id WHERE b.lvl < 4)
        |SELECT id, CAST(MIN(lvl) AS BIGINT) AS lvl
        |FROM b GROUP BY id ORDER BY lvl, id""".stripMargin,

    // degree-ordered orientation mirrored from triangleCountPlan; the
    // count is orientation-invariant but the oracle exercises the same
    // edge list the engine joins on
    "q41_triangles" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |p0 AS (SELECT a.p AS u, b.p AS v FROM li a
        |      JOIN li b ON a.o = b.o AND a.p < b.p
        |      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |deg AS (SELECT id, COUNT(*) AS d FROM
        |        (SELECT u AS id FROM p0 UNION ALL SELECT v FROM p0)
        |        GROUP BY id),
        |e AS (SELECT CASE WHEN (du.d, p0.u) > (dv.d, p0.v) THEN p0.v ELSE p0.u END AS u,
        |             CASE WHEN (du.d, p0.u) > (dv.d, p0.v) THEN p0.u ELSE p0.v END AS v
        |      FROM p0 JOIN deg du ON p0.u = du.id JOIN deg dv ON p0.v = dv.id),
        |t AS (SELECT COUNT(*) AS n_triangles
        |      FROM e e1 JOIN e e2 ON e1.v = e2.u
        |      JOIN e e3 ON e1.u = e3.u AND e2.v = e3.v)
        |SELECT (SELECT COUNT(*) FROM e) AS n_edges, n_triangles FROM t""".stripMargin,

    // triangle corners unnested to node grain; deg >= 2 nodes kept,
    // integer-ppm coefficient
    "q48_lcc" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |p0 AS (SELECT a.p AS u, b.p AS v FROM li a
        |      JOIN li b ON a.o = b.o AND a.p < b.p
        |      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |deg AS (SELECT id, COUNT(*) AS d FROM
        |        (SELECT u AS id FROM p0 UNION ALL SELECT v FROM p0)
        |        GROUP BY id),
        |e AS (SELECT CASE WHEN (du.d, p0.u) > (dv.d, p0.v) THEN p0.v ELSE p0.u END AS u,
        |             CASE WHEN (du.d, p0.u) > (dv.d, p0.v) THEN p0.u ELSE p0.v END AS v
        |      FROM p0 JOIN deg du ON p0.u = du.id JOIN deg dv ON p0.v = dv.id),
        |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |      FROM e e1 JOIN e e2 ON e1.v = e2.u
        |      JOIN e e3 ON e1.u = e3.u AND e2.v = e3.v),
        |pn AS (SELECT id, COUNT(*) AS n_tri FROM (
        |       SELECT unnest([a, b, c]) AS id FROM tri) GROUP BY id)
        |SELECT deg.id, deg.d AS deg,
        | CAST(COALESCE(pn.n_tri, 0) AS BIGINT) AS n_tri,
        | CAST(COALESCE(pn.n_tri, 0) * 2 * 1000000 // (deg.d * (deg.d - 1))
        |   AS BIGINT) AS lcc_ppm
        |FROM deg LEFT JOIN pn USING (id)
        |WHERE deg.d >= 2 ORDER BY deg.id""".stripMargin,

    // 3 peeling rounds replayed: per round, degrees within the
    // surviving subgraph, survivors = deg >= 2; output carries the
    // final round's justifying degree
    "q47_kcore" -> {
      val rounds = (1 to 3).map { r =>
        s""",
           |d$r AS (SELECT e.src, COUNT(*) AS deg FROM e
           |  JOIN n${r - 1} a ON e.src = a.id
           |  JOIN n${r - 1} b ON e.dst = b.id GROUP BY e.src),
           |n$r AS (SELECT src AS id FROM d$r WHERE deg >= 2)""".stripMargin
      }.mkString
      s"""WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |p0 AS (SELECT a.p AS u, b.p AS v FROM li a
         |      JOIN li b ON a.o = b.o AND a.p < b.p
         |      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |e AS (SELECT u AS src, v AS dst FROM p0
         |      UNION ALL SELECT v, u FROM p0),
         |n0 AS (SELECT DISTINCT src AS id FROM e)$rounds
         |SELECT src AS id, CAST(deg AS BIGINT) AS deg
         |FROM d3 WHERE deg >= 2 ORDER BY id""".stripMargin
    },

    // wedge enumeration per (capped) center, integer-ppm RA and
    // Jaccard, existing edges anti-joined away
    "q49_link_predict" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |p0 AS (SELECT a.p AS u, b.p AS v FROM li a
        |      JOIN li b ON a.o = b.o AND a.p < b.p
        |      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |sym AS (SELECT u AS src, v AS dst FROM p0
        |      UNION ALL SELECT v, u FROM p0),
        |deg AS (SELECT src AS id, COUNT(*) AS d FROM sym GROUP BY 1),
        |half AS (SELECT s.src, s.dst, dg.d AS dc FROM sym s
        |      JOIN deg dg ON s.src = dg.id WHERE dg.d <= 1000),
        |w AS (SELECT a.dst AS u, b.dst AS v, a.dc FROM half a
        |      JOIN half b ON a.src = b.src AND a.dst < b.dst),
        |sc AS (SELECT u, v, COUNT(*) AS n_common,
        |       SUM(1000000 // dc) AS ra_ppm
        |      FROM w GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |na AS (SELECT sc.* FROM sc WHERE NOT EXISTS
        |      (SELECT 1 FROM p0 WHERE p0.u = sc.u AND p0.v = sc.v))
        |SELECT na.u, na.v, CAST(n_common AS BIGINT) AS n_common,
        | CAST(ra_ppm AS BIGINT) AS ra_ppm,
        | CAST(du.d AS BIGINT) AS deg_u, CAST(dv.d AS BIGINT) AS deg_v,
        | CAST(n_common * 1000000 // (du.d + dv.d - n_common) AS BIGINT)
        |   AS jaccard_ppm
        |FROM na JOIN deg du ON na.u = du.id JOIN deg dv ON na.v = dv.id
        |ORDER BY u, v""".stripMargin,

    // the seeded teleport replay: base mass lands on the seed only;
    // unreached nodes stay exactly 0 and are filtered like the gate
    "q50_ppr" -> {
      def round(prev: String, cur: String): String =
        s"""c$cur AS (SELECT e.dst AS id, SUM($prev.r // deg.deg) AS sc
           |  FROM e JOIN $prev ON e.src = $prev.id JOIN deg ON e.src = deg.src
           |  GROUP BY e.dst),
           |$cur AS (SELECT nodes.id,
           |   CASE WHEN nodes.id = (SELECT id FROM sd)
           |        THEN (15 * ${Scale}) // 100 ELSE 0 END
           |    + (85 * COALESCE(sc, 0)) // 100 AS r
           |  FROM nodes LEFT JOIN c$cur ON nodes.id = c$cur.id)""".stripMargin
      s"""WITH e0 AS (SELECT DISTINCT 'p' || l_partkey AS p, 's' || l_suppkey AS s
         |  FROM lineitem),
         |e AS (SELECT p AS src, s AS dst FROM e0
         |      UNION ALL SELECT s AS src, p AS dst FROM e0),
         |nodes AS (SELECT DISTINCT src AS id FROM e),
         |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
         |sd AS (SELECT 'p' || MIN(l_partkey) AS id FROM lineitem),
         |r0 AS (SELECT id, CASE WHEN id = (SELECT id FROM sd)
         |       THEN ${Scale} ELSE 0 END AS r FROM nodes),
         |${round("r0", "r1")},
         |${round("r1", "r2")},
         |${round("r2", "r3")}
         |SELECT id, CAST(r AS BIGINT) AS r
         |FROM r3 WHERE r > 0 ORDER BY r DESC, id LIMIT 25""".stripMargin
    },

    // 4 Bellman-Ford rounds replayed as FULL re-relaxation — result-
    // identical to the engine's frontier-delta form (monotone
    // distances absorb every earlier offer), so the oracle stays
    // simple while the engine does frontier-proportional work
    "q51_sssp" -> {
      def round(prev: String, cur: String): String =
        s"""o$cur AS (SELECT e.dst AS id, MIN(d.dist + e.w) AS nd
           |  FROM e JOIN $prev d ON e.src = d.id GROUP BY e.dst),
           |$cur AS (SELECT COALESCE(d.id, o.id) AS id,
           |   CASE WHEN d.dist IS NULL THEN o.nd
           |        WHEN o.nd IS NULL THEN d.dist
           |        WHEN o.nd < d.dist THEN o.nd ELSE d.dist END AS dist
           |  FROM $prev d FULL JOIN o$cur o ON d.id = o.id)""".stripMargin
      s"""WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |p0 AS (SELECT a.p AS u, b.p AS v, COUNT(*) AS sup FROM li a
         |      JOIN li b ON a.o = b.o AND a.p < b.p
         |      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |e AS (SELECT u AS src, v AS dst, 1000000 // sup AS w FROM p0
         |      UNION ALL SELECT v, u, 1000000 // sup FROM p0),
         |d0 AS (SELECT MIN(u) AS id, CAST(0 AS BIGINT) AS dist FROM p0),
         |${round("d0", "d1")},
         |${round("d1", "d2")},
         |${round("d2", "d3")},
         |${round("d3", "d4")}
         |SELECT id, CAST(dist AS BIGINT) AS dist
         |FROM d4 ORDER BY id""".stripMargin
    },

    // 3 LPA rounds replayed: per round, in-neighbor label votes, the
    // (count DESC, label ASC) winner, keep-own for vote-less nodes
    "q46_label_prop" -> {
      val rounds = (1 to 3).map { r =>
        s""",
           |c$r AS (SELECT e.dst AS id, l.lbl, COUNT(*) AS c
           |  FROM e JOIN l${r - 1} l ON e.src = l.id GROUP BY 1, 2),
           |a$r AS (SELECT id, lbl FROM (
           |  SELECT id, lbl, ROW_NUMBER() OVER (PARTITION BY id
           |    ORDER BY c DESC, lbl) AS rn FROM c$r) WHERE rn = 1),
           |l$r AS (SELECT l.id, COALESCE(a.lbl, l.lbl) AS lbl
           |  FROM l${r - 1} l LEFT JOIN a$r a USING (id))""".stripMargin
      }.mkString
      s"""WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |p0 AS (SELECT a.p AS u, b.p AS v FROM li a
         |      JOIN li b ON a.o = b.o AND a.p < b.p
         |      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |e AS (SELECT u AS src, v AS dst FROM p0
         |      UNION ALL SELECT v, u FROM p0),
         |n AS (SELECT DISTINCT src AS id FROM e),
         |l0 AS (SELECT id, id AS lbl FROM n)$rounds
         |SELECT id, lbl FROM l3 ORDER BY id""".stripMargin
    })
}
