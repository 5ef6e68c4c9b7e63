package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.{round6, t}
import graft.engine.RegimeGate

/** Graph analytics over relationship structure the engine already mines:
  * dd5 assigns CLUSTERS over the near-dup graph (connectivity); this
  * module ranks WITHIN that structure (centrality). The reference has no
  * graph surface at all (its closest notion is P-pass column pruning) —
  * north-star scope for corpus curation: a document's centrality in the
  * near-dup graph measures how template-like it is, and the canonical-pick
  * policy "keep the most/least central member of each dup cluster" needs
  * exactly this score.
  */
object Graph {

  private val Damping = 0.85
  private val Iterations = 3

  /** Hub-basket guard for the co-purchase graph (gr2/gr3): the basket
    * self-join fans out quadratically PER ORDER — bounded by basket size
    * (max 7 items on TPC-H) but unbounded on a skewed real corpus, where
    * one 100k-item "order" (a crawler session, a bulk upload) would emit
    * 5e9 pairs from a single key. Deterministic cap, [[Dedup.HotBucketCap]]'s
    * convention: keep only the MaxBasketItems LOWEST part keys per order
    * (id-order, so both engines and every rerun agree), bounding the
    * per-order fanout at C(256,2) ≈ 32k pairs. Above-cap items lose only
    * their co-purchase signal from that one degenerate basket; support
    * from normal baskets is untouched. GraphSpec plants a hub basket over
    * the cap and pins the bound.
    */
  private[graft] val MaxBasketItems = 256

  /** The cap as a plan transform: the distinct (order, part) frame with
    * at most [[MaxBasketItems]] parts per order. One window over the
    * order key — co-partitioned with the pairing self-join that follows,
    * so AQE plans cap + join in one shuffle exchange.
    */
  private[graft] def basketItems(lineitem: DataFrame): DataFrame =
    lineitem.select(col("l_orderkey"), col("l_partkey")).distinct()
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("l_orderkey").orderBy("l_partkey")))
      .filter(col("rn") <= MaxBasketItems).drop("rn")

  /** [[basketItems]] as ONE sorted capped array per order: a single
    * shuffle on `l_orderkey` with map-side partial `collect_set`,
    * replacing the distinct + window cascade (2 wide stages) AND — via
    * [[supportPairs]] — the per-order pairing self-join (a 3rd wide
    * stage): the i<j pairs fall out of the array scan-locally. Same
    * semantics: distinct parts per order, lowest [[MaxBasketItems]]
    * keys kept (`sort_array` + `slice`).
    *
    * Memory note: the cap bounds the OUTPUT, while the transient
    * per-order set materializes in full on one reducer — bounded by the
    * true basket cardinality (max 7 on TPC-H; real catalogs are
    * hundreds). A corpus where one degenerate "order" can reach
    * millions of distinct items should route through the window form
    * ([[basketItems]]), which streams sorted rows instead of holding
    * the set; everything downstream is shape-identical.
    */
  private[graft] def basketArrays(lineitem: DataFrame): DataFrame =
    // Plain aggregate, deliberately un-pinned: a pin here is
    // exchange-reused by this aggregate, which deletes the map-side
    // partial collect_set (the shuffle carries every raw (order, part)
    // row) and fuses the reduce, the pair explode and the support partial
    // into one post-shuffle stage. The width guarantee lives one operator
    // up ([[supportPairsPlan]]), which keeps this aggregate's partial
    // aggregation and AQE freedom intact.
    lineitem.select(col("l_orderkey"), col("l_partkey"))
      .groupBy("l_orderkey")
      .agg(slice(sort_array(collect_set(col("l_partkey"))), 1, MaxBasketItems)
        .as("parts"))

  /** The support-pruned co-purchase edge list the whole gr family runs
    * on: oriented pairs (pa < pb) co-ordered in >= 2 distinct orders.
    * Scoped-persisted — every caller fans out over it at least twice.
    * Plan: [[basketArrays]] (one wide stage), scan-local i<j pair
    * generation from each order's sorted array (fanout bounded at
    * C(256,2) per order by the cap), one hash aggregate to support
    * counts. Two shuffles total.
    */
  private[graft] def supportPairs(lineitem: DataFrame): DataFrame =
    graft.engine.Caching.scopedPersist(supportPairsPlan(lineitem))

  /** [[supportPairs]] WITHOUT the scoped cache, for [[supportEdgesOrFrame]],
    * whose [[RegimeGate]] owns the pair frame's cache.
    */
  private[graft] def supportPairsPlan(lineitem: DataFrame): DataFrame =
    (
      basketArrays(lineitem)
        // Width pin at the cheap-in/expensive-out boundary: the frame
        // below is one array row per order (a few MB at bench scale —
        // exactly the size AQE's coalescer rounds down to one task), while
        // the stage above explodes to C(basket,2) pairs per row and
        // partial-aggregates support. An explicit numeric repartition is
        // the one form AQE must respect: the explode + support map side
        // runs at defaultParallelism however the collect_set exchange was
        // coalesced, and the pin's own shuffle moves only the small array
        // frame once.
        .repartition(
          lineitem.sparkSession.sparkContext.defaultParallelism,
          col("l_orderkey"))
        .select(explode(flatten(transform(col("parts"), (x, i) =>
          transform(slice(col("parts"), i + lit(2), size(col("parts"))),
            y => struct(x.as("pa"), y.as("pb")))))).as("p"))
        .groupBy(col("p.pa").as("pa"), col("p.pb").as("pb"))
        .agg(count(lit(1)).as("support"))
        .filter(col("support") >= 2)
        .select(col("pa"), col("pb")))

  /** Driver wedge budget: the edge bound
    * ([[RegimeGate.DriverRows]]) was sized for the O(V+E) finishes
    * (gr5/pr1/componentsOf union-find and label rounds),
    * but the WEDGE-shaped finishes — gr2/gr4's per-edge neighbor-set
    * intersections, gr3's open-wedge accumulator — cost O(Σ deg²) driver
    * time, and gr3 additionally O(#open wedges) driver MEMORY: a
    * hub-heavy graph just under the 1M-edge bound can demand ~E²/2 map
    * entries where the distributed plan (which spills) succeeds. Σ deg²
    * is one pass over the collected edges; above this budget the edges
    * ship back as a distributed frame and the unchanged distributed plan
    * runs. 4M wedges ≈ low hundreds of MB worst-case for gr3's
    * tuple-keyed map — safely inside the driver heap that already held
    * the 1M-edge collect — while the affinity-scale graphs the gate
    * targets sit orders of magnitude below (Σ deg² ≈ 1e5–1e6 at bench
    * scale across sf0.01→0.1).
    */
  private[graft] val DriverWedgeBudget = 4000000L

  /** Undirected degree of every node of a collected edge list. */
  private def degrees(es: Array[(Long, Long)]): scala.collection.mutable.LongMap[Long] = {
    val deg = new scala.collection.mutable.LongMap[Long]()
    es.foreach { case (a, b) =>
      deg(a) = deg.getOrElse(a, 0L) + 1
      deg(b) = deg.getOrElse(b, 0L) + 1
    }
    deg
  }

  /** The support-pruned edge list in whichever regime [[RegimeGate]]
    * picks: `Left` — the collected oriented edges for a driver finish
    * (the support ≥ 2 filter prunes the edge list to true co-purchase
    * affinity at any corpus scale, measured 3.6–3.9k edges across
    * sf0.01→0.1); `Right` — the checkpointed edge frame for the
    * unchanged distributed plans.
    *
    * `wedgeBudget`: callers whose driver finish enumerates wedges pass
    * [[DriverWedgeBudget]]; a collected edge list whose Σ deg² exceeds it
    * is shipped back out as a `Right` instead of handed to a quadratic
    * local loop. Σ deg² is computed from the collected edges, so the
    * common case pays no extra Spark job.
    */
  private[graft] def supportEdgesOrFrame(
      lineitem: DataFrame,
      max: Long,
      wedgeBudget: Long = Long.MaxValue): Either[Array[(Long, Long)], DataFrame] =
    RegimeGate(supportPairsPlan(lineitem), max)(_.localCheckpoint()) match {
      case Right(ckpt) => Right(ckpt)
      case Left(rows) =>
        val es = rows.map(r => (r.getLong(0), r.getLong(1)))
        if (degrees(es).values.map(d => d * d).sum <= wedgeBudget) Left(es)
        else {
          // Over-budget fallback: a properly-partitioned frame (a bare
          // LocalTableScan would run every downstream join
          // single-partition on the driver).
          val spark = lineitem.sparkSession
          import spark.implicits._
          Right(es.toSeq.toDF("pa", "pb")
            .repartition(spark.sparkContext.defaultParallelism)
            .localCheckpoint())
        }
    }

  /** [[basketItems]]'s DuckDB mirror — ONE template for the gr2 and gr3
    * oracles so the cap rule cannot drift between engines or schemes.
    */
  private[graft] val sqlBasketCte: String =
    s"""li AS (
       |  SELECT l_orderkey, l_partkey FROM (
       |    SELECT l_orderkey, l_partkey,
       |      row_number() OVER (PARTITION BY l_orderkey ORDER BY l_partkey)
       |        AS rn
       |    FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem))
       |  WHERE rn <= $MaxBasketItems)""".stripMargin

  /** pr1 — PageRank over the undirected near-dup graph (nodes = all
    * documents; edges = dd3's verified shingle-Jaccard >= 0.7 pairs, both
    * directions). A FIXED, unrolled 3 power iterations of the classic
    * simplified recurrence `r' = (1-d)/n + d * sum(r(u)/deg(u))` (the
    * Spark-canonical form without dangling-mass redistribution: isolated
    * docs decay to (1-d)/n ~ the corpus floor, which is exactly the
    * "not template-like" verdict curation wants). Ranks are emitted
    * n-scaled (mean ~1) so 6-decimal rounding keeps real precision at any
    * corpus size.
    *
    * Scale: the edge list is built once (dd3's band-routed, hot-capped
    * machinery) and persisted with its out-degrees; each iteration is one
    * rank-vs-edges equi-join plus one dst-keyed aggregate, unrolled with
    * no driver loop. The per-node (1-d)/n term rides a broadcast count.
    *
    * Determinism: the only order-sensitive op is the per-dst contribution
    * sum (~1e-17 association error against a 1e-6 rounding grid); the
    * edge set itself is exact (4-decimal-rounded Jaccard threshold on
    * both engines).
    */
  def pagerank(spark: SparkSession, dir: String): DataFrame =
    pagerankCore(t(spark, dir, "documents").select(col("doc_id"), col("text")))

  /** pr1 over an explicit `(doc_id, text)` corpus — GraphSpec drives the
    * centrality axioms (hub dominance, symmetry, isolated-node floor) on
    * planted corpora.
    */
  private[graft] def pagerankCore(
      docs: DataFrame,
      driverFinishMax: Long = RegimeGate.DriverRows): DataFrame = {
    // The gate persists the pair set before fan-out: the undirected union
    // reads it twice and the degree aggregate a third time, so an
    // unpersisted pair plan runs the whole band-route-and-verify pipeline
    // 4x inside the one materialization below (~25% CPU).
    val pairs = Dedup.verifiedPairsOf(
        graft.engine.Caching.scopedPersist(Dedup.shingledOf(docs)))
      .select(col("doc_a"), col("doc_b"))
    val nodes = docs.select(col("doc_id"))
    RegimeGate(pairs, driverFinishMax, Some(nodes)) { p =>
      val edges = p.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .unionAll(p.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      // EAGER: one materialization serves all three iterations' joins
      edges.join(deg, "src").localCheckpoint()
    } match {
      case Left(rows) =>
        // Driver finish: the verified near-dup edge list is affinity-sized
        // (thousands of pairs at bench scale), yet each distributed round
        // re-joins the CORPUS-sized rank frame and re-plans 2 exchanges.
        // The 3 rounds run over the ACTIVE subgraph (nodes touching >= 1
        // edge) as local doubles; every isolated node's rank is
        // closed-form (1-d)/n after the first round, so the corpus rejoins
        // as a broadcast map + floor coalesce. The local recurrence replays
        // the EXACT expressions of the distributed form (0.15/n as a
        // literal division, r/deg contributions, 0.85 damping), so the
        // only drift is per-node summation order, which the 1e-6 rounding
        // grid absorbs.
        val es = rows.map(r => (r.getLong(0), r.getLong(1)))
        val n = nodes.count().toDouble
        val deg = degrees(es)
        var r = new scala.collection.mutable.LongMap[Double]()
        deg.keys.foreach(k => r(k) = 1.0 / n)
        for (_ <- 1 to Iterations) {
          val contrib = new scala.collection.mutable.LongMap[Double]()
          es.foreach { case (a, b) =>
            contrib(b) = contrib.getOrElse(b, 0.0) + r(a) / deg(a)
            contrib(a) = contrib.getOrElse(a, 0.0) + r(b) / deg(b)
          }
          val next = new scala.collection.mutable.LongMap[Double]()
          deg.keys.foreach { k =>
            next(k) = 0.15 / n + Damping * contrib.getOrElse(k, 0.0)
          }
          r = next
        }
        val floor = 0.15 / n // every isolated node after the first round, exactly
        val spark = docs.sparkSession
        import spark.implicits._
        val active = r.toSeq.map { case (k, v) => (k, v) }
        nodes
          .join(broadcast(active.toDF("nid", "r")),
            col("doc_id") === col("nid"), "left")
          .select(col("doc_id"),
            round(coalesce(col("r"), lit(floor)) * lit(n), 6)
              .as("pagerank_scaled"))
          .orderBy("doc_id")
      case Right(out) =>
        val nF = nodes.agg(count(lit(1)).as("n"))
        var ranks = nodes.crossJoin(broadcast(nF))
          .select(col("doc_id"), (lit(1.0) / col("n")).as("r"))
        for (_ <- 1 to Iterations) {
          val contribs = ranks
            .join(out, col("doc_id") === col("src"))
            .select(col("dst"), (col("r") / col("deg")).as("c"))
            .groupBy("dst").agg(sum(col("c")).as("contrib"))
          ranks = nodes.crossJoin(broadcast(nF))
            .join(contribs, col("doc_id") === col("dst"), "left")
            .select(col("doc_id"),
              // 0.15 as a LITERAL, not 1 - 0.85: the subtraction lands one
              // ulp off the 0.15 the oracle parses, a real hash divergence
              (lit(0.15) / col("n") +
                lit(Damping) * coalesce(col("contrib"), lit(0.0))).as("r"))
        }
        ranks.crossJoin(broadcast(nF))
          .select(col("doc_id"), round(col("r") * col("n"), 6).as("pagerank_scaled"))
          .orderBy("doc_id")
    }
  }

  /** gr2 — triangle participation in the market-basket affinity graph:
    * nodes = parts, an (undirected) edge joins two parts co-ordered in
    * at least 2 distinct orders, and each part reports how many
    * triangles it sits in — the local-clustering primitive under
    * community detection and recommendation ("parts bought together in
    * threes"), and the graph-analytics complement to pr1's centrality.
    *
    * Scale: basket pairing via [[supportPairs]]; the support-≥2 filter is
    * the hub-explosion guard that keeps the edge list at affinity scale
    * (3.6–3.9k edges across sf0.01→0.1). Triangle enumeration works on
    * oriented edges (pa < pb), so each triangle is produced exactly once
    * by construction — no /3 correction.
    */
  def triangles(spark: SparkSession, dir: String): DataFrame =
    trianglesCore(t(spark, dir, "lineitem"))

  /** gr2 over an explicit `(l_orderkey, l_partkey)` frame — GraphSpec
    * plants a K4 (4 triangles, one per omitted vertex) and a
    * support-starved square (no triangles).
    */
  private[graft] def trianglesCore(
      lineitem: DataFrame,
      driverFinishMax: Long = RegimeGate.DriverRows,
      wedgeBudget: Long = DriverWedgeBudget): DataFrame =
    supportEdgesOrFrame(lineitem, driverFinishMax, wedgeBudget) match {
      case Left(es) =>
        val spark = lineitem.sparkSession
        import spark.implicits._
        driverTriangles(es).toSeq
          .toDF("l_partkey", "n_triangles")
          .orderBy(col("n_triangles").desc, col("l_partkey"))
      case Right(pairs) =>
        triangleFrame(pairs).orderBy(col("n_triangles").desc, col("l_partkey"))
    }

  /** gr2's driver finish: per-node triangle counts from oriented-neighbour
    * intersection per edge. Each triangle x<y<z is found exactly once, via
    * its (x, y) edge, in integer counts.
    */
  private def driverTriangles(es: Array[(Long, Long)]): scala.collection.mutable.LongMap[Long] = {
    val fwd = new scala.collection.mutable.LongMap[Set[Long]]()
    es.foreach { case (a, b) => fwd(a) = fwd.getOrElse(a, Set.empty) + b }
    val cnt = new scala.collection.mutable.LongMap[Long]()
    es.foreach { case (a, b) =>
      for (z <- fwd.getOrElse(a, Set.empty) & fwd.getOrElse(b, Set.empty)) {
        cnt(a) = cnt.getOrElse(a, 0L) + 1
        cnt(b) = cnt.getOrElse(b, 0L) + 1
        cnt(z) = cnt.getOrElse(z, 0L) + 1
      }
    }
    cnt
  }

  /** gr2's distributed form: `(l_partkey, n_triangles)` over the oriented
    * edge frame, each triangle produced once by the three-way join.
    */
  private def triangleFrame(pairs: DataFrame): DataFrame =
    pairs.as("e1")
      .join(pairs.as("e2"), col("e1.pb") === col("e2.pa"))
      .join(pairs.as("e3"),
        col("e3.pa") === col("e1.pa") && col("e3.pb") === col("e2.pb"))
      .select(col("e1.pa").as("x"), col("e1.pb").as("y"),
        col("e2.pb").as("z"))
      .select(explode(array(col("x"), col("y"), col("z"))).as("l_partkey"))
      .groupBy("l_partkey").agg(count(lit(1)).as("n_triangles"))

  /** gr4 — local clustering coefficient per node on the same
    * support-pruned co-purchase graph as gr2: `C(v) = 2·T(v) /
    * (deg(v)·(deg(v)−1))` — how close each part's co-purchase
    * neighborhood is to a clique (Watts & Strogatz 1998), the
    * community-tightness readout a recommender thresholds on where gr2
    * gives only the raw triangle count. Nodes of degree < 2 are
    * excluded (the coefficient is undefined, not zero — emitting 0
    * would conflate leaf parts with genuinely open neighborhoods).
    *
    * Scale: everything after the basket pairing runs on gr2's oriented
    * edge frame and gr2's per-node triangle counts. The coefficient is an
    * exact integer ratio, so the 6-decimal grid is exact.
    */
  def clusteringCoefficient(spark: SparkSession, dir: String): DataFrame =
    clusteringCoefficientCore(t(spark, dir, "lineitem"))

  /** gr4 over an explicit `(l_orderkey, l_partkey)` frame — GraphSpec
    * plants a K4 (every node C=1) against a star (center C=0, leaves
    * absent: degree 1).
    */
  private[graft] def clusteringCoefficientCore(
      lineitem: DataFrame,
      driverFinishMax: Long = RegimeGate.DriverRows,
      wedgeBudget: Long = DriverWedgeBudget): DataFrame =
    supportEdgesOrFrame(lineitem, driverFinishMax, wedgeBudget) match {
      case Left(es) =>
        // The coefficient replays the distributed expression
        // (2.0·T / (deg·(deg−1))) on the same integers, then the same
        // BigDecimal-HALF_UP 6-round — bit-identical by construction.
        val cnt = driverTriangles(es)
        val spark = lineitem.sparkSession
        import spark.implicits._
        degrees(es).toSeq.filter(_._2 >= 2)
          .map { case (k, d) =>
            val t = cnt.getOrElse(k, 0L)
            (k, d, t, round6(2.0 * t / (d * (d - 1))))
          }
          .toDF("l_partkey", "degree", "n_triangles", "clustering")
          .orderBy("l_partkey")
      case Right(pairs) =>
        val triPer = triangleFrame(pairs)
        val deg = pairs.select(col("pa").as("l_partkey"))
          .unionAll(pairs.select(col("pb").as("l_partkey")))
          .groupBy("l_partkey").agg(count(lit(1)).as("degree"))
        deg.join(triPer, Seq("l_partkey"), "left")
          .filter(col("degree") >= 2)
          .select(col("l_partkey"), col("degree"),
            coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
            round(lit(2.0) * coalesce(col("n_triangles"), lit(0L)) /
              (col("degree") * (col("degree") - 1)), 6).as("clustering"))
          .orderBy("l_partkey")
    }

  /** gr3 — link prediction over the co-purchase graph: for every
    * NON-adjacent part pair sharing at least one co-purchase neighbor,
    * the common-neighbor count and the Adamic–Adar score
    * `Σ_y 1/ln(deg(y))` (common neighbors weighted inversely by how
    * promiscuous they are — the classic "which edge appears next"
    * baseline, Liben-Nowell & Kleinberg 2003). Top-20 predicted links.
    * The recommender reading: parts never yet bought together whose
    * shared basket-mates most strongly suggest they will be.
    *
    * Scale: runs entirely on gr2's support-pruned edge list, never the
    * fact table. A wedge center's degree is ≥ 2 by construction, so
    * `ln(deg)` never divides by zero.
    */
  def linkPrediction(spark: SparkSession, dir: String): DataFrame =
    linkPredictionCore(t(spark, dir, "lineitem"))

  private[graft] def linkPredictionCore(
      lineitem: DataFrame,
      driverFinishMax: Long = RegimeGate.DriverRows,
      wedgeBudget: Long = DriverWedgeBudget): DataFrame =
    supportEdgesOrFrame(lineitem, driverFinishMax, wedgeBudget) match {
      case Left(es) =>
        // Driver finish: enumerate wedges x—y—z (x < z) per shared
        // neighbor y, skip adjacent (x, z), accumulate the common count
        // and the Adamic–Adar sum. The per-wedge term replays the
        // distributed expression (1.0 / ln(deg)); summation order is the
        // ~1-ulp class the 6-grid absorbs (same as pr1's note).
        val adj = new scala.collection.mutable.LongMap[List[Long]]()
        es.foreach { case (a, b) =>
          adj(a) = b :: adj.getOrElse(a, Nil)
          adj(b) = a :: adj.getOrElse(b, Nil)
        }
        val edgeSet = es.map { case (a, b) => (a, b) }.toSet
        val acc = scala.collection.mutable.Map[(Long, Long), (Long, Double)]()
        adj.foreach { case (_, ns) =>
          // Array, not List: positional List
          // indexing made the i<j enumeration O(deg³) per center; the
          // degree for the weight is the materialized array's length,
          // not a second O(deg) List walk.
          val sorted = ns.sorted.toArray
          val w = 1.0 / math.log(sorted.length.toDouble)
          for {
            i <- sorted.indices
            j <- (i + 1) until sorted.length
            x = sorted(i); z = sorted(j)
            if x != z && !edgeSet.contains((x, z))
          } {
            val (c, s) = acc.getOrElse((x, z), (0L, 0.0))
            acc((x, z)) = (c + 1, s + w)
          }
        }
        val spark = lineitem.sparkSession
        import spark.implicits._
        acc.toSeq
          .map { case ((x, z), (c, s)) => (x, z, c, round6(s)) }
          .toDF("x", "z", "n_common", "adamic_adar")
          .orderBy(col("adamic_adar").desc, col("n_common").desc,
            col("x"), col("z"))
          .limit(20)
      case Right(pairs) =>
        val sym = pairs.select(col("pa").as("src"), col("pb").as("dst"))
          .unionAll(pairs.select(col("pb").as("src"), col("pa").as("dst")))
        val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        // wedges x—y—z with x < z, y the shared neighbor
        val wedges = sym.as("e1").join(sym.as("e2"),
            col("e1.dst") === col("e2.src") && col("e1.src") < col("e2.dst"))
          .select(col("e1.src").as("x"), col("e1.dst").as("y"),
            col("e2.dst").as("z"))
        val open = wedges.join(pairs,
            col("x") === col("pa") && col("z") === col("pb"), "left_anti")
        open.join(deg, col("y") === col("src"))
          .groupBy(col("x"), col("z"))
          .agg(count(lit(1)).as("n_common"),
            round(sum(lit(1.0) / log(col("deg").cast("double"))), 6)
              .as("adamic_adar"))
          .orderBy(col("adamic_adar").desc, col("n_common").desc,
            col("x"), col("z"))
          .limit(20)
    }

  /** gr5 — connected components by k-step min-label propagation over the
    * same support-pruned co-purchase graph as gr2/gr3/gr4 (nodes = parts
    * with at least one support-2 co-purchase edge): every node's label
    * after 3 rounds is the MINIMUM part key within 3 hops — the HashToMin
    * building block (Rastogi et al. 2013, "Finding Connected Components
    * in Map-Reduce in Logarithmic Rounds") that every distributed CC
    * (GraphX, GraphFrames) iterates to fixpoint. Components tell the
    * recommender which parts form one co-purchase market; the near-dup
    * reading is dd5's cluster assignment generalized to any edge set.
    *
    * Fixed 3 rounds, unrolled (pr1's convention — no driver loop, no
    * lineage blowup): labels are exact integers, so the gate is
    * arithmetic-noise-free. `converged` marks nodes whose label did not
    * change between rounds 2 and 3 — per-node stability, necessary but
    * not sufficient for global fixpoint (a diameter->6 chain would still
    * be moving). The loop that iterates to fixpoint is
    * [[Dedup.componentsOf]]; GraphSpec checks it on this graph.
    */
  def components(spark: SparkSession, dir: String): DataFrame =
    componentsCore(t(spark, dir, "lineitem"))

  /** gr5 over an explicit `(l_orderkey, l_partkey)` frame — GraphSpec
    * plants two disjoint cliques (two components, labels = each clique's
    * min id) and a 5-chain whose far end is provably NOT converged at
    * 3 rounds.
    */
  private[graft] def componentsCore(
      lineitem: DataFrame,
      driverFinishMax: Long = RegimeGate.DriverRows): DataFrame =
    // Driver finish: the support-pruned edge list is affinity-sized (~4k
    // edges at bench scale), yet the 3 unrolled HashToMin rounds + the
    // size window re-plan ~6 exchanges of driver-trivial integer work.
    // The driver replays EXACTLY the 3 min-label rounds (all integers —
    // zero arithmetic drift; O(V+E) per round, so no wedge budget).
    supportEdgesOrFrame(lineitem, driverFinishMax) match {
      case Left(es) =>
        val nbrs = new scala.collection.mutable.LongMap[List[Long]]()
        es.foreach { case (a, b) =>
          nbrs(a) = b :: nbrs.getOrElse(a, Nil)
          nbrs(b) = a :: nbrs.getOrElse(b, Nil)
        }
        var lbl = new scala.collection.mutable.LongMap[Long]()
        nbrs.keys.foreach(k => lbl(k) = k)
        var prev = lbl
        for (_ <- 1 to 3) {
          prev = lbl
          val next = new scala.collection.mutable.LongMap[Long]()
          nbrs.foreach { case (k, ns) =>
            // min over self and neighbors — the self-loop fold, locally
            next(k) = ns.foldLeft(prev(k))((m, u) => math.min(m, prev(u)))
          }
          lbl = next
        }
        val sizes = new scala.collection.mutable.LongMap[Long]()
        lbl.values.foreach(c => sizes(c) = sizes.getOrElse(c, 0L) + 1)
        val spark = lineitem.sparkSession
        import spark.implicits._
        lbl.toSeq
          .map { case (k, c) => (k, c, sizes(c), c == prev(k)) }
          .toDF("l_partkey", "component", "component_size", "converged")
          .orderBy("component", "l_partkey")
      case Right(pairs) => componentsDistributed(pairs)
    }

  /** gr5's distributed 3-round form over the checkpointed edge frame —
    * the `Right` regime of [[componentsCore]].
    */
  private def componentsDistributed(pairs: DataFrame): DataFrame = {
    val sym = pairs.select(col("pa").as("src"), col("pb").as("dst"))
      .unionAll(pairs.select(col("pb").as("src"), col("pa").as("dst")))
    val nodes = sym.select(col("src").as("id")).distinct()
    // Self-loops fold "min of self and neighbors" into ONE aggregate.
    // EAGER checkpoint: all three label rounds join against adj; the
    // incoming pairs frame is itself a checkpoint, so the union +
    // distinct materialize exactly once.
    val adj = sym.unionAll(
      nodes.select(col("id").as("src"), col("id").as("dst")))
      .localCheckpoint()
    def step(prev: DataFrame): DataFrame =
      adj.as("a").join(prev.as("p"), col("a.dst") === col("p.id"))
        .groupBy(col("a.src").as("id")).agg(min(col("p.lbl")).as("lbl"))
    // Seed from the checkpointed adjacency's self-loops: `nodes` would
    // re-derive the distinct from the pairs cache.
    val l0 = adj.filter(col("src") === col("dst"))
      .select(col("src").as("id"), col("src").as("lbl"))
    val l2 = step(step(l0))
    // The third round carries both labels out of one aggregate: every
    // group src contains its self-loop row (dst = src), whose joined p.lbl
    // is src's own second-round label — so `min` over just that row
    // recovers l2(src) without a second l2 join, leaving l2 and l3 with
    // one consumer each. component_size is a lbl-partitioned window count
    // over the same frame, cheaper than a groupBy + join-back.
    val l3 = adj.as("a").join(l2.as("p"), col("a.dst") === col("p.id"))
      .groupBy(col("a.src").as("id"))
      .agg(min(col("p.lbl")).as("lbl"),
        min(when(col("a.dst") === col("a.src"), col("p.lbl"))).as("lbl2"))
    val byComponent = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lbl"))
    l3.select(col("id").as("l_partkey"), col("lbl").as("component"),
        count(lit(1)).over(byComponent).as("component_size"),
        (col("lbl") === col("lbl2")).as("converged"))
      .orderBy("component", "l_partkey")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pr1_pagerank" -> pagerank,
    "gr2_triangles" -> triangles,
    "gr3_link_prediction" -> linkPrediction,
    "gr4_clustering_coefficient" -> clusteringCoefficient,
    "gr5_components" -> components
  )

  val oracle: Map[String, String] = {
    val iter = (k: Int) =>
      s""" c$k AS (
         |  SELECT dst, sum(r / deg) AS contrib
         |  FROM r${k - 1} JOIN edges ON doc_id = src JOIN deg USING (src)
         |  GROUP BY dst),
         | r$k AS (
         |  SELECT d.doc_id,
         |    0.15 / (SELECT n FROM np) + 0.85 * coalesce(contrib, 0.0) AS r
         |  FROM documents d LEFT JOIN c$k ON d.doc_id = dst),""".stripMargin
    Map(
      "gr4_clustering_coefficient" ->
        s"""WITH $sqlBasketCte,
          | e AS (
          |  SELECT a.l_partkey AS pa, b.l_partkey AS pb
          |  FROM li a JOIN li b
          |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          |  GROUP BY 1, 2 HAVING count(*) >= 2),
          | tri AS (
          |  SELECT e1.pa AS x, e1.pb AS y, e2.pb AS z
          |  FROM e e1 JOIN e e2 ON e1.pb = e2.pa
          |    JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb),
          | tp AS (
          |  SELECT l_partkey, count(*) AS n_triangles FROM (
          |    SELECT x AS l_partkey FROM tri
          |    UNION ALL SELECT y FROM tri
          |    UNION ALL SELECT z FROM tri) GROUP BY 1),
          | deg AS (
          |  SELECT l_partkey, count(*) AS degree FROM (
          |    SELECT pa AS l_partkey FROM e
          |    UNION ALL SELECT pb FROM e) GROUP BY 1)
          |SELECT d.l_partkey, d.degree,
          |  CAST(coalesce(tp.n_triangles, 0) AS BIGINT) AS n_triangles,
          |  round(2.0 * coalesce(tp.n_triangles, 0)
          |    / (d.degree * (d.degree - 1)), 6) AS clustering
          |FROM deg d LEFT JOIN tp USING (l_partkey)
          |WHERE d.degree >= 2
          |ORDER BY l_partkey""".stripMargin,
      "gr5_components" ->
        s"""WITH $sqlBasketCte,
          | e AS (
          |  SELECT a.l_partkey AS pa, b.l_partkey AS pb
          |  FROM li a JOIN li b
          |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          |  GROUP BY 1, 2 HAVING count(*) >= 2),
          | sym AS (
          |  SELECT pa AS src, pb AS dst FROM e
          |  UNION ALL SELECT pb, pa FROM e),
          | nodes AS (SELECT DISTINCT src AS id FROM sym),
          | adj AS (
          |  SELECT src, dst FROM sym
          |  UNION ALL SELECT id, id FROM nodes),
          | l0 AS (SELECT id, id AS lbl FROM nodes),
          | l1 AS (
          |  SELECT a.src AS id, min(p.lbl) AS lbl
          |  FROM adj a JOIN l0 p ON a.dst = p.id GROUP BY 1),
          | l2 AS (
          |  SELECT a.src AS id, min(p.lbl) AS lbl
          |  FROM adj a JOIN l1 p ON a.dst = p.id GROUP BY 1),
          | l3 AS (
          |  SELECT a.src AS id, min(p.lbl) AS lbl
          |  FROM adj a JOIN l2 p ON a.dst = p.id GROUP BY 1),
          | sizes AS (SELECT lbl, count(*) AS component_size FROM l3 GROUP BY 1)
          |SELECT l3.id AS l_partkey, l3.lbl AS component,
          |  sizes.component_size, l3.lbl = l2.lbl AS converged
          |FROM l3 JOIN sizes USING (lbl) JOIN l2 ON l3.id = l2.id
          |ORDER BY component, l_partkey""".stripMargin,
      "gr3_link_prediction" ->
        s"""WITH $sqlBasketCte,
          | e AS (
          |  SELECT a.l_partkey AS pa, b.l_partkey AS pb
          |  FROM li a JOIN li b
          |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          |  GROUP BY 1, 2 HAVING count(*) >= 2),
          | sym AS (
          |  SELECT pa AS src, pb AS dst FROM e
          |  UNION ALL SELECT pb, pa FROM e),
          | deg AS (SELECT src, count(*) AS deg FROM sym GROUP BY src),
          | wedges AS (
          |  SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
          |  FROM sym e1 JOIN sym e2
          |    ON e1.dst = e2.src AND e1.src < e2.dst),
          | open_w AS (
          |  SELECT w.* FROM wedges w
          |  WHERE NOT EXISTS (
          |    SELECT 1 FROM e WHERE e.pa = w.x AND e.pb = w.z))
          |SELECT x, z, count(*) AS n_common,
          |  round(sum(1.0 / ln(deg)), 6) AS adamic_adar
          |FROM open_w JOIN deg ON y = src
          |GROUP BY x, z
          |ORDER BY adamic_adar DESC, n_common DESC, x, z
          |LIMIT 20""".stripMargin,
      "gr2_triangles" ->
        s"""WITH $sqlBasketCte,
          | e AS (
          |  SELECT a.l_partkey AS pa, b.l_partkey AS pb
          |  FROM li a JOIN li b
          |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          |  GROUP BY 1, 2 HAVING count(*) >= 2),
          | tri AS (
          |  SELECT e1.pa AS x, e1.pb AS y, e2.pb AS z
          |  FROM e e1 JOIN e e2 ON e1.pb = e2.pa
          |    JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb),
          | nodes AS (
          |  SELECT x AS l_partkey FROM tri
          |  UNION ALL SELECT y FROM tri
          |  UNION ALL SELECT z FROM tri)
          |SELECT l_partkey, count(*) AS n_triangles
          |FROM nodes GROUP BY l_partkey
          |ORDER BY n_triangles DESC, l_partkey""".stripMargin,
      "pr1_pagerank" ->
        (s"""WITH ${Dedup.dd3CtesFrom("documents", "x.doc_id < y.doc_id")},
           | pairs AS (${Dedup.dd3PairSelect}),
           | edges AS (
           |  SELECT doc_a AS src, doc_b AS dst FROM pairs
           |  UNION ALL
           |  SELECT doc_b AS src, doc_a AS dst FROM pairs),
           | deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
           | np AS (SELECT count(*) AS n FROM documents),
           | r0 AS (
           |  SELECT doc_id, 1.0 / (SELECT n FROM np) AS r FROM documents),
           |""".stripMargin +
          (1 to Iterations).map(iter).mkString("\n") +
          s"""
             | fin AS (SELECT doc_id, r FROM r$Iterations)
             |SELECT doc_id,
             |  round(r * (SELECT n FROM np), 6) AS pagerank_scaled
             |FROM fin
             |ORDER BY doc_id""".stripMargin)
    )
  }
}
