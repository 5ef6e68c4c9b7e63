package graft

import org.scalatest.funsuite.AnyFunSuite

/** PageRank centrality axioms on a planted near-dup graph (the oracle
  * pins exact values at sf0.01; here the STRUCTURE is controlled): a hub
  * document with four near-variants must outrank its leaves, structurally
  * identical leaves must tie exactly, and isolated documents must sit at
  * the (1-d) floor.
  */
class GraphSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("pagerank: hub > leaves (tied) > isolated at the 0.15 floor") {
    import spark.implicits._
    val base = ("alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo sierra tango")
      .split(" ")
    // variants touch positions >= 2 apart: each shares >= 0.8 bigram
    // jaccard with the hub but < 0.7 with any sibling -> a pure star
    def variant(pos: Int, w: String) = base.updated(pos, w).mkString(" ")
    val docs = Seq(
      (1L, base.mkString(" ")),
      (2L, variant(2, "uniform")), (3L, variant(5, "victor")),
      (4L, variant(8, "whiskey")), (5L, variant(11, "xray")),
      (6L, "completely unrelated words about nothing in particular here"),
      (7L, "another disjoint set of terms sharing no shingles at all")
    ).toDF("doc_id", "text")
    // BOTH regimes (componentsOf's convention): the default call takes
    // the driver finish on this test-sized graph; driverFinishMax = 0
    // forces the distributed power-iteration rounds. The two must agree
    // on every rounded rank, so neither implementation can rot.
    val byRegime = for ((regime, max) <- Seq(
        "driver-finish" -> graft.engine.RegimeGate.DriverRows,
        "distributed-rounds" -> 0L)) yield {
      val r = graft.operators.Graph.pagerankCore(docs, max).collect()
        .map(x => x.getLong(0) -> x.getDouble(1)).toMap
      assert(r.size == 7, regime)
      val leaves = Seq(2L, 3L, 4L, 5L).map(r)
      assert(leaves.distinct.size == 1, s"$regime leaves should tie: $leaves")
      assert(r(1L) > leaves.head, s"$regime hub ${r(1L)} vs leaf ${leaves.head}")
      assert(r(6L) == 0.15 && r(7L) == 0.15, s"$regime isolated at floor: $r")
      assert(leaves.head > 0.15)
      // without dangling redistribution total mass can only leak
      assert(r.values.sum <= 7.000001, s"$regime ${r.values.sum}")
      r
    }
    assert(byRegime.head == byRegime.last,
      s"regimes disagree: ${byRegime.head} vs ${byRegime.last}")
  }

  test("gr2 triangles: K4 yields 3 per vertex; support<2 edges vanish") {
    import spark.implicits._
    // orders 1 and 2 each contain parts {1,2,3,4}: every pair co-ordered
    // twice -> K4 survives the support filter. Each K4 vertex sits in
    // C(3,2)=3 triangles. Parts {10,11,12} co-ordered ONCE (order 3) ->
    // all their edges die at support>=2 -> no triangles.
    val li = (Seq(1L, 2L).flatMap(o => Seq(1L, 2L, 3L, 4L).map(p => (o, p)))
      ++ Seq(10L, 11L, 12L).map(p => (3L, p)))
      .toDF("l_orderkey", "l_partkey")
    for ((regime, max, wedge) <- grRegimes) {
      val got = graft.operators.Graph.trianglesCore(li, max, wedge).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L),
        s"$regime $got")
    }
  }

  // Every gr-family contract test runs ALL THREE regimes (componentsOf's
  // convention, extended r18): the default call takes the driver finish
  // on these test-sized graphs; max = 0 forces the distributed join
  // plans; wedgeBudget = 0 takes the driver-finish collect but trips the
  // Σ deg² budget, exercising the re-distributed fallback frame.
  private val grRegimes: Seq[(String, Long, Long)] =
    Seq(("driver-finish", graft.engine.RegimeGate.DriverRows,
        graft.operators.Graph.DriverWedgeBudget),
      ("distributed-joins", 0L, graft.operators.Graph.DriverWedgeBudget),
      ("wedge-fallback", graft.engine.RegimeGate.DriverRows, 0L))

  test("gr3 link prediction: star leaves and square diagonals, edges excluded") {
    import spark.implicits._
    // Each desired EDGE is co-ordered twice (two orders per edge) so it
    // survives the support>=2 filter; orders carry exactly the edge's
    // two parts so no accidental edges arise.
    // Star: 1-{2,3,4}. Open leaf pairs share ONE neighbor (deg 3) ->
    // aa = 1/ln(3). Square: 10-11-12-13-10. Each diagonal shares TWO
    // neighbors of degree 2 -> aa = 2/ln(2); the square's own edges are
    // adjacent and must NOT appear.
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L),
      (10L, 11L), (11L, 12L), (12L, 13L), (10L, 13L))
    val li = edges.zipWithIndex.flatMap { case ((a, b), i) =>
      Seq(100L + 2 * i, 101L + 2 * i).flatMap(o => Seq((o, a), (o, b)))
    }.toDF("l_orderkey", "l_partkey")
    val aaStar = BigDecimal(1.0 / math.log(3))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val aaSquare = BigDecimal(2.0 / math.log(2))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    for ((regime, max, wedge) <- grRegimes) {
      val got = graft.operators.Graph.linkPredictionCore(li, max, wedge).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      assert(got.toSeq == Seq(
        (10L, 12L, 2L, aaSquare), (11L, 13L, 2L, aaSquare),
        (2L, 3L, 1L, aaStar), (2L, 4L, 1L, aaStar), (3L, 4L, 1L, aaStar)),
        s"$regime ${got.mkString(", ")}")
    }
  }

  test("hub-basket cap: a degenerate basket is bounded at MaxBasketItems") {
    import spark.implicits._
    val cap = graft.operators.Graph.MaxBasketItems
    // one pathological "order" holding 3x the cap in distinct parts
    // (the crawler-session / bulk-upload shape), plus a normal basket
    // whose parts are ABOVE the cap range — its pairs must be untouched.
    val hub = (1 to 3 * cap).map(p => (1L, p.toLong))
    val normal = Seq(9001L, 9002L, 9003L).flatMap(p =>
      Seq((2L, p), (3L, p))) // co-ordered twice -> survives support>=2
    val li = (hub ++ normal).toDF("l_orderkey", "l_partkey")
    val kept = graft.operators.Graph.basketItems(li)
    val perOrder = kept.groupBy("l_orderkey").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // id-order determinism: exactly the cap LOWEST part keys survive
    assert(perOrder(1L) == cap.toLong, perOrder)
    assert(perOrder(2L) == 3L && perOrder(3L) == 3L, perOrder)
    val keptHub = kept.filter($"l_orderkey" === 1L)
      .select("l_partkey").as[Long].collect().sorted
    assert(keptHub.toSeq == (1 to cap).map(_.toLong), keptHub.take(5).toSeq)
    // downstream bound: the pairing fanout from the hub order is at most
    // C(cap, 2), not C(3*cap, 2)
    val pairs = kept.as("a").join(kept.as("b"),
        $"a.l_orderkey" === $"b.l_orderkey" &&
          $"a.l_partkey" < $"b.l_partkey").count()
    assert(pairs == cap.toLong * (cap - 1) / 2 + 2 * 3, pairs)
    // the array form (the shipped plan since r13) pins the same cap and
    // the same i<j orientation: the hub yields C(cap,2) raw pairs; after
    // support>=2 only the twice-co-ordered normal pairs survive.
    val arr = graft.operators.Graph.basketArrays(li)
      .filter($"l_orderkey" === 1L)
      .selectExpr("size(parts) AS n", "parts[0] AS lo",
        "parts[size(parts)-1] AS hi").collect().head
    assert(arr.getInt(0) == cap && arr.getLong(1) == 1L &&
      arr.getLong(2) == cap.toLong, arr)
    val sp = graft.operators.Graph.supportPairs(li)
      .orderBy("pa", "pb").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(sp.toSeq == Seq((9001L, 9002L), (9001L, 9003L), (9002L, 9003L)),
      sp.toSeq)
  }

  test("gr4 clustering: K4 vertices score 1, a star center 0, leaves excluded") {
    import spark.implicits._
    // K4 on parts {1..4} (orders 1,2): every vertex deg 3, 3 triangles,
    // C = 2*3/(3*2) = 1. Star 21-{22,23,24}, each edge co-ordered twice
    // via its own order pair: center deg 3 with 0 triangles -> C = 0;
    // leaves have deg 1 -> excluded (undefined, not zero).
    val k4 = Seq(1L, 2L).flatMap(o => Seq(1L, 2L, 3L, 4L).map(p => (o, p)))
    val star = Seq((21L, 22L), (21L, 23L), (21L, 24L)).zipWithIndex.flatMap {
      case ((a, b), i) =>
        Seq(10L + 2 * i, 11L + 2 * i).flatMap(o => Seq((o, a), (o, b)))
    }
    val li = (k4 ++ star).toDF("l_orderkey", "l_partkey")
    for ((regime, max, wedge) <- grRegimes) {
      val got = graft.operators.Graph.clusteringCoefficientCore(li, max, wedge)
        .collect()
        .map(r => r.getLong(0) ->
          (r.getAs[Long]("degree"), r.getAs[Long]("n_triangles"),
            r.getAs[Double]("clustering"))).toMap
      Seq(1L, 2L, 3L, 4L).foreach { p =>
        assert(got(p) == ((3L, 3L, 1.0)), s"$regime $p -> ${got(p)}")
      }
      assert(got(21L) == ((3L, 0L, 0.0)), s"$regime ${got(21L)}")
      assert(!got.contains(22L) && !got.contains(23L) && !got.contains(24L),
        s"$regime degree-1 leaves must be excluded")
    }
  }

  test("gr5 components: disjoint cliques converge; a diameter-4 chain does not") {
    import spark.implicits._
    // Two K3s (orders 1,2 on {1,2,3}; orders 3,4 on {11,12,13}): every
    // edge survives support>=2; diameter 1 -> labels settle at the clique
    // min well inside 3 rounds. Chain 31-32-33-34-35, each edge its own
    // order pair: min-label reaches 3 hops, so node 35 reads 32 (not 31)
    // after round 3 and its label is still moving -> converged = false.
    val k3a = Seq(1L, 2L).flatMap(o => Seq(1L, 2L, 3L).map(p => (o, p)))
    val k3b = Seq(3L, 4L).flatMap(o => Seq(11L, 12L, 13L).map(p => (o, p)))
    val chain = Seq((31L, 32L), (32L, 33L), (33L, 34L), (34L, 35L))
      .zipWithIndex.flatMap { case ((a, b), i) =>
        Seq(100L + 2 * i, 101L + 2 * i).flatMap(o => Seq((o, a), (o, b)))
      }
    val li = (k3a ++ k3b ++ chain).toDF("l_orderkey", "l_partkey")
    // BOTH regimes (componentsOf's convention): the default call takes
    // the driver finish on this test-sized graph; driverFinishMax = 0
    // forces the distributed 3-round HashToMin. Labels are integers, so
    // the regimes must agree EXACTLY — including the honestly-
    // unconverged diameter-4 chain rows.
    for ((regime, max) <- Seq(
        "driver-finish" -> graft.engine.RegimeGate.DriverRows,
        "distributed-rounds" -> 0L)) {
      val got = graft.operators.Graph.componentsCore(li, max).collect()
        .map(r => r.getLong(0) ->
          (r.getAs[Long]("component"), r.getAs[Long]("component_size"),
            r.getAs[Boolean]("converged"))).toMap
      Seq(1L, 2L, 3L).foreach(p =>
        assert(got(p) == ((1L, 3L, true)), s"$regime ${got(p)}"))
      Seq(11L, 12L, 13L).foreach(p =>
        assert(got(p) == ((11L, 3L, true)), s"$regime ${got(p)}"))
      // 3-hop bound: 35 sees only down to 32; 34 just received 31 this round
      assert(got(35L) == ((32L, 1L, false)), s"$regime ${got(35L)}")
      assert(got(34L) == ((31L, 4L, false)), s"$regime ${got(34L)}")
      Seq(31L, 32L, 33L).foreach(p =>
        assert(got(p)._1 == 31L && got(p)._3, s"$regime $p -> ${got(p)}"))
    }
    // the engine's fixpoint loop, componentsOf over the same support
    // pairs, converges the SAME chain fully: one component labeled 31 of
    // size 5, in both of its regimes.
    for (max <- fixpointBounds) {
      val fix = supportComponents(li, max)
      Seq(31L, 32L, 33L, 34L, 35L).foreach(p =>
        assert(fix(p) == ((31L, 5L)), s"bound $max: $p -> ${fix(p)}"))
      Seq(1L, 2L, 3L).foreach(p => assert(fix(p) == ((1L, 3L)), s"bound $max"))
      Seq(11L, 12L, 13L).foreach(p =>
        assert(fix(p) == ((11L, 3L)), s"bound $max"))
    }
  }

  private val fixpointBounds = Seq(graft.engine.RegimeGate.DriverRows, 0L)

  /** Part key -> (component, component size) over `li`'s support-2
    * co-purchase graph, from the engine's one connected-components loop
    * ([[graft.operators.Dedup.componentsOf]]) at driver-finish bound `max`.
    */
  private def supportComponents(
      li: org.apache.spark.sql.DataFrame, max: Long): Map[Long, (Long, Long)] = {
    val pairs = graft.operators.Graph.supportPairs(li)
    val nodes = pairs.select("pa").union(pairs.select("pb")).distinct()
    val canon = graft.operators.Dedup.componentsOf(nodes, pairs, max).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sizes = canon.values.groupBy(identity).map { case (c, g) => c -> g.size.toLong }
    canon.map { case (id, c) => id -> ((c, sizes(c))) }
  }

  test("componentsFixpoint matches union-find on pseudo-random co-purchase graphs") {
    // The components fixpoint is Dedup.componentsOf over the support
    // pairs (supportComponents above). Seeded random edge sets cover
    // cycles, stars and merged blobs beyond the planted cliques/chain
    // above. Each edge rides its own TWO orders, so it survives support>=2
    // exactly and the co-purchase graph equals the generated edge set.
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val n = 20 + rnd.nextInt(30)
      val edges = (1 to n).map { _ =>
        val a = 1L + rnd.nextInt(n)
        val b = 1L + rnd.nextInt(n)
        if (a == b) (a, b + n) else (a, b) // keep edges off the diagonal
      }
      val li = edges.zipWithIndex.flatMap { case ((a, b), i) =>
        Seq(1000L + 2 * i, 1001L + 2 * i).flatMap(o => Seq((o, a), (o, b)))
      }.toDF("l_orderkey", "l_partkey")
      val touched = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
      val parent = scala.collection.mutable.Map(touched.map(i => i -> i): _*)
      def find(x: Long): Long =
        if (parent(x) == x) x
        else { val r = find(parent(x)); parent(x) = r; r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = touched.map(i => i -> find(i)).toMap
      val sizes = expected.values.groupBy(identity).map { case (c, g) => c -> g.size.toLong }
      for (max <- fixpointBounds) {
        val fix = supportComponents(li, max)
        assert(fix.keySet == expected.keySet, s"trial $trial bound $max: node sets differ")
        expected.foreach { case (id, c) =>
          assert(fix(id) == ((c, sizes(c))), s"trial $trial bound $max node $id: ${fix(id)}")
        }
      }
    }
  }
}
