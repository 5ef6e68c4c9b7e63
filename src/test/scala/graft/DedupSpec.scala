package graft

import org.scalatest.funsuite.AnyFunSuite

/** Dedup operators on the sf0.001 corpus: structural invariants that hold
  * regardless of data (the oracle pins exact values at sf0.01).
  */
class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("exact dedup collapses the planted duplicate of every document") {
    val out = graft.operators.Dedup.exactDedup(spark, sf)
    val rows = out.collect()
    // corpus is dup-free, so after unioning an id-shifted copy every group
    // has exactly 2 members and the canonical id is the original
    assert(rows.forall(_.getAs[Long]("n_copies") == 2L))
    assert(rows.forall(_.getAs[Long]("canonical_doc_id") < 1000000L))
    assert(rows.length == 500)
  }

  test("jaccard pairs: symmetric-free (a<b), threshold respected") {
    val rows = graft.operators.Dedup.jaccardPairs(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b")))
    assert(rows.forall(_.getAs[Double]("jaccard") >= 0.6))
  }

  test("edit-distance pairs catch typo'd copies and respect the threshold") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val docs = Seq(
      (1L, base),
      (2L, base.replace("quick", "qiuck")),          // one transposition
      (3L, base.replace("river", "rivrr")),          // one substitution
      (4L, "completely different text about spark shuffles and partitions"),
      (5L, base.split(" ").reverse.mkString(" "))    // same tokens, reordered
    ).toDF("doc_id", "text")
    val rows = graft.operators.Dedup.editDistanceCore(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // typo'd copies pair with the original at high char similarity
    assert(rows.exists { case (a, b, s) => a == 1L && b == 2L && s > 0.95 })
    assert(rows.exists { case (a, b, s) => a == 1L && b == 3L && s > 0.95 })
    // the unrelated doc never pairs; thresholds and ordering hold
    assert(rows.forall { case (a, b, s) => a < b && s >= 0.8 && a != 4L && b != 4L })
    // doc 5 shares doc 1's full TOKEN SET (identical minhash signature →
    // always a candidate) but reordering destroys char-level similarity:
    // the edit verifier rejects what a token-set verifier cannot see
    assert(!rows.exists { case (a, b, _) => a == 1L && b == 5L })
  }

  test("dd10's banded DP reports exact distances on seeded random corpora") {
    import spark.implicits._
    // textbook full-matrix levenshtein as the independent referee
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val rnd = new scala.util.Random(4242)
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo",
      "foxtrot", "golf", "hotel", "india", "juliet")
    // families of mutated copies: drop/replace/duplicate a token so the
    // band route yields plenty of candidates at varied true distances
    val docs = (0 until 8).flatMap { fam =>
      val base = Vector.fill(12)(vocab(rnd.nextInt(vocab.size)))
      (0 until 4).map { v =>
        val mutated = rnd.nextInt(3) match {
          case 0 => base.updated(rnd.nextInt(base.size),
            vocab(rnd.nextInt(vocab.size)))
          case 1 => base.patch(rnd.nextInt(base.size), Nil, 1)
          case _ => base
        }
        ((fam * 4 + v).toLong, mutated.mkString(" "))
      }
    }
    val byId = docs.toMap
    val rows = graft.operators.Dedup.editDistanceCore(
      docs.toDF("doc_id", "text")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (a, b) = (byId(r.getLong(0)), byId(r.getLong(1)))
      val want = BigDecimal(
        1.0 - lev(a, b).toDouble / math.max(a.length, b.length))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      // the banded threshold may only ever shortcut pairs BELOW the bar;
      // every emitted similarity must be the exact full-matrix value
      assert(r.getDouble(2) == want && want >= 0.8, s"$r want=$want")
    }
  }

  test("minhash LSH candidates verify against true shingle jaccard") {
    val rows = graft.operators.Dedup.minhashLsh(spark, sf).collect()
    assert(rows.forall(_.getAs[Double]("shingle_jaccard") >= 0.7))
    assert(rows.forall(r => r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b")))
  }

  test("shingling survives documents with fewer than two tokens") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // regression: sequence(1, size-1) descends for size<=1 and indexes
    // element 0; the pipeline must filter short docs BEFORE shingling
    val docs = Seq((1L, "hello"), (2L, "12345 67"), (3L, "two words here"))
      .toDF("doc_id", "text")
    val toks = graft.functions.TextFunctions.tokensOrdered(col("text"))
    val out = docs
      .select(col("doc_id"), toks.as("t"))
      .filter(size(col("t")) >= 2) // the shingled() row-level guard
      .select(col("doc_id"), graft.operators.Dedup.shinglesOf(col("t")).as("sh"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(!out.contains(1L))                     // single token -> filtered
    assert(!out.contains(2L))                     // digits-only -> zero alpha tokens
    assert(out(3L).toSeq == Seq("two words", "words here"))
  }

  test("simhash: aggregated pair counts at low hamming distance") {
    val rows = graft.operators.Dedup.simhash(spark, sf).collect()
    assert(rows.forall(_.getAs[Long]("hamming") <= 8L))
    // hamming values are distinct (grouped)
    val hs = rows.map(_.getAs[Long]("hamming"))
    assert(hs.toSet.size == hs.length)
  }

  test("dedup clusters: canonical assignment is a fixpoint consistent with dd3 edges") {
    val labels = graft.operators.Dedup.dedupClusters(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("canonical_doc_id")).toMap
    assert(labels.size == 500)                    // linear output: one row per doc
    assert(labels.forall { case (d, c) => c <= d })  // canonical = component min
    assert(labels.values.forall(c => labels(c) == c)) // canonicals are self-canonical
    // every verified near-dup pair landed in the same cluster
    graft.operators.Dedup.minhashLsh(spark, sf).collect().foreach { r =>
      assert(labels(r.getAs[Long]("doc_a")) == labels(r.getAs[Long]("doc_b")))
    }
  }

  test("contamination: every eval doc is found exactly once, at its planted copy") {
    val rows = graft.operators.Dedup.contamination(spark, sf).collect()
    assert(rows.nonEmpty)
    // the corpus is dup-free, so the ONLY training hit for an eval doc is
    // its own id-shifted copy
    assert(rows.forall(r =>
      r.getAs[Long]("train_doc_id") == r.getAs[Long]("eval_doc_id") + 1000000L))
    val evalIds = rows.map(_.getAs[Long]("eval_doc_id"))
    assert(evalIds.toSet.size == evalIds.length) // one hit per eval doc
  }

  test("scoped caches are released once the consuming action completes") {
    import org.apache.spark.storage.StorageLevel
    // Run dd3 to completion: its shingle + verified-pair frames are
    // scope-persisted at construction and must be released by the
    // query-completion listener after the action — not live forever.
    graft.operators.Dedup.minhashLsh(spark, sf)
      .write.mode("overwrite").format("noop").save()
    // storageLevel consults the cache manager by plan equivalence, so a
    // freshly-built identical frame reports whether the cache entry is
    // still registered. The listener fires asynchronously — poll briefly.
    val sh = graft.operators.Dedup.shingled(spark, sf)
    val deadline = System.currentTimeMillis() + 30000
    while (sh.storageLevel != StorageLevel.NONE &&
        System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    assert(sh.storageLevel == StorageLevel.NONE,
      "shingle frame still cached after the consuming action completed")
  }

  /** One shared degenerate corpus for both hot-bucket cap tests: 300
    * byte-identical documents, so every doc lands in the SAME bucket of
    * every band — the worst case the cap exists for. Lazily written once.
    */
  private lazy val boilerplateCorpusDir: String = {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-hotbucket").toString
    (1L to 300L).map(i => (i, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("simhash hot-bucket cap bounds a boilerplate corpus's band join") {
    val cap = graft.operators.Dedup.HotBucketCap
    // Degenerate corpus: 300 byte-identical documents — every doc lands in
    // the SAME (band, chunk) bucket of every band, the worst case the cap
    // exists for. Uncapped, the band join would emit 300*299/2 = 44 850
    // pairs; with the cap only the `cap` lowest doc_ids per bucket pair up,
    // and since all four bands cap to the SAME doc_id set, the distinct
    // pair count is exactly cap*(cap-1)/2 at hamming 0.
    val rows = graft.operators.Dedup.simhash(spark, boilerplateCorpusDir).collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[Long]("hamming") == 0L)
    assert(rows.head.getAs[Long]("n_pairs") == cap.toLong * (cap - 1) / 2)
  }

  test("dd7 hot-bucket cap keeps BOTH corpus sides (cross pairs survive)") {
    import org.apache.spark.sql.functions._
    val cap = graft.operators.Dedup.HotBucketCap
    // 300 identical documents: every band bucket is one hot bucket holding
    // all eval ids AND all shifted train ids. A global id-order cap kept
    // only the (low) eval ids and produced ZERO cross-corpus candidates —
    // the exact recall hole the per-side cap closes. Expected pair count:
    // min(|eval|, cap) capped eval members x cap capped train members,
    // all at shingle jaccard 1.0.
    val nEval = spark.range(1, 301)
      .filter(substring(md5(col("id").cast("string")), 1, 1) < "4")
      .count().toInt
    val rows = graft.operators.Dedup.nearContamination(spark, boilerplateCorpusDir).collect()
    assert(rows.length == math.min(nEval, cap) * cap, s"nEval=$nEval")
    assert(rows.forall(_.getAs[Double]("shingle_jaccard") == 1.0))
    assert(rows.forall(r => r.getAs[Long]("eval_doc_id") < 1000000L &&
      r.getAs[Long]("train_doc_id") >= 1000000L))
  }

  test("dd8 span contamination: a 10-token shared quote flags, a 9-token one does not") {
    // 10 shared consecutive tokens = 3 shared 8-token windows (exactly the
    // SpanHits bar); 9 shared tokens = 2 windows (below it). Fillers are
    // disjoint across docs so no window crossing the quote boundary can
    // coincidentally match. Doc 6 is the only eval-side id (md5 carve);
    // its id-shifted self shares all 15 of its windows.
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-dd8").toString
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliett"
    val fillA = "kilo lima mike november oscar papa quebec romeo sierra tango uniform victor"
    val fillB = "whiskey xray yankee zulu apple banana cherry date elder fig grape honey"
    val fillC = "iris jade kiwi lemon mango nectar olive peach quince raisin squash tomato melon"
    Seq(
      (6L, base + " " + fillA),
      (7L, base + " " + fillB),
      (8L, base.split(" ").take(9).mkString(" ") + " " + fillC))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = graft.operators.Dedup.spanContamination(spark, dir).collect()
      .map(r => (r.getAs[Long]("eval_doc_id"), r.getAs[Long]("train_doc_id"),
        r.getAs[Long]("n_shared_windows")))
    assert(rows.toSeq == Seq((6L, 1000006L, 15L), (6L, 1000007L, 3L)))
  }

  // Every componentsOf contract test runs BOTH regimes: the default call
  // takes the driver-finish union-find path on these test-sized graphs,
  // and driverFinishMax = 0 forces the distributed label-propagation
  // loop — so neither implementation can rot behind the other.
  private val componentRegimes: Seq[(String, Long)] =
    Seq("driver-finish" -> graft.engine.RegimeGate.DriverRows,
      "distributed-loop" -> 0L)

  test("componentsOf converges on a long path graph (multi-round pointer doubling)") {
    // The corpus near-dup graphs are mostly 2-3 node components, which the
    // seeded first state already solves — this path of 100 nodes (diameter
    // 99) forces genuine log-round doubling, and the two disjoint chains +
    // isolated nodes check that labels never bleed across components.
    val spark = TestSpark.spark
    import spark.implicits._
    val chainA = (1L until 100L).map(i => (i, i + 1))          // 1..100
    val chainB = (200L until 250L).map(i => (i, i + 1))        // 200..250
    val nodes = ((1L to 100L) ++ (200L to 250L) ++ Seq(999L)).toDF("id")
    val pairs = (chainA ++ chainB).toDF("a", "b")
    for ((regime, max) <- componentRegimes) {
      val canon = graft.operators.Dedup.componentsOf(nodes, pairs, max)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert((1L to 100L).forall(canon(_) == 1L), regime)
      assert((200L to 250L).forall(canon(_) == 200L), regime)
      assert(canon(999L) == 999L, regime)
    }
  }

  test("componentsOf matches brute-force union-find on pseudo-random graphs") {
    // the path/chain stress test covers diameter; seeded random graphs
    // cover the other topologies (cycles, stars, merged blobs, self-loop
    // duplicates) against an independent union-find implementation
    val spark = TestSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 3) {
      val n = 30 + rnd.nextInt(40)
      val ids = (1L to n.toLong)
      // self-loops deliberately NOT filtered: componentsOf must treat an
      // (a, a) edge as a no-op, same as union-find's union(a, a)
      val edges = (1 to 2 * n).map(_ =>
        (1L + rnd.nextInt(n), 1L + rnd.nextInt(n)))
      val parent = scala.collection.mutable.Map(ids.map(i => i -> i).toSeq: _*)
      def find(x: Long): Long =
        if (parent(x) == x) x
        else { val r = find(parent(x)); parent(x) = r; r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        // union-by-min keeps every component's root at its minimum id —
        // exactly componentsOf's canonical convention
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = ids.map(i => i -> find(i)).toMap
      for ((regime, max) <- componentRegimes) {
        val canon = graft.operators.Dedup.componentsOf(
            ids.toDF("id"), edges.toDF("a", "b"), max)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(canon == expected, s"$regime: n=$n, ${edges.length} edges")
      }
    }
  }

  test("componentsOf drops null-endpoint edges identically in both regimes") {
    // r16 ADVICE: the driver finish used to NPE on a null edge id while
    // the distributed loop silently dropped it via join/aggregate null
    // semantics — same input, regime-dependent behavior. The guard now
    // filters half-null edges up front, so both regimes see the same
    // graph: (1,2) connects, (3,null)/(null,4) contribute nothing.
    val spark = TestSpark.spark
    import spark.implicits._
    val nodes = (1L to 4L).toDF("id")
    val pairs = Seq(
      (Some(1L), Some(2L)), (Some(3L), None), (None, Some(4L)), (None, None))
      .toDF("a", "b")
    for ((regime, max) <- componentRegimes) {
      val canon = graft.operators.Dedup.componentsOf(nodes, pairs, max)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(canon == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L), regime)
    }
  }

  test("componentsOf with non-long ids routes through the distributed loop") {
    // The driver finish is long-id-only by construction; a string-keyed
    // graph must still resolve correctly via the generic loop under the
    // DEFAULT threshold (this is the guard that the regime check inspects
    // types, not just sizes).
    val spark = TestSpark.spark
    import spark.implicits._
    val nodes = Seq("a", "b", "c", "z").toDF("id")
    val pairs = Seq(("b", "c"), ("a", "b")).toDF("x", "y")
    val canon = graft.operators.Dedup.componentsOf(nodes, pairs)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(canon == Map("a" -> "a", "b" -> "a", "c" -> "a", "z" -> "z"))
  }

  test("clustersOf on a dup-free corpus assigns every doc to itself") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-nodup").toString
    Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven"),
      (3L, "red orange yellow green blue indigo violet"),
      (4L, "north south east west up down left right"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = graft.operators.Dedup.dedupClusters(spark, dir).collect()
    assert(rows.length == 4)
    assert(rows.forall(r =>
      r.getAs[Long]("doc_id") == r.getAs[Long]("canonical_doc_id")))
  }

  test("dd12 bag fingerprint: reorder-only vs exact dup vs singleton") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "delta gamma beta alpha"),   // same bag, different order
      (3L, "alpha  beta   gamma delta"), // whitespace variant: exact dup
      (4L, "an entirely different text")
    ).toDF("doc_id", "text")
    val got = graft.operators.Dedup.bagFingerprintCore(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("bag_canonical_id"), r.getAs[Long]("n_members"),
          r.getAs[Boolean]("is_exact_dup"),
          r.getAs[Boolean]("is_reorder_dup"))).toMap
    assert(got(1L) == ((1L, 3L, false, false)), got(1L)) // canonical itself
    assert(got(2L) == ((1L, 3L, false, true)), got(2L))  // word shuffle
    assert(got(3L) == ((1L, 3L, true, false)), got(3L))  // whitespace only
    assert(got(4L) == ((4L, 1L, false, false)), got(4L))
  }

  test("dd11: the higher-quality member wins its cluster even with a later id") {
    import spark.implicits._
    // docs 1 and 2 share every a-z token (identical shingles -> same
    // cluster); doc 1 carries a punctuation payload that tanks its
    // alpha/punct quality terms. The keep bit must land on 2, not on
    // the min-id canonical. Doc 3 is a singleton: kept trivially.
    val prose = "the quick brown fox and the lazy dog were walking over " +
      "the old bridge while it was raining all day in the valley"
    val docs = Seq(
      (1L, prose + " !!!!!!!!!! ?????????? ,,,,,,,,,, .........."),
      (2L, prose),
      (3L, "an entirely different document about spark physical plans " +
        "and shuffle exchanges that shares nothing with the others")
    ).toDF("doc_id", "text")
    val got = graft.operators.Dedup.qualityCanonicalCore(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("canonical_doc_id"), r.getAs[Boolean]("keep"))).toMap
    assert(got(1L)._1 == 1L && got(2L)._1 == 1L, got) // same cluster, min-id label
    assert(!got(1L)._2, "punctuation-spam copy must be dropped")
    assert(got(2L)._2, "clean copy must be kept despite the later id")
    assert(got(3L) == ((3L, true)), got(3L))
  }

  test("isEvalSplitLocal agrees with the Spark expression over an id range") {
    import org.apache.spark.sql.functions.col
    // The three twins (Spark expression, DuckDB SQL, driver function) must
    // not drift: the driver-regime contamination carve in pipe1 uses the
    // local form where the distributed regime evaluates the expression.
    import spark.implicits._
    val ids: Seq[Long] =
      (0L until 4096L) ++ Seq(999999L, 1000000L, Long.MaxValue)
    val viaSpark = ids.toDF("doc_id")
      .select(col("doc_id"),
        graft.operators.Dedup.isEvalSplit(col("doc_id")).as("e"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    ids.foreach { id =>
      assert(graft.operators.Dedup.isEvalSplitLocal(id) == viaSpark(id),
        s"split twins disagree at id=$id")
    }
    // sanity: the carve is non-trivial on this range (~1/4 eval)
    val frac = ids.count(graft.operators.Dedup.isEvalSplitLocal).toDouble / ids.size
    assert(frac > 0.15 && frac < 0.35, s"eval fraction $frac")
  }
}
