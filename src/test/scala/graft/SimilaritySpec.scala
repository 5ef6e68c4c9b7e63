package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col

import graft.operators.Similarity
import graft.ReferenceForms.dotBuiltin

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("embeddings are 64-dim at every checked scale factor (drift guard)") {
    // sim7's PQ subspace slicing (8 x 8 dims) and the sign-LSH bit budget
    // assume 64-dim vectors on BOTH engines; sim8's oracle now derives its
    // dimension from the data, but a testdata dimensionality change must
    // fail HERE loudly rather than silently desynchronize the rest.
    import org.apache.spark.sql.functions._
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").foreach { d =>
      val dims = Tables.t(spark, d, "embeddings")
        .select(size(col("embedding")).as("n")).distinct().collect()
      assert(dims.map(_.getInt(0)).toSeq == Seq(64), s"$d: ${dims.mkString(",")}")
    }
  }

  test("native FloatDotProduct is bit-identical to the builtin fold on real vectors") {
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"$sf/embeddings.parquet").limit(200)
    val pairs = e.alias("a").crossJoin(e.alias("b")).limit(2000)
    val both = pairs.select(
      Similarity.dot(col("a.embedding"), col("b.embedding")).as("native"),
      dotBuiltin(col("a.embedding"), col("b.embedding")).as("builtin"))
    assert(both.collect().forall(r => r.getDouble(0) == r.getDouble(1)))
  }

  test("native dot product: ragged lengths and null elements yield NULL like the builtin") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val ragged = Seq((Seq(1f, 2f), Seq(1f, 2f, 3f))).toDF("a", "b")
    val both = ragged.select(
      Similarity.dot(col("a"), col("b")).as("native"),
      dotBuiltin(col("a"), col("b")).as("builtin")).collect()(0)
    assert(both.isNullAt(0) && both.isNullAt(1))
    val withNullElem = Seq((Seq(Option(1f), None), Seq(Option(1f), Option(2f))))
      .toDF("a", "b")
    val both2 = withNullElem.select(
      Similarity.dot(col("a"), col("b")).as("native"),
      dotBuiltin(col("a"), col("b")).as("builtin")).collect()(0)
    assert(both2.isNullAt(0) && both2.isNullAt(1))
  }

  test("cosine of identical vectors is 1, orthogonal is 0") {
    import spark.implicits._
    val df = Seq(
      (Array(1f, 2f, 3f), Array(1f, 2f, 3f)),
      (Array(1f, 0f, 0f), Array(0f, 1f, 0f))).toDF("a", "b")
    val out = df.select(Similarity.cosine(col("a"), col("b")).as("c"))
      .collect().map(_.getDouble(0))
    assert(math.abs(out(0) - 1.0) < 1e-12)
    assert(out(1) == 0.0)
  }

  test("signBucket packs leading-dimension signs, 1-based") {
    import spark.implicits._
    val df = Seq(Array(1f, -1f, 2f, -2f), Array(-1f, -1f, -1f, -1f)).toDF("a")
    val out = df.select(Similarity.signBucket(col("a"), 4).as("b"))
      .collect().map(_.getLong(0))
    assert(out(0) == (1 + 4)) // dims 1 and 3 positive
    assert(out(1) == 0)
  }

  test("quantizer bits scale with corpus size, clamped to [4,16]") {
    // smallest b with 2^b >= n/32: cell population stays ~constant, so
    // candidate pairs stay linear in n (the round-1 verdict's scale fix)
    assert(Similarity.chooseBits(1) == 4)
    assert(Similarity.chooseBits(500) == 4)
    assert(Similarity.chooseBits(2000) == 6)
    assert(Similarity.chooseBits(1L << 20) == 15)
    assert(Similarity.chooseBits(100000000L) == 16) // clamped at the dim budget
    // monotone non-decreasing over doublings
    val bs: List[Int] = (0 to 40).map(i => Similarity.chooseBits(1L << i)).toList
    assert(bs == bs.sortBy(identity))
  }

  test("signBucketAt draws bits from the band's dimension window") {
    import spark.implicits._
    val df = Seq(Array(-1f, -1f, 1f, -1f, 2f, 1f)).toDF("a")
    // offset 2, 3 bits -> dims 3,4,5 -> bits (1,0,1) -> 5
    val out = df.select(Similarity.signBucketAt(col("a"), 2, 3).as("b"))
      .collect().map(_.getLong(0))
    assert(out(0) == 5L)
  }

  test("brute-force top-k: ANN results are a subset with same scoring") {
    val brute = Similarity.cosineTopK(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cos")).toMap
    val ann = Similarity.annBucketed(spark, sf).collect()
    assert(ann.nonEmpty)
    // every ANN hit that also appears in the brute-force top-10 agrees on score
    ann.foreach { r =>
      brute.get(r.getAs[Long]("vec_id"))
        .foreach(c => assert(c == r.getAs[Double]("cos")))
    }
  }

  test("near-dup pairs respect threshold and ordering") {
    val rows = Similarity.embeddingNearDup(spark, sf).collect()
    assert(rows.forall(_.getAs[Double]("cos") >= 0.4))
    assert(rows.forall(r => r.getAs[Long]("vec_a") < r.getAs[Long]("vec_b")))
  }

  test("IVF ANN: results score identically to brute force, descending, no query echo") {
    val brute = Similarity.cosineTopK(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cos")).toMap
    val ivf = Similarity.ivfAnn(spark, sf).collect()
    assert(ivf.length == 5)
    assert(ivf.forall(_.getAs[Long]("vec_id") != 0L))
    val cs = ivf.map(_.getAs[Double]("cos")).toSeq
    assert(cs == cs.sorted.reverse, s"not descending: $cs")
    // any IVF hit that the exact top-10 also found must carry the same score
    ivf.foreach { r =>
      brute.get(r.getAs[Long]("vec_id"))
        .foreach(c => assert(c == r.getAs[Double]("cos")))
    }
  }

  test("semantic clusters are a fixpoint consistent with the sim3 edge set") {
    // same contract dd5 pins against dd3: both endpoints of every near-dup
    // pair share a canonical, canonicals point at themselves, and no
    // canonical exceeds its member (min-label semantics).
    val canon = graft.operators.Similarity.semanticClusters(spark, sf)
      .collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("canonical_vec_id"))
      .toMap
    assert(canon.forall { case (v, c) => c <= v })
    assert(canon.forall { case (_, c) => canon(c) == c })
    graft.operators.Similarity.embeddingNearDup(spark, sf).collect().foreach { r =>
      val (a, b) = (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))
      assert(canon(a) == canon(b), s"pair ($a,$b) split across clusters")
    }
  }

  test("sim9 recall audit reports the Hamming-2 miss the probe set cannot reach") {
    import spark.implicits._
    // b=4 sign bits over dims 1-4; dims 5-8 carry the cosine mass.
    // v1 flips TWO leading signs (outside the Hamming-1 probe set) yet
    // ranks in the exact top-3 — the audit must surface exactly that miss.
    val emb = Seq(
      0L -> Array(1f, 1f, 1f, 1f, 10f, 10f, 10f, 10f),  // query
      1L -> Array(-1f, -1f, 1f, 1f, 10f, 10f, 10f, 10f), // Hamming-2: missed
      2L -> Array(1f, 1f, 1f, 1f, 9f, 9f, 9f, 9f),       // same cell: found
      3L -> Array(1f, 1f, -1f, 1f, 8f, 8f, 8f, 8f),      // Hamming-1: probed
      4L -> Array(1f, 1f, 1f, 1f, -5f, 5f, -5f, 5f)      // same cell, low cos
    ).toDF("vec_id", "embedding")
    val row = graft.operators.Similarity
      .annRecallCore(emb, b = 4, maxQid = 0L, k = 3).collect()
    assert(row.length == 1)
    assert(row(0).getAs[Long]("k") == 3L)
    assert(row(0).getAs[Long]("n_hits") == 2L) // v2 + v3; v1 unreachable
    assert(math.abs(row(0).getAs[Double]("recall") - 2.0 / 3) < 1e-6)
    // with every corpus vector reachable the audit reports full recall
    val full = graft.operators.Similarity
      .annRecallCore(emb.filter($"vec_id" =!= 1L), b = 4, maxQid = 0L, k = 3)
      .collect()
    assert(full(0).getAs[Long]("n_hits") == 3L)
    assert(full(0).getAs[Double]("recall") == 1.0)
  }

  test("sim17 NDCG prices the Hamming-2 miss that recall merely counts") {
    import spark.implicits._
    // Same planted corpus as sim9: v1 sits 2 sign flips away (outside
    // the probe set) but holds top-rank cosine mass — the probe ranking
    // loses v1's gain at position 1 and every survivor shifts up a rank,
    // so dcg < idcg strictly. With v1 removed the probe ranking IS the
    // ideal ranking and ndcg must be exactly 1.
    val emb = Seq(
      0L -> Array(1f, 1f, 1f, 1f, 10f, 10f, 10f, 10f),
      1L -> Array(-1f, -1f, 1f, 1f, 10f, 10f, 10f, 10f),
      2L -> Array(1f, 1f, 1f, 1f, 9f, 9f, 9f, 9f),
      3L -> Array(1f, 1f, -1f, 1f, 8f, 8f, 8f, 8f),
      4L -> Array(1f, 1f, 1f, 1f, -5f, 5f, -5f, 5f)
    ).toDF("vec_id", "embedding")
    val row = graft.operators.Similarity
      .ndcgCore(emb, b = 4, maxQid = 0L, k = 3).collect()
    assert(row.length == 1)
    assert(row(0).getAs[Long]("n_retrieved") == 3L)
    val (dcg, idcg, ndcg) = (row(0).getAs[Double]("dcg"),
      row(0).getAs[Double]("idcg"), row(0).getAs[Double]("ndcg"))
    assert(dcg < idcg, s"$dcg vs $idcg")
    assert(ndcg > 0 && ndcg < 1, ndcg.toString)
    val full = graft.operators.Similarity
      .ndcgCore(emb.filter($"vec_id" =!= 1L), b = 4, maxQid = 0L, k = 3)
      .collect()
    assert(full(0).getAs[Double]("ndcg") == 1.0, full(0).toString)
    assert(full(0).getAs[Double]("dcg") == full(0).getAs[Double]("idcg"))
  }

  test("sim10 MIPS order equals augmented-cosine order (the scale reduction)") {
    // The norm-augmentation argument sim10 relies on at 100 TB: append
    // sqrt(M^2 - |x|^2) to every corpus vector (M = max corpus norm) and
    // 0 to the query, and cosine in the augmented space ranks exactly by
    // inner product — so the existing cosine LSH serves MIPS unchanged.
    // Verified end-to-end on the driver corpus per query.
    val spark2 = spark
    import spark2.implicits._
    val dir = "/root/testdata/sf0.001"
    val got = Similarity.mipsTopK(spark, dir).collect()
    assert(got.length == 30, "3 queries x top-10")
    val emb = graft.Tables.t(spark, dir, "embeddings")
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect().toMap
    val m2 = emb.filter(_._1 > 2).values
      .map(v => v.map(x => x.toDouble * x).sum).max
    def ipOf(q: Array[Float], x: Array[Float]) =
      q.zip(x).map { case (a, b) => a.toDouble * b }.sum
    for (qid <- 0L to 2L) {
      val q = emb(qid)
      val corpus = emb.filter(_._1 > 2).toSeq
      // augmented cosine: |x'| = M for every corpus vector, so
      // cos' = ip / (|q| * M) — a positive constant rescale of ip
      val augRank = corpus
        .map { case (id, v) => (id,
          ipOf(q, v) / (math.sqrt(ipOf(q, q)) * math.sqrt(m2))) }
        .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1)
      val ipRank = corpus.map { case (id, v) => (id, ipOf(q, v)) }
        .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1)
      assert(augRank == ipRank, s"reduction broke for query $qid")
      // and the gated query serves that order (at its 6-decimal grain)
      val roundedRank = corpus
        .map { case (id, v) => (id, math.rint(ipOf(q, v) * 1e6) / 1e6) }
        .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1)
      val mipsRank = got.filter(_.getLong(0) == qid)
        .sortBy(_.getAs[Long]("rk")).map(_.getLong(1)).toSeq
      assert(mipsRank == roundedRank, s"query $qid")
    }
  }

  test("sim11 MMR: the redundant twin is demoted below the diverse doc") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // query q = (1,1,0,0): relevance reaches docs on BOTH axes, so the
    // diverse doc (axis 2) scores close to the axis-1 twins WITHOUT
    // being similar to them. Twins 1/2 are near-identical (sim ~0.9998);
    // diverse doc 3 has sim < 0.08 to either twin. Pure relevance ranks
    // {1, 2} first; MMR must interleave: 1, then 3 (twin 2's penalty
    // 0.3*0.9998 dwarfs its relevance edge), then 2.
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    val e = Seq(
      (0L, v(1, 1, 0, 0)),               // the query vector
      (1L, v(1, 0.06, 0, 0)),
      (2L, v(1, 0.04, 0, 0)),
      (3L, v(0.02, 1, 0, 0)),
      (4L, v(-1, -1, 0, 0))              // anti-relevant filler
    ).toDF("vec_id", "embedding")
      .withColumn("nrm", sqrt(graft.operators.Similarity.dot(
        col("embedding"), col("embedding"))))
    val got = Similarity.mmrCore(e).collect()
      .sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("vec_id")).toSeq
    assert(got.take(3) == Seq(1L, 3L, 2L), got)
    // by contrast pure relevance ranks the twins 1-2
    val rel = e.filter(col("vec_id") =!= 0L)
      .select(col("vec_id"), (graft.operators.Similarity.dot(col("embedding"),
        typedlit(Seq(1f, 1f, 0f, 0f))) / col("nrm")).as("r"))
      .orderBy(col("r").desc).limit(2)
      .collect().map(_.getLong(0)).toSeq
    assert(rel.toSet == Set(1L, 2L), rel)
  }

  test("sim11 MMR driver replay holds the distributed form's null order") {
    import org.apache.spark.sql.functions._
    // Null-ELEMENT vector 6 poisons the dot to null (FloatDotProduct
    // parity) and null-ARRAY vector 7 never produces a dot at all: both
    // arrive with null rel, sort LAST under the desc argmax (Spark's
    // nulls-last), tiebreak by vec_id among themselves, and must not
    // crash the driver replay (a naive getSeq[Float] unboxing would NPE
    // on the null element). Zero-norm vectors are unreachable: Spark 4
    // ANSI raises DIVIDE_BY_ZERO for DOUBLE division too (r19: verified
    // empirically — `select 0e0/0e0` throws under ansi.enabled, and the
    // zero-norm test below pins it), in the old distributed form and the
    // replay's Spark-side fetch alike. NaN is still REACHABLE — a NaN
    // ELEMENT makes the denominator NaN, which the ANSI zero check does
    // not catch — so the NaN path gets its own test below.
    val rows = spark.sql(
      """select * from values
        |  (0L, array(1f, 1f, 0f, 0f)),
        |  (1L, array(1f, 0.06f, 0f, 0f)),
        |  (2L, array(0.02f, 1f, 0f, 0f)),
        |  (6L, array(1f, cast(null as float), 0f, 0f)),
        |  (7L, cast(null as array<float>))
        |  as t(vec_id, embedding)""".stripMargin)
      .withColumn("nrm", sqrt(graft.operators.Similarity.dot(
        col("embedding"), col("embedding"))))
    val got = Similarity.mmrCore(rows).collect()
      .sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("vec_id")).toSeq
    assert(got == Seq(1L, 2L, 6L, 7L), got)
  }

  test("sim11 MMR NaN-element candidate: NaN-first pick order, NaN-greatest max") {
    import org.apache.spark.sql.functions._
    // NaN-ELEMENT vector 8: the dot and the norm are both NaN, and a NaN
    // denominator slips past ANSI's zero check (it is not == 0), so
    // rel = NaN reaches the candidate frame — the one reachable NaN path
    // (zero norms throw, see the test below). In the Spark-side fetch NaN
    // sorts GREATEST under rel.desc, so it arrives FIRST, and the
    // replay's argmax keys NaN mmr to -Infinity — rank 1 goes to the NaN
    // doc in both forms. Every later round's sim against the chosen NaN
    // doc is NaN, and the max-of-sims must treat NaN as greatest (Spark's
    // max-aggregate semantics — the pinned TotalOrdering in mmrCore; an
    // IeeeOrdering would silently drop the NaN and break parity): all
    // remaining mmr collapse to NaN and the id tiebreak orders ranks 2..3
    // ascending.
    val rows = spark.sql(
      """select * from values
        |  (0L, array(1f, 1f, 0f, 0f)),
        |  (1L, array(1f, 0.06f, 0f, 0f)),
        |  (2L, array(0.02f, 1f, 0f, 0f)),
        |  (8L, array(float('NaN'), 0f, 0f, 0f))
        |  as t(vec_id, embedding)""".stripMargin)
      .withColumn("nrm", sqrt(graft.operators.Similarity.dot(
        col("embedding"), col("embedding"))))
    val got = Similarity.mmrCore(rows).collect()
      .sortBy(_.getAs[Long]("rank"))
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Any]("mmr"))).toSeq
    assert(got.map(_._1) == Seq(8L, 1L, 2L), got)
    // rank 1 carries the NaN through round6 untouched; ranks 2+ are NaN
    // because the max-of-sims saw the NaN doc's NaN similarity.
    assert(got.forall { case (_, m) =>
      m.asInstanceOf[Double].isNaN }, got)
  }

  test("sim11 MMR zero-norm candidate: ANSI DIVIDE_BY_ZERO in the fetch (pinned)") {
    import org.apache.spark.sql.functions._
    // Pins the comment above: Spark 4 ANSI raises DIVIDE_BY_ZERO for
    // DOUBLE division too (not only integral/decimal), so a zero-norm
    // candidate can never reach the replay — if a Spark upgrade ever
    // relaxes this, the NaN-path test's coverage story changes and this
    // failure is the flag.
    val rows = spark.sql(
      """select * from values
        |  (0L, array(1f, 1f, 0f, 0f)),
        |  (1L, array(1f, 0.06f, 0f, 0f)),
        |  (8L, array(0f, 0f, 0f, 0f))
        |  as t(vec_id, embedding)""".stripMargin)
      .withColumn("nrm", sqrt(graft.operators.Similarity.dot(
        col("embedding"), col("embedding"))))
    val e = intercept[Exception] { Similarity.mmrCore(rows) }
    assert(e.getMessage.contains("DIVIDE_BY_ZERO"),
      s"expected ANSI DIVIDE_BY_ZERO, got: ${e.getMessage}")
  }

  test("sim16 PCA: axis-0 variance corpus recovers loading (1,0,..), ratio 1") {
    import spark.implicits._
    // mean-zero corpus whose variance lives entirely on axis 0:
    // covariance = diag(5, 0, 0, 0) -> eigenvalue 5, loading e0 with
    // POSITIVE sign (all-positive init), explained ratio exactly 1.
    val emb = Seq(
      Seq(3f, 0f, 0f, 0f), Seq(-3f, 0f, 0f, 0f),
      Seq(1f, 0f, 0f, 0f), Seq(-1f, 0f, 0f, 0f)
    ).map(Tuple1(_)).toDF("embedding")
    val got = graft.operators.Similarity.pcaTopCore(emb).collect()
      .map(r => r.getAs[Long]("dim") -> r).toMap
    assert(got.size == 4)
    assert(got(0L).getAs[Double]("loading") == 1.0, got(0L))
    assert(got(0L).getAs[Double]("variance") == 5.0)
    assert(got(0L).getAs[Double]("eigenvalue") == 5.0)
    assert(got(0L).getAs[Double]("explained_ratio") == 1.0)
    (1L to 3L).foreach { d =>
      assert(got(d).getAs[Double]("loading") == 0.0, got(d))
      assert(got(d).getAs[Double]("mu") == 0.0)
    }
  }

  test("sim15 diversity: identical=1, orthonormal=0, antipodal=-1; zero vectors dropped") {
    import spark.implicits._
    val emb = Seq(
      // label 0: three copies of one direction -> every pairwise cos 1
      (0, Seq(2f, 0f, 0f, 0f)), (0, Seq(5f, 0f, 0f, 0f)),
      (0, Seq(1f, 0f, 0f, 0f)),
      // label 1: an orthonormal set -> every pairwise cos 0
      (1, Seq(1f, 0f, 0f, 0f)), (1, Seq(0f, 1f, 0f, 0f)),
      (1, Seq(0f, 0f, 1f, 0f)), (1, Seq(0f, 0f, 0f, 1f)),
      // label 2: an antipodal pair -> mean pairwise cos -1; the zero
      // vector must be dropped, not crash the normalization
      (2, Seq(3f, 4f, 0f, 0f)), (2, Seq(-3f, -4f, 0f, 0f)),
      (2, Seq(0f, 0f, 0f, 0f))
    ).toDF("label", "embedding")
    val got = graft.operators.Similarity.corpusDiversityCore(emb).collect()
      .map(r => r.getInt(0) ->
        (r.getAs[Long]("n"), r.getAs[Double]("mean_pairwise_cosine"),
          r.getAs[Double]("centroid_norm"))).toMap
    assert(got(0)._1 == 3L && got(0)._2 == 1.0 && got(0)._3 == 1.0, got(0))
    assert(got(1)._1 == 4L && got(1)._2 == 0.0 && got(1)._3 == 0.5, got(1))
    assert(got(2)._1 == 2L && got(2)._2 == -1.0 && got(2)._3 == 0.0, got(2))
  }

  test("sim6 matches union-find over the verified-pair graph on seeded random clusters") {
    // GraphSpec and DedupSpec pin componentsOf this way; sim6 shares the
    // label-propagation loop but rides a different graph (sim3's banded
    // embedding pairs), so the property
    // test runs END-TO-END: seeded random embedding clusters → the real
    // band/cap/verify pair machinery → semanticClusters, asserted against
    // union-find over the pairs that machinery ACTUALLY verified (not the
    // planted intent — banding may split a borderline pair, and the
    // clusters must agree with the graph as built).
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val dim = 64
      val vecs = scala.collection.mutable.ArrayBuffer[(Long, String, Seq[Float])]()
      var id = 0L
      for (c <- 0 until 5 + rnd.nextInt(5)) {
        // cluster center + tight noise: members near-dup each other with
        // high cosine; distinct random centers are near-orthogonal at 64
        // dims, so cross-cluster pairs stay far below the 0.4 bar
        val center = Array.fill(dim)(rnd.nextGaussian().toFloat)
        for (_ <- 0 to rnd.nextInt(4)) {
          vecs += ((id, s"c$c",
            center.map(x => x + rnd.nextGaussian().toFloat * 0.05f).toSeq))
          id += 1
        }
      }
      val dir = TestSpark.tempDir("graft-sim6-prop").toString
      vecs.toSeq.toDF("vec_id", "label", "embedding")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val pairs = Similarity.nearDupPairsOf(spark, dir)
        .select(col("vec_a"), col("vec_b")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.Map((0L until id).map(i => i -> i): _*)
      def find(x: Long): Long =
        if (parent(x) == x) x
        else { val r = find(parent(x)); parent(x) = r; r }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = (0L until id).map(i => i -> find(i)).toMap
      val got = Similarity.semanticClusters(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"trial $trial: assignment != union-find")
      // the planted structure must actually exercise merging (some
      // multi-member components) AND leave some singletons
      val nComponents = expected.values.toSet.size
      assert(nComponents < id, s"trial $trial: no pairs verified at all")
      assert(pairs.nonEmpty, s"trial $trial degenerate")
    }
  }
}
