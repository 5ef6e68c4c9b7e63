package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.{r6, r6s, round6, t}
import graft.functions.CorpusKernels.longSqL2

/** Similarity search over the `embeddings` table (`Array[Float]` vectors,
  * north-star extension, SURVEY.md §2.5): brute-force cosine top-k as the
  * exact baseline, a multi-probe sign-LSH ANN variant as the scale path,
  * and banded sign-LSH embedding near-duplicate pairs.
  *
  * Numeric portability: floats are cast to double BEFORE any arithmetic
  * (float→double is exact), and the dot product is a strict left-to-right
  * sum ([[graft.functions.FloatDotProduct]]) — the same evaluation order
  * DuckDB's `list_dot_product` uses on `DOUBLE[]` — so Spark and the
  * oracle produce bit-identical cosines, rounded to 6 only as
  * belt-and-braces. The integer-grid operators (sim8, sim12) take exact
  * squared distances with [[graft.functions.LongSquaredL2]].
  *
  * Scale design: the quantizer's hyperplane-bit count b grows with the
  * corpus ([[Similarity.chooseBits]]: smallest b with 2^b >= n/32), so
  * cell population stays ~constant and candidate pair counts stay linear
  * in n. Recall lost to the finer cells is bought back structurally:
  *   - near-dup runs L=4 independent hash tables (bands), each drawing its
  *     b sign bits from a disjoint 16-dim window; a pair is a candidate if
  *     it collides in any band — an equi-join on (band, bucket);
  *   - ANN multi-probes the query's own cell plus all b Hamming-1
  *     neighbor cells — b+1 probes, an equi-join on the cell id.
  * The query vector is a broadcast single row, never a shuffle of the
  * corpus.
  */
object Similarity {

  /** Hash tables (bands) for near-dup; band j draws its sign bits from
    * dimensions [j*BandDim + 1, j*BandDim + bits].
    */
  private val NumBands = 4
  private val BandDim = 16

  /** Left-to-right double dot product of two float-array columns — the
    * native codegen expression ([[graft.functions.FloatDotProduct]]).
    * Identical fold order and promotion to the compositional
    * `aggregate(zip_with(...))` form and to DuckDB's `list_dot_product`,
    * ~10x cheaper per pair (no per-row array allocation, stays in
    * whole-stage codegen).
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.fdot(a, b)

  /** Euclidean norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity (double, unrounded). */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Sign-LSH cell over dimensions [offset+1, offset+bits]: bit k set iff
    * that dimension is positive. 1-based element_at matches DuckDB's
    * list_element.
    */
  def signBucketAt(a: Column, offset: Int, bits: Int): Column =
    (1 to bits).map(k =>
      when(element_at(a, offset + k) > 0f, lit(1L << (k - 1))).otherwise(lit(0L)))
      .reduce(_ + _)

  /** Leading-dimension sign cell (offset 0). */
  def signBucket(a: Column, bits: Int): Column = signBucketAt(a, 0, bits)

  /** Corpus-scaling hyperplane-bit count: the smallest b such that
    * 2^b >= n/32 (~32 vectors per cell on sign-balanced data), clamped to
    * [4, 16] — 16 is the per-band budget of disjoint coordinate
    * hyperplanes at 64 dims. Integer-only arithmetic (binary-string
    * length, no log2 floating point) so the DuckDB oracle derives the
    * IDENTICAL b from count(*) with `length(bin((n+31)//32 - 1))`.
    */
  private[graft] def chooseBits(n: Long): Int = {
    val m = (n + 31L) / 32L
    math.max(4, math.min(16, java.lang.Long.toBinaryString(math.max(m - 1L, 0L)).length))
  }

  /** The same formula as a DuckDB scalar, kept adjacent so they can't
    * drift.
    */
  private val sqlBitsCte =
    "prm AS (SELECT greatest(4, least(16, length(bin(greatest((count(*) + 31) // 32 - 1, 0))))) AS b FROM embeddings)"

  /** Embeddings with their norm precomputed ONCE per vector — every
    * pairwise stage divides by stored norms instead of re-folding 64
    * dimensions per pair per side (the dominant cost of naive cosine
    * joins). Same arithmetic (dot / (sqrt(na) * sqrt(nb))), so the oracle
    * stays bit-identical with the matching CTE.
    */
  private def withNorm(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding"),
        norm(col("embedding")).as("nrm"))

  private def cosPre(a: String, b: String): Column =
    dot(col(s"$a.embedding"), col(s"$b.embedding")) /
      (col(s"$a.nrm") * col(s"$b.nrm"))

  /** Corpus size → quantizer bits, one cheap count against the parquet
    * footer statistics (driver-side, O(files)).
    */
  private def bitsFor(spark: SparkSession, dir: String): Int =
    chooseBits(t(spark, dir, "embeddings").count())

  /** Exact brute-force cosine top-10 against the vec_id=0 query vector. */
  def cosineTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = withNorm(spark, dir)
    val q = e.filter(col("vec_id") === 0L)
      .select(col("embedding").as("qv"), col("nrm").as("qn"))
    e.filter(col("vec_id") =!= 0L)
      .join(broadcast(q))
      .select(col("vec_id"), col("label"),
        round(dot(col("embedding"), col("qv")) / (col("nrm") * col("qn")), 6).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(10)
  }

  /** IVF-style ANN with multi-probe: search the query's sign-LSH cell plus
    * every Hamming-1 neighbor cell (b+1 probes over 2^b corpus-scaled
    * cells), top-5. Approximate by construction; the oracle replicates the
    * same probe set, so the gate checks the algorithm, not recall.
    */
  def annBucketed(spark: SparkSession, dir: String): DataFrame = {
    val b = bitsFor(spark, dir)
    val e = withNorm(spark, dir)
      .withColumn("bucket", signBucket(col("embedding"), b))
    val q = e.filter(col("vec_id") === 0L)
      .select(col("embedding").as("qv"), col("nrm").as("qn"),
        col("bucket").as("qbucket"))
    val probeArr = array((col("qbucket") +: (0 until b).map(i =>
      col("qbucket").bitwiseXOR(lit(1L << i)))): _*)
    val probes = q.select(col("qv"), col("qn"), explode(probeArr).as("pbucket"))
    e.filter(col("vec_id") =!= 0L)
      .join(broadcast(probes), col("bucket") === col("pbucket"))
      .select(col("vec_id"), col("label"),
        round(dot(col("embedding"), col("qv")) / (col("nrm") * col("qn")), 6).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(5)
  }

  /** Embedding-cosine near-duplicate pairs: candidates collide in >= 1 of
    * L=4 sign-LSH bands (b corpus-scaled bits each, disjoint 16-dim
    * windows); collisions are verified with the exact cosine and emitted
    * at >= 0.4. Work = corpus + candidate count, not n²/constant.
    */
  def embeddingNearDup(spark: SparkSession, dir: String): DataFrame =
    nearDupPairsOf(spark, dir).orderBy("vec_a", "vec_b")

  /** The banded candidate + exact-cosine verification core of sim3,
    * returned LAZY and unordered — sim3 sorts it for its gate, sim6 feeds
    * it to the shared connected-components loop. Mirrors the
    * verifiedPairsOf/minhashLsh split on the document side.
    */
  private[graft] def nearDupPairsOf(spark: SparkSession, dir: String): DataFrame = {
    val b = bitsFor(spark, dir)
    val e = withNorm(spark, dir)
    val bands = (0 until NumBands).map(j =>
      struct(lit(j).as("band"),
        signBucketAt(col("embedding"), j * BandDim, b).as("bucket")))
    val raw = e.select(col("vec_id"), explode(array(bands: _*)).as("bb"))
      .select(col("vec_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    // Same deterministic hot-bucket cap as the dedup band joins: a
    // degenerate embedding corpus (many identical vectors) collapses every
    // band bucket, and the cap bounds that bucket's pair contribution.
    val bb = Dedup.capHotBuckets(raw, "band", "bucket", "vec_id")
    val cand = bb.alias("x").join(bb.alias("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
    cand.join(e.alias("a"), col("vec_a") === col("a.vec_id"))
      .join(e.alias("b"), col("vec_b") === col("b.vec_id"))
      .select(col("vec_a"), col("vec_b"), round(cosPre("a", "b"), 6).as("cos"))
      .filter(col("cos") >= 0.4)
  }

  /** sim6 — SEMANTIC dedup clusters (the SemDeDup shape): every vector
    * mapped to the minimum vec_id of its connected component in the sim3
    * embedding near-dup graph — the linear, trainer-consumable output
    * (keep one representative per semantic cluster, drop the rest), as
    * dd5 is to dd3 on the text side. Built by composition: sim3's banded
    * pair core feeds the SAME label-propagation loop dd5 and pipe1 use
    * ([[Dedup.componentsOf]]) — one clustering implementation, three
    * graphs.
    */
  def semanticClusters(spark: SparkSession, dir: String): DataFrame =
    Dedup.componentsOf(
        t(spark, dir, "embeddings").select(col("vec_id")),
        nearDupPairsOf(spark, dir).select(col("vec_a"), col("vec_b")))
      .toDF("vec_id", "canonical_vec_id")
      .orderBy("vec_id")

  /** Batch multi-query ANN — the realistic production shape: every query
    * vector probes its own cell plus all Hamming-1 neighbors in ONE
    * broadcast equi-join pass over the corpus, then a per-query window
    * takes the top-3. Ranking is on the ROUNDED cosine with a vec_id
    * tiebreak, so both engines rank identically.
    */
  def batchAnn(spark: SparkSession, dir: String): DataFrame =
    probeScored(spark, dir)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("qid")
          .orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rk") <= 3).drop("rk")
      .orderBy(col("qid"), col("cos").desc, col("vec_id"))

  /** sim4's probe-scored frame `(qid, vec_id, label, cos)` — every
    * corpus vector colliding with one of the query's Hamming-1 probe
    * cells, exact-cosine scored. Shared by sim4's top-k and sim14's
    * hard-negative band.
    */
  private def probeScored(spark: SparkSession, dir: String): DataFrame = {
    val b = bitsFor(spark, dir)
    val e = withNorm(spark, dir)
      .withColumn("bucket", signBucket(col("embedding"), b))
    val q = e.filter(col("vec_id") <= 2L)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("nrm").as("qn"), col("bucket").as("qbucket"))
    val probeArr = array((col("qbucket") +: (0 until b).map(i =>
      col("qbucket").bitwiseXOR(lit(1L << i)))): _*)
    val probes = q.select(col("qid"), col("qv"), col("qn"),
      explode(probeArr).as("pbucket"))
    e.join(broadcast(probes),
        col("bucket") === col("pbucket") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), col("label"),
        round(dot(col("embedding"), col("qv")) / (col("nrm") * col("qn")), 6).as("cos"))
  }

  /** sim14 — hard-negative mining for contrastive/embedding training:
    * per query, the top-5 candidates from the LSH probe set whose exact
    * cosine falls BELOW the near-dup threshold (0.4, sim3's convention).
    * Above the bar a candidate is a positive/near-duplicate; just below
    * it are the "hard" negatives — similar enough to be informative,
    * dissimilar enough to be true negatives — the pairs an embedding
    * trainer wants in each batch (in-batch easy negatives teach nothing).
    * Ranking is on the ROUNDED cosine with a vec_id tiebreak (sim4's
    * determinism rule).
    *
    * Scale: as sim4 — queries broadcast into one probe equi-join; the
    * corpus never self-joins.
    */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame =
    probeScored(spark, dir)
      .filter(col("cos") < 0.4)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("qid")
          .orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rk") <= 5)
      .select(col("qid"), col("rk"), col("vec_id"), col("label"), col("cos"))
      .orderBy(col("qid"), col("rk"))

  /** sim9 — ANN recall audit: per query, how much of the EXACT top-k the
    * bucketed multi-probe ANN (sim4's probe set) actually returned —
    * recall@k, the number every ANN deployment tunes its probe budget
    * against. Exact baseline and approximate candidate set rank with the
    * IDENTICAL rounded-cosine + vec_id rule, so the overlap is
    * deterministic on both engines.
    *
    * Scale: the query set broadcasts into both passes (one exact corpus
    * scan, sim4's probe equi-join); no full corpus pass per query.
    */
  def annRecallAudit(spark: SparkSession, dir: String): DataFrame =
    annRecallCore(
      t(spark, dir, "embeddings").select(col("vec_id"), col("embedding")),
      bitsFor(spark, dir), maxQid = 2L, k = 3)

  /** sim9 over an explicit (vec_id, embedding) frame — SimilaritySpec
    * plants a neighbor two sign-flips away (outside the Hamming-1 probe
    * set) and asserts the audit reports the miss.
    */
  private[graft] def annRecallCore(
      emb: DataFrame, b: Int, maxQid: Long, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = emb
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
      .withColumn("bucket", signBucket(col("embedding"), b))
    val q = e.filter(col("vec_id") <= maxQid)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("nrm").as("qn"), col("bucket").as("qbucket"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
    val qcos = round(
      dot(col("embedding"), col("qv")) / (col("nrm") * col("qn")), 6)
    val exact = e
      .join(broadcast(q.select(col("qid"), col("qv"), col("qn"))),
        col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), qcos.as("cos"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
    val probeArr = array((col("qbucket") +: (0 until b).map(i =>
      col("qbucket").bitwiseXOR(lit(1L << i)))): _*)
    val probes = q.select(col("qid"), col("qv"), col("qn"),
      explode(probeArr).as("pbucket"))
    val approx = e
      .join(broadcast(probes),
        col("bucket") === col("pbucket") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), qcos.as("cos"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
    exact.select(col("qid"), col("vec_id"))
      .join(approx.select(col("qid"), col("vec_id"), lit(1).as("hit")),
        Seq("qid", "vec_id"), "left")
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("k"), count(col("hit")).as("n_hits"),
        r6(count(col("hit")).cast("double") / count(lit(1))).as("recall"))
      .orderBy("qid")
  }

  /** Quantized DCG position weights `round(10⁶ / log₂(i+1))` for ranks
    * 1..10: the ONE place the transcendental is evaluated (in Scala, at
    * class-init) — both the Spark plan and the generated oracle SQL embed
    * these integer constants, so no engine ever computes a log in the
    * scoring path and the DCG sums are exact integer arithmetic
    * (the sim7/mm11 micro-unit convention applied to NDCG).
    */
  private[graft] val DcgWeightsMicro: Seq[Long] =
    (1 to 10).map(i => math.round(1e6 / (math.log(i + 1.0) / math.log(2.0))))

  /** sim17 — ANN ranking-quality audit (NDCG@10): sim9 measures set
    * overlap (recall — did the probe set FIND the true neighbors); this
    * measures rank quality with graded relevance — how much of the ideal
    * cosine mass the sign-LSH multi-probe ranking actually surfaces, and
    * at which positions. `DCG = Σ rel_i · w(i)` over the probe ranking's
    * top-10 with rel = exact cosine in integer micro-units, `IDCG` the
    * same sum over the brute-force ideal ranking, `NDCG = DCG/IDCG` —
    * the standard retrieval-evaluation readout (Järvelin & Kekäläinen
    * 2002) an embedding-serving stack tracks per index build. A hit
    * found but buried at rank 9 credits less than at rank 2, which
    * recall cannot see.
    *
    * Scale: as sim9, plus two K-row weighted aggregates. All sums are
    * exact integers ([[DcgWeightsMicro]]); the two final divisions are
    * single IEEE ops under the 6-grid. A query whose probe cells are
    * empty reports 0 retrieved with null dcg/ndcg; negative-cosine tail
    * grades can push a degenerate ndcg below 0 — not clamped.
    */
  def ndcgAudit(spark: SparkSession, dir: String): DataFrame =
    ndcgCore(
      t(spark, dir, "embeddings").select(col("vec_id"), col("embedding")),
      bitsFor(spark, dir), maxQid = 2L, k = 10)

  /** sim17 over an explicit (vec_id, embedding) frame — SimilaritySpec
    * plants a probe set that finds the true top-2 in swapped order
    * (recall@2 = 1 but ndcg < 1: rank quality is the thing recall
    * misses).
    */
  private[graft] def ndcgCore(
      emb: DataFrame, b: Int, maxQid: Long, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k <= DcgWeightsMicro.size)
    val e = emb
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
      .withColumn("bucket", signBucket(col("embedding"), b))
    val q = e.filter(col("vec_id") <= maxQid)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("nrm").as("qn"), col("bucket").as("qbucket"))
    val relU = round(
      dot(col("embedding"), col("qv")) / (col("nrm") * col("qn")) * 1e6)
      .cast("long")
    val w = Window.partitionBy("qid").orderBy(col("rel_u").desc, col("vec_id"))
    val wgt = element_at(
      array(DcgWeightsMicro.map(lit): _*), col("rk").cast("int"))
    val idcg = e
      .join(broadcast(q.select(col("qid"), col("qv"), col("qn"))),
        col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), relU.as("rel_u"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .groupBy(col("qid"))
      .agg(sum(col("rel_u") * wgt).as("idcg_u"))
    val probeArr = array((col("qbucket") +: (0 until b).map(i =>
      col("qbucket").bitwiseXOR(lit(1L << i)))): _*)
    val probes = q.select(col("qid"), col("qv"), col("qn"),
      explode(probeArr).as("pbucket"))
    val dcg = e
      .join(broadcast(probes),
        col("bucket") === col("pbucket") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), relU.as("rel_u"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_retrieved"), sum(col("rel_u") * wgt).as("dcg_u"))
    idcg.join(dcg, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("n_retrieved"), lit(0L)).as("n_retrieved"),
        r6s(col("dcg_u").cast("double") / 1e12).as("dcg"),
        r6s(col("idcg_u").cast("double") / 1e12).as("idcg"),
        r6s(col("dcg_u").cast("double") /
          when(col("idcg_u") =!= 0L, col("idcg_u"))).as("ndcg"))
      .orderBy("qid")
  }

  /** IVF (inverted-file) ANN with DATA-DEPENDENT centroids — the FAISS
    * IVFFlat search shape, complementing sim2's data-independent sign-LSH
    * cells: K corpus vectors chosen by the md5 pseudo-permutation (D3's
    * determinism convention) act as cell centroids; every vector joins the
    * inverted list of its nearest centroid; a query probes its nprobe=2
    * nearest cells and exact-reranks only those lists.
    *
    * Centroids are sampled medoids, not Lloyd-refined means, BY DESIGN:
    * k-means refinement is a training-time concern that at 100 TB runs on
    * a driver-side sample, and float mean accumulation is order-dependent
    * across engines — pinning deterministic medoids keeps the entire
    * SEARCH path (assignment argmax, inverted lists, probing, rerank)
    * bit-for-bit oracle-checkable, which is the part that must be correct
    * at scale. A refined centroid table drops into the same `(cid, sv)`
    * seam.
    *
    * Scale: K is corpus-scaled but clamped (≤64), so assignment is K
    * broadcast dot products per vector and the rank-1 filter compiles to
    * a map-side WindowGroupLimit; the probed-cell candidate ids broadcast
    * against the corpus, which never shuffles.
    */
  def ivfAnn(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = t(spark, dir, "embeddings").count()
    val k = math.max(4L, math.min(64L, (n + 63L) / 64L)).toInt
    val e = withNorm(spark, dir)
    val seedOrder = Seq(md5(col("vec_id").cast("string")).asc, col("vec_id").asc)
    // TakeOrderedAndProject prefix, THEN an ordinal window over the K-row
    // result — never a global single-partition window over the corpus.
    val seeds = e.orderBy(seedOrder: _*).limit(k)
      .withColumn("cid", row_number().over(Window.orderBy(seedOrder: _*)) - 1)
      .select(col("cid"), col("embedding").as("sv"), col("nrm").as("sn"))
    // (vec_id, cid, cs): rounded cosine of every vector to every centroid.
    val scored = e.join(broadcast(seeds))
      .select(col("vec_id"), col("cid"),
        round(dot(col("embedding"), col("sv")) / (col("nrm") * col("sn")), 6).as("cs"))
    val cells = scored.withColumn("rk", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("cs").desc, col("cid"))))
      .filter(col("rk") === 1).select(col("vec_id"), col("cid"))
    // The query's nprobe=2 nearest cells (the vec_id=0 filter pushes below
    // the centroid join — this subtree costs K dot products, not n×K).
    val qcells = scored.filter(col("vec_id") === 0L)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("cs").desc, col("cid"))))
      .filter(col("rk") <= 2).select(col("cid").as("pcid"))
    // Candidate ids = the probed cells' inverted lists; broadcast them so
    // the corpus-side rerank join never shuffles the corpus.
    val candIds = cells.join(broadcast(qcells), col("cid") === col("pcid"))
      .select(col("vec_id").as("cand_id"))
    val q = e.filter(col("vec_id") === 0L)
      .select(col("embedding").as("qv"), col("nrm").as("qn"))
    e.join(broadcast(candIds), col("vec_id") === col("cand_id"))
      .filter(col("vec_id") =!= 0L)
      .join(broadcast(q))
      .select(col("vec_id"), col("label"),
        round(dot(col("embedding"), col("qv")) / (col("nrm") * col("qn")), 6).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(5)
  }

  private val PqM = 8    // subspaces (64 dims / 8)
  private val PqDim = 8  // dimensions per subspace
  private val PqK = 16   // codewords per subspace

  /** sim7 — product-quantization ANN with asymmetric distance computation
    * (the FAISS PQ/ADC search shape, complementing sim2's hashing and
    * sim5's coarse partitioning with the third classical ANN scale path:
    * MEMORY compression). Vectors are split into M=8 subspaces of 8 dims;
    * each subspace has a K=16-codeword codebook (sampled-medoid
    * subvectors, the sim5 determinism convention); a vector's code is its
    * nearest codeword per subspace — 8 small ints instead of 64 floats, a
    * 16× compression at real scale. A query precomputes the M×K table of
    * squared distances to every codeword once, and each corpus vector's
    * approximate distance is then M table lookups summed — no
    * full-dimension arithmetic per candidate. Top-5 by approximate L2.
    *
    * Numeric portability: per-cell distances are quantized to MICRO-UNIT
    * LONGS (`round(d² × 1e6)`) before any cross-subspace reduction, so the
    * ADC sum is exact integer arithmetic — immune to the float-summation
    * order differences that a double sum across 8 lookups could hit — and
    * the emitted `approx_l2_e6` is integer end-to-end. Encode/probe ranks
    * order by (distance, codeword) so both engines break ties identically.
    *
    * Scale: the codebook (M×K = 128 rows) broadcasts to both the encode
    * and the query table join, so the corpus never shuffles to be
    * encoded; the nearest-codeword rank compiles to map-side
    * WindowGroupLimits (PlanSpec).
    */
  def pqAdc(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = t(spark, dir, "embeddings")
    val seedOrder = Seq(md5(col("vec_id").cast("string")).asc, col("vec_id").asc)
    val seeds = e.orderBy(seedOrder: _*).limit(PqK)
      .withColumn("cw", row_number().over(Window.orderBy(seedOrder: _*)) - 1)
      .select(col("cw"), col("embedding").as("sv"))
    def subspaces(v: Column, as: String): Column =
      explode(array((0 until PqM).map(m =>
        struct(lit(m).as("m"), slice(v, m * PqDim + 1, PqDim).as(as))): _*))
    val codebook = seeds
      .select(col("cw"), subspaces(col("sv"), "cv").as("s"))
      .select(col("s.m").as("m"), col("cw"), col("s.cv").as("cv"))
    val sub = e.select(col("vec_id"), subspaces(col("embedding"), "xv").as("s"))
      .select(col("vec_id"), col("s.m").as("m"), col("s.xv").as("xv"))
    // Squared L2 via the dot identity (three fdot folds — identical
    // evaluation order to the oracle's list_dot_product combination),
    // quantized to micro-unit longs at the cell level.
    def dmu(a: Column, b: Column): Column =
      round((dot(a, a) - lit(2.0) * dot(a, b) + dot(b, b)) * lit(1e6))
        .cast("long")
    val dists = sub.join(broadcast(codebook), "m")
      .select(col("vec_id"), col("m"), col("cw"),
        dmu(col("xv"), col("cv")).as("d"))
    val codes = dists
      .withColumn("rk", row_number().over(
        Window.partitionBy("vec_id", "m").orderBy(col("d").asc, col("cw"))))
      .filter(col("rk") === 1).select(col("vec_id"), col("m"), col("cw"))
    val qtab = dists.filter(col("vec_id") === 0L)
      .select(col("m").as("qm"), col("cw").as("qcw"), col("d").as("qd"))
    val labels = e.select(col("vec_id").as("lid"), col("label"))
    codes.filter(col("vec_id") =!= 0L)
      .join(broadcast(qtab), col("m") === col("qm") && col("cw") === col("qcw"))
      .groupBy("vec_id").agg(sum(col("qd")).as("approx_l2_e6"))
      .join(labels, col("vec_id") === col("lid"))
      .select(col("vec_id"), col("label"), col("approx_l2_e6"))
      .orderBy(col("approx_l2_e6").asc, col("vec_id"))
      .limit(5)
  }

  /** sim8 — one Lloyd (k-means) refinement round over sim5's sampled-medoid
    * seeds: assign every vector to its nearest seed, recompute each
    * cluster's mean centroid, reassign against the refined centroids, and
    * emit both assignments per vector — the embedding-clustering step a
    * corpus curation pipeline runs before per-cluster sampling/dedup
    * (and the training half sim5 deliberately pins to medoids; this is
    * that refinement, made oracle-checkable).
    *
    * Numeric portability: every coordinate is quantized ONCE to micro-unit
    * longs (`round(x × 1e6)`), so distances (sum of squared integer
    * diffs) and the mean update (integer sum, exact-double floor division
    * — |sum| ≤ 5·10⁸ ≪ 2⁵³) are exact integer arithmetic end-to-end:
    * no float-summation order can diverge between engines.
    *
    * Scale: both assignment passes run scan-local — the K-row centroid
    * table collapses to one broadcast array row and each corpus row takes
    * its argmin over it in the projection (no fan-out, no exchange, no
    * window). Only the mean update explodes to (vector, dim) long format,
    * combining map-side to K×64 rows.
    */
  def kmeansRefine(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Scoped-persist the quantized frame: FOUR subtrees of the one final
    // plan consume it (the corpus-count k sizing, the seed prefix, the
    // seed-assignment pass, the mean update) — without the cache each
    // re-scans parquet and re-quantizes. The repartition ahead of the
    // re-scans parquet and re-quantizes. The repartition ahead of the
    // quantize projection is the shingledOf width pin: a single-row-group
    // parquet would run both K×d assignment folds as one task.
    val e6 = graft.engine.Caching.scopedPersist(
      graft.Tables.wide(t(spark, dir, "embeddings"), col("vec_id"))
        .select(col("vec_id"),
          transform(col("embedding"),
            x => round(x.cast("double") * lit(1e6)).cast("long")).as("v6")))
    // k = clamp(ceil(n/64), 4, 64), folded INTO the plan as a 1-row
    // broadcast instead of a driver-side count() action: the seed prefix
    // takes the maximum k (64) rows up front and the k-filter trims it,
    // so sizing costs one aggregate over the cached frame, not a separate
    // full-corpus job before the real one.
    val kCol = greatest(lit(4L),
      least(lit(64L), floor((col("n") + lit(63L)) / lit(64.0)).cast("long")))
    val kPrm = e6.agg(count(lit(1)).as("n")).select(kCol.as("k"))
    val seedOrder = Seq(md5(col("vec_id").cast("string")).asc, col("vec_id").asc)
    val seeds = e6.orderBy(seedOrder: _*).limit(64)
      .withColumn("cid", (row_number().over(Window.orderBy(seedOrder: _*)) - 1)
        .cast("long"))
      .join(broadcast(kPrm))
      .filter(col("cid") < col("k"))
      .select(col("cid"), col("v6").as("c6"))
    // Scan-local nearest-centroid argmin: the centroid table collapses to
    // one cid-sorted array row, broadcast to every task, and each vector
    // takes `array_min` over the per-centroid (d2, cid) structs in the
    // scan projection — no row blowup, no exchange, no window. Struct
    // ordering compares (d2, cid) lexicographically: rank 1 under
    // (d2 asc, cid asc). d2 is exact integer arithmetic.
    def asRow(centroids: DataFrame): DataFrame =
      centroids.agg(sort_array(collect_list(struct(col("cid"), col("c6"))))
        .as("cents"))
    def nearest(cents: Column, v: Column): Column =
      array_min(transform(cents,
        c => struct(longSqL2(v, c.getField("c6")).as("d2"),
          c.getField("cid").as("cid"))))
        .getField("cid")
    val a0 = e6.join(broadcast(asRow(seeds)))
      .select(col("vec_id"), col("v6"),
        nearest(col("cents"), col("v6")).as("cid_seed"))
    // Mean update in (cluster, dim) long format: integer sums, exact-double
    // floor division, reassembled into dim-ordered centroid arrays. a0
    // carries v6, so no corpus self-join is needed to attach vectors.
    val c1 = a0
      .select(col("cid_seed").as("cid"), posexplode(col("v6")).as(Seq("d", "x")))
      .groupBy("cid", "d")
      .agg(floor(sum(col("x")).cast("double") / count(lit(1))).cast("long").as("c"))
      .groupBy("cid")
      .agg(transform(array_sort(collect_list(struct(col("d"), col("c")))),
        s => s.getField("c")).as("c6"))
    a0.join(broadcast(asRow(c1)))
      .select(col("vec_id"), col("cid_seed"),
        nearest(col("cents"), col("v6")).as("cid_refined"))
      .orderBy("vec_id")
  }

  /** sim10 — batch maximum-inner-product search (MIPS): exact top-10 by
    * raw dot product for each of the first three vectors as queries over
    * the rest of the corpus. MIPS is the retrieval problem cosine ANN
    * does NOT solve (when norms vary, the largest inner product is not
    * the nearest angle — recommendation scores, un-normalized reward
    * models, learned sparse retrieval all rank by ⟨q,x⟩). This is the
    * exact baseline; the scale path is the classic norm-augmentation
    * reduction — append sqrt(M² − ‖x‖²) to every corpus vector and 0 to
    * every query (M = max corpus norm) and the AUGMENTED cosine order
    * equals the inner-product order, so sim2/sim5's sign-LSH cosine
    * cells serve MIPS unchanged. SimilaritySpec proves the reduction on
    * the driver corpus (identical top-10 sets both ways).
    *
    * Scale: queries broadcast; per-query top-10 compiles to a map-side
    * WindowGroupLimit.
    */
  def mipsTopK(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = t(spark, dir, "embeddings")
    val q = e.filter(col("vec_id") <= 2)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    e.filter(col("vec_id") > 2)
      .join(broadcast(q))
      .select(col("query_id"), col("vec_id"), col("label"),
        round(dot(col("embedding"), col("qv")), 6).as("ip"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("ip").desc, col("vec_id"))).cast("long"))
      .filter(col("rk") <= 10)
      .orderBy("query_id", "rk")
  }

  private val MmrK = 5
  private val MmrCandidates = 20

  /** sim11 — Maximal Marginal Relevance (Carbonell & Goldstein, SIGIR'98
    * — public method): diversified top-k retrieval. Fetch the top-20
    * candidates by cosine relevance to the query (vec_id 0), then
    * greedily select 5, each step maximizing
    * `0.7·rel − 0.3·max_sim_to_already_selected` — the standard redundancy
    * penalty that keeps a retrieval (or a training-batch sampler) from
    * returning five near-copies of the same document.
    *
    * Determinism: relevances and pairwise sims round to 6 BEFORE the
    * greedy, every weight is a parsed decimal literal on both engines
    * (never `1 − λ`, whose double differs from the parsed `0.3` in the
    * last ulp), and every argmax tiebreaks on vec_id — so the selected
    * SEQUENCE is oracle-checkable, not just the set.
    *
    * Scale: the corpus-sized work is the one candidate scan (top-20); the
    * greedy runs on the driver over at most [[MmrCandidates]] rows by
    * construction.
    */
  def mmrTopK(spark: SparkSession, dir: String): DataFrame =
    mmrCore(withNorm(spark, dir))

  /** sim11 over an explicit `(vec_id, embedding, nrm)` frame —
    * SimilaritySpec plants redundant twins and proves the diversity
    * penalty skips the second twin where plain top-k would not.
    *
    * Driver finish: the candidate frame is collected once (bounded at 20
    * rows by the limit) and the pairwise sims + k greedy argmax rounds
    * replay on the driver with the distributed plan's exact arithmetic:
    * [[graft.functions.FloatDotProduct]]'s left-to-right double fold, the
    * same parsed 0.7/0.3 literals, and the BigDecimal-HALF_UP 6-round at
    * the same points (gr4's bit-identical convention). A distributed
    * greedy would be k sequential latency-bound jobs.
    */
  private[graft] def mmrCore(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    val rows = e.filter(col("vec_id") =!= 0L)
      .join(broadcast(e.filter(col("vec_id") === 0L)
        .select(col("embedding").as("qv"), col("nrm").as("qn"))))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        round(dot(col("embedding"), col("qv")) / (col("nrm") * col("qn")), 6)
          .as("rel"))
      .orderBy(col("rel").desc, col("vec_id")).limit(MmrCandidates)
      .collect()
    // Null parity with the distributed form: a ragged/null embedding — or
    // one with null elements, which poison FloatDotProduct to null —
    // yields null dot → null rel/s; desc argmax sorts null mmr last
    // (Spark's desc default), max-of-sims skips nulls, all-null max
    // coalesces to 0.0. An element-null vector folds to v = None here:
    // every sim involving it is null either way, and its rel/nrm already
    // arrived null from the Spark-side fetch.
    case class Cand(id: Long, v: Option[IndexedSeq[Float]], n: Option[Double],
        rel: Option[Double])
    val cands = rows.map { r =>
      val raw = r.getSeq[Any](1)
      val v = if (raw == null || raw.exists(_ == null)) None
        else Some(raw.map(_.asInstanceOf[Float]).toIndexedSeq)
      Cand(r.getLong(0), v,
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))
    }.toIndexedSeq
    def dotLocal(a: IndexedSeq[Float], b: IndexedSeq[Float]): Option[Double] =
      if (a.length != b.length) None
      else {
        var s = 0.0
        var i = 0
        while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
        Some(s)
      }
    def sim(a: Cand, b: Cand): Option[Double] =
      for { av <- a.v; bv <- b.v; an <- a.n; bn <- b.n; d <- dotLocal(av, bv) }
        yield round6(d / (an * bn))
    // argmax on (mmr desc nulls-last, vec_id asc) — the distributed
    // orderBy(mmr.desc, vec_id).limit(1) ordering, replayed. Spark's
    // descending double order places NaN FIRST (NaN sorts greatest), so
    // a NaN mmr keys to -Infinity here to win the min.
    def pick(scored: Seq[(Cand, Option[Double])]): (Cand, Option[Double]) =
      scored.minBy { case (c, m) =>
        val key = m.fold(Double.PositiveInfinity)(v =>
          if (v.isNaN) Double.NegativeInfinity else -v)
        (m.isEmpty, key, c.id)
      }
    val selected = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Option[Double], Option[Double])]
    val chosen = scala.collection.mutable.ArrayBuffer.empty[Cand]
    var remaining = cands
    for (i <- 1 to MmrK if remaining.nonEmpty) {
      val scored = remaining.map { c =>
        val mmr =
          if (i == 1) c.rel.map(r => round6(r * 0.7))
          else {
            val ss = chosen.flatMap(s => sim(c, s))
            // The max-of-sims treats NaN as greatest, bit-identical with
            // Spark's max aggregate (a NaN-element candidate's sims are NaN
            // and must dominate; zero norms throw in the fetch under ANSI).
            // TotalOrdering keeps java.lang.Double.compare semantics
            // (NaN > +Inf) explicitly.
            val ms = if (ss.isEmpty) 0.0
              else ss.max(Ordering.Double.TotalOrdering)
            c.rel.map(r => round6(r * 0.7 - ms * 0.3))
          }
        (c, mmr)
      }
      val (best, mmr) = pick(scored)
      selected += ((i.toLong, best.id, best.rel, mmr))
      chosen += best
      remaining = remaining.filterNot(_.id == best.id)
    }
    import spark.implicits._
    selected.toSeq.toDF("rank", "vec_id", "rel", "mmr").orderBy("rank")
  }

  /** sim12 — simplified-silhouette clustering audit over the labeled
    * embeddings: per cluster, the mean of `(b − a) / max(a, b)` where
    * `a` = a point's distance to its OWN label centroid and `b` = its
    * distance to the nearest OTHER centroid — the standard "are these
    * clusters real" readout (≈1 tight and separated, ≈0 overlapping,
    * < 0 misassigned) a labeling/clustering pipeline watches. The
    * centroid-based (simplified) form is the scalable variant: the
    * classic all-pairs silhouette is O(n²) and exists here as the thing
    * this approximates.
    *
    * Determinism: sim8's integer-exact discipline — coordinates land on
    * the 1e-6 grid as longs, centroids round to integer micro-units from
    * EXACT integer sums (one division, identically rounded on both
    * engines), squared distances are exact 64-bit sums (< 2^53, so even
    * the oracle's double path is exact), and only then does sqrt produce
    * the two doubles whose continuous combination rounds at 6 decimals.
    *
    * Scale: the corpus is scanned twice (centroids, distances), never
    * joined to itself; the distance pass is scan-local per point.
    */
  def silhouette(spark: SparkSession, dir: String): DataFrame = {
    val e6 = t(spark, dir, "embeddings").select(col("vec_id"), col("label"),
      expr("transform(embedding, x -> " +
        "cast(round(cast(x as double) * 1000000.0) as long))").as("v6"))
    val pts = e6
      .select(col("label"), posexplode(col("v6")))
      .select(col("label"), (col("pos") + 1).as("dim"), col("col").as("x6"))
    val cent = pts.groupBy(col("label").as("c_label"), col("dim"))
      .agg(round(sum(col("x6")) / count(lit(1))).cast("long").as("c6"))
    val centArr = cent.groupBy("c_label")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("c6")))),
        s => s.getField("c6")).as("c6l"))
    val d = e6.join(broadcast(centArr))
      .select(col("vec_id"), col("label"), col("c_label"),
        longSqL2(col("v6"), col("c6l")).as("d2"))
    val ab = d.groupBy("vec_id", "label")
      .agg(min(when(col("c_label") === col("label"), col("d2"))).as("a2"),
        min(when(col("c_label") =!= col("label"), col("d2"))).as("b2"))
    val mx = greatest(sqrt(col("a2")), sqrt(col("b2")))
    val s = ab.select(col("label"),
      when(mx === 0.0, lit(0.0))
        .otherwise((sqrt(col("b2")) - sqrt(col("a2"))) / mx).as("sil"))
    s.groupBy("label")
      .agg(count(lit(1)).as("n"), r6s(avg(col("sil"))).as("mean_silhouette"))
      .orderBy("label")
  }

  /** sim13 — embedding health audit per label: vector count, mean norm,
    * and the min/max per-dimension standard deviation — the production
    * QA frame an embedding pipeline watches (a near-zero min-dim σ is a
    * COLLAPSED dimension, a wildly large max-dim σ a scaling bug, a
    * drifting mean norm a normalization regression; all three precede
    * any visible retrieval-quality drop).
    *
    * Scale: two corpus scans, no joins against the corpus.
    */
  def embeddingHealth(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "embeddings")
    val norms = e.groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        r6(avg(norm(col("embedding")))).as("mean_norm"))
    val dimStats = e
      .select(col("label"), posexplode(col("embedding")))
      .groupBy(col("label"), col("pos"))
      .agg(stddev_samp(col("col").cast("double")).as("sd"))
      .groupBy("label")
      .agg(r6(min(col("sd"))).as("min_dim_std"),
        r6(max(col("sd"))).as("max_dim_std"))
    norms.join(dimStats, "label")
      .select(col("label"), col("n_vecs"), col("mean_norm"),
        col("min_dim_std"), col("max_dim_std"))
      .orderBy("label")
  }

  /** sim15 — exact corpus diversity per label: the mean pairwise cosine
    * over ALL ordered pairs i≠j of unit-normalized vectors, computed
    * WITHOUT any pair enumeration via the sum-of-embeddings identity
    * `mean cos = (|Σu|² − n) / (n(n−1))` (for unit u, Σ_{i≠j} u_i·u_j =
    * |Σu|² − Σ|u_i|²). Low mean cosine = diverse sample, high = redundant
    * — the selection-audit metric a curation pipeline reads after
    * sampling (DSIR/MMR-style selectors optimize against exactly this
    * quantity). Also reports the centroid norm |Σu|/n (≈0 for isotropic
    * corpora, →1 for collapsed ones — the embedding-collapse alarm).
    *
    * Scale: the naive pairwise mean is an O(n²) self-join; this plan is
    * one posexplode into a (label × dims) aggregate plus a label-sized
    * fold — exact, not sampled, at any corpus size.
    *
    * Determinism: u elements are bit-identical across engines (the
    * left-to-right double fold convention, [[dot]]); the per-dim sums
    * carry only association error (~1e-14) against a 1e-6 grid.
    */
  def corpusDiversity(spark: SparkSession, dir: String): DataFrame =
    corpusDiversityCore(t(spark, dir, "embeddings"))

  /** sim15 over an explicit `(label, embedding)` frame — SimilaritySpec
    * plants identical vectors (mean cos exactly 1), an orthonormal basis
    * (mean cos exactly 0), and an antipodal pair (−1).
    */
  private[graft] def corpusDiversityCore(emb: DataFrame): DataFrame = {
    val e = emb
      .select(col("label"), col("embedding"), norm(col("embedding")).as("nrm"))
      .filter(col("nrm") > 0)
    val counts = e.groupBy("label").agg(count(lit(1)).as("n"))
    val dimSums = e
      .select(col("label"), posexplode(col("embedding")),
        col("nrm"))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("col").cast("double") / col("nrm")).as("sv"))
      .groupBy("label")
      .agg(sum(col("sv") * col("sv")).as("ss"))
    counts.join(dimSums, "label")
      .select(col("label"), col("n"),
        // n == 1 has no pairs: null, explicitly — unguarded 0/0 is a
        // Spark-NULL vs DuckDB-NaN divergence (the ev24/ev25/drift4
        // nullif convention).
        when(col("n") > 1,
          round((col("ss") - col("n")) / (col("n") * (col("n") - lit(1.0))), 6)
            + lit(0)).as("mean_pairwise_cosine"),
        round(sqrt(col("ss")) / col("n"), 6).as("centroid_norm"))
      .orderBy("label")
  }

  /** sim16 — top principal component of the embedding corpus by 8
    * unrolled power-iteration steps over the exact covariance matrix:
    * per dimension the mean, variance, and top-component loading, plus
    * the dominant eigenvalue and its explained-variance ratio — the
    * anisotropy/collapse audit (Mu & Viswanath 2018's "all-but-the-top"
    * preprocessing starts exactly here: a large explained ratio means
    * one direction dominates every similarity score and should be
    * projected out; sim13/sim15 flag collapse scalar-wise, this names
    * the DIRECTION).
    *
    * Scale: covariance via one explode into a (d·(d+1)/2)-group
    * aggregate (~2k rows at any corpus size for d = 64); the 8
    * power-iteration steps run on the driver over the collected triangle
    * (MLlib's RowMatrix.computePrincipalComponents precedent).
    *
    * Determinism: the only cross-engine difference is summation order
    * (~1 ulp relative) in the covariance aggregates and the local
    * matvec folds; power iteration CONTRACTS perturbations toward the
    * dominant eigenvector rather than amplifying them, and the fixed
    * all-positive init pins the sign, so 8 steps stay far inside the
    * 6-grid (every emitted number rounds on it inside the Spark
    * projection).
    */
  def pcaTop(spark: SparkSession, dir: String): DataFrame =
    pcaTopCore(t(spark, dir, "embeddings"))

  /** sim16 over an explicit `(embedding)` frame — SimilaritySpec plants
    * a corpus whose variance lives entirely on axis 0 (loading exactly
    * (1,0,…), eigenvalue = the axis variance, explained ratio 1).
    */
  private[graft] def pcaTopCore(emb: DataFrame): DataFrame = {
    // The corpus is scanned once into one hash aggregate, and everything
    // after it is driver floats. The pair explode carries the linear term
    // alongside the product, so the same d·(d+1)/2-group aggregate yields
    // both the covariance sums (sxx) and, on its diagonal groups, the
    // per-dim linear sums (sxi) that mu needs — ~2k rows at any corpus
    // size for d = 64. n rides a separate count() action, answered from
    // parquet footers, which keeps the oracle's count(*) semantics: a
    // null-embedding row counts toward n but adds nothing to the sums.
    // Width pin before the d²/2-per-row pair explode: a single-row-group
    // parquet would run the query's entire data-plane cost as one task.
    // Keyed on a hash of the vector (the core's only guaranteed column;
    // round-robin would sort whole rows first under
    // sortBeforeRepartition). The final aggregate's merge order follows
    // shuffle fetch order, so sxx/sxi are stable only to ulps across runs
    // — the error class the cross-engine gate already absorbs.
    val e = graft.Tables.wide(emb, hash(col("embedding")))
      .select(transform(col("embedding"), x => x.cast("double")).as("v"))
    val n = emb.count().toDouble
    val tri = e.select(explode(flatten(transform(
        sequence(lit(0), size(col("v")) - 1), a =>
          transform(sequence(a, size(col("v")) - 1), b =>
            struct(a.cast("long").as("i"), b.cast("long").as("j"),
              (col("v")(a) * col("v")(b)).as("xx"),
              col("v")(a).as("xi")))))).as("p"))
      .select(col("p.i").as("i"), col("p.j").as("j"),
        col("p.xx").as("xx"), col("p.xi").as("xi"))
      .groupBy("i", "j")
      .agg(sum(col("xx")).as("sxx"), sum(col("xi")).as("sxi"))
      .collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1).toInt,
        r.getDouble(2), r.getDouble(3)))
    // Power iteration + eigenvalue readouts on the driver over the
    // collected triangle (MLlib's RowMatrix.computePrincipalComponents
    // precedent): d(d+1)/2 doubles at any corpus scale. The driver replays
    // the distributed expressions (m = sxx/n; c = m − mu_i·mu_j), so the
    // only cross-form drift is summation order inside the aggregate: power
    // iteration contracts perturbations, and every emitted number rounds
    // on the 6-grid in the projection below.
    val d = if (tri.isEmpty) 0 else tri.iterator.map(_._2).max + 1
    val muA = Array.ofDim[Double](d)
    tri.foreach { case (i, j, _, sxi) => if (i == j) muA(i) = sxi / n }
    val cM = Array.ofDim[Double](d, d)
    tri.foreach { case (i, j, sxx, _) =>
      val c = sxx / n - muA(i) * muA(j)
      cM(i)(j) = c; cM(j)(i) = c
    }
    var vv = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    def matvecLocal(x: Array[Double]): Array[Double] =
      Array.tabulate(d)(i => (0 until d).foldLeft(0.0)((s, j) =>
        s + cM(i)(j) * x(j)))
    for (_ <- 1 to 8) {
      val w = matvecLocal(vv)
      val nm = math.sqrt(w.foldLeft(0.0)((s, x) => s + x * x))
      vv = w.map(_ / nm)
    }
    val wFin = matvecLocal(vv)
    val lam = (0 until d).foldLeft(0.0)((s, i) => s + wFin(i) * vv(i))
    val trace = (0 until d).foldLeft(0.0)((s, i) => s + cM(i)(i))
    val spark = emb.sparkSession
    import spark.implicits._
    (0 until d).map(i => (i.toLong, muA(i), cM(i)(i), vv(i)))
      .toDF("dim", "mu_raw", "var_raw", "load_raw")
      .select(col("dim"),
        (round(col("mu_raw"), 6) + lit(0)).as("mu"),
        (round(col("var_raw"), 6) + lit(0)).as("variance"),
        (round(col("load_raw"), 6) + lit(0)).as("loading"),
        (round(lit(lam), 6) + lit(0)).as("eigenvalue"),
        (round(lit(lam) / when(lit(trace) =!= 0.0, lit(trace)), 6)
          + lit(0)).as("explained_ratio"))
      .orderBy("dim")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim16_pca_top" -> pcaTop,
    "sim15_corpus_diversity" -> corpusDiversity,
    "sim14_hard_negatives" -> hardNegatives,
    "sim13_embedding_health" -> embeddingHealth,
    "sim12_silhouette" -> silhouette,
    "sim11_mmr_topk" -> mmrTopK,
    "sim10_mips_topk" -> mipsTopK,
    "sim8_kmeans" -> kmeansRefine,
    "sim7_pq_adc" -> pqAdc,
    "sim1_cosine_topk" -> cosineTopK,
    "sim2_ann_bucketed" -> annBucketed,
    "sim3_embedding_neardup" -> embeddingNearDup,
    "sim4_batch_ann" -> batchAnn,
    "sim5_ivf_ann" -> ivfAnn,
    "sim9_ann_recall" -> annRecallAudit,
    "sim17_ndcg" -> ndcgAudit,
    "sim6_semantic_clusters" -> semanticClusters
  )

  private val sqlCos =
    "list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))"

  /** Sign-LSH cell id in DuckDB at a dynamic bit count; `off` is a SQL
    * expression for the 0-based dimension offset.
    */
  private def sqlCell(off: String): String =
    "CAST(list_sum(list_transform(range(1, (SELECT b FROM prm) + 1), " +
      s"k -> CASE WHEN list_element(embedding, CAST($off + k AS INTEGER)) > 0 " +
      "THEN (1::BIGINT << CAST(k - 1 AS INTEGER)) ELSE 0::BIGINT END)) AS BIGINT)"

  /** sim11's oracle: the same greedy unrolled by a generator (pr1's
    * convention), one CTE pair per selection step.
    */
  private def mmrOracleSql: String = {
    val base =
      s"""WITH n AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         | cand AS (
         |  SELECT a.vec_id, a.v, round($sqlCos, 6) AS rel
         |  FROM n a JOIN n b ON b.vec_id = 0 AND a.vec_id <> 0
         |  ORDER BY rel DESC, a.vec_id LIMIT $MmrCandidates),
         | m AS (
         |  SELECT a.vec_id AS ia, b.vec_id AS ib, round($sqlCos, 6) AS s
         |  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
         | sel1 AS (
         |  SELECT CAST(1 AS BIGINT) AS rank, vec_id, rel,
         |    round(rel * 0.7, 6) AS mmr
         |  FROM cand ORDER BY mmr DESC, vec_id LIMIT 1)""".stripMargin
    val steps = (2 to MmrK).map { i =>
      s""" s$i AS (
         |  SELECT CAST($i AS BIGINT) AS rank, c.vec_id, c.rel,
         |    round(c.rel * 0.7 - coalesce((
         |      SELECT max(s) FROM m
         |      WHERE m.ia = c.vec_id
         |        AND m.ib IN (SELECT vec_id FROM sel${i - 1})), 0.0) * 0.3,
         |      6) AS mmr
         |  FROM cand c
         |  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${i - 1})
         |  ORDER BY mmr DESC, c.vec_id LIMIT 1),
         | sel$i AS (
         |  SELECT * FROM sel${i - 1} UNION ALL SELECT * FROM s$i)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$steps
       |SELECT rank, vec_id, rel, mmr FROM sel$MmrK ORDER BY rank""".stripMargin
  }

  /** The sim16 power-iteration CTE chain, unrolled k steps (pr1's
    * iteration-template precedent).
    */
  private def sqlPcaIter(k: Int): String =
    s""" w$k AS MATERIALIZED (
       |  SELECT cs.i, sum(c * val) AS w
       |  FROM cs JOIN v${k - 1} ON cs.j = v${k - 1}.i GROUP BY cs.i),
       | n$k AS MATERIALIZED (SELECT sqrt(sum(w * w)) AS nm FROM w$k),
       | v$k AS MATERIALIZED (
       |  SELECT i, w / (SELECT nm FROM n$k) AS val FROM w$k),""".stripMargin

  val oracle: Map[String, String] = Map(
    "sim16_pca_top" ->
      (s"""WITH e AS MATERIALIZED (
         |  SELECT embedding::DOUBLE[] AS v FROM embeddings),
         | nn AS MATERIALIZED (SELECT count(*)::DOUBLE AS n FROM e),
         | x AS (
         |  SELECT unnest(range(0, len(v))) AS i, unnest(v) AS xi FROM e),
         | mu AS MATERIALIZED (
         |  SELECT i, sum(xi) / (SELECT n FROM nn) AS mu FROM x GROUP BY i),
         | p AS (
         |  SELECT unnest(flatten(list_transform(range(0, len(v)), a ->
         |    list_transform(range(a, len(v)), b ->
         |      struct_pack(i := a, j := b, xx := v[a + 1] * v[b + 1])))))
         |    AS s
         |  FROM e),
         | m AS MATERIALIZED (
         |  SELECT s.i AS i, s.j AS j, sum(s.xx) / (SELECT n FROM nn) AS m
         |  FROM p GROUP BY 1, 2),
         | c0 AS MATERIALIZED (
         |  SELECT m.i, m.j, m.m - a.mu * b.mu AS c
         |  FROM m JOIN mu a ON m.i = a.i JOIN mu b ON m.j = b.i),
         | cs AS MATERIALIZED (
         |  SELECT i, j, c FROM c0
         |  UNION ALL SELECT j, i, c FROM c0 WHERE i <> j),
         | dd AS (SELECT count(*)::DOUBLE AS d FROM mu),
         | v0 AS (SELECT i, 1.0 / sqrt((SELECT d FROM dd)) AS val FROM mu),
         |""".stripMargin +
        (1 to 8).map(sqlPcaIter).mkString("\n") +
        s"""
          | w9 AS (
          |  SELECT cs.i, sum(c * val) AS w
          |  FROM cs JOIN v8 ON cs.j = v8.i GROUP BY cs.i),
          | lam AS (
          |  SELECT sum(w9.w * v8.val) AS lam
          |  FROM w9 JOIN v8 ON w9.i = v8.i),
          | tr AS (SELECT sum(c) AS trace FROM c0 WHERE i = j),
          | diag AS (SELECT i, c AS variance FROM c0 WHERE i = j)
          |SELECT mu.i AS dim,
          |  round(mu.mu, 6) + 0 AS mu,
          |  round(diag.variance, 6) + 0 AS variance,
          |  round(v8.val, 6) + 0 AS loading,
          |  round((SELECT lam FROM lam), 6) + 0 AS eigenvalue,
          |  round((SELECT lam FROM lam)
          |    / nullif((SELECT trace FROM tr), 0), 6) + 0
          |    AS explained_ratio
          |FROM mu JOIN diag ON mu.i = diag.i JOIN v8 ON mu.i = v8.i
          |ORDER BY dim""".stripMargin),
    "sim15_corpus_diversity" ->
      """WITH e AS (
        |  SELECT label, list_transform(embedding::DOUBLE[],
        |    x -> x / sqrt(list_dot_product(embedding::DOUBLE[],
        |                                   embedding::DOUBLE[]))) AS u
        |  FROM embeddings
        |  WHERE list_dot_product(embedding::DOUBLE[],
        |                         embedding::DOUBLE[]) > 0),
        | x AS (
        |  SELECT label, unnest(range(1, len(u) + 1)) AS i,
        |    unnest(u) AS uv
        |  FROM e),
        | s AS (SELECT label, i, sum(uv) AS sv FROM x GROUP BY label, i),
        | ss AS (SELECT label, sum(sv * sv) AS ss FROM s GROUP BY label),
        | n AS (SELECT label, count(*) AS n FROM e GROUP BY label)
        |SELECT n.label, n.n,
        |  round((ss - n) / nullif(n * (n - 1.0), 0), 6) + 0
        |    AS mean_pairwise_cosine,
        |  round(sqrt(ss) / n, 6) AS centroid_norm
        |FROM n JOIN ss USING (label)
        |ORDER BY label""".stripMargin,
    "sim14_hard_negatives" ->
      s"""WITH $sqlBitsCte,
         | n AS (SELECT vec_id, label, embedding::DOUBLE[] AS v,
         |    ${sqlCell("0")} AS bucket FROM embeddings),
         | q AS (SELECT vec_id AS qid, v AS qv, bucket AS qb FROM n WHERE vec_id <= 2),
         | probes AS (
         |  SELECT qid, qv, qb AS pb FROM q
         |  UNION ALL
         |  SELECT qid, qv, xor(qb, (1::BIGINT << CAST(i AS INTEGER)))
         |  FROM q CROSS JOIN (SELECT unnest(range((SELECT b FROM prm))) AS i) r),
         | scored AS (
         |  SELECT p.qid, a.vec_id, a.label,
         |    round(list_dot_product(a.v, p.qv) /
         |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(p.qv, p.qv))), 6) AS cos
         |  FROM n a JOIN probes p ON a.bucket = p.pb AND a.vec_id <> p.qid),
         | rk AS (SELECT qid, vec_id, label, cos,
         |   row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS r
         |  FROM scored WHERE cos < 0.4)
         |SELECT qid, CAST(r AS INTEGER) AS rk, vec_id, label, cos
         |FROM rk WHERE r <= 5
         |ORDER BY qid, r""".stripMargin,
    "sim13_embedding_health" ->
      """WITH n AS (
        |  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        | norms AS (
        |  SELECT label, count(*) AS n_vecs,
        |    round(avg(sqrt(list_dot_product(v, v))), 6) AS mean_norm
        |  FROM n GROUP BY label),
        | dims AS (
        |  SELECT label, i, stddev_samp(v[CAST(i AS INTEGER)]) AS sd
        |  FROM n, range(1, 65) r(i) GROUP BY label, i),
        | ds AS (
        |  SELECT label, round(min(sd), 6) AS min_dim_std,
        |    round(max(sd), 6) AS max_dim_std
        |  FROM dims GROUP BY label)
        |SELECT norms.label, n_vecs, mean_norm, min_dim_std, max_dim_std
        |FROM norms JOIN ds ON norms.label = ds.label
        |ORDER BY norms.label""".stripMargin,
    "sim12_silhouette" ->
      """WITH e6 AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding::DOUBLE[],
        |      x -> CAST(round(x * 1000000.0) AS BIGINT)) AS v6
        |  FROM embeddings),
        | pt AS (
        |  SELECT label, i, v6[CAST(i AS INTEGER)] AS x6
        |  FROM e6, range(1, 65) r(i)),
        | cent AS (
        |  SELECT label AS c_label, i,
        |    CAST(round(sum(x6) / count(*)) AS BIGINT) AS c6
        |  FROM pt GROUP BY label, i),
        | centl AS (
        |  SELECT c_label, list(c6 ORDER BY i) AS c6l
        |  FROM cent GROUP BY c_label),
        | d AS (
        |  SELECT e.vec_id, e.label, c.c_label,
        |    list_sum(list_transform(range(1, len(e.v6) + 1), i ->
        |      (e.v6[CAST(i AS INTEGER)] - c.c6l[CAST(i AS INTEGER)])
        |      * (e.v6[CAST(i AS INTEGER)] - c.c6l[CAST(i AS INTEGER)])))
        |      AS d2
        |  FROM e6 e CROSS JOIN centl c),
        | ab AS (
        |  SELECT vec_id, label,
        |    min(CASE WHEN c_label = label THEN d2 END) AS a2,
        |    min(CASE WHEN c_label <> label THEN d2 END) AS b2
        |  FROM d GROUP BY vec_id, label),
        | s AS (
        |  SELECT label,
        |    CASE WHEN greatest(sqrt(a2), sqrt(b2)) = 0 THEN 0.0
        |         ELSE (sqrt(b2) - sqrt(a2)) / greatest(sqrt(a2), sqrt(b2))
        |    END AS sil
        |  FROM ab)
        |SELECT label, count(*) AS n,
        |  round(avg(sil), 6) + 0 AS mean_silhouette
        |FROM s GROUP BY label
        |ORDER BY label""".stripMargin,
    "sim11_mmr_topk" -> mmrOracleSql,
    "sim10_mips_topk" ->
      """WITH n AS (
        |  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        | s AS (
        |  SELECT q.vec_id AS query_id, a.vec_id, a.label,
        |    round(list_dot_product(a.v, q.v), 6) AS ip
        |  FROM n a JOIN n q ON q.vec_id <= 2 AND a.vec_id > 2),
        | r AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY query_id ORDER BY ip DESC, vec_id) AS rk
        |  FROM s)
        |SELECT query_id, vec_id, label, ip, rk
        |FROM r WHERE rk <= 10
        |ORDER BY query_id, rk""".stripMargin,
    "sim8_kmeans" ->
      """WITH kprm AS (
        |  SELECT greatest(4, least(64, (count(*) + 63) // 64)) AS k
        |  FROM embeddings),
        | e6 AS (SELECT vec_id,
        |    list_transform(embedding::DOUBLE[],
        |      x -> CAST(round(x * 1000000.0) AS BIGINT)) AS v6
        |  FROM embeddings),
        | sr AS (SELECT vec_id, v6,
        |    row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) AS rn
        |  FROM e6),
        | seeds AS (SELECT CAST(rn - 1 AS BIGINT) AS cid, v6 AS c6 FROM sr
        |  WHERE rn <= (SELECT k FROM kprm)),
        | d0 AS (
        |  SELECT e.vec_id, s.cid,
        |    list_sum(list_transform(range(1, len(e.v6) + 1),
        |      i -> (list_element(e.v6, CAST(i AS INTEGER))
        |            - list_element(s.c6, CAST(i AS INTEGER))) ^ 2)) AS d2
        |  FROM e6 e CROSS JOIN seeds s),
        | a0 AS (SELECT vec_id, cid AS cid_seed FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk
        |    FROM d0) WHERE rk = 1),
        | ex AS (
        |  SELECT a0.cid_seed AS cid, d,
        |    list_element(e.v6, CAST(d + 1 AS INTEGER)) AS x
        |  FROM e6 e JOIN a0 ON e.vec_id = a0.vec_id
        |  CROSS JOIN (SELECT unnest(range(
        |    (SELECT len(v6) FROM e6 LIMIT 1))) AS d) dims),
        | c1d AS (
        |  SELECT cid, d, CAST(floor(sum(x)::DOUBLE / count(*)) AS BIGINT) AS c
        |  FROM ex GROUP BY cid, d),
        | c1 AS (SELECT cid, list(c ORDER BY d) AS c6 FROM c1d GROUP BY cid),
        | d1 AS (
        |  SELECT e.vec_id, c.cid,
        |    list_sum(list_transform(range(1, len(e.v6) + 1),
        |      i -> (list_element(e.v6, CAST(i AS INTEGER))
        |            - list_element(c.c6, CAST(i AS INTEGER))) ^ 2)) AS d2
        |  FROM e6 e CROSS JOIN c1 c),
        | a1 AS (SELECT vec_id, cid AS cid_refined FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk
        |    FROM d1) WHERE rk = 1)
        |SELECT a0.vec_id, a0.cid_seed, a1.cid_refined
        |FROM a0 JOIN a1 ON a0.vec_id = a1.vec_id
        |ORDER BY a0.vec_id""".stripMargin,
    "sim7_pq_adc" ->
      s"""WITH n AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         | sr AS (SELECT vec_id, v,
         |    row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) AS rn
         |  FROM n),
         | seeds AS (SELECT rn - 1 AS cw, v AS sv FROM sr WHERE rn <= $PqK),
         | ms AS (SELECT CAST(unnest(range($PqM)) AS INTEGER) AS m),
         | codebook AS (
         |  SELECT m, cw, list_slice(sv, m * $PqDim + 1, m * $PqDim + $PqDim) AS cv
         |  FROM seeds CROSS JOIN ms),
         | sub AS (
         |  SELECT vec_id, m, list_slice(v, m * $PqDim + 1, m * $PqDim + $PqDim) AS xv
         |  FROM n CROSS JOIN ms),
         | dists AS (
         |  SELECT s.vec_id, s.m, c.cw,
         |    CAST(round((list_dot_product(s.xv, s.xv)
         |      - 2.0 * list_dot_product(s.xv, c.cv)
         |      + list_dot_product(c.cv, c.cv)) * 1000000.0) AS BIGINT) AS d
         |  FROM sub s JOIN codebook c ON s.m = c.m),
         | codes AS (
         |  SELECT vec_id, m, cw FROM (
         |    SELECT vec_id, m, cw,
         |      row_number() OVER (PARTITION BY vec_id, m ORDER BY d, cw) AS rk
         |    FROM dists) WHERE rk = 1),
         | qtab AS (SELECT m, cw, d AS qd FROM dists WHERE vec_id = 0),
         | approx AS (
         |  SELECT c.vec_id, CAST(sum(q.qd) AS BIGINT) AS approx_l2_e6
         |  FROM codes c JOIN qtab q ON c.m = q.m AND c.cw = q.cw
         |  WHERE c.vec_id <> 0
         |  GROUP BY c.vec_id)
         |SELECT a.vec_id, n.label, a.approx_l2_e6
         |FROM approx a JOIN n ON a.vec_id = n.vec_id
         |ORDER BY a.approx_l2_e6, a.vec_id
         |LIMIT 5""".stripMargin,
    "sim1_cosine_topk" ->
      s"""WITH n AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
         |SELECT a.vec_id, a.label, round($sqlCos, 6) AS cos
         |FROM n a JOIN n b ON b.vec_id = 0 AND a.vec_id <> 0
         |ORDER BY cos DESC, a.vec_id
         |LIMIT 10""".stripMargin,
    "sim2_ann_bucketed" ->
      s"""WITH $sqlBitsCte,
         | n AS (SELECT vec_id, label, embedding::DOUBLE[] AS v,
         |    ${sqlCell("0")} AS bucket FROM embeddings),
         | q AS (SELECT v AS qv, bucket AS qb FROM n WHERE vec_id = 0),
         | probes AS (
         |  SELECT qv, qb AS pb FROM q
         |  UNION ALL
         |  SELECT qv, xor(qb, (1::BIGINT << CAST(i AS INTEGER)))
         |  FROM q CROSS JOIN (SELECT unnest(range((SELECT b FROM prm))) AS i) r)
         |SELECT a.vec_id, a.label,
         |  round(list_dot_product(a.v, p.qv) /
         |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(p.qv, p.qv))), 6) AS cos
         |FROM n a JOIN probes p ON a.bucket = p.pb AND a.vec_id <> 0
         |ORDER BY cos DESC, a.vec_id
         |LIMIT 5""".stripMargin,
    // The integer micro-weights are interpolated from the SAME Scala val
    // the plan uses (DcgWeightsMicro) — one source of truth, no log2 in
    // either engine's scoring path.
    "sim17_ndcg" ->
      s"""WITH $sqlBitsCte,
         | n AS (SELECT vec_id, embedding::DOUBLE[] AS v,
         |    ${sqlCell("0")} AS bucket FROM embeddings),
         | q AS (SELECT vec_id AS qid, v AS qv, bucket AS qb FROM n
         |  WHERE vec_id <= 2),
         | sx AS (
         |  SELECT q.qid, a.vec_id,
         |    CAST(round(list_dot_product(a.v, q.qv) /
         |      (sqrt(list_dot_product(a.v, a.v)) *
         |       sqrt(list_dot_product(q.qv, q.qv))) * 1e6) AS BIGINT) AS rel_u
         |  FROM n a JOIN q ON a.vec_id <> q.qid),
         | ex AS (
         |  SELECT qid, rel_u, row_number() OVER (
         |    PARTITION BY qid ORDER BY rel_u DESC, vec_id) AS rk FROM sx),
         | idcg AS (
         |  SELECT qid, CAST(sum(rel_u * list_element(
         |      [${DcgWeightsMicro.mkString(", ")}]::BIGINT[],
         |      CAST(rk AS INTEGER))) AS BIGINT) AS idcg_u
         |  FROM ex WHERE rk <= 10 GROUP BY qid),
         | probes AS (
         |  SELECT qid, qv, qb AS pb FROM q
         |  UNION ALL
         |  SELECT qid, qv, xor(qb, (1::BIGINT << CAST(i AS INTEGER)))
         |  FROM q CROSS JOIN (SELECT unnest(range((SELECT b FROM prm))) AS i) r),
         | sa AS (
         |  SELECT p.qid, a.vec_id,
         |    CAST(round(list_dot_product(a.v, p.qv) /
         |      (sqrt(list_dot_product(a.v, a.v)) *
         |       sqrt(list_dot_product(p.qv, p.qv))) * 1e6) AS BIGINT) AS rel_u
         |  FROM n a JOIN probes p ON a.bucket = p.pb AND a.vec_id <> p.qid),
         | ap AS (
         |  SELECT qid, rel_u, row_number() OVER (
         |    PARTITION BY qid ORDER BY rel_u DESC, vec_id) AS rk FROM sa),
         | dcg AS (
         |  SELECT qid, count(*) AS n_retrieved,
         |    CAST(sum(rel_u * list_element(
         |      [${DcgWeightsMicro.mkString(", ")}]::BIGINT[],
         |      CAST(rk AS INTEGER))) AS BIGINT) AS dcg_u
         |  FROM ap WHERE rk <= 10 GROUP BY qid)
         |SELECT i.qid, coalesce(d.n_retrieved, 0) AS n_retrieved,
         |  round(CAST(d.dcg_u AS DOUBLE) / 1e12, 6) + 0 AS dcg,
         |  round(CAST(i.idcg_u AS DOUBLE) / 1e12, 6) + 0 AS idcg,
         |  round(CAST(d.dcg_u AS DOUBLE) / nullif(i.idcg_u, 0), 6) + 0 AS ndcg
         |FROM idcg i LEFT JOIN dcg d USING (qid)
         |ORDER BY qid""".stripMargin,
    "sim9_ann_recall" ->
      s"""WITH $sqlBitsCte,
         | n AS (SELECT vec_id, embedding::DOUBLE[] AS v,
         |    ${sqlCell("0")} AS bucket FROM embeddings),
         | q AS (SELECT vec_id AS qid, v AS qv, bucket AS qb FROM n
         |  WHERE vec_id <= 2),
         | exact AS (
         |  SELECT qid, vec_id FROM (
         |   SELECT q.qid, a.vec_id,
         |     row_number() OVER (PARTITION BY q.qid ORDER BY
         |       round(list_dot_product(a.v, q.qv) /
         |         (sqrt(list_dot_product(a.v, a.v)) *
         |          sqrt(list_dot_product(q.qv, q.qv))), 6) DESC,
         |       a.vec_id) AS rk
         |   FROM n a CROSS JOIN q WHERE a.vec_id <> q.qid)
         |  WHERE rk <= 3),
         | probes AS (
         |  SELECT qid, qv, qb AS pb FROM q
         |  UNION ALL
         |  SELECT qid, qv, xor(qb, (1::BIGINT << CAST(i AS INTEGER)))
         |  FROM q CROSS JOIN (SELECT unnest(range((SELECT b FROM prm))) AS i) r),
         | approx AS (
         |  SELECT qid, vec_id FROM (
         |   SELECT p.qid, a.vec_id,
         |     row_number() OVER (PARTITION BY p.qid ORDER BY
         |       round(list_dot_product(a.v, p.qv) /
         |         (sqrt(list_dot_product(a.v, a.v)) *
         |          sqrt(list_dot_product(p.qv, p.qv))), 6) DESC,
         |       a.vec_id) AS rk
         |   FROM n a JOIN probes p ON a.bucket = p.pb AND a.vec_id <> p.qid)
         |  WHERE rk <= 3)
         |SELECT e.qid, count(*) AS k, count(a.vec_id) AS n_hits,
         |  round(count(a.vec_id) * 1.0 / count(*), 6) AS recall
         |FROM exact e LEFT JOIN approx a
         |  ON e.qid = a.qid AND e.vec_id = a.vec_id
         |GROUP BY e.qid
         |ORDER BY e.qid""".stripMargin,
    "sim4_batch_ann" ->
      s"""WITH $sqlBitsCte,
         | n AS (SELECT vec_id, label, embedding::DOUBLE[] AS v,
         |    ${sqlCell("0")} AS bucket FROM embeddings),
         | q AS (SELECT vec_id AS qid, v AS qv, bucket AS qb FROM n WHERE vec_id <= 2),
         | probes AS (
         |  SELECT qid, qv, qb AS pb FROM q
         |  UNION ALL
         |  SELECT qid, qv, xor(qb, (1::BIGINT << CAST(i AS INTEGER)))
         |  FROM q CROSS JOIN (SELECT unnest(range((SELECT b FROM prm))) AS i) r),
         | scored AS (
         |  SELECT p.qid, a.vec_id, a.label,
         |    round(list_dot_product(a.v, p.qv) /
         |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(p.qv, p.qv))), 6) AS cos
         |  FROM n a JOIN probes p ON a.bucket = p.pb AND a.vec_id <> p.qid),
         | rk AS (SELECT qid, vec_id, label, cos,
         |   row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS r
         |  FROM scored)
         |SELECT qid, vec_id, label, cos FROM rk WHERE r <= 3
         |ORDER BY qid, cos DESC, vec_id""".stripMargin,
    "sim5_ivf_ann" ->
      s"""WITH kprm AS (
         |  SELECT greatest(4, least(64, (count(*) + 63) // 64)) AS k
         |  FROM embeddings),
         | n AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         | sr AS (SELECT vec_id, v,
         |    row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) AS rn
         |  FROM n),
         | seeds AS (SELECT rn - 1 AS cid, v AS sv FROM sr
         |  WHERE rn <= (SELECT k FROM kprm)),
         | scored AS (
         |  SELECT a.vec_id, s.cid,
         |    round(list_dot_product(a.v, s.sv) /
         |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(s.sv, s.sv))), 6) AS cs
         |  FROM n a CROSS JOIN seeds s),
         | cells AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rk
         |    FROM scored) WHERE rk = 1),
         | qprobe AS (
         |  SELECT cid FROM (
         |    SELECT cid, row_number() OVER (ORDER BY cs DESC, cid) AS rk
         |    FROM scored WHERE vec_id = 0) WHERE rk <= 2)
         |SELECT a.vec_id, a.label,
         |  round(list_dot_product(a.v, q.v) /
         |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(q.v, q.v))), 6) AS cos
         |FROM n a
         |JOIN cells c ON a.vec_id = c.vec_id
         |JOIN qprobe p ON c.cid = p.cid
         |JOIN n q ON q.vec_id = 0
         |WHERE a.vec_id <> 0
         |ORDER BY cos DESC, a.vec_id
         |LIMIT 5""".stripMargin,
    "sim3_embedding_neardup" ->
      (s"WITH $sim3Ctes\n" +
        s"$sim3PairSelect\nORDER BY vec_a, vec_b"),
    // sim6: the sim3 pair CTEs feed the same recursive transitive closure
    // dd5's oracle uses (the Spark side shares the one componentsOf loop).
    "sim6_semantic_clusters" ->
      (s"WITH RECURSIVE $sim3Ctes,\n" +
        s" pairs AS ($sim3PairSelect),\n" +
        """ edges AS (
          |  SELECT vec_a AS src, vec_b AS dst FROM pairs
          |  UNION ALL SELECT vec_b, vec_a FROM pairs),
          | reach(src, dst) AS (
          |  SELECT src, dst FROM edges
          |  UNION
          |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
          |SELECT n.vec_id,
          |  CAST(least(coalesce(min(r.dst), n.vec_id), n.vec_id) AS BIGINT) AS canonical_vec_id
          |FROM n LEFT JOIN reach r ON n.vec_id = r.src
          |GROUP BY n.vec_id
          |ORDER BY vec_id""".stripMargin)
  )

  /** sim3's bits→cells→cap→candidate pipeline as a reusable CTE chain —
    * shared by the sim3 and sim6 oracles so the two cannot drift (the
    * same sharing discipline as dd3CtesFrom on the document side).
    */
  private def sim3Ctes: String =
    s"""$sqlBitsCte,
       | n AS (SELECT vec_id, embedding::DOUBLE[] AS v, embedding FROM embeddings),
       | bb AS (
       |  SELECT vec_id, band, ${sqlCell("band * 16")} AS bucket
       |  FROM n CROSS JOIN (VALUES (0), (1), (2), (3)) AS bs(band)),
       | ${Dedup.sqlCapCte("capped", "bb", Seq("vec_id", "band", "bucket"), "band", "bucket", "vec_id")},
       | cand AS (
       |  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
       |  FROM capped x JOIN capped y
       |    ON x.band = y.band AND x.bucket = y.bucket AND x.vec_id < y.vec_id)""".stripMargin

  /** sim3's verified-pair SELECT (no ORDER BY — sim6 wraps it as a CTE). */
  private def sim3PairSelect: String =
    s"""SELECT cand.vec_a, cand.vec_b, round($sqlCos, 6) AS cos
       |FROM cand JOIN n a ON cand.vec_a = a.vec_id
       |          JOIN n b ON cand.vec_b = b.vec_id
       |WHERE round($sqlCos, 6) >= 0.4""".stripMargin
}
