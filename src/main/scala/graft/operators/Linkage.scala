package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.{r6, t}

/** Structured-record entity resolution (record linkage): find the record
  * pairs that denote the same real-world entity despite a corrupted key
  * field — the dedup problem for TABLES rather than documents (dd* is the
  * document side; this is the contacts/CRM/master-data side every
  * warehouse eventually runs).
  *
  * The planted fixture derives a "dirty contacts" table from the driver's
  * customer dimension the way [[Multimodal.syntheticMedia]] derives media
  * from documents: every customer yields a clean record, and every third
  * customer additionally yields a corrupted variant (one character of the
  * name's digit region overwritten at a key-dependent position, id
  * re-assigned) — deterministic arithmetic, so the DuckDB oracle rebuilds
  * the identical table and the whole pipeline is hash-gated.
  *
  * Linkage scheme (the classic block → verify shape):
  *   - BLOCKING: the 9-char digit region splits into three 3-char bands;
  *     each record emits three block keys, each key = nation + the OTHER
  *     two bands. A single-character corruption hits exactly one band, so
  *     every true pair still collides on the key that excludes it — dd2's
  *     band-routing argument on structured fields. Bucket sizes are
  *     BOUNDED BY THE KEY SPACE, not the corpus: a key fixes 6 of 9
  *     digits, so at most 10^3 entities can ever share one bucket,
  *     regardless of table size — no hot-bucket cap needed where the
  *     blocked field has fixed width.
  *   - VERIFY: candidate pairs match iff the names are within edit
  *     distance 1 AND the strong field (acctbal) agrees exactly — the
  *     multi-field agreement rule real linkage uses to separate true
  *     variants from near-key neighbours (consecutive customer numbers
  *     are 1 edit apart by construction; their balances differ).
  *
  * Scale: the band explode is 3× the record count and the candidate
  * join shuffles on (band, nation, key) with bounded buckets.
  */
object Linkage {

  /** The deterministic dirty-contacts fixture: clean record per customer
    * (rec_id = 2·custkey) plus, for every third customer, a corrupted
    * variant (rec_id = 2·custkey+1) whose name has the character at
    * digit position `custkey % 9` overwritten with 'x'.
    */
  private[graft] def dirtyContacts(cust: DataFrame): DataFrame = {
    val clean = cust.select(
      (col("c_custkey") * 2).as("rec_id"), col("c_name").as("name"),
      col("c_nationkey").as("nation"), col("c_acctbal").as("acctbal"))
    val pos = (col("c_custkey") % 9 + 10).cast("int")
    val variant = cust.filter(col("c_custkey") % 3 === 0).select(
      (col("c_custkey") * 2 + 1).as("rec_id"),
      concat(substring(col("c_name"), 1, 9),
        expr("substring(c_name, 10, (c_custkey % 9 + 10) - 10)"),
        lit("x"),
        expr("substring(c_name, c_custkey % 9 + 11, 18)")).as("name"),
      col("c_nationkey").as("nation"), col("c_acctbal").as("acctbal"))
    clean.unionAll(variant)
  }

  /** er1 — the gated linkage run over the dirty-contacts fixture. */
  def er1RecordLinkage(spark: SparkSession, dir: String): DataFrame =
    linkedPairs(dirtyContacts(t(spark, dir, "customer")))

  /** Block → verify over any (rec_id, name, nation, acctbal) frame whose
    * name carries a fixed-width digit tail at positions 10-18.
    */
  private[graft] def linkedPairs(recs: DataFrame): DataFrame =
    candidatePairs(recs)
      .select(col("rec_a"), col("rec_b"), col("name_a"), col("name_b"),
        levenshtein(col("name_a"), col("name_b")).as("edit_dist"),
        col("bal_a"), col("bal_b"))
      .filter(col("edit_dist") <= 1 && col("bal_a") === col("bal_b"))
      .select(col("rec_a"), col("rec_b"), col("name_a"), col("name_b"),
        col("edit_dist"), col("bal_a").as("acctbal"))
      .orderBy("rec_a", "rec_b")

  /** The blocking half of [[linkedPairs]]: the DISTINCT candidate pair
    * set the band keys route together, before any verification — ONE
    * definition, so er3's audit counts the same candidates er1 verifies.
    */
  private[graft] def candidatePairs(recs: DataFrame): DataFrame = {
    // three keys per record, key k = the two bands OTHER than band k
    val keys = recs.select(col("rec_id"), col("name"), col("nation"),
        col("acctbal"),
        explode(array(
          struct(lit(0).as("k"), substring(col("name"), 13, 6).as("bk")),
          struct(lit(1).as("k"), concat(substring(col("name"), 10, 3),
            substring(col("name"), 16, 3)).as("bk")),
          struct(lit(2).as("k"), substring(col("name"), 10, 6).as("bk"))))
          .as("b"))
      .select(col("rec_id"), col("name"), col("nation"), col("acctbal"),
        col("b.k").as("k"), col("b.bk").as("bk"))
    keys.alias("x").join(keys.alias("y"),
        col("x.k") === col("y.k") && col("x.nation") === col("y.nation") &&
          col("x.bk") === col("y.bk") && col("x.rec_id") < col("y.rec_id"))
      .select(col("x.rec_id").as("rec_a"), col("y.rec_id").as("rec_b"),
        col("x.name").as("name_a"), col("y.name").as("name_b"),
        col("x.acctbal").as("bal_a"), col("y.acctbal").as("bal_b"))
      .distinct()
  }

  /** er3 — blocking-quality audit: the one-row readout every linkage
    * deployment watches before trusting its matcher. Counts records,
    * planted true pairs (the fixture's ground truth — every odd rec_id
    * is a corrupted twin), blocking candidates, verified matches and
    * verified TRUE matches, then the three classic metrics: reduction
    * ratio (how much of the n² search space blocking discarded), pairs
    * completeness (recall of blocking+verify against ground truth) and
    * pairs quality (precision of the verified set). On this fixture
    * completeness and quality must both be 1.0 — the banding recall
    * argument and the multi-field verify are DESIGNED to be exact here —
    * so a regression in either shows up as a hash change, and on a real
    * corpus the same operator reports the honest tradeoff.
    *
    * Scale: the candidate frame is er1's — bounded buckets, no
    * all-pairs.
    */
  def er3BlockingMetrics(spark: SparkSession, dir: String): DataFrame =
    blockingMetrics(dirtyContacts(t(spark, dir, "customer")))

  private[graft] def blockingMetrics(recs: DataFrame): DataFrame = {
    val verified = levenshtein(col("name_a"), col("name_b")) <= 1 &&
      col("bal_a") === col("bal_b")
    val isTrue = col("rec_b") === col("rec_a") + 1 && col("rec_a") % 2 === 0
    val recStats = recs.agg(
      count(lit(1)).as("n_records"),
      count(when(col("rec_id") % 2 === 1, 1)).as("n_true_pairs"))
    val candStats = candidatePairs(recs).agg(
      count(lit(1)).as("n_candidates"),
      count(when(verified, 1)).as("n_matched"),
      count(when(verified && isTrue, 1)).as("n_matched_true"))
    recStats.crossJoin(broadcast(candStats))
      .select(col("n_records"), col("n_true_pairs"), col("n_candidates"),
        col("n_matched"),
        r6(lit(1.0) - col("n_candidates") /
          (col("n_records") * (col("n_records") - 1) / lit(2.0)))
          .as("reduction_ratio"),
        r6(col("n_matched_true") / col("n_true_pairs"))
          .as("pairs_completeness"),
        r6(col("n_matched_true") / col("n_matched")).as("pairs_quality"))
  }

  /** er2 — survivorship (golden-record) consolidation: collapse er1's
    * matched pairs into one entity row each, with every unmatched record
    * surviving as its own entity. The canonical id is the cluster's
    * minimum rec_id and the golden values are the canonical record's —
    * the master-data step that turns "these records match" into the
    * deduplicated dimension a warehouse actually joins against.
    *
    * Cluster closure: er1's fixture links are pairwise (each corrupted
    * variant to its clean twin), so one min-over-neighbours pass is the
    * exact fixed point; a corpus with longer match chains iterates this
    * pass to convergence — dd5's log-round component machinery on er1's
    * edge list (shared shape, documented there).
    *
    * Scale: the pair frame is entity-sized (bounded by er1's blocking).
    */
  def er2GoldenRecords(spark: SparkSession, dir: String): DataFrame =
    goldenRecords(dirtyContacts(t(spark, dir, "customer")))

  private[graft] def goldenRecords(recs: DataFrame): DataFrame = {
    val pairs = linkedPairs(recs).select(col("rec_a"), col("rec_b"))
    // min neighbour over both edge directions (a<b, so only b-side rows
    // can lower their label); unmatched records keep their own id
    val entity = recs.select(col("rec_id"))
      .join(pairs, col("rec_id") === col("rec_b"), "left")
      .groupBy(col("rec_id"))
      .agg(coalesce(min(col("rec_a")), first(col("rec_id"))).as("entity_id"))
    val golden = recs.join(entity, "rec_id")
    golden.groupBy(col("entity_id"))
      .agg(count(lit(1)).as("n_records"),
        min(struct(col("rec_id"), col("name"), col("nation"),
          col("acctbal"))).as("c"))
      .select(col("entity_id"), col("n_records"),
        col("c.name").as("name"), col("c.nation").as("nation"),
        col("c.acctbal").as("acctbal"))
      .orderBy("entity_id")
  }

  /** er4 — Jaro–Winkler scoring of every blocking candidate pair: the
    * record-linkage comparator that complements er1's edit-distance +
    * strong-field rule (Jaro–Winkler front-weights agreement and
    * forgives transpositions — the fuzzier verdict a real linkage
    * engine thresholds per field). The kernel is this library's second
    * custom Catalyst expression ([[graft.functions.JaroWinklerSim]],
    * codegen via an emitted static call), and the oracle runs DuckDB's
    * OWN `jaro_winkler_similarity` over the identical candidate set —
    * a value-for-value cross-engine check of the whole DP on thousands
    * of real name pairs, with no threshold boundary to flip (every
    * candidate is emitted; 6-decimal rounding absorbs formula-order
    * ulps).
    *
    * Scale: er1's — one scan-local expression over the candidate frame.
    */
  def er4JaroWinkler(spark: SparkSession, dir: String): DataFrame =
    jwScores(dirtyContacts(t(spark, dir, "customer")))

  private[graft] def jwScores(recs: DataFrame): DataFrame = {
    import graft.functions.StringKernels.jaroWinkler
    candidatePairs(recs)
      .select(col("rec_a"), col("rec_b"),
        r6(jaroWinkler(col("name_a"), col("name_b"))).as("jw"))
      .orderBy("rec_a", "rec_b")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "er1_record_linkage" -> er1RecordLinkage,
    "er2_golden_records" -> er2GoldenRecords,
    "er3_blocking_metrics" -> er3BlockingMetrics,
    "er4_jaro_winkler" -> er4JaroWinkler
  )

  /** The recs → keys → cand CTE chain shared by every er* oracle — ONE
    * definition, mirroring [[dirtyContacts]] + [[candidatePairs]].
    */
  private val SharedCandCtes: String =
    """recs AS (
      |  SELECT c_custkey * 2 AS rec_id, c_name AS name,
      |    c_nationkey AS nation, c_acctbal AS acctbal
      |  FROM customer
      |  UNION ALL
      |  SELECT c_custkey * 2 + 1,
      |    substr(c_name, 1, 9)
      |      || substr(c_name, 10, (c_custkey % 9 + 10) - 10)
      |      || 'x' || substr(c_name, c_custkey % 9 + 11, 18),
      |    c_nationkey, c_acctbal
      |  FROM customer WHERE c_custkey % 3 = 0),
      | keys AS (
      |  SELECT rec_id, name, nation, acctbal, k,
      |    CASE k WHEN 0 THEN substr(name, 13, 6)
      |           WHEN 1 THEN substr(name, 10, 3) || substr(name, 16, 3)
      |           ELSE substr(name, 10, 6) END AS bk
      |  FROM recs, (VALUES (0), (1), (2)) AS b(k)),
      | cand AS (
      |  SELECT DISTINCT x.rec_id AS rec_a, y.rec_id AS rec_b,
      |    x.name AS name_a, y.name AS name_b,
      |    x.acctbal AS bal_a, y.acctbal AS bal_b
      |  FROM keys x JOIN keys y
      |    ON x.k = y.k AND x.nation = y.nation AND x.bk = y.bk
      |   AND x.rec_id < y.rec_id)""".stripMargin

  val oracle: Map[String, String] = Map(
    "er1_record_linkage" ->
      (s"WITH $SharedCandCtes\n" +
        """SELECT rec_a, rec_b, name_a, name_b,
        |  levenshtein(name_a, name_b) AS edit_dist, bal_a AS acctbal
        |FROM cand
        |WHERE levenshtein(name_a, name_b) <= 1 AND bal_a = bal_b
        |ORDER BY rec_a, rec_b""".stripMargin),
    "er4_jaro_winkler" ->
      (s"WITH $SharedCandCtes\n" +
        """SELECT rec_a, rec_b,
        |  round(jaro_winkler_similarity(name_a, name_b), 6) AS jw
        |FROM cand
        |ORDER BY rec_a, rec_b""".stripMargin),
    "er3_blocking_metrics" ->
      (s"WITH $SharedCandCtes,\n" +
        """ st AS (
        |  SELECT count(*) AS n_records,
        |    count(CASE WHEN rec_id % 2 = 1 THEN 1 END) AS n_true_pairs
        |  FROM recs),
        | ca AS (
        |  SELECT count(*) AS n_candidates,
        |    count(CASE WHEN levenshtein(name_a, name_b) <= 1
        |      AND bal_a = bal_b THEN 1 END) AS n_matched,
        |    count(CASE WHEN levenshtein(name_a, name_b) <= 1
        |      AND bal_a = bal_b AND rec_b = rec_a + 1
        |      AND rec_a % 2 = 0 THEN 1 END) AS n_matched_true
        |  FROM cand)
        |SELECT n_records, n_true_pairs, n_candidates, n_matched,
        |  round(1.0 - n_candidates
        |    / (n_records * (n_records - 1) / 2.0), 6) AS reduction_ratio,
        |  round(n_matched_true / CAST(n_true_pairs AS DOUBLE), 6)
        |    AS pairs_completeness,
        |  round(n_matched_true / CAST(n_matched AS DOUBLE), 6)
        |    AS pairs_quality
        |FROM st, ca""".stripMargin),
    "er2_golden_records" ->
      (s"WITH $SharedCandCtes,\n" +
        """ ver AS (
        |  SELECT rec_a, rec_b FROM cand
        |  WHERE levenshtein(name_a, name_b) <= 1 AND bal_a = bal_b),
        | ent AS (
        |  SELECT r.rec_id, coalesce(min(v.rec_a), r.rec_id) AS entity_id
        |  FROM recs r LEFT JOIN ver v ON r.rec_id = v.rec_b
        |  GROUP BY r.rec_id),
        | g AS (
        |  SELECT e.entity_id, r.rec_id, r.name, r.nation, r.acctbal
        |  FROM recs r JOIN ent e ON r.rec_id = e.rec_id)
        |SELECT entity_id, count(*) AS n_records,
        |  min_by(name, rec_id) AS name, min_by(nation, rec_id) AS nation,
        |  min_by(acctbal, rec_id) AS acctbal
        |FROM g
        |GROUP BY entity_id
        |ORDER BY entity_id""".stripMargin)
  )
}
