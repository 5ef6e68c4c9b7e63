package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Pipelines
import graft.operators.TextAnalysis

/** Conservation-law checks over the real sf0.001 corpus. The DuckDB
  * oracles compare one fixed result hash; these assert the INTERNAL
  * consistency properties that must hold on any corpus — a formula edit
  * that happened to keep the driver corpus's hash (the degenerate-gate
  * failure mode) still has to balance these books.
  */
class InvariantSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def tokenCounts = {
    import graft.functions.TextFunctions.tokenCount
    graft.Tables.t(spark, sf, "documents")
      .select(col("doc_id"), tokenCount(col("text")).as("n"))
      .filter(col("n") > 0)
  }

  test("d13 curriculum: a token-free doc lands in the empty phase; rarity orders difficulty") {
    import spark.implicits._
    val docs = Seq(
      (1L, "common common common common common common"),
      (2L, "common common common rare"),
      (3L, "rarer rarest common rare"),
      (4L, "...")  // no [a-z] tokens at all
    ).toDF("doc_id", "text")
    val got = graft.operators.Enrichment.curriculumCore(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got(4L).getAs[String]("phase") == "empty")
    assert(got(4L).isNullAt(got(4L).fieldIndex("difficulty")))
    val d = (i: Long) => got(i).getAs[Double]("difficulty")
    assert(d(1L) < d(2L) && d(2L) < d(3L),
      s"rarity must order difficulty: ${d(1L)}, ${d(2L)}, ${d(3L)}")
  }

  test("d14 DSIR: target-only tokens weigh positive, raw-only negative, empty null") {
    import spark.implicits._
    // doc 1 (en, the target slice) repeats a token the raw-only slice
    // never uses; doc 2 (de) repeats one the target never uses. With
    // add-one smoothing the target-only bucket's log-ratio must be
    // positive and the raw-only one negative; a token-free doc carries
    // a null weight and n_tokens 0.
    val docs = Seq(
      (1L, "en", "target target target target"),
      (2L, "de", "rawonly rawonly rawonly rawonly"),
      (3L, "en", "...")
    ).toDF("doc_id", "lang", "text")
    val got = graft.operators.Enrichment.dsirWeightsCore(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val w = (i: Long) => got(i).getAs[Double]("dsir_logratio")
    assert(got(1L).getAs[Long]("n_tokens") == 4L)
    assert(w(1L) > 0, s"target-only must be positive: ${w(1L)}")
    assert(w(2L) < 0, s"raw-only must be negative: ${w(2L)}")
    assert(got(3L).isNullAt(got(3L).fieldIndex("dsir_logratio")))
    assert(got(3L).getAs[Long]("n_tokens") == 0L)
  }

  test("fe2 target encoding: LOO excludes own row, smoothing pulls toward global") {
    import spark.implicits._
    // segment X: targets 100/200 against a 0-heavy global; the row with
    // the HIGHER own target must get the LOWER leave-one-out encoding
    // (it subtracts itself), and the smoothed serving encoding must land
    // strictly between the segment mean (150) and the global mean.
    val cust = (Seq((1L, "X", 100.0), (2L, "X", 200.0)) ++
      (3L to 22L).map(i => (i, "Y", 0.0)))
      .toDF("c_custkey", "c_mktsegment", "c_acctbal")
    val got = graft.operators.Enrichment.targetEncodingCore(cust).collect()
      .map(r => r.getAs[Long]("c_custkey") -> r).toMap
    val g = 300.0 / 22.0
    val (e1, e2) = (got(1L).getAs[Double]("loo_enc"),
      got(2L).getAs[Double]("loo_enc"))
    assert(e2 < e1, s"higher own target must encode lower under LOO: $e1 vs $e2")
    assert(math.abs(e1 - (300.0 - 100.0 + 10 * g) / 11.0) < 1e-6)
    val enc = got(1L).getAs[Double]("enc")
    assert(enc > g && enc < 150.0, s"smoothing must interpolate: $enc")
    assert(enc == got(2L).getAs[Double]("enc")) // serving form is per-segment
  }

  test("d15 UniMax: a tiny source caps at 4 epochs, the rest split evenly, budget exhausts") {
    import spark.implicits._
    // token counts 10/100/100 -> N=210, B=420. Sorted by cap: tiny(40)
    // is capped (40*3 <= 420); big1 is not (400*2 > 380). Leftover
    // 380 splits 190/190 -> epochs 1.9 each; 40+190+190 == B exactly.
    val docs = Seq(
      ("tiny", Seq.fill(10)("w").mkString(" ")),
      ("big1", Seq.fill(100)("w").mkString(" ")),
      ("big2", Seq.fill(100)("w").mkString(" "))
    ).toDF("source", "text")
    val got = graft.operators.Enrichment.unimaxCore(docs).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got("tiny").getAs[Boolean]("capped"))
    assert(got("tiny").getAs[Double]("budget_tokens") == 40.0)
    assert(got("tiny").getAs[Double]("epochs") == 4.0)
    Seq("big1", "big2").foreach { s =>
      assert(!got(s).getAs[Boolean]("capped"))
      assert(got(s).getAs[Double]("budget_tokens") == 190.0, got(s))
      assert(got(s).getAs[Double]("epochs") == 1.9)
    }
    assert(got.values.map(_.getAs[Double]("budget_tokens")).sum == 420.0)
  }

  test("ev24 TWAP hugs the long-held value; a single-event user is null") {
    import spark.implicits._
    val base = 1704067200000L
    def ts(s: Long) = new java.sql.Timestamp(base + s * 1000)
    // user 1 holds 10 for 900 s, spikes to 100 for 100 s, final event
    // carries no weight: TWAP = (10*900 + 100*100)/1000 = 19, mean = 40.
    val ev = Seq(
      (1L, 1L, ts(0), 10.0), (2L, 1L, ts(900), 100.0),
      (3L, 1L, ts(1000), 10.0),
      (4L, 2L, ts(0), 55.0)
    ).toDF("event_id", "user_id", "ts", "value")
    val got = graft.operators.Events.twapCore(ev).collect()
      .map(r => r.getAs[Long]("user_id") -> r).toMap
    assert(got(1L).getAs[Double]("twap") == 19.0, got(1L))
    assert(got(1L).getAs[Double]("mean_value") == 40.0)
    assert(got(1L).getAs[Double]("span_s") == 1000.0)
    assert(got(2L).isNullAt(got(2L).fieldIndex("twap")),
      "single-event user must have null TWAP")
    assert(got(2L).getAs[Double]("mean_value") == 55.0)
  }

  test("ev25 VWAP hugs the traded size; an all-zero-quantity day is null") {
    import spark.implicits._
    val base = 1704067200000L
    def ts(s: Long) = new java.sql.Timestamp(base + s * 1000)
    // 1 unit at 10.00 vs 9 units at 100.00: VWAP = 910/10 = 91, mean 55.
    // The 'free' type trades zero quantity all day -> null VWAP, mean 60.
    val ev = Seq(
      ("buy", ts(0), 10.0, """{"k": 1}"""),
      ("buy", ts(60), 100.0, """{"k": 9}"""),
      ("free", ts(0), 50.0, """{"k": 0}"""),
      ("free", ts(60), 70.0, """{"k": 0}""")
    ).toDF("event_type", "ts", "value", "props")
    val got = graft.operators.Events.vwapCore(ev).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    assert(got("buy").getAs[Double]("vwap") == 91.0, got("buy"))
    assert(got("buy").getAs[Double]("mean_value") == 55.0)
    assert(got("buy").getAs[Long]("total_qty") == 10L)
    assert(got("free").isNullAt(got("free").fieldIndex("vwap")),
      "zero traded quantity must yield null VWAP")
    assert(got("free").getAs[Double]("mean_value") == 60.0)
    assert(got.values.forall(_.getAs[Long]("day_ms") == base))
  }

  test("t31 fertility equals t22's per-doc frame re-aggregated by language") {
    import org.apache.spark.sql.functions._
    // The shared-core law: the language report must be EXACTLY the t22
    // per-doc segmentation grouped by lang — if the two paths ever use
    // different tokenizers or merge tables, this diverges.
    val docs = graft.Tables.t(spark, sf, "documents")
    val fromDocs = docs.select(col("doc_id"), col("lang"))
      .join(graft.operators.TextAnalysis
        .bpeEncodeCore(docs, graft.operators.TextAnalysis.BpeTrainSteps)
        .drop("compression"), "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_words"),
        sum("n_units").as("total_units"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val got = graft.operators.TextAnalysis.fertility(spark, sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (nd, tw, tu) = fromDocs(r.getAs[String]("lang"))
      assert(r.getAs[Long]("n_docs") == nd)
      assert(r.getAs[Long]("total_words") == tw)
      assert(r.getAs[Long]("total_units") == tu)
      assert(math.abs(r.getAs[Double]("fertility") - tu.toDouble / tw) < 1e-6,
        r.toString)
    }
  }

  test("seg1 RFM: quintiles balanced, scores bounded, segments follow the rule") {
    val rows = graft.operators.Relational.seg1Rfm(spark, sf).collect()
    assert(rows.nonEmpty)
    val n = rows.length
    Seq("r_score", "f_score", "m_score").foreach { c =>
      val sizes = rows.groupBy(_.getAs[Long](c)).map { case (s, g) =>
        assert(s >= 1 && s <= 5, s"$c out of range: $s"); g.size
      }
      assert(sizes.max - sizes.min <= 1, s"$c buckets unbalanced: $sizes")
    }
    assert(rows.map(_.getAs[Long]("recency_days")).min == 0L,
      "the most recent customer anchors recency at 0")
    rows.foreach { r =>
      val (rs, fs) = (r.getAs[Long]("r_score"), r.getAs[Long]("f_score"))
      val ms = r.getAs[Long]("m_score")
      val expect =
        if (rs >= 4 && fs >= 4 && ms >= 4) "champion"
        else if (fs >= 4) "loyal"
        else if (rs >= 4 && fs <= 2) "new"
        else if (rs <= 2 && fs >= 3) "at_risk"
        else if (rs <= 2) "hibernating"
        else "regular"
      assert(r.getAs[String]("segment") == expect, r.toString)
      assert(r.getAs[Double]("monetary") > 0)
    }
    assert(n == rows.map(_.getAs[Long]("o_custkey")).distinct.length)
  }

  test("seg1 approx twin: cut-based scores equal ntile scores on a tie-free frame") {
    import spark.implicits._
    // 10 customers, metrics pairwise distinct, n divisible by 5:
    // customer i has i orders (frequency i), last order at day i
    // (recency 10 - i), lifetime spend i * 100.00 (monetary i * 100).
    val base = java.time.LocalDate.of(2024, 1, 1)
    val orders = (1 to 10).flatMap { i =>
      val last = (i.toLong, java.sql.Date.valueOf(base.plusDays(i)),
        i * 100.0)
      val earlier = (1 until i).map(k =>
        (i.toLong, java.sql.Date.valueOf(base), 0.0))
      earlier :+ last
    }.toDF("o_custkey", "o_orderdate", "o_totalprice")
    val exact = graft.operators.Relational.seg1RfmCore(orders)
      .collect().map(r => r.getAs[Long]("o_custkey") -> r).toMap
    val approx = graft.operators.Relational.seg1RfmApproxCore(orders)
      .collect().map(r => r.getAs[Long]("o_custkey") -> r).toMap
    assert(exact.keySet == (1L to 10L).toSet && approx.keySet == exact.keySet)
    (1L to 10L).foreach { c =>
      val (e, a) = (exact(c), approx(c))
      Seq("recency_days", "frequency", "r_score", "f_score", "m_score")
        .foreach(col => assert(e.getAs[Long](col) == a.getAs[Long](col),
          s"customer $c $col: exact=$e approx=$a"))
      assert(e.getAs[Double]("monetary") == a.getAs[Double]("monetary"))
      assert(e.getAs[String]("segment") == a.getAs[String]("segment"),
        s"customer $c: exact=$e approx=$a")
    }
    // and the approx path's scores are balanced quintiles here too
    Seq("r_score", "f_score", "m_score").foreach { col =>
      val sizes = approx.values.groupBy(_.getAs[Long](col)).values.map(_.size)
      assert(sizes.toSeq == Seq(2, 2, 2, 2, 2), s"$col: $sizes")
    }
  }

  test("prof10 joint histogram: bins bounded, hour shares normalize, counts conserve") {
    val rows = graft.operators.Relational
      .prof10JointHistogram(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val h = r.getAs[Long]("hour_of_day")
      val b = r.getAs[Long]("bin")
      assert(h >= 0 && h <= 23 && b >= 0 && b <= 9, r.toString)
    }
    val byHour = rows.groupBy(_.getAs[Long]("hour_of_day"))
    byHour.values.foreach { hr =>
      val s = hr.map(_.getAs[Double]("share_of_hour")).sum
      assert(math.abs(s - 1.0) < 1e-4, s"hour shares must sum to 1: $s")
    }
    val total = rows.map(_.getAs[Long]("n_events")).sum
    // mirror the operator's full value predicate (NOT NULL AND NOT NaN) —
    // an isNotNull-only expectation breaks on corpora with NaN values.
    val expected = graft.Tables.t(spark, sf, "events")
      .filter(org.apache.spark.sql.functions.col("value").isNotNull &&
        !org.apache.spark.sql.functions.isnan(
          org.apache.spark.sql.functions.col("value")))
      .count()
    assert(total == expected, s"$total vs $expected")
  }

  test("ev26 bot score: metronome flagged, burst clean, dup-burst flagged, 2-event null") {
    import spark.implicits._
    val base = 1704067200000L
    def ev(u: Long, offsetsMs: Seq[Long]) =
      offsetsMs.map(o => (u, new java.sql.Timestamp(base + o)))
    val events = (
      ev(1L, Seq(0L, 10000L, 20000L, 30000L, 40000L)) ++ // metronome: CV 0
      ev(2L, Seq(0L, 1000L, 3000L, 7000L, 207000L)) ++   // geometric burst: CV > 1
      ev(3L, Seq(0L, 0L, 0L)) ++                         // dup-timestamp burst
      ev(4L, Seq(0L, 5000L))                             // 2 events: 1 gap
    ).toDF("user_id", "ts")
    val got = graft.operators.Events.botScoreCore(events)
      .collect().map(r => r.getAs[Long]("user_id") ->
        (Option(r.getAs[java.lang.Double]("cv")),
          Option(r.getAs[java.lang.Boolean]("suspected_bot")))).toMap
    val (cv1, bot1) = got(1L)
    assert(cv1.contains(0.0) && bot1.contains(true), got(1L))   // CV = 0 -> bot
    val (cv2, bot2) = got(2L)
    assert(cv2.exists(_ > 1.0) && bot2.contains(false), got(2L)) // bursty -> clean
    val (cv3, bot3) = got(3L)
    assert(cv3.isEmpty && bot3.contains(true), got(3L)) // s = 0: null CV, flagged
    val (cv4, bot4) = got(4L)
    assert(cv4.isEmpty && bot4.isEmpty, got(4L))        // 1 gap: no evidence
  }

  test("ev22 churn: the 14-day production bar splits planted stale/active users") {
    import spark.implicits._
    val base = 1704067200000L
    val ev = Seq(
      (1L, 10L, new java.sql.Timestamp(base)),                      // stale: 20d behind
      (2L, 20L, new java.sql.Timestamp(base + 6L * 86400000L)),     // 14d behind: churned (>=)
      (3L, 30L, new java.sql.Timestamp(base + 7L * 86400000L)),     // 13d behind: active
      (4L, 40L, new java.sql.Timestamp(base + 20L * 86400000L))     // watermark user
    ).toDF("event_id", "user_id", "ts")
    val got = graft.operators.Events.churnCore(ev, barDays = 14).collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("days_inactive"), r.getAs[Boolean]("churned"))).toMap
    assert(got == Map(10L -> (20L, true), 20L -> (14L, true),
      30L -> (13L, false), 40L -> (0L, false)), got)
  }

  test("sim14 hard negatives: all below the near-dup bar, ranks contiguous") {
    val rows = graft.operators.Similarity.hardNegatives(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Double]("cos") < 0.4),
      "a hard negative at/above 0.4 would be a positive")
    val byQ = rows.groupBy(_.getAs[Long]("qid"))
    byQ.foreach { case (q, rs) =>
      val ranks = rs.map(_.getAs[Int]("rk")).sorted.toSeq
      assert(ranks == (1 to rs.length), s"qid $q ranks: $ranks")
      val cs = rs.sortBy(_.getAs[Int]("rk")).map(_.getAs[Double]("cos")).toSeq
      assert(cs == cs.sorted.reverse, s"qid $q not ranked by cos desc: $cs")
    }
  }

  test("d13 curriculum: phases partition the corpus and order by difficulty") {
    val rows = graft.operators.Enrichment.curriculum(spark, sf).collect()
    val docs = graft.Tables.t(spark, sf, "documents").count()
    assert(rows.length == docs, "every document gets exactly one phase")
    val byPhase = rows.groupBy(_.getAs[String]("phase"))
    assert(byPhase.keySet.subsetOf(Set("easy", "medium", "hard", "empty")))
    assert(byPhase.contains("easy") && byPhase.contains("hard"))
    def diffs(p: String) = byPhase.getOrElse(p, Array())
      .map(_.getAs[Double]("difficulty"))
    if (diffs("easy").nonEmpty && diffs("medium").nonEmpty)
      assert(diffs("easy").max < diffs("medium").min)
    if (diffs("medium").nonEmpty && diffs("hard").nonEmpty)
      assert(diffs("medium").max < diffs("hard").min)
    byPhase.getOrElse("empty", Array()).foreach(r =>
      assert(r.isNullAt(r.fieldIndex("difficulty"))))
  }

  test("t21 BPE training: planted corpus yields the known merge sequence") {
    import spark.implicits._
    // "thethe","then","the": step 0 ties th/he at 4, label "h+e" < "t+h"
    // elects he; step 1 merges t+he (the sentinel absorbing step 0's
    // unit); step 2's survivors "11"/"1n" tie at 1, "the+n" < "the+the"
    val toks = Seq("thethe", "then", "the").toDF("token")
    val got = TextAnalysis.bpeTrainSteps(toks, 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (0L, "h+e", "he", 4L),
      (1L, "t+he", "the", 4L),
      (2L, "the+n", "then", 1L)))
  }

  test("t22 BPE encode: planted corpus segments to the hand-computed units") {
    import spark.implicits._
    // merges (from the t21 planted test): he->'0', t0->'1', 1n->'2'.
    // "thethe" -> t0t0 -> 11        : 2 units
    // "then"   -> t0n  -> 1n  -> 2  : 1 unit
    // "the"    -> t0   -> 1         : 1 unit
    val docs = Seq((1L, "thethe then the")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeEncodeCore(docs, 3).collect()
    assert(got.length == 1)
    val r = got(0)
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((3L, 13L, 4L)),
      r.toSeq)
    assert(r.getDouble(4) == math.rint(4.0 / 13.0 * 1e6) / 1e6)
  }

  test("t21 BPE training equals a naive in-memory trainer on random corpora") {
    import spark.implicits._
    // Naive mirror of the distributed trainer's exact semantics: weighted
    // OVERLAPPING 2-gram counts over the distinct-token vocab, election by
    // (count desc, decoded label asc), leftmost non-overlapping replace of
    // the raw pair with the step's sentinel digit, drop merged-away
    // tokens. Random corpora in the dd5/gr5/sim6 property convention.
    def naive(tokens: Seq[String], k: Int): Seq[(Long, String, String, Long)] = {
      var vocab = tokens.groupBy(identity).map { case (t, g) => t -> g.size.toLong }
      val units = scala.collection.mutable.LinkedHashMap[Char, String]()
      def dec(c: Char): String = units.getOrElse(c, c.toString)
      val out = Seq.newBuilder[(Long, String, String, Long)]
      var dry = false
      for (i <- 0 until k if !dry) {
        val counts = scala.collection.mutable.Map.empty[String, Long]
        vocab.foreach { case (t, w) =>
          t.sliding(2).filter(_.length == 2).foreach(rp =>
            counts(rp) = counts.getOrElse(rp, 0L) + w)
        }
        if (counts.isEmpty) dry = true
        else {
          val (rp, n) = counts.toSeq
            .map { case (rp, n) => (rp, n, dec(rp(0)) + "+" + dec(rp(1))) }
            .sortBy { case (_, n, label) => (-n, label) }
            .map { case (rp, n, _) => (rp, n) }.head
          out += ((i.toLong, dec(rp(0)) + "+" + dec(rp(1)), dec(rp(0)) + dec(rp(1)), n))
          units += (('0' + i).toChar -> (dec(rp(0)) + dec(rp(1))))
          vocab = vocab.toSeq
            .map { case (t, w) => t.replace(rp, i.toString) -> w }
            .filter(_._1.length >= 2)
            .groupBy(_._1).map { case (t, g) => t -> g.map(_._2).sum }
        }
      }
      out.result()
    }
    val rnd = new scala.util.Random(23)
    for (trial <- 1 to 3) {
      val alphabet = "abcd"
      val tokens = Seq.fill(60)(
        Seq.fill(2 + rnd.nextInt(6))(alphabet(rnd.nextInt(alphabet.length))).mkString)
      val got = TextAnalysis.bpeTrainSteps(tokens.toDF("token"), 6).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      assert(got == naive(tokens, 6), s"trial $trial, corpus $tokens")
    }
  }

  test("t21 BPE training: driver and distributed regimes elect identical merges") {
    import spark.implicits._
    // r20 regime gate (the dd5 convention): driverVocabMax = 0 forces
    // the distributed elect loop; the default runs the driver trainer.
    // Both must produce the same merge list on any corpus — including
    // tie-heavy ones (short alphabet) and a merged-away corpus.
    val rnd = new scala.util.Random(47)
    for (trial <- 1 to 3) {
      val alphabet = "abc"
      val tokens = Seq.fill(50)(
        Seq.fill(2 + rnd.nextInt(5))(alphabet(rnd.nextInt(alphabet.length))).mkString)
      val drv = TextAnalysis.bpeTrainRaw(tokens.toDF("token"), 6)
      val dst = TextAnalysis.bpeTrainRaw(tokens.toDF("token"), 6,
        driverVocabMax = 0L)
      assert(drv == dst, s"trial $trial, corpus $tokens")
    }
    // merged-away corpus: one token, one possible merge, then dry
    val one = Seq("ab", "ab").toDF("token")
    assert(TextAnalysis.bpeTrainRaw(one, 3) ==
      TextAnalysis.bpeTrainRaw(one, 3, driverVocabMax = 0L))
  }

  test("t21 BPE training: elected counts are monotone non-increasing (real corpus)") {
    // a merge only removes old adjacencies, and every new pair contains
    // the new unit (count ≤ the elected count) — so the elected maximum
    // cannot rise; a loop that re-tokenized from scratch or decoded
    // sentinels wrong breaks this on any corpus
    val ns = TextAnalysis.bpeTrain(spark, sf)
      .orderBy("step").collect().map(_.getLong(3))
    assert(ns.length == TextAnalysis.BpeTrainSteps)
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b }, ns.toSeq)
  }

  test("t9 chunk manifests conserve tokens: per-doc chunk sum == token count") {
    val sums = TextAnalysis.chunks(spark, sf)
      .groupBy("doc_id").agg(sum("n_tokens").as("s"))
    val bad = tokenCounts.join(sums, "doc_id")
      .filter(col("s") =!= col("n")).count()
    assert(bad == 0)
    // and every tokenized doc produced at least one chunk
    assert(tokenCounts.join(sums, Seq("doc_id"), "left_anti").count() == 0)
  }

  test("t10 packing manifests conserve tokens and fill every non-final sequence") {
    val packed = TextAnalysis.packing(spark, sf)
    val perDoc = packed.groupBy("doc_id").agg(sum("n_tokens").as("s"))
    assert(tokenCounts.join(perDoc, "doc_id")
      .filter(col("s") =!= col("n")).count() == 0)
    // within a shard every sequence except the last must hold exactly
    // PackTokens — a gap or overlap in the prefix-sum arithmetic shows up
    // here even when the driver corpus's fixed hash happens to survive
    val perSeq = packed.groupBy("shard", "seq_id").agg(sum("n_tokens").as("s"))
    val lastSeq = perSeq.groupBy("shard").agg(max("seq_id").as("mx"))
    val bad = perSeq.join(lastSeq, "shard")
      .filter(col("seq_id") < col("mx") && col("s") =!= 512L).count()
    assert(bad == 0)
  }

  test("pipe2 emits at most one row per fingerprint, all above the bar") {
    val out = Pipelines.ingestBatch(spark, sf)
    assert(out.groupBy("fp").count().filter(col("count") > 1).count() == 0)
    assert(out.filter(col("quality") < 0.5).count() == 0)
  }

  test("pipe1 emits no eval-split ids and at most k per language") {
    val out = Pipelines.trainingCorpus(spark, sf)
    assert(out.filter(graft.operators.Dedup.isEvalSplit(col("doc_id"))).count() == 0)
    assert(out.groupBy("lang_detected").count().filter(col("count") > 5).count() == 0)
    assert(out.filter(col("quality") < 0.5).count() == 0)
  }

  test("pipe3 manifests conserve tokens over exactly the pipe1 survivors") {
    // The packed corpus must cover each surviving doc's full token stream
    // (per-doc manifest sums equal its token count), cover ONLY survivors
    // (every packed doc is a pipe1-eligible representative: above the
    // quality bar, not eval-split, not in a leaked component), and span
    // sequences contiguously per shard.
    val packed = Pipelines.packedCorpus(spark, sf).cache()
    try {
      val perDoc = packed.groupBy("doc_id").agg(sum("n_tokens").as("s"))
      val bad = tokenCounts.join(perDoc, "doc_id")
        .filter(col("s") =!= col("n")).count()
      assert(bad == 0)
      // packed docs are exactly the tokenized survivors: no doc outside
      // the curated corpus may appear, no tokenized survivor may vanish
      val survivors = Pipelines.trainingCorpus(spark, sf) // sampled subset
      assert(survivors.join(packed.select("doc_id").distinct(),
        Seq("doc_id"), "left_anti").count() == 0) // sample ⊆ packed docs
      // no eval-split doc is ever packed (decontamination survived the
      // composition into packing)
      assert(packed.filter(graft.operators.Dedup.isEvalSplit(col("doc_id")))
        .count() == 0)
      // every non-final sequence of each shard is exactly full: per
      // (shard, seq) token sums are PackTokens except possibly the last
      val perSeq = packed.groupBy("shard", "seq_id").agg(sum("n_tokens").as("s"))
      val lastSeq = perSeq.groupBy("shard").agg(max("seq_id").as("last"))
      assert(perSeq.join(lastSeq, "shard")
        .filter(col("seq_id") =!= col("last") && col("s") =!= 512L)
        .count() == 0)
    } finally packed.unpersist()
  }

  test("q22 counts exactly the above-average no-order customers (planted)") {
    // At the gated scale factors every above-average customer has orders,
    // so the oracle match is vacuous; this corpus exercises every verdict
    // path. Positive balances {25, 50, 100, 162.5, 200, 300, 300} average
    // exactly 162.5, so: the negative balance must not drag the average
    // (else 100 would clear it), the comparison must be strictly greater
    // (162.5 sits exactly on it), and the anti join must drop the
    // above-average customer WITH orders (200).
    import spark.implicits._
    val customer = Seq(
      (1L, 300.0, "BUILDING"),   // above avg, no orders -> counted
      (2L, 200.0, "BUILDING"),   // above avg, HAS orders -> dropped
      (3L, 100.0, "AUTOMOBILE"), // below avg
      (4L, 50.0, "AUTOMOBILE"),  // below avg, has orders
      (5L, -500.0, "FURNITURE"), // negative: excluded from the average
      (6L, 300.0, "MACHINERY"),  // above avg, no orders -> counted
      (7L, 162.5, "HOUSEHOLD"),  // exactly average: strict > excludes
      (8L, 25.0, "FURNITURE")    // below avg
    ).toDF("c_custkey", "c_acctbal", "c_mktsegment")
    val orders = Seq((101L, 2L), (102L, 4L)).toDF("o_orderkey", "o_custkey")
    val got = graft.operators.Relational.q22Core(customer, orders)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq(("BUILDING", 1L, 300.0), ("MACHINERY", 1L, 300.0)), got)
  }

  test("q2 surfaces min-cost ties and never a cheaper out-of-region supplier") {
    import spark.implicits._
    // suppliers 1, 2 in EUROPE tied at unit cost 5.0; supplier 3 in
    // EUROPE at 6.0 (loses); supplier 4 OUTSIDE the region at 1.0 (must
    // not win despite being globally cheapest)
    val supplier = Seq((1L, "alpha", 10, 100.0), (2L, "beta", 10, 200.0),
      (3L, "gamma", 10, 300.0), (4L, "delta", 20, 400.0))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    val nation = Seq((10, "NATION_1", 1), (20, "NATION_2", 2))
      .toDF("n_nationkey", "n_name", "n_regionkey")
    val region = Seq((1, "EUROPE"), (2, "ASIA"))
      .toDF("r_regionkey", "r_name")
    val part = Seq((100L, "red widget", "STANDARD", 5),
      (200L, "big bolt", "LARGE", 5)) // type filter drops part 200
      .toDF("p_partkey", "p_name", "p_type", "p_size")
    val li = Seq(
      (100L, 1L, 2.0, 10.0), // supplier 1: cost 5.0
      (100L, 2L, 4.0, 20.0), // supplier 2: cost 5.0 (tie)
      (100L, 3L, 1.0, 6.0),  // supplier 3: cost 6.0
      (100L, 4L, 1.0, 1.0),  // supplier 4: cost 1.0 but ASIA
      (200L, 1L, 1.0, 2.0)   // non-STANDARD part
    ).toDF("l_partkey", "l_suppkey", "l_quantity", "l_extendedprice")
    val got = graft.operators.Relational
      .q2Core(li, part, supplier, nation, region)
      .collect().map(r => (r.getAs[String]("s_name"),
        r.getAs[Long]("p_partkey"), r.getAs[Double]("supp_cost"))).toSet
    assert(got == Set(("alpha", 100L, 5.0), ("beta", 100L, 5.0)), got)
  }

  test("q11 threshold is strictly greater: the exact-0.1% part is excluded") {
    import spark.implicits._
    val supplier = Seq((1L, 10)).toDF("s_suppkey", "s_nationkey")
    val nation = Seq((10, "NATION_7")).toDF("n_nationkey", "n_name")
    // three parts at 10.00 + 990.00 + 999000.00 = 1,000,000.00 total.
    // 0.1% of total = 1000.00: part 2 (990.00) is under, and a part at
    // EXACTLY 1000.00 must be excluded -> rebuild with part 2 at 1000.00
    // by moving 10.00 from part 3.
    def run(v2: Double, v3: Double) = graft.operators.Relational
      .q11Core(
        Seq((1L, 1L, 10.0, 0.0), (2L, 1L, v2, 0.0), (3L, 1L, v3, 0.0))
          .toDF("l_partkey", "l_suppkey", "l_extendedprice", "l_discount"),
        supplier, nation)
      .collect().map(r => r.getAs[Long]("p_partkey")).toSet
    assert(run(990.0, 999000.0) == Set(3L))          // 990 < 1000
    assert(run(1000.0, 998990.0) == Set(3L))         // exactly 0.1%: excluded
    assert(run(1000.01, 998989.99) == Set(2L, 3L))   // a cent above: included
  }

  test("q20 excludes exact-half shares, sole suppliers, and non-matching parts") {
    import spark.implicits._
    def ts(d: String) = java.sql.Timestamp.valueOf(d + " 00:00:00")
    val supplier = Seq((1L, "alpha", 50.0), (2L, "beta", 60.0),
      (3L, "gamma", 70.0)).toDF("s_suppkey", "s_name", "s_acctbal")
    val part = Seq((100L, "red gear"), (200L, "red bolt"),
      (300L, "blue gear")).toDF("p_partkey", "p_name")
    val li = Seq(
      // part 100: supplier 1 ships 6 of 10 (> half: excess), supplier 2
      // ships 4
      (100L, 1L, 6.0, ts("1996-03-01")),
      (100L, 2L, 4.0, ts("1996-03-02")),
      // part 200: sole supplier 3 ships everything — monopoly, NOT excess
      (200L, 3L, 9.0, ts("1996-04-01")),
      // part 300: supplier 2 dominates but the name filter drops it
      (300L, 2L, 8.0, ts("1996-05-01")),
      (300L, 1L, 1.0, ts("1996-05-02")),
      // out-of-year shipment must not tip supplier 2 over on part 100
      (100L, 2L, 50.0, ts("1995-03-01"))
    ).toDF("l_partkey", "l_suppkey", "l_quantity", "l_shipdate")
    val got = graft.operators.Relational.q20Core(li, part, supplier)
      .collect().map(_.getAs[String]("s_name")).toSet
    assert(got == Set("alpha"), got)
    // exact half is NOT excess: rebalance part 100 to 5/5
    val even = Seq(
      (100L, 1L, 5.0, ts("1996-03-01")), (100L, 2L, 5.0, ts("1996-03-02"))
    ).toDF("l_partkey", "l_suppkey", "l_quantity", "l_shipdate")
    assert(graft.operators.Relational.q20Core(even, part, supplier)
      .collect().isEmpty)
  }

  test("ev15 trailing windows: churn leaves after 7 days, returns re-enter") {
    import spark.implicits._
    def ts(day: Int) =
      new java.sql.Timestamp(86400000L * (19800 + day) + 3600000L)
    // A active every day 0-9; B active day 0 only (churns out of the
    // 7-day window at day 7); C appears day 8 (re-entry)
    val ev = ((0 to 9).map(d => (ts(d), 1L)) ++
      Seq((ts(0), 2L), (ts(0), 2L)) ++ // duplicate events, one activity
      Seq((ts(8), 3L))).toDF("ts", "user_id")
    val rows = graft.operators.Events.rollingActiveCore(ev)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byDay = rows.map { case (ms, dau, wau) =>
      ((ms / 86400000L - 19800).toInt, (dau, wau)) }.toMap
    assert(byDay(0) == ((2L, 2L)))  // A + B
    assert(byDay(6) == ((1L, 2L)))  // B still inside days 0..6
    assert(byDay(7) == ((1L, 1L)))  // B churned out of days 1..7
    assert(byDay(8) == ((2L, 2L)))  // C enters
    // WAU dominates DAU everywhere; both bounded by the user universe
    assert(rows.forall { case (_, dau, wau) => wau >= dau && wau <= 3 })
  }

  test("prof2 buckets partition the domain with near-equal depths") {
    val rows = graft.operators.Relational
      .equiDepthExact(Tables.t(spark, sf, "events"), "value", 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3)))
    assert(rows.map(_._1).toSeq == (1L to 8L))
    val total = rows.map(_._2).sum
    // ntile spreads the remainder over leading buckets: depths differ by
    // at most 1 and boundaries are non-overlapping and ordered
    assert(rows.map(_._2).max - rows.map(_._2).min <= 1)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._4 <= b._3, s"bucket overlap: $a then $b")
    }
    assert(total == Tables.t(spark, sf, "events")
      .filter(org.apache.spark.sql.functions.col("value").isNotNull).count())
  }

  test("ev12 collapses planted repeats and keeps intervals contiguous") {
    import spark.implicits._
    def ts(m: Int) = new java.sql.Timestamp(1700000000000L + m * 60000L)
    // user 1: A A B B A  -> 3 change rows (A@0, B@2, A@4)
    // user 2: X          -> 1 open row
    val events = Seq(
      (1L, 1L, ts(0), 5.0), (1L, 2L, ts(1), 5.0), (1L, 3L, ts(2), 7.0),
      (1L, 4L, ts(3), 7.0), (1L, 5L, ts(4), 5.0),
      (2L, 6L, ts(0), 9.0)
    ).toDF("user_id", "event_id", "ts", "value")
    val h = graft.operators.Events.scd2Core(events).collect()
    val u1 = h.filter(_.getLong(0) == 1L)
    assert(u1.map(_.getLong(1)).toSeq == Seq(1L, 3L, 5L)) // repeats collapsed
    assert(u1.map(_.getDouble(3)).toSeq == Seq(5.0, 7.0, 5.0)) // A->B->A kept
    // intervals are contiguous: each row closes exactly where the next opens
    u1.sliding(2).foreach { case Array(a, b) =>
      assert(a.getLong(4) == b.getLong(2), s"gap between $a and $b")
    }
    // exactly one currently-valid (open) row per user
    assert(h.count(_.isNullAt(4)) == 2)
    assert(h.filter(_.getLong(0) == 2L).map(_.getDouble(3)).toSeq == Seq(9.0))
  }

  test("ev6 funnel stages are monotonically non-increasing") {
    // each stage conditions on reaching the previous one, so user counts
    // can only shrink down the funnel — an inverted count means a stage
    // lost its strictly-after dependency
    val rows = graft.operators.Events.funnel(spark, sf)
      .orderBy("stage").select("n_users").collect().map(_.getLong(0))
    assert(rows.length == 3)
    assert(rows.sliding(2).forall(p => p(0) >= p(1)), rows.mkString(","))
  }

  test("t12 emits at most 3 keywords per doc, each a token of that doc") {
    import graft.functions.TextFunctions.tokensOrdered
    val kw = TextAnalysis.tfidfKeywords(spark, sf)
    assert(kw.groupBy("doc_id").count().filter(col("count") > 3).count() == 0)
    val docs = graft.Tables.t(spark, sf, "documents")
      .select(col("doc_id").as("d2"), tokensOrdered(col("text")).as("tk"))
    val foreign = kw.join(docs, col("doc_id") === col("d2"))
      .filter(!array_contains(col("tk"), col("token"))).count()
    assert(foreign == 0)
  }

  test("d7 weighted sample: zero-token docs never sampled, keys positive") {
    val out = graft.operators.Enrichment.weightedSample(spark, sf)
    assert(out.filter(col("n_tokens") <= 0).count() == 0)
    assert(out.filter(col("es_key") <= 0.0).count() == 0)
    assert(out.count() == 20)
  }

  test("sim7 PQ codes: every vector gets exactly one codeword per subspace") {
    // run the full query (top-5 gate) plus the structural property the
    // fixed hash cannot see: the approximate distance of the query vector
    // to itself through its own codes would be 0 only if codes are
    // self-consistent; here we assert output size and non-negative
    // distances (an ADC sum can only be >= 0 when every cell is >= 0)
    val out = graft.operators.Similarity.pqAdc(spark, sf)
    assert(out.count() == 5)
    assert(out.filter(col("approx_l2_e6") < 0L).count() == 0)
  }

  test("d8 keeps exactly ceil(n/2) per domain, ranks contiguous from 1") {
    val kept = graft.operators.Enrichment.qualityPrune(spark, sf)
    val perDomain = kept.groupBy("source")
      .agg(count(lit(1)).as("k"), max("rk").as("mx"), min("rk").as("mn"))
    // contiguous 1..k ranks — a dropped middle rank means the window and
    // the keep filter disagree on ordering
    assert(perDomain.filter(col("mx") =!= col("k") || col("mn") =!= 1L).count() == 0)
    val counts = graft.Tables.t(spark, sf, "documents")
      .groupBy("source").agg(count(lit(1)).as("n"))
    assert(perDomain.join(counts, "source")
      .filter(col("k") =!= ceil(col("n") / 2.0).cast("long")).count() == 0)
  }

  test("d9 budget fill: offsets are exact prefix sums and the budget binds") {
    val kept = graft.operators.Enrichment.tokenBudget(spark, sf)
    // every kept doc starts under budget
    assert(kept.filter(col("tokens_before") >= 500L).count() == 0)
    // tokens_before is the running sum of the kept docs before it (the
    // kept set is a PREFIX of the md5 walk, so the books must balance
    // within the output alone)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy("tokens_before", "doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bad = kept
      .withColumn("recomputed", coalesce(sum("n_tokens").over(w), lit(0L)))
      .filter(col("recomputed") =!= col("tokens_before")).count()
    assert(bad == 0)
    // the budget binds: each domain either spends >= 500 tokens or kept
    // every tokenized doc it has
    val spent = kept.groupBy("source")
      .agg(sum("n_tokens").as("total"), count(lit(1)).as("k"))
    val avail = tokenCounts
      .join(graft.Tables.t(spark, sf, "documents").select("doc_id", "source"), "doc_id")
      .groupBy("source").agg(count(lit(1)).as("n"))
    assert(spent.join(avail, "source")
      .filter(col("total") < 500L && col("k") =!= col("n")).count() == 0)
  }

  test("ev7 emits one row per user at that user's max timestamp") {
    val out = graft.operators.Events.latestState(spark, sf)
    assert(out.groupBy("user_id").count().filter(col("count") > 1).count() == 0)
    val mx = graft.Tables.t(spark, sf, "events")
      .groupBy(col("user_id").as("u")).agg(max(unix_millis(col("ts"))).as("m"))
    assert(out.join(mx, col("user_id") === col("u"))
      .filter(col("last_ts_ms") =!= col("m")).count() == 0)
  }

  test("ev8 classifies exactly the simulated new arrivals as inserts") {
    val out = graft.operators.Events.mergeUpsert(spark, sf)
    // one merged row per delta user
    assert(out.groupBy("user_id").count().filter(col("count") > 1).count() == 0)
    // inserts are precisely the users whose base history was carved out
    // (every driver user is active on both sides of the split)
    assert(out.filter(col("change") === "insert" && col("user_id") % 7 =!= 0)
      .count() == 0)
    assert(out.filter(col("change") === "update" && col("user_id") % 7 === 0)
      .count() == 0)
    // both branches are exercised on the driver corpus
    assert(out.filter(col("change") === "insert").count() > 0)
    assert(out.filter(col("change") === "update").count() > 0)
  }

  test("t13 top bigram is a real bigram of its doc with a feasible share") {
    import graft.functions.TextFunctions.{tokensOrdered, rawShingles}
    val out = TextAnalysis.topBigram(spark, sf)
    assert(out.filter(col("bigram_share") < 0.0 || col("bigram_share") > 1.0).count() == 0)
    val docs = graft.Tables.t(spark, sf, "documents")
      .select(col("doc_id").as("d2"), rawShingles(tokensOrdered(col("text"))).as("bgs"))
    val foreign = out.filter(col("top_bigram").isNotNull)
      .join(docs, col("doc_id") === col("d2"))
      .filter(!array_contains(col("bgs"), col("top_bigram"))).count()
    assert(foreign == 0)
    // docs with >= 2 tokens must surface a winner with >= 1 occurrence
    assert(out.filter(col("top_bigram").isNotNull && col("n_occurrences") < 1L).count() == 0)
  }

  test("ev9 retention: offset-0 counts cover every user, later offsets never exceed") {
    val out = graft.operators.Events.retention(spark, sf)
    val day0 = out.filter(col("day_offset") === 0L)
      .select(col("cohort_day_ms"), col("n_users").as("cohort_size"))
    // every cohort has a day-0 row and no later day outgrows the cohort
    assert(out.join(day0, "cohort_day_ms")
      .filter(col("n_users") > col("cohort_size")).count() == 0)
    assert(out.select(col("cohort_day_ms")).distinct().count() == day0.count())
    val users = graft.Tables.t(spark, sf, "events")
      .select(col("user_id")).distinct().count()
    assert(day0.agg(sum("cohort_size")).head().getLong(0) == users)
  }

  test("sim8 assigns every vector exactly once per round, clusters stay in range") {
    val out = graft.operators.Similarity.kmeansRefine(spark, sf)
    val n = graft.Tables.t(spark, sf, "embeddings").count()
    assert(out.count() == n)
    assert(out.select("vec_id").distinct().count() == n)
    val k = math.max(4L, math.min(64L, (n + 63L) / 64L))
    assert(out.filter(col("cid_seed") < 0L || col("cid_seed") >= k ||
      col("cid_refined") < 0L || col("cid_refined") >= k).count() == 0)
  }

  test("dd9 emits exactly one verdict per batch doc, ids consistent with verdicts") {
    import graft.operators.Dedup
    val out = Dedup.incrementalDedup(spark, sf)
    val batchN = graft.Tables.t(spark, sf, "documents")
      .filter(Dedup.isEvalSplit(col("doc_id"))).count()
    assert(out.count() == batchN)
    assert(out.select("doc_id").distinct().count() == batchN)
    // verdict/match agreement: matched verdicts carry a real index id,
    // unique carries the -1 sentinel
    assert(out.filter(col("verdict") === "unique" && col("match_doc_id") =!= -1L)
      .count() == 0)
    assert(out.filter(col("verdict") =!= "unique" && col("match_doc_id") < 0L)
      .count() == 0)
    // the harness plants all three outcomes — a split/shift edit that
    // collapses a branch must fail here, not just drift the oracle hash
    assert(out.filter(col("verdict") === "exact").count() > 0)
    assert(out.filter(col("verdict") === "near").count() > 0)
    assert(out.filter(col("verdict") === "unique").count() > 0)
  }

  test("ev9 retention on a staggered synthetic stream yields the exact triangle") {
    // The driver corpus puts almost every user in the day-1 cohort, so the
    // fixed oracle hash barely exercises multi-cohort offsets — build a
    // stream with two cohorts and gaps and check the full matrix.
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-ev9").toString
    Seq(
      (1L, "2024-03-01 01:00:00"), (1L, "2024-03-01 02:00:00"), // same-day dup
      (1L, "2024-03-02 01:00:00"), (1L, "2024-03-05 01:00:00"),
      (2L, "2024-03-01 03:00:00"), (2L, "2024-03-03 01:00:00"),
      (3L, "2024-03-02 02:00:00"), (3L, "2024-03-03 02:00:00"))
      .toDF("user_id", "ts_s")
      // the driver stores events.ts as parquet TIMESTAMP(NANOS), which
      // Tables.t reads through the nanos-as-long hatch — mimic that format
      .select(col("user_id"),
        (unix_millis(to_timestamp(col("ts_s"))) * 1000000L).as("ts"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = graft.operators.Events.retention(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val d1 = 1709251200000L // 2024-03-01 UTC
    val d2 = 1709337600000L // 2024-03-02 UTC
    assert(out == Seq(
      (d1, 0L, 2L), (d1, 1L, 1L), (d1, 2L, 1L), (d1, 4L, 1L),
      (d2, 0L, 1L), (d2, 1L, 1L)))
  }

  test("sim8 refined assignment is the exact argmin against the updated means") {
    // Recompute the mean update from sim8's own seed assignment with the
    // identical micro-unit integer rules, then require every vector's
    // refined cluster to be the (distance, cid)-lexicographic argmin over
    // those means — the Lloyd step itself, not just a fixed oracle hash.
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-sim8").toString
    val vecs = for (c <- 0 until 4; j <- 0 until 10) yield {
      val v = Array.tabulate(8)(i => if (i == c) 10.0f * (c + 1) else 0.1f * j)
      ((c * 10 + j).toLong, v.toSeq)
    }
    vecs.toDF("vec_id", "embedding")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = graft.operators.Similarity.kmeansRefine(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length == 40)
    val v6 = vecs.toMap.map { case (id, v) =>
      id -> v.map(x => math.round(x.toDouble * 1e6)).toArray
    }
    val means = out.groupBy(_._2).map { case (cid, members) =>
      val arrs = members.map(m => v6(m._1))
      cid -> Array.tabulate(8)(i =>
        math.floor(arrs.map(_(i)).sum.toDouble / arrs.length).toLong)
    }
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, c) => (x - c) * (x - c) }.sum
    out.foreach { case (id, _, cidRefined) =>
      val best = means.toSeq.map { case (cid, m) => (d2(v6(id), m), cid) }.min
      assert(cidRefined == best._2,
        s"vec $id: refined $cidRefined but argmin is ${best._2}")
    }
  }

  test("prof1 counts nulls and distincts exactly on a corpus that has them") {
    // the driver's customer table is null-free, so the oracle hash never
    // exercises prof1's null-counting path — plant nulls and check exact rows
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-prof1").toString
    Seq[(java.lang.Long, String, java.lang.Long, java.lang.Double, String)](
      (1L, "alice", 1L, 10.50, "BUILDING"),
      (2L, null, 1L, null, "BUILDING"),
      (3L, "carol", 2L, 10.50, null),
      (4L, null, null, -3.25, "MACHINERY"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val out = graft.operators.Relational.prof1ColumnProfile(spark, dir)
      .collect().map(r => r.getAs[String]("column_name") ->
        (r.getAs[Long]("n_nulls"), r.getAs[Long]("n_distinct"))).toMap
    assert(out("c_custkey") == (0L, 4L))
    assert(out("c_name") == (2L, 2L))
    assert(out("c_nationkey") == (1L, 2L))
    assert(out("c_acctbal") == (1L, 2L)) // two distinct non-null values
    assert(out("c_mktsegment") == (1L, 2L))
    val row = graft.operators.Relational.prof1ColumnProfile(spark, dir)
      .filter(col("column_name") === "c_acctbal").head()
    assert(row.getAs[Double]("min_num") == -3.25 && row.getAs[Double]("max_num") == 10.50)
  }

  test("ev10 flags exactly a planted spike, and nothing in flat history") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-ev10").toString
    // 11 flat values then one 10x spike, all inside one trailing week:
    // pre-spike windows have sd=0 (excluded), the spike's own window must
    // flag, and the flat tail afterwards must stay below 2 rounded sigmas
    val rows = (1 to 11).map(i => (i.toLong, f"2024-03-01 ${7 + i}%02d:00:00", 10.0)) :+
      (12L, "2024-03-01 19:30:00", 100.0) :+
      (13L, "2024-03-01 20:00:00", 10.0)
    rows.toDF("event_id", "ts_s", "value")
      .select(col("event_id"), lit(1L).as("user_id"),
        (unix_millis(to_timestamp(col("ts_s"))) * 1000000L).as("ts"), col("value"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = graft.operators.Events.anomalies(spark, dir).collect()
    assert(out.map(_.getAs[Long]("event_id")).toSeq == Seq(12L))
  }

  test("ev11 resample grid covers the span and forward-fills exactly") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-ev11").toString
    // A active on days 1 and 4, B on day 2 only; span = days 1..4 → a
    // leading gap (B day 1 → 0.0), interior gaps (carry last), and both
    // users on the full grid
    Seq((1L, "2024-03-01 10:00:00", 5.0), (1L, "2024-03-04 10:00:00", 7.0),
        (2L, "2024-03-02 10:00:00", 3.0))
      .toDF("user_id", "ts_s", "value")
      .select(col("user_id"),
        (unix_millis(to_timestamp(col("ts_s"))) * 1000000L).as("ts"), col("value"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = graft.operators.Events.resample(spark, dir).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("day_ms"),
        Option(r.getAs[java.lang.Double]("day_value")).map(_.toDouble),
        r.getAs[Double]("filled_value"))).toSeq
    val d = (1 to 4).map(i => 1709251200000L + (i - 1) * 86400000L)
    assert(out == Seq(
      (1L, d(0), Some(5.0), 5.0), (1L, d(1), None, 5.0),
      (1L, d(2), None, 5.0), (1L, d(3), Some(7.0), 7.0),
      (2L, d(0), None, 0.0), (2L, d(1), Some(3.0), 3.0),
      (2L, d(2), None, 3.0), (2L, d(3), None, 3.0)))
  }

  test("q15 winners carry exactly the global maximum quarterly revenue") {
    val out = graft.operators.Relational.q15TopSupplier(spark, sf)
    val revs = graft.Tables.t(spark, sf, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1996-04-01"))
      .groupBy("l_suppkey")
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("r"))
    val mx = revs.agg(max("r")).head().getDouble(0)
    assert(out.count() >= 1)
    assert(out.filter(col("total_revenue") =!= mx).count() == 0)
  }

  test("ev23 EWMA: constant series is a fixpoint; step converges toward") {
    import spark.implicits._
    def ts(d: Int) = new java.sql.Timestamp(86400000L * (19800 + d))
    // type c: constant 10 -> ewma identically 10, deviation 0 after day 1
    // type s: 0,0,0 then 100,100,100 -> ewma strictly rises toward 100,
    // never overshoots; the jump day shows a large positive deviation
    val ev = ((0 to 5).map(d => (ts(d), "c", 10.0)) ++
      (0 to 2).map(d => (ts(d), "s", 0.0)) ++
      (3 to 5).map(d => (ts(d), "s", 100.0)))
      .toDF("ts", "event_type", "value")
    val rows = graft.operators.Events.ewmaDailyCore(ev).collect()
      .map(r => (r.getString(1), r.getLong(0), r.getDouble(3),
        if (r.isNullAt(4)) Double.NaN else r.getDouble(4)))
    val c = rows.filter(_._1 == "c").sortBy(_._2)
    assert(c.forall(_._3 == 10.0), c.toSeq)
    assert(c.drop(1).forall(_._4 == 0.0), c.toSeq)
    val s = rows.filter(_._1 == "s").sortBy(_._2).map(_._3)
    assert(s.take(3).forall(_ == 0.0), s.toSeq)
    // monotone convergence toward 100 without overshoot
    assert(s.drop(2).sliding(2).forall { case Array(a, b) => b > a }, s.toSeq)
    assert(s.last < 100.0 && s.last > 50.0, s.toSeq)
    // the step day deviates by the full jump against yesterday's baseline
    val stepDev = rows.filter(r => r._1 == "s")
      .sortBy(_._2).map(_._4).drop(3).head
    assert(stepDev == 100.0, stepDev)
  }

  test("ev21 streaks: islands split on gaps, dup events collapse") {
    import spark.implicits._
    def ts(d: Int, h: Int = 3) =
      new java.sql.Timestamp(86400000L * (19800 + d) + 3600000L * h)
    // user 1: days 0,1,2 then 5,6 (two streaks, longest 3); day 1 has
    // two events (must count once). user 2: one day.
    val ev = Seq(
      (1L, ts(0)), (1L, ts(1)), (1L, ts(1, 9)), (1L, ts(2)),
      (1L, ts(5)), (1L, ts(6)),
      (2L, ts(4))
    ).toDF("user_id", "ts")
    val got = graft.operators.Events.streaksCore(ev).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got == Map(1L -> ((3L, 2L, 5L)), 2L -> ((1L, 1L, 1L))), got)
  }

  test("ev20 attribution: first/last touch credit planted journeys") {
    import spark.implicits._
    def ts(s: Int) = new java.sql.Timestamp(1700000000000L + s * 1000L)
    // user 1: view, click, purchase -> first=view, last=click
    // user 2: purchase with NO prior touch -> uncredited (dropped)
    //         then error, purchase -> first=error, last=error
    // user 3: click, purchase, purchase -> both purchases credit click
    //         (the 2nd's last_touch skips the intervening purchase)
    val ev = Seq(
      (1L, 1L, ts(0), "view"), (1L, 2L, ts(1), "click"),
      (1L, 3L, ts(2), "purchase"),
      (2L, 4L, ts(0), "purchase"), (2L, 5L, ts(1), "error"),
      (2L, 6L, ts(2), "purchase"),
      (3L, 7L, ts(0), "click"), (3L, 8L, ts(1), "purchase"),
      (3L, 9L, ts(2), "purchase")
    ).toDF("user_id", "event_id", "ts", "event_type")
    val got = graft.operators.Events.attributionCore(ev).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(
      "view" -> ((1L, 0L)),   // user 1 first
      "click" -> ((2L, 3L)),  // user 3 both (first+last) + user 1 last
      "error" -> ((1L, 1L))), // user 2's second purchase both models
      got)
    // conservation: each model's credits = credited purchases
    assert(got.values.map(_._1).sum == got.values.map(_._2).sum)
  }

  test("ev19 conversion lag: planted timeline yields exact readout") {
    import spark.implicits._
    def ts(s: Int) = new java.sql.Timestamp(1700000000000L + s * 1000L)
    // user 1: view@0, purchase@10 (lag 10); purchase@5 BEFORE view? no -
    // purchase@20 later ignored (first qualifying wins)
    // user 2: purchase@3 BEFORE first view@5 (must not count), then
    //         purchase@65 -> lag 60
    // user 3: views only -> never converts
    val ev = Seq(
      (1L, ts(0), "view"), (1L, ts(10), "purchase"), (1L, ts(20), "purchase"),
      (2L, ts(3), "purchase"), (2L, ts(5), "view"), (2L, ts(65), "purchase"),
      (3L, ts(0), "view"), (3L, ts(9), "view")
    ).toDF("user_id", "ts", "event_type")
    val r = graft.operators.Events.conversionLagCore(ev).collect().head
    assert(r.getAs[Long]("n_converted") == 2L)
    assert(r.getAs[Double]("median_s") == 35.0) // midpoint of {10, 60}
    assert(r.getAs[Double]("p90_s") == 55.0)    // 10 + 0.9 * 50
    assert(r.getAs[Double]("mean_s") == 35.0)
  }

  test("t24 Heaps curve is monotone and the fit interpolates sanely") {
    val rows = TextAnalysis.heapsFit(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(rows.map(_._1).toSeq == (1L to 10L))
    // both curves strictly increase (every prefix adds tokens and, on
    // natural text, at least one new type)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._2 > a._2 && b._3 >= a._3, s"$a -> $b") }
    // sublinear growth: 0 < beta < 1 on any natural corpus
    val beta = rows.head._4
    assert(beta > 0.0 && beta < 1.0, beta)
    // the fitted curve reproduces the endpoint within a factor of 2
    val (_, n10, v10, _, k) = rows.last
    val vHat = k * math.pow(n10, beta)
    assert(vHat > v10 / 2.0 && vHat < v10 * 2.0, s"$vHat vs $v10")
  }

  test("d12 epoch mix: copies bracket the factor and number contiguously") {
    val rows = graft.operators.Enrichment.epochMix(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val perDoc = rows.groupBy(_._1).view.mapValues(_.map(_._3).sorted).toMap
    // copy indices are exactly 1..n per doc (explode left no gaps)
    perDoc.foreach { case (d, cs) =>
      assert(cs.toList == (1L to cs.max).toList, s"doc $d") }
    // every doc's copy count brackets its source factor sqrt(N/n_d)
    val n = Tables.t(spark, sf, "documents").count().toDouble
    val bySrc = rows.groupBy(_._2)
    bySrc.foreach { case (src, rs) =>
      val nd = rs.map(_._1).distinct.size.toDouble
      val r = math.sqrt(n / nd)
      rs.groupBy(_._1).foreach { case (_, copies) =>
        assert(copies.size == math.floor(r).toLong ||
          copies.size == math.ceil(r).toLong, s"$src $r ${copies.size}")
      }
    }
  }

  test("prof9 Benford digits partition the positive rows; p normalizes") {
    val rows = graft.operators.Relational.prof9Benford(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.map(_._1).forall(d => d >= 1 && d <= 9))
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-4)
    assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-4) // Benford p's too
    val positives = Tables.t(spark, sf, "lineitem")
      .filter(col("l_extendedprice") > 0.0).count()
    assert(rows.map(_._2).sum == positives)
  }

  test("ev17 transition rows normalize to 1 and conserve adjacency count") {
    import spark.implicits._
    def ts(m: Int) = new java.sql.Timestamp(1700000000000L + m * 60000L)
    // user 1: A B A B  (A->B x2, B->A x1); user 2: B B (B->B x1);
    // user 3: single event -> contributes NO transition
    val ev = Seq(
      (1L, 1L, ts(0), "A"), (1L, 2L, ts(1), "B"),
      (1L, 3L, ts(2), "A"), (1L, 4L, ts(3), "B"),
      (2L, 5L, ts(0), "B"), (2L, 6L, ts(1), "B"),
      (3L, 7L, ts(0), "A")
    ).toDF("user_id", "event_id", "ts", "event_type")
    val got = graft.operators.Events.transitionsCore(ev).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got.keySet == Set(("A", "B"), ("B", "A"), ("B", "B")))
    assert(got(("A", "B")) == ((2L, 1.0)))
    assert(got(("B", "A")) == ((1L, 0.5)))
    assert(got(("B", "B")) == ((1L, 0.5)))
    // conservation: transitions = events - one per user with >= 1 event
    assert(got.values.map(_._1).sum == 7 - 3)
    // each from-row's probabilities sum to 1 (within the rounding grain)
    got.groupBy(_._1._1).foreach { case (_, m) =>
      assert(math.abs(m.values.map(_._2).sum - 1.0) < 1e-6) }
  }

  test("ev18 session paths: gap splits, 3-prefix truncation, conservation") {
    import spark.implicits._
    def ts(s: Int) = new java.sql.Timestamp(1700000000000L + s * 1000L)
    // user 1: 4 events 1s apart (one session, path truncates to first 3),
    // then a 5-minute-exactly gap -> NEW session of 1 event
    // user 2: two events exactly 299s apart -> still ONE session
    val ev = Seq(
      (1L, 1L, ts(0), "view"), (1L, 2L, ts(1), "click"),
      (1L, 3L, ts(2), "purchase"), (1L, 4L, ts(3), "error"),
      (1L, 5L, ts(303), "signup"),
      (2L, 6L, ts(0), "view"), (2L, 7L, ts(299), "click")
    ).toDF("user_id", "event_id", "ts", "event_type")
    val got = graft.operators.Events.sessionPathsCore(ev).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == Map(
      "view->click->purchase" -> 1L, // 4th event dropped by the 3-prefix
      "signup" -> 1L,                // exact-gap boundary opens a session
      "view->click" -> 1L))
    // conservation: session count = sum of path counts
    assert(got.values.sum == 3L)
  }

  test("documents: (doc_id, text) is unique — the contract pipe1's pruned clean relies on") {
    // r19 ADVICE: curatedSurvivors prunes the clean to (doc_id, text),
    // which changes P9's dedup semantics ONLY IF the corpus carries
    // repeated (doc_id, text) rows with differing lang/source/n_chars —
    // previously kept as distinct full rows, now collapsed. The driver
    // corpus has unique doc_id by construction, but that assumption was
    // enforced only indirectly by gate hashes at small sf; this pins it
    // directly so a future corpus with duplicate ids fails loudly here
    // instead of silently diverging from the pre-prune behavior. Checked
    // on doc_id alone (stronger than the pair — id-unique implies
    // pair-unique).
    val d = graft.Tables.t(spark, sf, "documents")
    assert(d.count() == d.select("doc_id").distinct().count(),
      "documents.doc_id must be unique: P9's pruned-clean equivalence " +
        "(Pipelines.curatedSurvivors) depends on it")
  }

  test("Tables.wide pins a narrow scan and passes an already-wide frame through") {
    // r21 (the r20 verdict's #2): the width pin exists for single-row-
    // group test parquet (a scan that CANNOT split); at production scale
    // the same line must not coalesce a thousands-of-splits scan down to
    // cores/4. The gate keys on the frame's actual partition count vs
    // the quarter-width target (max(2, defaultParallelism/4) = 2 on the
    // local[4] test session).
    import spark.implicits._
    val narrow = spark.range(0, 100, 1, 1).select(col("id").as("doc_id"))
    val pinned = graft.Tables.wide(narrow.toDF(), col("doc_id"))
    assert(pinned.rdd.getNumPartitions == 2,
      "a 1-partition input must still be pinned to the quarter-width target")
    val preSplit = spark.range(0, 100, 1, 4).select(col("id").as("doc_id"))
    val passed = graft.Tables.wide(preSplit.toDF(), col("doc_id"))
    assert(passed.rdd.getNumPartitions == 4,
      "an input at/above the target must pass through with NO added exchange")
    assert(!passed.queryExecution.sparkPlan.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange]),
      "the pass-through plan must not contain a repartition exchange")
    // results are partition-layout-insensitive either way
    assert(pinned.as[Long].collect().sorted.sameElements(0L until 100L))
    assert(passed.as[Long].collect().sorted.sameElements(0L until 100L))
  }
}
