package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextAnalysis

/** Semantic sanity for the LM-surprise signal (t8) beyond the oracle's
  * bit-equality: the model must be a proper smoothed conditional (finite,
  * positive surprise), short documents must degrade to nulls not crashes,
  * and an in-distribution bigram must surprise less than a rare one.
  */
class TextAnalysisSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("bm25 honors tf monotonicity, length normalization, and idf rarity") {
    import spark.implicits._
    val pad = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, s"spark spark spark $pad"),   // tf=3
      (2L, s"spark spark filler $pad"),  // tf=2, same length
      (3L, s"spark $pad " + Seq.fill(40)("pad").mkString(" ")), // tf=1, long
      (4L, s"spark $pad"),               // tf=1, short
      (5L, s"join $pad two"),            // rare term (df=1), same dl as 4
      (6L, "nothing relevant here at all")
    ).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis
      .bm25Core(docs, Seq("spark", "join")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // more occurrences of the same term in same-length docs scores higher
    assert(got(1L) > got(2L) && got(2L) > got(4L))
    // same tf in a LONGER doc scores lower (b-normalization)
    assert(got(4L) > got(3L))
    // the df=1 term outscores the df=4 term at equal tf and length
    assert(got(5L) > got(4L))
    // docs with no query terms never appear
    assert(!got.contains(6L) && got.values.forall(_ > 0))
  }

  test("t18 serve-from-index BM25 is row-identical to t16 direct scan") {
    // The build/serve halves of the retrieval story must agree exactly:
    // same docs, same scores to the rounded digit, same tiebreak order.
    val direct = TextAnalysis.bm25Rank(spark, sf).collect().toSeq
    val served = TextAnalysis.bm25FromIndex(spark, sf).collect().toSeq
    assert(direct.nonEmpty)
    assert(served == direct)
  }

  test("t17 gate postings string agrees with the typed index") {
    val typed = TextAnalysis.invertedIndexRaw(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        r.getSeq[Long](r.fieldIndex("postings")).mkString(","))
      .toMap
    val gate = TextAnalysis.invertedIndex(spark, sf).collect()
    assert(gate.nonEmpty)
    gate.foreach { r =>
      assert(r.getString(r.fieldIndex("postings")) ==
        typed((r.getString(0), r.getLong(1))))
    }
  }

  test("pmi ranks a bound collocation above an incidental co-occurrence") {
    import spark.implicits._
    // "alpha beta" occurs ONLY as a pair (10 times); "gamma delta" are
    // both frequent (40+ occurrences each) but adjacent just 6 times —
    // both pass min-support, and PMI must rank the bound pair first.
    val filler = (0 until 40).map(i => s"gamma x$i delta y$i").mkString(" ")
    val docs = Seq(
      (1L, ("alpha beta " * 10).trim),
      (2L, filler),
      (3L, "gamma delta " * 6)
    ).toDF("doc_id", "text")
    val dir = TestSpark.tempDir("graft-t19").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = TextAnalysis.pmiCollocations(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(4)).toMap
    assert(rows.contains("alpha beta") && rows.contains("gamma delta"), rows)
    assert(rows("alpha beta") > rows("gamma delta"), rows)
    // PMI of the bound pair is strongly positive (co-occurrence far above
    // the independence baseline)
    assert(rows("alpha beta") > 1.0)
  }

  test("lm surprise: positive finite scores; <2-token docs score null") {
    val rows = TextAnalysis.lmSurprise(spark, sf).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_bigrams")
      if (n == 0L) assert(r.isNullAt(r.fieldIndex("avg_surprise")))
      else {
        val s = r.getAs[Double]("avg_surprise")
        assert(s > 0.0 && !s.isInfinite && !s.isNaN, s"doc ${r.get(0)}: $s")
      }
    }
  }

  test("lm surprise separates repetitive from unique-vocabulary documents") {
    // A corpus where one doc repeats one bigram everywhere and one doc is
    // all-singleton bigrams: the repeated doc must surprise strictly less.
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat " * 30),
      (2L, ('a' to 'z').map(c => s"$c${c}word").mkString(" ")),
      (3L, "the cat sat on the mat"))
      .toDF("doc_id", "text")
    val dir = TestSpark.tempDir("graft-t8").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.lmSurprise(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        Option(r.getAs[java.lang.Double]("avg_surprise")).map(_.doubleValue))
      .toMap
    assert(out(1L).get < out(2L).get)
  }

  test("chunking splits long documents, truncates tails, and no empty tail at multiples") {
    // The driver corpora max out below one chunk (every doc <= 100 tokens),
    // so the multi-chunk path needs its own corpus: 300 tokens (3 chunks,
    // tail 44), exactly 256 tokens (2 FULL chunks, no empty third), and a
    // 1-token doc.
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-t9").toString
    Seq(
      (1L, Seq.fill(300)("tok").mkString(" ")),
      (2L, Seq.fill(256)("tok").mkString(" ")),
      (3L, "one"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = TextAnalysis.chunks(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id"),
        r.getAs[Long]("start_token"), r.getAs[Long]("n_tokens")))
    assert(rows.toSeq == Seq(
      (1L, 0L, 0L, 128L), (1L, 1L, 128L, 128L), (1L, 2L, 256L, 44L),
      (2L, 0L, 0L, 128L), (2L, 1L, 128L, 128L),
      (3L, 0L, 0L, 1L)))
  }

  test("bpe merge pairs count occurrences across tokens, overlaps included") {
    // "aba" -> ab, ba; "abab" -> ab, ba, ab; "x" (1 char) contributes
    // nothing: totals ab=3, ba=2 — overlapping pairs and repeats within
    // one token must all count, the way BPE merge statistics do.
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-t11").toString
    Seq((1L, "aba abab x"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = TextAnalysis.bpeMergePairs(spark, dir).collect()
      .map(r => (r.getAs[String]("pair"), r.getAs[Long]("n_occurrences")))
    assert(rows.toSeq == Seq(("ab", 3L), ("ba", 2L)))
  }

  test("packing: long docs span sequences, short docs pack after them") {
    // The driver corpora have no doc over one 512-token sequence, so the
    // multi-sequence span needs its own corpus. One shard (ids = 0 mod 8):
    // 600 tokens spans seqs 0+1; 200 and 30 tokens pack behind it in seq 1.
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-t10").toString
    Seq(
      (8L, Seq.fill(600)("tok").mkString(" ")),
      (16L, Seq.fill(200)("tok").mkString(" ")),
      (24L, Seq.fill(30)("tok").mkString(" ")))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = TextAnalysis.packing(spark, dir).collect()
      .map(r => (r.getAs[Long]("shard"), r.getAs[Long]("seq_id"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("offset_in_seq"),
        r.getAs[Long]("n_tokens")))
    assert(rows.toSeq == Seq(
      (0L, 0L, 8L, 0L, 512L),
      (0L, 1L, 8L, 0L, 88L),
      (0L, 1L, 16L, 88L, 200L),
      (0L, 1L, 24L, 288L, 30L)))
  }

  test("t27 gopher rules: each rule kills its planted violator; prose passes") {
    import spark.implicits._
    // 84 words, mean word length ~4.2, stopword-rich prose
    val prose50 = Seq.fill(7)(
      "the quick brown foxes and dogs jumped over a lazy hound today")
      .mkString(" ")
    val docs = Seq(
      (1L, prose50),                                   // passes everything
      (2L, "too short to pass the word count rule"),   // words_ok false
      (3L, Seq.fill(60)("a").mkString(" ")),           // mean_word_len 1 < 3
      (4L, Seq.fill(60)("1234 5678").mkString(" ")),   // alpha_word_frac 0
      (5L, Seq.fill(60)("zumba quorl xylo").mkString(" ")) // no stopwords
    ).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.gopherRulesCore(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    def flag(i: Long, c: String) = got(i).getAs[Boolean](c)
    assert(flag(1L, "passes"), got(1L).toString)
    assert(!flag(2L, "words_ok") && !flag(2L, "passes"))
    assert(!flag(3L, "word_len_ok") && flag(3L, "words_ok") && !flag(3L, "passes"))
    assert(!flag(4L, "alpha_ok") && !flag(4L, "passes"))
    assert(got(4L).getAs[Double]("alpha_word_frac") == 0.0)
    assert(!flag(5L, "stop_ok") && !flag(5L, "passes"))
    assert(got(1L).getAs[Long]("n_words") == 84L)
  }

  test("t28 OOV: head tokens are in-vocab, one-off tail tokens are OOV, empty doc null") {
    import spark.implicits._
    // 16 distinct alphabetic head tokens each appear 3x across docs ->
    // they ARE the top-16 vocab; "rareword" appears once -> OOV.
    // (tokens must be pure [a-z]: the tokenizer drops digits.)
    val head = ('a' to 'p').map(c => s"w$c")
    val docs = Seq(
      (1L, head.mkString(" ")), (2L, head.mkString(" ")),
      (3L, head.mkString(" ") + " rareword"),
      (4L, "  ")
    ).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.oovRateCore(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got(1L).getAs[Long]("n_oov") == 0L)
    assert(got(3L).getAs[Long]("n_tokens") == 17L &&
      got(3L).getAs[Long]("n_oov") == 1L, got(3L))
    assert(got(3L).getAs[Double]("oov_rate") == 0.058824) // round(1/17, 6)
    assert(got(4L).getAs[Long]("n_tokens") == 0L &&
      got(4L).isNullAt(got(4L).fieldIndex("oov_rate")))
  }

  test("t30 boilerplate: a 3-doc shingle flags, a 2-doc one does not, short docs empty") {
    import spark.implicits._
    // "alpha beta gamma delta epsilon" recurs in docs 1-3 -> boilerplate
    // (df=3). "zeta eta theta iota kappa" only in docs 1-2 -> df=2, not
    // boilerplate. Doc 4 has < 5 tokens -> zero shingles, null rate.
    val boiler = "alpha beta gamma delta epsilon"
    val pair = "zeta eta theta iota kappa"
    val docs = Seq(
      (1L, s"$boiler one $pair"),
      (2L, s"$boiler two $pair"),
      (3L, s"$boiler three unrelated trailing words here now"),
      (4L, "too short here")
    ).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.boilerplateCore(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // doc 3: 11 tokens -> 7 shingles, exactly one of them (the leading
    // boiler 5-gram) recurs corpus-wide
    assert(got(3L).getAs[Long]("n_shingles") == 7L, got(3L))
    assert(got(3L).getAs[Long]("n_boiler") == 1L, got(3L))
    assert(got(1L).getAs[Long]("n_boiler") == 1L, got(1L))
    assert(got(4L).getAs[Long]("n_shingles") == 0L &&
      got(4L).isNullAt(got(4L).fieldIndex("boilerplate_rate")))
  }

  test("t29 readability: hand-counted prose, monosyllabic text reads easier") {
    import spark.implicits._
    // doc 1: "the cat sat. the dog ran!" -> 6 words, 2 sentences,
    // 6 syllables (each word one vowel group).
    // doc 2: polysyllabic words, same word/sentence shape -> harder.
    val docs = Seq(
      (1L, "the cat sat. the dog ran!"),
      (2L, "societal anomalies proliferate. bureaucratic inertia dominates!")
    ).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.readabilityCore(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got(1L).getAs[Long]("n_words") == 6L)
    assert(got(1L).getAs[Long]("n_sentences") == 2L)
    assert(got(1L).getAs[Long]("n_syllables") == 6L)
    // 206.835 - 1.015*3 - 84.6*1 = 119.19
    assert(math.abs(got(1L).getAs[Double]("flesch_ease") - 119.19) < 1e-6)
    assert(got(1L).getAs[Double]("flesch_ease") >
      got(2L).getAs[Double]("flesch_ease"))
    assert(got(1L).getAs[Double]("fk_grade") <
      got(2L).getAs[Double]("fk_grade"))
  }
}
