package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Enrich.{HeuristicColumnClassifier, HeuristicLanguageDetector}

/** E1/E2 heuristic engines on reference-shaped inputs (German/Spanish/
  * Swedish strings drawn from the golden `cache/translated-map.json` keys).
  */
class EnrichSpec extends AnyFunSuite {

  test("E1 classifier: free text vs codes/ids/numbers") {
    val c = HeuristicColumnClassifier
    assert(c.classify("priority", Seq("1-URGENT", "2-HIGH", "4-NOT SPECIFIED")) == "TEXT")
    assert(c.classify("merchant", Seq("Aral Autohof", "Deutsche Bahn", "Clean Car Gmbh")) == "TEXT")
    assert(c.classify("status", Seq("F", "O", "P")) == "NON-TEXT")
    assert(c.classify("brand", Seq("Brand#1", "Brand#22", "Brand#13")) == "NON-TEXT")
    assert(c.classify("ids", Seq("Customer#000000001", "Customer#000000002")) == "NON-TEXT")
    assert(c.classify("amounts", Seq("12.5", "1,300.00", "-7")) == "NON-TEXT")
    assert(c.classify("dates", Seq("2024-01-01", "2024/02/03")) == "NON-TEXT")
    assert(c.classify("empty", Seq.empty) == "UNKNOWN")
    assert(c.classify("blank", Seq("", "  ")) == "UNKNOWN")
  }

  test("E2 detector: per-value scoring") {
    val d = HeuristicLanguageDetector
    assert(d.isNonEnglish("Fortbildungskosten für Mitarbeiter")) // non-ASCII ü
    assert(d.isNonEnglish("der Zug und das Auto"))               // de stopwords
    assert(d.isNonEnglish("el coche y los trenes"))              // es stopwords
    assert(d.isNonEnglish("Resor och parkering"))                // sv stopwords
    assert(!d.isNonEnglish("Long-distance domestic transport"))
    assert(!d.isNonEnglish("Hotel"))                             // shared vocab -> English default
    assert(!d.isNonEnglish("the train and the car"))
  }

  test("E2 detector: column label follows 'any one non-English' prompt rule") {
    val d = HeuristicLanguageDetector
    assert(d.detect(Seq("Hotel", "Travel costs", "KM Geld und Spesen")) == "NON-ENGLISH")
    assert(d.detect(Seq("Hotel", "Travel costs", "Parking")) == "ENGLISH")
    assert(d.detect(Seq.empty) == "UNKNOWN")
  }

  test("E2 expression form agrees with driver-side form") {
    val spark = TestSpark.spark
    import spark.implicits._
    val vals = Seq(
      "Fortbildungskosten für Mitarbeiter", "der Zug und das Auto",
      "el coche y los trenes", "Resor och parkering", "Hotel",
      "Long-distance domestic transport", "the train and the car",
      // non-ASCII NON-letters must not flag: both forms say English
      "Price — 100", "20 °C costs €5")
    val viaExpr = vals.toDF("v")
      .select(HeuristicLanguageDetector.isNonEnglishExpr($"v").as("ne"))
      .collect().map(_.getBoolean(0)).toSeq
    assert(viaExpr == vals.map(HeuristicLanguageDetector.isNonEnglish))
  }

  test("d5 mixture weights upsample under-represented domains (direction pinned)") {
    // The driver corpora are perfectly uniform across sources (every
    // weight is exactly 1.0), so the oracle gate cannot distinguish
    // weight = target/actual from its inversion; a skewed corpus pins the
    // direction: rare sources must get weight > 1.
    val spark = TestSpark.spark
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-d5").toString
    (Seq((1L, "a"), (2L, "b")) ++ (3L to 7L).map(i => (i, "c")))
      .toDF("doc_id", "source")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = graft.operators.Enrichment.mixtureWeights(spark, dir).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_docs"), r.getAs[Double]("share"), r.getAs[Double]("weight")))
      .toMap
    // shares 1/7, 1/7, 5/7; uniform target 1/3 -> weights 7/3, 7/3, 7/15
    assert(rows("a") == ((1L, 0.142857, 2.333333)))
    assert(rows("b") == ((1L, 0.142857, 2.333333)))
    assert(rows("c") == ((5L, 0.714286, 0.466667)))
  }

  test("d6 temperature weights damp the upsampling relative to d5 (direction pinned)") {
    // Same skew-pinning rationale as d5 (the driver corpora are uniform):
    // rare domains must be upsampled (weight > 1 relative to the majority
    // domain's) but LESS aggressively than the uniform-target weight — at
    // T=2, weight = sqrt(N/n): sqrt(7/1) vs d5's 7/3 for the rare domains.
    val spark = TestSpark.spark
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-d6").toString
    (Seq((1L, "a"), (2L, "b")) ++ (3L to 7L).map(i => (i, "c")))
      .toDF("doc_id", "source")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = graft.operators.Enrichment.temperatureWeights(spark, dir).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_docs"), r.getAs[Double]("temp_weight")))
      .toMap
    assert(rows("a") == ((1L, 2.645751)))   // sqrt(7)
    assert(rows("b") == ((1L, 2.645751)))
    assert(rows("c") == ((5L, 1.183216)))   // sqrt(7/5)
    // damping: rare/majority ratio is sqrt(5) here vs d5's factor 5
    assert(rows("a")._2 / rows("c")._2 < 2.333333 / 0.466667)
  }

  test("d11 split co-locates duplicate content across sources and ids") {
    // The leak-proof law the gated aggregate cannot show: documents with
    // the SAME normalized text (different ids, different sources, messy
    // whitespace/case) must land in the SAME split, because the split
    // key is the content fingerprint. Distinct texts spread over
    // buckets; every doc gets exactly one split label.
    val spark = TestSpark.spark
    import spark.implicits._
    val docs = Seq(
      (1L, "web", "The quick brown fox jumps over the lazy dog"),
      (2L, "news", "the  quick Brown fox jumps over the lazy dog "),
      (3L, "web", "An entirely different document about trains"),
      (4L, "code", "AN ENTIRELY   different Document about trains"),
      (5L, "web", "A third text with no duplicate anywhere")
    ).toDF("doc_id", "source", "text")
    val got = graft.operators.Enrichment.leakproofSplitCore(docs)
      .select("doc_id", "fp", "split").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(got.size == 5)
    assert(got(1L) == got(2L), "exact near-dup pair must share fp + split")
    assert(got(3L) == got(4L), "case/whitespace variants must share fp + split")
    assert(got(1L)._1 != got(3L)._1)
    val splits = got.values.map(_._2).toSet
    assert(splits.subsetOf(Set("train", "val", "test")))
  }
}
