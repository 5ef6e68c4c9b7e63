package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Enrich.{PromptedColumnClassifier, PromptedLanguageDetector}
import graft.sources.Prompts

/** S8 prompt-file source: template load/render and the prompted E1/E2
  * implementations that consume it (reference `config.py:30-32`,
  * `translate.py:36-76,179,196`).
  */
class PromptsSpec extends AnyFunSuite {

  test("shipped templates load from the classpath with the reference's variables") {
    val classifier = Prompts.fromResource("text_column_classifier")
    val detect = Prompts.fromResource("detect_language")
    val schema = Prompts.fromResource("schema_description")
    // same placeholder contract as the reference's format_messages calls
    assert(classifier.variables == Set("column_name", "sample_values"))
    assert(detect.variables == Set("column_name", "sample_values"))
    // the schema description is a plain blob (mapper.py:219 reads it whole)
    assert(schema.variables.isEmpty)
    assert(schema.render(Map.empty) == schema.text)
    // closed answer vocabularies are stated in the templates themselves
    assert(classifier.text.contains("TEXT") && classifier.text.contains("NON-TEXT"))
    assert(detect.text.contains("ENGLISH") && detect.text.contains("NON-ENGLISH"))
  }

  test("render substitutes all placeholders and is strict both ways") {
    val t = Prompts.PromptTemplate("Classify {column_name}:\n{sample_values}\nGo.")
    assert(t.variables == Set("column_name", "sample_values"))
    val out = t.render(Map(
      "column_name" -> "comment",
      "sample_values" -> Prompts.sampleValues(Seq("hello", "world"))))
    assert(out == "Classify comment:\n\n- hello\n- world\nGo.")
    // missing binding fails loudly (format_messages raises too)
    intercept[IllegalArgumentException](t.render(Map("column_name" -> "x")))
    // unknown binding (typo) fails loudly instead of shipping unformatted
    intercept[IllegalArgumentException](t.render(Map(
      "column_name" -> "x", "sample_values" -> "y", "sample_valves" -> "z")))
  }

  test("filesystem templates load like the reference's config paths") {
    val p = TestSpark.tempDir("graft-prompt").resolve("prompt.txt")
    java.nio.file.Files.writeString(p, "Hi {name}!")
    assert(Prompts.load(p.toString).render(Map("name" -> "there")) == "Hi there!")
  }

  test("prompted classifier: closed vocabulary, top-10 truncation, rendered prompt") {
    var seen: String = null
    val classifier = new PromptedColumnClassifier(p => { seen = p; " text \n" })
    assert(classifier.classify("comment", (1 to 15).map(i => s"v$i")) == "TEXT")
    // the rendered prompt carries the column name and the bulleted sample,
    // truncated to 10 values (translate.py:43)
    assert(seen.contains("Column Name: comment"))
    assert(seen.contains("\n- v1\n- v2"))
    assert(seen.contains("- v10") && !seen.contains("- v11"))
    // out-of-vocabulary completions map to UNKNOWN (translate.py:51)
    assert(new PromptedColumnClassifier(_ => "banana")
      .classify("c", Seq("x")) == "UNKNOWN")
    assert(new PromptedColumnClassifier(_ => "non-text")
      .classify("c", Seq("x")) == "NON-TEXT")
  }

  test("prompted detector: one call per sample, UNKNOWN short-circuit on empty") {
    var calls = 0
    val det = new PromptedLanguageDetector(p => { calls += 1; "NON-ENGLISH" })
    assert(det.detect(Seq("der Hund")) == "NON-ENGLISH")
    assert(calls == 1)
    // empty / null-only samples never reach the completion function
    val throwing = new PromptedLanguageDetector(
      _ => throw new IllegalStateException("must not be called"))
    assert(throwing.detect(Seq.empty) == "UNKNOWN")
    assert(throwing.detect(Seq(null, "")) == "UNKNOWN")
    // per-value trait surface delegates through the same call
    assert(new PromptedLanguageDetector(_ => "english").isNonEnglish("hi") == false)
  }

  test("prompted impls slot into the EP2 pipeline seam") {
    val spark = TestSpark.spark
    import spark.implicits._
    val df = Seq(("good service", "A1"), ("der Service war gut", "B2"))
      .toDF("comment", "code")
    // deterministic fake: answers by inspecting the rendered sample block —
    // the same information an LLM would see
    val complete: String => String = p =>
      if (p.contains("classify") || p.contains("classification"))
        { if (p.contains("- A1")) "NON-TEXT" else "TEXT" }
      else { if (p.contains("der ")) "NON-ENGLISH" else "ENGLISH" }
    val report = graft.engine.Pipelines.translatePipeline(
      df,
      new graft.engine.DictionaryTranslator(Map.empty),
      classifier = new PromptedColumnClassifier(complete),
      detector = new PromptedLanguageDetector(complete))
    assert(report.columnLabels("comment") == "TEXT")
    assert(report.columnLabels("code") == "NON-TEXT")
    assert(report.languageLabels("comment") == "NON-ENGLISH")
  }
}
