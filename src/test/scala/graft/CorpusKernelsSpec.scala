package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.CorpusKernels._
import graft.ReferenceForms._
import graft.functions.TextFunctions.{tokenSet, tokensOrdered}
import graft.operators.Dedup.shinglesOf

/** Each corpus kernel returns what the builtin composition it replaced
  * returns — on sf0.01 rows and on planted edge cases — through generated
  * code (`CODEGEN_ONLY`, whole-stage codegen on) and through the
  * interpreter (`NO_CODEGEN`, whole-stage codegen off). Planted frames are
  * built from an RDD, not a local relation, so the optimizer cannot fold
  * the projection with the interpreter before either path runs.
  */
class CorpusKernelsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.01"

  private def withConf[A](kv: (String, String)*)(body: => A): A = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** `body` once per eval path; columns must be built inside `body`. */
  private def inBothPaths(body: => Unit): Unit =
    Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false").foreach {
      case (mode, wholeStage) =>
        withConf("spark.sql.codegen.factoryMode" -> mode,
          "spark.sql.codegen.wholeStage" -> wholeStage)(body)
    }

  /** Every row's kernel value equals its reference value; returns rows. */
  private def same(df: DataFrame, kernel: Column, reference: Column): Array[Row] = {
    val rows = df.select(kernel.as("k"), reference.as("r")).collect()
    rows.foreach(r => assert(r.get(0) == r.get(1), r))
    rows
  }

  private def frame(schema: StructType, rows: Row*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  private val longs = ArrayType(LongType)
  private def v6(c: Column): Column =
    transform(c, x => round(x.cast("double") * lit(1e6)).cast("long"))

  test("long_sq_l2 equals the zip_with fold on sf0.01 vectors") {
    val e = Tables.t(spark, sf, "embeddings").limit(60)
      .select(v6(col("embedding")).as("v"))
    val pairs = e.alias("a").crossJoin(e.alias("b"))
    inBothPaths {
      val rows = same(pairs, longSqL2(col("a.v"), col("b.v")),
        longSqL2Builtin(col("a.v"), col("b.v")))
      assert(rows.length == 3600 && rows.forall(!_.isNullAt(0)))
    }
  }

  test("long_sq_l2: nulls, ragged and empty arrays, ties and overflow") {
    val big = 2200000000L // one square fits a long, two squares do not
    val df = frame(StructType(Seq(StructField("a", longs), StructField("b", longs))),
      Row(null, Seq(1L)),
      Row(Seq(1L, 2L), null),
      Row(Seq(1L, null, 3L), Seq(1L, 2L, 3L)),
      Row(Seq(1L, 2L), Seq(1L, 2L, 3L)),
      Row(Seq(), Seq()),
      Row(Seq(), Seq(5L)),
      Row(Seq(-3L, 4L), Seq(3L, -4L)),
      Row(Seq(null, big, big), Seq(0L, 0L, 0L)))
    inBothPaths {
      val got = same(df, longSqL2(col("a"), col("b")), longSqL2Builtin(col("a"), col("b")))
        .map(r => Option(r.get(0)))
      assert(got.toSeq == Seq(None, None, None, None, Some(0L), None, Some(100L), None))
    }
    // Equal distances, and a ragged centroid whose NULL distance sorts
    // first: the argmin over (d2, cid) structs picks the same centroid.
    val cents = StructType(Seq(StructField("cid", LongType), StructField("c6", longs)))
    val ties = frame(StructType(Seq(StructField("v", longs),
        StructField("cents", ArrayType(cents)))),
      Row(Seq(0L, 0L), Seq(Row(0L, Seq(1L, 0L)), Row(1L, Seq(0L, 1L)), Row(2L, Seq(0L, -1L)))),
      Row(Seq(0L, 0L), Seq(Row(0L, Seq(2L, 0L)), Row(1L, Seq(1L, 0L)), Row(2L, Seq(0L, 1L)))),
      Row(Seq(0L, 0L), Seq(Row(0L, Seq(1L, 0L)), Row(1L, Seq(7L)))))
    def nearest(dist: (Column, Column) => Column): Column =
      array_min(transform(col("cents"), c =>
        struct(dist(col("v"), c.getField("c6")).as("d2"), c.getField("cid").as("cid"))))
        .getField("cid")
    inBothPaths {
      val got = same(ties, nearest(longSqL2), nearest(longSqL2Builtin)).map(_.getLong(0))
      assert(got.toSeq == Seq(0L, 1L, 1L))
    }
    // Overflow in `-`, in `*`, in `*` after a NULL, and in `+`: both raise
    // under ANSI and both wrap the same way without it.
    val over = Seq(
      Row(Seq(Long.MaxValue), Seq(-1L)),
      Row(Seq(3037000500L), Seq(0L)),
      Row(Seq(null, Long.MaxValue), Seq(1L, -1L)),
      Row(Seq(big, big), Seq(0L, 0L)))
    over.foreach { row =>
      val df1 = frame(StructType(Seq(StructField("a", longs), StructField("b", longs))), row)
      inBothPaths {
        withConf("spark.sql.ansi.enabled" -> "true") {
          Seq(longSqL2 _, longSqL2Builtin _).foreach { f =>
            val e = intercept[Exception](df1.select(f(col("a"), col("b"))).collect())
            assert(String.valueOf(e.getMessage).contains("ARITHMETIC_OVERFLOW"), e)
          }
        }
        withConf("spark.sql.ansi.enabled" -> "false") {
          same(df1, longSqL2(col("a"), col("b")), longSqL2Builtin(col("a"), col("b")))
        }
      }
    }
  }

  private lazy val docs = Tables.t(spark, sf, "documents")
    .select(tokensOrdered(col("text")).as("t"), tokenSet(col("text")).as("ts"))

  /** `body` under both of `lower`'s case-mapping implementations. */
  private def inBothCaseMappings(body: => Unit): Unit =
    Seq("true", "false").foreach { icu =>
      withConf("spark.sql.icu.caseMappings.enabled" -> icu)(body)
    }

  test("tokens equals the lower/split/array_remove tokenizer for every code point") {
    val cps = spark.sparkContext
      .parallelize(0 to Character.MAX_CODE_POINT, 4)
      .filter(cp => cp < Character.MIN_SURROGATE || cp > Character.MAX_SURROGATE)
      .map(cp => Row(cp, "a" + new String(Character.toChars(cp)) + "b"))
    val df = spark.createDataFrame(cps, StructType(Seq(
      StructField("cp", IntegerType), StructField("s", StringType))))
    inBothCaseMappings {
      inBothPaths {
        val diff = df.select(col("cp"), tokens(col("s")).as("k"),
            tokensBuiltin(col("s")).as("r"))
          .filter(!(col("k") <=> col("r")))
          .limit(20).collect()
        assert(diff.isEmpty, diff.map(r => f"U+${r.getInt(0)}%04X ${r.get(1)} ${r.get(2)}")
          .mkString(", "))
      }
    }
    assert(df.count() == Character.MAX_CODE_POINT + 1 - 2048)
  }

  test("tokens: null, empty, blank, ß, final sigma, the two ASCII-lowering code points, malformed UTF-8") {
    val df = frame(StructType(Seq(StructField("text", StringType), StructField("hex", StringType))),
      Row(null, null),
      Row("", null),
      Row(" \t\n ", null),
      Row("Straße", null),
      Row("ΟΔΟΣ abc ΣΑΣ", null),
      Row("aİb İ \u212Aelvin", null),
      Row("Don't STOP-me now3x", null),
      Row(null, "C341"),        // truncated 2-byte lead, then A
      Row(null, "41E28442"),    // truncated 3-byte sequence between letters
      Row(null, "FF41C4B0BF42"), // invalid byte, A, U+0130, stray continuation, B
      Row(null, "E284AAE284"),  // U+212A, then a truncated copy of it
      Row(null, "EDA080617A"))  // an encoded surrogate, then az
    val text = when(col("hex").isNotNull, unhex(col("hex")).cast("string"))
      .otherwise(col("text"))
    inBothCaseMappings {
      inBothPaths {
        val got = same(df, tokens(text), tokensBuiltin(text))
          .map(r => Option(r.getSeq[String](0)).map(_.toList))
        assert(got.toSeq == Seq(None, Some(Nil), Some(Nil), Some(List("stra", "e")),
          Some(List("abc")), Some(List("ai", "b", "i", "kelvin")),
          Some(List("don", "t", "stop", "me", "now", "x")),
          Some(List("a")), Some(List("a", "b")), Some(List("ai", "b")),
          Some(List("k")), Some(List("az"))))
      }
    }
  }

  test("tokens, bigrams and minhash_sig equal their compositions on sf0.01 documents") {
    val text = Tables.t(spark, sf, "documents").select(col("text"))
    val sh = docs.select(shinglesOf(col("t")).as("sh"))
    inBothPaths {
      same(text, tokens(col("text")), tokensBuiltin(col("text")))
      val bg = same(docs, bigrams(col("t")), bigramsBuiltin(col("t")))
      assert(bg.exists(_.getSeq[String](0).nonEmpty))
      Seq(1, 8).foreach { n =>
        val sig = same(sh, minhashSig(col("sh"), n), minhashSigBuiltin(col("sh"), n))
        assert(sig.exists(r => !r.getSeq[String](0).contains(null)))
      }
    }
  }

  test("bigrams: null array, 0, 1 and 2 tokens, a null token") {
    val df = frame(StructType(Seq(StructField("t", ArrayType(StringType)))),
      Row(null),
      Row(Seq()),
      Row(Seq("a")),
      Row(Seq("a", "b")),
      Row(Seq("a", null, "b")),
      Row(Seq("a", "b", "a", "b")))
    inBothPaths {
      val got = same(df, bigrams(col("t")), bigramsBuiltin(col("t")))
        .map(r => Option(r.getSeq[String](0)).map(_.toList))
      assert(got.toSeq == Seq(None, Some(Nil), Some(Nil), Some(List("a b")),
        Some(List(null, null)), Some(List("a b", "b a", "a b"))))
    }
  }

  test("minhash_sig: null array, empty set, one shingle, a null shingle") {
    val df = frame(StructType(Seq(StructField("sh", ArrayType(StringType)))),
      Row(null),
      Row(Seq()),
      Row(Seq("a b")),
      Row(Seq(null)),
      Row(Seq("a b", null, "b c")))
    val md5Hex = (s: String) => java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val windows = (s: String) => md5Hex(s).grouped(4).toList
    inBothPaths {
      val got = same(df, minhashSig(col("sh"), 8), minhashSigBuiltin(col("sh"), 8))
        .map(r => Option(r.getSeq[String](0)).map(_.toList))
      val nulls = Some(List.fill[String](8)(null))
      assert(got.toSeq == Seq(None, nulls, Some(windows("a b")), nulls,
        Some(windows("a b").zip(windows("b c")).map { case (x, y) => Seq(x, y).min })))
    }
  }

  test("kgram_md5 equals the md5(concat_ws(slice)) windows on sf0.01 documents") {
    inBothPaths {
      Seq(1, 5, 8).foreach { k =>
        val rows = same(docs, kgramMd5(col("t"), k), kgramMd5Builtin(col("t"), k))
        assert(rows.exists(_.getSeq[String](0).nonEmpty))
      }
    }
  }

  test("kgram_md5: null array, null token, empty array, k > n, k = n, non-ASCII") {
    val df = frame(StructType(Seq(StructField("t", ArrayType(StringType)))),
      Row(null),
      Row(Seq("a", null, "b", "c")),
      Row(Seq(null, null, null)),
      Row(Seq()),
      Row(Seq("a", "b")),
      Row(Seq("a", "b", "c")),
      Row(Seq("größe", "日本語", "😀", "naïve", "x")))
    inBothPaths {
      val got = same(df, kgramMd5(col("t"), 3), kgramMd5Builtin(col("t"), 3))
        .map(r => Option(r.getSeq[String](0)).map(_.toList))
      val md5Hex = (s: String) => java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(got(0).isEmpty)
      assert(got(1).contains(List(md5Hex("a b"), md5Hex("b c"))))
      assert(got(2).contains(List(md5Hex(""))))
      assert(got(3).contains(Nil) && got(4).contains(Nil))
      assert(got(5).contains(List(md5Hex("a b c"))))
      assert(got(6).contains(List(md5Hex("größe 日本語 😀"),
        md5Hex("日本語 😀 naïve"), md5Hex("😀 naïve x"))))
    }
  }

  test("simhash60 and token60 equal the md5-prefix vote fold on sf0.01 documents") {
    val toks = docs.select(explode(col("ts")).as("tok"))
    inBothPaths {
      val fps = same(docs, simhash60(col("ts")), simhash60Builtin(col("ts")))
      assert(fps.count(_.isNullAt(0)) < fps.length)
      same(toks, token60(col("tok")), token60Builtin(col("tok")))
    }
  }

  test("simhash60: null set, null token, empty set, one token, non-ASCII") {
    val df = frame(StructType(Seq(StructField("ts", ArrayType(StringType)))),
      Row(null),
      Row(Seq()),
      Row(Seq(null)),
      Row(Seq("spark")),
      Row(Seq("spark", null, "shuffle")),
      Row(Seq("größe", "日本語", "😀", "naïve")))
    inBothPaths {
      val got = same(df, simhash60(col("ts")), simhash60Builtin(col("ts")))
        .map(r => Option(r.get(0)))
      assert(got(0).isEmpty && got(1).isEmpty)
      assert(got(2).contains(0L))
      val tok = frame(StructType(Seq(StructField("s", StringType))),
        Row("spark"), Row(null), Row("😀"))
      val hashes = same(tok, token60(col("s")), token60Builtin(col("s")))
      // one token votes for exactly its own hash's bits
      assert(got(3).contains(hashes(0).getLong(0)))
      assert(hashes(1).isNullAt(0))
    }
  }
}
