package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Artifacts

/** S4/S5 JSON artifact roundtrips. */
class ArtifactsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("frame artifact roundtrip preserves rows; timestamps serialize as ISO") {
    import spark.implicits._
    val df = Seq((1L, "a", java.sql.Timestamp.valueOf("2024-01-01 10:00:00")))
      .toDF("id", "s", "ts")
    val path = TestSpark.tempDir("graft-art").toString + "/frame"
    Artifacts.store(df, path)
    val back = Artifacts.load(spark, path)
    assert(back.count() == 1)
    val r = back.collect()(0)
    assert(r.getAs[Long]("id") == 1L)
    assert(r.getAs[String]("ts").startsWith("2024-01-01T10:00:00"))
  }

  test("map artifact roundtrip matches the golden-map shape") {
    val m = Map("merchant" -> Map("Aral Autohof" -> "Aral truck stop"),
      "col2" -> Map("a" -> "b", "c" -> "d"))
    val path = TestSpark.tempDir("graft-art").toString + "/map.json"
    Artifacts.storeMap(m, path)
    assert(Artifacts.loadMap(path) == m)
    // interoperates with the translator loader
    val tr = graft.engine.DictionaryTranslator.fromJson(path)
    assert(tr.translateOne("Aral Autohof") == "Aral truck stop")
  }

  test("map artifact I/O goes through the Hadoop FileSystem API (file: URI)") {
    spark // force a session so the artifact resolves the session's Hadoop conf
    val m = Map("col" -> Map("k" -> "v"))
    val path = s"file:${TestSpark.tempDir("graft-art-fs")}/map.json"
    Artifacts.storeMap(m, path)
    assert(Artifacts.loadMap(path) == m)
    assert(graft.engine.DictionaryTranslator.fromJson(path).translateOne("k") == "v")
  }

  test("map artifacts survive out-of-band rewrites (no checksum side-files)") {
    spark
    val dir = TestSpark.tempDir("graft-art-crc")
    val path = dir.toString + "/map.json"
    Artifacts.storeMap(Map("a" -> Map("k" -> "v")), path)
    // the local ChecksumFileSystem must NOT leave a hidden .crc side-file:
    // it would poison every read after an out-of-band rewrite
    assert(!Files.exists(dir.resolve(".map.json.crc")),
      "checksum side-file written next to the artifact")
    // the reference's own pipeline regenerates its cache JSON in place;
    // the reload must read the new bytes, not fail a stale checksum
    Files.write(java.nio.file.Paths.get(path),
      """{"b":{"x":"y"}}""".getBytes("UTF-8"))
    assert(Artifacts.loadMap(path) == Map("b" -> Map("x" -> "y")))
  }
}
