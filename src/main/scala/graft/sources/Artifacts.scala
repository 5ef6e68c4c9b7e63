package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.jdk.CollectionConverters._

/** JSON artifact checkpoints (SURVEY.md §2.1 S4/S5).
  *
  * The reference materializes every pipeline stage to pretty JSON and
  * reloads it (`preprocess.py:95-110` store with Timestamp→ISO conversion;
  * reload at `translate.py:175-176` etc.) — its only recovery/debugging
  * mechanism. Here the same artifact pattern exists in two scales:
  *   - frame artifacts: `df.write.json` (Spark's JSON writer emits ISO
  *     timestamps natively, matching the reference's conversion) and
  *     `spark.read.json` — splittable, any size;
  *   - map artifacts (the reference's `{col → {orig → translated}}` shapes):
  *     driver-side Jackson, because they are dictionary-sized by
  *     construction and consumed driver-side.
  */
object Artifacts {

  /** S4: checkpoint a frame as JSON (one file per partition; coalesce
    * yourself if a single debuggable file is wanted).
    */
  def store(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** S5: reload a frame artifact (schema re-inferred, as the reference's
    * json.load does).
    */
  def load(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  /** The map artifacts are driver-sized by contract, but a real pipeline
    * checkpoints them NEXT TO the frame artifacts on cluster storage, so
    * the byte I/O goes through the Hadoop `FileSystem` resolved from the
    * active session's configuration — `file:`, `hdfs:` and `s3a:` paths
    * all work; a bare local path keeps working via the default scheme.
    *
    * A PRIVATE (non-cached) FileSystem instance is used with client-side
    * checksums off, then closed. Two reasons: the cached instance is
    * shared JVM-wide (mutating its checksum flags would leak into Spark's
    * own I/O), and the local ChecksumFileSystem otherwise writes hidden
    * `.crc` side-files next to every artifact — an out-of-band rewrite of
    * the JSON (the reference's Python pipeline regenerating its cache, a
    * hand edit) would then fail every later read with ChecksumException.
    */
  private[sources] def withFs[T](path: org.apache.hadoop.fs.Path)(
      f: org.apache.hadoop.fs.FileSystem => T): T = {
    val conf = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    val fs = org.apache.hadoop.fs.FileSystem.newInstance(path.toUri, conf)
    try {
      fs.setWriteChecksum(false)
      fs.setVerifyChecksum(false)
      f(fs)
    } finally fs.close()
  }

  /** S4 for nested map artifacts. */
  def storeMap(m: Map[String, Map[String, String]], path: String): Unit = {
    val mapper = new ObjectMapper()
    val node = mapper.createObjectNode()
    m.toSeq.sortBy(_._1).foreach { case (k, inner) =>
      val innerNode = node.putObject(k)
      inner.toSeq.sortBy(_._1).foreach { case (ik, iv) => innerNode.put(ik, iv) }
    }
    val p = new org.apache.hadoop.fs.Path(path)
    withFs(p) { fs =>
      // FSDataOutputStream is both a DataOutput and an OutputStream; pin
      // the OutputStream overload.
      val out: java.io.OutputStream = fs.create(p, true)
      try mapper.writerWithDefaultPrettyPrinter().writeValue(out, node)
      finally out.close()
    }
  }

  /** S5 for nested map artifacts (same shape as
    * `cache/translated-map.json`).
    */
  def loadMap(path: String): Map[String, Map[String, String]] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val root = withFs(p) { fs =>
      val in = fs.open(p)
      try new ObjectMapper().readTree(in) finally in.close()
    }
    root.properties().asScala.map { e =>
      e.getKey -> e.getValue.properties().asScala
        .map(f => f.getKey -> f.getValue.asText()).toMap
    }.toMap
  }
}
