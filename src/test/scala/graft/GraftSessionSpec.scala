package graft

import org.scalatest.funsuite.AnyFunSuite

/** Session scratch has one owner: [[GraftSession.stop]] removes the
  * session's own root and the roots of sessions that died without
  * stopping, and nothing a live session may still be writing.
  */
class GraftSessionSpec extends AnyFunSuite {

  test("stop's cleanup removes the session's own root and dead roots, not young ones") {
    val parent = TestSpark.tempDir("graft-scratch").toFile
    val hour = 3600L * 1000
    /** A root holding one table file, its directories `dirAge` old and
      * the file `fileAge` old. */
    def plant(name: String, dirAge: Long, fileAge: Long): java.io.File = {
      val table = new java.io.File(parent, s"$name/events_by_day/day=1")
      assert(table.mkdirs())
      val part = new java.io.File(table, "part-0.parquet")
      java.nio.file.Files.write(part.toPath, Array[Byte](1, 2, 3))
      val now = System.currentTimeMillis()
      Iterator.iterate(table)(_.getParentFile).takeWhile(_ != parent)
        .foreach(_.setLastModified(now - dirAge))
      part.setLastModified(now - fileAge)
      new java.io.File(parent, name)
    }
    try {
      val dead = plant("local-1", 3 * hour, 3 * hour)
      // only the newest mtime anywhere in a root decides its age
      val young = plant("local-2", 3 * hour, hour)
      val own = plant("local-3", 0L, 0L)
      GraftSession.reclaim(parent, Some(own.getName))
      assert(!dead.exists && !own.exists, parent.list().toSeq)
      assert(new java.io.File(young, "events_by_day/day=1/part-0.parquet").exists)
      assert(parent.list().toSeq == Seq("local-2"))
    } finally GraftSession.delete(parent)
  }
}
