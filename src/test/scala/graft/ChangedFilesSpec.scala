package graft

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import graft.sources.Ingest

/** `Ingest.changedFiles`: the re-add's mtime short-circuit
  * (`dbops.cpp:441-472`) — only new and touched files come back, with
  * their bytes, and only their bytes are read. */
class ChangedFilesSpec extends SparkSuite {
  import spark.implicits._

  private val Base = 1700000000L

  /** Relative path → (size in bytes, mtime in seconds). */
  private val tree = Seq(
    "b/c.jpg" -> (300, Base),
    "a/b/c.jpg" -> (500, Base + 100), // its suffix b/c.jpg is indexed too, with another mtime
    "x[1].txt" -> (700, Base),
    "dir/*?.bin" -> (900, Base),
    "dir/plain.bin" -> (1100, Base),
    "top.md" -> (1300, Base)
  )

  private def write(root: Path, rel: String, size: Int, mtime: Long): Unit = {
    val p = root.resolve(rel)
    Files.createDirectories(p.getParent)
    Files.write(p, Array.tabulate[Byte](size)(i => (i * 31 + rel.length).toByte))
    Files.setLastModifiedTime(p, FileTime.fromMillis(mtime * 1000L))
  }

  test("only new and touched files come back, with their bytes, and only they are read") {
    val root = Files.createTempDirectory("changed-files").toRealPath()
    tree.foreach { case (rel, (size, mtime)) => write(root, rel, size, mtime) }
    val index = tree.map { case (rel, (_, mtime)) => (rel, mtime) }.toDF("path", "mtime")

    // nothing touched yet: nothing to hash
    assert(Ingest.changedFiles(Ingest.listFiles(spark, root.toString), index).count() === 0)

    val touched = Seq("x[1].txt", "dir/*?.bin")
    touched.foreach(rel => Files.setLastModifiedTime(root.resolve(rel), FileTime.fromMillis((Base + 999) * 1000L)))
    write(root, "new/n.jpg", 1500, Base)
    val expected = (touched :+ "new/n.jpg").map(root.resolve(_)).map(p => p.toString -> Files.readAllBytes(p)).toMap

    val (rows, probe) = JobProbe(spark) {
      Ingest.changedFiles(Ingest.listFiles(spark, root.toString), index)
        .select("abs_path", "mtime", "size", "content")
        .collect()
    }
    assert(rows.map(_.getString(0)).toSet === expected.keySet)
    rows.foreach { r =>
      val want = expected(r.getString(0))
      assert(r.getLong(2) === want.length.toLong)
      assert(r.getAs[Array[Byte]](3).sameElements(want), r.getString(0))
    }
    assert(rows.find(_.getString(0).endsWith("n.jpg")).map(_.getLong(1)) === Some(Base))
    // the bytes of the changed files, read once; the unchanged files' 3.9 kB are never read
    val changedBytes = expected.values.map(_.length.toLong).sum
    assert(probe.inputBytes >= changedBytes && probe.inputBytes < changedBytes + 512, probe)
  }

  test("a path that is a suffix of another matches the longest indexed path") {
    val root = Files.createTempDirectory("changed-suffix").toRealPath()
    tree.foreach { case (rel, (size, mtime)) => write(root, rel, size, mtime) }
    val index = tree.map { case (rel, (_, mtime)) => (rel, mtime) }.toDF("path", "mtime")
    // a/b/c.jpg ends with the indexed b/c.jpg, whose mtime differs from
    // its own: it is unchanged all the same
    Files.setLastModifiedTime(root.resolve("b/c.jpg"), FileTime.fromMillis((Base + 5) * 1000L))
    val got = Ingest.changedFiles(Ingest.listFiles(spark, root.toString), index).select("abs_path").as[String].collect()
    assert(got.toSeq === Seq(root.resolve("b/c.jpg").toString))
  }
}
