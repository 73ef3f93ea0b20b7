package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guard: `Sessions` is the only SparkSession factory and
  * `Lanes` the only place that releases every persistent RDD, so a
  * second builder or release loop (with its own config or release
  * sequence) cannot grow back anywhere in main code. */
class OneFactorySpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private def sources: Seq[Path] = {
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    val files = Files.walk(root)
    try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq.sorted
    finally files.close()
  }

  /** Main files matching `pattern`, relative to `src/main/scala`. */
  private def matching(pattern: String): Seq[String] =
    sources.filter(p => pattern.r.findFirstIn(Files.readString(p)).isDefined).map(root.relativize(_).toString)

  test("SparkSession.builder appears only in Sessions") {
    assert(matching("""SparkSession\s*\.\s*builder""") === Seq("graft/Sessions.scala"))
  }

  test("the getPersistentRDDs unpersist loop appears only in Lanes") {
    assert(matching("""getPersistentRDDs[^\n]*\n?[^\n]*unpersist""") === Seq("graft/Lanes.scala"))
  }
}
