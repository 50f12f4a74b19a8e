package graft.util

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source tripwire for the cache-lifetime rule: the operator, query,
  * streaming and GTFS layers release cached storage only through
  * [[PlanCache]] (`scoped`, `free`, `clear`). A raw `.unpersist(` or a
  * `StorageLevel` there means a module decided a release on its own
  * again — the per-site pattern that leaked on throws and evicted
  * shared entries.
  */
class CacheLifetimeTripwireSpec extends AnyFunSuite {

  private val layers = Seq("ops", "queries", "streaming", "gtfs")
  private val banned = Seq(".unpersist(", "StorageLevel")

  /** `file:line: token` for every banned token under `dir`. */
  private def scan(dir: Path): Seq[String] =
    Files.walk(dir).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { f =>
        Files.readAllLines(f).asScala.zipWithIndex.flatMap { case (line, i) =>
          banned.filter(line.contains).map(b => s"$f:${i + 1}: $b")
        }
      }

  test("ops/queries/streaming/gtfs release storage only through PlanCache") {
    val root = Paths.get("src/main/scala/graft")
    assume(Files.isDirectory(root), "run from the repo root")
    val dirs = layers.map(root.resolve)
    dirs.foreach(d => assert(Files.isDirectory(d), s"missing layer $d"))
    val hits = dirs.flatMap(scan)
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  test("positive control: a raw unpersist in a scanned file is reported") {
    val dir = Files.createTempDirectory("tripwire")
    try {
      val f = dir.resolve("Leak.scala")
      Files.write(f, Seq("object Leak {", "  df.unpersist()", "}").asJava)
      assert(scan(dir) == Seq(s"$f:2: .unpersist("))
    } finally {
      Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    }
  }
}
