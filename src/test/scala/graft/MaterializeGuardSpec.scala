package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Pins the materialization rule without a Spark session: the scoped
  * helper is the only cache in main, so no caller ever owns one. The frozen
  * Bench and Verify harnesses keep their historical release calls, which
  * are no-ops now.
  */
class MaterializeGuardSpec extends AnyFunSuite {
  test("main code caches only through Materialize.scoped; clearCache only in the frozen harnesses") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    def hits(allowed: Set[String], pattern: String): Seq[String] = files
      .filterNot(f => allowed(f.getFileName.toString))
      .flatMap { f: Path =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if pattern.r.findFirstIn(line).isDefined => s"$f:${i + 1}: ${line.trim}"
        }
      }
    val caches = hits(Set("Materialize.scala", "Bench.scala"),
      """\.persist\(|\.cache\(\)|unpersist\(""")
    assert(caches.isEmpty, caches.mkString("\n"))
    val clears = hits(Set("Bench.scala", "Verify.scala"), "clearCache")
    assert(clears.isEmpty, clears.mkString("\n"))
  }
}
