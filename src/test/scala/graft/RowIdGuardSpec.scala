package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** No operator in `src/main/scala` numbers rows with
  * `monotonically_increasing_id(`: its values depend on partitioning,
  * and a per-row computation belongs in a row-local kernel, not in a
  * window or shuffle keyed on a synthetic row id (SCALING.md,
  * "Row-local kernels"). Comment lines are ignored.
  */
class RowIdGuardSpec extends AnyFunSuite {
  private val rowId = """monotonically_increasing_id\(""".r
  private val comment = """^\s*(//|/\*|\*)""".r

  test("no monotonically_increasing_id call in src/main/scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"missing ${root.toAbsolutePath}")
    val walk = Files.walk(root)
    val sources =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(sources.nonEmpty)
    val hits = for {
      f <- sources
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if comment.findFirstIn(line).isEmpty && rowId.findFirstIn(line).nonEmpty
    } yield s"${root.relativize(f)}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
