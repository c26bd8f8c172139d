package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every lineage cut, cache and release in `src/main/scala` goes
  * through [[Materialize]]: no other file may call `localCheckpoint(`,
  * `.persist(`, `.cache()` or `unpersist(` on a code line. Comment
  * lines are ignored.
  */
class MaterializeGuardSpec extends AnyFunSuite {
  private val raw = """localCheckpoint\(|\.persist\(|\.cache\(\)|unpersist\(""".r
  private val comment = """^\s*(//|/\*|\*)""".r

  test("no raw materialization call outside Materialize.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"missing ${root.toAbsolutePath}")
    val walk = Files.walk(root)
    val sources =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(sources.exists(_.endsWith("graft/Materialize.scala")))
    val hits = for {
      f <- sources if !f.endsWith("graft/Materialize.scala")
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if comment.findFirstIn(line).isEmpty && raw.findFirstIn(line).nonEmpty
    } yield s"${root.relativize(f)}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
