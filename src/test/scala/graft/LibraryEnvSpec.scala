package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The library packages take their configuration from parameters and the
  * Spark session, never from the process environment: an env switch in
  * library code is a variant no caller can see. The harness mains
  * (`Bench`, `BenchSweep`, `Verify`, `tools/`) sit outside these packages
  * and may read the environment.
  */
class LibraryEnvSpec extends AnyFunSuite {
  val libraryPackages =
    Seq("core", "functions", "graph", "ops", "sources", "streaming")
  val envRead = """sys\.env|System\.getenv|sys\.props""".r

  test("library packages read no environment variables or system properties") {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"source root ${root.toAbsolutePath} missing")
    val sources = libraryPackages.flatMap { p =>
      val dir = root.resolve(p)
      assert(Files.isDirectory(dir), s"library package $dir missing")
      val walk = Files.walk(dir)
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    assert(sources.nonEmpty)
    val hits = for {
      f: Path <- sources
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if envRead.findFirstIn(line).isDefined
    } yield s"${root.relativize(f)}:${i + 1}: ${line.trim}"
    if (hits.nonEmpty) fail(hits.mkString(
      s"${hits.size} environment read(s) in library code:\n", "\n", ""))
  }
}
