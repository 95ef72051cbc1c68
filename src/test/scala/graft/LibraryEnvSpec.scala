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
  val root = Paths.get("src/main/scala/graft")

  /** `path:line: text` of every library source line matching `hit`. */
  def libraryLines(hit: String => Boolean): Seq[String] = {
    assert(Files.isDirectory(root), s"source root ${root.toAbsolutePath} missing")
    val sources = libraryPackages.flatMap { p =>
      val dir = root.resolve(p)
      assert(Files.isDirectory(dir), s"library package $dir missing")
      val walk = Files.walk(dir)
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    assert(sources.nonEmpty)
    for {
      f: Path <- sources
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if hit(line)
    } yield s"${root.relativize(f)}:${i + 1}: ${line.trim}"
  }

  test("library packages read no environment variables or system properties") {
    val hits = libraryLines(envRead.findFirstIn(_).isDefined)
    if (hits.nonEmpty) fail(hits.mkString(
      s"${hits.size} environment read(s) in library code:\n", "\n", ""))
  }

  test("library packages never write to System.err") {
    // a loop that cannot finish throws NotConverged; progress and timing
    // output belongs to the harness mains (or to a traced run)
    val hits = libraryLines("""System\.err|Console\.err""".r
      .findFirstIn(_).isDefined)
    if (hits.nonEmpty) fail(hits.mkString(
      s"${hits.size} stderr write(s) in library code:\n", "\n", ""))
  }

  test("library packages read observed metrics only through core.Observations") {
    // Observation.get waits without a bound for its listener-bus event
    val rawGet = """\bobs\w*\.(get|getAsJava|getOrEmpty|getRow)\b""".r
    val hits = libraryLines(rawGet.findFirstIn(_).isDefined)
    if (hits.nonEmpty) fail(hits.mkString(
      s"${hits.size} unbounded Observation read(s) in library code:\n",
      "\n", ""))
  }

  test("graph loops read observed metrics only through Superstep") {
    // the join-path loops observe their stop metric in Superstep's round
    // checkpoint; EdgeUpdates reads its action count outside any loop
    val allowed = Set("graph/Superstep.scala", "graph/EdgeUpdates.scala")
    val hits = libraryLines(_.contains("Observations.metric"))
      .filter(h => h.startsWith("graph/") &&
        !allowed.contains(h.takeWhile(_ != ':')))
    if (hits.nonEmpty) fail(hits.mkString(
      s"${hits.size} observed-metric read(s) in graph code outside " +
        "Superstep:\n", "\n", ""))
  }
}
