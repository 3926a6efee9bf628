package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The engine packages read no environment variable or JVM system
  * property: every engine decision is a constant, derived from its inputs,
  * or an explicit API argument. Deployment settings (`graft.app.Main`) and
  * the top-level dev mains are outside these packages. */
class EngineKnobsSpec extends AnyFunSuite {

  private val enginePackages = Seq("tables", "operators", "streaming", "sources", "etl")
  private val reads = Seq("sys.env", "sys.props", "System.getenv", "System.getProperty")

  test("engine packages read no env var or system property") {
    val sources = enginePackages.flatMap { pkg =>
      val dir = Paths.get("src/main/scala/graft", pkg)
      assert(Files.isDirectory(dir), s"$dir not found (run from the repository root)")
      val walk = Files.walk(dir)
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    assert(sources.size > 20, s"only ${sources.size} engine sources found")
    val hits = for {
      f: Path <- sources
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      r <- reads if line.contains(r)
    } yield s"$f:${i + 1}: $r"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
