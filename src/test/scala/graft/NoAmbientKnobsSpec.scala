package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** No ambient env var may silently change results or plans. Library code
  * under src/main/scala reads no environment at all: a result or plan
  * setting is a constant in code. Only files that define a `main` may
  * read the environment, for deployment settings (cores, input dir,
  * artifact path). `sys.props` stays allowed — `java.io.tmpdir` is a
  * path, not a knob. Scans source text, so a new read fails here naming
  * `file:line`.
  */
class NoAmbientKnobsSpec extends AnyFunSuite {
  private val EnvRead = """\bsys\.env\b|\bSystem\.getenv\b""".r

  private def librarySources: Seq[Path] = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toVector.sortBy(_.toString)
    finally walk.close()
  }

  test("the matcher flags env reads and passes sys.props") {
    assert(EnvRead.findFirstIn("""sys.env.getOrElse("X", "1")""").isDefined)
    assert(EnvRead.findFirstIn("""System.getenv("X")""").isDefined)
    assert(EnvRead.findFirstIn("""sys.props("java.io.tmpdir")""").isEmpty)
  }

  test("no sys.env or System.getenv outside files that define a main") {
    val files = librarySources
    assert(files.exists(_.endsWith("queries/DedupQueries.scala")),
      s"scan found no library sources under src/main/scala (${files.size} files)")
    val hits = for {
      f <- files
      text = new String(Files.readAllBytes(f), "UTF-8")
      if !text.contains("def main(")
      (line, i) <- text.linesIterator.zipWithIndex
      if EnvRead.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("env reads outside a main:\n", "\n", ""))
  }
}
