package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Every main builds its session through [[GraftSession.local]], and the
  * gate/CC debug env knobs stay deleted: scans the main sources (comment
  * lines ignored) so neither the session-builder copies nor the knobs
  * grow back.
  */
class SessionFactorySpec extends AnyFunSuite {

  private val mainDir = Paths.get(sys.props("user.dir"), "src", "main", "scala")

  /** (file, line) for every non-comment line of every main source. */
  private lazy val codeLines: Seq[(Path, String)] = {
    assert(Files.isDirectory(mainDir), s"main sources not found at $mainDir")
    val st = Files.walk(mainDir)
    val files = try st.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
                finally st.close()
    assert(files.nonEmpty)
    for {
      f <- files
      line <- Files.readAllLines(f).asScala
      t = line.trim
      if !(t.startsWith("//") || t.startsWith("*") || t.startsWith("/*"))
    } yield f -> line
  }

  private def offenders(p: String => Boolean): Seq[String] =
    codeLines.collect { case (f, l) if p(l) => s"${mainDir.relativize(f)}: ${l.trim}" }

  test("only GraftSession.scala calls SparkSession.builder()") {
    val builder = """SparkSession\s*\.\s*builder\b""".r
    val hits = offenders(l => builder.findFirstIn(l).isDefined)
    assert(hits.nonEmpty, "the factory itself must be found by the scan")
    assert(hits.forall(_.startsWith("graft/GraftSession.scala:")),
      hits.mkString("session built outside GraftSession:\n", "\n", ""))
  }

  test("no GRAFT_GATE_* or GRAFT_CC_* env lookup in main sources") {
    val knob = """GRAFT_(GATE|CC)_""".r
    val hits = offenders(l => knob.findFirstIn(l).isDefined)
    assert(hits.isEmpty, hits.mkString("debug/A-B env knob:\n", "\n", ""))
  }
}
