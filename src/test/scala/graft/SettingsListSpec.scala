package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import scala.util.Using

/** The knob surface of `src/main` is exactly the README "Settings" list:
  * every environment variable and system property the library and its
  * mains read is documented there, and nothing documented there is gone
  * from the code. A new `sys.env` / `sys.props` / `System.getenv` /
  * `System.getProperty` read fails this spec until it gets its README line.
  */
class SettingsListSpec extends AnyFunSuite {
  private val mainRoot = Paths.get("src/main/scala")

  /** A read call, then its first argument: a string literal, or anything
    * else (which the spec rejects — a computed name cannot be listed).
    */
  private val Read =
    """(sys\.env|sys\.props|System\.getenv|System\.getProperty)(\.\w+)?\s*\(\s*("([^"]*)")?""".r

  private def readsIn(src: String): Seq[Either[String, String]] =
    Read.findAllMatchIn(src).map { m =>
      Option(m.group(4)).toRight(src.substring(m.start, math.min(src.length, m.end + 40)))
    }.toSeq

  private def codeNames: Map[String, Seq[Path]] = {
    val files = Using.resource(Files.walk(mainRoot))(
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList)
    val reads = files.flatMap(f => readsIn(Files.readString(f)).map(_ -> f))
    val computed = reads.collect { case (Left(ctx), f) => s"$f: $ctx" }
    assert(computed.isEmpty, s"reads without a literal name:\n${computed.mkString("\n")}")
    reads.collect { case (Right(n), f) => n -> f }.groupMap(_._1)(_._2)
  }

  private def readmeNames: Set[String] = {
    val lines = Files.readAllLines(Paths.get("README.md")).asScala
    val section = lines.dropWhile(_ != "## Settings").drop(1).takeWhile(!_.startsWith("## "))
    assert(section.nonEmpty, "README.md has no \"## Settings\" section")
    val Item = """- `([^`]+)` — .+""".r
    section.collect { case Item(name) => name }.toSet
  }

  test("the reads in src/main/scala are exactly the README Settings list") {
    val code = codeNames
    val readme = readmeNames
    val undocumented = code.keySet -- readme
    val stale = readme -- code.keySet
    assert(undocumented.isEmpty, "read in src/main but missing from README Settings: " +
      undocumented.toSeq.sorted.map(n => s"$n (${code(n).distinct.mkString(", ")})").mkString("; "))
    assert(stale.isEmpty, s"listed in README Settings but read nowhere: ${stale.toSeq.sorted.mkString(", ")}")
  }

  test("the diagnostic mains package stays deleted") {
    assert(Files.isDirectory(mainRoot), s"run from the repository root ($mainRoot missing)")
    assert(!Files.exists(mainRoot.resolve("graft/tools")))
  }
}
