package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The settable surface is documented: every graft conf or env name the
  * program reads is a row of README's conf table, and every row names
  * something the program reads. */
class KnobSurfaceSpec extends AnyFunSuite {

  private val root = Paths.get(sys.props("user.dir"))

  private def read(p: Path): String =
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8)

  /** Every `"spark.graft.…"`, `"SPARK_GRAFT_…"`, `"GRAFT_…"` and
    * `"SPARK_MASTER"` string literal under src/main/scala. */
  private def namesInCode: Set[String] = {
    val lit = "\"((?:spark\\.graft\\.|SPARK_GRAFT_|GRAFT_)[A-Za-z0-9_.]*|SPARK_MASTER)\"".r
    val files = Files.walk(root.resolve("src/main/scala"))
    try files.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .flatMap(p => lit.findAllMatchIn(read(p)).map(_.group(1))).toSet
    finally files.close()
  }

  /** First column of README's conf table (the `| Name | Kind | … |`
    * table), backticks stripped. */
  private def namesInReadme: Set[String] = {
    val lines = read(root.resolve("README.md")).linesIterator
      .dropWhile(!_.startsWith("| Name | Kind |")).drop(2)
      .takeWhile(_.startsWith("|")).toSeq
    lines.map(_.split('|')(1).trim.stripPrefix("`").stripSuffix("`")).toSet
  }

  test("every conf and env name read in src/main/scala is a README conf-table row, and every row is read") {
    val code = namesInCode
    val readme = namesInReadme
    assert(code.nonEmpty && readme.nonEmpty)
    assert((code -- readme).isEmpty,
      s"read by the code but not in README's conf table: ${(code -- readme).toSeq.sorted}")
    assert((readme -- code).isEmpty,
      s"in README's conf table but read nowhere: ${(readme -- code).toSeq.sorted}")
  }
}
