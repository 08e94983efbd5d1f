package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Source-level gate for the one exact-sum primitive: outside
  * `graft.functions.ExactSum`, nothing in `src/main` applies Spark's
  * `sum(` to a decimal cast. Such a site restates the scale, accumulator
  * and overflow contract that `ExactSum` states once; route it through
  * `ExactSum(x, scale)` (or `WarpAggregates.dsum`) instead.
  *
  * The check is textual over the CODE of each file — comments and string
  * literals are blanked first, so the DuckDB oracle SQL, which keeps its
  * `sum(CAST(… AS DECIMAL(p,s)))` form, is out of scope. Every `sum(`
  * call's balanced argument is searched for `DecimalType`, a `decimal(`
  * type string, or a cast to a name the same file binds to
  * `DecimalType`. The detector is pinned by a self-test on planted
  * snippets, so it cannot go blind silently. */
class ExactSumLintSpec extends AnyFunSuite {

  private val mainDir = Paths.get("src/main/scala")

  /** `src` with comment and string-literal text blanked to spaces
    * (newlines kept, so offsets and line numbers are unchanged). A
    * string that is a cast's type name — `cast("decimal(30,15)")` — is
    * code and stays. */
  private def code(src: String): String = {
    val out = src.toCharArray
    def closeAt(from: Int, token: String) = {
      val k = src.indexOf(token, from)
      if (k < 0) src.length else k + token.length
    }
    var i = 0
    while (i < src.length) {
      val (end, keep) =
        if (src.startsWith("//", i)) (closeAt(i, "\n"), false)
        else if (src.startsWith("/*", i)) (closeAt(i + 2, "*/"), false)
        else if (src.startsWith("\"\"\"", i)) (closeAt(i + 3, "\"\"\""), false)
        else if (src.startsWith("'\"'", i)) (i + 3, true)
        else if (src(i) == '"') {
          var j = i + 1
          while (j < src.length && src(j) != '"' && src(j) != '\n')
            j += (if (src(j) == '\\') 2 else 1)
          (math.min(j + 1, src.length), src.startsWith("cast(", i - 5))
        } else (i + 1, true)
      if (!keep) for (k <- i until end if out(k) != '\n') out(k) = ' '
      i = end
    }
    new String(out)
  }

  /** (offset, argument text) of every `sum(` call in `src`. */
  private def sumCalls(src: String): Iterator[(Int, String)] =
    """\bsum\(""".r.findAllMatchIn(src).map { m =>
      var depth = 1
      var i = m.end
      while (depth > 0 && i < src.length) {
        src(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1
          case _   =>
        }
        i += 1
      }
      (m.start, src.substring(m.end, i - 1))
    }

  /** Line numbers of the `sum(` calls over a decimal cast in `src`. */
  def decimalSums(file: String): Seq[Int] = {
    val src = code(file)
    val aliases = """val\s+(\w+)\s*=\s*(?:org\.apache\.spark\.sql\.types\.)?DecimalType\b"""
      .r.findAllMatchIn(src).map(_.group(1)).toSeq
    val decimalCast =
      ("""DecimalType|(?i:decimal)\s*\(""" +:
        aliases.map(a => s"""\\.cast\\(\\s*$a\\b""")).mkString("|").r
    sumCalls(src).collect {
      case (at, arg) if decimalCast.findFirstIn(arg).isDefined =>
        src.substring(0, at).count(_ == '\n') + 1
    }.toSeq
  }

  test("no sum( over a decimal cast in src/main outside ExactSum") {
    assert(Files.isDirectory(mainDir), s"$mainDir missing (cwd ${sys.props("user.dir")})")
    val files = Files.walk(mainDir).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "ExactSum.scala")
      .toSeq
    assert(files.size > 50, s"only ${files.size} sources under $mainDir")
    val offenders = files.flatMap { p: Path =>
      decimalSums(Files.readString(p)).map(line => s"$p:$line")
    }
    assert(offenders.isEmpty,
      "inline decimal sums (use graft.functions.ExactSum):\n" +
        offenders.mkString("\n"))
  }

  test("the decimal-sum detector flags planted sites and passes clean ones") {
    val planted = Seq(
      """sum(col("x").cast(DecimalType(28, 6)))""",
      """sum(col("x").cast(org.apache.spark.sql.types.DecimalType(30, 15)))""",
      "sum((col(\"a\") * col(\"b\"))\n  .cast(\"decimal(30,15)\"))",
      "val Dec = DecimalType(28, 6)\nagg(sum(col(\"v\").cast(Dec)))")
    planted.foreach(s => assert(decimalSums(s).nonEmpty, s))
    val clean = Seq(
      """sum(col("n"))""",
      """ExactSum(col("x"), 6)""",
      """dsum(col("x").cast("double"))""",
      "val Dec = DecimalType(28, 6)\nExactSum(col(\"v\"), 6).cast(Dec)",
      """try_sum(col("n")) + sum(col("m")).cast(DecimalType(38, 0))""",
      "// was sum(x.cast(DecimalType(28, 6)))\nExactSum(x, 6)",
      "s\"\"\"SELECT sum(CAST(v AS DECIMAL(28,6))) FROM t\"\"\"",
      "s\"sum(CAST(e AS DECIMAL(30,15))) AS g$j\"")
    clean.foreach(s => assert(decimalSums(s).isEmpty, s))
  }
}
