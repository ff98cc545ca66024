package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins [[Session]] as the one place that builds a session: every main
  * that calls `SparkSession.builder()` itself, or picks its own worker
  * count from `SPARK_GRAFT_CPUS`, runs plans that the oracle-checked
  * and the timed mains do not share.
  */
class SessionBuilderSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")
  private val home = root.resolve("graft/Session.scala")

  /** The source with comments blanked out; string literals are kept, so
    * comment markers inside one do not start a comment. Block comments
    * nest, as in Scala.
    */
  private def code(src: String): String = {
    val out = new StringBuilder(src.length)
    var i = 0
    def at(s: String) = src.startsWith(s, i)
    while (i < src.length) {
      if (at("//")) {
        while (i < src.length && src(i) != '\n') i += 1
      } else if (at("/*")) {
        var depth = 0
        while (i < src.length && (depth > 0 || at("/*"))) {
          if (at("/*")) { depth += 1; i += 2 }
          else if (at("*/")) { depth -= 1; i += 2 }
          else { if (src(i) == '\n') out += '\n'; i += 1 }
        }
      } else if (at("\"\"\"")) {
        val end = src.indexOf("\"\"\"", i + 3)
        val stop = if (end < 0) src.length else end + 3
        out ++= src.substring(i, stop)
        i = stop
      } else if (src(i) == '\'' && (at("'\\") || src.startsWith("'", i + 2))) {
        val len = if (at("'\\")) 4 else 3 // a char literal: 'x' or '\x'
        out ++= src.substring(i, math.min(i + len, src.length))
        i += len
      } else if (src(i) == '"') {
        out += '"'
        i += 1
        while (i < src.length && src(i) != '"' && src(i) != '\n') {
          if (src(i) == '\\' && i + 1 < src.length) { out += src(i); i += 1 }
          out += src(i)
          i += 1
        }
      } else {
        out += src(i)
        i += 1
      }
    }
    out.toString
  }

  private def offenders(pattern: scala.util.matching.Regex): Seq[String] = {
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != home).toSeq
    files.flatMap { p: Path =>
      val src = code(Files.readString(p))
      pattern.findAllMatchIn(src).map { m =>
        s"$p:${src.substring(0, m.start).count(_ == '\n') + 1}"
      }
    }
  }

  test("the comment stripper keeps code and strings, drops comments") {
    val src = "a // SparkSession.builder()\n/* x /* y */ SparkSession.builder() */" +
      "\nval u = \"s3://b/*\"; SparkSession.builder()\nval c = '\"' // x"
    assert(code(src) ===
      "a \n\nval u = \"s3://b/*\"; SparkSession.builder()\nval c = '\"' ")
  }

  test("only graft.Session calls SparkSession.builder()") {
    assert(offenders("""SparkSession\s*\.\s*builder\b""".r) === Nil)
  }

  test("only graft.Session reads SPARK_GRAFT_CPUS") {
    assert(offenders("\"SPARK_GRAFT_CPUS\"".r) === Nil)
  }
}
