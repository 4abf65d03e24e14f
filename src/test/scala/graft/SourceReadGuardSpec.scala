package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every schema-inferring file read in `src/main` goes through
  * `Tables.parquet` / `Tables.csv`, which remember the inferred schema:
  * a direct `spark.read…parquet(…)`, or a `.csv(…)` read without a
  * `.schema(…)`, runs Spark's inference job on every call. */
class SourceReadGuardSpec extends AnyFunSuite {
  private val Helper = Paths.get("src/main/scala/graft/Tables.scala")

  /** The method names of the call chain that starts at `from` (just after
    * `.read`): `.name(args)` or `.name`, across whitespace and newlines. */
  private def chain(src: String, from: Int): List[(String, String)] = {
    var i = from
    val out = List.newBuilder[(String, String)]
    def skipWs(): Unit = while (i < src.length && src(i).isWhitespace) i += 1
    skipWs()
    while (i < src.length && src(i) == '.') {
      i += 1
      val start = i
      while (i < src.length && src(i).isUnicodeIdentifierPart) i += 1
      val name = src.substring(start, i)
      var args = ""
      if (i < src.length && src(i) == '(') {
        val open = i
        var depth = 0
        do {
          if (src(i) == '(') depth += 1 else if (src(i) == ')') depth -= 1
          i += 1
        } while (i < src.length && depth > 0)
        args = src.substring(open, i)
      }
      out += name -> args
      skipWs()
    }
    out.result()
  }

  /** Comments stripped, so prose that names a read does not count. */
  private def code(p: Path): String =
    Files.readString(p).replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\\n]*", "")

  private val Loads = Set("parquet", "csv", "json", "orc", "text", "textFile", "load", "table")

  /** `file: chain` for every inferring Parquet or CSV read in `src`. */
  private def inferringReads(name: String, src: String): Seq[String] =
    "\\.read(?=\\s*\\.)".r.findAllMatchIn(src).flatMap { m =>
      // the reader's own calls end at its first load; a `.schema` after
      // that is the DataFrame's, which the inference has already run for
      val (opts, rest) = chain(src, m.end).span(c => !Loads(c._1))
      val calls = opts ++ rest.take(1)
      val names = calls.map(_._1)
      val format = calls.collectFirst { case ("format", a) => a.toLowerCase }.getOrElse("")
      val parquet = names.contains("parquet") || (names.contains("load") && format.contains("parquet"))
      val csv = names.contains("csv") || (names.contains("load") && format.contains("csv"))
      if ((parquet || csv) && !names.contains("schema"))
        Some(s"$name: .read.${names.mkString(".")}")
      else None
    }.toSeq

  test("no schema-inferring Parquet or CSV read outside the Tables helper") {
    val files = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !p.endsWith(Helper)).toSeq
    assert(files.size > 50, s"src/main not found from ${Paths.get("").toAbsolutePath}")
    val bad = files.flatMap(p => inferringReads(p.toString, code(p)))
    assert(bad.isEmpty, "read through graft.Tables.parquet / Tables.csv instead:\n" +
      bad.mkString("\n"))
  }

  test("the guard catches the read shapes it is meant to") {
    val hits = inferringReads("x", Seq(
      "spark.read.parquet(p)",
      "s.read\n  .option(\"header\", \"true\").csv(p)",
      "spark.readStream.schema(spark.read.parquet(p).schema).parquet(d)",
      "spark.read.format(\"parquet\").load(p)").mkString("\n"))
    assert(hits.size == 4, hits)
    val fine = inferringReads("x", Seq(
      "spark.read.schema(s).csv(p)",
      "s.read.schema(\"a INT\").json(p)",
      "spark.readStream.schema(s).parquet(d)",
      "df.write.parquet(p)",
      "ImageIO.read(new ByteArrayInputStream(b))").mkString("\n"))
    assert(fine.isEmpty, fine)
  }
}
