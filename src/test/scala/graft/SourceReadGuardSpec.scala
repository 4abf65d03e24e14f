package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every schema-inferring file read in `src/main` goes through
  * `Tables.parquet` / `Tables.csv`, which remember the inferred schema:
  * a direct `spark.read…parquet(…)`, or a `.csv(…)` read without a
  * `.schema(…)`, runs Spark's inference job on every call. And no code
  * in `src/main` lists files through a Hadoop `FileSystem`'s `listFiles`
  * or `listLocatedStatus`: each file becomes a `LocatedFileStatus`, whose
  * permission read forks `ls -ld` per file on a local file system without
  * Hadoop's native library. */
class SourceReadGuardSpec extends AnyFunSuite {
  private val Helper = Paths.get("src/main/scala/graft/Tables.scala")

  /** The balanced `(…)` argument list that opens at `open`. */
  private def argsAt(src: String, open: Int): String = {
    var i = open
    var depth = 0
    do {
      if (src(i) == '(') depth += 1 else if (src(i) == ')') depth -= 1
      i += 1
    } while (i < src.length && depth > 0)
    src.substring(open, i)
  }

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
      val args = if (i < src.length && src(i) == '(') argsAt(src, i) else ""
      i += args.length
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

  /** `file: call` for every Hadoop `FileSystem` listing in `src` that
    * builds a `LocatedFileStatus` per file: `listLocatedStatus(…)`, and
    * `listFiles(path, recursive)` — two arguments, where
    * `java.io.File.listFiles` takes none or one filter. */
  private def locatedListings(name: String, src: String): Seq[String] =
    "\\.(listFiles|listLocatedStatus)\\s*(?=\\()".r.findAllMatchIn(src).flatMap { m =>
      val args = argsAt(src, m.end)
      var depth = 0
      val topCommas = args.count { c =>
        if (c == '(') depth += 1 else if (c == ')') depth -= 1
        c == ',' && depth == 1
      }
      if (m.group(1) == "listLocatedStatus" || topCommas >= 1) Some(s"$name: .${m.group(1)}$args")
      else None
    }.toSeq

  private def mainFiles: Seq[Path] = {
    val files = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50, s"src/main not found from ${Paths.get("").toAbsolutePath}")
    files
  }

  test("no schema-inferring Parquet or CSV read outside the Tables helper") {
    val bad = mainFiles.filterNot(_.endsWith(Helper)).flatMap(p => inferringReads(p.toString, code(p)))
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

  test("no Hadoop listing that forks ls per file in src/main") {
    val bad = mainFiles.flatMap(p => locatedListings(p.toString, code(p)))
    assert(bad.isEmpty, "list with a recursive FileSystem.listStatus instead (listFiles and " +
      "listLocatedStatus build a LocatedFileStatus per file, forking `ls -ld` for its permission " +
      "on a local file system):\n" + bad.mkString("\n"))
  }

  test("the listing guard catches the call shapes it is meant to") {
    val hits = locatedListings("x", Seq(
      "fs.listFiles(p, true)",
      "fs.listFiles(new Path(dir, \"x\"),\n  recursive = false)",
      "fs.listLocatedStatus(p)",
      "fs.listLocatedStatus(p, filter)").mkString("\n"))
    assert(hits.size == 4, hits)
    val fine = locatedListings("x", Seq(
      "Option(x.listFiles()).getOrElse(Array.empty[java.io.File])",
      "dir.listFiles(filter)",
      "dir.listFiles(new java.io.FilenameFilter { def accept(d: File, n: String) = true })",
      "fs.listStatus(p)").mkString("\n"))
    assert(fine.isEmpty, fine)
  }
}
