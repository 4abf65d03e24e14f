package graft

import java.io.ByteArrayOutputStream

import org.json4s._
import org.json4s.jackson.JsonMethods.parse

/** Every `graft.tools.Probe` mode on the shared session at sf0.001. */
class ProbeSpec extends SparkTestBase {
  implicit val formats: Formats = DefaultFormats

  /** Runs the probe; returns its stdout and its one JSON line. */
  private def probe(args: String*): (String, JValue) = {
    val out = new ByteArrayOutputStream()
    Console.withOut(out)(graft.tools.Probe.run(spark, args))
    val text = out.toString("UTF-8")
    val lines = text.linesIterator.toSeq
    val json = lines.filter(_.startsWith("{"))
    assert(json.size == 1, text)
    assert(lines.last == json.head, text)
    val js = parse(json.head)
    assert((js \ "mode").extract[String] == args.head)
    (text, js)
  }

  test("Probe time reports min-of-N per query") {
    val (_, js) = probe("time", SF, "j1_star,t1_lag", "2")
    for (q <- Seq("j1_star", "t1_lag")) {
      val passes = (js \ "queries" \ q \ "passes").extract[Seq[Double]]
      assert(passes.size == 2)
      assert((js \ "queries" \ q \ "min").extract[Double] == passes.min)
    }
  }

  test("Probe explain prints the final adaptive plan, its SQL metrics and ROWS") {
    val (text, js) = probe("explain", SF, "j1_star")
    val rows = SparkEntry.queries("j1_star")(spark, SF).count()
    assert(text.contains("isFinalPlan=true"), text)
    assert(text.contains("numOutputRows="), text)
    assert(text.contains(s"ROWS=$rows"), text)
    assert((js \ "rows" \ "j1_star").extract[Long] == rows)
  }

  test("Probe d11 counts the pairs of d11_cosine_lsh's own fixture") {
    val (_, js) = probe("d11", SF)
    assert((js \ "out_pairs").extract[Long] ==
      SparkEntry.queries("d11_cosine_lsh")(spark, SF).count())
    assert((js \ "n").extract[Long] == 2L * Tables.embeddings(spark, SF).count())
  }

  test("Probe d12cells, d13, d15, bpe and components each print one JSON line") {
    probe("d12cells", SF)
    probe("d13", SF)
    probe("d13", SF, "5")
    probe("d15", SF)
    val (_, bpe) = probe("bpe", SF, "2,3")
    assert((bpe \ "rungs").extract[Seq[JValue]].size == 2)
    val (_, cc) = probe("components", SF)
    assert((cc \ "component_rounds").extract[Int] >= 0)
  }

  test("Probe densify writes a documents table of the same rows") {
    val dst = java.nio.file.Files.createTempDirectory("graft-densify").toString
    probe("densify", SF, dst, "500")
    assert(spark.read.parquet(s"$dst/documents.parquet").count() ==
      Tables.documents(spark, SF).count())
  }
}
