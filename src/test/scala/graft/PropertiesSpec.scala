package graft

import org.apache.spark.sql.functions._
import graft.scale.{Dedup, TextAnalysis}
import org.apache.spark.sql.graftbridge.ContextBridge

/** Property-style invariants over deterministic pseudo-random inputs
  * (fixed-seed LCG generators — reproducible like any fixture, broad
  * like a property check). */
class PropertiesSpec extends SparkTestBase {
  import spark.implicits._

  private def lcg(seed: Long): () => Long = graft.core.DetRandom.longs(seed)

  test("components == local union-find on random graphs (5 seeds)") {
    for (seed <- Seq(3L, 17L, 42L, 99L, 2024L)) {
      val r = lcg(seed)
      val n = 30
      val edges = (0 until 40).map(_ => ((r() % n).toInt.toLong, (r() % n).toInt.toLong))
        .filter { case (a, b) => a != b }
      // reference: driver-side union-find with min-label normalization
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var c = x; while (parent(c) != c) c = parent(c); c }
      def union(a: Int, b: Int): Unit = {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      edges.foreach { case (a, b) => union(a.toInt, b.toInt) }
      val touched = edges.flatMap(e => Seq(e._1, e._2)).toSet
      val expect = touched.map(v => v -> find(v.toInt).toLong).toMap
      val dir = java.nio.file.Files.createTempDirectory("graft-cc-prop").toString
      try for (ckpt <- Seq(None, Some(dir))) {
        val (labels, rounds) =
          Dedup.componentsStats(edges.toDF("id_a", "id_b"), "id_a", "id_b", checkpointDir = ckpt)
        assert(rounds >= 1, s"seed=$seed ckpt=$ckpt: no fixpoint round reported")
        val got = labels.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
        // same partition into components; the distributed labels are the
        // component MINIMA, which union-find-with-min-normalization also
        // produces up to path compression — compare the induced partitions
        def partition(m: Map[Long, Long]) = m.groupBy(_._2).values.map(_.keySet).toSet
        assert(partition(got) == partition(expect), s"seed=$seed ckpt=$ckpt: $got vs $expect")
        // and every emitted label IS its component's minimum member
        got.groupBy(_._2).foreach { case (label, members) =>
          assert(label == members.keys.min, s"seed=$seed ckpt=$ckpt label $label not the min")
        }
      } finally new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("Lineage.truncate reliable-checkpoint variant matches localCheckpoint") {
    // cluster-path parity for the r15 materialization sites: the same
    // frame truncated through a reliable checkpoint dir must hold the
    // same rows (globalRank exercised end-to-end on both paths)
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-spec").toString
    try {
      val df = (1 to 200).map(i => ((i * 37) % 50L, i.toLong)).toDF("v", "u")
      val local = graft.scale.Ranks.globalRank(df, col("v"), col("u"),
          descending = false, out = "rk")
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
      val durable = graft.scale.Ranks.globalRank(df, col("v"), col("u"),
          descending = false, out = "rk", checkpointDir = Some(dir))
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
      assert(local == durable)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("Lineage reliable checkpoint restores the context's checkpoint dir, unset included") {
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-restore").toString
    val other = java.nio.file.Files.createTempDirectory("graft-ckpt-other").toString
    val df = (1 to 20).map(i => (i.toLong, i * 2L)).toDF("a", "b")
    try {
      ContextBridge.restoreCheckpointDir(sc, None)
      assert(graft.scale.Lineage.truncate(df, Some(dir)).count() == 20)
      assert(sc.getCheckpointDir.isEmpty, s"unset dir leaked: ${sc.getCheckpointDir}")
      sc.setCheckpointDir(other)
      val before = sc.getCheckpointDir
      Dedup.components(df, "a", "b", checkpointDir = Some(dir)).count()
      assert(sc.getCheckpointDir == before, s"${sc.getCheckpointDir} != $before")
    } finally {
      ContextBridge.restoreCheckpointDir(sc, None)
      Seq(dir, other).foreach(d =>
        new scala.reflect.io.Directory(new java.io.File(d)).deleteRecursively())
    }
  }

  test("repetitionStats invariants on random token streams (100 docs)") {
    val r = lcg(5L)
    val docs = (0 until 100).map { i =>
      val nTok = 3 + (r() % 40).toInt
      val vocab = 1 + (r() % 12).toInt // small vocab => real repetition
      (i.toLong, (0 until nTok).map(_ => s"w${r() % vocab}").mkString(" "))
    }
    val rows = TextAnalysis.repetitionStats(docs.toDF("doc_id", "text"), "text", "doc_id")
      .collect()
    assert(rows.length == 100)
    rows.foreach { x =>
      val (n, tt, tb, dt) = (x.getLong(1), x.getDouble(2), x.getDouble(3), x.getDouble(4))
      assert(n >= 3)
      assert(tt >= 1.0 / n - 1e-12 && tt <= 1.0, s"top_token_frac $tt out of range")
      assert(tb >= 0.0 && tb <= 1.0 && dt >= 0.0 && dt < 1.0)
      // cross-check dup_trigram_frac against a driver-side recount
      val toks = docs(x.getLong(0).toInt)._2.split(" ")
      val tris = toks.sliding(3).map(_.mkString(" ")).toSeq
      val expected = if (tris.isEmpty) 0.0 else 1.0 - tris.distinct.size.toDouble / tris.size
      assert(math.abs(dt - expected) < 1e-9, s"dup_trigram ${dt} != $expected")
      assert(x.getBoolean(5) == (tb <= 0.18 && dt <= 0.30))
    }
  }
}
