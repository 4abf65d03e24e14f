package graft.tools

import scala.collection.immutable.SeqMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

import graft.{Session, SparkEntry, Tables, Verify}
import graft.queries.ScaleQueries3
import graft.scale.{Dedup, TextAnalysis}

/** The probe tool: isolated timings, final-plan dumps and the scale-soak
  * measurements behind the SOAK_r{N} adjudications, on the bench's own
  * session ([[graft.Session]]). Every mode prints ONE JSON line
  * (`{"mode":…,"sf":…,…}`); run it through `tools/bench.sh` to keep
  * stdout undecorated. A timed part is warmed up once at the target SF,
  * then timed `passes` times (default 3, cache cleared after each run);
  * `wall_s` is the min.
  *
  *   time <sfDir> <q1,q2,…> [passes] — min-of-N of registered queries in
  *       one JVM (the isolated figure `graft.Bench` reports).
  *   explain <sfDir> [q1,q2,…] — executes each query's own
  *       QueryExecution, then prints its FINAL adaptive plan
  *       (isFinalPlan=true), every operator's SQL metrics, and ROWS=<n>.
  *   d11 <sfDir> — d11_cosine_lsh's fixture: LSH bucket occupancy
  *       ([[graft.scale.Dedup.lshBucketProfile]]; capped_pairs is the
  *       candidate count, linear in n while the adaptive resolution
  *       holds) plus the operator's output-pair count: distinguishes
  *       "candidates grow because resolution is too coarse" from "the
  *       true near-dup pair set itself grows super-linearly".
  *   d12cells <sfDir> — semDedup cell occupancy and wall of one full
  *       evaluation (the two-level assignment probe).
  *   densify <sfDir> <dst> <permille> — writes a documents.parquet with
  *       `permille`/1000 of docs' text REPLACED by one of 32 donor texts
  *       (plus a doc-unique 2-token tail so exact-dedup stays
  *       non-trivial): duplicate DENSITY rises at fixed rows — the regime
  *       where positional gram joins (d13/d15) go quadratic without a cap.
  *   d13 <sfDir> [maxDf] — gram/dup-fingerprint/hit volumes + wall of the
  *       span pipeline, with and without the cap.
  *   d15 <sfDir> — cross-source shared-gram volume + wall.
  *   bpe <sfDir> [m1,m2,…] — [[graft.scale.TextAnalysis.bpeLearn]] wall
  *       per merge count (default 20,100,1000): a flat per-merge cost is
  *       job overhead plus one vocab scan per merge; super-linear growth
  *       would mean lineage/cache pathology.
  *   components <sfDir> — the d2→d8→d9 dedup chain's convergence: pair
  *       count, components fixpoint rounds, clusters and stage walls. At
  *       10× data the round count should hold (graph diameter, not size,
  *       drives it). */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = Session("graft-probe")
    try run(spark, args.toSeq) finally spark.stop()
  }

  private val usage = "usage: Probe time|explain|d11|d12cells|densify|d13|d15|bpe|components <sfDir> …"

  def run(spark: SparkSession, args: Seq[String]): Unit = {
    require(args.length >= 2, usage)
    val sf = args(1)
    val fields: Seq[(String, Any)] = args match {
      case Seq("time", _, qs, rest @ _*) =>
        val passes = rest.headOption.fold(3)(_.toInt)
        require(passes >= 1, s"passes must be >= 1, got $passes")
        Seq("queries" -> SeqMap.from(qs.split(",").toSeq.map { q =>
          val ws = walls(spark, passes)(SparkEntry.queries(q)(spark, sf).count())._2
          q -> SeqMap("passes" -> ws, "min" -> ws.min)
        }))

      case Seq("explain", _, rest @ _*) =>
        val names = rest.headOption.fold(Seq("j1_star", "a1_metrics", "st_sessionize",
          "e4_scalers", "x1_text_stats", "t12_folds", "f1_drift_forecast", "j5_asof",
          "d2_ngram_jaccard", "d3_minhash_lsh", "d4_simhash", "st_sliding"))(_.split(",").toSeq)
        Seq("rows" -> SeqMap.from(names.map { q =>
          val qe = SparkEntry.queries(q)(spark, sf).queryExecution
          val rows = SQLExecution.withNewExecutionId(qe)(qe.toRdd.count())
          println(s"===== $q =====")
          println(qe.explainString(FormattedMode))
          println("== SQL metrics ==")
          metrics(qe.executedPlan).foreach(println)
          println(s"ROWS=$rows")
          q -> rows
        }))

      case Seq("d11", _) =>
        val (fixture, n) = ScaleQueries3.d11Fixture(spark, sf)
        val prof = Dedup.lshBucketProfile(fixture, "embedding", "vec_id", knownRows = n).head()
        val (outPairs, ws) = walls(spark, 3) {
          Dedup.cosineNearDupLsh(fixture, "embedding", "vec_id", 0.9, knownRows = n).count()
        }
        Seq("n" -> n, "ppb" -> Dedup.lshPlanesPerBand(n)) ++
          prof.schema.fieldNames.map(f => f -> prof.getAs[Long](f)) ++
          Seq("cand_per_n" -> prof.getAs[Long]("capped_pairs").toDouble / n,
              "out_pairs" -> outPairs, "wall_s" -> ws.min)

      case Seq("d12cells", _) =>
        val em = Tables.embeddings(spark, sf)
        val n = em.count()
        val cells = math.max(8L, n / 2500L).toInt
        val (res, ws) = walls(spark, 1) {
          Dedup.semDedup(em, "embedding", "vec_id", 0.4, nCells = cells, lloydIters = 1)
            .agg(count(lit(1)).as("rows"),
                 sum(when(col("kept"), 0L).otherwise(1L)).as("n_dropped"),
                 countDistinct(col("cell")).as("n_cells_used")).head()
        }
        Seq("n" -> n, "n_cells" -> cells) ++
          res.schema.fieldNames.map(f => f -> res.getAs[Long](f)) :+ ("wall_s" -> ws.min)

      case Seq("densify", _, dst, permille) =>
        val docs = Tables.documents(spark, sf)
        val donors = docs.filter(col("doc_id") < 32)
          .select(pmod(col("doc_id"), lit(32)).as("__dk"),
                  col("text").as("__donor_text"))
        docs.withColumn("__dk", pmod(col("doc_id"), lit(32)))
          .join(broadcast(donors), Seq("__dk"), "left")
          .withColumn("text",
            when(pmod(col("doc_id"), lit(1000)) < permille.toInt,
                 concat(col("__donor_text"), lit(" uniq"),
                        col("doc_id").cast("string"), lit(" tail")))
              .otherwise(col("text")))
          .drop("__dk", "__donor_text")
          .write.mode("overwrite").parquet(s"$dst/documents.parquet")
        Seq("dst" -> dst, "permille" -> permille.toInt)

      case Seq("d13", _, rest @ _*) =>
        val maxDf = rest.headOption.map(_.toLong)
        val docs = Tables.documents(spark, sf)
        val (nGrams, nDup, nHits) = Dedup.spanDedupStats(
          docs, "text", "doc_id", L = 6, minCount = 2, maxDf = maxDf)
        val ws = walls(spark, 3) {
          Dedup.duplicatedSpans(docs, "text", "doc_id", L = 6, minCount = 2, maxDf = maxDf).count()
        }._2
        Seq("maxDf" -> maxDf.getOrElse(-1L), "n_grams" -> nGrams, "n_dup_fps" -> nDup,
            "n_hits" -> nHits, "wall_s" -> ws.min)

      case Seq("d15", _) =>
        val docs = Tables.documents(spark, sf)
        val (shared, ws) = walls(spark, 3) {
          val r = Dedup.crossGroupOverlap(docs, "text", "source", 6)
            .agg(sum(col("n_shared"))).head()
          if (r.isNullAt(0)) 0L else r.getLong(0)
        }
        Seq("n_shared_total" -> shared, "wall_s" -> ws.min)

      case Seq("bpe", _, rest @ _*) =>
        val docs = Tables.documents(spark, sf)
        val rungs = rest.headOption.fold(Seq(20, 100, 1000))(_.split(",").toSeq.map(_.toInt))
        Seq("rungs" -> rungs.map { m =>
          val (learned, ws) = walls(spark, 1)(TextAnalysis.bpeLearn(docs, "text", merges = m).count())
          SeqMap("merges" -> m, "learned" -> learned, "wall_s" -> ws.min,
                 "s_per_merge" -> ws.min / m)
        })

      case Seq("components", _) =>
        val docs = Tables.documents(spark, sf)
        docs.count() // footer/codegen warm-up off the clock
        // pairs are CACHED and materialized by the count, so components_s
        // times the fixpoint loop alone — not a recomputation of the
        // shingle join (which every loop round would otherwise re-trigger)
        val pairs = Dedup.ngramJaccard(docs, "text", "doc_id", 3, 0.5).cache()
        val (nPairs, tPairs) = timed(pairs.count())
        val ((labels, rounds), tComp) = timed {
          val (l, r) = Dedup.componentsStats(pairs, "id_a", "id_b")
          (l.cache(), r)
        }
        pairs.unpersist()
        val nClusters = labels.select("component").distinct().count()
        val (nKept, tKeep) = timed {
          docs.join(labels, docs("doc_id") === labels("id"))
            .groupBy(col("component"))
            .agg(max(struct(col("n_chars"), col("doc_id"))).as("best"))
            .count()
        }
        labels.unpersist()
        Seq("pairs" -> nPairs, "pairs_s" -> tPairs, "component_rounds" -> rounds,
            "components_s" -> tComp, "clusters" -> nClusters, "keep_best" -> nKept,
            "keep_best_s" -> tKeep)

      case _ => throw new IllegalArgumentException(usage)
    }
    println(json(SeqMap("mode" -> args.head, "sf" -> sf) ++ fields))
  }

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** `f`'s result and the wall seconds of `passes` runs of it, after one
    * unmeasured warm-up run (codegen, AQE shapes and JIT at this SF). The
    * cache is cleared after every run, so each run pays for its own
    * caches, as in `graft.Bench`. */
  private def walls[A](spark: SparkSession, passes: Int)(f: => A): (A, Seq[Double]) = {
    val runs = (0 to passes).map { _ =>
      val r = timed(f)
      spark.sharedState.cacheManager.clearCache()
      r
    }
    (runs.last._1, runs.tail.map(_._2))
  }

  /** Every operator of an executed plan with its SQL metrics, one a line,
    * indented by depth; query stages and subqueries included. */
  private def metrics(p: SparkPlan, depth: Int = 0): Seq[String] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _ => p.children ++ p.subqueries
    }
    val ms = p.metrics.toSeq.sortBy(_._1).map { case (k, m) => s"$k=${m.value}" }
    (("  " * depth) + p.nodeName + (if (ms.isEmpty) "" else ms.mkString(": ", ", ", ""))) +:
      kids.flatMap(metrics(_, depth + 1))
  }

  private def json(v: Any): String = v match {
    case s: String => Verify.jsonString(s)
    case d: Double => f"$d%.4f"
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => Verify.jsonString(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case x => x.toString
  }
}
