package graft.models

import org.apache.spark.ml.classification.{GBTClassificationModel, GBTClassifier}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Class-weight computation for the classification path — the Spark twin
  * of sklearn's `compute_class_weight('balanced')` plus the reference's
  * integer normalization (`models/ml_models.py:390-457`,
  * `get_sample_weight_array` / `get_scale_pos_weight`):
  *
  *   raw_c  = total / (k * n_c)            (sklearn 'balanced')
  *   norm_c = raw_c / min(raw)  if min(raw) < 1 else raw_c
  *   w_c    = floor(norm_c)                 (astype(int); ≥ 1 by
  *                                           construction — the division
  *                                           pins the min at exactly 1)
  *
  * Fully deterministic and SQL-expressible, so it carries a hash-checked
  * DuckDB oracle (`m6_class_weights`). One aggregation over the data plus
  * two single-row broadcasts: scale-safe at any corpus size (k ≤ 30 by
  * the problem-type contract, `infer/ProblemType.scala`). */
object ClassWeights {

  /** Per-class table: (label, n, weight). `label` keeps its input type. */
  def balanced(df: DataFrame, labelCol: String): DataFrame = {
    val counts = df.groupBy(col(labelCol)).agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum(col("n")).cast("double").as("total"),
                         count(lit(1)).cast("double").as("k"))
    val raw = counts.join(broadcast(tot))
      .withColumn("raw", col("total") / (col("k") * col("n")))
    val mn = raw.agg(min(col("raw")).as("mn"))
    raw.join(broadcast(mn))
      .withColumn("weight",
        floor(when(col("mn") < 1, col("raw") / col("mn")).otherwise(col("raw")))
          .cast("long"))
      .select(col(labelCol), col("n"), col("weight"))
  }

  /** The rare class's normalized weight — the reference's
    * `scale_pos_weight` for the XGBoost binary path
    * (`ml_models.py:426-457`: weight of the min-count class; ≥ 1 is
    * already guaranteed by [[balanced]]). */
  def scalePosWeight(df: DataFrame, labelCol: String): Long =
    balanced(df, labelCol).orderBy(col("n"), col(labelCol))
      .select(col("weight")).head().getLong(0)

  /** Attach each row's class weight (broadcast join — the weight table is
    * k ≤ 30 rows; the data side is never shuffled). */
  def withRowWeights(df: DataFrame, labelCol: String,
                     weightCol: String = "class_weight"): DataFrame =
    df.join(broadcast(balanced(df, labelCol)
              .select(col(labelCol), col("weight").cast("double").as(weightCol))),
            Seq(labelCol))
}

/** The ML classification path (`models/ml_models.py:306-335`): the
  * reference dispatches its ML engine to `XGBClassifier` when
  * `analyze_problem_type` says the target is categorical; the Spark-native
  * analogue is MLlib's `GBTClassifier` — binary natively, multi-class as
  * one-vs-rest (one distributed binary GBT per class, argmax of margins —
  * the same reduction `OneVsRest` performs, hand-held here so the
  * recursive forecast loop can score a single feature vector LOCALLY
  * without a per-step Spark job). Class imbalance enters through the
  * reference's integer 'balanced' weights as a per-row `weightCol`, the
  * MLlib equivalent of the `wt_array` fed to `xgb.DMatrix`
  * (`ml_models.py:338-343`).
  *
  * Labels are indexed deterministically (distinct values sorted
  * ascending as strings), not by StringIndexer's frequency order, so
  * re-runs and engines agree on the class ↔ index mapping. */
class GbtClassify(maxIter: Int = 30, maxDepth: Int = 4,
                  stepSize: Double = 0.1) extends Serializable {

  private var models: Array[GBTClassificationModel] = _ // 1 (binary) or k (one-vs-rest)
  private var assembler: VectorAssembler = _
  private[models] var labels: Array[String] = _ // index -> label (string form)
  private var labelColName: String = _

  def classes: Seq[String] = labels.toSeq

  private def indexExpr(labelCol: String): Column =
    GbtClassify.indexExpr(labelCol, labels)

  /** Index a frame's label column the way fit() does (adds `label_idx`). */
  def withLabelIndex(df: DataFrame, labelCol: String): DataFrame =
    df.withColumn("label_idx", indexExpr(labelCol))

  /** Fit on (featureCols, labelCol). `vocab` pins the class↔index map
    * (CV folds must share the full frame's vocabulary even when a fold
    * doesn't contain every class). */
  def fit(df: DataFrame, featureCols: Seq[String], labelCol: String,
          vocab: Option[Array[String]] = None): this.type = {
    labelColName = labelCol
    labels = vocab.getOrElse(GbtClassify.labelVocab(df, labelCol))
    require(labels.length >= 2, s"need >= 2 classes, got ${labels.length}")
    val weighted = withLabelIndex(
      ClassWeights.withRowWeights(df, labelCol), labelCol)
    assembler = new VectorAssembler()
      .setInputCols(featureCols.toArray).setOutputCol("features")
    val assembled = assembler.transform(weighted).cache()
    def gbt(labelCol: String) = new GBTClassifier()
      .setLabelCol(labelCol).setFeaturesCol("features")
      .setWeightCol("class_weight")
      .setMaxIter(maxIter).setMaxDepth(maxDepth)
      .setStepSize(stepSize).setSeed(42)
    models =
      if (labels.length == 2) Array(gbt("label_idx").fit(assembled))
      else labels.indices.map { i =>
        // one-vs-rest relabel; weights stay the multi-class 'balanced'
        // ones, matching the wt_array the reference feeds a single
        // multi-class DMatrix
        val bin = assembled.withColumn("ovr_label",
          when(col("label_idx") === i.toDouble, 1.0).otherwise(0.0))
        gbt("ovr_label").fit(bin)
      }.toArray
    assembled.unpersist()
    this
  }

  /** Adds `prediction` (class index as double) and `predicted_label` —
    * distributed scoring; multi-class is argmax over the k binary
    * margins, ties to the lowest index. */
  def transform(df: DataFrame): DataFrame = {
    val assembled = assembler.transform(df)
    val scored =
      if (models.length == 1)
        models(0).setPredictionCol("prediction").transform(assembled)
      else {
        val withMargins = models.zipWithIndex.foldLeft(assembled) { case (d, (m, i)) =>
          m.setRawPredictionCol(s"raw_$i").setPredictionCol(s"pred_$i")
            .setProbabilityCol(s"prob_$i").transform(d)
            .withColumn(s"margin_$i", element_at(vector_to_array(col(s"raw_$i")), 2))
            .drop(s"raw_$i", s"pred_$i", s"prob_$i")
        }
        val best = models.indices.drop(1).foldLeft(
          struct(col("margin_0").as("m"), lit(0.0).as("i"))) { (acc, i) =>
          when(col(s"margin_$i") > acc.getField("m"),
               struct(col(s"margin_$i").as("m"), lit(i.toDouble).as("i")))
            .otherwise(acc)
        }
        withMargins.withColumn("prediction", best.getField("i"))
          .drop(models.indices.map(i => s"margin_$i"): _*)
      }
    val labelOf = labels.zipWithIndex.foldLeft(lit(null).cast("string")) {
      case (acc, (l, i)) => when(col("prediction") === i.toDouble, lit(l)).otherwise(acc)
    }
    scored.withColumn("predicted_label", labelOf)
  }

  /** Accuracy against a frame that carries the label column (one
    * aggregate — specs and the estimator query's reported metric). */
  def accuracy(df: DataFrame): Double =
    transform(df)
      .select(avg(when(indexExpr(labelColName) === col("prediction"), 1.0)
        .otherwise(0.0)))
      .head().getDouble(0)

  /** Local single-vector prediction for the recursive forecast loop —
    * margin = Σ treeWeight·tree(v) (the additive GBT ensemble), argmax
    * across classes; no Spark job per step. */
  def predictLocal(feats: Array[Double]): Double = {
    val v = Vectors.dense(feats)
    def margin(m: GBTClassificationModel, v: Vector): Double =
      m.trees.zip(m.treeWeights).map { case (t, w) => w * t.predict(v) }.sum
    if (models.length == 1) models(0).predict(v)
    else models.indices.maxBy(i => margin(models(i), v)).toDouble
  }

  /** MLlib writers per (binary or one-vs-rest) ensemble + params-JSON. */
  private[models] def saveFitted(dir: String): Unit = {
    import org.json4s.JsonDSL._
    models.zipWithIndex.foreach { case (m, i) =>
      m.write.overwrite().save(s"$dir/gbt_$i")
    }
    Persist.writeJson(dir,
      ("n_models" -> models.length) ~ ("labels" -> labels.toList) ~
      ("label_col" -> labelColName) ~
      ("feature_cols" -> assembler.getInputCols.toList))
  }
}

object GbtClassify {
  import Persist.formats

  private[models] def loadFitted(dir: String): GbtClassify = {
    val j = Persist.readJson(dir)
    val c = new GbtClassify()
    c.labels = (j \ "labels").extract[Array[String]]
    c.labelColName = (j \ "label_col").extract[String]
    c.assembler = new VectorAssembler()
      .setInputCols((j \ "feature_cols").extract[Array[String]])
      .setOutputCol("features")
    c.models = (0 until (j \ "n_models").extract[Int])
      .map(i => GBTClassificationModel.load(s"$dir/gbt_$i")).toArray
    c
  }
  /** Deterministic label vocabulary: distinct values, string-sorted. */
  def labelVocab(df: DataFrame, labelCol: String): Array[String] =
    df.select(col(labelCol).cast("string").as("l")).distinct()
      .orderBy(col("l")).collect().map(_.getString(0)) // k ≤ 30 (E5 contract)

  /** label value -> class index (double), -1.0 for unseen. */
  def indexExpr(labelCol: String, labels: Array[String]): Column =
    labels.zipWithIndex.foldLeft(lit(-1.0)) { case (acc, (l, i)) =>
      when(col(labelCol).cast("string") === l, lit(i.toDouble)).otherwise(acc)
    }
}

/** ModelBuild adapter: time-series CLASSIFICATION (the categorical-target
  * branch of ML mode — `ml_models.py:306-335` + `analyze_problem_type`,
  * `ml_models.py:570-616`). It runs on [[GbtModel]]'s ML core
  * ([[MlCore]]): one cached supervised frame — lagged target (as class
  * indices) + calendar features in the session time zone + exog, NLP exog
  * as bag-of-words — its fold runner (fold fits and full fit as one
  * concurrent batch of MLlib jobs), and the same bounded state and
  * recursive forecast loop, but it trains [[GbtClassify]] and forecasts
  * over class indices.
  *
  * Scoring deviation, documented: CvScores carries the per-fold
  * MISCLASSIFICATION RATE in both slots (an RMSE is meaningless over
  * nominal labels; error rate keeps "lower is better" so the AutoML
  * leaderboard ordering still works). Predict emits the winning class
  * INDEX as `yhat` (use [[classes]] to map back) with NaN standard
  * errors — the reference's ML path also emits NaN CIs
  * (`build_ml.py:674-683`). */
class GbtClassifyTs(lags: Int = 2, maxIter: Int = 30, maxDepth: Int = 4)
    extends ModelBuild {
  val name = "ML"

  private var clf: GbtClassify = _
  private var vocab: Array[String] = _
  private var state: MlCore.State = _

  def classes: Seq[String] = vocab.toSeq

  def fit(df: DataFrame, tsSchema: TsSchema, cv: Int, h: Int): CvScores = {
    val target = tsSchema.target
    vocab = GbtClassify.labelVocab(df, target)
    val in = MlCore.inputs(df, tsSchema, lags, "lagidx", 50)
    val index = GbtClassify.indexExpr(target, vocab)
    val (frame, n) = MlCore.frame(df, in, index, Seq(col(target)))
    def fitOn(p: GbtModel.GbtParams, rows: DataFrame) =
      new GbtClassify(p.maxIter, p.maxDepth, p.stepSize)
        .fit(rows, in.featureCols, target, Some(vocab))
    try {
      // this model's depth and iterations, GbtClassify's step
      val p = GbtModel.GbtParams(maxDepth, maxIter, 0.1)
      val (scores, fitted) = MlCore.run(n, cv, h) { (trainEnd, testEnd) =>
        // the fold's misclassification rate, in both score slots
        val err = 1.0 - fitOn(p, MlCore.rows(frame, 0, trainEnd))
          .accuracy(MlCore.rows(frame, trainEnd, testEnd))
        (err, err)
      }(fitOn(p, frame))
      clf = fitted
      state = MlCore.state(df, in, frame, index)
      scores
    } finally frame.unpersist()
  }

  /** The recursive loop over class indices: predict the next class, feed
    * it back as the newest lag. */
  def predict(spark: SparkSession, h: Int, future: Option[DataFrame] = None): DataFrame = {
    ForecastFrame.requireHorizon(h)
    ForecastFrame.build(spark, state.lastTsMs, state.intervalMs,
      state.forecast(h, future)(clf.predictLocal), Double.NaN)
  }

  /** Persist the OVR ensembles + the bounded recursive-loop state. */
  def save(dir: String): Unit = {
    import org.json4s.JsonDSL._
    clf.saveFitted(s"$dir/clf")
    Persist.writeJson(dir,
      ("type" -> "ml_classify") ~ ("lags" -> lags) ~ ("maxIter" -> maxIter) ~
      ("maxDepth" -> maxDepth) ~ ("vocab" -> vocab.toList) ~
      state.json("tailIdx", None))
  }
}

object GbtClassifyTs {
  import Persist.formats

  def load(dir: String): GbtClassifyTs = {
    val j = Persist.readJson(dir)
    val m = new GbtClassifyTs((j \ "lags").extract[Int],
      (j \ "maxIter").extract[Int], (j \ "maxDepth").extract[Int])
    m.clf = GbtClassify.loadFitted(s"$dir/clf")
    m.vocab = (j \ "vocab").extract[Array[String]]
    m.state = MlCore.State.load(j, "tailIdx")(_ => "lagidx")
    m
  }
}
