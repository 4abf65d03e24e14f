package graft.models

import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.graftbridge.TreeBridge
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.ml.regression.{GBTRegressionModel, GBTRegressor}
import org.apache.spark.sql.functions.col

import graft.SparkTestBase

/** [[GbtTrainer]] against MLlib's `GBTRegressor` as the in-JVM oracle:
  * the same trees (per-tree `toDebugString`, uid dropped), tree weights,
  * predictions and feature importances, the same predictions after an
  * MLlib save → load of the bridged model, and the same saved node data. */
class GbtTrainerSpec extends SparkTestBase {

  private def estimator(depth: Int, iters: Int, step: Double) = new GBTRegressor()
    .setLabelCol("label").setFeaturesCol("features")
    .setMaxDepth(depth).setMaxIter(iters).setStepSize(step).setSeed(42)

  private def close(a: Array[Double], b: Array[Double]): Boolean =
    a.length == b.length && a.zip(b).forall { case (u, v) =>
      u == v || math.abs(u - v) <= 1e-12 * math.max(math.abs(u), math.abs(v))
    }

  private def trees(m: GBTRegressionModel): Seq[String] =
    m.trees.toSeq.map(_.toDebugString.replaceFirst("uid=[^,]*, ", ""))

  /** Fits both on (x, y), MLlib on a one-partition frame in row order. */
  private def assertParity(what: String, x: Array[Vector], y: Array[Double],
                           depth: Int, iters: Int, step: Double): GBTRegressionModel = {
    import spark.implicits._
    val est = estimator(depth, iters, step)
    val oracle = est.fit(x.toSeq.zip(y).toDF("features", "label").coalesce(1))
    val e = GbtTrainer.fit(x, y, GbtTrainer.Config.of(est))
    val mine = TreeBridge.model(est, e.trees.toSeq, e.weights, e.numFeatures)
    assert(trees(mine) == trees(oracle), s"$what: trees differ")
    assert(mine.treeWeights.sameElements(oracle.treeWeights), s"$what: tree weights differ")
    assert(mine.uid == est.uid && mine.getMaxDepth == depth && mine.numFeatures == oracle.numFeatures)
    val pred = x.map(mine.predict)
    assert(close(pred, x.map(oracle.predict)), s"$what: predictions differ")
    assert(close(mine.featureImportances.toArray, oracle.featureImportances.toArray),
      s"$what: importances differ")
    val Seq(dir, oracleDir) = Seq.fill(2)(java.nio.file.Files.createTempDirectory("graft-gbt").toString)
    mine.write.overwrite().save(dir)
    oracle.write.overwrite().save(oracleDir)
    assert(x.map(GBTRegressionModel.load(dir).predict).sameElements(pred), s"$what: reload differs")
    // every node as MLlib writes it: prediction, impurity, variance
    // statistics, raw count, gain, children and split
    assert(nodes(dir) == nodes(oracleDir), s"$what: saved nodes differ")
    mine
  }

  private def nodes(dir: String): Seq[String] =
    spark.read.parquet(s"$dir/data").orderBy("treeID", "nodeData.id").collect().map(_.toString).toSeq

  /** Mixed features: continuous, small integers with zeros (duplicates and
    * the implied zero count), a constant, and one-decimal values. */
  private def randomFrame(n: Int, seed: Long): (Array[Vector], Array[Double]) = {
    val r = new scala.util.Random(seed)
    val x = Array.fill(n)(Vectors.dense(r.nextGaussian(), r.nextInt(5).toDouble, 3.0,
                                        math.round(r.nextGaussian() * 30) / 10.0))
    (x, x.map(v => 2.0 * v(0) + v(1) * v(3) + r.nextGaussian()))
  }

  /** The perfbench series' supervised frame (lags 2, calendar, exog). */
  private lazy val series: (Array[Vector], Array[Double]) = {
    val df = spark.read.parquet("perfbench/fixtures/orders_monthly.parquet")
    val in = MlCore.inputs(df, TsSchema("ts", "price", Seq("n_orders")), 2, "price_lag", 50)
    val (f, _) = MlCore.frame(df, in, col("price"), Seq(col("price").as("label")))
    try {
      val rows = new VectorAssembler().setInputCols(in.featureCols.toArray).setOutputCol("features")
        .transform(f).orderBy("rn").select("features", "label").collect()
      (rows.map(_.getAs[Vector](0)), rows.map(_.getDouble(1)))
    } finally f.unpersist()
  }

  private def slice(rows: Int) = (series._1.take(rows), series._2.take(rows))

  test("seeded random frames match MLlib at every size around the bin count") {
    for ((n, i) <- Seq(8, 20, 31, 32, 33, 78, 500).zipWithIndex) {
      val (x, y) = randomFrame(n, 100L + n)
      assertParity(s"n=$n", x, y, depth = 2 + i % 4, iters = 8, step = 0.1 + 0.05 * (i % 3))
    }
  }

  test("duplicate values, a constant feature, and no splittable feature at all") {
    val dup = Array.tabulate(40)(i => Vectors.dense((i % 4).toDouble, 7.0, (i / 10).toDouble))
    assertParity("duplicates", dup, dup.map(v => v(0) * 10 + v(2)), depth = 3, iters = 6, step = 0.1)
    val flat = Array.fill(15)(Vectors.dense(1.0, 0.0))
    assertParity("constant", flat, Array.tabulate(15)(i => i * 1.5), depth = 3, iters = 4, step = 0.1)
  }

  test("sparse bag-of-words vectors: zeros are the implied count") {
    val r = new scala.util.Random(7)
    val x = Array.fill(60) {
      val terms = Seq.fill(3)(r.nextInt(12)).distinct.sorted
      Vectors.sparse(12, terms.map(t => t -> (1 + r.nextInt(3)).toDouble))
    }
    assertParity("bow", x, x.map(v => v(0) * 4 - v(5) + r.nextDouble()), depth = 3, iters = 10, step = 0.1)
  }

  test("12-row depth-4 frames, one where MLlib prunes equal-prediction leaf pairs") {
    val (x, y) = slice(12)
    assertParity("rows 1-12", x, y, depth = 4, iters = 50, step = 0.1)
    // small integer features and labels: sibling leaves often average to
    // the same value, and MLlib merges such a pair into one leaf
    val r = new scala.util.Random(2)
    val xs = Array.fill(12)(Vectors.dense(r.nextInt(6).toDouble, r.nextInt(3).toDouble))
    assertParity("integer labels", xs, xs.map(v => v(0) + r.nextInt(3)), depth = 4, iters = 10, step = 0.1)
  }

  test("the search grid on the perfbench series' fold and full slices") {
    for ((rows, depth, iters, step) <- Seq((62, 2, 20, 0.05), (70, 3, 40, 0.1),
                                             (78, 4, 60, 0.15), (78, 5, 80, 0.2), (62, 5, 20, 0.2))) {
      val (x, y) = slice(rows)
      assertParity(s"rows 1-$rows depth $depth iters $iters step $step", x, y, depth, iters, step)
    }
  }

  test("above 10,000 rows the split candidates come from MLlib's seeded row sample") {
    val r = new scala.util.Random(12000)
    val x = Array.fill(12000)(Vectors.dense(r.nextGaussian(), r.nextInt(400).toDouble))
    val y = x.map(v => v(0) * 3 + math.sin(v(1) / 20) + r.nextGaussian() * 0.1)
    assert(TreeBridge.splitSample(12000, 10000.0 / 12000, 42).length < 12000)
    assertParity("n=12000", x, y, depth = 3, iters = 2, step = 0.1)
  }

  test("settings the trainer does not implement are refused") {
    for (est <- Seq(estimator(2, 5, 0.1).setSubsamplingRate(0.5),
                    estimator(2, 5, 0.1).setLossType("absolute"),
                    estimator(2, 5, 0.1).setFeatureSubsetStrategy("sqrt"),
                    estimator(2, 5, 0.1).setWeightCol("w")))
      intercept[IllegalArgumentException](GbtTrainer.Config.of(est))
  }
}
