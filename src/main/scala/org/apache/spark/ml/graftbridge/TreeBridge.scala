package org.apache.spark.ml.graftbridge

import org.apache.spark.ml.param.{Param, Params}
import org.apache.spark.ml.regression.{DecisionTreeRegressionModel, GBTRegressionModel,
  GBTRegressor}
import org.apache.spark.ml.tree.{ContinuousSplit, InternalNode, LeafNode, Node => MlNode}
import org.apache.spark.mllib.tree.impurity.{ImpurityCalculator, VarianceCalculator}
import org.apache.spark.util.random.{BernoulliSampler, XORShiftRandom}

/** Trees grown outside MLlib, turned into a real `GBTRegressionModel`, so
  * `predict` and `featureImportances` work on them unchanged, and an MLlib
  * ensemble's trees turned back ([[fromMl]]). The node, split, tree and
  * ensemble constructors and the nodes' statistics are `private[ml]` and
  * the variance calculator and MLlib's split-sampling random generator are
  * `private[spark]`; this object is the one place that crosses them. */
object TreeBridge {

  /** A node's variance statistics, as MLlib's `VarianceCalculator` holds
    * them: weighted count, label sum, label sum of squares, raw count. */
  final case class Stats(count: Double, sum: Double, sumSq: Double, rawCount: Long)

  sealed trait Node extends Serializable
  final case class Leaf(prediction: Double, impurity: Double, stats: Stats) extends Node
  /** Rows with `feature` ≤ `threshold` go `left`. */
  final case class Split(prediction: Double, impurity: Double, gain: Double, feature: Int,
                         threshold: Double, left: Node, right: Node, stats: Stats) extends Node

  /** The ensemble `gbt.fit` would return for these trees: the estimator's
    * uid, its params copied onto the model and onto every tree the way
    * `Predictor.fit` and `GBTRegressor.train` copy them, and a fresh uid
    * per tree. */
  def model(gbt: GBTRegressor, trees: Seq[Node], weights: Array[Double],
            numFeatures: Int): GBTRegressionModel = {
    val dts = trees.map(t => copyValues(gbt, new DecisionTreeRegressionModel(toMl(t), numFeatures)))
    copyValues(gbt, new GBTRegressionModel(gbt.uid, dts.toArray, weights, numFeatures))
      .setParent(gbt)
  }

  /** The trees, tree weights and feature count of an MLlib ensemble, as
    * [[model]] takes them: how a model saved by MLlib's writer is read
    * back. Every split must be continuous. */
  def fromMl(m: GBTRegressionModel): (Seq[Node], Array[Double], Int) =
    (m.trees.toSeq.map(t => fromMl(t.rootNode)), m.treeWeights, m.numFeatures)

  private def fromMl(n: MlNode): Node = n match {
    case l: LeafNode => Leaf(l.prediction, l.impurity, stats(l.impurityStats))
    case i: InternalNode => i.split match {
      case s: ContinuousSplit =>
        Split(i.prediction, i.impurity, i.gain, s.featureIndex, s.threshold,
          fromMl(i.leftChild), fromMl(i.rightChild), stats(i.impurityStats))
      case s => throw new IllegalArgumentException(
        s"TreeBridge: continuous splits only, not a split on categorical feature ${s.featureIndex}")
    }
  }

  private def stats(c: ImpurityCalculator): Stats =
    Stats(c.stats(0), c.stats(1), c.stats(2), c.rawCount)

  /** The rows of an n-row, one-partition input that MLlib's `findSplits`
    * keeps when it samples `fraction` of them for split candidates:
    * `RDD.sample(false, fraction, XORShiftRandom(seed).nextInt())`, whose
    * partition 0 draws its sampler seed from `java.util.Random`. */
  def splitSample(n: Int, fraction: Double, seed: Long): Array[Int] = {
    val partitionSeed = new java.util.Random(new XORShiftRandom(seed).nextInt().toLong).nextLong()
    val sampler = new BernoulliSampler[Int](fraction)
    sampler.setSeed(partitionSeed)
    sampler.sample(Iterator.range(0, n)).toArray
  }

  private def toMl(n: Node): MlNode = n match {
    case Leaf(p, imp, s) => new LeafNode(p, imp, calculator(s))
    case Split(p, imp, gain, f, t, l, r, s) =>
      new InternalNode(p, imp, gain, toMl(l), toMl(r), new ContinuousSplit(f, t), calculator(s))
  }

  private def calculator(s: Stats) =
    new VarianceCalculator(Array(s.count, s.sum, s.sumSq), s.rawCount)

  /** `Params.copyValues` (protected): by name, defaults stay defaults and
    * explicitly set values are set. */
  private def copyValues[T <: Params](from: Params, to: T): T = {
    from.params.filter(p => to.hasParam(p.name)).foreach { p =>
      val q = to.getParam(p.name).asInstanceOf[Param[Any]]
      from.getDefault(p).foreach(v => to.defaultParamMap.put(q, v))
      from.get(p).foreach(v => to.set(q, v))
    }
    to
  }
}
