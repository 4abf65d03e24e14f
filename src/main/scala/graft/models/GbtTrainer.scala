package graft.models

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.nio.file.{Files, Path}
import java.util.Locale
import java.util.zip.{DeflaterOutputStream, InflaterInputStream}

import scala.collection.mutable

import org.apache.spark.ml.graftbridge.TreeBridge
import org.apache.spark.ml.graftbridge.TreeBridge.{Leaf, Node, Split, Stats}
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.param.Param
import org.apache.spark.ml.regression.GBTRegressor

/** A squared-loss gradient-boosted-tree trainer that reproduces MLlib's
  * `GBTRegressor` on continuous features, bit for bit, over rows held in
  * one process. [[GbtModel]] runs it inside ONE Spark task over the cached
  * supervised frame (one partition under the bounded-series contract), so
  * a fit is one job instead of MLlib's ~100 (a job per tree level per tree,
  * plus split finding, binning and the per-iteration prediction updates);
  * `TreeBridge` turns its trees into a real `GBTRegressionModel`.
  *
  * What it reproduces (`RandomForest.findSplits`, `binsToBestSplit`,
  * `calculateImpurityStats`, `LearningNode.toNode`, `GradientBoostedTrees
  * .boost`):
  *  - split thresholds per feature from the counts of its non-zero values
  *    plus the implied zero count; numSplits = min(maxBins, n) − 1;
  *    midpoints of consecutive distinct values when there are at most
  *    numSplits of them, else the stride walk (stride = n/(numSplits+1),
  *    cut where the previous gap < the current gap);
  *  - binning by binary search (a value ≤ threshold goes left);
  *  - variance impurity from cumulative (count, sum, sumSq) over bins in
  *    row order, right = total − left; gain = imp − wL·impL − wR·impR;
  *    a split is invalid when a side has fewer than minInstancesPerNode
  *    rows or too little weight, or its gain < minInfoGain; the first
  *    maximum wins (feature order, then threshold order); a node with
  *    gain ≤ 0 is a leaf (impurity −1 when no split was valid), a child is
  *    a leaf at maxDepth or when its impurity is below 2.22e-16; the
  *    root's statistics are those of its first candidate split, left +
  *    right, exactly as MLlib sums them;
  *  - pruning: a split whose two leaf children predict the same value
  *    becomes one leaf;
  *  - boosting: tree 0 fits the label with weight 1.0, tree m fits
  *    2(y − F) with weight stepSize, F accumulating tree predictions.
  *
  * Above max(maxBins², 10000) rows MLlib takes split candidates from a
  * seeded row sample; this trainer draws the same sample
  * (`TreeBridge.splitSample`: MLlib's seed derivation and
  * `BernoulliSampler` over the rows of a one-partition input), so it
  * matches there too. What it does not implement it refuses in
  * [[Config.of]]: other losses, row subsampling, feature subsets, row
  * weights and validation-based early stopping. Categorical features are
  * not read: every feature is continuous, as in the supervised frame. */
private[models] object GbtTrainer {

  /** The settings a fit reads, from a `GBTRegressor` (the params holder). */
  final case class Config(maxIter: Int, maxDepth: Int, stepSize: Double, maxBins: Int,
                          minInstancesPerNode: Int, minWeightFractionPerNode: Double,
                          minInfoGain: Double, seed: Long)

  object Config {
    def of(gbt: GBTRegressor): Config = {
      def unset(p: Param[String]) = !gbt.isDefined(p) || gbt.getOrDefault(p).isEmpty
      require(gbt.getLossType == "squared",
        s"GbtTrainer: squared loss only, not ${gbt.getLossType}")
      require(gbt.getSubsamplingRate == 1.0,
        s"GbtTrainer: subsamplingRate 1 only, not ${gbt.getSubsamplingRate}")
      require(Set("auto", "all")(gbt.getFeatureSubsetStrategy.toLowerCase(Locale.ROOT)),
        s"GbtTrainer: every feature per split only, not ${gbt.getFeatureSubsetStrategy}")
      require(unset(gbt.weightCol), "GbtTrainer: no weightCol")
      require(unset(gbt.validationIndicatorCol), "GbtTrainer: no validationIndicatorCol")
      require(gbt.getMaxIter >= 1, s"GbtTrainer: maxIter must be >= 1, not ${gbt.getMaxIter}")
      Config(gbt.getMaxIter, gbt.getMaxDepth, gbt.getStepSize, gbt.getMaxBins,
        gbt.getMinInstancesPerNode, gbt.getMinWeightFractionPerNode, gbt.getMinInfoGain,
        gbt.getSeed)
    }
  }

  /** One tree per boosting iteration, with its weight. */
  final case class Ensemble(trees: Array[Node], weights: Array[Double], numFeatures: Int)

  /** An ensemble's file: a version tag, the feature count, the tree count,
    * each tree's weight, then each tree's nodes in pre-order (a tag byte,
    * 0 leaf or 1 split; prediction, impurity, and for a split its gain,
    * feature and threshold; the statistics: count, sum, sum of squares,
    * raw count; then a split's left and right subtrees), deflated. Doubles
    * are written as their IEEE-754 bits, so a read gives back every node
    * bit for bit, and equal ensembles give equal bytes. */
  object Ensemble {
    private val Version = 1

    def write(e: Ensemble, path: Path): Unit = {
      val out = new DataOutputStream(new DeflaterOutputStream(
        new BufferedOutputStream(Files.newOutputStream(path))))
      def double(v: Double): Unit = out.writeLong(java.lang.Double.doubleToRawLongBits(v))
      def stats(s: Stats): Unit = { double(s.count); double(s.sum); double(s.sumSq); out.writeLong(s.rawCount) }
      def node(n: Node): Unit = n match {
        case Leaf(p, imp, s) => out.writeByte(0); double(p); double(imp); stats(s)
        case Split(p, imp, gain, f, t, l, r, s) =>
          out.writeByte(1); double(p); double(imp); double(gain); out.writeInt(f); double(t); stats(s)
          node(l); node(r)
      }
      try {
        out.writeInt(Version); out.writeInt(e.numFeatures); out.writeInt(e.trees.length)
        e.weights.foreach(double)
        e.trees.foreach(node)
      } finally out.close()
    }

    def read(path: Path): Ensemble = {
      val in = new DataInputStream(new InflaterInputStream(
        new BufferedInputStream(Files.newInputStream(path))))
      def double(): Double = java.lang.Double.longBitsToDouble(in.readLong())
      def stats(): Stats = Stats(double(), double(), double(), in.readLong())
      def node(): Node = in.readByte() match {
        case 0 => Leaf(double(), double(), stats())
        case 1 =>
          val (p, imp, gain, f, t, s) = (double(), double(), double(), in.readInt(), double(), stats())
          val l = node()
          Split(p, imp, gain, f, t, l, node(), s)
        case b => throw new IllegalArgumentException(s"$path: bad node tag $b")
      }
      try {
        val v = in.readInt()
        require(v == Version, s"$path: ensemble file version $v, expected $Version")
        val numFeatures = in.readInt()
        val n = in.readInt()
        val weights = Array.fill(n)(double())
        Ensemble(Array.fill(n)(node()), weights, numFeatures)
      } finally in.close()
    }
  }

  /** MLlib's `Utils.EPSILON`, the machine epsilon. */
  private val Epsilon = math.ulp(1.0)

  /** Fits the ensemble to features `x` and labels `y`, rows in data order
    * (the order MLlib's one-partition input would stream them in). */
  def fit(x: Array[Vector], y: Array[Double], c: Config): Ensemble = {
    val n = y.length
    require(n > 0 && x.length == n, s"GbtTrainer: ${x.length} feature rows, $n labels")
    val thr = thresholds(x, c)
    val bins = thr.indices.map(f => Array.tabulate(n)(i => bin(thr(f), x(i)(f)))).toArray
    val grower = new Grower(bins, thr, c, n)
    val f = new Array[Double](n)
    val trees = new Array[Node](c.maxIter)
    val weights = new Array[Double](c.maxIter)
    for (m <- 0 until c.maxIter) {
      // the negative squared-error gradient; tree 0 fits the label itself
      val label = if (m == 0) y else Array.tabulate(n)(i => 2.0 * (y(i) - f(i)))
      val pred = new Array[Double](n)
      trees(m) = grower.tree(label, pred)
      weights(m) = if (m == 0) 1.0 else c.stepSize
      for (i <- 0 until n) f(i) += pred(i) * weights(m)
    }
    Ensemble(trees, weights, thr.length)
  }

  /** `findSplitsForContinuousFeature` per feature, on MLlib's row sample. */
  private def thresholds(x: Array[Vector], c: Config): Array[Array[Double]] = {
    val n = x.length
    val required = math.max(c.maxBins * c.maxBins, 10000)
    val fraction = if (required < n) required.toDouble / n else 1.0
    val rows = if (fraction < 1) TreeBridge.splitSample(n, fraction, c.seed) else Array.range(0, n)
    val numSplits = math.min(c.maxBins, n) - 1
    val expected = fraction * n
    Array.tabulate(x(0).size) { f =>
      val counts = mutable.HashMap.empty[Double, Double]
      var nonZero = 0.0
      rows.foreach { i =>
        val v = x(i)(f)
        if (v != 0.0) { counts(v) = counts.getOrElse(v, 0.0) + 1.0; nonZero += 1.0 }
      }
      if (nonZero == 0.0) Array.emptyDoubleArray
      else {
        if (expected - nonZero > Epsilon * nonZero * nonZero) counts(0.0) = expected - nonZero
        val vc = counts.toArray.sortBy(_._1)
        if (vc.length - 1 <= numSplits)
          Array.tabulate(vc.length - 1)(i => (vc(i)._1 + vc(i + 1)._1) / 2.0)
        else {
          val stride = expected / (numSplits + 1)
          val out = Array.newBuilder[Double]
          var current = vc(0)._2
          var target = stride
          for (i <- 1 until vc.length) {
            val previous = current
            current += vc(i)._2
            if (math.abs(previous - target) < math.abs(current - target)) {
              out += (vc(i - 1)._1 + vc(i)._1) / 2.0
              target += stride
            }
          }
          out.result()
        }
      }
    }
  }

  private def bin(thresholds: Array[Double], v: Double): Int = {
    val i = java.util.Arrays.binarySearch(thresholds, v)
    if (i >= 0) i else -i - 1
  }

  private def impurity(s: Stats): Double =
    if (s.count == 0) 0.0 else (s.sumSq - (s.sum * s.sum) / s.count) / s.count

  private def predict(s: Stats): Double = if (s.count == 0) 0.0 else s.sum / s.count

  /** Grows one tree over binned features `bins(feature)(row)`. */
  private final class Grower(bins: Array[Array[Int]], thr: Array[Array[Double]], c: Config,
                             n: Int) {
    private val minWeight = c.minWeightFractionPerNode * n

    /** The tree for `label`; fills `pred` with each row's leaf prediction. */
    def tree(label: Array[Double], pred: Array[Double]): Node =
      grow(Array.range(0, n), null, 0, label, pred)

    private def leaf(rows: Array[Int], s: Stats, impurity: Double, pred: Array[Double]): Leaf = {
      val p = predict(s)
      rows.foreach(pred(_) = p)
      Leaf(p, impurity, s)
    }

    /** A node reached with `rows` (data order) and the statistics its
      * parent's split gave it (`null` at the root). */
    private def grow(rows: Array[Int], inherited: Stats, level: Int, label: Array[Double],
                     pred: Array[Double]): Node = {
      var stats = inherited
      var imp = if (inherited == null) Double.NaN else impurity(inherited)
      var found = false
      var bestGain = 0.0
      var bestFeature, bestSplit = -1
      var bestLeft, bestRight: Stats = null
      for (f <- thr.indices if thr(f).nonEmpty) {
        val ns = thr(f).length
        val cnt, sum, sq = new Array[Double](ns + 1)
        val raw = new Array[Long](ns + 1)
        rows.foreach { i =>
          val b = bins(f)(i)
          val l = label(i)
          cnt(b) += 1.0; sum(b) += l; sq(b) += l * l; raw(b) += 1
        }
        for (s <- 0 until ns) {
          cnt(s + 1) += cnt(s); sum(s + 1) += sum(s); sq(s + 1) += sq(s); raw(s + 1) += raw(s)
        }
        for (s <- 0 until ns) {
          val left = Stats(cnt(s), sum(s), sq(s), raw(s))
          val right = Stats(cnt(ns) - cnt(s), sum(ns) - sum(s), sq(ns) - sq(s), raw(ns) - raw(s))
          if (stats == null) {
            stats = Stats(left.count + right.count, left.sum + right.sum,
                          left.sumSq + right.sumSq, left.rawCount + right.rawCount)
            imp = impurity(stats)
          }
          val gain =
            if (left.rawCount < c.minInstancesPerNode || right.rawCount < c.minInstancesPerNode ||
                left.count < minWeight || right.count < minWeight) Double.MinValue
            else {
              val total = left.count + right.count
              val (wl, wr) = (left.count / total, right.count / total)
              val g = imp - wl * impurity(left) - wr * impurity(right)
              if (g < c.minInfoGain) Double.MinValue else g
            }
          if (!found || java.lang.Double.compare(gain, bestGain) > 0) {
            found = true
            bestGain = gain; bestFeature = f; bestSplit = s
            bestLeft = left; bestRight = right
          }
        }
      }
      if (!found) {
        // no feature has a split: the node's own row sums, as an invalid leaf
        var (cnt, sum, sq) = (0.0, 0.0, 0.0)
        rows.foreach { i => val l = label(i); cnt += 1.0; sum += l; sq += l * l }
        leaf(rows, Stats(cnt, sum, sq, rows.length.toLong), -1.0, pred)
      } else if (bestGain <= 0 || level == c.maxDepth) {
        leaf(rows, stats, if (bestGain == Double.MinValue) -1.0 else imp, pred)
      } else {
        val childIsLeaf = level + 1 == c.maxDepth
        val (leftRows, rightRows) = rows.partition(i => bins(bestFeature)(i) <= bestSplit)
        def child(rs: Array[Int], s: Stats): Node = {
          val ci = impurity(s)
          if (childIsLeaf || math.abs(ci) < Epsilon) leaf(rs, s, ci, pred)
          else grow(rs, s, level + 1, label, pred)
        }
        (child(leftRows, bestLeft), child(rightRows, bestRight)) match {
          case (l: Leaf, r: Leaf) if l.prediction == r.prediction => Leaf(l.prediction, imp, stats)
          case (l, r) => Split(predict(stats), imp, bestGain, bestFeature,
                               thr(bestFeature)(bestSplit), l, r, stats)
        }
      }
    }
  }
}
