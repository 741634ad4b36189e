package graft.tree

import org.scalatest.funsuite.AnyFunSuite

import graft.data.HistogramCuts

/** The parallel split search must return exactly the serial
  * `SplitEnumerator.bestSplit` candidate for every node: same feature,
  * bin, direction, gain and child sums, and the same tie-break when
  * several features score the same gain in different feature chunks. */
class SplitSearchParitySpec extends AnyFunSuite {

  private def same(a: Option[SplitCandidate], b: Option[SplitCandidate]): Boolean = (a, b) match {
    case (None, None) => true
    case (Some(x), Some(y)) =>
      x.copy(catRight = null) == y.copy(catRight = null) &&
        ((x.catRight == null && y.catRight == null) ||
          (x.catRight != null && y.catRight != null && x.catRight.sameElements(y.catRight)))
    case _ => false
  }

  private def cutsOf(bins: Array[Int]): HistogramCuts =
    HistogramCuts(bins.map(n => Array.tabulate(n)(_.toDouble)))

  /** A node over `features`: random (g, h) per bin, or feature 0's bins
    * copied into every feature when `tied`, plus missing mass. */
  private def node(rng: scala.util.Random, cuts: HistogramCuts, features: Array[Int],
      tied: Boolean, lo: Double, hi: Double): NodeSearch = {
    val hist = new Array[Double](2 * cuts.totalBins)
    (0 until cuts.numFeatures).foreach { f =>
      val off = cuts.featureOffset(f)
      (0 until cuts.numBins(f)).foreach { b =>
        hist(2 * (off + b)) = rng.nextGaussian() * 3
        hist(2 * (off + b) + 1) = if (rng.nextInt(8) == 0) 0.0 else 0.1 + rng.nextDouble() * 4
      }
    }
    if (tied) (1 until cuts.numFeatures).foreach { f =>
      System.arraycopy(hist, 0, hist, 2 * cuts.featureOffset(f), 2 * cuts.numBins(f))
    }
    // node totals: feature 0's mass plus a missing share every feature sees
    val f0 = 0 until cuts.numBins(0)
    val g = f0.map(b => hist(2 * b)).sum + rng.nextGaussian()
    val h = f0.map(b => hist(2 * b + 1)).sum + rng.nextDouble() * 2
    NodeSearch(hist, features, g, h, lo, hi)
  }

  test("parallel split search returns bestSplit's candidate on 240 random levels") {
    val rng = new scala.util.Random(20261017)
    val bounds = Seq((Double.NegativeInfinity, Double.PositiveInfinity), (-0.3, Double.PositiveInfinity),
      (Double.NegativeInfinity, 0.2), (-0.5, 0.5))
    var nodesChecked = 0
    var found = 0
    var catSplits = 0
    for (trial <- 0 until 240) {
      val tied = trial % 4 == 0
      val numFeatures = 1 + rng.nextInt(48)
      // tied levels need equal-width features so the copies line up
      val width = 2 + rng.nextInt(300)
      val bins = Array.fill(numFeatures)(if (tied) width else 1 + rng.nextInt(300))
      val cuts = cutsOf(bins)
      val cat = if (trial % 3 == 1) (0 until numFeatures).filter(_ => rng.nextInt(3) == 0).toSet else Set.empty[Int]
      val p = TrainParams(
        lambda = Seq(0.0, 1.0, 5.0)(rng.nextInt(3)),
        alpha = Seq(0.0, 0.5)(rng.nextInt(2)),
        gamma = Seq(0.0, 1.0)(rng.nextInt(2)),
        minChildWeight = Seq(0.0, 1.0, 5.0)(rng.nextInt(3)),
        maxDeltaStep = Seq(0.0, 0.7)(rng.nextInt(2)),
        monotoneConstraints =
          if (trial % 5 == 2) Array.fill(numFeatures)(rng.nextInt(3) - 1) else Array.empty,
        catFeatures = cat,
        maxCatToOnehot = 4,
        maxCatThreshold = 64)
      val nodes = Array.fill(1 + rng.nextInt(6)) {
        // colsample / interaction-constraint style subsets, in feature order
        val features =
          if (rng.nextBoolean()) (0 until numFeatures).toArray
          else (0 until numFeatures).filter(_ => rng.nextDouble() < 0.6).toArray
        val (lo, hi) = bounds(rng.nextInt(bounds.length))
        node(rng, cuts, features, tied, lo, hi)
      }
      val parallel = SplitEnumerator.bestSplits(nodes, cuts, p)
      nodes.indices.foreach { i =>
        val n = nodes(i)
        val serial = SplitEnumerator.bestSplit(n.hist, cuts, n.features, n.g, n.h, p, n.lo, n.hi)
        assert(same(parallel(i), serial), s"trial $trial node $i: ${parallel(i)} vs $serial")
        if (serial.isDefined) found += 1
        if (serial.exists(_.catRight != null)) catSplits += 1
        nodesChecked += 1
      }
    }
    assert(nodesChecked >= 200)
    assert(found > nodesChecked / 2, s"only $found of $nodesChecked nodes found a split")
    assert(catSplits > 0, "no categorical split was exercised")
  }

  test("equal gains in every feature chunk keep the first feature") {
    val rng = new scala.util.Random(5)
    // 64 features × 256 bins: well above one task's bins, so the scan is chunked
    val cuts = cutsOf(Array.fill(64)(256))
    val features = (0 until 64).toArray
    val n = node(rng, cuts, features, tied = true, Double.NegativeInfinity, Double.PositiveInfinity)
    val p = TrainParams(minChildWeight = 0.0)
    val Array(parallel) = SplitEnumerator.bestSplits(Array(n), cuts, p)
    val serial = SplitEnumerator.bestSplit(n.hist, cuts, features, n.g, n.h, p, n.lo, n.hi)
    assert(serial.isDefined)
    assert(same(parallel, serial))
    assert(parallel.get.feature == 0)
  }
}
