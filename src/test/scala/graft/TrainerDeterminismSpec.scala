package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.storage.StorageLevel

import graft.data.Binning
import graft.tree.{BInst, GBTTrainer, TrainParams}

/** Histogram sums, root totals, quantile-sketch summaries and the
  * validation pass's label sums all merge in partition-index order, so a
  * fit over fixed partitions is bit-reproducible however the tasks happen
  * to finish. */
class TrainerDeterminismSpec extends AnyFunSuite {
  import TestSpark._

  /** `sizes(p)` rows in partition p: six features (some missing), a
    * nonlinear label and non-unit weights. */
  private def unevenRows(sizes: Seq[Int]) =
    spark.sparkContext.parallelize(sizes.zipWithIndex, sizes.length).flatMap { case (n, p) =>
      val rng = new scala.util.Random(p)
      Iterator.fill(n) {
        val f = Array.fill(6)(rng.nextGaussian())
        if (rng.nextInt(10) == 0) f(3) = Double.NaN
        val y = math.sin(f(0)) + f(1) * f(2) + 0.3 * rng.nextGaussian()
        (f, y, 0.5 + rng.nextDouble())
      }
    }

  test("Binning.findCuts gives the same cuts whichever tasks finish first") {
    val maxBin = 32
    // 6 partitions of 500 rows: every partition summary and every merge is
    // pruned to the sketch budget, where the merge order shows
    val rows = TaskOrder.slowed(unevenRows(Seq.fill(6)(500)).map(r => (r._1, r._3)))
    assert(500 > graft.data.QuantileSketch.sizeFor(maxBin))
    val cuts = (0 until 2).map { phase =>
      TaskOrder.phase = phase
      Binning.findCuts(rows, 0, maxBin).cuts.map(_.toSeq).toSeq
    }
    TaskOrder.phase = 0
    assert(cuts(0) == cuts(1), "the cuts depend on the order the tasks finished in")
  }

  test("GBTTrainer.fit on 4 uneven partitions of raw rows gives byte-identical models") {
    // sketch, validation sums, histograms: every merge of the fit sees the
    // partitions finish in a different order in each of the three runs
    val raw = TaskOrder.slowed(unevenRows(Seq(2400, 60, 900, 15)), stepMs = 25)
    val params = TrainParams(numRounds = 4, maxDepth = 4, maxBin = 64, eta = 0.3,
      subsample = 0.8, seed = 2, minTrainPartitions = 0)
    val models = (0 until 3).map { phase =>
      TaskOrder.phase = phase
      new GBTTrainer(params).fit(raw).toJson
    }
    TaskOrder.phase = 0
    assert(models.distinct.length == 1, s"${models.distinct.length} distinct models in 3 fits")
  }

  test("fitBinned on 4 uneven partitions gives byte-identical models across runs") {
    // uneven on purpose: the small partitions finish first
    val sizes = Seq(2400, 60, 900, 15)
    val raw = unevenRows(sizes)
    val cuts = Binning.findCuts(raw.map(r => (r._1, r._3)), 0, 64)
    val binned = raw.zipWithUniqueId().map { case ((f, y, w), id) =>
      BInst(cuts.binRow(f), y, w, id)
    }.persist(StorageLevel.MEMORY_AND_DISK)
    assert(binned.count() == sizes.sum)
    assert(binned.getNumPartitions == 4)
    for (policy <- Seq("depthwise", "lossguide")) {
      val params = TrainParams(numRounds = 6, maxDepth = 5, maxLeaves = if (policy == "lossguide") 12 else 0,
        growPolicy = policy, eta = 0.3, subsample = 0.8, seed = 4, minTrainPartitions = 0)
      val models = Seq.fill(4)(new GBTTrainer(params)
        .fitBinned(binned, cuts, cuts.numFeatures, baseOverride = Some(Array(0.25))).toJson)
      assert(models.distinct.length == 1, s"$policy: ${models.distinct.length} distinct models in 4 fits")
    }
    binned.unpersist()
  }

  test("above Agg.directCutoff partitions the tree merge sums the same histograms") {
    val sc = spark.sparkContext
    // integer labels, unit weights and a zero base score make every
    // first-round gradient sum exact, so the tree merge and the
    // partition-order merge must grow the same tree bit for bit
    val rows = sc.parallelize(0 until 3000, 4).map { i =>
      val rng = new scala.util.Random(i)
      val f = Array.fill(5)(rng.nextGaussian())
      (f, (math.round(3 * f(0) - 2 * f(1) * f(2)) + rng.nextInt(3)).toDouble, 1.0)
    }
    val cuts = Binning.findCuts(rows.map(r => (r._1, r._3)), 0, 32)
    val binned = rows.zipWithUniqueId().map { case ((f, y, w), id) => BInst(cuts.binRow(f), y, w, id) }
    val params = TrainParams(numRounds = 1, maxDepth = 4, minTrainPartitions = 0)
    def fitOn(parts: Int): String = {
      val b = binned.repartition(parts).persist(StorageLevel.MEMORY_AND_DISK)
      b.count()
      try new GBTTrainer(params).fitBinned(b, cuts, cuts.numFeatures, baseOverride = Some(Array(0.0))).toJson
      finally b.unpersist()
    }
    assert(Agg.directCutoff < 70)
    assert(fitOn(70) == fitOn(4))
  }
}
