package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.storage.StorageLevel

import graft.data.Binning
import graft.tree.{BInst, GBTTrainer, TrainParams}

/** Histogram sums and root totals merge in partition-index order, so the
  * boosting loop over fixed partitions, cuts and base score is
  * bit-reproducible however the tasks happen to finish. */
class TrainerDeterminismSpec extends AnyFunSuite {
  import TestSpark._

  test("fitBinned on 4 uneven partitions gives byte-identical models across runs") {
    val sc = spark.sparkContext
    // uneven on purpose: the small partitions finish first
    val sizes = Seq(2400, 60, 900, 15)
    val raw = sc.parallelize(sizes.zipWithIndex, sizes.length).flatMap { case (n, p) =>
      val rng = new scala.util.Random(p)
      Iterator.fill(n) {
        val f = Array.fill(6)(rng.nextGaussian())
        if (rng.nextInt(10) == 0) f(3) = Double.NaN
        val y = math.sin(f(0)) + f(1) * f(2) + 0.3 * rng.nextGaussian()
        (f, y, 0.5 + rng.nextDouble())
      }
    }
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
