package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.data.{Binning, QuantileSketch, WQSummary}

/** The quantile sketch's contract, checked the way `Binning.findCuts` uses
  * it: each part of a randomly partitioned, weighted column is sketched on
  * its own and shipped as a packed summary; the unpacked summaries are then
  * merged and pruned one at a time, in a random order. Whatever the
  * partitioning and the merge order, every quantile query stays within
  * eps·W of its exact weighted rank (eps = 1/maxBin, the resolution of the
  * cuts), and the packed round trip loses no bit. */
class SketchPropertySpec extends AnyFunSuite {

  private def sameBits(a: Array[Double], b: Array[Double]): Boolean =
    a.length == b.length && a.indices.forall(i =>
      java.lang.Double.doubleToRawLongBits(a(i)) == java.lang.Double.doubleToRawLongBits(b(i)))

  private def sameSummary(a: WQSummary, b: WQSummary): Boolean =
    sameBits(a.values, b.values) && sameBits(a.rmins, b.rmins) &&
      sameBits(a.rmaxs, b.rmaxs) && sameBits(a.wmins, b.wmins)

  test("merged packed summaries keep rank error within eps·W under 240 random partitionings and merge orders") {
    val rng = new scala.util.Random(20261018)
    var worst = 0.0
    for (trial <- 0 until 240) {
      val maxBin = Seq(16, 32, 64)(trial % 3)
      val budget = QuantileSketch.sizeFor(maxBin)
      val n = 200 + rng.nextInt(6000)
      // heavy ties in a third of the trials; weights span two decades
      val values = Array.fill(n)(if (trial % 3 == 0) rng.nextInt(50).toDouble else rng.nextGaussian() * 10)
      val weights = Array.fill(n)(math.pow(10, 2 * rng.nextDouble() - 1))
      val parts = 1 + rng.nextInt(64)
      val partOf = Array.fill(n)(rng.nextInt(parts))
      val summaries = (0 until parts).map { p =>
        // a small buffer makes larger parts flush (and prune) mid-stream
        val s = new QuantileSketch(budget, bufferCap = 64 + rng.nextInt(2048))
        var i = 0
        while (i < n) { if (partOf(i) == p) s.push(values(i), weights(i)); i += 1 }
        s.result
      }.toArray
      val shipped = WQSummary.unpack(WQSummary.pack(summaries))
      assert(shipped.indices.forall(i => sameSummary(shipped(i), summaries(i))))
      var merged = WQSummary.empty
      rng.shuffle(shipped.toSeq).foreach(s => merged = merged.merge(s).prune(budget))

      val order = values.indices.sortBy(values(_))
      val sortedV = order.map(values(_)).toArray
      val cumW = order.map(weights(_)).scanLeft(0.0)(_ + _).toArray
      val total = cumW.last
      assert(math.abs(merged.totalWeight - total) <= 1e-9 * total)
      val eps = 1.0 / maxBin
      for (k <- 1 until maxBin) {
        val d = total * k / maxBin
        val v = merged.query(d)
        // exact weighted rank range of v: weight strictly below, and at or below
        val first = sortedV.indexWhere(_ == v)
        assert(first >= 0, s"$v is not a data value")
        val lo = cumW(first)
        val hi = cumW(sortedV.lastIndexWhere(_ == v) + 1)
        val err = math.max(0.0, math.max(lo - d, d - hi))
        worst = math.max(worst, err / (eps * total))
        assert(err <= eps * total,
          s"trial $trial: $parts parts, maxBin $maxBin, rank $d answered by $v in [$lo, $hi]")
      }
    }
    info(f"worst rank error: $worst%.3f·eps·W")
  }

  test("the packed round trip is bit-identical to QuantileSketch.result, exact and pruned") {
    val rng = new scala.util.Random(5)
    def sketch(n: Int, maxSize: Int): WQSummary = {
      val s = new QuantileSketch(maxSize, bufferCap = 512)
      (0 until n).foreach(_ => s.push(rng.nextGaussian(), 0.1 + rng.nextDouble()))
      s.result
    }
    // exact: fewer pushes than one buffer and entries than the budget
    val exact = sketch(300, 1024)
    // pruned: many flushes into a small budget
    val pruned = sketch(20000, 128)
    val empty = new QuantileSketch(64).result
    val in = Array(exact, pruned, empty)
    val block = WQSummary.pack(in)
    // exact summaries ship two arrays, pruned ones four
    assert(block.length == 4 * (1 + in.length) + 8 * (2 * exact.size + 4 * pruned.size))
    val out = WQSummary.unpack(block)
    assert(out.length == 3)
    in.indices.foreach(i => assert(sameSummary(out(i), in(i)), s"summary $i"))
  }

  test("above Agg.directCutoff partitions findCuts merges on the executors and keeps rank error within eps·W") {
    import TestSpark._
    val (parts, perPart, maxBin) = (72, 400, 16)
    assert(parts > Agg.directCutoff && perPart > QuantileSketch.sizeFor(maxBin))
    // feature 0 continuous with weights over two decades (every task
    // summary is pruned); feature 1 ten integer levels
    val rows = spark.sparkContext.parallelize(0 until parts, parts).flatMap { p =>
      val rng = new scala.util.Random(p)
      Iterator.fill(perPart)((Array(rng.nextGaussian(), rng.nextInt(10).toDouble),
        math.pow(10, 2 * rng.nextDouble() - 1)))
    }
    val resultTasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val l = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit =
        resultTasks.add(s.stageInfos.maxBy(_.stageId).numTasks)
    }
    spark.sparkContext.addSparkListener(l)
    val cuts = try { val c = Binning.findCuts(rows, 0, maxBin); Thread.sleep(500); c }
      finally spark.sparkContext.removeSparkListener(l)
    // no job hands the driver one result per input partition
    assert(!resultTasks.isEmpty)
    assert(resultTasks.stream().allMatch(_ < parts), resultTasks)
    // each level holds ~W/10 > W/maxBin, so every level is a cut
    assert(cuts.cuts(1).toSeq == (0 to 9).map(_.toDouble))

    val data = rows.map(r => (r._1(0), r._2)).collect().sortBy(_._1)
    val cumW = data.map(_._2).scanLeft(0.0)(_ + _)
    val total = cumW.last
    val eps = 1.0 / maxBin
    def rankErr(v: Double, d: Double): Double = {
      val lo = cumW(data.indexWhere(_._1 == v))
      val hi = cumW(data.lastIndexWhere(_._1 == v) + 1)
      math.max(0.0, math.max(lo - d, d - hi))
    }
    for (k <- 1 until maxBin) {
      val d = total * k / maxBin
      assert(cuts.cuts(0).exists(rankErr(_, d) <= eps * total), s"no cut near rank $d")
    }
  }
}
