package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

import graft.tree.{GBTTrainer, TrainParams}

/** A tree level costs one Spark job: the root's histogram pass also sums
  * its (G, H) totals, so no separate totals job runs per tree. */
class HistogramJobSpec extends AnyFunSuite {
  import TestSpark._

  /** Result-stage call sites of the jobs `f` starts, each followed by the
    * creation sites of the result stage's RDDs. */
  private def jobSitesDuring(f: => Unit): Seq[String] = {
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = {
        val result = s.stageInfos.maxBy(_.stageId)
        sites.add(result.details + "\n" + result.rddInfos.map(_.callSite).mkString("\n"))
      }
    }
    spark.sparkContext.addSparkListener(l)
    try { f; Thread.sleep(500) } // let the listener bus drain
    finally spark.sparkContext.removeSparkListener(l)
    sites.asScala.toSeq
  }

  test("a plain n-round depth-d fit launches n·d histogram jobs and no other per-tree job") {
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
    val data = df.rdd.map { r =>
      val f = Array(r.getAs[Double]("l_quantity"), r.getAs[Double]("l_extendedprice"),
        r.getAs[Double]("l_discount"), r.getAs[Double]("l_tax"))
      (f, r.getAs[Double]("l_extendedprice") * (1 - r.getAs[Double]("l_discount")), 1.0)
    }.cache()
    data.count()
    val (rounds, depth) = (4, 3)
    val params = TrainParams(numRounds = rounds, maxDepth = depth, eta = 0.3, maxBin = 32,
      minTrainPartitions = 0)
    var model: graft.model.BoosterModel = null
    val sites = jobSitesDuring { model = new GBTTrainer(params).fit(data) }
    // every tree reached full depth, so every level ran its histogram pass
    assert(model.trees.length == rounds)
    val hist = sites.count(_.contains("aggregateHistograms"))
    assert(hist == rounds * depth, s"$hist histogram jobs")
    assert(sites.count(_.contains("growTree")) == rounds * depth)
    assert(!sites.exists(_.contains("aggregateTotals")))
    data.unpersist()
  }

  test("a rank:ndcg fit launches one gradient job per round, depth histogram jobs per tree and nothing else") {
    val rows = spark.sparkContext.parallelize(0 until 400, 4).flatMap { q =>
      val rng = new scala.util.Random(q)
      Iterator.fill(8) {
        val f = Array.fill(4)(rng.nextGaussian())
        val rel = math.max(0, math.min(3, math.round(f(0) + 0.5 * f(1) + 0.3 * rng.nextGaussian() + 1)))
        (f, rel.toDouble, 1.0, q.toLong)
      }
    }.cache()
    rows.count()
    val (rounds, depth) = (3, 3)
    val params = TrainParams(objective = "rank:ndcg", numRounds = rounds, maxDepth = depth,
      maxBin = 32, minTrainPartitions = 0)
    var model: graft.model.BoosterModel = null
    val sites = jobSitesDuring { model = new GBTTrainer(params).fitRanking(rows) }
    assert(model.trees.length == rounds)
    val hist = sites.filter(_.contains("aggregateHistograms"))
    val grads = sites.filter(s => s.contains("LambdaRank.scala") && !s.contains("aggregateHistograms"))
    assert(hist.length == rounds * depth, s"${hist.length} histogram jobs")
    assert(hist.forall(_.contains("growTree")))
    assert(grads.length == rounds, s"${grads.length} gradient jobs")
    // per fit: the sketch, the binned cache, the validation pass and the
    // group-weight pass; rounds < the flush interval, so no flush job
    val perFit = Seq("findCuts", "fitCached", "fitBinned")
    assert(sites.length == 4 + rounds * (1 + depth),
      s"${sites.length} jobs:\n${sites.map(_.linesIterator.next()).mkString("\n")}")
    assert((sites.toSet -- hist -- grads).forall(s => perFit.exists(s.contains)))
    rows.unpersist()
  }
}
