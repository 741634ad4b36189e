package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

import graft.tree.{GBTTrainer, TrainParams}

/** A tree level costs one Spark job: the root's histogram pass also sums
  * its (G, H) totals, so no separate totals job runs per tree. */
class HistogramJobSpec extends AnyFunSuite {
  import TestSpark._

  /** Result-stage call sites of the jobs `f` starts. */
  private def jobSitesDuring(f: => Unit): Seq[String] = {
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit =
        sites.add(s.stageInfos.maxBy(_.stageId).details)
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
}
