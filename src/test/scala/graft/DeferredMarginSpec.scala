package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.tree.{GBTTrainer, TrainParams}

/** A plain fit defers prediction-cache updates: freshly-grown trees ride
  * the gradient passes as on-the-fly margin adjustments, and the cache is
  * flushed once per 8 committed trees. Setting a watch metric makes the
  * same fit flush every round. The addition order of tree contributions is
  * the same either way, so the trained model must be BIT-identical — these
  * specs assert exact (==) equality of the serialized models between a
  * plain fit and the same fit with `evalMetric` set. */
class DeferredMarginSpec extends AnyFunSuite {
  import TestSpark._

  private def lineitemData() = {
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
    df.rdd.map { r =>
      val f = Array(
        r.getAs[Double]("l_quantity"),
        r.getAs[Double]("l_extendedprice"),
        r.getAs[Double]("l_discount"),
        r.getAs[Double]("l_tax"))
      (f, r.getAs[Double]("l_extendedprice") * (1 - r.getAs[Double]("l_discount")), 1.0)
    }
  }

  /** Jobs started by `f` whose result stage ran inside `flushPending`. */
  private def flushJobsDuring(f: => Unit): Int = {
    val counter = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit =
        if (s.stageInfos.maxBy(_.stageId).details.contains("flushPending")) counter.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try { f; Thread.sleep(500) } // let the listener bus drain
    finally spark.sparkContext.removeSparkListener(l)
    counter.get()
  }

  test("deferred cache is bit-identical across flush intervals (regression)") {
    val data = lineitemData().cache()
    // 12 rounds: the plain fit flushes once (after tree 8) and carries four
    // pending trees at the end; the watched fit flushes all 12 rounds
    val base = TrainParams(numRounds = 12, maxDepth = 4, eta = 0.3, maxBin = 32,
      minTrainPartitions = 0)
    val deferred = new GBTTrainer(base).fit(data).toJson
    val every = new GBTTrainer(base.copy(evalMetric = Some("rmse"))).fit(data).toJson
    assert(deferred == every)
    data.unpersist()
  }

  test("deferred cache is bit-identical for multiclass softprob + subsample") {
    val data = lineitemData().map { case (f, _, w) =>
      (f, (f(0) % 3).floor.max(0.0), w) }.cache()
    // 3 trees per round: the plain fit flushes after round 3 (9 trees)
    val base = TrainParams(objective = "multi:softprob", numClass = 3,
      numRounds = 6, maxDepth = 3, eta = 0.4, maxBin = 32, subsample = 0.7,
      seed = 11, minTrainPartitions = 0)
    val deferred = new GBTTrainer(base).fit(data).toJson
    val every = new GBTTrainer(base.copy(evalMetric = Some("mlogloss"))).fit(data).toJson
    assert(deferred == every)
    data.unpersist()
  }

  test("deferred cache is bit-identical for rank:ndcg (pending-aware λ-gradients)") {
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
    val data = df.rdd.map { r =>
      val f = Array(r.getAs[Double]("l_quantity"), r.getAs[Double]("l_extendedprice"),
        r.getAs[Double]("l_discount"), r.getAs[Double]("l_tax"))
      (f, (r.getAs[Int]("l_linenumber") % 4).toDouble, 1.0,
        r.getAs[Long]("l_orderkey") % 50)
    }.cache()
    val base = TrainParams(objective = "rank:ndcg", numRounds = 6, maxDepth = 3,
      eta = 0.3, maxBin = 32, seed = 3, minTrainPartitions = 0)
    val deferred = new GBTTrainer(base).fitRanking(data).toJson
    val every = new GBTTrainer(base.copy(evalMetric = Some("ndcg@5"))).fitRanking(data).toJson
    assert(deferred == every)
    data.unpersist()
  }

  test("deferred cache is bit-identical for survival:cox (pending-aware risk sets)") {
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
    val data = df.rdd.map { r =>
      val f = Array(r.getAs[Double]("l_quantity"), r.getAs[Double]("l_discount"),
        r.getAs[Double]("l_tax"))
      // |label| = survival time, sign = censoring
      val t = 1.0 + r.getAs[Double]("l_extendedprice") / 10000.0
      (f, if (r.getAs[Long]("l_orderkey") % 3 == 0) -t else t, 1.0)
    }.cache()
    val base = TrainParams(objective = "survival:cox", numRounds = 5, maxDepth = 3,
      eta = 0.2, maxBin = 32, seed = 5, minTrainPartitions = 0)
    val deferred = new GBTTrainer(base).fit(data).toJson
    val every = new GBTTrainer(base.copy(evalMetric = Some("cox-nloglik"))).fit(data).toJson
    assert(deferred == every)
    data.unpersist()
  }

  test("deferral schedules fewer Spark jobs than per-iteration flushing") {
    val data = lineitemData().cache()
    data.count()
    val base = TrainParams(numRounds = 10, maxDepth = 3, eta = 0.3, maxBin = 32,
      minTrainPartitions = 0)
    val plain = flushJobsDuring(new GBTTrainer(base).fit(data))
    val watched = flushJobsDuring(new GBTTrainer(base.copy(evalMetric = Some("rmse"))).fit(data))
    // 10 rounds: the plain fit flushes once (after tree 8), the watched
    // fit once per round
    assert(plain <= 1, s"plain fit ran $plain flush jobs")
    assert(watched >= 9, s"watched fit ran $watched flush jobs")
    data.unpersist()
  }

  test("watch list disables deferral without changing results") {
    val data = lineitemData().cache()
    // an eval watch set is flushed alongside the training cache every
    // round; neither it nor the per-round flushing changes the model
    val p = TrainParams(numRounds = 5, maxDepth = 3, eta = 0.3, maxBin = 32,
      minTrainPartitions = 0)
    val plain = new GBTTrainer(p).fit(data).toJson
    val watcher = new GBTTrainer(p.copy(evalMetric = Some("rmse")))
    val watched = watcher.fit(data, data).toJson
    assert(watched == plain)
    assert(watcher.evalHistory.map(_._1) == (0 until 5))
    data.unpersist()
  }
}
