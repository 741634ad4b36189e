package graft

import org.apache.spark.{SparkException, TaskContext}
import org.scalatest.funsuite.AnyFunSuite

import graft.tree.{BInst, GradPass}

/** Partition `2` of a job fails. */
final class FailsOnPartition2 extends Agg.PartitionFn[Int, Int] {
  def apply(ctx: TaskContext, it: Iterator[Int]): Int =
    if (ctx.partitionId() == 2) throw new IllegalStateException("partition 2 failed") else it.sum
}

/** Holds no serializable state. */
final class Unserializable { val x = 1 }

final class CapturesUnserializable(u: Unserializable) extends Agg.PartitionFn[Int, Int] {
  def apply(ctx: TaskContext, it: Iterator[Int]): Int = u.x
}

/** Rows seen and rows with a precomputed gradient. */
final class CountGrads extends GradPass[(Int, Int)] {
  def apply(rows: Iterator[(BInst, Array[Double], Array[Double])]): (Int, Int) =
    rows.foldLeft((0, 0)) { case ((n, g), (_, _, pre)) => (n + 1, if (pre != null) g + 1 else g) }
}

/** `Agg`'s jobs return results in partition order and fail loudly: the
  * closure cleaner's eager checks no longer run on them, so these specs
  * pin that task errors, unserializable captures and misaligned gradient
  * rows still fail the job. */
class AggSpec extends AnyFunSuite {
  import TestSpark._

  test("runJob, aggregate and reduce see partitions in index order whichever task finishes first") {
    val rdd = TaskOrder.slowed(spark.sparkContext.parallelize(0 until 12, 6).map(_.toString), stepMs = 30)
    for (phase <- 0 until 3) {
      TaskOrder.phase = phase
      assert(Agg.aggregate(rdd)("")(_ + _, _ + _) == "01234567891011")
      assert(Agg.reduce(rdd)(_ + _) == "01234567891011")
    }
    TaskOrder.phase = 0
    assert(Agg.count(rdd) == 12)
  }

  test("foldPartials adds partials at the driver in order, or one combined partial above directCutoff") {
    val sc = spark.sparkContext
    for ((parts, adds) <- Seq((6, 6), (Agg.directCutoff + 6, 1))) {
      val partials = sc.parallelize(0 until parts, parts).map(p => Vector(p))
      var added = 0
      val out = Agg.foldPartials(partials, (a: Vector[Int], b: Vector[Int]) => a ++ b)(Vector.empty[Int]) {
        (acc, p) => added += 1; acc ++ p
      }
      assert(out.sorted == (0 until parts))
      assert(added == adds)
      if (parts <= Agg.directCutoff) assert(out == (0 until parts))
    }
  }

  test("reduce of an empty RDD fails like RDD.reduce") {
    val empty = spark.sparkContext.parallelize(Seq.empty[Int], 3)
    intercept[UnsupportedOperationException](Agg.reduce(empty)(_ + _))
    assert(Agg.aggregate(empty)(0)(_ + _, _ + _) == 0)
  }

  test("a throwing task fails the job with its exception") {
    val rdd = spark.sparkContext.parallelize(0 until 40, 4)
    val e = intercept[SparkException](Agg.runJob(rdd, new FailsOnPartition2))
    assert(e.getMessage.contains("partition 2 failed"))
    val e2 = intercept[SparkException](Agg.aggregate(rdd)(0)((a, r) =>
      if (r == 33) throw new IllegalArgumentException("row 33 is bad") else a + r, _ + _))
    assert(e2.getMessage.contains("row 33 is bad"))
  }

  test("an error in the driver-side merge surfaces as itself") {
    val rdd = spark.sparkContext.parallelize(0 until 40, 4)
    val e = intercept[IllegalStateException](Agg.aggregate(rdd)(0)(_ + _, (a, b) =>
      if (a + b > 100) throw new IllegalStateException("merge overflowed") else a + b))
    assert(e.getMessage == "merge overflowed")
  }

  test("a function capturing something unserializable fails at submission") {
    val rdd = spark.sparkContext.parallelize(0 until 40, 4)
    val u = new Unserializable
    val e = intercept[SparkException](Agg.runJob(rdd, new CapturesUnserializable(u)))
    assert(e.getMessage.contains("Task not serializable"), e.getMessage)
    val e2 = intercept[SparkException](Agg.aggregate(rdd)(0)((a, _) => a + u.x, _ + _))
    assert(e2.getMessage.contains("Task not serializable"), e2.getMessage)
  }

  test("gradients whose partition row counts differ from the cache fail the way RDD.zip does") {
    val sc = spark.sparkContext
    val cache = sc.parallelize(0 until 40, 4).map(i => (BInst(Array(0), i, 1.0, i), Array(0.0)))
    val grads = sc.parallelize(0 until 40, 4).map(_ => Array(0.5, 1.0))
    assert(GradPass.run(cache, Some(grads), new CountGrads).toSeq == Seq.fill(4)((10, 10)))
    assert(GradPass.run(cache, None, new CountGrads).toSeq == Seq.fill(4)((10, 0)))
    // same partition count, one more row: the last partition is longer
    val longer = sc.parallelize(0 until 41, 4).map(_ => Array(0.5, 1.0))
    val shorter = sc.parallelize(0 until 39, 4).map(_ => Array(0.5, 1.0))
    for (bad <- Seq(longer, shorter)) {
      val zip = intercept[SparkException](cache.zip(bad).count()).getMessage
      val ours = intercept[SparkException](GradPass.run(cache, Some(bad), new CountGrads)).getMessage
      val phrase = "Can only zip RDDs with same number of elements in each partition"
      assert(zip.contains(phrase), zip)
      assert(ours.contains(phrase), ours)
    }
  }
}
