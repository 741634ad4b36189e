package graft

import org.apache.spark.{SparkEnv, SparkException, TaskContext}
import org.apache.spark.rdd.RDD

import scala.reflect.ClassTag
import scala.util.control.NonFatal

/** Driver-coordinated jobs for the trainers: one job per call, results in
  * partition order.
  *
  * Named functions. Every function handed to `map`, `zipPartitions` or
  * `runJob` goes through Spark's closure cleaner. For a Scala lambda that
  * means re-reading and ASM-parsing the class file that declares it (the
  * 166 KB `GBTTrainer.class` for the trainer's lambdas): about 3 ms per
  * call, paid on the driver for every tree level. `runJob(rdd, f)` also
  * wraps `f` in a lambda of its own, whose clean parses `SparkContext.class`.
  * A named `Serializable` function class is not a closure, so the cleaner
  * returns at once. [[runJob]] therefore takes a [[PartitionFn]] and calls
  * the `(TaskContext, Iterator[T]) => U` + `partitions` overload of
  * `SparkContext.runJob`, which adds no wrapper. The cleaner's eager
  * serializability check is skipped too; a function that captures
  * something unserializable still fails at job submission, when the
  * scheduler serializes the task ("Task not serializable").
  *
  * Partition order. Spark hands a job's results back in partition-index
  * order, whatever order the tasks finish in. [[foldJob]] (under
  * [[aggregate]], [[reduce]] and [[foldPartials]]) folds each result on
  * the driver as soon as every lower-indexed one is folded, through the
  * `resultHandler` overload of `runJob`: the results do not depend on
  * task timing, and only results that arrive ahead of a lower-indexed one
  * wait in driver memory (the streaming profile of `RDD.fold`).
  *
  * Fan-in. The reference's histogram allreduce is a binomial tree over
  * workers (`src/collective/allreduce.h:27`); Spark's
  * `treeAggregate(depth=2)` is the same shape but costs an extra shuffle
  * stage per call. That stage only pays for itself when there are enough
  * partials that a single reducer would fan in too much data (thousands of
  * executors × multi-MB histograms). Up to [[directCutoff]] partitions the
  * partials go straight to the driver in one stage; above it `aggregate`,
  * `reduce` and `foldPartials` use the two-level tree, which caps driver
  * fan-in at √P merges (the 1000-executor design point) and merges in
  * Spark's order.
  */
object Agg {
  /** Partition-count cutoff below which partials reduce directly at the
    * driver. 64 × the largest per-level payload (~a few MB) is well under
    * driver capacity; beyond that the tree level starts paying. */
  val directCutoff = 64

  /** A per-partition job function. Implement it as a named class (or
    * object), never as a lambda, so Spark's closure cleaner skips it. */
  abstract class PartitionFn[-T, +U] extends ((TaskContext, Iterator[T]) => U) with Serializable

  /** Runs `f` over every partition of `rdd` as one job; result `i` is
    * partition `i`'s. */
  def runJob[T, U: ClassTag](rdd: RDD[T], f: PartitionFn[T, U]): Array[U] =
    rdd.sparkContext.runJob(rdd, f, rdd.partitions.indices)

  /** Runs `f` over every partition of `rdd` as one job and folds the
    * results into `zero` with `op` on the driver, in partition-index
    * order, each as soon as every lower-indexed result is folded. */
  private def foldJob[T, U: ClassTag, R](rdd: RDD[T], f: PartitionFn[T, U])(zero: R)(op: (R, U) => R): R = {
    val fold = new InOrder(rdd.getNumPartitions, zero, op)
    // Spark wraps an error thrown in the result handler; rethrow it as the
    // fold's own, as a fold on the caller's thread would throw it
    try rdd.sparkContext.runJob(rdd, f, rdd.partitions.indices, fold)
    catch { case e: SparkException if fold.failure != null => throw fold.failure }
    fold.result
  }

  /** Rows in `rdd`, counted by one job (materializes a persisted RDD). */
  def count(rdd: RDD[_]): Long = runJob(rdd, CountRows).sum

  def aggregate[T, U: ClassTag](rdd: RDD[T])(zero: U)(
      seqOp: (U, T) => U, combOp: (U, U) => U): U =
    if (rdd.getNumPartitions > directCutoff) rdd.treeAggregate(zero)(seqOp, combOp, 2)
    else foldJob(rdd, new FoldPartition(zero, seqOp))(copyOf(zero))(combOp)

  def reduce[T: ClassTag](rdd: RDD[T])(f: (T, T) => T): T =
    if (rdd.getNumPartitions > directCutoff) rdd.treeReduce(f, 2)
    else foldJob(rdd, new ReducePartition(f))(Option.empty[T]) {
      case (Some(a), Some(b)) => Some(f(a, b))
      case (a, b) => a.orElse(b)
    }.getOrElse(throw new UnsupportedOperationException("empty collection"))

  /** Folds `partials`, a pass that leaves one result per partition (built
    * with a named per-partition function), into `zero` with `add` in
    * partition order. Above [[directCutoff]] partitions the results are
    * first combined on the executors by a two-level `treeReduce` with
    * `combine`, to cap the driver's fan-in, and `add` sees the one
    * combined result. */
  def foldPartials[U: ClassTag, R](partials: RDD[U], combine: (U, U) => U)(zero: R)(
      add: (R, U) => R): R =
    if (partials.getNumPartitions > directCutoff) add(zero, partials.treeReduce(combine, 2))
    else foldJob(partials, new Only[U])(zero)(add)

  /** A copy of `zero` for the driver-side fold, so a mutable zero value is
    * never shared with the caller (each task gets its own deserialized
    * copy). */
  private def copyOf[U: ClassTag](zero: U): U = {
    val ser = SparkEnv.get.closureSerializer.newInstance()
    ser.deserialize[U](ser.serialize(zero))
  }

  private object CountRows extends PartitionFn[Any, Long] {
    def apply(ctx: TaskContext, it: Iterator[Any]): Long = {
      var n = 0L
      while (it.hasNext) { it.next(); n += 1 }
      n
    }
  }

  /** The one result a partition of a per-partition pass holds. */
  final class Only[U] extends PartitionFn[U, U] {
    def apply(ctx: TaskContext, it: Iterator[U]): U = it.next()
  }

  /** A job's result handler that folds results in partition order, keeping
    * those that arrive before a lower-indexed one until it is folded.
    * Spark calls it from one thread at a time and `runJob` returns after
    * the last call. */
  private final class InOrder[U, R](n: Int, private var acc: R, op: (R, U) => R)
      extends ((Int, U) => Unit) {
    private val early = new Array[Any](n)
    private val arrived = new Array[Boolean](n)
    private var next = 0
    @volatile var failure: Throwable = null
    def apply(i: Int, u: U): Unit = {
      early(i) = u; arrived(i) = true
      while (next < n && arrived(next)) {
        try acc = op(acc, early(next).asInstanceOf[U])
        catch { case NonFatal(e) => failure = e; throw e }
        early(next) = null
        next += 1
      }
    }
    def result: R = acc
  }

  private final class FoldPartition[T, U](zero: U, seqOp: (U, T) => U) extends PartitionFn[T, U] {
    def apply(ctx: TaskContext, it: Iterator[T]): U = it.foldLeft(zero)(seqOp)
  }

  private final class ReducePartition[T](f: (T, T) => T) extends PartitionFn[T, Option[T]] {
    def apply(ctx: TaskContext, it: Iterator[T]): Option[T] =
      if (it.hasNext) Some(it.reduceLeft(f)) else None
  }
}
