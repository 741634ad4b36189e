package graft

import org.apache.spark.rdd.RDD

import scala.reflect.ClassTag

/** Makes a job's tasks finish in an order the test chooses: each task of
  * [[slowed]] sleeps `stepMs` times its partition's rank in the current
  * [[phase]] before it yields rows. Phase 0 finishes partitions in index
  * order, phase 1 in reverse, phase 2 from the middle out. Under
  * `local[n]` the tasks run in the driver's JVM, so they read the phase
  * the test sets. */
object TaskOrder {
  @volatile var phase = 0

  def slowed[T: ClassTag](rdd: RDD[T], stepMs: Long = 40): RDD[T] = {
    val n = rdd.getNumPartitions
    rdd.mapPartitionsWithIndex({ (p, it) =>
      val rank = phase % 3 match {
        case 0 => p
        case 1 => n - 1 - p
        case _ => (p + n / 2) % n
      }
      Thread.sleep(stepMs * rank)
      it
    }, preservesPartitioning = true)
  }
}
