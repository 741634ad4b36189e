package graft.tree

import org.apache.spark.SparkException
import org.apache.spark.rdd.RDD

import scala.reflect.ClassTag

/** One partition's pass over the training cache: each cached (row,
  * margins) pair together with its precomputed (g, h), or null where the
  * objective computes the gradient per row. Implementations are named
  * classes, so the job runs without a closure-cleaning pass
  * ([[graft.Agg]]). */
private[graft] abstract class GradPass[U] extends Serializable {
  def apply(rows: Iterator[(BInst, Array[Double], Array[Double])]): U
}

private[graft] object GradPass {

  /** Runs `pass` over every partition of `cache` as one job; result `i` is
    * partition `i`'s. */
  def run[U: ClassTag](cache: RDD[(BInst, Array[Double])], grads: Option[RDD[Array[Double]]],
      pass: GradPass[U]): Array[U] =
    graft.Agg.runJob(partials(cache, grads, pass), new graft.Agg.Only[U])

  /** The same pass as a lazy RDD of one result per partition. With
    * `grads`, cache and gradients are zipped partition by partition, with
    * `RDD.zip`'s check that both sides hold the same number of rows. */
  def partials[U: ClassTag](cache: RDD[(BInst, Array[Double])],
      grads: Option[RDD[Array[Double]]], pass: GradPass[U]): RDD[U] = grads match {
    case None => cache.mapPartitions(new OnRows(pass))
    case Some(g) => cache.zipPartitions(g)(new Zipped(pass))
  }

  private final class OnRows[U](pass: GradPass[U])
      extends (Iterator[(BInst, Array[Double])] => Iterator[U]) with Serializable {
    def apply(it: Iterator[(BInst, Array[Double])]): Iterator[U] =
      Iterator.single(pass(it.map { case (r, m) => (r, m, null: Array[Double]) }))
  }

  private final class Zipped[U](pass: GradPass[U])
      extends ((Iterator[(BInst, Array[Double])], Iterator[Array[Double]]) => Iterator[U])
      with Serializable {
    def apply(rows: Iterator[(BInst, Array[Double])], grads: Iterator[Array[Double]]): Iterator[U] =
      Iterator.single(pass(new Iterator[(BInst, Array[Double], Array[Double])] {
        def hasNext: Boolean = {
          val more = rows.hasNext
          if (more != grads.hasNext) throw new SparkException(
            "Can only zip RDDs with same number of elements in each partition")
          more
        }
        def next(): (BInst, Array[Double], Array[Double]) = {
          val (r, m) = rows.next()
          (r, m, grads.next())
        }
      }))
  }
}
