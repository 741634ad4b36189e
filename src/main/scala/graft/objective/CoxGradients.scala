package graft.objective

import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import graft.tree.BInst

import scala.collection.mutable.ArrayBuffer

/** Distributed survival:cox gradients (`src/objective/regression_obj.cu:604`
  * re-expressed as partition-prefix scans — the reference runs one
  * sequential sweep over |label|-sorted rows; this is the same math with
  * the sweep split across range partitions and only per-partition scalars
  * on the driver).
  *
  * Input rows (instance, cached margin) MUST be |label|-ascending sorted
  * across partitions (the trainer sorts once per fit — the order never
  * changes between iterations).
  *
  * Math (Breslow ties, value-based and deterministic: all rows sharing an
  * event time share one risk set — the reference's sequential loop is
  * order-dependent WITHIN a tie group; we use the tie-group-inclusive
  * form):
  *   riskSum(v) = Σ_{|y_j| ≥ v} e^{p_j}
  *   R(v) = Σ_{event values u ≤ v} nEvents(u) / riskSum(u)     (and S with ²)
  *   g_i = w_i (e^{p_i} R(v_i) − 1{event_i})
  *   h_i = w_i (e^{p_i} R(v_i) − e^{2 p_i} S(v_i))
  *
  * Three passes over the cached sorted data:
  *   1. per-partition totals + first/last tie-group boundary summaries
  *      (driver: suffix exp sums, cross-partition tie stitching, ownership
  *      of spanning tie groups)
  *   2. per-partition owned R/S contributions (driver: prefix offsets)
  *   3. per-row gradients, buffering ONE tie group at a time.
  * Driver state: O(numPartitions) scalars. No shuffle beyond the one-time
  * sort.
  */
object CoxGradients {

  private final case class PartStats(
      nonEmpty: Boolean, total: Double,
      firstVal: Double, firstExp: Double, firstEvents: Long,
      lastVal: Double, lastExp: Double, lastEvents: Long)

  private final case class PartInfo(
      total: Double, suffixExp: Double, tieExpBefore: Double,
      tieEventsBefore: Long, tieEventsAfter: Long, ownsFirst: Boolean,
      rOffset: Double, sOffset: Double)

  /** `pending`: trees committed to the model but not yet materialized into
    * the margin cache (deferred prediction-cache updates) — their
    * contribution is added per row on the fly, exactly as the trainer's
    * `adjustedMargin` does for the histogram passes. */
  def compute(rows: RDD[(BInst, Array[Double])],
      pending: Array[(graft.tree.TreeShape, Double, Int)] = Array.empty): RDD[Array[Double]] = {
    val zipped = if (pending.isEmpty) rows else rows.map(new WithPending(pending))
    val sc = rows.sparkContext
    val nParts = zipped.getNumPartitions

    // ---- pass 1: per-partition boundary summaries (one job per pass, the
    // results in partition order) ----
    val stats = graft.Agg.runJob(zipped, BoundaryStats)

    // driver: suffix exp sums + cross-partition tie stitching
    val suffixExp = new Array[Double](nParts)
    var acc = 0.0
    for (p <- (nParts - 1) to 0 by -1) { suffixExp(p) = acc; acc += stats(p).total }

    val tieExpBefore = new Array[Double](nParts)
    val tieEventsBefore = new Array[Long](nParts)
    val tieEventsAfter = new Array[Long](nParts)
    val ownsFirst = new Array[Boolean](nParts)
    for (p <- 0 until nParts if stats(p).nonEmpty) {
      val fv = stats(p).firstVal
      var q = p - 1
      var go = true
      while (go && q >= 0) {
        val s = stats(q)
        if (!s.nonEmpty) q -= 1
        else if (s.lastVal == fv) {
          tieExpBefore(p) += s.lastExp; tieEventsBefore(p) += s.lastEvents
          if (s.firstVal == fv) q -= 1 else go = false // whole partition tied ⇒ keep walking
        } else go = false
      }
      // ownership: first partition of the value chain computes the group's
      // R/S contribution exactly once
      var o = p - 1
      while (o >= 0 && !stats(o).nonEmpty) o -= 1
      ownsFirst(p) = o < 0 || stats(o).lastVal != fv

      val lv = stats(p).lastVal
      q = p + 1; go = true
      while (go && q < nParts) {
        val s = stats(q)
        if (!s.nonEmpty) q += 1
        else if (s.firstVal == lv) {
          tieEventsAfter(p) += s.firstEvents
          if (s.lastVal == lv) q += 1 else go = false
        } else go = false
      }
    }

    // ---- pass 2: owned R/S contributions per partition ----
    val preInfo = Array.tabulate(nParts)(p => PartInfo(
      stats(p).total, suffixExp(p), tieExpBefore(p), tieEventsBefore(p),
      tieEventsAfter(p), ownsFirst(p), 0.0, 0.0))
    val bPre = sc.broadcast(preInfo)
    val owned = graft.Agg.runJob(zipped, new OwnedSums(bPre))

    val info = new Array[PartInfo](nParts)
    var rAcc = 0.0; var sAcc = 0.0
    for (p <- 0 until nParts) {
      info(p) = preInfo(p).copy(rOffset = rAcc, sOffset = sAcc)
      rAcc += owned(p)._1; sAcc += owned(p)._2
    }
    val bInfo = sc.broadcast(info)

    // ---- pass 3: per-row gradients, one tie group buffered at a time ----
    zipped.mapPartitionsWithIndex(new RowGradients(bInfo))
  }

  /** The cached margin with the pending trees added ([[graft.tree.TreeShape.margin]]). */
  private final class WithPending(pending: Array[(graft.tree.TreeShape, Double, Int)])
      extends (((BInst, Array[Double])) => (BInst, Array[Double])) with Serializable {
    def apply(rm: (BInst, Array[Double])): (BInst, Array[Double]) =
      (rm._1, Array(graft.tree.TreeShape.margin(rm._1, rm._2, pending, 0)))
  }

  /** Pass 1: one partition's exp total and first/last tie-group summaries. */
  private object BoundaryStats extends graft.Agg.PartitionFn[(BInst, Array[Double]), PartStats] {
    def apply(ctx: TaskContext, it: Iterator[(BInst, Array[Double])]): PartStats = {
      var started = false; var inFirst = true
      var total = 0.0
      var firstVal = 0.0; var firstExp = 0.0; var firstEvents = 0L
      var curVal = 0.0; var curExp = 0.0; var curEvents = 0L
      it.foreach { case (r, m) =>
        val v = math.abs(r.label); val e = math.exp(m(0))
        if (!started) { started = true; curVal = v }
        else if (v != curVal) {
          if (inFirst) { firstVal = curVal; firstExp = curExp; firstEvents = curEvents; inFirst = false }
          curVal = v; curExp = 0.0; curEvents = 0L
        }
        total += e; curExp += e; if (r.label > 0) curEvents += 1
      }
      if (!started) PartStats(nonEmpty = false, 0, 0, 0, 0, 0, 0, 0)
      else if (inFirst) // single tie group spans the whole partition
        PartStats(nonEmpty = true, total, curVal, curExp, curEvents, curVal, curExp, curEvents)
      else PartStats(nonEmpty = true, total, firstVal, firstExp, firstEvents, curVal, curExp, curEvents)
    }
  }

  /** Pass 2: one partition's owned R/S contributions. */
  private final class OwnedSums(bPre: Broadcast[Array[PartInfo]])
      extends graft.Agg.PartitionFn[(BInst, Array[Double]), (Double, Double)] {
    def apply(ctx: TaskContext, it: Iterator[(BInst, Array[Double])]): (Double, Double) = {
      val info = bPre.value(ctx.partitionId())
      var r = 0.0; var s = 0.0
      scanGroups(it, info) { (riskSum, nEventsGlobal, ownedGroup, _, _) =>
        if (ownedGroup && nEventsGlobal > 0) {
          r += nEventsGlobal / riskSum
          s += nEventsGlobal / (riskSum * riskSum)
        }
      }
      (r, s)
    }
  }

  /** Pass 3: one partition's per-row (g, h), one tie group buffered at a
    * time. */
  private final class RowGradients(bInfo: Broadcast[Array[PartInfo]])
      extends ((Int, Iterator[(BInst, Array[Double])]) => Iterator[Array[Double]]) with Serializable {
    def apply(pid: Int, it: Iterator[(BInst, Array[Double])]): Iterator[Array[Double]] = {
      val inf = bInfo.value(pid)
      var bigR = inf.rOffset; var bigS = inf.sOffset
      val flat = new ArrayBuffer[Array[Double]]
      scanGroups(it, inf) {
        (riskSum, nEventsGlobal, ownedGroup, rowsExpEvW, _) =>
          // value-based "≤" includes the full tie group; the spanning-group
          // contribution added by an earlier owner already sits in rOffset
          if (ownedGroup && nEventsGlobal > 0) {
            bigR += nEventsGlobal / riskSum
            bigS += nEventsGlobal / (riskSum * riskSum)
          }
          val rNow = bigR; val sNow = bigS
          rowsExpEvW.foreach { case (e, ev, w) =>
            val g = w * (e * rNow - (if (ev) 1.0 else 0.0))
            val h = w * math.max(e * rNow - e * e * sNow, 1e-16)
            flat += Array(g, h)
          }
      }
      flat.iterator
    }
  }

  /** Walk a sorted partition one tie group at a time, invoking `f` with
    * (riskSum, globalEventCount, ownedGroup, groupRows, isLast). Buffers
    * only the current tie group. */
  private def scanGroups(
      it: Iterator[(BInst, Array[Double])], info: PartInfo)(
      f: (Double, Long, Boolean, scala.collection.Seq[(Double, Boolean, Double)], Boolean) => Unit): Unit = {
    val base = it.buffered
    var expBelow = 0.0
    var isFirst = true
    val buf = new ArrayBuffer[(Double, Boolean, Double)]
    while (base.hasNext) {
      buf.clear()
      val v = math.abs(base.head._1.label)
      var gExp = 0.0; var gEvents = 0L
      while (base.hasNext && math.abs(base.head._1.label) == v) {
        val (r, m) = base.next()
        val e = math.exp(m(0))
        gExp += e; if (r.label > 0) gEvents += 1
        buf += ((e, r.label > 0, r.weight))
      }
      val isLast = !base.hasNext
      val riskSum = info.total - expBelow + info.suffixExp +
        (if (isFirst) info.tieExpBefore else 0.0)
      val nEventsGlobal = gEvents +
        (if (isFirst) info.tieEventsBefore else 0L) +
        (if (isLast) info.tieEventsAfter else 0L)
      val ownedGroup = !isFirst || info.ownsFirst
      f(riskSum, nEventsGlobal, ownedGroup, buf, isLast)
      expBelow += gExp
      isFirst = false
    }
  }
}
