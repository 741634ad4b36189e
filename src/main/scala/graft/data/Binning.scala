package graft.data

import org.apache.spark.rdd.RDD

/** Global per-feature bin boundaries — the reference's `HistogramCuts`
  * (`src/common/hist_util.h:39-160`). `cuts(f)` is ascending; bin of value
  * `v` is the first index `b` with `v <= cuts(f)(b)` (upper bound binary
  * search, ref `BinarySearchBin` `hist_util.h:360`); the last boundary is the
  * feature max, so every non-missing value lands in a bin. Missing (NaN) has
  * no bin (−1): sparsity-aware split search routes it by learned default
  * direction instead.
  */
final case class HistogramCuts(cuts: Array[Array[Double]]) extends Serializable {
  val numFeatures: Int = cuts.length
  /** global-bin-space offset of each feature, length numFeatures+1 */
  val featureOffset: Array[Int] = cuts.scanLeft(0)(_ + _.length)
  val totalBins: Int = featureOffset(numFeatures)

  def numBins(f: Int): Int = cuts(f).length

  /** Reference `DMatrix.get_quantile_cut` (core.py:1126 →
    * `GetQuantileCut`): the trained histogram boundaries in CSR layout —
    * (indptr of length numFeatures+1, flat cut values). */
  def quantileCut: (Array[Long], Array[Double]) =
    (featureOffset.map(_.toLong), cuts.flatten)

  /** Local bin index within feature f, or −1 for missing. */
  def searchBin(f: Int, v: Double): Int = {
    if (java.lang.Double.isNaN(v)) return -1
    val c = cuts(f)
    var lo = 0; var hi = c.length - 1
    if (v > c(hi)) return hi // clamp: unseen value beyond training max
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (c(mid) < v) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Bin all features of a dense row into local bin ids (−1 = missing).
    * Rows shorter than the unified column count are padded with missing —
    * the reference accepts ragged batches the same way (`num_col_` is the
    * max index+1 seen, `include/xgboost/data.h:57`). */
  def binRow(features: Array[Double]): Array[Int] = {
    val out = new Array[Int](numFeatures)
    val n = math.min(numFeatures, features.length)
    var f = 0
    while (f < n) { out(f) = searchBin(f, features(f)); f += 1 }
    while (f < numFeatures) { out(f) = -1; f += 1 }
    out
  }

  /** Bin a sparse row: output parallel to `idx` (length nnz). */
  def binRowSparse(idx: Array[Int], values: Array[Double]): Array[Int] = {
    val out = new Array[Int](idx.length)
    var k = 0
    while (k < idx.length) { out(k) = searchBin(idx(k), values(k)); k += 1 }
    out
  }
}

object Binning {

  /** Distributed weighted-quantile cut finding — the reference's
    * `SketchOnDMatrix` (`src/common/hist_util.cc:53-81`) and its sketch
    * allreduce (`quantile.h:940`): one job, each task sketching its
    * partition and finishing the per-feature summaries, which it ships as
    * one [[WQSummary.pack]]ed block. The driver merges the blocks feature
    * by feature in partition-index order (features spread over the
    * driver's cores), so the cuts do not depend on which task finished
    * first: two calls over the same partitions give the same cuts. Above
    * `Agg.directCutoff` partitions the blocks merge pairwise on the
    * executors first, in Spark's order, to cap the driver's fan-in.
    *
    * `weights` defaults to 1; pass hessians for the approx method's
    * hessian-weighted re-sketch (`src/tree/updater_approx.cc:46-53`).
    *
    * The unified column count is discovered IN the same pass: a task's
    * sketches grow to the longest row it sees, so ragged inputs get the
    * reference's `MetaInfo::SynchronizeNumberOfColumns` semantics
    * (`include/xgboost/data.h:191` — num_col = global max, short rows pad
    * as missing) with no extra scan. `minFeatures` is a lower bound on the
    * result width (0 = fully data-driven).
    */
  def findCuts(
      data: RDD[(Array[Double], Double)], // (features, weight)
      minFeatures: Int,
      maxBin: Int): HistogramCuts =
    mergeCuts(data.mapPartitions(new SketchDense(QuantileSketch.sizeFor(maxBin))),
      minFeatures, maxBin)

  /** Sparse-input cut finding: only PRESENT (idx, value) entries are pushed
    * — identical to the dense path's NaN-skip, so a sparse encoding of the
    * same data yields the same cuts (ref sparse sketching over CSR,
    * `src/common/hist_util.cc:53-81`). Merged like [[findCuts]]. */
  def findCutsSparse(
      data: RDD[(Array[Int], Array[Double], Double)], // (indices, values, weight)
      minFeatures: Int,
      maxBin: Int): HistogramCuts =
    mergeCuts(data.mapPartitions(new SketchSparse(QuantileSketch.sizeFor(maxBin))),
      minFeatures, maxBin)

  /** One task's per-feature sketches, grown to `n` features. */
  private def grow(acc: Array[QuantileSketch], n: Int, budget: Int): Array[QuantileSketch] =
    if (acc.length >= n) acc
    else {
      val out = java.util.Arrays.copyOf(acc, n)
      var i = acc.length
      while (i < n) { out(i) = new QuantileSketch(budget); i += 1 }
      out
    }

  private final class SketchDense(budget: Int)
      extends (Iterator[(Array[Double], Double)] => Iterator[Array[Byte]]) with Serializable {
    def apply(it: Iterator[(Array[Double], Double)]): Iterator[Array[Byte]] = {
      var acc = new Array[QuantileSketch](0)
      it.foreach { case (fs, w) =>
        acc = grow(acc, fs.length, budget)
        var f = 0
        while (f < fs.length) { acc(f).push(fs(f), w); f += 1 }
      }
      Iterator.single(WQSummary.pack(acc.map(_.result)))
    }
  }

  private final class SketchSparse(budget: Int)
      extends (Iterator[(Array[Int], Array[Double], Double)] => Iterator[Array[Byte]])
      with Serializable {
    def apply(it: Iterator[(Array[Int], Array[Double], Double)]): Iterator[Array[Byte]] = {
      var acc = new Array[QuantileSketch](0)
      it.foreach { case (idx, vs, w) =>
        if (idx.length > 0) acc = grow(acc, idx(idx.length - 1) + 1, budget)
        var k = 0
        while (k < idx.length) { acc(idx(k)).push(vs(k), w); k += 1 }
      }
      Iterator.single(WQSummary.pack(acc.map(_.result)))
    }
  }

  /** Cuts from the tasks' packed summaries (one block per partition),
    * folded in partition-index order as they reach the driver: each
    * block's summaries merge into the running per-feature summaries, one
    * feature per driver core at a time. Above `Agg.directCutoff`
    * partitions the blocks first merge pairwise on the executors
    * ([[MergeBlocks]]), so the driver's fan-in stays near √P blocks. */
  private def mergeCuts(blocks: RDD[Array[Byte]], minFeatures: Int, maxBin: Int): HistogramCuts = {
    val budget = QuantileSketch.sizeFor(maxBin)
    val merged = graft.Agg.foldPartials(blocks, new MergeBlocks(budget))(
      Array.fill(minFeatures)(WQSummary.empty))(
      (acc, block) => mergeSummaries(acc, WQSummary.unpack(block), budget, parallel = true))
    HistogramCuts(merged.map(cutsFromSummary(_, maxBin)))
  }

  /** Two packed blocks of per-feature summaries merged into one. */
  private final class MergeBlocks(budget: Int)
      extends ((Array[Byte], Array[Byte]) => Array[Byte]) with Serializable {
    def apply(a: Array[Byte], b: Array[Byte]): Array[Byte] = WQSummary.pack(
      mergeSummaries(WQSummary.unpack(a), WQSummary.unpack(b), budget, parallel = false))
  }

  /** Per feature, `acc`'s summary merged with `part`'s and pruned to
    * `budget`; a feature one side lacks merges with the empty summary.
    * With `parallel`, features are spread over the driver's cores. */
  private def mergeSummaries(acc: Array[WQSummary], part: Array[WQSummary], budget: Int,
      parallel: Boolean): Array[WQSummary] = {
    val out = new Array[WQSummary](math.max(acc.length, part.length))
    def at(s: Array[WQSummary], f: Int) = if (f < s.length) s(f) else WQSummary.empty
    val features = java.util.stream.IntStream.range(0, out.length)
    (if (parallel) features.parallel() else features)
      .forEach(f => out(f) = at(acc, f).merge(at(part, f)).prune(budget))
    out
  }

  /** Exact-method cuts: EVERY distinct feature value becomes its own bin
    * boundary, so downstream split enumeration over bins IS the exact
    * greedy enumeration over sorted column values (ref `grow_colmaker`'s
    * sorted-CSC scans, `src/tree/updater_colmaker.cc` + `SortedCSCPage`,
    * `include/xgboost/data.h:441-445`). The per-feature sorted set built
    * by the aggregation is the distributed analog of the sorted column.
    * Guarded by `maxDistinct` total values — exact is for small/medium
    * data, matching the reference (colmaker CHECKs a single worker). */
  def findCutsExact(
      data: RDD[(Array[Double], Double)],
      minFeatures: Int,
      maxDistinct: Int = 1 << 21): HistogramCuts = {
    def grow(acc: Array[java.util.TreeSet[java.lang.Double]], n: Int) =
      if (acc.length >= n) acc
      else {
        val out = java.util.Arrays.copyOf(acc, n)
        var i = acc.length
        while (i < n) { out(i) = new java.util.TreeSet[java.lang.Double](); i += 1 }
        out
      }
    val zero = Array.fill(minFeatures)(new java.util.TreeSet[java.lang.Double]())
    val sets = graft.Agg.aggregate(data)(zero)(
      seqOp = (acc0, row) => {
        val fs = row._1
        val acc = grow(acc0, fs.length)
        var f = 0
        while (f < fs.length) {
          val v = fs(f)
          if (v == v) acc(f).add(v)
          f += 1
        }
        acc
      },
      combOp = (a0, b) => {
        val a = grow(a0, b.length)
        var f = 0
        while (f < b.length) { a(f).addAll(b(f)); f += 1 }
        require(a.iterator.map(_.size).sum <= maxDistinct,
          s"tree_method=exact: > $maxDistinct distinct values; use hist/approx at this scale")
        a
      })
    HistogramCuts(sets.map { s =>
      if (s.isEmpty) Array(0.0)
      else {
        val out = new Array[Double](s.size)
        val it = s.iterator()
        var i = 0
        while (it.hasNext) { out(i) = it.next(); i += 1 }
        out
      }
    })
  }

  /** Quantile values → deduplicated ascending boundaries (ref
    * `HistogramCuts` construction in `hist_util.cc`). */
  private[graft] def cutsFromSummary(s: WQSummary, maxBin: Int): Array[Double] = {
    if (s.size == 0) return Array(0.0)
    val tw = s.totalWeight
    val out = new scala.collection.mutable.ArrayBuffer[Double](maxBin)
    var b = 1
    while (b < maxBin) {
      val v = s.query(tw * b / maxBin)
      if (out.isEmpty || v > out.last) out += v
      b += 1
    }
    val max = s.values(s.size - 1)
    if (out.isEmpty || max > out.last) out += max
    out.toArray
  }
}
