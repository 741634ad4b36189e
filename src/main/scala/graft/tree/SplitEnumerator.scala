package graft.tree

import graft.data.HistogramCuts

/** Split search over collected per-node histograms — the reference's
  * `EnumerateSplit<±1>` / `EvaluateSplits`
  * (`src/tree/hist/evaluate_splits.h:205-360`) and gain/weight formulas
  * (`src/tree/param.h:233-292`). It runs on the driver after each level's
  * histograms are merged there: [[bestSplits]] spreads a level's nodes,
  * each cut into contiguous feature chunks, over the driver's cores, and
  * returns exactly what the serial [[bestSplit]] would.
  *
  * Missing-value handling is the reference's sparsity-aware scheme: the
  * histogram holds only non-missing mass; a forward scan scores
  * missing-goes-RIGHT (right side = parent − left prefix, which absorbs the
  * missing mass), a backward scan scores missing-goes-LEFT.
  */
object SplitEnumerator {

  /** Least number of histogram bins one parallel split-search task scans;
    * a smaller node or chunk is not worth a task hand-off. */
  private val MinChunkBins = 4096

  /** ThresholdL1 (`param.h:233`): soft-threshold gradient by alpha. */
  @inline def thresholdL1(g: Double, alpha: Double): Double =
    if (g > alpha) g - alpha else if (g < -alpha) g + alpha else 0.0

  /** CalcWeight (`param.h:252`): −ThresholdL1(G,α)/(H+λ), clamped by
    * max_delta_step and the monotone-constraint bounds. */
  def calcWeight(g: Double, h: Double, p: TrainParams,
      lo: Double = Double.NegativeInfinity, hi: Double = Double.PositiveInfinity): Double = {
    if (h <= 0) return 0.0
    var w = -thresholdL1(g, p.alpha) / (h + p.lambda)
    if (p.maxDeltaStep > 0) w = math.max(-p.maxDeltaStep, math.min(p.maxDeltaStep, w))
    math.max(lo, math.min(hi, w))
  }

  /** CalcGainGivenWeight (`param.h:267`): −(2Gw + (H+λ)w²); equals
    * ThresholdL1(G,α)²/(H+λ) for an unconstrained weight. */
  @inline def gainGivenWeight(g: Double, h: Double, w: Double, p: TrainParams): Double =
    -(2.0 * g * w + (h + p.lambda) * w * w)

  def calcGain(g: Double, h: Double, p: TrainParams,
      lo: Double = Double.NegativeInfinity, hi: Double = Double.PositiveInfinity): Double =
    gainGivenWeight(g, h, calcWeight(g, h, p, lo, hi), p)

  /** Best split for one node. `hist`: (g,h) interleaved in global bin space;
    * `g`/`h`: node totals including missing mass; `lo`/`hi`: monotone weight
    * bounds inherited from ancestors. */
  def bestSplit(hist: Array[Double], cuts: HistogramCuts, features: Array[Int],
      g: Double, h: Double, p: TrainParams,
      lo: Double, hi: Double): Option[SplitCandidate] = {
    val scan = new Scan(hist, cuts, g, h, p, lo, hi)
    scan.features(features, 0, features.length)
    Option(scan.best)
  }

  /** [[bestSplit]] for every node of `nodes`, as (node, contiguous feature
    * chunk) tasks on the driver's cores. Each chunk keeps its first
    * strictly best candidate, and each node keeps the first chunk with the
    * strictly highest gain — the serial scan's tie-break, so the result is
    * exactly [[bestSplit]]'s. */
  private[tree] def bestSplits(nodes: Array[NodeSearch], cuts: HistogramCuts,
      p: TrainParams): Array[Option[SplitCandidate]] = {
    val cores = Runtime.getRuntime.availableProcessors
    // (node, from, until) over each node's feature list
    var totalBins = 0L
    val tasks = nodes.indices.flatMap { n =>
      val fs = nodes(n).features
      var bins = 0L
      fs.foreach(f => bins += cuts.numBins(f))
      totalBins += bins
      val k = math.max(1L, math.min(math.min(cores, fs.length).toLong, bins / MinChunkBins)).toInt
      (0 until k).map(c => (n, fs.length * c / k, fs.length * (c + 1) / k))
    }.toArray
    val found = new Array[SplitCandidate](tasks.length)
    def run(t: Int): Unit = {
      val (n, from, until) = tasks(t)
      val s = nodes(n)
      val scan = new Scan(s.hist, cuts, s.g, s.h, p, s.lo, s.hi)
      scan.features(s.features, from, until)
      found(t) = scan.best
    }
    if (tasks.length > 1 && totalBins > MinChunkBins)
      java.util.stream.IntStream.range(0, tasks.length).parallel().forEach(t => run(t))
    else tasks.indices.foreach(run)
    val best = new Array[SplitCandidate](nodes.length)
    tasks.indices.foreach { t =>
      val n = tasks(t)._1
      val c = found(t)
      if (c != null && (best(n) == null || c.gain > best(n).gain)) best(n) = c
    }
    best.map(Option(_))
  }

  /** One node's scan: the per-node invariants hoisted out of the inner
    * `consider`, and the best candidate so far. Every floating-point
    * expression keeps the order of [[calcWeight]] and [[gainGivenWeight]];
    * the lo/hi clamp is skipped only when both bounds are infinite, where
    * it is the identity. */
  private final class Scan(hist: Array[Double], cuts: HistogramCuts,
      g: Double, h: Double, p: TrainParams, lo: Double, hi: Double) {
    private val lambda = p.lambda
    private val alpha = p.alpha
    private val maxDeltaStep = p.maxDeltaStep
    private val minChildWeight = p.minChildWeight
    private val gamma = p.gamma
    private val monotone = p.monotoneConstraints
    private val bounded = lo != Double.NegativeInfinity || hi != Double.PositiveInfinity
    private val parentGain = calcGain(g, h, p, lo, hi)
    /** The monotone sign of the feature being scanned. */
    private var mono = 0
    var best: SplitCandidate = null

    @inline private def weight(gs: Double, hs: Double): Double = {
      if (hs <= 0) return 0.0
      var w = -thresholdL1(gs, alpha) / (hs + lambda)
      if (maxDeltaStep > 0) w = math.max(-maxDeltaStep, math.min(maxDeltaStep, w))
      if (bounded) math.max(lo, math.min(hi, w)) else w
    }

    /** [[gainGivenWeight]] with λ hoisted. */
    @inline private def gainOf(gs: Double, hs: Double, w: Double): Double =
      -(2.0 * gs * w + (hs + lambda) * w * w)

    @inline private def consider(f: Int, splitBin: Int, defaultLeft: Boolean,
        gl: Double, hl: Double, catRight: Array[Int]): Unit = {
      val gr = g - gl
      val hr = h - hl
      if (hl >= minChildWeight && hr >= minChildWeight) {
        val wl = weight(gl, hl)
        val wr = weight(gr, hr)
        val monoOk = mono == 0 || (mono > 0 && wl <= wr) || (mono < 0 && wl >= wr)
        if (monoOk) {
          val gain = gainOf(gl, hl, wl) + gainOf(gr, hr, wr) - parentGain - gamma
          if (gain > 1e-10 && (best == null || gain > best.gain))
            best = SplitCandidate(f, splitBin, defaultLeft, gain, gl, hl, gr, hr, wl, wr, catRight)
        }
      }
    }

    /** Scans `features(from until until)` in order. */
    def features(features: Array[Int], from: Int, until: Int): Unit = {
      val anyCat = p.catFeatures.nonEmpty
      var fi = from
      while (fi < until) {
        val f = features(fi)
        val off = cuts.featureOffset(f)
        val nb = cuts.numBins(f)
        mono = if (monotone.isEmpty) 0 else monotone(f)
        if (anyCat && p.catFeatures.contains(f)) {
          categorical(off, nb, f)
        } else {
          // forward scan: missing → right (EnumerateSplit<+1>)
          var gl = 0.0; var hl = 0.0
          var b = 0
          while (b < nb - 1) {
            gl += hist(2 * (off + b)); hl += hist(2 * (off + b) + 1)
            consider(f, b, defaultLeft = false, gl, hl, null)
            b += 1
          }
          // backward scan: missing → left (EnumerateSplit<-1>); left side =
          // parent − right suffix, so it absorbs the missing mass
          var gr = 0.0; var hr = 0.0
          b = nb - 1
          while (b >= 1) {
            gr += hist(2 * (off + b)); hr += hist(2 * (off + b) + 1)
            consider(f, b - 1, defaultLeft = true, g - gr, h - hr, null)
            b -= 1
          }
        }
        fi += 1
      }
    }

    /** Categorical enumeration: one-hot for few categories
      * (`evaluate_splits.h:64-121`), gradient-ratio-sorted optimal partition
      * (Fisher 1958) otherwise (`evaluate_splits.h:122-204`). `consider`'s
      * (gl,hl) is the LEFT side; `catRight` lists category bins routed right. */
    private def categorical(off: Int, nb: Int, f: Int): Unit = {
      if (nb <= p.maxCatToOnehot) {
        var c = 0
        while (c < nb) {
          val gc = hist(2 * (off + c)); val hc = hist(2 * (off + c) + 1)
          if (hc > 0) {
            // right = {c}: missing left (default) and missing right variants
            consider(f, -1, true, g - gc, h - hc, Array(c))
            consider(f, -1, false, g - gc - missingG(hist, off, nb, g),
              h - hc - missingH(hist, off, nb, h), Array(c))
          }
          c += 1
        }
      } else {
        val cats = (0 until nb).filter(c => hist(2 * (off + c) + 1) > 0).toArray
        val sorted = cats.sortBy(c => hist(2 * (off + c)) / (hist(2 * (off + c) + 1) + 1e-12))
        val gm = missingG(hist, off, nb, g)
        val hm = missingH(hist, off, nb, h)
        var grs = 0.0; var hrs = 0.0 // prefix of sorted order = RIGHT set
        val maxK = math.min(sorted.length - 1, p.maxCatThreshold)
        var k = 0
        while (k < maxK) {
          val c = sorted(k)
          grs += hist(2 * (off + c)); hrs += hist(2 * (off + c) + 1)
          val right = java.util.Arrays.copyOf(sorted, k + 1)
          java.util.Arrays.sort(right)
          // missing left: left = parent − right(non-missing)
          consider(f, -1, true, g - grs, h - hrs, right)
          // missing right: left = non-missing complement of right
          consider(f, -1, false, g - grs - gm, h - hrs - hm, right)
          k += 1
        }
      }
    }
  }

  @inline private def missingG(hist: Array[Double], off: Int, nb: Int, g: Double): Double = {
    var s = 0.0; var c = 0
    while (c < nb) { s += hist(2 * (off + c)); c += 1 }
    g - s
  }
  @inline private def missingH(hist: Array[Double], off: Int, nb: Int, h: Double): Double = {
    var s = 0.0; var c = 0
    while (c < nb) { s += hist(2 * (off + c) + 1); c += 1 }
    h - s
  }
}
