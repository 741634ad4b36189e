package perfbench

import java.util.SplittableRandom

/** Seeded input generators with ground truth. Every value is a pure
  * function of (seed, stream, index), so executors can generate rows in
  * parallel and the same seed always yields the same inputs. */
object Gen {

  /** SplitMix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed * 31 + stream) + i))

  // ---------------------------------------------------------------------------
  // fit_wide: label = standardized planted function of 16 informative
  // features (out of `features`) + Gaussian noise of sd `noise`.
  // ---------------------------------------------------------------------------

  final case class Wide(seed: Long, features: Int, noise: Double = 0.5) {
    /** The planted function's shape is fixed; the seed only chooses which
      * 16 features carry it, so every seed is equally learnable. */
    val informative: Array[Int] = {
      val r = rng(seed, 1, 0)
      val picked = scala.collection.mutable.LinkedHashSet.empty[Int]
      while (picked.size < 16) picked += r.nextInt(features)
      picked.toArray
    }

    def raw(x: Array[Double]): Double = {
      var s = 0.0
      var j = 0
      while (j < 16) {
        val v = x(informative(j))
        s += (0.5 + j / 16.0) * (j % 3 match {
          case 0 => math.sin(2 * math.Pi * (1.0 + j / 8.0) * v)
          case 1 => if (v > 0.25 + j / 32.0) 1.0 else -1.0
          case _ => 4.0 * (v - 0.5) * (v - 0.5)
        })
        j += 1
      }
      j = 0
      while (j < 4) {
        s += 2.0 * (x(informative(j)) - 0.5) * (x(informative(15 - j)) - 0.5)
        j += 1
      }
      s
    }

    /** Mean and sd of `raw` over 4096 draws, so the planted signal has
      * unit variance. */
    private val (mean, sd) = {
      val g = rng(seed, 2, 0)
      val v = Array.fill(4096)(raw(Array.fill(features)(g.nextDouble())))
      val m = v.sum / v.length
      (m, math.sqrt(v.map(x => (x - m) * (x - m)).sum / v.length))
    }

    def signal(x: Array[Double]): Double = (raw(x) - mean) / sd

    /** Row `i`: (features, label, noise-free signal). */
    def row(i: Long): (Array[Double], Double, Double) = {
      val g = rng(seed, 3, i)
      val x = Array.fill(features)(g.nextDouble())
      val f = signal(x)
      (x, f + noise * g.nextGaussian(), f)
    }
  }

  // ---------------------------------------------------------------------------
  // fit_rank: query groups of 10..30 docs, 8 features, graded relevance
  // 0..4 cut from a noisy planted score.
  // ---------------------------------------------------------------------------

  final case class Rank(seed: Long) {
    val features = 8
    /** Fixed relevance weights; the seed only permutes which feature
      * carries which weight, so seeds differ little in how well they
      * can be ranked. */
    private val w: Array[Double] = {
      val base = Array(1.0, -0.8, 0.7, -0.6, 0.5, 0.4, -0.3, 0.2)
      val r = rng(seed, 4, 0)
      val perm = (0 until features).toArray
      for (i <- features - 1 to 1 by -1) {
        val j = r.nextInt(i + 1)
        val t = perm(i); perm(i) = perm(j); perm(j) = t
      }
      Array.tabulate(features)(f => base(perm(f)))
    }
    private val norm = math.sqrt(w.map(v => v * v).sum)
    private val cuts = Array(-0.6, 0.2, 0.9, 1.5)

    def groupSize(q: Long): Int = 10 + rng(seed, 5, q).nextInt(21)

    /** Docs of group `q`: (features, relevance). */
    def group(q: Long): Array[(Array[Double], Double)] = {
      val g = rng(seed, 6, q)
      Array.fill(groupSize(q)) {
        val x = Array.fill(features)(g.nextDouble())
        var s = 0.0
        var j = 0
        while (j < features) {
          s += w(j) * (if (j % 2 == 0) x(j) - 0.5 else math.sin(3 * x(j)) - 0.6)
          j += 1
        }
        val z = 1.5 * s / norm + 0.5 * g.nextGaussian()
        (x, cuts.count(z > _).toDouble)
      }
    }
  }

  // ---------------------------------------------------------------------------
  // crawl_dedup: a base snapshot of random docs and day batches with a
  // planted mix of duplicates. Every doc id is unique.
  // ---------------------------------------------------------------------------

  object Planted extends Enumeration {
    val Unique, ExactBase, NormBase, NearBase, WithinBatch = Value
  }

  final case class Doc(id: Long, text: String, kind: Planted.Value)

  final case class Crawl(seed: Long, baseDocs: Int, batchDocs: Int, vocab: Int = 5000) {
    def freshTokens(k: Long): Array[String] = {
      val g = rng(seed, 9, k)
      Array.fill(60 + g.nextInt(61))("w" + g.nextInt(vocab))
    }
    def baseText(b: Long): String = freshTokens(b).mkString(" ")
    def base: Iterator[Doc] = Iterator.range(0, baseDocs).map(b => Doc(b, baseText(b), Planted.Unique))

    /** The day batch and its manifest: each doc's planted kind. Ids start
      * above the base ids; a within-batch copy always has a larger id
      * than the doc it copies. */
    def batch: Array[Doc] = {
      val out = new Array[Doc](batchDocs)
      val uniques = scala.collection.mutable.ArrayBuffer.empty[Int]
      var j = 0
      while (j < batchDocs) {
        val g = rng(seed, 10, j)
        val u = g.nextDouble()
        val b = g.nextInt(baseDocs).toLong
        val id = 1000000L + j
        val kind =
          if (u < 0.10) Planted.ExactBase
          else if (u < 0.18) Planted.NormBase
          else if (u < 0.26) Planted.NearBase
          else if (u < 0.31 && uniques.nonEmpty) Planted.WithinBatch
          else Planted.Unique
        val text = kind match {
          case Planted.ExactBase => baseText(b)
          case Planted.NormBase => "  " + baseText(b).toUpperCase + "  !! "
          case Planted.NearBase => baseText(b) + s" z${g.nextInt(1000000)} z${g.nextInt(1000000)}"
          case Planted.WithinBatch => out(uniques(g.nextInt(uniques.length))).text
          case _ => freshTokens(id).mkString(" ")
        }
        if (kind == Planted.Unique) uniques += j
        out(j) = Doc(id, text, kind)
        j += 1
      }
      out
    }
  }
}
