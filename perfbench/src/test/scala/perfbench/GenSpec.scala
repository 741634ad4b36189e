package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  /** Order-sensitive digests of generated values. */
  private def digest(xs: Iterator[Double]): Long =
    xs.foldLeft(17L)((h, x) => Gen.mix(h ^ java.lang.Double.doubleToLongBits(x)))
  private def digestStrings(xs: Iterator[String]): Long =
    xs.foldLeft(17L)((h, s) => Gen.mix(h ^ s.hashCode.toLong))

  private def wideDigest(seed: Long): Long = {
    val w = Gen.Wide(seed, 64)
    digest((0L until 200L).iterator.flatMap { i => val (x, y, _) = w.row(i); x.iterator ++ Iterator(y) })
  }
  private def rankDigest(seed: Long): Long = {
    val r = Gen.Rank(seed)
    digest((0L until 50L).iterator.flatMap(q => r.group(q).iterator.flatMap { case (x, y) => x.iterator ++ Iterator(y) }))
  }
  private def crawlDigest(seed: Long): Long = {
    val c = Gen.Crawl(seed, baseDocs = 200, batchDocs = 300)
    digestStrings((c.base ++ c.batch.iterator).map(d => s"${d.id} ${d.kind} ${d.text}"))
  }

  for ((name, digest) <- Seq[(String, Long => Long)]("wide" -> wideDigest, "rank" -> rankDigest,
      "crawl" -> crawlDigest)) {
    test(s"$name: the same seed gives the same data, another seed other data") {
      assert(digest(7L) == digest(7L))
      assert(digest(7L) != digest(8L))
    }
  }

  test("wide: labels are the unit-variance planted signal plus noise of the stated sd") {
    val w = Gen.Wide(3L, 64)
    val rows = (0L until 4000L).map(w.row)
    val resid = rows.map { case (_, y, f) => y - f }
    val sd = math.sqrt(resid.map(r => r * r).sum / resid.size)
    assert(math.abs(sd - w.noise) < 0.05 * w.noise)
    val sig = rows.map(_._3)
    val m = sig.sum / sig.size
    assert(math.abs(math.sqrt(sig.map(s => (s - m) * (s - m)).sum / sig.size) - 1.0) < 0.1)
  }

  test("rank: groups of 10..30 docs with graded relevance 0..4, every grade present") {
    val r = Gen.Rank(3L)
    val docs = (0L until 300L).flatMap { q =>
      val g = r.group(q)
      assert(g.length == r.groupSize(q) && g.length >= 10 && g.length <= 30)
      g
    }
    assert(docs.map(_._2).toSet == Set(0.0, 1.0, 2.0, 3.0, 4.0))
  }

  test("crawl: the planted counts match the manifest") {
    val c = Gen.Crawl(11L, baseDocs = 300, batchDocs = 2000)
    val baseTexts = c.base.map(_.text).toSet
    def canon(t: String) = t.toLowerCase.replaceAll("[^\\p{L}\\p{Nd} ]+", " ").replaceAll(" +", " ").trim
    val baseCanon = baseTexts.map(canon)
    val day = c.batch
    def count(k: Gen.Planted.Value) = day.count(_.kind == k)
    val firstSeen = day.groupBy(_.text).values.map(_.minBy(_.id).id).toSet
    assert(day.count(d => baseTexts(d.text)) == count(Gen.Planted.ExactBase))
    assert(day.count(d => !baseTexts(d.text) && baseCanon(canon(d.text))) == count(Gen.Planted.NormBase))
    assert(day.count(d => !baseCanon(canon(d.text)) && !firstSeen(d.id)) == count(Gen.Planted.WithinBatch))
    assert(day.filter(_.kind == Gen.Planted.NearBase).forall { d =>
      val t = d.text.split(" ")
      !baseTexts(d.text) && baseTexts(t.dropRight(2).mkString(" "))
    })
    assert(Gen.Planted.values.forall(count(_) > 0))
    assert(day.map(_.id).distinct.length == day.length)
    assert(day.forall(_.id >= c.baseDocs))
  }
}
