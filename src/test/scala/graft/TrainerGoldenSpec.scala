package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.TrainQueries

/** The pinned trainer digests, checked in the unit suite. Each row runs
  * through the same registry the correctness gate uses
  * (`SparkEntry.queries`) and must equal the constant its oracle SQL pins
  * in `TrainQueries.oracle` — so a trainer change that flips a digest
  * fails `sbt test`, not only the out-of-band oracle compare. Between them
  * the rows cover the deferred margin flush (`_multi` flushes mid-fit),
  * the every-round flush (`_dart`, `_lr_decay`'s callback), `fitApprox`,
  * `fitRanking` and the multi-target trainer. */
class TrainerGoldenSpec extends AnyFunSuite {
  import TestSpark._

  private val Digest =
    """'([0-9a-f]{32})' AS model_md5, (\d+) AS n_trees, (\d+) AS n_nodes""".r
  private val ImportanceRow = """\('(\w+)', (\d+), ([\d.]+), ([\d.]+)\)""".r

  private def run(name: String) =
    SparkEntry.queries(name)(spark, sf).collect().toSeq

  for (name <- Seq("t_hash_hist", "t_hash_approx", "t_hash_logistic", "t_hash_multi",
      "t_hash_rank", "t_hash_dart", "t_hash_lr_decay", "t_hash_multitree")) {
    test(s"$name reproduces its pinned digest") {
      val Digest(md5, nTrees, nNodes) =
        Digest.findFirstIn(TrainQueries.oracle(name)).getOrElse(fail(s"no digest pinned for $name"))
      val Seq(row) = run(name)
      assert((row.getAs[String]("model_md5"), row.getAs[Int]("n_trees"), row.getAs[Int]("n_nodes")) ==
        ((md5, nTrees.toInt, nNodes.toInt)))
    }
  }

  test("t_feature_importance reproduces its pinned table") {
    val expected = ImportanceRow.findAllMatchIn(TrainQueries.oracle("t_feature_importance"))
      .map(m => (m.group(1), m.group(2).toDouble, m.group(3).toDouble, m.group(4).toDouble))
      .toSeq
    assert(expected.length == 4)
    val got = run("t_feature_importance").map { r =>
      (r.getAs[String]("feature"), r.getAs[Number]("n_splits").doubleValue,
        r.getAs[Double]("total_gain"), r.getAs[Double]("total_cover"))
    }
    assert(got == expected)
  }
}
