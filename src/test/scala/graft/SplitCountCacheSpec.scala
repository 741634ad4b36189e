package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.CoreQueries

/** `spreadTable` caches each table's split count for the JVM's lifetime;
  * the count depends on the file-split confs, so a session running under
  * other split confs must get its own entry, not a stale count. */
class SplitCountCacheSpec extends AnyFunSuite {
  import TestSpark._

  test("split-count cache keeps one entry per file-split conf value") {
    val conf = "spark.sql.files.maxPartitionBytes"
    val old = spark.conf.getOption(conf)
    val par = spark.sparkContext.defaultParallelism
    def keyAt(bytes: String): String = {
      spark.conf.set(conf, bytes)
      CoreQueries.spreadTable(spark, sf, "lineitem", "l_orderkey")
      CoreQueries.splitCountKey(spark, sf, "lineitem", par)
    }
    try {
      val small = keyAt("65536")
      val large = keyAt("268435456")
      assert(small != large)
      assert(CoreQueries.splitCountCache.containsKey(small))
      assert(CoreQueries.splitCountCache.containsKey(large))
    } finally old match {
      case Some(v) => spark.conf.set(conf, v)
      case None => spark.conf.unset(conf)
    }
  }
}
