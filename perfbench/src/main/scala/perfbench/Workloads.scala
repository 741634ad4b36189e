package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.api.{GraftXGBParams, XGBoostRanker, XGBoostRegressor}
import graft.data.{Binning, HistogramCuts}
import graft.ext.Dedup
import graft.metric.Metrics
import graft.model.BoosterModel
import graft.objective.{LambdaRankGradients, LambdaRankObjective}
import graft.predict.Predictor
import graft.sources.BucketedSnapshot
import graft.tree.{BInst, GBTTrainer, SplitEnumerator, TrainParams}

object Workloads {
  val names: Seq[String] = Seq("fit_wide", "fit_rank", "crawl_dedup")

  def make(name: String, ctx: Ctx): Workload = name match {
    case "fit_wide" => new FitWide(ctx)
    case "fit_rank" => new FitRank(ctx)
    case "crawl_dedup" => new CrawlDedup(ctx)
  }

  /** Write `n` generated rows, starting at row `from`, as `files` parquet
    * files. */
  def writeRows(ctx: Ctx, path: String, schema: StructType, from: Long, n: Long, files: Int)(
      gen: Long => Row): Unit = {
    val rows = ctx.spark.sparkContext.parallelize(0 until files, files).flatMap { p =>
      Iterator.range(0, ((n - p + files - 1) / files).toInt).map(k => gen(from + p + k.toLong * files))
    }
    ctx.spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(path)
  }

  val featuresField = StructField("features", ArrayType(DoubleType, containsNull = false))
}

import Workloads._

/** Shared shape of the two training workloads: estimator fit, holdout
  * scoring into a cached frame, one metric over the cached scores. The
  * traced pass then repeats the fit phase by phase through the public
  * pieces the estimator is built from (decode, `Binning.findCuts`, bin,
  * `GBTTrainer.fitBinned`) and checks that it agrees with the one-call
  * fit. */
abstract class FitWorkload(ctx: Ctx) extends Workload {
  /** Relative tolerance between the decomposed and the one-call fit's
    * holdout metric. They are not bit-equal: histogram partials merge at
    * the driver in task-completion order, so near-tie splits can differ
    * between any two fits of the same data (`TrainParams.minTrainPartitions`
    * documents this), and the quantile sketch merges in the same order.
    * Two one-call fits of one seed differed by up to 1.4% in holdout
    * NDCG@10 on fit_rank. */
  val MetricTolerance = 0.05
  /** The trainer's driver-side code keeps getting faster for several
    * passes as the JIT compiles it. */
  val warmupPasses = 3
  protected val spark = ctx.spark
  protected val sc = spark.sparkContext
  protected val trainPath = ctx.path("train")
  protected val holdPath = ctx.path("holdout")
  def trainRows: Long
  def rounds: Int
  def depth: Int
  def maxBin: Int
  def params: TrainParams

  protected def fitOneCall(train: DataFrame): BoosterModel
  /** Holdout scores, cached and counted. */
  protected def predictRows(model: BoosterModel, hold: DataFrame): DataFrame
  /** The holdout metric over cached scores. */
  protected def evalScores(scores: DataFrame): Double
  protected def quality(metric: Double): Double
  protected def passChecks(metric: Double): Seq[(String, Boolean)]
  /** Decoded training rows, persisted and counted (the estimator's own
    * decode); then the trainer's binned rows for those rows. */
  protected def decodeAndBin(steps: Steps, train: DataFrame): (RDD[BInst], HistogramCuts, RDD[_])
  protected def replayObjective(steps: Steps, binned: RDD[BInst]): Unit = ()

  def pass(steps: Steps, layers: Option[mutable.Map[String, Double]]): PassOut = {
    val model = steps("fit")(fitOneCall(spark.read.parquet(trainPath)))
    val hold = spark.read.parquet(holdPath)
    val scores = steps("score")(predictRows(model, hold))
    val metric = steps("eval")(evalScores(scores))
    scores.unpersist(blocking = true)
    val extra = layers.map(l => replay(steps, l, model, metric, hold)).getOrElse(Nil)
    PassOut(trainRows.toDouble * rounds, steps.seconds("fit"), quality(metric),
      passChecks(metric) ++ extra, Map("holdout_metric" -> metric))
  }

  private def replay(steps: Steps, layers: mutable.Map[String, Double], oneCall: BoosterModel,
      oneCallMetric: Double, hold: DataFrame): Seq[(String, Boolean)] = {
    val (binned, cuts, decoded) = decodeAndBin(steps, spark.read.parquet(trainPath))
    layers("data.binned_cache_mb") = sc.getRDDStorageInfo.filter(_.id == binned.id)
      .map(i => i.memSize + i.diskSize).sum / Tracer.MB
    val model = steps("boost", program = false)(new GBTTrainer(params).fitBinned(binned, cuts, cuts.numFeatures))
    replayObjective(steps, binned)
    binned.unpersist(blocking = true)
    decoded.unpersist(blocking = true)
    steps("split", program = false)(replaySplitSearch(model, cuts))
    val scores = predictRows(model, hold)
    val metric = evalScores(scores)
    scores.unpersist(blocking = true)
    steps("scan", program = false)(scanSource(spark.read.parquet(trainPath)))
    val json = oneCall.toJson
    val loaded = steps("load", program = false)(BoosterModel.fromJson(json))
    val sample = hold.select("features").limit(200).collect()
      .map(r => GraftXGBParams.toDoubleArray(r.get(0), Double.NaN))
    Seq(
      "model JSON round trip scores 200 holdout rows identically" ->
        sample.forall(x => loaded.margin(x).sameElements(oneCall.margin(x))),
      "decomposed fit grows the one-call fit's tree count" -> (model.trees.length == oneCall.trees.length),
      s"decomposed fit holdout metric $metric within 5% of one-call $oneCallMetric" ->
        (math.abs(metric - oneCallMetric) <= MetricTolerance * math.abs(oneCallMetric)))
  }

  /** A plain scan of the training parquet: every feature value read. */
  private def scanSource(train: DataFrame): Long =
    train.agg(sum(size(col("features")))).head().getLong(0)

  /** `SplitEnumerator.bestSplit` on a seeded histogram of the workload's
    * width, once per node the model searched (every node above the depth
    * limit: split nodes and leaves that found no split). */
  private def replaySplitSearch(model: BoosterModel, cuts: HistogramCuts): Unit = {
    val searched = model.trees.map { t =>
      val d = new Array[Int](t.nodes.length)
      var n = 0
      t.nodes.indices.foreach { i =>
        val node = t.nodes(i)
        if (d(i) < depth) n += 1
        if (!node.isLeaf) { d(node.left) = d(i) + 1; d(node.right) = d(i) + 1 }
      }
      n
    }.sum
    val g = Gen.rng(ctx.seed, 30, 0)
    // (g, h) interleaved per bin; node totals are feature 0's sums
    val hist = Array.tabulate(2 * cuts.totalBins)(i => if (i % 2 == 0) g.nextGaussian() else 0.5 + g.nextDouble())
    val f0 = (0 until cuts.numBins(0)).map(b => 2 * (cuts.featureOffset(0) + b))
    val (gt, ht) = (f0.map(hist(_)).sum, f0.map(i => hist(i + 1)).sum)
    val all = (0 until cuts.numFeatures).toArray
    var found = 0
    (0 until searched).foreach { _ =>
      if (SplitEnumerator.bestSplit(hist, cuts, all, gt, ht, params,
          Double.NegativeInfinity, Double.PositiveInfinity).isDefined) found += 1
    }
    require(found > 0 || searched == 0, "split search replay found no split")
  }
}

/** fit_wide: wide dense regression, so each tree level's histograms are
  * large and driver fan-in plus split search dominate. */
final class FitWide(ctx: Ctx) extends FitWorkload(ctx) {
  val trainRows = 6000L
  val holdRows = 4000L
  val width = 256
  val rounds = 4
  val depth = 4
  val maxBin = 256
  val spec = Gen.Wide(ctx.seed, width)
  val params = TrainParams(objective = "reg:squarederror", numRounds = rounds, maxDepth = depth,
    maxBin = maxBin)
  /** A model that learned nothing scores √(σ² + 1); require at least a
    * quarter of the planted variance explained. */
  val rmseBound = math.sqrt(spec.noise * spec.noise + 0.75)

  private val schema = StructType(Seq(StructField("id", LongType), featuresField,
    StructField("label", DoubleType)))

  def stage(): Unit = {
    val s = spec
    writeRows(ctx, trainPath, schema, 0, trainRows, 4) { i => val (x, y, _) = s.row(i); Row(i, x, y) }
    writeRows(ctx, holdPath, schema, trainRows, holdRows, 4) { i => val (x, y, _) = s.row(i); Row(i, x, y) }
  }

  protected def fitOneCall(train: DataFrame): BoosterModel =
    new XGBoostRegressor().setNumRound(rounds).setMaxDepth(depth).setMaxBin(maxBin)
      .fit(train).booster

  protected def predictRows(model: BoosterModel, hold: DataFrame): DataFrame = {
    val s = hold.select(col("label"), Predictor.predictCol(model)(col("features")).as("prediction"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    s.count()
    s
  }

  protected def evalScores(scores: DataFrame): Double =
    scores.agg(Metrics.rmse(col("prediction"), col("label"), lit(1.0))).head().getDouble(0)

  protected def quality(rmse: Double): Double = spec.noise / rmse
  protected def passChecks(rmse: Double): Seq[(String, Boolean)] =
    Seq(s"holdout rmse $rmse under noise-derived bound $rmseBound" -> (rmse < rmseBound))

  protected def decodeAndBin(steps: Steps, train: DataFrame): (RDD[BInst], HistogramCuts, RDD[_]) = {
    val decoded = steps("decode", program = false)(decodeRows(train))
    val data = if (decoded.getNumPartitions < sc.defaultParallelism)
      decoded.repartition(sc.defaultParallelism) else decoded
    val cuts = steps("sketch", program = false)(Binning.findCuts(data.map(r => (r._1, r._3)), 0, maxBin))
    val binned = steps("bin", program = false)(binRows(data, cuts))
    (binned, cuts, decoded)
  }

  private def decodeRows(train: DataFrame): RDD[(Array[Double], Double, Double)] = {
    val rdd = train.select(col("features"), col("label").cast("double"), lit(1.0)).rdd.map { row =>
      (GraftXGBParams.toDoubleArray(row.get(0), Double.NaN), row.getDouble(1), row.getDouble(2))
    }.persist(StorageLevel.MEMORY_AND_DISK)
    rdd.count()
    rdd
  }

  private def binRows(data: RDD[(Array[Double], Double, Double)], cuts: HistogramCuts): RDD[BInst] = {
    val b = data.zipWithUniqueId().map { case ((f, y, w), id) => BInst(cuts.binRow(f), y, w, id) }
      .persist(StorageLevel.MEMORY_AND_DISK)
    b.count()
    b
  }
}

/** fit_rank: LambdaMART over many small query groups. Histograms are
  * tiny; per-row gradient work, the qid shuffle and the per-job floor
  * dominate. */
final class FitRank(ctx: Ctx) extends FitWorkload(ctx) {
  val spec = Gen.Rank(ctx.seed)
  val trainGroups = 1500L
  val holdGroups = 1200L
  val rounds = 3
  val depth = 4
  val maxBin = 256
  lazy val trainRows: Long = (0L until trainGroups).map(q => spec.groupSize(q).toLong).sum
  val params = TrainParams(objective = "rank:ndcg", numRounds = rounds, maxDepth = depth,
    maxBin = maxBin)

  private val schema = StructType(Seq(StructField("qid", LongType), StructField("id", LongType),
    featuresField, StructField("label", DoubleType)))

  def stage(): Unit = {
    val s = spec
    def write(path: String, from: Long, groups: Long): Unit = {
      val rows = sc.parallelize(0 until 4, 4).flatMap { p =>
        Iterator.range(0, ((groups - p + 3) / 4).toInt).flatMap { k =>
          val q = from + p + 4L * k
          s.group(q).iterator.zipWithIndex.map { case ((x, y), j) => Row(q, q * 100 + j, x, y) }
        }
      }
      spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(path)
    }
    write(trainPath, 0, trainGroups)
    write(holdPath, trainGroups, holdGroups)
  }

  protected def fitOneCall(train: DataFrame): BoosterModel =
    new XGBoostRanker().setNumRound(rounds).setMaxDepth(depth).setMaxBin(maxBin)
      .setGroupCol("qid").fit(train).booster

  protected def predictRows(model: BoosterModel, hold: DataFrame): DataFrame = {
    val s = hold.select(col("qid"), col("id"), col("label"),
      Predictor.marginScalarCol(model)(col("features")).as("prediction"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    s.count()
    s
  }

  protected def evalScores(scores: DataFrame): Double =
    Metrics.ndcgAt(scores, col("qid"), col("prediction"), col("label"), col("id"), 10)
      .head().getDouble(0)

  protected def quality(ndcg: Double): Double = ndcg
  protected def passChecks(ndcg: Double): Seq[(String, Boolean)] =
    Seq(s"holdout ndcg@10 $ndcg in (0.5, 1]" -> (ndcg > 0.5 && ndcg <= 1.0))

  protected def decodeAndBin(steps: Steps, train: DataFrame): (RDD[BInst], HistogramCuts, RDD[_]) = {
    val decoded = steps("decode", program = false)(decodeRows(train))
    val nParts = math.max(decoded.getNumPartitions, sc.defaultParallelism)
    val parts = decoded.map { case (f, y, w, q) => (q, (f, y, w)) }
      .partitionBy(new HashPartitioner(nParts))
    val cuts = steps("sketch", program = false)(
      Binning.findCuts(parts.map { case (_, (f, _, w)) => (f, w) }, 0, maxBin))
    val binned = steps("bin", program = false)(binRows(parts, cuts))
    (binned, cuts, decoded)
  }

  private def decodeRows(train: DataFrame): RDD[(Array[Double], Double, Double, Long)] = {
    val rdd = train.select(col("features"), col("label").cast("double"), lit(1.0),
      col("qid").cast("long")).rdd.map { row =>
      (GraftXGBParams.toDoubleArray(row.get(0), Double.NaN), row.getDouble(1), row.getDouble(2),
        row.getLong(3))
    }.persist(StorageLevel.MEMORY_AND_DISK)
    rdd.count()
    rdd
  }

  private def binRows(parts: RDD[(Long, (Array[Double], Double, Double))],
      cuts: HistogramCuts): RDD[BInst] = {
    val b = parts
      .mapPartitions(it => it.toArray.sortBy(_._1).iterator, preservesPartitioning = true)
      .zipWithUniqueId().map { case ((q, (f, y, w)), id) => BInst(cuts.binRow(f), y, w, id, qid = q) }
      .persist(StorageLevel.MEMORY_AND_DISK)
    b.count()
    b
  }

  override protected def replayObjective(steps: Steps, binned: RDD[BInst]): Unit =
    steps("grad", program = false) {
      LambdaRankGradients.compute(binned.map(r => (r, Array(0.0))), new LambdaRankObjective("ndcg"))
        .count()
    }
}

/** crawl_dedup: a day batch gated against a bucketed snapshot, with the
  * kept rows and their signatures appended to it. The snapshot is reset
  * after every pass, outside the timed steps. */
final class CrawlDedup(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  /** The gate is Spark SQL: after one pass its generated code is cached
    * and passes run at a steady speed. */
  val warmupPasses = 1
  val spec = Gen.Crawl(ctx.seed, baseDocs = 2000, batchDocs = 1000)
  val numHashes = 16
  val bands = 4
  val buckets = 4
  private val tables = Seq("snap_sigs", "snap_keys", "snap_canon")
  private def live(t: String) = ctx.path(s"snapshot/live/$t")
  private def pristine(t: String) = ctx.path(s"snapshot/pristine/$t")
  private val batchPath = ctx.path("batch")
  private val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
  private lazy val manifest: Array[Gen.Doc] = spec.batch
  private val snapshotRows = mutable.Map.empty[String, Long]

  def stage(): Unit = {
    val s = spec
    writeRows(ctx, ctx.path("base"), docSchema, 0, s.baseDocs, 4) { b => Row(b, s.baseText(b)) }
    spark.createDataFrame(spark.sparkContext.parallelize(manifest.toSeq.map(x => Row(x.id, x.text)), 4),
      docSchema).write.mode("overwrite").parquet(batchPath)
    val base = spark.read.parquet(ctx.path("base"))
    val sigs = Dedup.minhashSignatures(base, "text", col("doc_id"), numHashes).localCheckpoint()
    BucketedSnapshot.write(sigs, "snap_sigs", live("snap_sigs"), "id", buckets)
    BucketedSnapshot.write(Dedup.nearDupKeysFromSignatures(sigs, base, numHashes = numHashes),
      "snap_keys", live("snap_keys"), "_key", buckets)
    BucketedSnapshot.write(Dedup.canonicalKeys(base), "snap_canon", live("snap_canon"), "_key", buckets)
    tables.foreach { t =>
      copyDir(live(t), pristine(t))
      snapshotRows(t) = snapshot(t).count()
    }
  }

  private def copyDir(from: String, to: String): Unit = {
    deleteDir(new File(to))
    new File(to).mkdirs()
    new File(from).listFiles().foreach(f =>
      Files.copy(f.toPath, new File(to, f.getName).toPath, StandardCopyOption.REPLACE_EXISTING))
  }

  private def deleteDir(f: File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteDir)
    f.delete()
  }

  private def snapshot(t: String) = BucketedSnapshot.read(spark, t)

  private def batchSignatures(batch: DataFrame): DataFrame =
    Dedup.minhashSignatures(batch, "text", col("doc_id"), numHashes).localCheckpoint()

  private def gateDay(batch: DataFrame, sigs: DataFrame): DataFrame =
    Dedup.incrementalCrawlGate(batch, snapshot("snap_keys"), snapshot("snap_sigs"),
      numHashes = numHashes, bands = bands, priorCanonKeys = Some(snapshot("snap_canon")),
      batchSigs = Some(sigs)).localCheckpoint()

  private def appendSnapshot(kept: DataFrame, sigs: DataFrame): Unit = {
    val keptSigs = sigs.join(kept.select(col("doc_id").as("id")), Seq("id"), "left_semi")
    BucketedSnapshot.append(keptSigs, "snap_sigs", "id", buckets)
    BucketedSnapshot.append(Dedup.nearDupKeysFromSignatures(keptSigs, kept, numHashes = numHashes),
      "snap_keys", "_key", buckets)
    BucketedSnapshot.append(Dedup.canonicalKeys(kept), "snap_canon", "_key", buckets)
  }

  /** The gate's tiers run one by one, for per-tier drop counts; true when
    * they keep as many docs as the fused gate. */
  private def replayTiers(batch: DataFrame, gateKept: Long, layers: mutable.Map[String, Double]): Boolean = {
    val t1 = Dedup.incrementalNearDedup(batch, snapshot("snap_keys"), numHashes = numHashes)
      .localCheckpoint()
    val t15 = Dedup.incrementalNormalizedDedup(t1, snapshot("snap_canon")).localCheckpoint()
    val t2 = Dedup.incrementalBandedNearDedup(t15, snapshot("snap_sigs"), numHashes = numHashes,
      bands = bands)
    val (n0, n1, n15, n2) = (batch.count(), t1.count(), t15.count(), t2.count())
    layers("ext.tier1_dropped") = n0 - n1
    layers("ext.tier15_dropped") = n1 - n15
    layers("ext.tier2_dropped") = n15 - n2
    n2 == gateKept
  }

  /** Candidate pairs of the banded tier (batch × snapshot band-key
    * matches) and the share whose estimated Jaccard reaches 0.8. */
  private def lshCandidates(sigs: DataFrame, layers: mutable.Map[String, Double]): Unit = {
    val prior = snapshot("snap_sigs")
    val pairs = Dedup.lshBuckets(sigs, numHashes, bands).select(col("id").as("b"), col("band"), col("key"))
      .join(Dedup.lshBuckets(prior, numHashes, bands).select(col("id").as("p"), col("band"), col("key")),
        Seq("band", "key")).select("b", "p").distinct()
    val arr = array((0 until numHashes).map(k => col(s"mh$k")): _*)
    val agree = size(filter(zip_with(col("bs"), col("ps"), (a, b) => a === b), x => x))
    val row = pairs.join(sigs.select(col("id").as("b"), arr.as("bs")), "b")
      .join(prior.select(col("id").as("p"), arr.as("ps")), "p")
      .agg(count(lit(1)), sum(when(agree.cast("double") / numHashes >= 0.8, 1).otherwise(0)))
      .head()
    val (n, hits) = (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
    layers("ext.lsh_candidate_pairs") = n
    layers("ext.candidate_hit_frac") = hits.toDouble / math.max(n, 1L)
  }

  def pass(steps: Steps, layers: Option[mutable.Map[String, Double]]): PassOut = {
    val checks = mutable.ArrayBuffer.empty[(String, Boolean)]
    val batch = spark.read.parquet(batchPath)
    val sigs = steps("sig")(batchSignatures(batch))
    val kept = steps("gate")(gateDay(batch, sigs))
    val keptIds = steps("check", program = false)(kept.select("doc_id").collect().map(_.getLong(0)).toSet)
    layers.foreach { l =>
      val same = steps("tiers", program = false)(replayTiers(batch, keptIds.size, l))
      checks += "gate tiers run one by one keep what the fused gate keeps" -> same
      steps("lsh", program = false)(lshCandidates(sigs, l))
    }
    steps("append")(appendSnapshot(kept, sigs))
    steps("check", program = false) {
      tables.foreach { t =>
        val n = snapshot(t).count()
        checks += s"$t grew from ${snapshotRows(t)} by the ${keptIds.size} kept docs to $n" ->
          (n == snapshotRows(t) + keptIds.size)
      }
    }
    steps("reset", program = false) {
      tables.foreach { t =>
        copyDir(pristine(t), live(t))
        spark.catalog.refreshTable(t)
      }
    }
    val dups = manifest.filter(_.kind != Gen.Planted.Unique)
    val uniques = manifest.filter(_.kind == Gen.Planted.Unique)
    val exact = dups.filter(d => d.kind == Gen.Planted.ExactBase || d.kind == Gen.Planted.WithinBatch)
    val recall = dups.count(d => !keptIds(d.id)).toDouble / dups.length
    val keep = uniques.count(d => keptIds(d.id)).toDouble / uniques.length
    checks += s"all ${exact.length} planted exact copies dropped" -> exact.forall(d => !keptIds(d.id))
    checks += s"kept $keep of planted uniques" -> (keep > 0.99)
    PassOut(spec.batchDocs.toDouble, steps.seconds("sig") + steps.seconds("gate"),
      recall * keep, checks.toSeq, Map("dup_recall" -> recall, "unique_keep_frac" -> keep))
  }
}
