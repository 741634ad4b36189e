package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** Times named steps. Each step tags the jobs it starts with the
  * `perfbench.span` local property; `program` steps make up the measured
  * program, the others are traced-only decompositions and replays. */
final class Steps(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Steps.Span]

  def apply[T](name: String, program: Boolean = true)(body: => T): T = {
    sc.setLocalProperty(Tracer.SpanKey, name)
    val ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Steps.Span(name, ms, System.currentTimeMillis(), (System.nanoTime() - t0) / 1e9, program)
      sc.setLocalProperty(Tracer.SpanKey, null)
    }
  }

  def seconds(name: String): Double = spans.filter(_.name == name).map(_.seconds).sum
  def programSeconds: Double = spans.filter(_.program).map(_.seconds).sum
  def programNames: Set[String] = spans.filter(_.program).map(_.name).toSet
}

object Steps {
  final case class Span(name: String, startMs: Long, endMs: Long, seconds: Double, program: Boolean)
}

/** What one pass reports: the primary operation's item count and time
  * (training row·rounds, scored rows or gated docs), the quality score
  * (higher is better) and the pass's correctness checks. */
final case class PassOut(items: Double, primarySeconds: Double, quality: Double,
    checks: Seq[(String, Boolean)], detail: Map[String, Double] = Map.empty)

trait Workload {
  /** Untimed passes before the measured ones. */
  def warmupPasses: Int
  /** Generate this workload's inputs from the seed and stage them under
    * the work directory (parquet files, snapshot tables). */
  def stage(): Unit
  /** One pass of the measured program. With `layers` set (traced run)
    * the pass also runs its untimed decompositions and replays and puts
    * the layer values it measures itself into `layers`. */
  def pass(steps: Steps, layers: Option[mutable.Map[String, Double]]): PassOut
}

final case class Ctx(spark: SparkSession, seed: Long, work: File) {
  def path(name: String): String = new File(work, name).getAbsolutePath
}

object Main {
  val Cores = 4
  val SetupReps = 3
  val MinPasses = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val traced = need("trace") == "1"
    val work = new File(need("work"))
    require(Workloads.names.contains(workload),
      s"unknown workload $workload (known: ${Workloads.names.mkString(", ")})")

    val spark = SparkSession.builder().master(s"local[$Cores]").appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val tracer = new Tracer(sc)
    sc.addSparkListener(tracer)
    val wl = Workloads.make(workload, Ctx(spark, seed, work))

    var attempted = 0
    var failed = 0
    val failures = mutable.ArrayBuffer.empty[String]
    def record(out: PassOut): Unit = {
      attempted += 1
      val bad = out.checks.filterNot(_._2).map(_._1)
      if (bad.nonEmpty) { failed += 1; failures ++= bad }
    }

    final case class Ran(steps: Steps, out: PassOut, peakMB: Double, jobs: Seq[Tracer.Job],
        programJobs: Int)
    def runPass(layers: Option[mutable.Map[String, Double]]): Ran = {
      tracer.drain()
      tracer.takeJobs()
      tracer.takeJobCounts()
      tracer.resetPeak()
      val steps = new Steps(sc)
      val out = wl.pass(steps, layers)
      tracer.drain()
      val counts = tracer.takeJobCounts()
      Ran(steps, out, tracer.peakMB, tracer.takeJobs(),
        steps.programNames.toSeq.map(counts.getOrElse(_, 0)).sum)
    }

    // set-up, several times: generate and stage the inputs. Then untimed
    // warm-up passes (JIT, codegen and class loading) right before the
    // measured ones.
    val setupS = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime()
      wl.stage()
      (System.nanoTime() - t0) / 1e9
    }
    (1 to wl.warmupPasses).foreach(_ => record(runPass(None).out))
    settleJit()

    val series = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    def add(k: String, v: Double): Unit = series.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    setupS.foreach(add("setup_s", _))
    val detail = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

    def measure(window: Double)(each: => Unit): Unit = {
      val t0 = System.nanoTime()
      var n = 0
      while (n < MinPasses || (System.nanoTime() - t0) / 1e9 < window) { each; n += 1 }
    }

    val untracedJobs = mutable.ArrayBuffer.empty[Double]
    measure(seconds) {
      val r = runPass(None)
      record(r.out)
      add("run_s", r.steps.programSeconds)
      System.err.println(f"[perfbench] pass ${r.steps.programSeconds}%.3f s: " +
        r.steps.spans.map(x => f"${x.name} ${x.seconds}%.3f").mkString(", "))
      add("throughput", r.out.items / r.out.primarySeconds)
      add("quality", r.out.quality)
      add("peak_storage_mb", r.peakMB)
      untracedJobs += r.programJobs
      r.out.detail.foreach { case (k, v) => detail.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v }
    }

    val layerSeries = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    if (traced) {
      tracer.detailed = true
      val tracedRun = mutable.ArrayBuffer.empty[Double]
      measure(0) {
        val layers = mutable.LinkedHashMap.empty[String, Double]
        val r = runPass(Some(layers))
        // the listener must not change the program: same jobs as untraced
        val sameJobs = r.programJobs == Stats.median(untracedJobs.toSeq)
        record(r.out.copy(checks = r.out.checks :+
          (s"traced pass launched ${r.programJobs} jobs, untraced passes ${untracedJobs.distinct.mkString("/")}" -> sameJobs)))
        tracedRun += r.steps.programSeconds
        Layers.fromTrace(r.steps, r.jobs, Cores, layers)
        layers.foreach { case (k, v) => layerSeries.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v }
      }
      tracer.detailed = false
      layerSeries("trace_overhead_frac") =
        mutable.ArrayBuffer(Stats.median(tracedRun.toSeq) / Stats.median(series("run_s").toSeq) - 1.0)
    }

    println(s"workload $workload seed $seed cores $Cores seconds $seconds trace ${if (traced) 1 else 0}")
    detail.foreach { case (k, v) => println(Stats.line(k, "", "", v.toSeq)) }
    val reported =
      if (traced) Layers.Names.map { case (k, unit, better) =>
        println(Stats.line(k, unit, better, layerSeries.get(k).map(_.toSeq).getOrElse(Seq(0.0))))
        (k, unit, Stats.median(layerSeries.get(k).map(_.toSeq).getOrElse(Seq(0.0))))
      }
      else EndToEnd.map { case (k, unit, better) =>
        println(Stats.line(k, unit, better, series(k).toSeq))
        (k, unit, Stats.median(series(k).toSeq))
      }
    println(s"failed_frac ${failed.toDouble / attempted} (failed $failed of $attempted)")
    failures.distinct.foreach(f => println(s"FAILED CHECK: $f"))
    val metrics = reported.map { case (k, unit, v) =>
      s""""$k": {"value": ${Stats.num(v)}, "unit": "$unit"}"""
    }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$metrics}}""")
    spark.stop()
  }

  /** Wait (at most 10 s) until the JIT has compiled nothing for 0.5 s: on
    * 4 busy cores the compiler threads lag the warm-up passes, and the
    * first measured passes would otherwise still run partly interpreted. */
  def settleJit(): Unit = {
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val deadline = System.nanoTime() + 10e9.toLong
    var last = jit.getTotalCompilationTime
    var quietSince = System.nanoTime()
    while (System.nanoTime() - quietSince < 5e8.toLong && System.nanoTime() < deadline) {
      Thread.sleep(50)
      val now = jit.getTotalCompilationTime
      if (now != last) { last = now; quietSince = System.nanoTime() }
    }
  }

  /** (name, unit, better) of every end-to-end metric. */
  val EndToEnd: Seq[(String, String, String)] = Seq(
    ("run_s", "s", "lower"),
    ("setup_s", "s", "lower"),
    ("throughput", "items/s", "higher"),
    ("quality", "score", "higher"),
    ("peak_storage_mb", "MB", "lower"))
}

object Stats {
  def median(xs: Seq[Double]): Double = quantiles(xs)._2

  /** (q1, median, q3), with the same method as Python's
    * `statistics.quantiles(n=4)` (exclusive). */
  def quantiles(xs: Seq[Double]): (Double, Double, Double) = {
    val s = xs.sorted.toArray
    val n = s.length
    if (n == 0) return (Double.NaN, Double.NaN, Double.NaN)
    if (n == 1) return (s(0), s(0), s(0))
    def q(i: Int): Double = {
      val j = math.min(math.max(i * (n + 1) / 4, 1), n - 1)
      val delta = i * (n + 1) - j * 4
      (s(j - 1) * (4 - delta) + s(j) * delta) / 4
    }
    (q(1), if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2, q(3))
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def line(name: String, unit: String, better: String, xs: Seq[Double]): String = {
    val (q1, m, q3) = quantiles(xs)
    f"metric $name%-24s unit=${if (unit.isEmpty) "-" else unit}%-8s better=${if (better.isEmpty) "-" else better}%-6s " +
      f"n=${xs.size}%-3d median=${num(m)} q1=${num(q1)} q3=${num(q3)}"
  }
}
