package perfbench

import scala.collection.mutable

import perfbench.Tracer.{Job, MB, unionSeconds}

/** Per-layer metrics of a traced pass. Every workload reports every name;
  * a layer the workload does not exercise reads 0. */
object Layers {
  /** (name, unit, better) of every per-layer metric. */
  val Names: Seq[(String, String, String)] = Seq(
    ("api.fit_s", "s", "lower"),
    ("api.decode_s", "s", "lower"),
    ("api.overhead_s", "s", "lower"),
    ("sources.scan_s", "s", "lower"),
    ("sources.scan_tasks", "count", "higher"),
    ("sources.append_s", "s", "lower"),
    ("sources.append_mb", "MB", "lower"),
    ("data.sketch_s", "s", "lower"),
    ("data.sketch_result_mb", "MB", "lower"),
    ("data.bin_s", "s", "lower"),
    ("data.binned_cache_mb", "MB", "lower"),
    ("objective.grad_pass_s", "s", "lower"),
    ("objective.grad_job_s", "s", "lower"),
    ("tree.boost_s", "s", "lower"),
    ("tree.jobs", "count", "lower"),
    ("tree.stages", "count", "lower"),
    ("tree.tasks", "count", "lower"),
    ("tree.hist_job_s", "s", "lower"),
    ("tree.totals_job_s", "s", "lower"),
    ("tree.flush_job_s", "s", "lower"),
    ("tree.validate_job_s", "s", "lower"),
    ("tree.driver_gap_s", "s", "lower"),
    ("tree.split_search_s", "s", "lower"),
    ("tree.result_mb", "MB", "lower"),
    ("tree.shuffle_mb", "MB", "lower"),
    ("tree.exec_cpu_s", "s", "lower"),
    ("tree.gc_s", "s", "lower"),
    ("tree.sched_delay_s", "s", "lower"),
    ("tree.task_retries", "count", "lower"),
    ("tree.core_busy_frac", "frac", "higher"),
    ("model.load_s", "s", "lower"),
    ("predict.score_s", "s", "lower"),
    ("predict.exec_cpu_s", "s", "lower"),
    ("predict.tasks", "count", "higher"),
    ("predict.core_busy_frac", "frac", "higher"),
    ("metric.eval_s", "s", "lower"),
    ("metric.shuffle_mb", "MB", "lower"),
    ("ext.batch_sig_s", "s", "lower"),
    ("ext.gate_s", "s", "lower"),
    ("ext.gate_jobs", "count", "lower"),
    ("ext.gate_shuffle_mb", "MB", "lower"),
    ("ext.gate_result_mb", "MB", "lower"),
    ("ext.lsh_candidate_pairs", "count", "lower"),
    ("ext.candidate_hit_frac", "frac", "higher"),
    ("ext.tier1_dropped", "count", "higher"),
    ("ext.tier15_dropped", "count", "higher"),
    ("ext.tier2_dropped", "count", "higher"),
    ("run.jobs", "count", "lower"),
    ("run.driver_gap_s", "s", "lower"),
    ("run.core_busy_frac", "frac", "higher"),
    ("run.spill_mb", "MB", "lower"),
    ("run.unattributed_job_s", "s", "lower"),
    ("trace_overhead_frac", "frac", "lower"))

  /** Fill the job- and span-derived metrics. Steps are named after what
    * they run: fit, decode, sketch, bin, boost, grad, split, load, score,
    * eval, scan, sig, gate, append. */
  def fromTrace(steps: Steps, jobs: Seq[Job], cores: Int, out: mutable.Map[String, Double]): Unit = {
    def in(spans: String*): Seq[Job] = jobs.filter(j => spans.contains(j.span))
    def secs(js: Seq[Job]): Double = js.map(_.seconds).sum
    def busy(js: Seq[Job], wall: Double): Double =
      if (wall <= 0) 0.0 else js.map(_.taskMs).sum / 1000.0 / (cores * wall)
    def layer(js: Seq[Job], l: String): Seq[Job] = js.filter(_.layer == l)
    def gap(js: Seq[Job], wall: Double): Double =
      math.max(0.0, wall - unionSeconds(js.map(j => (j.start, j.end))))
    def put(k: String, v: Double): Unit = out(k) = v

    val program = in(steps.programNames.toSeq: _*)
    val runWall = steps.programSeconds
    put("run.jobs", program.size.toDouble)
    put("run.driver_gap_s", gap(program, runWall))
    put("run.core_busy_frac", busy(program, runWall))
    put("run.spill_mb", program.map(_.spillBytes).sum / MB)
    put("run.unattributed_job_s", secs(program.filter(_.layer.isEmpty)))

    put("api.fit_s", steps.seconds("fit"))
    put("api.decode_s", steps.seconds("decode"))
    put("data.sketch_s", steps.seconds("sketch"))
    put("data.sketch_result_mb", in("sketch").map(_.resultBytes).sum / MB)
    put("data.bin_s", steps.seconds("bin"))
    put("api.overhead_s", steps.seconds("fit") -
      steps.seconds("sketch") - steps.seconds("bin") - steps.seconds("boost"))

    val boost = in("boost")
    val boostWall = steps.seconds("boost")
    put("tree.boost_s", boostWall)
    put("tree.jobs", boost.size.toDouble)
    put("tree.stages", boost.map(_.stagesRun).sum.toDouble)
    put("tree.tasks", boost.map(_.tasks).sum.toDouble)
    put("tree.hist_job_s", secs(layer(boost, "tree.hist")))
    put("tree.totals_job_s", secs(layer(boost, "tree.totals")))
    put("tree.flush_job_s", secs(layer(boost, "tree.flush")))
    put("tree.validate_job_s", secs(layer(boost, "tree.validate")))
    put("objective.grad_job_s", secs(layer(boost, "objective.grad")))
    put("tree.driver_gap_s", gap(boost, boostWall))
    put("tree.result_mb", boost.map(_.resultBytes).sum / MB)
    put("tree.shuffle_mb", boost.map(_.shuffleBytes).sum / MB)
    put("tree.exec_cpu_s", boost.map(_.cpuNs).sum / 1e9)
    put("tree.gc_s", boost.map(_.gcMs).sum / 1000.0)
    put("tree.sched_delay_s", boost.map(_.schedMs).sum / 1000.0)
    put("tree.task_retries", boost.map(_.retries).sum.toDouble)
    put("tree.core_busy_frac", busy(boost, boostWall))
    put("objective.grad_pass_s", steps.seconds("grad"))
    put("tree.split_search_s", steps.seconds("split"))

    put("model.load_s", steps.seconds("load"))
    val score = in("score")
    put("predict.score_s", steps.seconds("score"))
    put("predict.exec_cpu_s", score.map(_.cpuNs).sum / 1e9)
    put("predict.tasks", score.map(_.tasks).sum.toDouble)
    put("predict.core_busy_frac", busy(score, steps.seconds("score")))
    put("metric.eval_s", steps.seconds("eval"))
    put("metric.shuffle_mb", in("eval").map(_.shuffleBytes).sum / MB)

    put("sources.scan_s", steps.seconds("scan"))
    put("sources.scan_tasks", in("scan").map(_.tasks).sum.toDouble)
    put("sources.append_s", steps.seconds("append"))
    put("sources.append_mb", in("append").map(_.writtenBytes).sum / MB)
    put("ext.batch_sig_s", steps.seconds("sig"))
    val gate = in("gate")
    put("ext.gate_s", steps.seconds("gate"))
    put("ext.gate_jobs", gate.size.toDouble)
    put("ext.gate_shuffle_mb", gate.map(_.shuffleBytes).sum / MB)
    put("ext.gate_result_mb", gate.map(_.resultBytes).sum / MB)
  }
}
