package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Listener state for one benchmark process.
  *
  * Always on (both modes): block updates, for the block-store peak, job
  * counts per step, and job ends, so `drain` can wait for the listener
  * bus. With `detailed`
  * set (the traced run) it also records every job, stage and task, and
  * attributes each job to a layer by the call sites Spark records for it
  * (`StageInfo.details`, the RDD creation sites and the SQL execution's
  * call site). The bench tags each step with the `perfbench.span` local
  * property, so a job also knows which step started it. */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  @volatile var detailed = false

  // cached RDD blocks (persisted and checkpointed data) stored since the
  // last resetPeak; blocks that already existed then (a previous pass's
  // blocks still being dropped) are not counted. Broadcast blocks are
  // left out: their removal waits for the garbage collector.
  private val blocks = mutable.HashMap.empty[String, Long]
  private var before = Set.empty[String]
  private var storedBytes = 0L
  private var peakBytes = 0L
  private val drainJobs = mutable.HashSet.empty[Int]
  private val jobsPerSpan = mutable.HashMap.empty[String, Int]
  private var drainsDone = 0L

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val jobById = mutable.HashMap.empty[Int, Job]
  private val jobOfStage = mutable.HashMap.empty[Int, Job]
  private val sqlSites = mutable.HashMap.empty[Long, String]

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    val key = info.blockManagerId.toString + "/" + info.blockId.name
    val size =
      if (info.blockId.isRDD && info.storageLevel.isValid) info.memSize + info.diskSize else 0L
    if (!before(key)) storedBytes += size - blocks.getOrElse(key, 0L)
    if (size == 0) blocks.remove(key) else blocks(key) = size
    peakBytes = math.max(peakBytes, storedBytes)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit =
    if (detailed && e.getClass.getSimpleName == "SparkListenerSQLExecutionStart") {
      // read by reflection: the event's constructor differs across Spark
      // versions, its accessors do not
      def field[T](n: String): T = e.getClass.getMethod(n).invoke(e).asInstanceOf[T]
      val id = field[Long]("executionId")
      val site = field[String]("description") + "\n" + field[String]("details")
      synchronized(sqlSites(id) = site)
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String): String = props.flatMap(p => Option(p.getProperty(k))).getOrElse("")
    val span = prop(SpanKey)
    if (span == Drain) drainJobs += e.jobId
    else {
      jobsPerSpan(span) = jobsPerSpan.getOrElse(span, 0) + 1
      if (detailed) startJob(e, prop)
    }
  }

  private def startJob(e: SparkListenerJobStart, prop: String => String): Unit = {
    val sqlSite = scala.util.Try(prop("spark.sql.execution.id").toLong).toOption
      .flatMap(sqlSites.get).getOrElse("")
    val stageSites = e.stageInfos.map(s => s.details + "\n" + s.rddInfos.map(_.callSite).mkString("\n"))
    val site = (sqlSite +: stageSites).mkString("\n")
    val j = new Job(e.jobId, prop(SpanKey), e.time, layerOf(site))
    jobs += j
    jobById(e.jobId) = j
    e.stageIds.foreach(s => if (!jobOfStage.contains(s)) jobOfStage(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (drainJobs.remove(e.jobId)) drainsDone += 1
    else jobById.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (detailed) synchronized {
    jobOfStage.get(e.stageInfo.stageId).foreach(_.stagesRun += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (detailed) synchronized {
    jobOfStage.get(e.stageId).foreach { j =>
      val m = e.taskMetrics
      val i = e.taskInfo
      j.tasks += 1
      if (i.attemptNumber > 0 || !i.successful) j.retries += 1
      val dur = i.finishTime - i.launchTime
      j.taskMs += dur
      if (m != null) {
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.resultBytes += m.resultSize
        j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        j.writtenBytes += m.outputMetrics.bytesWritten
        val fetchMs = if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
        j.schedMs += math.max(0L, dur - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - fetchMs)
      }
    }
  }

  /** Run a one-task job and wait until the listener has seen its end: the
    * bus is FIFO, so every earlier event has been handled too. */
  def drain(): Unit = {
    val before = synchronized(drainsDone)
    val old = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, Drain)
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty(SpanKey, old)
    val deadline = System.currentTimeMillis() + 30000
    while (synchronized(drainsDone) <= before) {
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException("listener bus did not drain within 30 s")
      Thread.sleep(2)
    }
  }

  def resetPeak(): Unit = synchronized {
    before = blocks.keySet.toSet
    storedBytes = 0L
    peakBytes = 0L
  }
  def peakMB: Double = synchronized(peakBytes / MB)

  /** Jobs started per step so far (both modes), and forget them. */
  def takeJobCounts(): Map[String, Int] = synchronized {
    val out = jobsPerSpan.toMap
    jobsPerSpan.clear()
    out
  }

  /** Jobs recorded so far and forget them. */
  def takeJobs(): Seq[Job] = synchronized {
    val out = jobs.toList
    jobs.clear(); jobById.clear(); jobOfStage.clear()
    out
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  private val Drain = "drain"
  val MB = 1024.0 * 1024.0

  final class Job(val id: Int, val span: String, val start: Long, val layer: String) {
    var end = start
    var stagesRun = 0
    var tasks = 0L
    var retries = 0L
    var taskMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var resultBytes = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var writtenBytes = 0L
    var schedMs = 0L
    def seconds: Double = (end - start) / 1000.0
  }

  /** Call-site markers, most specific first. Library method names come
    * first; the bench's own step methods name the layer of lazy plans
    * whose action runs in bench code. */
  val Rules: Seq[(String, String)] = Seq(
    "flushPending" -> "tree.flush",
    "aggregateHistograms" -> "tree.hist",
    "aggregateTotals" -> "tree.totals",
    "LambdaRank.scala" -> "objective.grad",
    "findCuts" -> "data.sketch",
    "fitBinned" -> "tree.validate",
    "GBTTrainer.fit" -> "data.bin",
    "incrementalCrawlGate" -> "ext.gate",
    "gateDay" -> "ext.gate",
    "batchSignatures" -> "ext.sig",
    "BucketedSnapshot" -> "sources.append",
    "predictRows" -> "predict",
    "evalScores" -> "metric",
    "XGBoost" -> "api")

  def layerOf(site: String): String =
    Rules.collectFirst { case (m, l) if site.contains(m) => l }.getOrElse("")

  /** Total length of the union of [start, end] intervals, in seconds. */
  def unionSeconds(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total += curE - curS
    total / 1000.0
  }
}
