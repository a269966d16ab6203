package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Spans around the benchmark's calls into the program, and the Spark
  * work each call caused, recorded from outside the program.
  *
  * A span carries a job tag (`pbspan-<id>`) for the duration of the call.
  * Spark copies a thread's tags onto every job and SQL execution it
  * starts (including from pool threads the call creates), so
  * [[Recorder]] can charge jobs, stages, tasks and planning phases to the
  * innermost span that caused them. Spans stay in memory until the run
  * reports them.
  */
object Trace {
  final case class Span(id: Long, parent: Long, layer: String, startMs: Double, endMs: Double) {
    def ms: Double = endMs - startMs
  }

  @volatile private var recorder: Option[Recorder] = None
  private val nextId = new AtomicLong(1)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  private val baseMs = System.currentTimeMillis() - System.nanoTime() / 1e6

  /** Wall-clock milliseconds on the clock Spark stamps its events with. */
  def nowMs: Double = baseMs + System.nanoTime() / 1e6

  def start(r: Recorder): Unit = recorder = Some(r)
  def stop(): Unit = recorder = None

  /** Run `body` as one call of `layer`; free when tracing is off. */
  def span[T](spark: SparkSession, layer: String)(body: => T): T = recorder match {
    case None => body
    case Some(r) =>
      val id = nextId.getAndIncrement()
      val parent = stack.get.headOption.getOrElse(0L)
      val tag = s"pbspan-$id"
      val sc = spark.sparkContext
      sc.addJobTag(tag)
      stack.set(id :: stack.get)
      val t0 = nowMs
      try body
      finally {
        val t1 = nowMs
        stack.set(stack.get.tail)
        sc.removeJobTag(tag)
        r.addSpan(Span(id, parent, layer, t0, t1))
      }
  }

  /** Innermost span id among a job's or execution's tags, 0 if none. */
  def spanOf(tags: Iterable[String]): Long =
    tags.iterator.filter(_.startsWith("pbspan-")).map(_.stripPrefix("pbspan-").toLong)
      .foldLeft(0L)(math.max)

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0; var end = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }
}

/** Per-stage task totals. */
final class StageTotals {
  var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleBytes = 0L; var spillBytes = 0L; var recordsRead = 0L
}

/** Listener half of the tracer: jobs, stages, tasks and planning phases,
  * keyed by the span that caused them. Planning phases are read from the
  * `QueryPlanningTracker` of the `QueryExecution` that each SQL execution's
  * end event carries (the object a `QueryExecutionListener` is handed).
  */
final class Recorder extends SparkListener {
  import Recorder._
  import Trace.Span

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val stages = new ConcurrentHashMap[Int, StageTotals]()
  private val textScanStages = ConcurrentHashMap.newKeySet[Int]()
  private val execSpan = new ConcurrentHashMap[Long, Long]()
  private val planningMs = new ConcurrentHashMap[Long, Double]() // span -> ms
  private val markersSeen = ConcurrentHashMap.newKeySet[String]()
  private val execMarker = new ConcurrentHashMap[Long, String]()
  private val markers = new AtomicLong()

  def addSpan(s: Span): Unit = synchronized { spans += s }
  def allSpans: Seq[Span] = synchronized { spans.toList }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").toSeq).getOrElse(Nil)
    val span = Trace.spanOf(tags)
    e.stageInfos.foreach(s => stageSpan.put(s.stageId, span))
    jobs.put(e.jobId, Job(e.jobId, span, e.time.toDouble, Double.NaN, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (e.stageInfo.rddInfos.exists(r => r.scope.exists(_.name.toLowerCase.startsWith("scan text"))))
      textScanStages.add(e.stageInfo.stageId)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val t = stages.computeIfAbsent(e.stageId, _ => new StageTotals)
      t.synchronized {
        t.tasks += 1
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.diskBytesSpilled
        t.recordsRead += m.inputMetrics.recordsRead
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execSpan.put(s.executionId, Trace.spanOf(s.jobTags))
      s.jobTags.find(_.startsWith("pbmarker-")).foreach(execMarker.put(s.executionId, _))
    case s: SparkListenerSQLExecutionEnd =>
      val span = Option(execSpan.get(s.executionId)).map(_.longValue).getOrElse(0L)
      queryExecution(s).foreach { qe =>
        val ms = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
        planningMs.merge(span, ms, (a: Double, b: Double) => a + b)
      }
      Option(execMarker.get(s.executionId)).foreach(markersSeen.add)
    case _ =>
  }

  /** The end event's `QueryExecution`: a public accessor on the JVM that
    * Scala reserves to Spark's own package, so it is read reflectively.
    */
  private def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    scala.util.Try(e.getClass.getMethod("qe").invoke(e)).toOption.collect { case q: QueryExecution => q }

  /** Totals per layer over every span recorded so far. */
  def layers(): Map[String, LayerTotals] = {
    val all = allSpans
    val byId = all.map(s => s.id -> s).toMap
    val children = all.groupBy(_.parent)
    val jobList = jobs.values.asScala.toSeq
    // a span's jobs: those tagged with it or with any span nested in it
    val jobsUnder = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Job]]
    jobList.filter(!_.endMs.isNaN).foreach { j =>
      var s = j.span
      while (s != 0L) {
        jobsUnder.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += j
        s = byId.get(s).map(_.parent).getOrElse(0L)
      }
    }
    val jobsBySpan = jobList.groupBy(_.span)
    val stageTotals = stages.asScala
    all.groupBy(_.layer).map { case (layer, ss) =>
      val ids = ss.map(_.id).toSet
      val own = ids.toSeq.flatMap(jobsBySpan.getOrElse(_, Nil))
      val ownStages = own.flatMap(_.stages).distinct.flatMap(stageTotals.get)
      val self = ss.map { s =>
        s.ms - Trace.covered(children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)), s.startMs, s.endMs)
      }.sum
      val gap = ss.map { s =>
        val js = jobsUnder.getOrElse(s.id, Nil).toSeq
        s.ms - Trace.covered(js.map(j => (j.startMs, j.endMs)), s.startMs, s.endMs)
      }.sum
      layer -> LayerTotals(
        calls = ss.size, selfMs = self, jobs = own.size, stages = ownStages.size,
        tasks = ownStages.map(_.tasks).sum,
        execCpuMs = ownStages.map(_.cpuNs).sum / 1e6,
        shuffleBytes = ownStages.map(_.shuffleBytes).sum,
        spillBytes = ownStages.map(_.spillBytes).sum,
        gcMs = ownStages.map(_.gcMs).sum.toDouble,
        planningMs = ids.toSeq.map(i => Option(planningMs.get(i)).map(_.doubleValue).getOrElse(0.0)).sum,
        driverGapMs = gap)
    }
  }

  /** Executor run time and records read of the traced stages that scan
    * text input.
    */
  def textScan(): (Double, Long) = {
    val ts = textScanStages.asScala.toSeq
      .filter(id => Option(stageSpan.get(id)).exists(_ != 0L))
      .flatMap(id => Option(stages.get(id)))
    (ts.map(_.runMs).sum.toDouble, ts.map(_.recordsRead).sum)
  }

  /** Block until every event posted before this call has been delivered:
    * run one tagged marker action and wait for its execution to end.
    */
  def drain(spark: SparkSession): Unit = {
    val tag = s"pbmarker-${markers.incrementAndGet()}"
    val sc = spark.sparkContext
    sc.addJobTag(tag)
    try spark.range(1).collect() finally sc.removeJobTag(tag)
    val deadline = System.currentTimeMillis() + 30000
    while (!markersSeen.contains(tag) && System.currentTimeMillis() < deadline) Thread.sleep(10)
  }
}

object Recorder {
  final case class Job(id: Int, span: Long, startMs: Double, var endMs: Double, stages: Seq[Int])

  /** Common counters of one layer. */
  final case class LayerTotals(
      calls: Long, selfMs: Double, jobs: Long, stages: Long, tasks: Long, execCpuMs: Double,
      shuffleBytes: Long, spillBytes: Long, gcMs: Double, planningMs: Double,
      driverGapMs: Double)
}
