package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.etl.LakeSnapshot

/** Metric names, units and the result line. */
object Metrics {

  /** End-to-end metrics, printed on untraced runs, with their units. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "wall_s" -> "s", "rows_per_s" -> "1/s",
    "read_p50_ms" -> "ms", "epoch_p50_s" -> "s",
    "bytes_per_input_byte" -> "ratio", "live_heap_mb" -> "MB")

  /** Layers measured as calls into the program. */
  val CallLayers: Seq[String] = Seq(
    "etl.parse", "etl.jdbc", "etl.lake_write", "etl.lake_read", "etl.dead_letter",
    "ops.prep", "ops.dedup", "ops.components", "ops.similarity")

  val Common: Seq[(String, String)] = Seq(
    "calls" -> "count", "self_ms" -> "ms", "jobs" -> "count", "tasks" -> "count",
    "exec_cpu_ms" -> "ms", "shuffle_bytes" -> "bytes", "spill_bytes" -> "bytes",
    "gc_ms" -> "ms", "planning_ms" -> "ms", "driver_gap_ms" -> "ms")

  /** Per-layer metrics, printed on traced runs, with their units. */
  val PerLayer: Seq[(String, String)] =
    CallLayers.flatMap(l => Common.map { case (c, u) => s"$l.$c" -> u }) ++ Seq(
      "etl.parse.lines" -> "count", "etl.parse.bad_lines" -> "count",
      "etl.parse.exec_ms" -> "ms", "etl.parse.scan_amplification" -> "ratio",
      "etl.jdbc.rows" -> "count", "etl.jdbc.insert_share" -> "ratio",
      "etl.lake_write.files_added" -> "count",
      "etl.lake_read.live_files_at_read" -> "count",
      "streaming.batches" -> "count", "streaming.latest_offset_ms" -> "ms",
      "streaming.query_planning_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
      "streaming.wal_commit_ms" -> "ms", "streaming.commit_offsets_ms" -> "ms",
      "streaming.backlog_files_max" -> "count",
      "ops.dedup.pairs" -> "count", "ops.similarity.recall_at_10" -> "ratio",
      "trace.wall_s" -> "s", "trace.span_coverage" -> "ratio")

  def endToEnd(m: Map[String, Double]): Seq[(String, Double, String)] = pick(EndToEnd, m, zero = false)
  def perLayer(m: Map[String, Double]): Seq[(String, Double, String)] = pick(PerLayer, m, zero = true)

  /** The listed metrics in order. A traced run reads 0 for a layer its
    * workload does not call; an untraced run missing any metric prints none.
    */
  private def pick(names: Seq[(String, String)], m: Map[String, Double], zero: Boolean) = {
    val complete = names.forall { case (n, _) => m.get(n).exists(v => !v.isNaN && !v.isInfinite) }
    if (m.isEmpty || !(zero || complete)) Nil
    else names.map { case (n, u) => (n, m.getOrElse(n, 0.0), u) }
  }

  def json(correct: Boolean, attempted: Long, failed: Long, ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) => s""""$n": {"value": $v, "unit": "$u"}""" }
      .mkString(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""", ", ", "}}")

  /** Common counters of every traced call layer, as `<layer>.<counter>`. */
  def common(r: Recorder): Map[String, Double] =
    r.layers().toSeq.flatMap { case (l, t) =>
      Seq("calls" -> t.calls.toDouble, "self_ms" -> t.selfMs, "jobs" -> t.jobs.toDouble,
        "tasks" -> t.tasks.toDouble, "exec_cpu_ms" -> t.execCpuMs,
        "shuffle_bytes" -> t.shuffleBytes.toDouble, "spill_bytes" -> t.spillBytes.toDouble,
        "gc_ms" -> t.gcMs, "planning_ms" -> t.planningMs, "driver_gap_ms" -> t.driverGapMs)
        .map { case (c, v) => s"$l.$c" -> v }
    }.toMap

  /** Share of `[t0, t1]` covered by top-level spans. */
  def coveredMs(r: Recorder, t0: Double, t1: Double): Double =
    Trace.covered(r.allSpans.filter(_.parent == 0L).map(s => (s.startMs, s.endMs)), t0, t1)
}

/** Per-layer bookkeeping of the Snowplow workload; inert untraced. */
final class SnowplowTrace(spark: SparkSession, rec: Option[Recorder]) {
  private var lakeFilesBefore = 0L
  private var writes = Map.empty[String, Double]
  private val liveFiles = mutable.ArrayBuffer.empty[Double]

  private def lakeFiles(t: Snowplow.Targets): Long = {
    val p = Paths.get(t.lake)
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.count(f => f.toString.endsWith(".parquet")).toLong
  }

  def begin(t: Snowplow.Targets): Unit = rec.foreach { r =>
    lakeFilesBefore = lakeFiles(t)
    Trace.start(r)
  }

  /** After the drain over the staged backlog has stopped. */
  def endWrites(t: Snowplow.Targets, q: StreamingQuery, cp: String,
      t0: Double, t1: Double, answer: Gen.FeedAnswer): Unit = rec.foreach { r =>
    val progress = Snowplow.progress(q)
    def phase(k: String): Double =
      if (progress.isEmpty) 0.0
      else Stats.median(progress.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
    writes = Map(
      "etl.parse.lines" -> answer.lines.toDouble,
      "etl.parse.bad_lines" -> answer.deadLetters.values.sum.toDouble,
      "etl.jdbc.rows" -> answer.jdbcRowsWritten.toDouble,
      "etl.jdbc.insert_share" -> answer.jdbcRows.toDouble / answer.jdbcRowsWritten,
      "etl.lake_write.files_added" -> (lakeFiles(t) - lakeFilesBefore).toDouble,
      "streaming.batches" -> progress.size.toDouble,
      "streaming.latest_offset_ms" -> phase("latestOffset"),
      "streaming.query_planning_ms" -> phase("queryPlanning"),
      "streaming.add_batch_ms" -> phase("addBatch"),
      "streaming.wal_commit_ms" -> phase("walCommit"),
      "streaming.commit_offsets_ms" -> phase("commitOffsets"),
      // the whole backlog is staged before the first trigger
      "streaming.backlog_files_max" -> Snowplow.fileBatches(cp).size.toDouble,
      "trace.wall_s" -> (t1 - t0) / 1000.0,
      "trace.span_coverage" -> Metrics.coveredMs(r, t0, t1) / (t1 - t0))
  }

  def read[T](t: Snowplow.Targets)(body: => T): T = {
    val v = body
    rec.foreach(_ => liveFiles += LakeSnapshot.read(spark, t.lake).inputFiles.length)
    v
  }

  def endReads(): Unit = rec.foreach(_ => Trace.stop())

  def layers(): Map[String, Double] = rec.map { r =>
    r.drain(spark)
    val (scanMs, records) = r.textScan()
    Metrics.common(r) ++ writes ++ Map(
      "etl.parse.exec_ms" -> scanMs,
      "etl.parse.scan_amplification" -> records / writes("etl.parse.lines"),
      "etl.lake_read.live_files_at_read" -> (if (liveFiles.isEmpty) 0.0 else Stats.median(liveFiles.toSeq)))
  }.getOrElse(Map.empty)
}
