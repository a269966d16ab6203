package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.sql.DriverManager

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.etl.{AdjustParser, JdbcUpsert, LakeSnapshot, SnowplowParser, TargetMapping}

/** The silvia loop: raw Snowplow/Adjust files -> parse and bad-row split ->
  * four JDBC targets plus the Adjust table (embedded Derby), atomic events
  * into the lake, bad rows into a dead-letter set, one micro-batch at a time.
  */
object Snowplow {

  /** Two file pairs (Snowplow TSV and Adjust JSON) per micro-batch. */
  val FilesPerTrigger = 4

  /** Fresh targets for one round of the loop. */
  final case class Targets(dir: Path) {
    val in: Path = dir.resolve("in")
    val derby: Path = dir.resolve("derby")
    val url = s"jdbc:derby:$derby;create=true"
    val lake: String = dir.resolve("lake").toString
    val dead: String = dir.resolve("dead").toString
  }

  /** What the pipeline saw per micro-batch, stamped on the benchmark clock. */
  final class Batches {
    val startMs = mutable.LinkedHashMap.empty[Long, Double]
    val endMs = mutable.LinkedHashMap.empty[Long, Double]
    var failed = 0
    def durationsS: Seq[Double] = endMs.keys.toSeq.map(b => (endMs(b) - startMs(b)) / 1000.0)
  }

  /** Drop any previous round and create the target tables. */
  def setup(spark: SparkSession, t: Targets): Unit = {
    drop(t)
    Files.createDirectories(t.in)
    val sp = SnowplowParser.parseLines(emptyLines(spark)).good
    TargetMapping.allTargets(sp).foreach { case (table, rows, keys) =>
      JdbcUpsert.ensureTable(t.url, table, rows.schema, keys)
    }
    JdbcUpsert.ensureTable(t.url, "adjust_events",
      AdjustParser.parseLines(emptyLines(spark)).good.schema, Gen.AdjustKeys)
  }

  /** Shut the round's Derby database down and delete everything it wrote. */
  def drop(t: Targets): Unit = {
    try DriverManager.getConnection(s"jdbc:derby:${t.derby};shutdown=true")
    catch { case _: java.sql.SQLException => () } // 08006 (shut down) or XJ004 (absent)
    Io.delete(t.dir)
  }

  private def emptyLines(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[String].toDF("value")
  }

  /** Write one file pair into `dir`, through a rename so the stream never
    * lists a partial file. The modification time orders the pair.
    */
  def writePair(staging: Path, dir: Path, f: Gen.FilePair, prefix: String, mtimeMs: Long): Unit = {
    def put(name: String, lines: Vector[String], mtime: Long): Unit = {
      val tmp = staging.resolve(name)
      Files.write(tmp, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      Files.setLastModifiedTime(tmp, java.nio.file.attribute.FileTime.fromMillis(mtime))
      Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    }
    put(f"$prefix-${f.index}%06d-sp.tsv", f.snowplow, mtimeMs)
    put(f"$prefix-${f.index}%06d-adj.json", f.adjust, mtimeMs + 1)
  }

  /** The loop body for one micro-batch. Each program call is one span. */
  def process(spark: SparkSession, t: Targets, seen: Batches)(batch: DataFrame, id: Long): Unit = {
    val t0 = Trace.nowMs
    seen.synchronized(seen.startMs(id) = t0)
    try Trace.span(spark, "etl.batch") {
      val isAdjust = col("file").endsWith(".json")
      val sp = Trace.span(spark, "etl.parse") {
        SnowplowParser.parseLines(batch.filter(!isAdjust).select("value"))
      }
      val adj = Trace.span(spark, "etl.parse") {
        AdjustParser.parseLines(batch.filter(isAdjust).select("value"))
      }
      Trace.span(spark, "etl.jdbc") { TargetMapping.loadAll(sp.good, t.url) }
      Trace.span(spark, "etl.jdbc") {
        JdbcUpsert.upsertBatch(adj.good, t.url, "adjust_events", Gen.AdjustKeys)
      }
      Trace.span(spark, "etl.lake_write") {
        LakeSnapshot.mergeDelta(spark, t.lake, TargetMapping.atomicEvents(sp.good),
          "event_id", "collector_tstamp")
      }
      Trace.span(spark, "etl.dead_letter") {
        sp.bad.unionByName(adj.bad).write.mode("append").parquet(t.dead)
      }
    } catch {
      case e: Exception => seen.synchronized(seen.failed += 1); throw e
    }
    seen.synchronized(seen.endMs(id) = Trace.nowMs)
    System.err.println(f"[perfbench] micro-batch $id: ${(seen.endMs(id) - t0) / 1000}%.2f s")
  }

  /** Drain the files staged in `t.in`, [[FilesPerTrigger]] per micro-batch. */
  def start(spark: SparkSession, t: Targets, cp: String, seen: Batches): StreamingQuery =
    spark.readStream.format("text")
      .option("maxFilesPerTrigger", FilesPerTrigger.toString)
      .load(t.in.toString)
      .select(col("value"), col("_metadata.file_name").as("file"))
      .writeStream
      .foreachBatch((b: DataFrame, id: Long) => process(spark, t, seen)(b, id))
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", cp)
      .start()

  /** File name -> micro-batch id, read back from the stream's own source log. */
  def fileBatches(cp: String): Map[String, Long] = {
    val dir = java.nio.file.Paths.get(cp, "sources", "0")
    val path = "\"path\":\"([^\"]+)\"".r
    val batch = "\"batchId\":(\\d+)".r
    Files.list(dir).iterator().asScala.filter(!_.getFileName.toString.startsWith("."))
      .flatMap(p => Files.readAllLines(p).asScala).flatMap { l =>
        for (p <- path.findFirstMatchIn(l); b <- batch.findFirstMatchIn(l))
          yield p.group(1).split('/').last -> b.group(1).toLong
      }.toMap
  }

  /** The recent-window read a dashboard makes beside the loop. */
  def recentRead(spark: SparkSession, t: Targets, since: java.sql.Timestamp): Long =
    Trace.span(spark, "etl.lake_read") {
      LakeSnapshot.read(spark, t.lake)
        .filter(col("collector_tstamp") >= lit(since))
        .groupBy("event")
        .agg(count(lit(1)).as("n"), countDistinct("user_id").as("users"))
        .collect().map(_.getLong(1)).sum
    }

  /** Compare what was committed with the generator's answer; the list of
    * mismatches is empty when the round is correct.
    */
  def check(spark: SparkSession, t: Targets, want: Gen.FeedAnswer): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    val conn = DriverManager.getConnection(t.url)
    try {
      want.targets.foreach { case (table, w) =>
        val col = Gen.TargetValueColumn(table)
        val rs = conn.createStatement().executeQuery(
          s"""SELECT COUNT(*), SUM(CAST("$col" AS DOUBLE)) FROM $table""")
        rs.next()
        val (n, sum) = (rs.getLong(1), BigDecimal(rs.getDouble(2)))
        if (n != w.rows || !close(sum, w.valueSum))
          errs += s"jdbc $table: $n rows sum $sum, want ${w.rows} rows sum ${w.valueSum}"
      }
      val rs = conn.createStatement().executeQuery(
        """SELECT "activity_kind", COUNT(*) FROM adjust_events GROUP BY "activity_kind"""")
      val kinds = Iterator.continually(rs).takeWhile(_.next()).map(r => r.getString(1) -> r.getLong(2)).toMap
      if (kinds != want.adjustByKind) errs += s"adjust kinds $kinds, want ${want.adjustByKind}"
    } finally conn.close()
    val atomic = want.targets("atomic_events")
    val lake = LakeSnapshot.read(spark, t.lake)
      .agg(count(lit(1)), countDistinct("event_id"), sum(col("domain_sessionidx").cast("long")))
      .head()
    if (lake.getLong(0) != atomic.rows || lake.getLong(1) != atomic.rows ||
      BigDecimal(lake.getLong(2)) != atomic.valueSum)
      errs += s"lake: ${lake.getLong(0)} rows ${lake.getLong(1)} keys sum ${lake.getLong(2)}, " +
        s"want ${atomic.rows} sum ${atomic.valueSum}"
    val dead = spark.read.parquet(t.dead).select(explode(col("errors")).as("r"))
      .groupBy("r").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    if (dead != want.deadLetters) errs += s"dead letters $dead, want ${want.deadLetters}"
    errs.toSeq
  }

  private def close(a: BigDecimal, b: BigDecimal): Boolean =
    (a - b).abs <= BigDecimal("0.005").max(b.abs * BigDecimal("1e-12"))

  /** Per-trigger phase durations the engine reports, for triggers that
    * ran a batch.
    */
  def progress(q: StreamingQuery): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.filter(_.durationMs.containsKey("addBatch"))
}
