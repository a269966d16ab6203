package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir>`. Prints one JSON result line last.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path)

  /** What a workload measured. `layers` is filled on traced runs only. */
  final case class Outcome(
      e2e: Map[String, Double], layers: Map[String, Double],
      attempted: Long, failed: Long, errors: Seq[String])

  val Workloads: Map[String, (SparkSession, Args, Option[Recorder]) => Outcome] = Map(
    "snowplow_backlog" -> backlog,
    "corpus_epochs" -> Corpus.run)

  // Frozen workload sizes: perfbench/README.md records why each was chosen.
  // The backlog holds one trigger of two file pairs (Snowplow.FilesPerTrigger
  // files) per 9 s of --seconds.
  def backlogSpec(seconds: Int): Gen.FeedSpec = Gen.FeedSpec(
    files = 2 * math.max(2, math.round(seconds / 9.0).toInt), eventsPerFile = 150,
    badShare = 0.02, resendShare = 0.05, resendLagFiles = 2)
  val History = Gen.FeedSpec(files = 1, eventsPerFile = 50, badShare = 0.02,
    resendShare = 0.0, resendLagFiles = 1)
  val Reads = 8

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Io.delete(a.work)
    Files.createDirectories(a.work)
    System.setProperty("derby.stream.error.file", a.work.resolve("derby.log").toString)
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    val recorder = if (a.trace) Some(new Recorder) else None
    recorder.foreach(spark.sparkContext.addSparkListener)
    val out =
      try Workloads(a.workload)(spark, a, recorder)
      catch { case e: Exception =>
        e.printStackTrace()
        Outcome(Map.empty, Map.empty, 1, 1, Seq(s"run failed: $e"))
      }
    val metrics = if (a.trace) Metrics.perLayer(out.layers) else Metrics.endToEnd(out.e2e)
    val correct = out.errors.isEmpty && metrics.nonEmpty
    out.errors.foreach(e => System.err.println(s"[perfbench] check failed: $e"))
    spark.stop()
    println(Metrics.json(correct, out.attempted, out.failed, metrics))
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val w = m.getOrElse("workload", sys.error("--workload is required"))
    require(Workloads.contains(w), s"unknown workload $w; known: ${Workloads.keys.toSeq.sorted.mkString(", ")}")
    Args(w, m.getOrElse("seed", "1").toLong, m.getOrElse("seconds", "10").toInt,
      m.getOrElse("trace", "0") == "1", Paths.get(m.getOrElse("work", "work")).toAbsolutePath)
  }

  // ------------------------------------------------------------ snowplow

  /** Run the loop body once over the history file pair, outside any
    * stream: it warms the JVM and leaves data in the targets and the lake.
    */
  private def loadHistory(spark: SparkSession, t: Snowplow.Targets, hist: Gen.FilePair): Unit = {
    val dir = Files.createDirectories(t.dir.resolve("hist"))
    Snowplow.writePair(t.dir, dir, hist, "h", 0L)
    val lines = spark.read.text(dir.toString).select(col("value"), col("_metadata.file_name").as("file"))
    Snowplow.process(spark, t, new Snowplow.Batches)(lines, -1L)
  }

  /** Closed loop: the loop drains a pre-staged backlog in a few large
    * triggers, then a dashboard reads the lake's recent window.
    */
  def backlog(spark: SparkSession, a: Args, rec: Option[Recorder]): Outcome = {
    val (hist, histAnswer) = Gen.feed(a.seed * 7 + 1, History)
    val spec = backlogSpec(a.seconds)
    val (files, answer) = Gen.feed(a.seed, spec, firstEvent = 1000000L)
    val want = answer.after(histAnswer)
    val t = Snowplow.Targets(a.work.resolve("snowplow"))
    // a warm set-up takes under a second, so five of them steady the median
    val setupS = Stats.median(Setup.timed(5) {
      Snowplow.setup(spark, t)
      files.foreach(f => Snowplow.writePair(t.dir, t.in, f, "b", 1000000L + 2000L * f.index))
    })
    Log.phase("history load") { loadHistory(spark, t, hist.head) }
    val trace = new SnowplowTrace(spark, rec)
    val errors = mutable.ArrayBuffer.empty[String]
    val seen = new Snowplow.Batches
    val cp = t.dir.resolve("cp").toString
    trace.begin(t)
    val t0 = Trace.nowMs
    val q = Snowplow.start(spark, t, cp, seen)
    val ok = Log.phase("backlog drain") {
      try { q.awaitTermination(); true }
      catch { case e: Exception => errors += s"stream: ${e.getMessage}"; false }
    }
    val t1 = Trace.nowMs
    trace.endWrites(t, q, cp, t0, t1, answer)
    var attempted = seen.startMs.size.toLong
    var failed = seen.failed.toLong
    val reads = mutable.ArrayBuffer.empty[Double]
    if (ok) {
      val since = new java.sql.Timestamp(Gen.eventTimeMs(1000000L + spec.files * spec.eventsPerFile / 2))
      Log.phase("reads") {
        Snowplow.recentRead(spark, t, since) // untimed: plans and compiles the read once
        (0 until Reads).foreach { _ =>
          attempted += 1
          val r0 = Trace.nowMs
          try { trace.read(t) { Snowplow.recentRead(spark, t, since) }; reads += Trace.nowMs - r0 }
          catch { case e: Exception => failed += 1; errors += s"read: ${e.getMessage}" }
        }
      }
    }
    trace.endReads()
    val liveMb = Heap.liveMb()
    if (ok) {
      attempted += 1
      val errs = Log.phase("check") { Snowplow.check(spark, t, want) }
      if (errs.nonEmpty) { failed += 1; errors ++= errs }
    } else failed += 1
    val wall = (t1 - t0) / 1000.0
    System.err.println(s"[perfbench] snowplow_backlog: ${seen.endMs.size} micro-batches, ${reads.size} reads")
    val e2e = if (!ok || reads.isEmpty) Map.empty[String, Double] else Map(
      "setup_s" -> setupS,
      "wall_s" -> wall,
      "rows_per_s" -> (answer.goodLines + answer.resentLines) / wall,
      "read_p50_ms" -> Stats.median(reads.toSeq),
      "epoch_p50_s" -> Stats.median(seen.durationsS),
      "bytes_per_input_byte" -> Io.bytes(Paths.get(t.lake)) / (hist ++ files).map(_.bytes).sum.toDouble,
      "live_heap_mb" -> liveMb)
    Outcome(e2e, trace.layers(), attempted, failed, errors.toSeq)
  }
}
