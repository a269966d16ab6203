package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class RecorderSpec extends AnyFunSuite with BeforeAndAfterAll {

  // adaptive execution off: it would split the query below into one job
  // per shuffle stage, and the counts would depend on run-time statistics
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.adaptive.enabled", "false")
    .config("spark.sql.shuffle.partitions", "3")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def traced[T](body: Recorder => T): T = {
    val r = new Recorder
    spark.sparkContext.addSparkListener(r)
    Trace.start(r)
    try body(r)
    finally { Trace.stop(); spark.sparkContext.removeSparkListener(r) }
  }

  test("a frame with two Exchanges runs as one job of three stages, charged to its span") {
    val df = spark.range(0, 1000, 1, numPartitions = 2)
      .repartition(4).groupBy((col("id") % 7).as("k")).count()
    assert(df.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.size == 2)
    traced { r =>
      Trace.span(spark, "outer") {
        Thread.sleep(50)
        Trace.span(spark, "inner") { assert(df.collect().length == 7) }
      }
      r.drain(spark)
      val layers = r.layers()
      val inner = layers("inner")
      assert(inner.calls == 1)
      assert(inner.jobs == 1)
      assert(inner.stages == 3)
      assert(inner.tasks == 2 + 4 + 3)
      assert(inner.shuffleBytes > 0)
      assert(inner.planningMs > 0, "planning phases come from the execution's QueryExecution")
      val outer = layers("outer")
      assert(outer.jobs == 0, "jobs belong to the innermost span only")
      assert(outer.selfMs >= 50 && outer.selfMs < 50 + inner.selfMs)
      assert(outer.driverGapMs >= 50, "the sleep runs no job")
    }
  }

  test("text records read by scan stages count every rescan of the input") {
    val dir = Files.createTempDirectory("recorder-spec")
    Files.write(dir.resolve("a.txt"), (1 to 100).map(_.toString).mkString("\n").getBytes)
    val lines = spark.read.text(dir.toString)
    traced { r =>
      Trace.span(spark, "scan") {
        lines.count()
        lines.filter(col("value").startsWith("1")).collect()
      }
      r.drain(spark)
      assert(r.textScan()._2 == 200)
      assert(r.layers()("scan").jobs >= 2)
    }
  }

  test("untraced runs record nothing") {
    val r = new Recorder
    spark.sparkContext.addSparkListener(r)
    try {
      Trace.span(spark, "ignored") { spark.range(10).collect() }
      assert(r.allSpans.isEmpty)
    } finally spark.sparkContext.removeSparkListener(r)
  }

  test("covered length is the union of clipped intervals") {
    assert(Trace.covered(Seq((0.0, 10.0), (5.0, 15.0), (20.0, 30.0)), 2.0, 25.0) == 18.0)
    assert(Trace.covered(Nil, 0.0, 5.0) == 0.0)
  }
}
