package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.{AdjustParser, SnowplowParser, TargetMapping}
import graft.ops.CorpusPrep

/** The generator's answers hold for the parsers and corpus preparation
  * themselves, at sf0.001 (1000 events).
  */
class GenSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def lines(ls: Seq[String]): DataFrame = {
    import spark.implicits._
    ls.toDF("value")
  }

  test("rendered Snowplow and Adjust lines parse to exactly the expected answer") {
    val spec = Gen.FeedSpec(files = 4, eventsPerFile = 250, badShare = 0.02,
      resendShare = 0.05, resendLagFiles = 2)
    val (files, want) = Gen.feed(seed = 42, spec)
    assert(want.resentLines > 0)
    assert(want.deadLetters.keySet == (Gen.SnowplowReasons ++ Gen.AdjustReasons).toSet)
    val sp = SnowplowParser.parseLines(lines(files.flatMap(_.snowplow)))
    val adj = AdjustParser.parseLines(lines(files.flatMap(_.adjust)))

    val dead = sp.bad.unionByName(adj.bad).select(explode(col("errors")).as("r"))
      .groupBy("r").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dead == want.deadLetters)
    assert(sp.bad.filter(size(col("errors")) =!= 1).isEmpty, "one reason per bad line")

    TargetMapping.allTargets(sp.good).foreach { case (table, rows, keys) =>
      val c = Gen.TargetValueColumn(table)
      val got = rows.dropDuplicates(keys).agg(count(lit(1)), sum(col(c).cast("decimal(20,2)"))).head()
      assert(got.getLong(0) == want.targets(table).rows, table)
      assert(BigDecimal(got.getDecimal(1)) == want.targets(table).valueSum, table)
    }
    val kinds = adj.good.dropDuplicates(Gen.AdjustKeys).groupBy("activity_kind").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kinds == want.adjustByKind)
    val revenue = adj.good.dropDuplicates(Gen.AdjustKeys)
      .agg(sum(col("revenue").cast("decimal(20,2)"))).head().getDecimal(0)
    assert(BigDecimal(revenue) == want.adjustRevenue)
  }

  test("the same seed renders the same feed") {
    val spec = Gen.FeedSpec(files = 2, eventsPerFile = 50, badShare = 0.04,
      resendShare = 0.1, resendLagFiles = 1)
    assert(Gen.feed(7, spec) == Gen.feed(7, spec))
    assert(Gen.feed(7, spec)._1 != Gen.feed(8, spec)._1)
  }

  test("corpus preparation keeps every generated doc outside the held-out split") {
    import spark.implicits._
    val c = Gen.corpus(5, Gen.CorpusSpec(baseDocs = 300, docsPerEpoch = 200, baseVecs = 50,
      vecsPerEpoch = 20, epochs = 2, nearDupShare = 0.2, queriesPerEpoch = 2))
    (c.base +: c.epochs).foreach { batch =>
      val kept = CorpusPrep.prepare(batch.map(d => (d.id, d.lang, d.text)).toDF("doc_id", "lang", "text"))
        .select("doc_id").as[Long].collect().toSet
      assert(kept == batch.map(_.id).filter(_ % 50 != 0).toSet)
    }
    val ref = Gen.nearDupPairs(c.base ++ c.epochs.flatten, c.epochs.flatten.map(_.id).toSet)
    assert(c.planted.nonEmpty && c.planted.forall(p => ref.contains((math.min(p._1, p._2), math.max(p._1, p._2)))))
  }
}
