package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Components, CorpusPrep, IncrementalDedup, Similarity}

/** The LLM-data loop: arriving corpus batches are prepared, probed for
  * near-duplicates against the persisted text index and appended to it,
  * clustered into near-duplicate components with a quality winner each, and
  * their embeddings appended to the persisted IVFPQ index and probed.
  * Compaction, vacuum and a codebook retrain close the run.
  */
object Corpus {

  /** One epoch per 9 s of --seconds, at least two. */
  def spec(seconds: Int): Gen.CorpusSpec = Gen.CorpusSpec(baseDocs = 300, docsPerEpoch = 200,
    baseVecs = 300, vecsPerEpoch = 150, epochs = math.max(2, math.round(seconds / 9.0).toInt),
    nearDupShare = 0.1, queriesPerEpoch = 8)
  /** Declared floor on IVFPQ recall@10 against exact top-10. */
  val RecallFloor = 0.5
  val NProbe = 4
  val Rerank = 50

  private final case class Dirs(root: Path) {
    val dedup: String = root.resolve("dedup").toString
    val ivf: String = root.resolve("ivfpq").toString
  }

  def run(spark: SparkSession, a: Main.Args, rec: Option[Recorder]): Main.Outcome = {
    import spark.implicits._
    val c = Gen.corpus(a.seed, spec(a.seconds))
    val d = Dirs(a.work.resolve("corpus"))
    def docs(ds: Seq[Gen.Doc]): DataFrame =
      ds.map(x => (x.id, x.lang, x.text)).toDF("doc_id", "lang", "text")
    def vecs(vs: Seq[Gen.Vec]): DataFrame =
      vs.map(x => (x.id, x.v)).toDF("vec_id", "embedding")
    val baseVecs = vecs(c.baseVecs)
    val centroids = c.baseVecs.take(Gen.Clusters).zipWithIndex
      .map { case (v, i) => (i + 1, v.v.map(_.toDouble)) }.toDF("list_id", "centroid")
    val seeds = centroids.select((col("list_id") - 1).as("code"), col("centroid"))

    // reference answers, computed once from the generated inputs alone
    val ingested = c.base ++ c.epochs.flatten
    val refPairs = Gen.nearDupPairs(ingested, c.epochs.flatten.map(_.id).toSet)
    val nonSpace = ingested.map(x => x.id -> x.text.count(_ != ' ').toLong).toMap
    val refWinners = Gen.components(refPairs).groupBy(_._2).map { case (comp, members) =>
      comp -> members.keys.minBy(id => (-nonSpace(id), id)) }
    val indexedBy = c.epochVecs.indices.map(e => c.baseVecs ++ c.epochVecs.take(e + 1).flatten)
    val exact = c.queries.zip(indexedBy).map { case (qs, corpus) => Gen.topK(qs, corpus, 10) }

    val setupS = Setup.timed(3) {
      Io.delete(d.root)
      val base = CorpusPrep.prepare(docs(c.base)).localCheckpoint(true)
      IncrementalDedup.buildIndex(base, "doc_id", "txt", d.dedup)
      Similarity.saveIvfPqIndex(
        Similarity.ivfBuildFixed(baseVecs, "vec_id", "embedding", centroids),
        Similarity.pqBuild(baseVecs, "vec_id", "embedding", seeds), d.ivf)
    }

    val quality = docs(ingested).select(col("doc_id").as("id"),
      length(regexp_replace(col("text"), "\\s+", "")).cast("long").as("nc")).localCheckpoint(true)
    val epochS, probeMs, recalls = mutable.ArrayBuffer.empty[Double]
    val pairs = mutable.LinkedHashSet.empty[(Long, Long)]
    var winners = Map.empty[Long, Long]
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted, failed = 0L
    def probe(qs: Seq[Gen.Vec], want: Map[Long, Set[Long]]): Unit = {
      val p0 = Trace.nowMs
      val got = Trace.span(spark, "ops.similarity") {
        Similarity.ivfPqTopKBatchPersisted(spark, d.ivf,
          qs.map(q => (q.id, q.v)).toDF("qid", "qvec"), k = 10, nProbe = NProbe, rerank = Rerank)
          .select("qid", "id").as[(Long, Long)].collect()
      }.groupBy(_._1).map { case (q, ids) => q -> ids.map(_._2).toSet }
      probeMs += Trace.nowMs - p0
      recalls ++= want.map { case (q, ids) => (got.getOrElse(q, Set.empty) & ids).size / 10.0 }
    }

    rec.foreach(Trace.start)
    val t0 = Trace.nowMs
    c.epochs.indices.foreach { e =>
      attempted += 1
      val e0 = Trace.nowMs
      try {
        val batch = Trace.span(spark, "ops.prep") {
          CorpusPrep.prepare(docs(c.epochs(e))).localCheckpoint(true)
        }
        pairs ++= Trace.span(spark, "ops.dedup") {
          IncrementalDedup.incrementalPairs(spark, d.dedup, batch, "doc_id", "txt")
            .select("id_a", "id_b").as[(Long, Long)].collect()
        }
        Trace.span(spark, "ops.dedup") {
          IncrementalDedup.appendToIndex(batch, "doc_id", "txt", d.dedup, tag = s"epoch-$e")
        }
        winners = Trace.span(spark, "ops.components") {
          val comp = Components.connectedComponents(pairs.toSeq.toDF("id_a", "id_b"), "id_a", "id_b")
          comp.join(quality, Seq("id"))
            .groupBy("comp")
            .agg(min(struct((-col("nc")).as("k"), col("id"))).getField("id").as("winner"))
            .as[(Long, Long)].collect().toMap
        }
        Trace.span(spark, "ops.similarity") {
          Similarity.appendToIvfPqIndex(vecs(c.epochVecs(e)), "vec_id", "embedding", d.ivf, tag = s"epoch-$e")
        }
        probe(c.queries(e), exact(e))
        epochS += (Trace.nowMs - e0) / 1000.0
      } catch { case ex: Exception => failed += 1; errors += s"epoch $e: $ex" }
    }
    attempted += 1
    try {
      Trace.span(spark, "ops.dedup") {
        IncrementalDedup.compactIndex(spark, d.dedup)
        IncrementalDedup.vacuumIndex(spark, d.dedup)
      }
      Trace.span(spark, "ops.similarity") {
        Similarity.retrainIvfPqIndex(spark, d.ivf)(df => Similarity.pqBuild(df, "id", "v", seeds))
      }
      probe(c.queries.last, exact.last)
    } catch { case ex: Exception => failed += 1; errors += s"maintenance: $ex" }
    val t1 = Trace.nowMs
    rec.foreach(_ => Trace.stop())
    val wall = (t1 - t0) / 1000.0
    val liveMb = Heap.liveMb()

    attempted += 1
    val checks = mutable.ArrayBuffer.empty[String]
    if (pairs.toSet != refPairs)
      checks += s"near-dup pairs: ${pairs.size} found, ${refPairs.size} expected, " +
        s"${(pairs.toSet -- refPairs).size} unexpected, ${(refPairs -- pairs).size} missed"
    if (winners != refWinners)
      checks += s"component winners: ${winners.size} components, ${refWinners.size} expected, " +
        s"${(winners.toSet -- refWinners.toSet).size} differ"
    val recall = if (recalls.isEmpty) 0.0 else recalls.sum / recalls.size
    if (recall < RecallFloor) checks += f"IVFPQ recall@10 $recall%.3f below the floor $RecallFloor"
    if (checks.nonEmpty) failed += 1
    errors ++= checks

    val inputBytes = ingested.map(_.text.length.toLong).sum +
      (c.baseVecs.size + c.epochVecs.map(_.size).sum).toLong * Gen.Dim * 4
    val indexBytes = Io.bytes(d.root)
    val docsIn = c.epochs.map(_.size).sum
    System.err.println(s"[perfbench] corpus_epochs: ${epochS.size} epochs, ${pairs.size} pairs, " +
      f"recall@10 $recall%.3f, ${probeMs.size} probes")
    val e2e = if (epochS.isEmpty || probeMs.isEmpty) Map.empty[String, Double] else Map(
      "setup_s" -> Stats.median(setupS),
      "wall_s" -> wall,
      "rows_per_s" -> docsIn / wall,
      "read_p50_ms" -> Stats.median(probeMs.toSeq),
      "epoch_p50_s" -> Stats.median(epochS.toSeq),
      "bytes_per_input_byte" -> indexBytes.toDouble / inputBytes,
      "live_heap_mb" -> liveMb)
    val layers = rec.map { r =>
      r.drain(spark)
      Metrics.common(r) ++ Map(
        "ops.dedup.pairs" -> pairs.size.toDouble,
        "ops.similarity.recall_at_10" -> recall,
        "trace.wall_s" -> wall,
        "trace.span_coverage" -> Metrics.coveredMs(r, t0, t1) / (t1 - t0))
    }.getOrElse(Map.empty)
    Main.Outcome(e2e, layers, attempted, failed, errors.toSeq)
  }
}
