package perfbench

import java.util.Random

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextFunctions
import graft.operators.{CorpusPipeline, Dedup, TextAnalysis}

/** `text_curate`: a seeded corpus with planted exact and near
  * duplicates through `CorpusPipeline.curate`. No vector layer runs.
  * The correct answer has a closed form ([[Inputs.expectedKept]]).
  */
object TextWorkload {
  import Inputs._

  val Docs = 12000 // a multiple of 60, so every planted pair is whole
  val WarmDocs = 1500
  val MinQuality = 0.0
  val Jaccard = 0.7
  val SetupReps = 3

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("source", StringType, nullable = false)))

  private def writeCorpus(ctx: Ctx, docs: Array[(Long, String, String)], path: String): Unit = {
    val rows = new java.util.ArrayList[Row](docs.length)
    docs.foreach { case (i, t, s) => rows.add(Row(i, t, s)) }
    ctx.spark.createDataFrame(rows, docSchema)
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(path)
  }

  /** The language every generated doc is identified as (the corpus
    * carries no stopwords, so lang-ID is uniform); curation keeps it.
    */
  private def corpusLang(docs: DataFrame): String =
    docs.limit(1000)
      .select(TextAnalysis.langPredCol(TextFunctions.tokens(col("text"))).as("l"))
      .groupBy("l").count().orderBy(col("count").desc).head().getString(0)

  /** Check curate's per-source counts against the closed form. */
  private def verify(ctx: Ctx, rows: Array[Row], n: Int): Long = {
    val got = rows.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val want = expectedKept(n)
    ctx.check(got.keySet == want.keySet && want.forall { case (s, c) =>
      got(s)._1 == c && got(s)._2 == c * WordsPerDoc
    }, s"curate kept ${got.toSeq.sorted.mkString(",")}, expected ${want.toSeq.sorted.mkString(",")}")
    got.values.map(_._1).sum
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val root = s"${ctx.work}/text_curate"
    val lang = ctx.repeatSetUp(SetupReps) { _ =>
      ctx.remove(root)
      writeCorpus(ctx, corpus(new Random(ctx.seed), Docs), s"$root/corpus")
      val docs = spark.read.parquet(s"$root/corpus")
      val lang = corpusLang(docs)
      // warm-up: curate a prefix of the corpus
      ctx.untraced(ctx.call("text.curate")(
        CorpusPipeline.curate(docs.filter(col("doc_id") < WarmDocs), lang, MinQuality, Jaccard)
          .collect()))
        .foreach { case (rows, _) => verify(ctx, rows, WarmDocs) }
      lang
    }
    val docs = spark.read.parquet(s"$root/corpus")
    val planted = (0L until Docs).count(i => isNearDup(i) || isExactDup(i))

    val curateS = mutable.ArrayBuffer.empty[Double]
    val recalls = mutable.ArrayBuffer.empty[Double]
    ctx.timedRounds { () =>
      ctx.call("text.curate")(CorpusPipeline.curate(docs, lang, MinQuality, Jaccard).collect())
        .foreach { case (rows, secs) =>
          curateS += secs
          val kept = verify(ctx, rows, Docs)
          recalls += math.min(1.0, (Docs - kept).toDouble / planted)
        }
      if (ctx.trace) {
        ctx.clearState()
        decompose(ctx, docs, lang)
      }
    }

    val docsPerS = Docs * curateS.length / curateS.sum
    ctx.medianMetric("run_s", curateS.toSeq, "s")
    ctx.metric("batch_p50_s", Stats.median(curateS.toSeq), "s")
    ctx.metric("items_per_s", docsPerS, "items/s")
    ctx.metric("recall", recalls.sum / recalls.length, "ratio")
    ctx.metric("docs_per_s", docsPerS, "docs/s")
  }

  /** Traced runs only: curate's stages called one by one through their
    * public functions, each materialized, so their spans decompose
    * `text.curate`. Records the pair and cluster counts.
    */
  private def decompose(ctx: Ctx, docs: DataFrame, lang: String): Unit =
    for {
      (kept1, _) <- ctx.call("text.filter")(
        CorpusPipeline.filtered(docs, lang, MinQuality).localCheckpoint(true))
      (kept2, _) <- ctx.call("dedup.exact")(
        kept1.join(Dedup.exactKept(kept1), Seq("doc_id")).localCheckpoint(true))
      (pairs, _) <- ctx.call("dedup.pairs")(
        Dedup.jaccardPairsExact(kept2, Jaccard).localCheckpoint(true))
      (clusters, _) <- ctx.call("graph.components")(
        Dedup.nearDupClusters(kept2, pairs).select("cluster_id").distinct().count())
    } {
      ctx.metric("dedup.pairs.rows", pairs.count().toDouble, "count")
      ctx.metric("graph.components.clusters", clusters.toDouble, "count")
    }
}
