package graft.operators

import org.apache.spark.ListenerBusSync
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.VectorFunctions._

/** The fused batch kernels form their probes eagerly in one narrow
  * pass ([[Ivf.fusedProbes]]): the cells must be exactly the
  * declarative probe relation's, the whole call may shuffle only for
  * the heap merge, and a query of the wrong dimension fails fast.
  */
class FusedProbeSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def randomVecs(n: Int, d: Int, seed: Long): Seq[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)(Array.fill(d)(rnd.nextGaussian()))
  }

  private lazy val emb = (0L until 200L).map { i =>
    val rnd = new scala.util.Random(i)
    (i, Array.fill(16)(rnd.nextFloat() * 100f))
  }.toDF("vec_id", "embedding")

  private lazy val qs = emb.filter(col("vec_id") < 40)
    .select(col("vec_id").as("query_id"), perturbQuery(col("embedding")).as("query_vec"))

  private def pairsOf(byCell: Map[Long, Array[(Long, Array[Double])]]): Set[(Long, Long)] =
    byCell.iterator.flatMap { case (c, q) => q.iterator.map(t => (t._1, c)) }.toSet

  private def declarativePairs(cents: DataFrame, queries: DataFrame, nprobe: Int) =
    Ivf.batchProbePairsWith(cents, queries, nprobe)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("eager probes == the declarative probe pairs, nprobe 1, 4 and C, ties to the smaller id") {
    val c = 12
    val vecs = randomVecs(c, 8, 3)
    val plain = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("centroid_id", "centroid_vec")
    // centroid 9 duplicates centroid 3: every query ties them exactly
    val dup = vecs.zipWithIndex.map { case (v, i) => (i.toLong, if (i == 9) vecs(3) else v) }
      .toDF("centroid_id", "centroid_vec")
    // 30 random queries plus one sitting ON the duplicated centroid
    val queries = (randomVecs(30, 8, 4) :+ vecs(3)).zipWithIndex
      .map { case (v, i) => (i.toLong + 100, v) }.toDF("query_id", "query_vec")
    for ((name, cents) <- Seq("plain" -> plain, "duplicate" -> dup); nprobe <- Seq(1, 4, c)) {
      val eager = pairsOf(Ivf.fusedProbes(spark, cents, queries, nprobe))
      assert(eager === declarativePairs(cents, queries, nprobe), s"$name nprobe=$nprobe")
      assert(eager.size === 31 * nprobe, s"$name nprobe=$nprobe")
    }
    // the tie is really exercised: the query on centroid 3 probes 3, not 9
    val onDup = pairsOf(Ivf.fusedProbes(spark, dup, queries, 1)).filter(_._1 == 130L)
    assert(onDup === Set((130L, 3L)))
  }

  test("eager probes over a built layout == the declarative probe pairs") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_probe").toString
    Ivf.ensurePartitioned(emb, 16, s"$dir/idx")
    val (_, cents) = Ivf.readLayoutWithCentroids(spark, s"$dir/idx")
    for (nprobe <- Seq(1, 4, 16))
      assert(pairsOf(Ivf.fusedProbes(spark, cents, qs, nprobe)) ===
        declarativePairs(cents, qs, nprobe), s"nprobe=$nprobe")
  }

  test("one fused batch call shuffles once: only the heap merge writes shuffle output") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_shape").toString
    Ivf.ensurePartitioned(emb, 16, s"$dir/idx")
    val sc = spark.sparkContext
    val writers = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val m = e.stageInfo.taskMetrics
        if (m != null && m.shuffleWriteMetrics.recordsWritten > 0) writers.add(e.stageInfo.name)
      }
    }
    ListenerBusSync.drain(sc)
    sc.addSparkListener(listener)
    try {
      val rows = Ivf.topKPartitionedBatchFused(spark, s"$dir/idx", qs, 10, 4).collect()
      assert(rows.length === 40 * 10)
      ListenerBusSync.drain(sc)
    } finally sc.removeSparkListener(listener)
    assert(writers.size === 1, s"shuffle-writing stages: $writers")
  }

  test("a query whose dimension differs from the layout's fails fast, on every fused kernel") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_dims").toString
    Ivf.ensurePartitioned(emb, 8, s"$dir/idx")
    Ivf.ensurePartitionedCosine(emb, 8, s"$dir/cos")
    Ivf.ensurePartitionedMips(emb, 8, s"$dir/mips")
    type Kernel = (String, DataFrame) => DataFrame
    // MIPS routes in the augmented space: one extra coordinate each side
    val kernels: Seq[(String, Kernel, Int)] = Seq(
      ("l2", (d, q) => Ivf.topKPartitionedBatchFused(spark, d, q, 5, 2), 0),
      ("cosine", (d, q) => Ivf.cosineTopKPartitionedBatchFused(spark, d, q, 5, 2), 0),
      ("mips", (d, q) => Ivf.mipsTopKPartitionedBatchFused(spark, d, q, 5, 2), 1))
    val layouts = Map("l2" -> "idx", "cosine" -> "cos", "mips" -> "mips")
    for ((name, run, aug) <- kernels; qDim <- Seq(15, 17)) {
      // one well-formed query beside the malformed one
      val queries = Seq((1L, Array.fill(16)(1.0)), (7L, Array.fill(qDim)(1.0)))
        .toDF("query_id", "query_vec")
      val e = intercept[IllegalArgumentException](run(s"$dir/${layouts(name)}", queries))
      assert(e.getMessage.contains("query 7") &&
        e.getMessage.contains(s"${qDim + aug} dims") &&
        e.getMessage.contains(s"centroids have ${16 + aug}"), s"$name qDim=$qDim: ${e.getMessage}")
    }
  }
}
