package perfbench

import java.util.Random

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}

import graft.operators.{Hnsw, Ivf}

/** `ann_serve_ingest`: a vector-DB operator serving batched ANN queries
  * from a persisted HNSW index and an IVF layout while appending to both.
  *
  * Set-up, into a fresh directory per repetition: generate clustered
  * vectors, train IVF centroids (`Ivf.kmeans`), persist the HNSW index
  * (`Hnsw.save`) and the IVF layout (`Ivf.writePartitionedWith`), then
  * warm up with one small batch. A timed round appends
  * a batch through `Hnsw.insertInto` and `Ivf.insertInto`, then serves
  * small batches (the first holds one just-appended vector) and one bulk
  * batch. HNSW
  * (`Hnsw.searchWithIndex`) and IVF (`Ivf.topKPartitionedBatchFused`)
  * both serve every batch, in alternating order.
  */
object AnnWorkloads {
  import Inputs._

  val Name = "ann_serve_ingest"
  val K = 10
  val Blobs = 64
  val Spread = 1.0
  val Sigma = 0.3
  val Centroids = 64
  val KmeansIters = 1
  val Nprobe = 8
  val HnswParams = Hnsw.Params(diversify = true)

  val BaseN = 5000
  val Pool = 256 // the query pool; a bulk batch is all of it
  val SmallBatch = 32
  val AppendN = 500
  val SetupReps = 2

  private val Engines = Seq("hnsw", "ivf")

  /** Seeded inputs: the query pool, the base vectors, and a stream of
    * append batches with ids following on from the base.
    */
  final class Data(seed: Long) {
    private val rng = new Random(seed)
    private val cs = centres(rng, Blobs, Spread)
    val queries: Array[Array[Float]] = clustered(rng, cs, Pool, 0L, Sigma).data
    val tables = mutable.ArrayBuffer(clustered(rng, cs, BaseN, 0L, Sigma))
    val picks = new Random(seed * 31 + 7)

    def live: Long = tables.map(_.size.toLong).sum
    def vec(id: Long): Array[Float] = {
      val t = tables.find(t => id >= t.firstId && id < t.firstId + t.size).get
      t.data((id - t.firstId).toInt)
    }
    def nextAppend(): Vectors = {
      val v = clustered(rng, cs, AppendN, live, Sigma)
      tables += v
      v
    }
  }

  /** One repetition's indexes: HNSW generation `gen` (each append
    * writes the next) and the IVF layout (appended in place).
    */
  final class Index(val root: String) {
    var gen = 0
    def hnswAt(g: Int): String = s"$root/hnsw/g$g"
    def hnsw: String = hnswAt(gen)
    val ivf = s"$root/ivf"
  }

  private def nodesOf(dir: String) = s"$dir/nodes"
  private def edgesOf(dir: String) = s"$dir/edges"

  /** Served answers of one batch: per query, (id, distance) in rank order. */
  private def answers(rows: Array[Row]): Map[Long, Array[(Long, Double)]] =
    rows.groupBy(_.getLong(0)).map { case (q, rs) =>
      q -> rs.map(r => (r.getLong(1), r.getDouble(2))).sortBy(t => (t._2, t._1))
    }

  /** Check one engine's answers to a batch: every query gets `K`
    * distinct ids that exist, each at the benchmark's own L2 distance
    * (within 1e-6). Returns recall@10 of every query whose exact answer
    * `exact` knows.
    */
  private def grade(ctx: Ctx, engine: String, rows: Array[Row], qids: Array[Long],
                    qvecs: Array[Array[Float]], d: Data,
                    exact: Long => Option[Array[Long]]): Seq[Double] = {
    val got = answers(rows)
    var ok = ctx.check(got.keySet == qids.toSet,
      s"$engine answered ${got.keySet.size} of ${qids.length} queries")
    qids.indices.flatMap { i =>
      val ans = got.getOrElse(qids(i), Array.empty[(Long, Double)])
      val ids = ans.map(_._1)
      val valid = ans.length == K && ids.distinct.length == K &&
        ids.forall(id => id >= 0 && id < d.live) &&
        ans.forall { case (id, dist) => math.abs(l2(d.vec(id), qvecs(i)) - dist) <= 1e-6 }
      if (ok && !valid) ok = ctx.check(ok = false,
        s"$engine query ${qids(i)} answered ${ans.mkString(",")}")
      exact(qids(i)).map(e => ids.count(e.contains).toDouble / K)
    }
  }

  /** One batch through one engine, as a client call. */
  private def search(ctx: Ctx, engine: String, idx: Index,
                     q: DataFrame): Option[(Array[Row], Double)] =
    if (engine == "hnsw") {
      val nodes = ctx.spark.read.parquet(nodesOf(idx.hnsw))
      val edges = ctx.spark.read.parquet(edgesOf(idx.hnsw))
      ctx.call("hnsw.search")(Hnsw.searchWithIndex(nodes, edges, q, K, HnswParams).collect())
    } else
      ctx.call("ivf.search")(
        Ivf.topKPartitionedBatchFused(ctx.spark, idx.ivf, q, K, Nprobe).collect())

  /** Build both indexes over the vector table at `input`; returns the
    * build seconds, or None when a build call failed.
    */
  private def build(ctx: Ctx, input: String, idx: Index): Option[Double] = {
    val emb = ctx.spark.read.parquet(input)
    for {
      (cents, t1) <- ctx.call("ivf.train")(Ivf.kmeans(emb, Centroids, KmeansIters))
      (_, t2) <- ctx.call("hnsw.build")(Hnsw.save(emb, HnswParams, idx.hnsw))
      (_, t3) <- ctx.call("ivf.layout")(Ivf.writePartitionedWith(emb, cents, idx.ivf))
    } yield t1 + t2 + t3
  }

  /** Set up `SetupReps` times, each into a fresh directory: generate,
    * build, warm up (untimed, untraced). Records `setup_s` and
    * `build_s`; returns the last repetition's data and indexes.
    */
  private def setUp(ctx: Ctx)(warmUp: (Data, Index) => Unit): (Data, Index) = {
    val builds = mutable.ArrayBuffer.empty[Double]
    val (d, idx) = ctx.repeatSetUp(SetupReps) { rep =>
      ctx.remove(s"${ctx.work}/$Name")
      val idx = new Index(s"${ctx.work}/$Name/rep$rep")
      val d = new Data(ctx.seed)
      ctx.writeVectors(d.tables.head, s"${idx.root}/input")
      build(ctx, s"${idx.root}/input", idx).foreach(builds += _)
      ctx.untraced(warmUp(d, idx))
      (d, idx)
    }
    ctx.metric("build_s", Stats.median(builds.toSeq), "s")
    if (ctx.trace) {
      ctx.metric("hnsw.build.edges",
        ctx.spark.read.parquet(edgesOf(idx.hnsw)).count().toDouble, "count")
      ctx.metric("ivf.layout.cell_skew", Ivf.cellSkew(ctx.spark, idx.ivf), "ratio")
    }
    (d, idx)
  }

  /** `k` distinct ids drawn from `[0, n)`. */
  private def sample(rng: Random, k: Int, n: Int): Array[Long] = {
    val a = Array.tabulate(n)(identity)
    for (i <- 0 until k) {
      val j = i + rng.nextInt(n - i)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.take(k).map(_.toLong)
  }

  /** Recall and per-engine latency, tail and recall figures. */
  private def engineMetrics(ctx: Ctx, lat: String => Seq[Double],
                            recalls: String => Seq[Double]): Unit = {
    val all = Engines.flatMap(recalls)
    ctx.metric("recall", all.sum / all.size, "ratio")
    for (e <- Engines) {
      ctx.metric(s"${e}_batch_p50_s", Stats.median(lat(e)), "s")
      ctx.notes(s"${e}_batch_tail_s_samples") = lat(e).length.toString
      Stats.tail(lat(e)) match {
        case Some((pct, v)) =>
          ctx.notes(s"${e}_batch_tail_s_percentile") = s"p$pct"
          ctx.metric(s"${e}_batch_tail_s", v, "s")
        case None =>
          ctx.notes(s"${e}_batch_tail_s") = "not reported: no percentile has 10 batches beyond it"
      }
      ctx.metric(s"${e}_recall_at_10", recalls(e).sum / recalls(e).length, "ratio")
    }
  }

  private def indexBytesPerVector(ctx: Ctx, idx: Index, d: Data): Unit =
    ctx.metric("index_bytes_per_vector",
      (ctx.bytesUnder(idx.hnsw) + ctx.bytesUnder(idx.ivf)).toDouble / d.live, "B")

  // ------------------------------------------------------------------

  /** Latency and recall of one engine over the timed phase. */
  private final class Served {
    val small = mutable.ArrayBuffer.empty[Double]
    var bulkS = 0.0
    var seconds = 0.0
    var queries = 0L
    val recalls = mutable.ArrayBuffer.empty[Double]
  }

  /** A timed round after its append: small batches of `SmallBatch`
    * pool queries (the first also carries a just-appended vector) and
    * bulk batches of the whole pool.
    */
  private val RoundPlan = Seq("small", "small", "bulk", "small", "small")

  def run(ctx: Ctx): Unit = {
    val served = Engines.map(_ -> new Served).toMap
    val (d, idx) = setUp(ctx) { (d, idx) =>
      batch(ctx, d, idx, smallIds(d), None, None, small = true)
    }

    val rounds = mutable.ArrayBuffer.empty[Double]
    val inserts = mutable.ArrayBuffer.empty[Double]
    val pairs = mutable.ArrayBuffer.empty[Double]
    var bulkQueries = 0L
    ctx.timedRounds { () =>
      append(ctx, d, idx).foreach { a =>
        inserts += a.insertS
        val secs = RoundPlan.zipWithIndex.map { case (kind, i) =>
          val small = kind == "small"
          val ids = if (small) smallIds(d) else Array.tabulate(Pool)(_.toLong)
          val r = batch(ctx, d, idx, ids, if (i == 0) Some(a) else None, Some(served), small)
          for (t <- r) {
            if (small) pairs += t.sum
            else {
              for ((e, te) <- Engines.zip(t)) served(e).bulkS += te
              bulkQueries += Pool
            }
          }
          r.map(_.sum)
        }
        if (secs.forall(_.isDefined)) rounds += a.insertS + secs.flatten.sum
      }
    }

    val indexed = BaseN + inserts.length * AppendN
    ctx.medianMetric("run_s", rounds.toSeq, "s")
    ctx.medianMetric("batch_p50_s", pairs.toSeq, "s")
    ctx.metric("items_per_s",
      served.values.map(_.queries).sum / served.values.map(_.seconds).sum, "items/s")
    engineMetrics(ctx, e => served(e).small.toSeq, e => served(e).recalls.toSeq)
    for (e <- Engines)
      ctx.metric(s"${e}_queries_per_s", bulkQueries / served(e).bulkS, "queries/s")
    ctx.medianMetric("append_p50_s", inserts.toSeq, "s")
    ctx.metric("vectors_per_s", indexed / (ctx.metrics("build_s")._1 + inserts.sum), "vectors/s")
    indexBytesPerVector(ctx, idx, d)
  }

  private def smallIds(d: Data): Array[Long] = sample(d.picks, SmallBatch, Pool)

  /** One append: the batch, its seconds through both inserts. */
  private final case class Appended(vectors: Vectors, insertS: Double)

  /** Append the next batch to both indexes (HNSW generation `gen` to
    * `gen + 1`) and check both then hold every vector so far.
    */
  private def append(ctx: Ctx, d: Data, idx: Index): Option[Appended] = {
    val spark = ctx.spark
    val add = d.nextAppend()
    val addPath = s"${idx.root}/append"
    ctx.writeVectors(add, addPath)
    val rows = spark.read.parquet(addPath)
    val (from, to) = (idx.hnsw, idx.hnswAt(idx.gen + 1))
    val hnswIns = ctx.call("hnsw.insert") {
      val (nodes, edges) = Hnsw.insertInto(spark.read.parquet(nodesOf(from)),
        spark.read.parquet(edgesOf(from)), rows, HnswParams)
      nodes.write.parquet(nodesOf(to))
      edges.write.partitionBy("part").parquet(edgesOf(to))
    }
    val ivfIns = ctx.call("ivf.insert")(Ivf.insertInto(spark, idx.ivf, rows))
    for ((_, h) <- hnswIns; (_, i) <- ivfIns) yield {
      idx.gen += 1
      ctx.remove(from)
      ctx.remove(addPath)
      val hnswCount = spark.read.parquet(nodesOf(idx.hnsw)).count()
      val ivfCount = Ivf.readLayout(spark, idx.ivf).count()
      ctx.check(hnswCount == d.live && ivfCount == d.live,
        s"after append ${idx.gen}: HNSW holds $hnswCount, IVF $ivfCount, expected ${d.live}")
      Appended(add, h + i)
    }
  }

  /** Serve pool queries `ids` (plus, after an append, one just-appended
    * vector, which IVF must return at distance 0) through both engines,
    * checking every answer. Returns each engine's seconds in `Engines`
    * order, or None when a call threw; records recall (and latency of
    * `small` batches) in `served` when given.
    */
  private def batch(ctx: Ctx, d: Data, idx: Index, ids: Array[Long], fresh: Option[Appended],
                    served: Option[Map[String, Served]], small: Boolean): Option[Seq[Double]] = {
    val pick = fresh.map(a => d.picks.nextInt(a.vectors.size))
    val freshId = for (a <- fresh; i <- pick) yield a.vectors.id(i)
    val freshQuery = freshId.map(-1L - _) // query ids of pool queries are >= 0
    val qids = ids ++ freshQuery
    val qvecs = ids.map(i => d.queries(i.toInt)) ++
      (for (a <- fresh; i <- pick) yield a.vectors.data(i))
    val exact = exactTopKAll(d.tables.toSeq, qvecs.take(ids.length), K)
    val rank = ids.zipWithIndex.toMap
    val q = ctx.queryFrame(qids, qvecs)
    val order = if (idx.gen % 2 == 0) Engines else Engines.reverse
    val secs = mutable.Map.empty[String, Double]
    for (e <- order; (rows, t) <- search(ctx, e, idx, q)) {
      secs(e) = t
      val recalls = grade(ctx, e, rows, qids, qvecs, d, qid => rank.get(qid).map(exact))
      if (e == "ivf") for (fid <- freshId; fq <- freshQuery) {
        val top = answers(rows).get(fq).flatMap(_.headOption)
        ctx.check(top.contains((fid, 0.0)), s"IVF probe for appended vector $fid returned $top")
      }
      for (s <- served) {
        s(e).recalls ++= recalls
        s(e).seconds += t
        s(e).queries += ids.length
        if (small) s(e).small += t
      }
    }
    if (secs.size == Engines.length) Some(Engines.map(secs)) else None
  }
}
