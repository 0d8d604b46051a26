package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** What one benchmark run shares across its phases: the session, the
  * tracer, the operation counters behind `error_rate`, and the
  * workload's reported metrics.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
                val trace: Boolean, val work: String, val nproc: Int) {

  val tracer = new Tracer(spark.sparkContext, trace)

  /** Operations attempted and failed: a failed operation threw or
    * failed an output check. Checks of one operation count it once.
    */
  var attempted = 0
  private val failedOps = mutable.Set.empty[Int]
  def failed: Int = failedOps.size
  private val errors = mutable.ArrayBuffer.empty[String]

  /** Metrics as `name -> (value, unit)`, in report order. */
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Extra facts for the artifact (percentile names, sample counts, …). */
  val notes = mutable.LinkedHashMap.empty[String, String]

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** Record the median of `xs` as metric `name` and the samples as a note. */
  def medianMetric(name: String, xs: Seq[Double], unit: String): Unit = {
    metric(name, Stats.median(xs), unit)
    notes(s"${name}_samples") = xs.map(x => f"$x%.4f").mkString("[", ",", "]")
  }

  /** One client call into the engine, as span `name`: returns the result
    * and its wall seconds, or None when it threw.
    */
  def call[T](name: String)(body: => T): Option[(T, Double)] = {
    attempted += 1
    try Some(tracer.span(name)(body))
    catch {
      case NonFatal(e) =>
        fail(s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  /** Mark the latest operation failed when `ok` is false. */
  def check(ok: Boolean, what: => String): Boolean = {
    if (!ok) fail(what)
    ok
  }

  private def fail(what: String): Unit = {
    failedOps += attempted
    if (errors.length < 20) errors += what
    System.err.println(s"[perfbench] FAILED: $what")
  }

  def errorLog: Seq[String] = errors.toSeq

  /** Cached-block bytes each repetition left behind (persisted RDDs,
    * local checkpoints), in order: growth shows leaked blocks.
    */
  val cachedLeft = mutable.ArrayBuffer.empty[Long]

  /** Record what the repetition left cached, then drop it all so the
    * next repetition starts from an empty block store.
    */
  def clearState(): Unit = {
    val sc = spark.sparkContext
    cachedLeft += sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Run the set-up `reps` times, timing each repetition from input
    * generation to the end of its warm-up, and record their median as
    * `setup_s`. Returns the last repetition's state.
    */
  def repeatSetUp[T](reps: Int)(body: Int => T): T = {
    val secs = mutable.ArrayBuffer.empty[Double]
    var last: Option[T] = None
    for (rep <- 0 until reps) {
      val t0 = System.nanoTime()
      last = Some(body(rep))
      secs += (System.nanoTime() - t0) / 1e9
      clearState()
    }
    medianMetric("setup_s", secs.toSeq, "s")
    last.get
  }

  /** Run `body` with span recording off (warm-up calls). */
  def untraced[T](body: => T): T = {
    tracer.recording(false)
    try body finally tracer.recording(true)
  }

  /** The timed phase: run `round` until `seconds` have passed, at
    * least once, clearing cached state after each round.
    */
  def timedRounds(round: () => Unit): Unit = {
    val t0 = System.nanoTime()
    val deadline = t0 + seconds * 1000000000L
    var n = 0
    while (n == 0 || System.nanoTime() < deadline) {
      round()
      clearState()
      n += 1
    }
    metric("timed_phase_s", (System.nanoTime() - t0) / 1e9, "s")
    notes("rounds") = n.toString
  }

  /** Recursively delete a work directory. */
  def remove(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
  }

  /** Bytes of every file under `dir`. */
  def bytesUnder(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      var total = 0L
      java.nio.file.Files.walk(p).forEach { f =>
        if (java.nio.file.Files.isRegularFile(f)) total += java.nio.file.Files.size(f)
      }
      total
    }
  }

  // -- frames the engine is given --------------------------------------

  private val embSchema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false)))

  private val querySchema = StructType(Seq(
    StructField("query_id", LongType, nullable = false),
    StructField("query_vec", ArrayType(DoubleType, containsNull = false), nullable = false)))

  /** Write a vector table as Parquet `(vec_id, embedding)`. */
  def writeVectors(v: Inputs.Vectors, path: String): Unit = {
    val rows = new java.util.ArrayList[Row](v.size)
    var i = 0
    while (i < v.size) { rows.add(Row(v.id(i), v.data(i).toSeq)); i += 1 }
    spark.createDataFrame(rows, embSchema).write.mode("overwrite").parquet(path)
  }

  /** A client's query batch `(query_id, query_vec)`. */
  def queryFrame(ids: Array[Long], vecs: Array[Array[Float]]): DataFrame = {
    val rows = new java.util.ArrayList[Row](ids.length)
    ids.indices.foreach(i => rows.add(Row(ids(i), vecs(i).map(_.toDouble).toSeq)))
    spark.createDataFrame(rows, querySchema)
  }
}

/** Sample statistics used by every workload. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it:
    * `(percentile, value)`, or None with fewer than eleven samples.
    */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    if (xs.length < 11) None
    else {
      val s = xs.sorted
      val n = s.length
      Some((100 * (n - 10) / n, s(n - 11)))
    }

  /** Peak resident set of this JVM (`VmHWM`), in MB. */
  def rssPeakMb(): Double = {
    val status = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/self/status")), "UTF-8")
    val line = status.linesIterator.find(_.startsWith("VmHWM:"))
      .getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
