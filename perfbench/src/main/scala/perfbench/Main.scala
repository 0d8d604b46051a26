package perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one JVM.
  *
  * {{{
  * Main --workload ann_serve_ingest|text_curate --seed N --seconds S
  *      --trace 0|1 --work DIR --out DIR
  * }}}
  *
  * Prints every metric by name and unit, writes the full artifact to
  * `--out`, and ends with one `RESULT {json}` line: the end-to-end
  * metrics untraced, the per-layer metrics traced.
  */
object Main {

  val Workloads = Seq(AnnWorkloads.Name, "text_curate")

  /** End-to-end metrics every workload reports (untraced runs). */
  val EndToEnd = Seq("setup_s", "run_s", "batch_p50_s", "items_per_s", "recall")

  /** Spans, one per public call into a layer. */
  val Spans = Seq("hnsw.build", "hnsw.insert", "hnsw.search", "ivf.train", "ivf.layout",
    "ivf.insert", "ivf.search", "text.curate", "text.filter", "dedup.exact", "dedup.pairs",
    "graph.components")
  private val CurateParts = Seq("text.filter", "dedup.exact", "dedup.pairs", "graph.components")

  /** Per-span metrics of the traced run's result line. */
  val SpanFields = Seq("calls", "jobs", "tasks", "core_util", "wall_share", "gap_share",
    "shuffle_write_bytes", "spill_bytes")

  /** Counts recorded beside the spans (traced runs). */
  val Counts = Seq("hnsw.build.edges", "ivf.layout.cell_skew", "dedup.pairs.rows",
    "graph.components.clusters")

  val PerLayer: Seq[String] = Spans.flatMap(s => SpanFields.map(f => s"$s.$f")) ++ Counts ++
    Seq("text.decomposition_gap_share", "traced_run_s", "cached_bytes_left")

  private def session(nproc: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // batch ANN serving keeps one bounded heap per query per task;
      // the engine's harness mains set the same threshold
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"$work/checkpoints")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = args.getOrElse(k, sys.error(s"missing --$k"))
    val workload = arg("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toInt
    val trace = arg("trace") == "1"
    val work = arg("work")
    val out = arg("out")
    val nproc = Runtime.getRuntime.availableProcessors()

    val spark = session(nproc, work)
    val ctx = new Ctx(spark, seed, seconds, trace, work, nproc)
    val t0 = System.nanoTime()
    if (workload == "text_curate") TextWorkload.run(ctx) else AnnWorkloads.run(ctx)
    val wall = (System.nanoTime() - t0) / 1e9
    ctx.metric("rss_peak_mb", Stats.rssPeakMb(), "MB")
    ctx.metric("cached_bytes_left", ctx.cachedLeft.max.toDouble, "B")
    ctx.notes("cached_bytes_left_per_repetition") = ctx.cachedLeft.mkString("[", ",", "]")
    ctx.metric("error_rate", ctx.failed.toDouble / ctx.attempted, "ratio")
    val spans = ctx.tracer.summary(nproc)
    spark.stop()

    val result: Seq[(String, Double, String)] =
      if (!trace) EndToEnd.map { m =>
        val (v, u) = ctx.metrics.getOrElse(m, sys.error(s"$workload did not measure $m"))
        (m, v, u)
      }
      else perLayer(ctx, spans)

    // human-readable report: every metric of the workload, then spans
    println(s"workload=$workload seed=$seed seconds=$seconds trace=${if (trace) 1 else 0} " +
      s"nproc=$nproc heap_mb=${Runtime.getRuntime.maxMemory / 1048576} wall_s=$wall")
    ctx.metrics.foreach { case (k, (v, u)) => println(f"metric $k%-32s $v%.6g $u") }
    ctx.notes.foreach { case (k, v) => println(s"note $k = $v") }
    spans.toSeq.sortBy(_._1).foreach { case (n, s) =>
      println(f"span $n%-18s calls=${s.calls}%d wall_s=${s.wallS}%.4f jobs=${s.jobs}%.1f " +
        f"tasks=${s.tasks}%.1f task_s=${s.taskS}%.4f core_util=${s.coreUtil}%.3f " +
        f"shuffle_write_bytes=${s.shuffleWriteBytes}%.0f spill_bytes=${s.spillBytes}%.0f " +
        f"driver_gap_s=${s.driverGapS}%.4f")
    }

    val line = Json.obj(Seq(
      "correct" -> Json.bool(ctx.failed == 0),
      "attempted" -> ctx.attempted.toString,
      "failed" -> ctx.failed.toString,
      "metrics" -> Json.obj(result.map { case (m, v, u) =>
        m -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
    val artifact = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "seconds" -> seconds.toString,
      "trace" -> Json.bool(trace),
      "nproc" -> nproc.toString,
      "master" -> Json.str(s"local[$nproc]"),
      "heap_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "wall_s" -> Json.num(wall),
      "metrics" -> Json.obj(ctx.metrics.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }),
      "notes" -> Json.obj(ctx.notes.toSeq.map { case (k, v) => k -> Json.str(v) }),
      "spans" -> Json.obj(spans.toSeq.sortBy(_._1).map { case (n, s) =>
        n -> Json.obj(Seq("calls" -> s.calls.toString, "wall_s" -> Json.num(s.wallS),
          "jobs" -> Json.num(s.jobs), "tasks" -> Json.num(s.tasks), "task_s" -> Json.num(s.taskS),
          "core_util" -> Json.num(s.coreUtil),
          "shuffle_write_bytes" -> Json.num(s.shuffleWriteBytes),
          "spill_bytes" -> Json.num(s.spillBytes), "driver_gap_s" -> Json.num(s.driverGapS)))
      }),
      "errors" -> ctx.errorLog.map(Json.str).mkString("[", ",", "]"),
      "result" -> line))
    val dir = java.nio.file.Paths.get(out)
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.writeString(
      dir.resolve(s"$workload-seed$seed-trace${if (trace) 1 else 0}.json"), artifact + "\n")
    println(s"RESULT $line")
  }

  /** The traced run's result: every span's fields (zero when the
    * workload makes no such call), the counts, the gap between curate
    * and the sum of its decomposed stages, and the traced `run_s`.
    */
  private def perLayer(ctx: Ctx, spans: Map[String, Tracer.SpanStats])
      : Seq[(String, Double, String)] = {
    val totalWall = spans.values.map(_.totalWallS).sum
    val fromSpans = for (name <- Spans; field <- SpanFields) yield {
      val s = spans.get(name)
      val (v, unit) = field match {
        case "calls" => (s.fold(0.0)(_.calls.toDouble), "count")
        case "jobs" => (s.fold(0.0)(_.jobs), "count")
        case "tasks" => (s.fold(0.0)(_.tasks), "count")
        case "core_util" => (s.fold(0.0)(_.coreUtil), "ratio")
        case "wall_share" => (s.fold(0.0)(_.totalWallS / totalWall), "ratio")
        case "gap_share" => (s.fold(0.0)(x => if (x.wallS > 0) x.driverGapS / x.wallS else 0.0), "ratio")
        case "shuffle_write_bytes" => (s.fold(0.0)(_.shuffleWriteBytes), "B")
        case "spill_bytes" => (s.fold(0.0)(_.spillBytes), "B")
      }
      (s"$name.$field", v, unit)
    }
    val counts = Counts.map(c => (c, ctx.metrics.get(c).fold(0.0)(_._1),
      if (c == "ivf.layout.cell_skew") "ratio" else "count"))
    val gap = spans.get("text.curate").fold(0.0) { c =>
      (c.wallS - CurateParts.flatMap(spans.get).map(_.wallS).sum) / c.wallS
    }
    ctx.metric("text.decomposition_gap_share", gap, "ratio")
    fromSpans ++ counts ++ Seq(
      ("text.decomposition_gap_share", gap, "ratio"),
      ("traced_run_s", ctx.metrics("run_s")._1, "s"),
      ("cached_bytes_left", ctx.metrics("cached_bytes_left")._1, "B"))
  }
}

/** Just enough JSON for the result line and the artifact. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) sys.error(s"non-finite metric value $d") else d.toString
  def bool(b: Boolean): String = b.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
