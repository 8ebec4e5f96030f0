package perfbench

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, the seeded run parameters and
  * the per-run directory every world, store and warehouse is built under. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
    tracer: Tracer, dir: String, cores: Int) {
  def trace: Boolean = tracer.enabled
}

/** What a workload hands back: its inputs, set-up timings, the timed loop,
  * the statement classes whose latency `p50_s` and `tail_s` report, the
  * post-run checks (each counts as one attempted statement) and its
  * workload-specific and per-layer metrics. */
final case class Outcome(
    inputs: Map[String, Any],
    latencyClasses: Set[String],
    setupTimes: Seq[Double],
    setupTraced: Seq[Boolean],
    loop: Loop,
    elapsed: Double,
    spaceAmp: Double,
    checks: Seq[(String, Option[String])],
    named: Map[String, Metric],
    layer: Map[String, Double],
    phases: Map[String, Double])

trait Workload {
  def run(ctx: Ctx): Outcome
}

/** Entry point: `perfbench.Main --workload <w> --seed <n> --seconds <s>
  * --trace <0|1> --dir <run dir> --cores <k>`. Prints one record line,
  * prefixed `PERFBENCH_RECORD `, holding every metric by name with its
  * unit, sample count and statistic, plus the compact `result` object. */
object Main {
  val Workloads: Map[String, Workload] = Map(
    "select_scan" -> SelectScan,
    "dedup_ingest" -> DedupIngest)

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "ops_per_s" -> "1/s", "p50_s" -> "s", "tail_s" -> "s",
    "space_amp" -> "ratio")

  /** Every per-layer metric and its unit; a layer a workload does not
    * exercise reports 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "world.select_s" -> "s", "world.df_s" -> "s", "world.insert_s" -> "s",
    "world.create_s" -> "s", "world.rows_returned" -> "count",
    "sources.connector_load_s" -> "s", "sources.catalog_sql_s" -> "s",
    "sources.live_files" -> "count", "sources.disk_files" -> "count",
    "sources.retired_files" -> "count", "sources.dv_files" -> "count",
    "sources.manifests" -> "count", "sources.bytes_on_disk" -> "bytes",
    "sources.max_files_per_cell" -> "count",
    "plans.analysis_s" -> "s", "plans.optimization_s" -> "s",
    "plans.planning_s" -> "s",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.job_wall_s" -> "s", "exec.driver_gap_s" -> "s",
    "exec.driver_gap_share" -> "ratio", "exec.task_cpu_s" -> "s",
    "exec.gc_s" -> "s", "exec.input_records" -> "count",
    "exec.input_bytes" -> "bytes", "exec.shuffle_write_bytes" -> "bytes",
    "exec.output_bytes" -> "bytes", "scan.rows_read_per_row_returned" -> "ratio",
    "ops.exact_dedup_s" -> "s", "ops.near_dedup_s" -> "s",
    "ops.sink_insert_s" -> "s", "ops.window_s" -> "s",
    "ops.fresh_ratio" -> "ratio", "ops.pins_retained" -> "count")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val wl = Workloads.getOrElse(name,
      throw new IllegalArgumentException(s"unknown workload $name"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val dir = opts("dir")
    val cores = opts("cores").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/spark-warehouse")
      .config("spark.sql.catalog.graftcat", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.graftcat.warehouse", s"$dir/wh")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val tracer = new Tracer(trace, spark)
      val ctx = Ctx(spark, seed, seconds, tracer, dir, cores)
      val out = wl.run(ctx)
      println("PERFBENCH_RECORD " + Json(record(name, ctx, out)))
    } finally spark.stop()
  }

  private def record(name: String, ctx: Ctx, o: Outcome): Map[String, Any] = {
    val loop = o.loop
    val ok = loop.ok
    val checkFailures = o.checks.collect { case (what, Some(why)) =>
      Map("statement" -> "post-run", "class" -> "check", "kind" -> what, "reason" -> why) }
    val attempted = loop.attempted + o.checks.size
    val failed = loop.failed + checkFailures.size
    val untracedSetup = o.setupTimes.zip(o.setupTraced).collect { case (t, false) => t }
    val lat = ok.filter(s => o.latencyClasses(s.cls)).map(_.seconds)
    val (tail, tailLabel) = Stats.tail(lat)
    val e2e = Map(
      "setup_s" -> Metric(Stats.median(untracedSetup), "s", untracedSetup.size, "median"),
      "ops_per_s" -> Metric(ok.size / o.elapsed, "1/s", ok.size, "rate"),
      "p50_s" -> Metric(Stats.median(lat), "s", lat.size, "p50"),
      "tail_s" -> Metric(tail, "s", lat.size, tailLabel),
      "space_amp" -> Metric(o.spaceAmp, "ratio", 1, "ratio"))
    val named = o.named ++ Map(
      "error_rate" -> Metric(failed.toDouble / attempted, "ratio", attempted, "ratio"))
    val layer: Map[String, Double] =
      if (!ctx.trace) Map.empty
      else PerLayer.map { case (n, _) => n -> 0.0 }.toMap ++
        execLayer(ctx.tracer, loop) ++ o.layer
    val overhead: Map[String, Any] =
      if (!ctx.trace) Map.empty else traceOverhead(o)
    val metrics = scala.collection.immutable.ListMap(
      (if (ctx.trace) PerLayer.map { case (n, u) => n -> Map("value" -> layer(n), "unit" -> u) }
       else EndToEnd.map { case (n, u) => n -> Map("value" -> e2e(n).value, "unit" -> u) }): _*)
    scala.collection.immutable.ListMap(
      "workload" -> name, "seed" -> ctx.seed, "trace" -> ctx.trace,
      "local_k" -> ctx.cores, "run_seconds" -> ctx.seconds,
      "timed_seconds" -> o.elapsed, "inputs" -> o.inputs,
      "setup_reps_s" -> o.setupTimes, "phase_s" -> o.phases,
      "end_to_end" -> e2e.map { case (k, m) => k -> m.json },
      "named" -> named.map { case (k, m) => k -> m.json },
      "per_layer" -> layer, "trace_overhead" -> overhead,
      "statements_by_kind" -> loop.samples.groupBy(_.kind).map { case (k, xs) =>
        k -> Map("n" -> xs.size, "ok" -> xs.count(_.ok),
          "median_s" -> Stats.median(xs.map(_.seconds).toSeq)) },
      "timeline" -> loop.samples.map(x => Seq(x.kind, x.seconds, x.ok)),
      "failures" -> (loop.failures.toSeq ++ checkFailures),
      "result" -> scala.collection.immutable.ListMap(
        "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
        "metrics" -> metrics))
  }

  /** Runtime and planner figures of the traced statements: means per
    * statement, plus the driver-gap share and the scan read ratio. */
  private def execLayer(tracer: Tracer, loop: Loop): Map[String, Double] = {
    val ex = tracer.attribute(loop.samples.toSeq)
    if (ex.isEmpty) return Map.empty
    def mean(f: tracer.StmtExec => Double) = ex.map(f).sum / ex.size
    val readIdx = loop.samples.filter(s => s.traced && s.cls == "read").map(_.idx).toSet
    val tracedIdx = loop.samples.filter(_.traced).map(_.idx)
    val readRecords = tracedIdx.zip(ex).collect { case (i, e) if readIdx(i) => e.inRecords }.sum
    val returned = tracer.counter("rows_returned")
    Map(
      "plans.analysis_s" -> mean(_.analysis),
      "plans.optimization_s" -> mean(_.optimization),
      "plans.planning_s" -> mean(_.planning),
      "exec.jobs" -> mean(_.jobs), "exec.stages" -> mean(_.stages),
      "exec.tasks" -> mean(_.tasks), "exec.job_wall_s" -> mean(_.jobWall),
      "exec.driver_gap_s" -> mean(_.gap),
      "exec.driver_gap_share" -> ex.map(_.gap).sum / math.max(1e-9, ex.map(_.wall).sum),
      "exec.task_cpu_s" -> mean(_.cpu), "exec.gc_s" -> mean(_.gc),
      "exec.input_records" -> mean(_.inRecords.toDouble),
      "exec.input_bytes" -> mean(_.inBytes.toDouble),
      "exec.shuffle_write_bytes" -> mean(_.shuffleWrite.toDouble),
      "exec.output_bytes" -> mean(_.outBytes.toDouble),
      "scan.rows_read_per_row_returned" ->
        (if (returned > 0) readRecords / returned else 0.0))
  }

  /** Traced minus untraced value of each end-to-end metric, from the
    * alternating traced and untraced statements (and set-up repetitions)
    * of the traced run. */
  private def traceOverhead(o: Outcome): Map[String, Any] = {
    val (tr, un) = o.loop.ok.filter(s => o.latencyClasses(s.cls)).partition(_.traced)
    def side(xs: Seq[Sample]) =
      if (xs.isEmpty) None
      else Some((xs.size / xs.map(_.seconds).sum, Stats.median(xs.map(_.seconds)),
        Stats.tail(xs.map(_.seconds))._1))
    val setupT = o.setupTimes.zip(o.setupTraced)
    def avg(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else xs.sum / xs.size
    // repetition 0 runs on a cold JVM: the untraced side leaves it out
    val setup = avg(setupT.collect { case (t, true) => t }) -
      avg(setupT.drop(1).collect { case (t, false) => t })
    (side(tr), side(un)) match {
      case (Some(a), Some(b)) => Map(
        "setup_s" -> setup, "ops_per_s" -> (a._1 - b._1), "p50_s" -> (a._2 - b._2),
        "tail_s" -> (a._3 - b._3), "space_amp" -> 0.0,
        "basis" -> s"${tr.size} traced vs ${un.size} untraced statements; ops_per_s as statements per statement-second")
      case _ => Map("setup_s" -> setup)
    }
  }
}
