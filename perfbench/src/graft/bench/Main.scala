package graft.bench

import org.apache.spark.sql.SparkSession

/** What one workload hands back from its timed part. Latencies hold only
  * operations that succeeded: a failed entry, a timed-out tick or a lost
  * line is counted in `failed` and never contributes a time.
  * `setupInRunS` is set-up work the program can only do inside the timed
  * call (the soak's base derivation); it is moved into `setup_s`. */
final case class Outcome(
    attempted: Long,
    failed: Long,
    correct: Boolean,
    wallS: Double,
    latenciesMs: Seq[Double],
    opsPerS: Double,
    layers: Map[String, Double] = Map.empty,
    setupInRunS: Double = 0.0,
    detail: Map[String, Any] = Map.empty)

/** Everything a workload needs besides its session. */
final case class Ctx(
    seed: Long,
    seconds: Int,
    cores: Int,
    work: String,
    data: String,
    warmData: Option[String],
    pins: Pins,
    expect: Option[String],
    selftest: Boolean,
    traced: Boolean)

trait Workload {
  /** One set-up repetition on a fresh session: warm-up plus any cached
    * state the timed part starts from. */
  def prepare(spark: SparkSession, ctx: Ctx): Unit

  /** Untimed warm-up between set-up and the timed part. */
  def warmUp(spark: SparkSession, ctx: Ctx): Unit = ()

  /** The timed part. `tracer` is set only on traced runs. */
  def run(spark: SparkSession, ctx: Ctx, tracer: Option[Tracer]): Outcome
}

/** Benchmark process: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --data <dir> [--warm-data <dir>] --cores <n>
  * --pins <file> [--expect <file>] --out <file> [--selftest]`. Writes one JSON document
  * to `--out`: the end-to-end metrics, the per-layer metrics when traced,
  * the host header and the workload's detail. */
object Main {
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val opts = argv.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val selftest = argv.contains("--selftest")
    val workload: Workload = opts("workload") match {
      case "daemon_soak" => SoakWorkload
      case "collector_queries" => RegistryWorkload
      case "log_stream" => StreamWorkload
      case other => sys.error(s"unknown workload $other")
    }
    val cores = opts("cores").toInt
    val traced = opts("trace") == "1"
    val ctx = Ctx(opts("seed").toLong, opts("seconds").toInt, cores,
      opts("work"), opts("data"), opts.get("warm-data"), Pins.load(opts("pins")),
      opts.get("expect"),
      selftest, traced)

    val loadStart = Jvm.loadAverage
    val setupS = (1 to SetupReps).map { i =>
      val t0 = System.nanoTime()
      val spark = Session.build(ctx)
      workload.prepare(spark, ctx)
      val dt = (System.nanoTime() - t0) / 1e9
      if (i < SetupReps) Session.stop(spark)
      dt
    }
    val spark = SparkSession.active
    workload.warmUp(spark, ctx)
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val cpu0 = Jvm.processCpuS
    val out = workload.run(spark, ctx, tracer)
    val cpuS = Jvm.processCpuS - cpu0
    val heapMb = Jvm.heapAfterGcMb
    tracer.foreach(_.detach())
    val host = Host.header(spark, ctx, loadStart)
    Session.stop(spark)

    val endToEnd = Map(
      "setup_s" -> (Stats.median(setupS) + out.setupInRunS),
      "wall_s" -> out.wallS,
      "process_cpu_s" -> cpuS,
      "heap_after_gc_mb" -> heapMb,
      "op_geomean_ms" -> Stats.geomean(out.latenciesMs),
      "ops_per_s" -> out.opsPerS)
    val doc = scala.collection.immutable.ListMap(
      "workload" -> opts("workload"), "seed" -> ctx.seed,
      "seconds" -> ctx.seconds, "traced" -> traced,
      "correct" -> out.correct, "attempted" -> out.attempted,
      "failed" -> out.failed,
      "failed_ops_share" -> out.failed.toDouble / math.max(1L, out.attempted),
      "end_to_end" -> endToEnd,
      "op_latency_ms" -> Map("n" -> out.latenciesMs.size,
        "geomean" -> Stats.geomean(out.latenciesMs),
        "p50" -> Stats.quantile(out.latenciesMs, 0.5),
        "p90" -> Stats.quantile(out.latenciesMs, 0.9),
        "p99" -> Stats.quantile(out.latenciesMs, 0.99)),
      "setup_reps_s" -> setupS,
      "per_layer" -> (if (traced) out.layers else Map.empty),
      "host" -> host,
      "detail" -> out.detail)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opts("out")),
      Json.render(doc) + "\n")
    // non-daemon threads left by in-process servers must not keep the
    // JVM alive once the result is written
    System.exit(0)
  }
}

/** The one session shape every workload runs on. */
object Session {
  def build(ctx: Ctx): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${ctx.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", ctx.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${ctx.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${ctx.work}/warehouse")
    if (ctx.traced)
      b.config("spark.sql.queryExecutionListeners", classOf[QueryPhases].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

/** Host-state header written beside every number. */
object Host {
  def header(spark: SparkSession, ctx: Ctx, loadStart: Double): Map[String, Any] =
    scala.collection.immutable.ListMap(
      "cores" -> Runtime.getRuntime.availableProcessors,
      "max_memory_mb" -> Runtime.getRuntime.maxMemory / (1L << 20),
      "load_average_start" -> loadStart,
      "load_average_end" -> Jvm.loadAverage,
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "local_dir" -> spark.sparkContext.getConf.get("spark.local.dir", ""),
      "jdk" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> spark.version,
      "git_commit" -> sys.env.getOrElse("PERFBENCH_GIT_COMMIT", "unknown"),
      "source_digest" -> sys.env.getOrElse("PERFBENCH_SOURCE_DIGEST", "unknown"))
}
