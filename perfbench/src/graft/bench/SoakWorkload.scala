package graft.bench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.sinks.{ActivitySnapshotPipeline, CompactSnapshotPipeline,
  FullSnapshotPipeline, ProtoWire}
import graft.streaming.{DaemonSoak, Scheduler}

/** `daemon_soak`: the four-cadence daemon (`DaemonSoak.run`) on its
  * compressed clock over the virtual horizon `run.py` chooses (16 s per
  * benchmark second, at least 60 s), so an 8 s run covers 128 s: 12
  * activity, 2 high-frequency and 4 log ticks. The whole corpus folds onto
  * the horizon, so a shorter one means fewer but larger ticks. The 10 min full tick falls outside any such horizon, so one full
  * tick (the daemon's assemble → encode → zlib → decode-verify chain on the
  * primary session) runs right after the soak, inside the timed part. The
  * corpus's event time is rotated by the seed, so each seed's ticks see
  * different windows; every tick's counts are checked against what
  * `gen.py` derives from that seed's events.
  *
  * Set-up is the session plus the daemon's cached-base derivation: the
  * time `DaemonSoak.run` spends before its first tick fires. An untimed
  * 60 s-horizon soak over a fifth of the events runs between set-up and the
  * timed part. */
object SoakWorkload extends Workload {
  val Cadences = Seq("activity" -> Scheduler.Activity,
    "highfreq" -> Scheduler.HighFreq, "full" -> Scheduler.Full,
    "log" -> Scheduler.LogDownload)

  def prepare(spark: SparkSession, ctx: Ctx): Unit =
    RegistryWorkload.force(spark, graft.SparkEntry.queries("s3_activity_scan")(spark, ctx.data))

  /** One short soak (the smallest horizon `DaemonSoak.run` takes: one
    * high-frequency scrape) over a fifth of the events (`--warm-data`), so
    * the timed ticks and derivation run on warm code. */
  override def warmUp(spark: SparkSession, ctx: Ctx): Unit = {
    val (rows, _) = DaemonSoak.run(spark,
      ctx.warmData.getOrElse(sys.error("no --warm-data corpus")), horizon = 60L)
    require(rows.forall(r => r.outcome == "completed" && r.wireOk),
      s"warm-up soak failed: ${rows.filterNot(_.wireOk).take(3)}")
  }

  def run(spark: SparkSession, ctx: Ctx, tracer: Option[Tracer]): Outcome = {
    val (h, expected) = expectations(ctx)
    val tickNanos = new ConcurrentHashMap[(String, Long), java.lang.Long]()
    val firstStart = new java.util.concurrent.atomic.AtomicLong(Long.MaxValue)
    // storage read after every tick, before any clean-up: (ticks seen,
    // first (rdds, MB), max rdds, last MB)
    val storage = new ConcurrentHashMap[String, Array[Double]]()
    // the self-test blocks one activity tick past its budget; a compressed
    // budget keeps the time-out short
    val budgetMs = if (ctx.selftest) 200L else 3000L
    val slow = if (ctx.selftest)
      Some((t: Scheduler.Tick) => t.cadence == Scheduler.Activity && t.fireAt == 20L)
    else None
    val before = tracer.map(_.snap())
    val t0 = System.nanoTime()
    val (rows, _) = DaemonSoak.run(spark, ctx.data, tickBudgetMs = budgetMs,
      horizon = h, slowTick = slow, onTickNanos = (t, ns) => {
        val now = System.nanoTime()
        firstStart.accumulateAndGet(now - ns, math.min)
        tickNanos.put((t.cadence, t.fireAt), ns)
        if (tracer.isDefined) {
          val (n, mb) = Tracer.pinned(spark)
          storage.compute("s", (_, a) =>
            if (a == null) Array(1, n, mb, n, mb)
            else Array(a(0) + 1, a(1), a(2), math.max(a(3), n), mb))
        }
      })
    val t1 = System.nanoTime()
    val full = fullTick(spark, ctx.data)
    val t2 = System.nanoTime()
    val derivationS = (math.min(firstStart.get, t1) - t0) / 1e9
    val wallS = (t2 - math.min(firstStart.get, t1)) / 1e9
    val after = tracer.map(_.snap())

    val planned = (Scheduler.plan(0L, h) ++ Scheduler.planCadence(
      Scheduler.LogDownload, Scheduler.LogDownloadPeriod, 0L, h))
      .groupBy(_.cadence).view.mapValues(_.size).toMap
    val byCadence = rows.groupBy(_.cadence).view.mapValues(_.size).toMap
    def countsOk(r: DaemonSoak.SoakRow) = expected.get((r.cadence, r.fireAt))
      .exists { case (n, d) => r.nItems == n && d.forall(_ == r.nDims) }
    val ok = rows.filter(r => r.outcome == "completed" && r.wireOk && countsOk(r))
    val fullPin = Seq("n_queries", "n_relations")
      .map(k => ctx.pins.field("daemon_soak", s"full_tick_$k").map(_.toLong))
    val fullOk = full.wireOk && fullPin == Seq(Some(full.nItems), Some(full.nDims))
    val fullMs = if (fullOk) Seq(full.ms) else Nil
    val latMs = ok.flatMap(r =>
      Option(tickNanos.get((r.cadence, r.fireAt))).map(_ / 1e6)) ++ fullMs
    val tickHash = sha256(rows.map(r =>
      Seq(r.cadence, r.fireAt, r.tickIndex, r.outcome, r.nItems, r.nDims,
        r.wireOk).mkString(",")).sorted.mkString("\n"))
    val pinHorizon = ctx.pins.field("daemon_soak", "horizon").map(_.toLong)
    val pinned = ctx.pins.pinSeed("daemon_soak").contains(ctx.seed) &&
      pinHorizon.contains(h) && !ctx.selftest
    val pinOk = !pinned || ctx.pins.field("daemon_soak", "tick_hash").contains(tickHash)
    val failed = rows.size - ok.size + (if (fullOk) 0 else 1)
    val perCadence = Cadences.map { case (short, cad) =>
      val xs = if (cad == Scheduler.Full) fullMs else ok.filter(_.cadence == cad)
        .flatMap(r => Option(tickNanos.get((r.cadence, r.fireAt))).map(_ / 1e6))
      short -> Map("ticks" -> xs.size, "p50_ms" -> Stats.quantile(xs, 0.5),
        "p90_ms" -> Stats.quantile(xs, 0.9), "geomean_ms" -> Stats.geomean(xs))
    }.toMap

    // traced runs: shuffle written by the soak's own ticks, without the
    // full tick
    val tickShuffleMb = before.zip(after).map { case (b, a) =>
      val d = Tracer.delta(a, b)
      Seq(Scheduler.Activity, Scheduler.HighFreq, Scheduler.LogDownload)
        .map(c => d.getOrElse(s"tag.soak:$c.shuffle_write_mb", 0.0)).sum
    }
    val layers = (tracer, before, after) match {
      case (Some(tr), Some(b), Some(a)) =>
        val d = Tracer.delta(a, b)
        val cadenceLayers = Cadences.flatMap { case (short, cad) =>
          // the full cadence has the one tick run after the soak
          val n = math.max(1, byCadence.getOrElse(cad, 0)).toDouble
          Seq(s"daemon.$short.jobs_per_tick" -> d.getOrElse(s"tag.soak:$cad.jobs", 0.0) / n,
            s"daemon.$short.task_cpu_ms_per_tick" ->
              d.getOrElse(s"tag.soak:$cad.task_cpu_s", 0.0) * 1e3 / n)
        }
        val st = Option(storage.get("s")).getOrElse(Array(0.0, 0, 0, 0, 0))
        Layers.common(d, tr, wallS, ctx.cores) ++ cadenceLayers ++ Map(
          "storage.pinned_rdds_left" -> (st(3) - st(1)),
          "storage.pinned_mb_left" -> Tracer.pinned(spark)._2,
          "storage.memory_mb_per_100_ticks" ->
            (if (st(0) > 1) (st(4) - st(2)) / (st(0) - 1) * 100 else 0.0)) ++
          full.stagesMs ++ sinkProbe(spark, ctx.data)
      case _ => Map.empty[String, Double]
    }
    Outcome(rows.size + 1, failed, failed == 0 && pinOk && byCadence == planned,
      wallS, latMs, latMs.size / wallS, layers, derivationS,
      Map("horizon_s" -> h, "ticks_planned" -> planned,
        "ticks_run" -> byCadence, "per_cadence" -> perCadence,
        "derivation_s" -> derivationS, "tick_hash" -> tickHash,
        "tick_hash_pinned" -> pinned, "tick_hash_ok" -> pinOk,
        "ticks_shuffle_write_mb" -> tickShuffleMb,
        "full_tick" -> Map("n_queries" -> full.nItems,
          "n_relations" -> full.nDims, "integrity_ok" -> full.wireOk,
          "ms" -> full.ms, "ok" -> fullOk),
        "failed_ticks" -> (rows.filterNot(ok.contains).map(r =>
          s"${r.cadence}@${r.fireAt}:${r.outcome}" +
            (if (r.outcome != "completed" || countsOk(r)) ""
            else s":items=${r.nItems},dims=${r.nDims}")) ++
          (if (fullOk) Nil else Seq(s"${Scheduler.Full}:after_soak")))))
  }

  final case class FullTick(nItems: Long, nDims: Long, wireOk: Boolean,
      ms: Double, stagesMs: Map[String, Double])

  /** One full-snapshot tick as `DaemonSoak` runs it, minus the in-process
    * HTTP leg: assemble → encode → zlib → decode-verify of the wire bytes,
    * with a span around each stage. Its jobs carry the full cadence's call
    * site. */
  private def fullTick(spark: SparkSession, dir: String): FullTick = {
    spark.sparkContext.setCallSite(s"soak:${Scheduler.Full}")
    val t0 = System.nanoTime()
    val (rows, stagesMs) = stages("full", FullSnapshotPipeline.assemble(spark, dir),
      FullSnapshotPipeline.encode,
      w => FullSnapshotPipeline.decodeVerify(spark, w)
        .select("n_queries", "n_relations", "integrity_ok").take(1))
    val ms = (System.nanoTime() - t0) / 1e6
    spark.sparkContext.clearCallSite()
    rows.headOption.fold(FullTick(0L, 0L, wireOk = true, ms, stagesMs)) { r =>
      FullTick(r.getAs[Number]("n_queries").longValue,
        r.getAs[Number]("n_relations").longValue,
        r.getAs[Boolean]("integrity_ok"), ms, stagesMs)
    }
  }

  /** The soak's horizon and per-tick (items, dims) over this seed's corpus,
    * as `gen.py` (`soak_expect`) wrote them; dims is not checked where it
    * is null. */
  def expectations(ctx: Ctx): (Long, Map[(String, Long), (Long, Option[Long])]) = {
    val doc = Json.parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(ctx.expect.getOrElse(sys.error("no --expect file")))),
      java.nio.charset.StandardCharsets.UTF_8))
    (doc.path("horizon").asLong, doc.path("ticks").elements().asScala.map { t =>
      (t.path("cadence").asText, t.path("fire_at").asLong) ->
        (t.path("n_items").asLong, Option(t.get("n_dims")).filterNot(_.isNull).map(_.asLong))
    }.toMap)
  }

  /** Runs one snapshot pipeline's public stages in order, with a span
    * around each: `sinks.<name>.{assemble,encode,zlib,decode_verify}_ms`
    * and the wire size. */
  private def stages[D, R](name: String, assemble: => D, encode: D => Array[Byte],
      decode: Array[Byte] => R): (R, Map[String, Double]) = {
    def ms[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e6)
    }
    val (doc, aMs) = ms(assemble)
    val (raw, eMs) = ms(encode(doc))
    val (wire, zMs) = ms(ProtoWire.zlib(raw))
    val (out, dMs) = ms(decode(wire))
    (out, Map(s"sinks.$name.assemble_ms" -> aMs, s"sinks.$name.encode_ms" -> eMs,
      s"sinks.$name.zlib_ms" -> zMs, s"sinks.$name.decode_verify_ms" -> dMs,
      s"sinks.$name.wire_kb" -> wire.length / 1024.0))
  }

  /** Traced runs only: the compact and activity pipelines' stages, one
    * document each over the soak's corpus (the full pipeline's come from
    * the timed full tick). */
  private def sinkProbe(spark: SparkSession, dir: String): Map[String, Double] =
    stages("compact", CompactSnapshotPipeline.assemble(spark, dir),
      CompactSnapshotPipeline.encode,
      w => CompactSnapshotPipeline.decodeVerify(spark, w).collect())._2 ++
    stages("activity", ActivitySnapshotPipeline.assemble(spark, dir),
      ActivitySnapshotPipeline.encode,
      w => ActivitySnapshotPipeline.decodeVerify(spark, w).collect())._2

  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
}

/** Layer metrics every traced workload reports, from the tracer's delta
  * over the timed part. */
object Layers {
  def common(d: Map[String, Double], tr: Tracer, wallS: Double,
      cores: Int): Map[String, Double] = {
    def g(k: String) = d.getOrElse(k, 0.0)
    val jobs = g("jobs"); val tasks = g("tasks")
    Map(
      "driver.analysis_ms" -> g("analysis_ms"),
      "driver.optimizer_ms" -> g("optimizer_ms"),
      "driver.planning_ms" -> g("planning_ms"),
      "driver.actions" -> g("actions"),
      "driver.codegen_compiles" -> g("codegen_compiles"),
      "driver.codegen_ms" -> g("codegen_ms"),
      "driver.jit_ms" -> g("jit_ms"),
      "driver.gc_ms" -> g("gc_ms"),
      "driver.non_task_cpu_s" -> (g("process_cpu_s") - g("task_cpu_s")),
      "scheduler.jobs" -> jobs,
      "scheduler.stages" -> g("stages"),
      "scheduler.tasks" -> tasks,
      "scheduler.ms_per_job" -> (if (jobs > 0) g("job_ms") / jobs else 0.0),
      "scheduler.task_cpu_s" -> g("task_cpu_s"),
      "scheduler.task_run_s" -> g("task_run_s"),
      "scheduler.task_overhead_ms" -> (if (tasks > 0) g("task_overhead_ms") / tasks else 0.0),
      "scheduler.core_busy_share" -> g("task_run_s") / (wallS * cores),
      "scheduler.jobs_per_wall_s" -> jobs / wallS,
      "exchange.shuffle_write_mb" -> g("shuffle_write_mb"),
      "exchange.shuffle_read_mb" -> g("shuffle_read_mb"),
      "exchange.fetch_wait_ms" -> g("fetch_wait_ms"),
      "exchange.spill_mb" -> g("spill_mb"),
      "exchange.max_skew" -> tr.maxSkew,
      "sources.input_mb" -> g("input_mb"),
      "sources.scan_ms" -> g("scan_ms"),
      "sources.files" -> g("files"))
  }
}
