package graft.bench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener,
  StreamingQueryProgress, Trigger}

import graft.QueriesLog
import graft.streaming.LogStreamPipeline

/** `log_stream`: an open-loop log stream. One generator thread writes
  * prefix-formatted Postgres log files on a fixed schedule into a
  * directory read by `spark.readStream.text` → `LogStreamPipeline.analyzed`
  * → a `foreachBatch` sink on a 2 s trigger.
  *
  * The offered rate climbs a fixed ladder; the top rung is above what
  * four cores sustain. Every line carries an id and template code as a
  * `#<id>.<template>` trailer; the generator records when each line was
  * due, the sink when it came out. A line that never comes out, comes out
  * twice, or comes out with the wrong classification is a failed line and
  * contributes no latency. Prefix-less continuation lines are the
  * exception: the pipeline discards them by design (see [[run]]).
  */
object StreamWorkload extends Workload {
  /** Offered rates in lines per second, lowest first, and each rung's
    * share of a run's seconds: a short settling rung, a long reference
    * rung and an overload rung. */
  val Ladder: Seq[Int] = Seq(4000, 8000, 160000)
  val RungShare: Seq[Double] = Seq(0.2, 0.8, 0.3)
  /** The rung whose emit latencies are the workload's op latencies. */
  val ReferenceRung = 1
  val FileEveryMs = 100L
  /** Micro-batch trigger. A batch here carries close to a second of fixed
    * cost (planning, state-store and WAL commits), so on a 1 s trigger
    * batches straddle the trigger and latency flips between two modes;
    * 2 s keeps every batch inside its trigger. */
  val TriggerMs = 2000L
  val Pids = 64
  val DrainTimeoutS = 30

  /** Templates: (level, content before the trailer, expected class).
    * Code 5 is a prefix-less continuation line, which the text-tail
    * pipeline dead-letters or drops (see [[run]]). */
  val Templates: IndexedSeq[(String, Long => String, String)] = IndexedSeq(
    ("LOG", k => s"duration: ${k % 997}.${k % 1000} ms  statement: SELECT * FROM orders WHERE o_custkey = ${k % 15000}",
      "STATEMENT_DURATION"),
    ("LOG", k => s"connection received: host=10.0.${k % 256}.${k % 7} port=${5000 + k % 100}",
      "CONNECTION_RECEIVED"),
    ("LOG", k => s"connection authorized: user=u${k % 50} database=db${k % 5}",
      "CONNECTION_AUTHORIZED"),
    ("LOG", k => s"checkpoint complete: wrote ${k % 900} buffers (4.2%); 0 WAL file(s) added, 0 removed, 3 recycled; write=1.2 s, sync=0.1 s, total=1.4 s; sync files=7, longest=0.05 s, average=0.01 s; distance=1024 kB, estimate=2048 kB",
      "CHECKPOINT_COMPLETE"),
    ("ERROR", _ => "deadlock detected", "LOCK_DEADLOCK_DETECTED"),
    ("", k => s"\tAND o_orderdate > now() - interval '${k % 30} days'", "DISCARDED"))
  /** Template weights (sum 100); a continuation always follows a
    * duration line. */
  val Weights = Seq(35, 15, 15, 10, 10, 15)
  val Continuation: Byte = 5

  private val TsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    .withZone(ZoneOffset.UTC)

  /** Render `n` lines starting at id `firstId`, due at epoch ms `dueMs`,
    * and record each id's template code in `codes`. */
  def render(rng: scala.util.Random, firstId: Long, n: Int, dueMs: Long,
      codes: Array[Byte]): String = {
    val ts = TsFmt.format(Instant.ofEpochMilli(dueMs))
    val b = new StringBuilder
    var i = 0
    var id = firstId
    while (i < n) {
      val r = rng.nextInt(100)
      var acc = 0; var t = 0
      while (acc + Weights(t) <= r) { acc += Weights(t); t += 1 }
      // a continuation without a primary before it becomes a duration line
      if (t == 5 && (i == 0 || codes((id - 1).toInt) != 0)) t = 0
      val (level, content, _) = Templates(t)
      if (t == 5) b.append(content(id))
      else {
        val pid = 1000 + rng.nextInt(Pids)
        b.append(ts).append(" UTC [").append(pid).append("]: [")
          .append(id % 1000).append("-1] user=u").append(pid)
          .append(",db=db").append(pid % 5).append(' ').append(level)
          .append(":  ").append(content(id))
      }
      b.append(" #").append(id).append('.').append(t).append('\n')
      codes(id.toInt) = t.toByte
      id += 1; i += 1
    }
    b.toString
  }

  /** One flush line per pid, ids from `firstId` (past the ladder), one
    * second after `dueMs` so each sorts after its pid's last line. */
  def sentinels(firstId: Int, dueMs: Long): String = {
    val ts = TsFmt.format(Instant.ofEpochMilli(dueMs + 1000))
    (0 until Pids).map { i =>
      val pid = 1000 + i
      s"$ts UTC [$pid]: [0-1] user=u$pid,db=db${pid % 5} LOG:  graft sentinel flush " +
        s"#${firstId + i}.0\n"
    }.mkString
  }

  /** The sink's per-row check: (id, classified as its template expects). */
  def checked(batch: Dataset[Row]): DataFrame = {
    val t = regexp_extract(col("content"), "#(\\d+)\\.(\\d)$", 2).cast("int")
    val expected = Templates.indices.foldLeft(lit(null).cast("string"): Column) {
      (acc, i) => when(t === i, lit(Templates(i)._3)).otherwise(acc)
    }
    batch.select(
      regexp_extract(col("content"), "#(\\d+)\\.(\\d)$", 1).cast("long").as("id"),
      coalesce(when(t === 5, col("level") === "DISCARDED")
        .otherwise(col("class_name") === expected), lit(false)).as("ok"))
  }

  private def writeFile(dir: Path, name: String, text: String): Unit = {
    val tmp = dir.resolveSibling(s".$name.tmp")
    Files.write(tmp, text.getBytes(UTF_8))
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  private def freshDir(p: Path): Path = {
    if (Files.exists(p))
      org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)
    Files.createDirectories(p)
  }

  /** The batch parse-and-classify entry: the kernels the stream runs. */
  def prepare(spark: SparkSession, ctx: Ctx): Unit =
    RegistryWorkload.force(spark, graft.SparkEntry.queries("x7_log_classify")(spark, ctx.data))

  /** A short stream over one file before the timed one: a new query's
    * first batches plan, compile and open the state store slowly. */
  override def warmUp(spark: SparkSession, ctx: Ctx): Unit = {
    val in = freshDir(Paths.get(ctx.work, "stream", "warm-in"))
    val codes = new Array[Byte](2000)
    writeFile(in, "warm-0.log", render(new scala.util.Random(ctx.seed), 0L,
      2000, System.currentTimeMillis(), codes))
    val ckpt = freshDir(Paths.get(ctx.work, "stream", "warm-ckpt"))
    var n = 0L
    val q = LogStreamPipeline.analyzed(spark.readStream.text(in.toString),
        QueriesLog.Compiled)
      .writeStream
      .foreachBatch { (b: Dataset[Row], _: Long) =>
        n += checked(b).filter(col("ok")).count(); () }
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow())
      .outputMode("append")
      .start()
    q.awaitTermination()
    require(n > 0, "warm-up stream emitted no correctly classified line")
  }

  def run(spark: SparkSession, ctx: Ctx, tracer: Option[Tracer]): Outcome = {
    val perFile = Ladder.map(r => (r * FileEveryMs / 1000).toInt)
    val rungFiles = RungShare.map(f => math.max(10, (f * ctx.seconds * 1000 / FileEveryMs).toInt))
    val rungStart = rungFiles.scanLeft(0)(_ + _) // first file of each rung
    val ladderLines = perFile.zip(rungFiles).map { case (p, f) => p * f }.sum
    val dueNs = new Array[Long](ladderLines)
    val emitNs = new Array[Long](ladderLines)
    val codes = new Array[Byte](ladderLines)
    @volatile var generated = 0L // ids below this are written
    val lateMs = new java.util.concurrent.atomic.AtomicLong(0L)
    val bad = new java.util.concurrent.atomic.AtomicLong(0L)
    val backlogMax = new java.util.concurrent.atomic.AtomicLong(0L)
    var emitted = 0L
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    val progressListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress)
    }
    spark.streams.addListener(progressListener)

    val in = freshDir(Paths.get(ctx.work, "stream", "in"))
    val ckpt = freshDir(Paths.get(ctx.work, "stream", "ckpt"))
    val q = LogStreamPipeline.analyzed(spark.readStream.text(in.toString),
        QueriesLog.Compiled)
      .writeStream
      .foreachBatch { (b: Dataset[Row], _: Long) =>
        val rows = checked(b).collect()
        val now = System.nanoTime()
        rows.foreach { r =>
          if (r.isNullAt(0)) bad.incrementAndGet()
          else {
            val id = r.getLong(0)
            if (id < ladderLines) { // ids past the ladder are flush sentinels
              if (emitNs(id.toInt) != 0L || !r.getBoolean(1)) bad.incrementAndGet()
              else { emitNs(id.toInt) = now; emitted += 1 }
            }
          }
        }
        backlogMax.accumulateAndGet(generated - emitted, math.max)
        ()
      }
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .outputMode("append")
      .start()

    // the open-loop generator: file k is due at t0 + k * FileEveryMs no
    // matter how far behind the stream is. After the ladder, one flush
    // sentinel per pid releases each pid's last pending line (a new
    // primary flushes the pending one) instead of waiting out the
    // readiness time-out.
    val rng = new scala.util.Random(ctx.seed)
    val before = tracer.map(_.snap())
    val t0Ns = System.nanoTime() + 500L * 1000000
    val t0Ms = System.currentTimeMillis() + 500L
    val nFiles = rungStart.last
    val gen = new Thread(() => {
      var id = 0
      (0 to nFiles).foreach { k =>
        val due = t0Ns + k * FileEveryMs * 1000000
        val wait = due - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
        else lateMs.accumulateAndGet(-wait / 1000000, math.max)
        val text =
          if (k < nFiles) {
            val n = perFile(rungStart.lastIndexWhere(_ <= k))
            java.util.Arrays.fill(dueNs, id, id + n, due)
            val t = render(rng, id, n, t0Ms + k * FileEveryMs, codes)
            id += n
            t
          } else sentinels(ladderLines, t0Ms + k * FileEveryMs)
        writeFile(in, f"part-$k%06d.log", text)
        generated = id
      }
    }, "perfbench-log-generator")
    gen.setDaemon(true)
    gen.start()

    // A continuation line is either dead-lettered (level DISCARDED) or
    // dropped by the 3 s watermark, since it carries no event time of its
    // own; it is never awaited. Every other ladder line must come out.
    val ladderEndNs = t0Ns + nFiles * FileEveryMs * 1000000
    val deadline = ladderEndNs + DrainTimeoutS * 1000000000L
    def ladderDone = System.nanoTime() >= ladderEndNs &&
      (0 until ladderLines).forall(i => emitNs(i) != 0L || codes(i) == Continuation)
    while (System.nanoTime() < deadline && !ladderDone) Thread.sleep(50)
    gen.join()
    q.stop()
    spark.streams.removeListener(progressListener)
    val after = tracer.map(_.snap())

    val primaries = (0 until ladderLines).filter(codes(_) != Continuation)
    val lost = primaries.count(emitNs(_) == 0L)
    val continuations = (0 until ladderLines).filter(codes(_) == Continuation)
    val lateDropped = continuations.count(emitNs(_) == 0L)
    val lastEmit = primaries.map(emitNs(_)).max
    val wallS = (lastEmit - t0Ns) / 1e9
    def latMs(i: Int) = (emitNs(i) - dueNs(i)) / 1e6
    val rungIds = Ladder.indices.map { r =>
      val lo = (0 until r).map(i => perFile(i) * rungFiles(i)).sum
      (lo until (lo + perFile(r) * rungFiles(r))).filter(codes(_) != Continuation)
    }
    val rungStats = Ladder.indices.map { r =>
      val xs = rungIds(r).filter(emitNs(_) != 0L).map(latMs)
      val quarter = math.max(1, xs.size / 4)
      val grows = Stats.median(xs.takeRight(quarter)) - Stats.median(xs.take(quarter))
      scala.collection.immutable.ListMap("rate" -> Ladder(r),
        "lines" -> rungIds(r).size, "p50_ms" -> Stats.quantile(xs, 0.5),
        "p99_ms" -> Stats.quantile(xs, 0.99), "latency_growth_ms" -> grows,
        "sustained" -> (grows < 500.0))
    }
    val sustainedRung = rungStats.filter(_("sustained") == true)
      .map(_("rate").asInstanceOf[Int]).maxOption.getOrElse(0)
    // capacity: lines per second of engine busy time (summed trigger
    // durations) over every batch with input; the overload rung, whose
    // batches run back to back, carries most of the lines. A run has only
    // five to seven batches, so it moves with how the overload splits into
    // batches (ten-run spread 0.21): reported, not gated.
    val ps = progress.asScala.toSeq.filter(_.numInputRows > 0)
    val capacity = ps.map(_.numInputRows.toDouble).sum /
      (ps.map(_.durationMs.get("triggerExecution").doubleValue).sum / 1e3)
    val refLat = rungIds(ReferenceRung).filter(emitNs(_) != 0L).map(latMs)
    val failed = lost + bad.get

    val layers = (tracer, before, after) match {
      case (Some(tr), Some(b), Some(a)) =>
        def dur(k: String) = ps.map(p =>
          Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0))
        val state = ps.flatMap(_.stateOperators.headOption)
        Layers.common(Tracer.delta(a, b), tr, wallS, ctx.cores) ++ Map(
          "streaming.batches" -> ps.size.toDouble,
          "streaming.trigger_ms_p50" -> Stats.median(dur("triggerExecution")),
          "streaming.add_batch_ms_p50" -> Stats.median(dur("addBatch")),
          "streaming.wal_commit_ms_p50" -> Stats.median(dur("walCommit")),
          "streaming.query_planning_ms_p50" -> Stats.median(dur("queryPlanning")),
          "streaming.latest_offset_ms_p50" -> Stats.median(dur("latestOffset")),
          "streaming.state_rows" -> state.map(_.numRowsTotal.toDouble).maxOption.getOrElse(0.0),
          "streaming.state_mb" -> state.map(_.memoryUsedBytes / 1e6).maxOption.getOrElse(0.0),
          "streaming.state_commit_ms" -> Stats.median(state.map(_.commitTimeMs.toDouble)),
          "streaming.backlog_lines" -> backlogMax.get.toDouble,
          "streaming.generator_late_ms" -> lateMs.get.toDouble) ++
          logsysProbe(spark, ctx, tr)
      case _ => Map.empty[String, Double]
    }
    Outcome(primaries.size, failed, failed == 0, wallS, refLat,
      (primaries.size - failed) / wallS, layers,
      detail =
      Map("rung_s" -> rungFiles.map(_ * FileEveryMs / 1e3), "rungs" -> rungStats,
        "reference_rate" -> Ladder(ReferenceRung),
        "max_sustained_rung_lines_per_s" -> sustainedRung,
        "batches" -> ps.size,
        "capacity_lines_per_busy_s" -> capacity,
        "emit_latency_p50_ms" -> Stats.quantile(refLat, 0.5),
        "emit_latency_p99_ms" -> Stats.quantile(refLat, 0.99),
        "lost_lines" -> lost, "bad_lines" -> bad.get,
        "continuations" -> continuations.size,
        "continuations_dead_lettered" -> (continuations.size - lateDropped),
        "continuations_dropped_by_watermark" -> lateDropped,
        "rows_dropped_by_watermark" ->
          ps.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum,
        "generator_late_ms" -> lateMs.get))
  }

  /** Parse, then parse + classify, over one static batch of generated
    * lines: task CPU per line of each kernel. */
  private def logsysProbe(spark: SparkSession, ctx: Ctx,
      tr: Tracer): Map[String, Double] = {
    val n = 200000
    val dir = freshDir(Paths.get(ctx.work, "stream", "probe"))
    val codes = new Array[Byte](n)
    writeFile(dir, "lines.log",
      render(new scala.util.Random(ctx.seed), 0L, n, System.currentTimeMillis(), codes))
    val raw = graft.Tables.fanOut(spark.read.text(dir.toString))
    def cpu(df: DataFrame): Double = {
      val b = tr.snap()
      RegistryWorkload.force(spark, df)
      tr.snap()("task_cpu_s") - b.getOrElse("task_cpu_s", 0.0)
    }
    val parsed = LogStreamPipeline.parse(raw, QueriesLog.Compiled)
    val classified = parsed.withColumn("classification",
      graft.logsys.LogClassify.classify(col("content")))
    // one untimed pass of each, then parse timed on both sides of the
    // parse + classify pass, so JIT warm-up favours neither
    cpu(parsed); cpu(classified)
    val parse1 = cpu(parsed)
    val bothS = cpu(classified)
    val parseS = (parse1 + cpu(parsed)) / 2
    Map("logsys.parse_cpu_us_per_line" -> parseS * 1e6 / n,
      "logsys.classify_cpu_us_per_line" -> math.max(0.0, bothS - parseS) * 1e6 / n)
  }
}
