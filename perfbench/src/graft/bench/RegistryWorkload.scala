package graft.bench

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** `collector_queries`: one pass over the pinned collector-surface
  * registry entries in seed-shuffled order, each built through
  * `SparkEntry.queries(name)`, forced with Bench's protocol
  * (`sum(xxhash64(struct(*)))` consumes every output column) and then
  * cleaned up (cache cleared, persistent RDDs released). A wrong
  * `{rows, hash}` or an error fails the entry, and its time is dropped.
  */
object RegistryWorkload extends Workload {
  val Families = Seq("sources", "operators", "logsys", "functions", "sinks", "setup")
  val InjectedName = "selftest_injected_failure"
  val WarmupEntry = "s1_projection_scan"
  val WarmupEntries = Seq("a1_group_agg", "s8_indexes", "x10_credential_scrub")

  final case class Result(entry: PinnedEntry, ok: Boolean, status: String,
      rows: Long, hash: String, buildMs: Double, forceMs: Double,
      pinned: Option[(Int, Double)], layer: Map[String, Double] = Map.empty) {
    def ms: Double = buildMs + forceMs
  }

  def prepare(spark: SparkSession, ctx: Ctx): Unit = {
    force(spark, SparkEntry.queries(WarmupEntry)(spark, ctx.data))
    cleanUp(spark)
  }

  /** Entries outside the timed pass, run once so its first entries do not
    * pay the JVM's cold start; the timed plans themselves stay unseen. */
  override def warmUp(spark: SparkSession, ctx: Ctx): Unit =
    WarmupEntries.foreach { e =>
      force(spark, SparkEntry.queries(e)(spark, ctx.data))
      cleanUp(spark)
    }

  def run(spark: SparkSession, ctx: Ctx, tracer: Option[Tracer]): Outcome = {
    val queries = SparkEntry.queries + (InjectedName -> (injected _))
    val plan = {
      val es = new scala.util.Random(ctx.seed).shuffle(ctx.pins.entries("collector_queries"))
      if (ctx.selftest) PinnedEntry(InjectedName, "setup", 1L, "") +: es else es
    }
    val before = tracer.map(_.snap())
    val t0 = System.nanoTime()
    val results = plan.map { e =>
      val pre = tracer.map(_.snap())
      val s0 = System.nanoTime()
      val r = try {
        val df = queries(e.name)(spark, ctx.data)
        val s1 = System.nanoTime()
        val (rows, hash) = force(spark, df)
        val s2 = System.nanoTime()
        val pinned = tracer.map(_ => Tracer.pinned(spark))
        val ok = rows == e.rows && hash == e.hash
        Result(e, ok, if (ok) "ok" else s"pin mismatch: rows=$rows hash=$hash",
          rows, hash, (s1 - s0) / 1e6, (s2 - s1) / 1e6, pinned)
      } catch {
        case NonFatal(err) =>
          Result(e, ok = false, s"error: ${err.getClass.getName}: " +
            String.valueOf(err.getMessage).take(300), -1L, "", 0, 0, None)
      }
      cleanUp(spark)
      val post = tracer.map(_.snap())
      r.copy(layer = (pre, post) match {
        case (Some(a), Some(b)) => Tracer.delta(b, a)
        case _ => Map.empty
      })
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val after = tracer.map(_.snap())
    val ok = results.filter(_.ok)
    val failed = results.size - ok.size
    // the injected failure is expected in a self-test; everything else
    // must pass
    val unexpected = results.filterNot(r => r.ok || r.entry.name == InjectedName)
    val layers = (tracer, before, after) match {
      case (Some(tr), Some(b), Some(a)) =>
        val fams = Families.flatMap { f =>
          val rs = ok.filter(_.entry.family == f)
          def sum(k: String) = rs.map(_.layer.getOrElse(k, 0.0)).sum
          Seq(s"registry.$f.wall_s" -> rs.map(_.ms).sum / 1e3,
            s"registry.$f.task_cpu_s" -> sum("task_cpu_s"),
            s"registry.$f.jobs" -> sum("jobs"))
        }
        Layers.common(Tracer.delta(a, b), tr, wallS, ctx.cores) ++ fams ++ Map(
          "registry.build_ms" -> ok.map(_.buildMs).sum,
          "registry.force_ms" -> ok.map(_.forceMs).sum,
          "storage.pinned_rdds_left" -> ok.flatMap(_.pinned).map(_._1.toDouble).sum,
          "storage.pinned_mb_left" -> ok.flatMap(_.pinned).map(_._2).sum)
      case _ => Map.empty[String, Double]
    }
    Outcome(results.size, failed, unexpected.isEmpty, wallS,
      ok.map(_.ms), ok.size / wallS, layers,
      detail = Map("entries" -> results.map(r => scala.collection.immutable.ListMap(
          "name" -> r.entry.name, "family" -> r.entry.family,
          "status" -> r.status, "rows" -> r.rows, "hash" -> r.hash,
          "ms" -> (if (r.ok) r.ms else null),
          "task_cpu_s" -> r.layer.get("task_cpu_s"),
          "jobs" -> r.layer.get("jobs")))))
  }

  /** An entry whose action fails at run time, for the failure-accounting
    * self-test. */
  private def injected(s: SparkSession, dir: String): DataFrame =
    s.range(1).select(raise_error(lit("injected failure")).as("x"))

  /** Bench's force: one aggregate that consumes every output column. */
  def force(spark: SparkSession, df: DataFrame): (Long, String) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(struct(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*))
        .cast("decimal(38,0)"))).head()
    (r.getLong(0), String.valueOf(r.get(1)))
  }

  /** Bench's clean-up: release everything the entry pinned. */
  def cleanUp(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }
}
