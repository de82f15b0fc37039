package perfbench

import graft.{SparkEntry, Tables}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** The `queries` workload: a fixed tenth of `SparkEntry.queries` over
  * tables generated from the seed, in one session built by
  * `GraftSession.builder()`.
  *
  * Set-up (reported as `setup_s`) is the session, the table cache and one
  * untimed pass that builds the shared session indexes and writes every
  * query's output for the DuckDB oracle check. Then one timed pass runs the
  * queries with the noop sink (about 8 s on 4 cores; `seconds` does not
  * lengthen it); each query is one latency sample.
  *
  * A traced run first times a noop pass before the oracle-output pass, so
  * that pass and the timed one differ only in what the first run of each
  * query builds (`analytics.build_s`). It then runs four timed passes,
  * listeners attached, detached, detached, attached, so that a drift in the
  * machine's speed cancels out of the tracing overhead.
  *
  * Usage: QueryBench queries <seed> <seconds> <trace 0|1> <work dir> <data dir>
  */
object QueryBench {
  /** The measured queries: every family (q TPC-H-like, e events, c CDC,
    * t text, d dedup, s similarity, m multimodal, p curation), in about its
    * share of the suite, and one query from each tenth of the suite ranked
    * by its seconds in a timed pass (1.8 s down to 0.2 s on 4 cores). About
    * 10 queries keep a run (set-up pass, timed pass, oracle check) near a
    * minute on 4 cores. */
  val Names: Seq[String] = Seq(
    "q01_pricing_summary", "q10_returned_items",
    "e33_watermark_sizing",
    "c04_min_progress_across_sinks",
    "t06_top_bigrams", "t18_pii_redaction",
    "d06_embedding_neardup_docs",
    "s15_hybrid_rrf",
    "m08_keyframes",
    "p20_curriculum_order")

  val TableNames: Seq[String] = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def main(args: Array[String]): Unit = {
    val Array(_, _, _, traceS, workS, data) = args
    println(new QueryBench(traceS == "1", Paths.get(workS), data).run())
  }
}

final class QueryBench(trace: Boolean, work: Path, data: String) {
  import QueryBench._

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
  }

  def run(): String = {
    val t0 = System.nanoTime()
    val spark = Session.build("perfbench-queries", work)
    val out = work.resolve("out")
    Files.createDirectories(out)
    val (_, cacheS) = timed(TableNames.foreach { t =>
      Tables.t(spark, data, t).write.format("noop").mode("overwrite").save()
    })
    // the session with its cached tables; read after the passes, the session
    // caches they build made the reading bimodal (119 or 157 MiB, run to run)
    val heapMb = LiveHeap.mb()
    val failed = mutable.LinkedHashSet.empty[String]
    /** One pass over the queries not yet failed: (query, seconds) each. */
    def pass(what: String)(write: (String, DataFrame) => Unit): Seq[(String, Double)] =
      Names.filterNot(failed).flatMap { n =>
        val (ok, s) = timed(
          try { write(n, SparkEntry.queries(n)(spark, data)); true }
          catch { case e: Throwable =>
            System.err.println(s"[perfbench] $n failed in $what: $e"); failed += n; false
          })
        if (ok) Some(n -> s) else None
      }
    def noop(n: String, df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def wall(xs: Seq[(String, Double)]): Double = xs.map(_._2).sum

    val firstNoopS = if (trace) wall(pass("the first noop pass")(noop)) else 0.0
    val warmS = wall(pass("the warm-up pass") { (n, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(out.resolve(n).toString)
    })
    val setupS = (System.nanoTime() - t0) / 1e9
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => Names.contains(k) }
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    Files.writeString(out.resolve("oracle_sql.json"), m.writeValueAsString(
      scala.jdk.CollectionConverters.MapHasAsJava(oracle).asJava))
    Files.writeString(out.resolve("ran.json"), m.writeValueAsString(
      scala.jdk.CollectionConverters.SeqHasAsJava(Names.filterNot(failed)).asJava))

    val metrics =
      if (!trace) {
        val samples = pass("the timed pass")(noop)
        val lat = samples.map(_._2 * 1000)
        Map(
          "setup_s" -> setupS,
          "throughput_per_s" -> samples.size / wall(samples),
          "latency_p50_ms" -> Stats.pct(lat, 50),
          "latency_p90_ms" -> Stats.pct(lat, 90),
          "live_heap_peak_mb" -> heapMb)
      } else {
        val ledger = new Ledger(spark)
        val tracedA = pass("a traced pass")(noop)
        ledger.detach()
        val plain = Seq(pass("an untraced pass")(noop), pass("an untraced pass")(noop))
        ledger.attach()
        val tracedB = pass("a traced pass")(noop)
        ledger.detach()
        val traced = Seq(tracedA, tracedB)
        val perQuery = (traced ++ plain).flatten.groupBy(_._1).map { case (n, xs) => n -> Stats.median(xs.map(_._2)) }
        val fam = "qectdsmp".map(f => s"family.${f}_s" -> perQuery.filter(_._1.head == f).values.sum).toMap
        val slots = Runtime.getRuntime.availableProcessors()
        ledger.metrics(traced.map(wall), slots) ++ fam ++ Map(
          "setup.table_cache_s" -> cacheS,
          "setup.warmup_pass_s" -> firstNoopS,
          "analytics.build_s" -> math.max(0.0, firstNoopS - Stats.median(plain.map(wall))),
          "trace.overhead_frac" -> (traced.map(wall).sum / plain.map(wall).sum - 1))
      }
    System.err.println(s"[perfbench] ${Names.size} queries, setup ${setupS}s (cache $cacheS, " +
      s"first noop pass $firstNoopS, warm-up $warmS), live heap $heapMb MiB, failed ${failed.mkString(",")}")
    spark.stop()
    Stats.result(failed.isEmpty, Names.size, failed.size, metrics, trace)
  }
}

/** Task, stage and job counts and times, and per-query planning time, from
  * the Spark listener bus while attached. */
final class Ledger(spark: SparkSession) {
  private var jobs, stages, tasks, emptyTasks = 0L
  private var runMs, cpuNs, gcMs, shufR, shufW, spill = 0L
  private var planS = 0.0
  private var graftNodes = 0L

  private val sl = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized(jobs += 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized(stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        runMs += m.executorRunTime; cpuNs += m.executorCpuTime; gcMs += m.jvmGCTime
        shufR += m.shuffleReadMetrics.totalBytesRead; shufW += m.shuffleWriteMetrics.bytesWritten
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
        if (m.inputMetrics.recordsRead == 0 && m.shuffleReadMetrics.recordsRead == 0) emptyTasks += 1
      }
    }
  }
  private val ql = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = synchronized {
      planS += Seq("analysis", "optimization", "planning")
        .flatMap(p => qe.tracker.phases.get(p)).map(_.durationMs).sum / 1000.0
      graftNodes += nodes(qe.executedPlan).count(_.getClass.getName.startsWith("graft."))
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }
  attach()

  /** Every node of a physical plan, through adaptive plans and query stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  def attach(): Unit = { spark.sparkContext.addSparkListener(sl); spark.listenerManager.register(ql) }
  def detach(): Unit = { spark.sparkContext.removeSparkListener(sl); spark.listenerManager.unregister(ql) }

  /** Per pass, over the passes attached; `walls` are their wall times. */
  def metrics(walls: Seq[Double], slots: Int): Map[String, Double] = synchronized {
    val mb = 1048576.0
    Map(
      "catalyst.plan_s" -> planS, "plans.graft_nodes" -> graftNodes.toDouble,
      "spark.jobs" -> jobs.toDouble, "spark.stages" -> stages.toDouble, "spark.tasks" -> tasks.toDouble,
      "spark.empty_tasks" -> emptyTasks.toDouble, "spark.task_s" -> runMs / 1000.0,
      "spark.cpu_s" -> cpuNs / 1e9, "spark.gc_s" -> gcMs / 1000.0,
      "spark.shuffle_read_mb" -> shufR / mb, "spark.shuffle_write_mb" -> shufW / mb,
      "spark.spill_mb" -> spill / mb,
      "spark.sched_floor_s" -> (walls.sum - runMs / 1000.0 / slots)
    ).map { case (k, v) => k -> v / walls.size }
  }
}
