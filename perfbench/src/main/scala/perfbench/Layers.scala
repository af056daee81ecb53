package perfbench

import java.util.concurrent.atomic.{DoubleAdder, LongAdder}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** Catalyst phase times and connector scan counters, summed over the
  * queries handed to [[add]] after they ran.
  */
final class PhaseTotals {
  private val analysis = new DoubleAdder
  private val optimization = new DoubleAdder
  private val planning = new DoubleAdder
  private val parts = new LongAdder
  private val rows = new LongAdder

  def add(df: DataFrame): Unit = {
    val ph = df.queryExecution.tracker.phases
    ph.get("analysis").foreach(p => analysis.add(p.durationMs.toDouble))
    ph.get("optimization").foreach(p => optimization.add(p.durationMs.toDouble))
    ph.get("planning").foreach(p => planning.add(p.durationMs.toDouble))
    PhaseTotals.scans(df.queryExecution.executedPlan).foreach { b =>
      parts.add(b.inputRDD.getNumPartitions.toLong)
      b.metrics.get("numOutputRows").foreach(m => rows.add(m.value))
    }
  }

  def scanPartitions: Double = parts.sum.toDouble
  def scanRows: Double = rows.sum.toDouble

  def perQuery(n: Long): Map[String, Double] = {
    val q = math.max(n, 1L).toDouble
    Map("catalyst.analysis_ms" -> analysis.sum / q,
      "catalyst.optimization_ms" -> optimization.sum / q,
      "catalyst.planning_ms" -> planning.sum / q)
  }
}

object PhaseTotals extends AdaptiveSparkPlanHelper {
  def scans(plan: SparkPlan): Seq[BatchScanExec] = collect(plan) { case b: BatchScanExec => b }
}

/** Per-layer metric names (every traced run prints all of them; a layer
  * a workload does not reach reads 0) and the shared helpers that fill
  * them.
  */
object Layers {
  val Names: Seq[(String, String)] = Seq(
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms",
    "spark.jobs_per_query" -> "count", "spark.tasks_per_query" -> "count",
    "spark.executor_cpu_ms" -> "ms", "spark.executor_run_ms" -> "ms",
    "spark.scheduler_wait_ms" -> "ms", "spark.shuffle_write_bytes" -> "bytes",
    "spark.shuffle_read_bytes" -> "bytes", "spark.failed_tasks" -> "count",
    "connector.scan_partitions" -> "count", "connector.rows_out" -> "count",
    "connector.rows_per_cpu_s" -> "1/s",
    "analytics.scan_p50_ms" -> "ms", "analytics.json_p50_ms" -> "ms",
    "analytics.vector_p50_ms" -> "ms", "analytics.join_p50_ms" -> "ms",
    "store.files_opened" -> "count", "store.row_groups_read" -> "count",
    "store.hnsw_segments_loaded" -> "count", "store.hnsw_resident_bytes" -> "bytes",
    "store.hnsw_filtered_walk_serves" -> "count",
    "store.hnsw_filtered_exact_serves" -> "count",
    "store.hnsw_inc_inserts" -> "count", "store.bytes_written_per_point" -> "bytes",
    "store.files_rewritten_per_batch" -> "count", "store.optimize_s" -> "s",
    "wire.requests_per_query" -> "count", "wire.bytes_in_per_query" -> "bytes",
    "wire.bytes_out_per_query" -> "bytes", "wire.bytes_out_per_result" -> "bytes",
    "wire.upsert_call_ms" -> "ms", "wire.bytes_in_per_point" -> "bytes",
    "sharded.fanout_per_query" -> "count", "sharded.merge_ms" -> "ms",
    "ops.exact_dedup_s" -> "s", "ops.minhash_candidates_s" -> "s",
    "ops.connected_components_s" -> "s", "ops.quality_filter_s" -> "s",
    "ops.candidate_pairs" -> "count", "ops.true_pairs_per_candidate" -> "ratio",
    "jvm.gc_ms" -> "ms", "jvm.gc_count" -> "count",
    "setup.generate_s" -> "s", "setup.store_write_s" -> "s",
    "setup.hnsw_build_s" -> "s", "setup.payload_index_s" -> "s",
    "setup.server_start_s" -> "s", "setup.warmup_s" -> "s",
    "self.client_ms" -> "ms", "self.catalyst_ms" -> "ms", "self.spark_ms" -> "ms",
    "self.sharded_ms" -> "ms", "self.wire_ms" -> "ms", "self.store_ms" -> "ms",
    "self.ops_ms" -> "ms",
    "trace.overhead_pct" -> "%", "trace.fidelity" -> "ratio")

  /** Spark listener deltas since `before`, per unit operation. */
  def spark(ctx: Ctx, before: Option[Map[String, Long]], ops: Long): Map[String, Double] =
    (ctx.probe, before) match {
      case (Some(p), Some(b)) =>
        org.apache.spark.ListenerDrain(ctx.spark.sparkContext)
        val a = p.snapshot
        val q = math.max(ops, 1L).toDouble
        def d(k: String): Double = (a(k) - b(k)).toDouble
        Map("spark.jobs_per_query" -> d("jobs") / q,
          "spark.tasks_per_query" -> d("tasks") / q,
          "spark.executor_cpu_ms" -> d("cpu_ns") / 1e6 / q,
          "spark.executor_run_ms" -> d("run_ms") / q,
          "spark.scheduler_wait_ms" -> d("wait_ms") / q,
          "spark.shuffle_write_bytes" -> d("shuffle_write") / q,
          "spark.shuffle_read_bytes" -> d("shuffle_read") / q,
          "spark.failed_tasks" -> d("failed_tasks"))
      case _ => Map.empty
    }

  /** Rows the connector's scans produced per executor CPU second. */
  def rowsPerCpuS(ctx: Ctx, before: Option[Map[String, Long]], rows: Double): Double =
    (ctx.probe, before) match {
      case (Some(p), Some(b)) =>
        org.apache.spark.ListenerDrain(ctx.spark.sparkContext)
        val cpuS = (p.snapshot("cpu_ns") - b("cpu_ns")) / 1e9
        if (cpuS > 0) rows / cpuS else 0.0
      case _ => 0.0
    }

  /** Self time per layer of the spans started at or after `sinceNs`, in
    * ms per unit operation.
    */
  def selfTimes(tracer: Tracer, sinceNs: Long, ops: Long): Map[String, Double] = {
    val q = math.max(ops, 1L).toDouble
    tracer.selfNsByLayer(tracer.all.filter(_.startNs >= sinceNs))
      .map { case (layer, ns) => s"self.${layer}_ms" -> ns / 1e6 / q }
  }

  /** Fidelity and overhead of the traced run. `pass(traced)` runs the same
    * operations and returns what they produced and the counter deltas they
    * caused; it runs untraced, traced, then untraced again. The first two
    * must agree exactly; the overhead (percent) compares the traced pass
    * with the mean of the untraced ones.
    */
  def fidelity(workload: String, tracer: Tracer)(pass: Boolean => (Any, Any)): (Boolean, Double) = {
    def run(traced: Boolean) = {
      tracer.enabled = traced
      val t0 = System.nanoTime()
      val out = pass(traced)
      (out, (System.nanoTime() - t0) / 1e6)
    }
    val ((outA, cA), msA) = run(traced = false)
    val ((outB, cB), msB) = run(traced = true)
    val (_, msA2) = run(traced = false)
    tracer.enabled = true
    val ok = outA == outB && cA == cB
    if (!ok) Console.err.println(s"[perfbench] $workload: traced run diverged: $cA vs $cB")
    (ok, 100.0 * (msB / ((msA + msA2) / 2.0) - 1.0))
  }

  /** Bypass assertions: a workload that stops reaching (or starts
    * reaching) a layer fails loudly instead of measuring something else.
    */
  def bypass(workload: String, layers: collection.Map[String, Double],
             mustBePositive: Seq[String], mustBeZero: Seq[String]): Boolean = {
    val bad = mustBePositive.filterNot(k => layers.getOrElse(k, 0.0) > 0.0) ++
      mustBeZero.filterNot(k => layers.getOrElse(k, 0.0) == 0.0)
    bad.foreach(k => Console.err.println(
      s"[perfbench] $workload: bypass assertion failed on $k = ${layers.getOrElse(k, 0.0)}"))
    bad.isEmpty
  }
}
