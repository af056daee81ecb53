package perfbench

import java.io.File

/** Batch work over sealed parquet: the `analytics` query mix (connector
  * decode and `graft.functions`) and the `curate` pipeline (`graft.ops`)
  * in one process, so one run covers both layers. Each gets half of the
  * measured phase, one after the other, so each keeps its own output
  * checks, traced windows and bypass assertions. The unit operation is a
  * batch round, one query mix plus one curation pass, timed as the sum of
  * their medians.
  */
final class BatchWorkload(ctx: Ctx) extends Workload {
  private val analytics = new AnalyticsWorkload(ctx)
  private val curate = new CurateWorkload(ctx)

  def setup(dir: File, tag: String, steps: Steps): Unit = {
    analytics.setup(new File(dir, "analytics"), tag, steps)
    curate.setup(new File(dir, "curate"), tag, steps)
  }

  def measure(seconds: Double): Outcome = {
    val a = analytics.measure(seconds / 2.0)
    val c = curate.measure(seconds / 2.0)
    val roundMs = a.opP50Ms + c.opP50Ms
    val rowsPerRound = analytics.rowsPerRound + curate.docCount
    Outcome(a.attempted + c.attempted, a.failed + c.failed, a.correct && c.correct,
      opP50Ms = roundMs,
      // collection rows and corpus documents read per second at the
      // median round
      workPerS = rowsPerRound / (roundMs / 1000.0),
      quality = math.min(a.quality, c.quality),
      named = a.named ++ c.named :+ Metric("batch_round_p50_ms", roundMs, "ms"),
      layers = BatchWorkload.merge(a.layers, c.layers, analytics.queriesPerRound))
  }

  def close(): Unit = {
    curate.close()
    analytics.close()
  }
}

object BatchWorkload {

  /** Per-layer metrics of the two halves. Where both report a metric,
    * per-operation Spark and self times become per batch round (the
    * analytics per-query value times the queries of a mix, plus the curate
    * per-pass value), failed tasks add up, tracing overhead is the mean and
    * fidelity the minimum; otherwise analytics' value stands (curate reports
    * connector metrics only for its bypass assertion).
    */
  def merge(a: Map[String, Double], c: Map[String, Double], queriesPerRound: Int): Map[String, Double] =
    (a.keySet ++ c.keySet).iterator.map { k =>
      val v = (a.get(k), c.get(k)) match {
        case (Some(x), Some(y)) =>
          if (k == "trace.overhead_pct") (x + y) / 2.0
          else if (k == "trace.fidelity") math.min(x, y)
          else if (k == "spark.failed_tasks") x + y
          else if (k.startsWith("spark.") || k.startsWith("self.")) x * queriesPerRound + y
          else x
        case (x, y) => x.orElse(y).get
      }
      k -> v
    }.toMap
}
