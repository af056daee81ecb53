package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** What a workload hands back after its measured phase. */
final case class Metric(name: String, value: Double, unit: String)

final case class Outcome(
    attempted: Long,
    failed: Long,
    correct: Boolean,
    /** Median latency of the workload's unit operation. */
    opP50Ms: Double,
    /** Units of work completed per second of the measured phase. */
    workPerS: Double,
    /** Result quality: recall for search and curate, share of outputs
      * matching the oracle or model for analytics and ingest.
      */
    quality: Double,
    /** The workload's own end-to-end metrics, by the names in README.md. */
    named: Seq[Metric],
    /** Per-layer metrics (traced run). */
    layers: Map[String, Double])

/** Shared state of one benchmark process. */
final class Ctx(val spark: SparkSession, val seed: Long, val cpus: Int,
                val tracer: Tracer, val probe: Option[SparkProbe]) {
  /** Whether this is the traced run (fixed for the process). */
  val traced: Boolean = tracer.enabled
}

/** Named set-up steps with their wall time in seconds. */
final class Steps {
  val times = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  def time[T](name: String, tracer: Tracer)(body: => T): T = {
    val t0 = System.nanoTime()
    try tracer.span("setup", name)(body)
    finally times(name) = times.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }
}

trait Workload {
  /** Generate inputs, write stores, build sidecars, start servers and
    * warm up, under `dir`. Registry names carry `tag` so several set-ups
    * can coexist in one process.
    */
  def setup(dir: File, tag: String, steps: Steps): Unit

  /** The closed-loop measured phase. */
  def measure(seconds: Double): Outcome

  /** Stop servers and unregister stores. */
  def close(): Unit
}

object Workload {
  val Format = "graft.sources.CollectionDataSource"

  val PointSchema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("payload", StringType, nullable = true),
    StructField("vector", ArrayType(FloatType, containsNull = true), nullable = true)))

  def frame(spark: SparkSession, ps: Seq[GenPoint]): DataFrame = {
    val rows = new java.util.ArrayList[Row](ps.length)
    ps.foreach(p => rows.add(Row(p.id, p.payload, p.vec.toSeq)))
    spark.createDataFrame(rows, PointSchema)
  }

  def dirBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.iterator.map(dirBytes).sum).getOrElse(0L)

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete(): Unit
  }

  /** Closed loop: `clients` threads each run `op(client, i)` back to back
    * until the deadline; returns the number of operations started.
    */
  def closedLoop(clients: Int, seconds: Double)(op: (Int, Int) => Unit): Long = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val started = new java.util.concurrent.atomic.AtomicInteger(0)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = (0 until clients).map { c =>
      val t = new Thread(() => {
        try {
          while (System.nanoTime() < deadline) op(c, started.getAndIncrement())
        } catch { case e: Throwable => errors.add(e) }
      }, s"perfbench-client-$c")
      t.start(); t
    }
    ts.foreach(_.join())
    if (!errors.isEmpty) throw errors.peek()
    started.get.toLong
  }

  /** Runs `op` back to back for `seconds`, at least once. */
  def repeatFor(seconds: Double)(op: Int => Unit): Int = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (i == 0 || System.nanoTime() < deadline) { op(i); i += 1 }
    i
  }

  /** Milliseconds since `t0` (System.nanoTime). */
  def msSince(t0: Long): Double = (System.nanoTime() - t0) / 1e6
}
