package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}

/** One benchmark run:
  * `Main --workload W --seed N --seconds S --trace 0|1 --dir RUN_DIR`.
  * Sets the workload up [[SetupReps]] times (reporting the median), runs
  * the measured phase on the last set-up, checks outputs, and prints a
  * report line followed by the result line.
  */
object Main {
  val Workloads: Seq[String] = Seq("search", "batch", "analytics", "ingest", "curate")
  val SetupReps = 3

  /** End-to-end metrics of the result line (BENCHMARK.json `end_to_end`). */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "work_per_s" -> "1/s",
    "retained_heap_mb" -> "MB", "result_quality" -> "ratio")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, dir: File)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload '$w' (one of ${Workloads.mkString(", ")})")
    val trace = need("trace")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1, got '$trace'")
    val seconds = need("seconds").toInt
    require(seconds >= 1, "--seconds must be at least 1")
    Args(w, need("seed").toLong, seconds, trace == "1", new File(need("dir")))
  }

  def make(name: String, ctx: Ctx): Workload = name match {
    case "search" => new SearchWorkload(ctx)
    case "batch" => new BatchWorkload(ctx)
    case "analytics" => new AnalyticsWorkload(ctx)
    case "ingest" => new IngestWorkload(ctx)
    case "curate" => new CurateWorkload(ctx)
  }

  def session(cpus: Int, dir: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(dir, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(dir, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Failed or wrong-result operations ÷ attempted (1 when none ran). */
  def failedFrac(attempted: Long, failed: Long): Double =
    if (attempted == 0L) 1.0 else failed.toDouble / attempted

  private def num(x: Double): JValue =
    if (x.isNaN || x.isInfinite) JNull else JDouble(x)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val load0 = Jvm.loadAverage()
    val cpus = Runtime.getRuntime.availableProcessors()
    a.dir.mkdirs()
    val storeRoot = new File(a.dir, "stores")
    val spark = session(cpus, a.dir)
    val tracer = new Tracer(a.trace)
    val probe = if (a.trace) Some(new SparkProbe) else None
    probe.foreach(spark.sparkContext.addSparkListener)
    val ctx = new Ctx(spark, a.seed, cpus, tracer, probe)

    // several full set-ups; the last one serves the measured phase
    val setupTimes = IndexedSeq.newBuilder[Double]
    val stepTimes = IndexedSeq.newBuilder[Steps]
    var w: Workload = null
    (0 until SetupReps).foreach { r =>
      val dir = new File(storeRoot, s"setup$r")
      val steps = new Steps
      val cand = make(a.workload, ctx)
      val t0 = System.nanoTime()
      cand.setup(dir, s"r$r", steps)
      setupTimes += (System.nanoTime() - t0) / 1e9
      stepTimes += steps
      if (r < SetupReps - 1) { cand.close(); Workload.delete(dir) }
      else w = cand
    }
    val (gcN0, gcMs0) = Jvm.gc()
    val out = w.measure(a.seconds.toDouble)
    val (gcN1, gcMs1) = Jvm.gc()
    val heapMb = Jvm.retainedHeapMb()
    w.close()
    val load1 = Jvm.loadAverage()

    val setupS = Stats.median(setupTimes.result())
    val steps = stepTimes.result()
    val stepMedians = steps.flatMap(_.times.keys).distinct.map { k =>
      s"setup.${k}_s" -> Stats.median(steps.map(_.times.getOrElse(k, 0.0)))
    }.toMap
    val e2e = Map("setup_s" -> setupS, "op_p50_ms" -> out.opP50Ms,
      "work_per_s" -> out.workPerS, "retained_heap_mb" -> heapMb,
      "result_quality" -> out.quality)
    val layers = Layers.Names.map { case (k, _) =>
      k -> (out.layers ++ stepMedians ++ Map(
        "jvm.gc_ms" -> (gcMs1 - gcMs0).toDouble,
        "jvm.gc_count" -> (gcN1 - gcN0).toDouble)).getOrElse(k, 0.0)
    }
    val failedFrac = Main.failedFrac(out.attempted, out.failed)

    val env = JObject(
      "workload" -> JString(a.workload), "seed" -> JLong(a.seed),
      "seconds" -> JInt(a.seconds), "trace" -> JBool(a.trace),
      "nproc" -> JInt(cpus),
      "spark_graft_cpus" -> sys.env.get("SPARK_GRAFT_CPUS").map(JString(_)).getOrElse(JNull),
      "spark_master" -> JString(spark.sparkContext.master),
      "shuffle_partitions" -> JString(spark.conf.get("spark.sql.shuffle.partitions")),
      "heap_max_mb" -> JDouble(Runtime.getRuntime.maxMemory / (1024.0 * 1024.0)),
      "load_avg_start" -> num(load0), "load_avg_end" -> num(load1),
      "git_commit" -> JString(sys.props.getOrElse("perfbench.commit", "unknown")),
      "source_digest" -> JString(sys.props.getOrElse("perfbench.digest", "unknown")),
      "java" -> JString(sys.props.getOrElse("java.version", "")))
    val report = JObject(
      "env" -> env,
      "failed_frac" -> JDouble(failedFrac),
      "setup_s_each" -> JArray(setupTimes.result().map(JDouble(_)).toList),
      "named" -> JObject(out.named.map(m =>
        m.name -> JObject("value" -> num(m.value), "unit" -> JString(m.unit))).toList),
      "end_to_end" -> JObject(EndToEnd.map { case (k, u) =>
        k -> JObject("value" -> num(e2e(k)), "unit" -> JString(u)) }.toList),
      "per_layer" -> JObject(layers.map { case (k, v) =>
        k -> JObject("value" -> num(v), "unit" -> JString(Layers.Names.toMap.apply(k))) }.toList))
    val reportText = compact(render(report))
    val rd = new File(a.dir, "result.json")
    java.nio.file.Files.write(rd.toPath, reportText.getBytes("UTF-8"))
    if (a.trace) {
      val sp = new java.io.PrintWriter(new File(a.dir, "spans.jsonl"), "UTF-8")
      try tracer.all.foreach(s => sp.println(Tracer.toJson(s))) finally sp.close()
    }
    Workload.delete(storeRoot)

    val metrics: Seq[(String, Double, String)] =
      if (a.trace) layers.map { case (k, v) => (k, v, Layers.Names.toMap.apply(k)) }
      else EndToEnd.map { case (k, u) => (k, e2e(k), u) }
    val result = JObject(
      "correct" -> JBool(out.correct && out.failed == 0 &&
        metrics.forall(m => !m._2.isNaN && !m._2.isInfinite)),
      "attempted" -> JLong(out.attempted),
      "failed" -> JLong(out.failed),
      "metrics" -> JObject(metrics.map { case (k, v, u) =>
        k -> JObject("value" -> num(v), "unit" -> JString(u)) }.toList))
    println(reportText)
    println(compact(render(result)))
    System.out.flush()
    spark.stop()
  }
}
