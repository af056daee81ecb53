package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.collections.{CollectionDescriptor, DenseField}
import graft.sources._

/** SQL over one sealed parquet collection through the connector (no
  * wire, no index): one client runs rounds of a fixed query mix. Every
  * query decodes the collection from parquet.
  */
final class AnalyticsWorkload(ctx: Ctx) extends Workload {
  import AnalyticsWorkload._
  import Workload._

  private val spark = ctx.spark
  private val tracer = ctx.tracer
  private var storeName = ""
  private var rawDir = ""
  private var tag = ""
  private var filterCat = 0
  private var qvecs: IndexedSeq[Array[Double]] = IndexedSeq.empty
  private var store: ParquetCollectionStore = _

  private def view(t: String): String = s"pb_${tag}_$t"

  def setup(dir: File, tag0: String, steps: Steps): Unit = {
    tag = tag0
    val (points, dim) = steps.time("generate", tracer) {
      val ps = Gen.points(ctx.seed + 1000L, N, Dim, Clusters, Cats)
      val r = new java.util.SplittableRandom(ctx.seed + 2000L)
      filterCat = r.nextInt(Cats)
      qvecs = Gen.queries(ctx.seed + 1000L, 4, Dim, Clusters, Cats, 0.0).map(_._1)
      (ps, Dim)
    }
    steps.time("store_write", tracer) {
      val df = frame(spark, points)
      val d = new File(dir, "collection").getAbsolutePath
      ParquetCollectionStore.write(df, d, numFiles = 4)
      // the raw generated rows, read by the oracle with built-in Spark only
      rawDir = new File(dir, "raw").getAbsolutePath
      df.write.parquet(rawDir)
      storeName = s"pb-analytics-$tag"
      store = new ParquetCollectionStore(d, "c",
        CollectionDescriptor("c", Seq(DenseField("vector", dim)), named = false))
      CollectionStores.register(storeName, store)
      def reader = spark.read.format(Format).option("store", storeName).option("collection", "c")
      reader.load().createOrReplaceTempView(view("pts"))
      reader.option("filter", s"cat:eq:$filterCat").load().createOrReplaceTempView(view("pts_f"))
      spark.read.parquet(rawDir).createOrReplaceTempView(view("raw"))
      val dimRows = new java.util.ArrayList[Row]()
      (0 until Cats).foreach(c => dimRows.add(Row(c, s"segment-${c % 5}", 1.0 + c % 3)))
      spark.createDataFrame(dimRows, StructType(Seq(
        StructField("cat", IntegerType, nullable = false),
        StructField("name", StringType, nullable = false),
        StructField("weight", DoubleType, nullable = false))))
        .createOrReplaceTempView(view("dim"))
    }
  }

  /** The round's query mix, engine form (connector views, graft functions). */
  def queries(round: Int): Seq[Query] = {
    val q = qvecs(round % qvecs.length)
    val qArr = q.map(x => s"CAST($x AS DOUBLE)").mkString("array(", ",", ")")
    val pts = view("pts")
    Seq(
      Query("scan", "projection",
        s"SELECT count(id) AS n, max(id) AS mx, sum(length(payload)) AS bytes FROM $pts",
        s"SELECT count(id) AS n, max(id) AS mx, sum(length(payload)) AS bytes FROM ${view("raw")}"),
      Query("scan", "filter_range",
        s"SELECT count(id) AS n, sum(json_get_float(payload, 'price')) AS s " +
          s"FROM ${view("pts_f")} WHERE id > '$LowId' AND id < '$HighId'",
        s"SELECT count(id) AS n, sum(CAST(get_json_object(payload, '$$.price') AS DOUBLE)) AS s " +
          s"FROM ${view("raw")} WHERE CAST(get_json_object(payload, '$$.cat') AS INT) = $filterCat " +
          s"AND id > '$LowId' AND id < '$HighId'"),
      Query("json", "region_groupby",
        s"SELECT payload->>'region' AS region, count(*) AS n, " +
          s"sum(json_get_int(payload, 'qty')) AS qty FROM $pts GROUP BY payload->>'region'",
        s"SELECT get_json_object(payload, '$$.region') AS region, count(*) AS n, " +
          s"sum(CAST(get_json_object(payload, '$$.qty') AS BIGINT)) AS qty FROM ${view("raw")} " +
          s"GROUP BY get_json_object(payload, '$$.region')"),
      Query("vector", "cosine_topk",
        s"SELECT id, v_cosine(vector, $qArr) AS s FROM $pts ORDER BY s DESC, id LIMIT 10",
        s"SELECT id, aggregate(zip_with(vector, $qArr, (a, b) -> CAST(a AS DOUBLE) * b), " +
          s"CAST(0 AS DOUBLE), (acc, x) -> acc + x) / (sqrt(aggregate(vector, CAST(0 AS DOUBLE), " +
          s"(acc, a) -> acc + CAST(a AS DOUBLE) * CAST(a AS DOUBLE))) * sqrt(aggregate($qArr, " +
          s"CAST(0 AS DOUBLE), (acc, b) -> acc + b * b))) AS s FROM ${view("raw")} " +
          s"ORDER BY s DESC, id LIMIT 10"),
      Query("join", "dimension_join",
        s"SELECT d.name, count(*) AS n, max(p.id) AS last_id, " +
          s"sum(json_get_float(p.payload, 'price') * d.weight) AS s " +
          s"FROM $pts p JOIN ${view("dim")} d ON json_get_int(p.payload, 'cat') = d.cat GROUP BY d.name",
        s"SELECT d.name, count(*) AS n, max(p.id) AS last_id, " +
          s"sum(CAST(get_json_object(p.payload, '$$.price') AS DOUBLE) * d.weight) AS s " +
          s"FROM ${view("raw")} p JOIN ${view("dim")} d " +
          s"ON CAST(get_json_object(p.payload, '$$.cat') AS BIGINT) = d.cat GROUP BY d.name"))
  }

  private def rowsOf(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq)

  private def counters(): Map[String, Long] =
    Map("files_opened" -> store.filesOpened.get, "row_groups_read" -> store.rowGroupsRead.get,
      "hnsw_segments_loaded" -> store.hnswSegmentsLoaded.get,
      "hnsw_filtered_walk_serves" -> store.hnswFilteredWalkServes.get,
      "hnsw_filtered_exact_serves" -> store.hnswFilteredExactServes.get)

  /** Runs one query; traced, as plan and execute spans. */
  private def run(q: Query, phases: Option[PhaseTotals]): Seq[Seq[Any]] =
    if (!tracer.enabled) rowsOf(spark.sql(q.sql))
    else tracer.span("client", q.name, req = tracer.newRequest()) {
      val df = tracer.span("catalyst", "analyze")(spark.sql(q.sql))
      tracer.span("catalyst", "plan")(df.queryExecution.executedPlan)
      val rows = tracer.span("spark", "execute")(rowsOf(df))
      phases.foreach(_.add(df))
      rows
    }

  def measure(seconds: Double): Outcome = {
    // untimed: the JIT compiles the mix's code before the clock starts
    Workload.repeatFor(WarmupS)(r => queries(r).foreach(run(_, None)))
    val tally = new Tally
    val layers = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var fidelityOk = true
    if (ctx.traced) {
      // the same round untraced and traced must return identical rows and
      // read identically from the store
      val (ok, overhead) = Layers.fidelity("analytics", tracer) { _ =>
        val c0 = counters()
        val out = queries(0).map(q => run(q, None))
        (out, counters().map { case (k, v) => k -> (v - c0(k)) })
      }
      fidelityOk = ok
      layers("trace.overhead_pct") = overhead
    }

    val phases = new PhaseTotals
    val perClass = scala.collection.mutable.Map.empty[String, Vector[Double]].withDefaultValue(Vector.empty)
    val roundMs = Vector.newBuilder[Double]
    val got = Vector.newBuilder[(Query, Seq[Seq[Any]])]
    val probe0 = ctx.probe.map(_.snapshot)
    val c0 = counters()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var rounds = 0
    var queriesRun = 0
    while (System.nanoTime() < deadline || rounds == 0) {
      val r0 = System.nanoTime()
      queries(rounds).foreach { q =>
        val s = System.nanoTime()
        tally.attempt(run(q, Some(phases))).foreach(rows => got += ((q, rows)))
        perClass(q.cls) = perClass(q.cls) :+ msSince(s)
        queriesRun += 1
      }
      roundMs += msSince(r0)
      rounds += 1
    }
    val elapsed = (System.nanoTime() - t0) / 1e9
    val c1 = counters()

    // verification: every result against built-in Spark over the raw rows
    val oracle = scala.collection.mutable.Map.empty[String, Seq[Seq[Any]]]
    val results = got.result()
    results.foreach { case (q, rows) =>
      val want = oracle.getOrElseUpdate(q.oracleSql, rowsOf(spark.sql(q.oracleSql)))
      tally.record(Checks.sameRows(rows, want))
    }
    val ok = results.count { case (q, rows) => Checks.sameRows(rows, oracle(q.oracleSql)) }
    val quality = ok.toDouble / math.max(results.length, 1)
    val rms = roundMs.result()
    val named = Seq(
      Metric("analytics_round_p50_s", Stats.median(rms) / 1000.0, "s"),
      Metric("rounds", rounds.toDouble, "count"),
      Metric("queries", queriesRun.toDouble, "count"))

    var bypassOk = true
    if (ctx.traced) {
      val q = math.max(queriesRun, 1).toDouble
      layers ++= phases.perQuery(queriesRun)
      layers ++= Layers.spark(ctx, probe0, queriesRun)
      layers("connector.scan_partitions") = phases.scanPartitions / q
      layers("connector.rows_out") = phases.scanRows / q
      layers("connector.rows_per_cpu_s") = Layers.rowsPerCpuS(ctx, probe0, phases.scanRows)
      Seq("scan", "json", "vector", "join").foreach { c =>
        layers(s"analytics.${c}_p50_ms") = Stats.median(perClass(c))
      }
      layers("store.files_opened") = (c1("files_opened") - c0("files_opened")) / q
      layers("store.row_groups_read") = (c1("row_groups_read") - c0("row_groups_read")) / q
      Seq("hnsw_segments_loaded", "hnsw_filtered_walk_serves", "hnsw_filtered_exact_serves")
        .foreach(k => layers(s"store.$k") = (c1(k) - c0(k)).toDouble)
      layers("store.hnsw_resident_bytes") = store.hnswResidentBytes.toDouble
      layers ++= Layers.selfTimes(tracer, t0, queriesRun)
      layers("trace.fidelity") = if (fidelityOk) 1.0 else 0.0
      // no wire and no index on this workload; the connector must decode
      bypassOk = Layers.bypass("analytics", layers,
        mustBePositive = Seq("connector.rows_out", "store.files_opened"),
        mustBeZero = Seq("wire.requests_per_query", "wire.bytes_out_per_query",
          "store.hnsw_segments_loaded", "store.hnsw_resident_bytes",
          "store.hnsw_filtered_walk_serves", "store.hnsw_filtered_exact_serves"))
    }
    Outcome(tally.attempted.get, tally.failed.get,
      correct = fidelityOk && bypassOk && quality == 1.0,
      opP50Ms = Stats.median(rms), workPerS = queriesRun / elapsed, quality = quality,
      named = named, layers = layers.toMap)
  }

  /** Queries in one round of the mix. */
  def queriesPerRound: Int = queries(0).length

  /** Collection rows one round reads (every query scans the collection). */
  def rowsPerRound: Long = queriesPerRound.toLong * N

  def close(): Unit = {
    Seq("pts", "pts_f", "raw", "dim").foreach(t => spark.catalog.dropTempView(view(t)))
    if (storeName.nonEmpty) CollectionStores.remove(storeName)
  }
}

/** One query of the mix: its class (the per-layer split), a name, the
  * engine SQL, and the oracle SQL over the raw rows with built-ins only.
  */
final case class Query(cls: String, name: String, sql: String, oracleSql: String)

object AnalyticsWorkload {
  val N = 12000
  val Dim = 64
  val Clusters = 16
  val Cats = 20
  val LowId = "p0002000"
  val HighId = "p0010000"
  /** Seconds of untimed rounds before the measured phase. */
  val WarmupS = 10.0
}
