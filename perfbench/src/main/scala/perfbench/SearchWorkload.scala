package perfbench

import java.io.File
import java.util.concurrent.ConcurrentHashMap

import scala.collection.parallel.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.collections.{CollectionDescriptor, DenseField}
import graft.sources._

/** Read-only serving: pushed top-k through the connector against a
  * sharded store of three gRPC-served parquet shards, each with HNSW and
  * payload-index sidecars. Two closed-loop clients; ~30% of queries carry
  * a ~2%-selective payload filter.
  */
final class SearchWorkload(ctx: Ctx) extends Workload {
  import SearchWorkload._
  import Workload._

  private val spark = ctx.spark
  private val tracer = ctx.tracer
  private val parents = new ConcurrentHashMap[AnyRef, (Long, Long)]()

  private var points: IndexedSeq[GenPoint] = IndexedSeq.empty
  private var byId: Map[String, GenPoint] = Map.empty
  private var queries: IndexedSeq[(Array[Double], Option[Int])] = IndexedSeq.empty
  private var qText: IndexedSeq[String] = IndexedSeq.empty
  private var servers: Seq[CollectionGrpcServer] = Nil
  private var shardNames: Seq[String] = Nil
  private var rawName = ""
  private var tracedName = ""
  private var top: Option[TimedStore] = None
  private var members: Seq[TimedStore] = Nil

  def setup(dir: File, tag: String, steps: Steps): Unit = {
    steps.time("generate", tracer) {
      points = Gen.points(ctx.seed, N, Dim, Clusters, Cats)
      byId = points.map(p => p.id -> p).toMap
      queries = Gen.queries(ctx.seed, Pool, Dim, Clusters, Cats, FilteredShare)
      qText = queries.map(_._1.mkString(","))
    }
    // each step runs on the three shards concurrently (one Spark job each)
    val shards = steps.time("store_write", tracer) {
      val placed = points.groupBy(p => ShardedCollectionStore.assignShard(p.id, Shards))
      (0 until Shards).par.map { i =>
        val d = new File(dir, s"shard$i").getAbsolutePath
        val df = frame(spark, placed.getOrElse(i, IndexedSeq.empty))
        ParquetCollectionStore.write(df, d, numFiles = 2)
        (d, df)
      }.seq
    }
    steps.time("hnsw_build", tracer) {
      shards.par.foreach { case (d, df) =>
        ParquetCollectionStore.writeHnswSidecar(df, d, field = "vector",
          m = 8, efConstruction = 32, numSegments = 1)
      }
    }
    steps.time("payload_index", tracer) {
      shards.par.foreach { case (d, df) =>
        ParquetCollectionStore.writePayloadSidecar(df.select("id", "payload"), d,
          key = "cat", kind = "int")
      }
    }
    steps.time("server_start", tracer) {
      shardNames = shards.indices.map(i => s"pb-search-$tag-shard$i")
      shards.zip(shardNames).foreach { case ((d, _), name) =>
        CollectionStores.register(name, new ParquetCollectionStore(d, "c", Desc, hnswEf = HnswEf))
      }
      servers = shardNames.map(n => new CollectionGrpcServer(n, poolSize = 4).start())
      val clients = servers.map(s => new GrpcCollectionStore(s.host, s.port))
      rawName = s"pb-search-$tag"
      CollectionStores.register(rawName, new ShardedCollectionStore(clients.toIndexedSeq))
      if (ctx.traced) {
        members = clients.map(c => new TimedStore(c, "wire", tracer, parents))
        val t = new TimedStore(new ShardedCollectionStore(members.toIndexedSeq),
          "sharded", tracer, parents)
        top = Some(t)
        tracedName = s"pb-search-$tag-traced"
        CollectionStores.register(tracedName, t)
      }
    }
    steps.time("warmup", tracer) {
      (0 until Warmup).foreach(i => query(rawName, i % Pool))
    }
  }

  private def frameFor(store: String, qi: Int): DataFrame = {
    var r = spark.read.format(Format).option("store", store).option("collection", "c")
      .option("search.field", "vector").option("search.vector", qText(qi))
      .option("search.k", K.toString)
    queries(qi)._2.foreach(c => r = r.option("filter", s"cat:eq:$c"))
    r.load().select("id", "payload", "_score")
  }

  /** One query; rows are (id, payload, score). */
  private def query(store: String, qi: Int): IndexedSeq[(String, String, Double)] =
    frameFor(store, qi).collect().toIndexedSeq
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))

  /** The traced form of [[query]]: plan forcing and execution as spans,
    * planner phase times added to `phases`.
    */
  private def tracedQuery(qi: Int, phases: PhaseTotals): IndexedSeq[(String, String, Double)] =
    tracer.span("client", "query", req = tracer.newRequest()) {
      val df = frameFor(tracedName, qi)
      tracer.span("catalyst", "plan")(df.queryExecution.executedPlan)
      val rows = tracer.span("spark", "execute") {
        parents.put(qText(qi), tracer.currentSpan)
        try df.collect() finally parents.remove(qText(qi))
      }
      phases.add(df)
      rows.toIndexedSeq.map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    }

  private def counters(): Map[String, Long] = {
    val stores = shardNames.map(n => CollectionStores.get(n).asInstanceOf[ParquetCollectionStore])
    Map(
      "requests" -> servers.map(_.requestsServed.get).sum,
      "bytes_in" -> servers.map(_.bytesIn.get).sum,
      "bytes_out" -> servers.map(_.bytesOut.get).sum,
      "files_opened" -> stores.map(_.filesOpened.get).sum,
      "row_groups_read" -> stores.map(_.rowGroupsRead.get).sum,
      "hnsw_segments_loaded" -> stores.map(_.hnswSegmentsLoaded.get).sum,
      "hnsw_resident_bytes" -> stores.map(_.hnswResidentBytes).sum,
      "hnsw_filtered_walk_serves" -> stores.map(_.hnswFilteredWalkServes.get).sum,
      "hnsw_filtered_exact_serves" -> stores.map(_.hnswFilteredExactServes.get).sum)
  }

  /** Validity and recall of one result against the exact top-k. */
  private def check(qi: Int, rows: IndexedSeq[(String, String, Double)],
                    exact: IndexedSeq[(String, Double)]): (Boolean, Double) = {
    val (ok, recall) = Checks.searchResult(rows.map(r => (r._1, r._3)), exact, K,
      queries(qi)._2, queries(qi)._1, byId.get)
    (ok && rows.forall(r => byId.get(r._1).exists(_.payload == r._2)), recall)
  }

  def measure(seconds: Double): Outcome = {
    // untimed: the JIT compiles the query path before the clock starts
    Workload.closedLoop(Clients, WarmupS) { (_, i) =>
      if (ctx.traced) tracedQuery(i % Pool, new PhaseTotals) else query(rawName, i % Pool)
    }
    val tally = new Tally
    val layers = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var fidelityOk = true
    var bypassOk = true
    if (ctx.traced) {
      // the same queries through the raw and the timed topology must
      // return identical rows and move store and wire counters identically
      val (ok, overhead) = Layers.fidelity("search", tracer) { traced =>
        val c0 = counters()
        val out = (0 until FidelityQueries).map(qi =>
          if (traced) tracedQuery(qi, new PhaseTotals) else query(rawName, qi))
        (out, counters().map { case (k, v) => k -> (v - c0(k)) })
      }
      fidelityOk = ok
      layers("trace.overhead_pct") = overhead
    }

    val lat = new ConcurrentHashMap[Int, java.lang.Double]()
    val res = new ConcurrentHashMap[Int, (Int, IndexedSeq[(String, String, Double)])]()
    val phases = new PhaseTotals
    val probe0 = ctx.probe.map(_.snapshot)
    val c0 = counters()
    val t0 = System.nanoTime()
    Workload.closedLoop(Clients, seconds) { (_, i) =>
      val qi = i % Pool
      val s = System.nanoTime()
      tally.attempt(if (ctx.traced) tracedQuery(qi, phases) else query(rawName, qi))
        .foreach(rows => res.put(i, (qi, rows)))
      lat.put(i, msSince(s))
    }
    val elapsed = (System.nanoTime() - t0) / 1e9
    val c1 = counters()

    // verification (after the clock stops): exact top-k per query used
    import scala.jdk.CollectionConverters._
    val used = res.values.asScala.map(_._1).toSet.toIndexedSeq
    val exact = used.par.map(qi =>
      qi -> Checks.exactTopK(points, queries(qi)._1, queries(qi)._2, K)).seq.toMap
    val recalls = res.values.asScala.toIndexedSeq.map { case (qi, rows) =>
      val (ok, recall) = check(qi, rows, exact(qi))
      tally.record(ok)
      recall
    }
    val lats = lat.values.asScala.map(_.doubleValue).toIndexedSeq
    val n = res.size()
    val recall = Stats.mean(recalls)
    val tailP = Stats.tailPercentile(lats.length).getOrElse(50.0)
    val qps = n / elapsed
    val named = Seq(
      Metric("search_p50_ms", Stats.median(lats), "ms"),
      Metric("search_p95_ms", Stats.percentile(lats, 95.0), "ms"),
      Metric("search_tail_percentile", tailP, "pct"),
      Metric("search_qps", qps, "1/s"),
      Metric("recall_at_10", recall, "ratio"),
      Metric("queries", n.toDouble, "count"))

    if (ctx.traced) {
      val d = c1.map { case (k, v) => k -> (v - c0(k)).toDouble }
      val q = math.max(n, 1).toDouble
      val resultRows = res.values.asScala.map(_._2.length.toLong).sum.toDouble
      layers ++= phases.perQuery(n)
      layers ++= Layers.spark(ctx, probe0, n)
      layers("connector.scan_partitions") = phases.scanPartitions / q
      layers("connector.rows_out") = phases.scanRows / q
      layers("connector.rows_per_cpu_s") = Layers.rowsPerCpuS(ctx, probe0, phases.scanRows)
      Seq("files_opened", "row_groups_read", "hnsw_segments_loaded",
        "hnsw_filtered_walk_serves", "hnsw_filtered_exact_serves").foreach { k =>
        layers(s"store.$k") = d(k) / q
      }
      layers("store.hnsw_resident_bytes") = c1("hnsw_resident_bytes").toDouble
      layers("wire.requests_per_query") = d("requests") / q
      layers("wire.bytes_in_per_query") = d("bytes_in") / q
      layers("wire.bytes_out_per_query") = d("bytes_out") / q
      layers("wire.bytes_out_per_result") = d("bytes_out") / math.max(resultRows, 1.0)
      val spans = tracer.all.filter(_.startNs >= t0)
      val kids = spans.groupBy(_.parent)
      val shardedSpans = spans.filter(_.layer == "sharded")
      layers("sharded.fanout_per_query") =
        members.map(_.searches.get).sum.toDouble / math.max(top.map(_.searches.get).getOrElse(0L), 1L)
      layers("sharded.merge_ms") = Stats.mean(shardedSpans.map { s =>
        val slowest = kids.getOrElse(s.id, IndexedSeq.empty).map(_.durNs).maxOption.getOrElse(0L)
        (s.durNs - slowest) / 1e6
      })
      layers ++= Layers.selfTimes(tracer, t0, n)
      layers("trace.fidelity") = if (fidelityOk) 1.0 else 0.0
      // bypass assertions: this workload must reach the wire and must
      // not shuffle
      bypassOk = Layers.bypass("search", layers,
        mustBePositive = Seq("wire.requests_per_query", "wire.bytes_out_per_query"),
        mustBeZero = Seq("spark.shuffle_write_bytes", "spark.shuffle_read_bytes"))
    }
    Outcome(tally.attempted.get, tally.failed.get,
      correct = fidelityOk && bypassOk && recall >= MinRecall,
      opP50Ms = Stats.median(lats), workPerS = qps, quality = recall,
      named = named, layers = layers.toMap)
  }

  def close(): Unit = {
    servers.foreach(_.stop())
    (shardNames :+ rawName :+ tracedName).filter(_.nonEmpty).foreach(CollectionStores.remove)
  }
}

object SearchWorkload {
  val N = 12000
  val Dim = 64
  val Clusters = 24
  val Cats = 50
  val Shards = 3
  val K = 10
  val Pool = 256
  val FilteredShare = 0.3
  val HnswEf = 64
  val Clients = 2
  val Warmup = 4
  /** Seconds of untimed queries before the measured phase. */
  val WarmupS = 6.0
  val FidelityQueries = 12
  /** Mean recall@10 below which the run is reported incorrect. */
  val MinRecall = 0.9

  val Desc: CollectionDescriptor =
    CollectionDescriptor("c", Seq(DenseField("vector", Dim)), named = false)
}
