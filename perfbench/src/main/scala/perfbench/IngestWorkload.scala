package perfbench

import java.io.File
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.collections.{CollectionDescriptor, DenseField}
import graft.sources._

/** Writes beside reads on one REST server fronting a writable,
  * log-enabled parquet collection. Reads and writes alternate under a
  * lock: a read overlapping a write fails at this engine version (the
  * copy-on-write swap removes files an in-flight read still lists), so
  * each read sees the state of the last acknowledged write.
  * One writer upserts batches (mostly new ids, some overwrites), deletes
  * a few ids every few batches and calls `optimize` on a fixed cadence;
  * one reader runs pushed filtered searches and filtered counts through
  * the connector against the same server.
  */
final class IngestWorkload(ctx: Ctx) extends Workload {
  import IngestWorkload._
  import Workload._

  private val spark = ctx.spark
  private val tracer = ctx.tracer
  private var server: CollectionHttpServer = _
  private var client: RestCollectionStore = _
  private var storeName = ""
  private var clientName = ""
  private var storeDir: File = _
  private var centres: IndexedSeq[Array[Double]] = IndexedSeq.empty

  // the model: what the collection must hold once the writer stops
  private val model = scala.collection.mutable.HashMap.empty[String, String]
  private val live = scala.collection.mutable.ArrayBuffer.empty[String]
  private var nextId = 0

  def setup(dir: File, tag: String, steps: Steps): Unit = {
    val initial = steps.time("generate", tracer) {
      centres = Gen.centres(ctx.seed + 3000L, Clusters, Dim)
      val ps = Gen.points(ctx.seed + 3000L, N0, Dim, Clusters, Cats)
      ps.foreach { p => model(p.id) = p.payload; live += p.id }
      nextId = N0
      ps
    }
    storeDir = new File(dir, "collection")
    val d = storeDir.getAbsolutePath
    steps.time("store_write", tracer) {
      ParquetCollectionStore.write(frame(spark, initial), d, numFiles = 4, withLog = true)
    }
    // No HNSW or payload-index sidecar: absorbing one 500-point batch
    // into either takes 5-9 s on a 4-core host, so a run would see one or
    // two batches (see README.md).
    steps.time("server_start", tracer) {
      storeName = s"pb-ingest-$tag"
      CollectionStores.register(storeName, new ParquetCollectionStore(d, "c", Desc))
      server = new CollectionHttpServer(storeName, poolSize = 4).start()
      client = new RestCollectionStore(server.baseUrl)
      clientName = s"pb-ingest-$tag-client"
      CollectionStores.register(clientName, client)
    }
    steps.time("warmup", tracer) {
      val r = new SplittableRandom(ctx.seed)
      (0 until WarmupReads).foreach(i => read(i, r))
    }
  }

  private def reader(filterCat: Int): org.apache.spark.sql.DataFrameReader =
    spark.read.format(Format).option("store", clientName).option("collection", "c")
      .option("filter", s"cat:eq:$filterCat")

  /** One reader operation: even = filtered top-k search, odd = filtered
    * count. Returns whether its output is well formed.
    */
  private def read(i: Int, r: SplittableRandom): Boolean = {
    val cat = r.nextInt(Cats)
    if (i % 2 == 0) {
      val q = Gen.draw(r, centres, 0.35)
      val df = reader(cat).option("search.field", "vector")
        .option("search.vector", q.mkString(",")).option("search.k", K.toString)
        .load().select("id", "payload", "_score")
      val rows = tracer.span("spark", "search")(df.collect())
      val scores = rows.map(_.getDouble(2))
      rows.length <= K &&
        rows.forall(row => catOf(row.getString(1)).contains(cat)) &&
        scores.toSeq.sliding(2).forall(w => w.length < 2 || w(0) >= w(1))
    } else {
      val n = tracer.span("spark", "count")(reader(cat).load().count())
      n >= 0L
    }
  }

  private def catOf(payload: String): Option[Int] = {
    val k = payload.indexOf("\"cat\":")
    if (k < 0) None
    else Some(payload.drop(k + 6).takeWhile(_.isDigit)).filter(_.nonEmpty).map(_.toInt)
  }

  private def newPoint(r: SplittableRandom, id: String): (Point, String) = {
    val cat = r.nextInt(Cats)
    val payload = Gen.payload(r, cat)
    val v = Gen.draw(r, centres, 0.35).map(_.toFloat)
    (Point(id, Some(payload), dense = Map("vector" -> v)), payload)
  }

  /** (path -> (size, mtime)) of every file under the store directory. */
  private def files(): Map[String, (Long, Long)] = {
    def walk(f: File): Iterator[File] =
      if (f.isDirectory) Option(f.listFiles()).iterator.flatten.flatMap(walk)
      else Iterator(f)
    walk(storeDir).map(f => f.getPath -> ((f.length(), f.lastModified()))).toMap
  }

  def measure(seconds: Double): Outcome = {
    val tally = new Tally
    val layers = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var fidelityOk = true
    if (ctx.traced) {
      // before any write: the same reads untraced and traced must agree and
      // move the server's counters identically
      val (ok, overhead) = Layers.fidelity("ingest", tracer) { _ =>
        val r = new SplittableRandom(ctx.seed + 7L)
        val q0 = server.requestsServed.get
        val b0 = server.bytesOut.get
        val out = (0 until FidelityReads).map(i => read(i, r))
        (out, (server.requestsServed.get - q0, server.bytesOut.get - b0))
      }
      fidelityOk = ok
      layers("trace.overhead_pct") = overhead
    }

    val upsertMs = new ConcurrentLinkedQueue[java.lang.Double]()
    val readMs = new ConcurrentLinkedQueue[java.lang.Double]()
    val searchMs = new ConcurrentLinkedQueue[java.lang.Double]()
    var reads = 0
    val optimizeS = new ConcurrentLinkedQueue[java.lang.Double]()
    val bytesWritten = new java.util.concurrent.atomic.AtomicLong(0L)
    val filesRewritten = new java.util.concurrent.atomic.AtomicLong(0L)
    val bodyBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    var acked = 0L
    var batches = 0
    var writeOps = 0L
    val probe0 = ctx.probe.map(_.snapshot)
    val req0 = server.requestsServed.get
    val out0 = server.bytesOut.get
    val t0 = System.nanoTime()
    val wr = new SplittableRandom(ctx.seed + 11L)
    val rr = new SplittableRandom(ctx.seed + 13L)
    val lock = new java.util.concurrent.locks.ReentrantReadWriteLock(true)
    def exclusively[T](l: java.util.concurrent.locks.Lock)(body: => T): T = {
      l.lock()
      try body finally l.unlock()
    }
    Workload.closedLoop(2, seconds) { (c, _) =>
      if (c == 0) exclusively(lock.writeLock) {
        // writer
        val nNew = (BatchSize * NewShare).toInt
        val over = (0 until BatchSize - nNew).map(_ => live(wr.nextInt(live.length))).distinct
        val fresh = (0 until nNew).map { _ => nextId += 1; f"n$nextId%08d" }
        val batch = (fresh ++ over).map(id => (id, newPoint(wr, id)))
        val pts = batch.map(_._2._1)
        val before = if (ctx.traced) Some(files()) else None
        val s = System.nanoTime()
        val ok = tally.attempt(tracer.span("wire", "upsert")(client.upsertPoints("c", pts))).isDefined
        upsertMs.add(msSince(s))
        writeOps += 1
        if (ok) {
          tally.record(ok = true)
          acked += pts.length
          batch.foreach { case (id, (_, payload)) =>
            if (!model.contains(id)) live += id
            model(id) = payload
          }
        }
        before.foreach { f0 =>
          val f1 = files()
          val changed = f1.filter { case (p, v) => !f0.get(p).contains(v) }
          bytesWritten.addAndGet(changed.values.map(_._1).sum)
          filesRewritten.addAndGet(changed.keys.count(p =>
            new File(p).getParentFile == storeDir && p.endsWith(".parquet")).toLong)
          bodyBytes.addAndGet(WireBytes.upsertBody(pts))
        }
        batches += 1
        if (batches % DeleteEvery == 0) {
          val del = (0 until DeleteSize).map(_ => live(wr.nextInt(live.length))).toSet
          val okD = tally.attempt(tracer.span("wire", "delete")(client.deletePoints("c", del))).isDefined
          writeOps += 1
          if (okD) {
            tally.record(ok = true)
            del.foreach(model.remove)
            live.filterInPlace(model.contains)
          }
        }
        if (batches % OptimizeEvery == 0) {
          val so = System.nanoTime()
          val okO = tally.attempt(tracer.span("store", "optimize")(client.optimize())).isDefined
          writeOps += 1
          if (okO) tally.record(ok = true)
          optimizeS.add((System.nanoTime() - so) / 1e9)
        }
      } else exclusively(lock.readLock) {
        // reader
        val s = System.nanoTime()
        tally.attempt(tracer.span("client", "read", req = tracer.newRequest())(read(reads, rr)))
          .foreach(ok => tally.record(ok))
        readMs.add(msSince(s))
        if (reads % 2 == 0) searchMs.add(msSince(s))
        reads += 1
      }
    }
    val elapsed = (System.nanoTime() - t0) / 1e9
    val reqs = server.requestsServed.get - req0
    val outB = server.bytesOut.get - out0

    // verification: the stored state equals the model, id by id
    val n = client.pointCount("c")
    val got = client.queryPoints("c", 0L, n, withPayload = true, Nil, None)
      .map(p => p.id -> p.payload.getOrElse("")).toMap
    val mismatches = Checks.finalStateMismatches(got, model.toMap)
    tally.record(mismatches == 0)
    val countsOk = (0 until 3).forall { c =>
      reader(c).load().count() == model.valuesIterator.count(p => catOf(p).contains(c))
    }
    tally.record(countsOk)
    if (mismatches > 0)
      Console.err.println(s"[perfbench] ingest: $mismatches ids differ from the model")

    val liveBytes = model.iterator.map { case (id, p) => id.length + p.length + 4L * Dim }.sum
    val spaceAmp = dirBytes(storeDir).toDouble / math.max(liveBytes, 1L)
    val ups = upsertMs.asScala.map(_.doubleValue).toIndexedSeq
    val rds = readMs.asScala.map(_.doubleValue).toIndexedSeq
    val srch = searchMs.asScala.map(_.doubleValue).toIndexedSeq
    val named = Seq(
      Metric("ingest_points_per_s", acked / elapsed, "1/s"),
      Metric("upsert_p50_ms", Stats.median(ups), "ms"),
      Metric("fresh_search_p50_ms", Stats.median(srch), "ms"),
      Metric("fresh_search_p95_ms", Stats.percentile(srch, 95.0), "ms"),
      Metric("fresh_search_tail_percentile", Stats.tailPercentile(srch.length).getOrElse(50.0), "pct"),
      Metric("fresh_count_p50_ms", Stats.median(rds.diff(srch)), "ms"),
      Metric("space_amp", spaceAmp, "ratio"),
      Metric("batches", batches.toDouble, "count"),
      Metric("reads", rds.length.toDouble, "count"))

    var bypassOk = true
    if (ctx.traced) {
      val ops = math.max(rds.length + writeOps, 1L)
      layers ++= Layers.spark(ctx, probe0, rds.length.toLong)
      layers("store.bytes_written_per_point") = bytesWritten.get.toDouble / math.max(acked, 1L)
      layers("store.files_rewritten_per_batch") = filesRewritten.get.toDouble / math.max(batches, 1)
      layers("store.optimize_s") =
        if (optimizeS.isEmpty) 0.0 else Stats.median(optimizeS.asScala.map(_.doubleValue).toSeq)
      layers("wire.requests_per_query") = reqs.toDouble / ops
      layers("wire.bytes_out_per_query") = outB.toDouble / ops
      layers("wire.upsert_call_ms") = Stats.median(ups)
      layers("wire.bytes_in_per_point") = bodyBytes.get.toDouble / math.max(acked, 1L)
      layers ++= Layers.selfTimes(tracer, t0, ops)
      layers("trace.fidelity") = if (fidelityOk) 1.0 else 0.0
      bypassOk = Layers.bypass("ingest", layers,
        mustBePositive = Seq("wire.requests_per_query", "wire.bytes_out_per_query",
          "wire.bytes_in_per_point", "store.bytes_written_per_point"),
        mustBeZero = Nil)
    }
    Outcome(tally.attempted.get, tally.failed.get,
      correct = fidelityOk && bypassOk && mismatches == 0 && countsOk,
      opP50Ms = Stats.median(ups), workPerS = acked / elapsed,
      quality = if (mismatches == 0 && countsOk) 1.0 else 0.0,
      named = named, layers = layers.toMap)
  }

  def close(): Unit = {
    if (server != null) server.stop()
    Seq(storeName, clientName).filter(_.nonEmpty).foreach(CollectionStores.remove)
  }
}

object IngestWorkload {
  val N0 = 5000
  val Dim = 64
  val Clusters = 16
  val Cats = 50
  val K = 10
  val BatchSize = 500
  val NewShare = 0.85
  val DeleteEvery = 3
  val DeleteSize = 50
  val OptimizeEvery = 4
  val WarmupReads = 4
  val FidelityReads = 8

  val Desc: CollectionDescriptor =
    CollectionDescriptor("c", Seq(DenseField("vector", Dim)), named = false)
}
