package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

import graft.collections.CollectionDescriptor
import graft.sources._

/** One recorded span: a call the benchmark made into a layer. */
final case class Span(id: Long, parent: Long, req: Long, layer: String,
                      name: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Disabled, it runs the body and records
  * nothing. Parents follow the calling thread; a call that hops threads
  * names its parent explicitly.
  */
final class Tracer(@volatile var enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)
  private val current = new ThreadLocal[(Long, Long)] { // (span, request)
    override def initialValue(): (Long, Long) = (0L, 0L)
  }

  def newRequest(): Long = ids.incrementAndGet()

  def currentSpan: (Long, Long) = current.get

  def span[T](layer: String, name: String, req: Long = -1L,
              parent: Option[(Long, Long)] = None)(body: => T): T =
    if (!enabled) body
    else {
      val outer = current.get
      val (pSpan, pReq) = parent.getOrElse(outer)
      val id = ids.incrementAndGet()
      val r = if (req >= 0L) req else pReq
      current.set((id, r))
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, pSpan, r, layer, name, t0, System.nanoTime()))
        current.set(outer)
      }
    }

  def all: IndexedSeq[Span] = {
    import scala.jdk.CollectionConverters._
    spans.asScala.toIndexedSeq.sortBy(_.id)
  }

  /** Self time per layer: each span's duration minus the part of its
    * interval covered by its children (overlapping children count once).
    */
  def selfNsByLayer(ss: IndexedSeq[Span] = all): Map[String, Long] = {
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.layer).map { case (layer, xs) =>
      layer -> xs.iterator.map(s => s.durNs - Tracer.covered(s,
        kids.getOrElse(s.id, IndexedSeq.empty))).sum
    }
  }
}

object Tracer {
  /** Nanoseconds of `s` covered by the union of the children intervals. */
  def covered(s: Span, children: Seq[Span]): Long = {
    val iv = children.map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      .filter(t => t._2 > t._1).sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }

  def toJson(s: Span): String =
    s"""{"id":${s.id},"parent":${s.parent},"req":${s.req},"layer":"${s.layer}",""" +
      s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
}

/** A read-path timing wrapper. It forwards EVERY [[CollectionStore]]
  * method to `inner` (the trait's defaults would otherwise turn an
  * index-served search into a brute-force scan), and times searches as
  * spans. Only ever registered on read paths: the connector's commit path
  * and the servers' write paths dispatch on the concrete store class.
  *
  * Linking: `parents` maps a query array (which the sharded store passes
  * unchanged to its members) or a query vector's option text to the span
  * that issued it.
  */
final class TimedStore(val inner: CollectionStore, layer: String, tracer: Tracer,
                       parents: java.util.concurrent.ConcurrentHashMap[AnyRef, (Long, Long)])
    extends CollectionStore {
  val searches = new AtomicLong(0L)

  override def collectionInfo(collection: String): CollectionDescriptor =
    inner.collectionInfo(collection)
  override def pointCount(collection: String): Long = inner.pointCount(collection)
  override def collectionNames: Seq[String] = inner.collectionNames
  override def queryPoints(collection: String, from: Long, until: Long,
                           withPayload: Boolean, vectorFields: Seq[String],
                           limit: Option[Int], idFilter: Option[Set[String]],
                           idLower: Option[String]): Iterator[Point] =
    inner.queryPoints(collection, from, until, withPayload, vectorFields, limit,
      idFilter, idLower)
  override def countMatching(collection: String, idFilter: Option[Set[String]],
                             idLower: Option[String]): Long =
    inner.countMatching(collection, idFilter, idLower)
  override def queryPointsFiltered(collection: String, from: Long, until: Long,
                                   withPayload: Boolean, vectorFields: Seq[String],
                                   limit: Option[Int], idFilter: Option[Set[String]],
                                   idLower: Option[String],
                                   pfilter: PayloadFilter): Iterator[Point] =
    inner.queryPointsFiltered(collection, from, until, withPayload, vectorFields,
      limit, idFilter, idLower, pfilter)
  override def countMatchingFiltered(collection: String, idFilter: Option[Set[String]],
                                     idLower: Option[String],
                                     pfilter: PayloadFilter): Long =
    inner.countMatchingFiltered(collection, idFilter, idLower, pfilter)
  override def searchPoints(collection: String, spec: SearchSpec, withPayload: Boolean,
                            vectorFields: Seq[String]): Seq[(Point, Double)] =
    timed(spec)(inner.searchPoints(collection, spec, withPayload, vectorFields))
  override def searchPointsFiltered(collection: String, spec: SearchSpec,
                                    withPayload: Boolean, vectorFields: Seq[String],
                                    pfilter: PayloadFilter): Seq[(Point, Double)] =
    timed(spec)(inner.searchPointsFiltered(collection, spec, withPayload,
      vectorFields, pfilter))
  override def facetCounts(collection: String, key: String, limit: Int,
                           pfilter: PayloadFilter): Seq[(String, Long)] =
    inner.facetCounts(collection, key, limit, pfilter)
  override def facetCountsFor(collection: String, key: String, values: Set[String],
                              pfilter: PayloadFilter): Map[String, Long] =
    inner.facetCountsFor(collection, key, values, pfilter)
  override def searchTextRanked(collection: String, key: String, terms: Seq[String],
                                k: Int, k1: Double, b: Double): Seq[(String, Double)] =
    inner.searchTextRanked(collection, key, terms, k, k1, b)
  override def textRankPartials(collection: String, key: String,
                                terms: Seq[String]): TextRankPartials =
    inner.textRankPartials(collection, key, terms)
  override def textRankStats(collection: String, key: String,
                             terms: Seq[String]): TextRankStats =
    inner.textRankStats(collection, key, terms)
  override def textRankTopK(collection: String, key: String, terms: Seq[String],
                            k: Int, global: TextRankStats, k1: Double,
                            b: Double): Seq[(String, Double)] =
    inner.textRankTopK(collection, key, terms, k, global, k1, b)
  override def logSize(collection: String): Long = inner.logSize(collection)
  override def logStart(collection: String): Long = inner.logStart(collection)
  override def logEntries(collection: String, from: Long, until: Long): Iterator[LogEntry] =
    inner.logEntries(collection, from, until)

  private def timed[T](spec: SearchSpec)(body: => T): T = {
    searches.incrementAndGet()
    // a member call finds its sharded parent by the query array; the
    // outermost call finds the client's query span by the vector's text
    val byArray = Option(parents.get(spec.query))
    val parent = byArray.orElse(Option(parents.get(spec.query.mkString(","))))
    tracer.span(layer, "search", parent = parent) {
      if (byArray.isEmpty) parents.put(spec.query, tracer.currentSpan)
      try body
      finally if (byArray.isEmpty) parents.remove(spec.query)
    }
  }
}

/** Spark-execution counters from a listener the benchmark registers. */
final class SparkProbe extends SparkListener {
  val jobs = new AtomicLong(0L)
  val tasks = new AtomicLong(0L)
  val failedTasks = new AtomicLong(0L)
  val cpuNs = new AtomicLong(0L)
  val runMs = new AtomicLong(0L)
  val waitMs = new AtomicLong(0L)
  val shuffleWrite = new AtomicLong(0L)
  val shuffleRead = new AtomicLong(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    if (e.taskInfo != null && e.taskInfo.failed) failedTasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      runMs.addAndGet(m.executorRunTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      if (e.taskInfo != null) {
        // scheduler delay: task wall time not spent deserializing,
        // running or serializing the result
        val d = e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime
        waitMs.addAndGet(math.max(0L, d))
      }
    }
    ()
  }

  def snapshot: Map[String, Long] = Map(
    "jobs" -> jobs.get, "tasks" -> tasks.get, "failed_tasks" -> failedTasks.get,
    "cpu_ns" -> cpuNs.get, "run_ms" -> runMs.get, "wait_ms" -> waitMs.get,
    "shuffle_write" -> shuffleWrite.get, "shuffle_read" -> shuffleRead.get)
}

object Jvm {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._

  /** (collections, collection ms) summed over every collector. */
  def gc(): (Long, Long) = {
    val bs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (bs.map(b => math.max(0L, b.getCollectionCount)).sum,
      bs.map(b => math.max(0L, b.getCollectionTime)).sum)
  }

  /** Heap in use after forced collections, in MB. */
  def retainedHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def loadAverage(): Double =
    try {
      val s = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")))
      s.split("\\s+")(0).toDouble
    } catch { case _: Exception => ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage }
}
