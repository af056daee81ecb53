package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.ops.{Dedup, TextAnalysis}

/** Batch curation over a generated text corpus with planted exact and
  * near duplicates, read with `spark.read.parquet` (no connector, no
  * store): exact dedup → MinHash-LSH clusters (candidates + connected
  * components) → one survivor per cluster → quality filter. One client
  * runs repeated passes.
  */
final class CurateWorkload(ctx: Ctx) extends Workload {
  import CurateWorkload._
  import Workload._

  private val spark = ctx.spark
  private val tracer = ctx.tracer
  private var corpus: Corpus = _
  private var corpusDir = ""

  def setup(dir: File, tag: String, steps: Steps): Unit = {
    corpus = steps.time("generate", tracer)(Gen.corpus(ctx.seed + 5000L, NBase))
    steps.time("store_write", tracer) {
      corpusDir = new File(dir, "corpus").getAbsolutePath
      docsFrame(corpus.docs).repartition(ctx.cpus).write.parquet(corpusDir)
    }
  }

  private def docsFrame(ds: Seq[Doc]): DataFrame = {
    val rows = new java.util.ArrayList[Row](ds.length)
    // ids are stored as numbers (7 digits, so numeric and string order
    // agree); connected components takes its driver arm for long ids
    ds.foreach(d => rows.add(Row(d.id.toLong, d.text)))
    spark.createDataFrame(rows, StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("text", StringType, nullable = false))))
  }

  private def survivorsOf(kept: DataFrame, comps: DataFrame): DataFrame =
    kept.join(comps.filter(col("id") === col("component")).select("id"), "id")
      .filter(TextAnalysis.qualityScore(col("text")) >= QualityMin)
      .select("id")

  private def idsOf(df: DataFrame): Set[String] = df.collect().map(_.getLong(0).toString).toSet

  private def keptOf(docs: DataFrame): DataFrame =
    docs.join(Dedup.exactDedup(docs, "id", "text").select(col("keeper").as("id")), "id")

  /** One pass; survivors' ids. `staged` materialises each op stage on its
    * own so each gets its own span (the traced run).
    */
  private def pass(docs: DataFrame, staged: Boolean,
                   stageS: Option[scala.collection.mutable.Map[String, Vector[Double]]] = None): Set[String] =
    if (!staged) {
      val kept = keptOf(docs)
      val comps = Dedup.dedupClustersMinhash(kept, "id", "text", Threshold, NumHashes,
        ShingleWidth, Bands)
      idsOf(survivorsOf(kept, comps))
    } else {
      def stage[T](name: String)(body: => T): T = {
        val t0 = System.nanoTime()
        try tracer.span("ops", name)(body)
        finally stageS.foreach(m => m(name) = m.getOrElse(name, Vector.empty) :+
          (System.nanoTime() - t0) / 1e9)
      }
      val kept = stage("exact_dedup") {
        val k = keptOf(docs).persist(StorageLevel.MEMORY_ONLY); k.count(); k
      }
      val pairs = stage("minhash_candidates") {
        val p = Dedup.minhashDedup(kept, "id", "text", Threshold, NumHashes, ShingleWidth, Bands)
          .persist(StorageLevel.MEMORY_ONLY)
        p.count(); p
      }
      val comps = stage("connected_components") {
        val c = Dedup.connectedComponents(kept.select(col("id")), "id", pairs, "a_id", "b_id")
          .persist(StorageLevel.MEMORY_ONLY)
        c.count(); c
      }
      val out = stage("quality_filter")(idsOf(survivorsOf(kept, comps)))
      Seq(kept, pairs, comps).foreach(_.unpersist(blocking = true))
      out
    }

  def measure(seconds: Double): Outcome = {
    val tally = new Tally
    val layers = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val docs = spark.read.parquet(corpusDir)
    val n = corpus.docs.length
    // untimed: the JIT compiles the pipeline's code before the clock starts
    Workload.repeatFor(WarmupS)(_ => pass(docs, staged = ctx.traced))
    var fidelityOk = true
    if (ctx.traced) {
      // the fused pass untraced and the staged pass traced must keep the
      // same survivors
      val (ok, overhead) = Layers.fidelity("curate", tracer)(staged => (pass(docs, staged), ()))
      fidelityOk = ok
      layers("trace.overhead_pct") = overhead
    }

    val stageS = scala.collection.mutable.Map.empty[String, Vector[Double]]
    val passMs = Vector.newBuilder[Double]
    val recalls = Vector.newBuilder[Double]
    var passes = 0
    val probe0 = ctx.probe.map(_.snapshot)
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    while (System.nanoTime() < deadline || passes == 0) {
      val s = System.nanoTime()
      tally.attempt(tracer.span("client", "pass", req = tracer.newRequest())(
        pass(docs, staged = ctx.traced, Some(stageS))))
        .foreach { sv =>
          tally.record(Checks.curateSurvivors(sv, corpus))
          recalls += Checks.pairRecall(sv, corpus)
        }
      passMs += msSince(s)
      passes += 1
    }

    val recall = Stats.mean(recalls.result())
    val pms = passMs.result()
    // documents per second of the median pass (one slow pass of a few
    // does not move it)
    val docsPerS = n / (Stats.median(pms) / 1000.0)
    val named = Seq(
      Metric("curate_docs_per_s", docsPerS, "1/s"),
      Metric("curate_pass_p50_ms", Stats.median(pms), "ms"),
      Metric("dedup_pair_recall", recall, "ratio"),
      Metric("passes", passes.toDouble, "count"),
      Metric("docs", n.toDouble, "count"))

    if (ctx.traced) {
      val kept = keptOf(docs)
      layers ++= Layers.spark(ctx, probe0, passes)
      Seq("exact_dedup", "minhash_candidates", "connected_components", "quality_filter")
        .foreach(k => layers(s"ops.${k}_s") = stageS.get(k).map(Stats.median).getOrElse(0.0))
      // LSH candidate volume and the share of candidates that are
      // planted near-duplicate pairs (useful ÷ attempted)
      val cands = Dedup.minhashCandidates(kept, "id", "text", NumHashes, ShingleWidth, Bands)
        .collect().map(r => (r.getLong(0).toString, r.getLong(1).toString))
      val plantedPairs = corpus.nearPairs.map { case (a, b) => if (a < b) (a, b) else (b, a) }.toSet
      layers("ops.candidate_pairs") = cands.length.toDouble
      layers("ops.true_pairs_per_candidate") =
        cands.count(p => plantedPairs(if (p._1 < p._2) p else p.swap)).toDouble /
          math.max(cands.length, 1)
      layers ++= Layers.selfTimes(tracer, t0, passes)
      layers("trace.fidelity") = if (fidelityOk) 1.0 else 0.0
      // no store or server call happens on this workload: its plan holds
      // no connector scan
      layers("connector.scan_partitions") = PhaseTotals.scans(
        survivorsOf(kept, Dedup.dedupClustersMinhash(kept, "id", "text", Threshold, NumHashes,
          ShingleWidth, Bands)).queryExecution.executedPlan).size.toDouble
    }
    val bypassOk = !ctx.traced || Layers.bypass("curate", layers,
      mustBePositive = Seq("ops.candidate_pairs", "spark.shuffle_write_bytes"),
      mustBeZero = Seq("connector.scan_partitions", "wire.requests_per_query",
        "store.files_opened"))
    Outcome(tally.attempted.get, tally.failed.get,
      correct = fidelityOk && bypassOk && recall >= MinPairRecall,
      opP50Ms = Stats.median(pms), workPerS = docsPerS, quality = recall,
      named = named, layers = layers.toMap)
  }

  /** Documents in the generated corpus (one pass reads all of them). */
  def docCount: Int = corpus.docs.length

  def close(): Unit = ()
}

object CurateWorkload {
  val NBase = 1000
  val Threshold = 0.7
  val NumHashes = 32
  val ShingleWidth = 3
  val Bands = 8
  val QualityMin = 0.5
  val MinPairRecall = 0.9
  /** Seconds of untimed passes before the measured phase. */
  val WarmupS = 10.0
}
