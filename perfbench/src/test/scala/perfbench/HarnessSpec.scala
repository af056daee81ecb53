package perfbench

import java.util.SplittableRandom

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.CollectionStore

/** Self-tests of the harness: the statistics it reports, the inputs it
  * generates, its failure counting, and that every output check rejects a
  * corrupted result.
  */
class HarnessSpec extends AnyFunSuite {

  /** Canonical bytes of generated points. */
  private def bytesOf(ps: Seq[GenPoint]): Array[Byte] = {
    val bo = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bo)
    ps.foreach { p =>
      out.writeUTF(p.id); out.writeInt(p.cat); out.writeUTF(p.payload)
      p.vec.foreach(out.writeFloat)
    }
    out.flush()
    bo.toByteArray
  }

  private def bytesOfCorpus(c: Corpus): Array[Byte] = {
    val bo = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bo)
    c.docs.foreach { d => out.writeUTF(d.id); out.writeUTF(d.text) }
    out.flush()
    bo.toByteArray
  }

  test("tail percentile: the highest candidate with at least ten samples beyond it") {
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(999).contains(95.0))
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(199).contains(90.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(99).contains(75.0))
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(39).contains(50.0))
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(19).isEmpty)
  }

  test("nearest-rank percentile and median") {
    val xs = (1 to 100).map(_.toDouble).reverse
    assert(Stats.percentile(xs, 95.0) == 95.0)
    assert(Stats.percentile(xs, 50.0) == 50.0)
    assert(Stats.percentile(xs, 100.0) == 100.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("generators: one seed gives byte-identical inputs, another seed different ones") {
    def pts(seed: Long) = bytesOf(Gen.points(seed, 500, 16, 4, 10))
    assert(pts(7L).sameElements(pts(7L)))
    assert(!pts(7L).sameElements(pts(8L)))
    def qs(seed: Long) = Gen.queries(seed, 50, 16, 4, 10, 0.3)
      .map { case (q, f) => q.mkString(",") + f }
    assert(qs(7L) == qs(7L))
    assert(qs(7L) != qs(8L))
    def corpus(seed: Long) = bytesOfCorpus(Gen.corpus(seed, 300))
    assert(corpus(7L).sameElements(corpus(7L)))
    assert(!corpus(7L).sameElements(corpus(8L)))
  }

  test("search queries: the filtered share holds in every prefix of the pool") {
    val fs = Gen.queries(7L, 100, 16, 4, 10, 0.3).map(_._2.isDefined)
    assert(fs.count(identity) == 30)
    (1 to 100).foreach(n => assert(math.abs(fs.take(n).count(identity) - 0.3 * n) <= 1.0))
  }

  test("batch: shared per-layer metrics become per batch round, the rest pass through") {
    val a = Map("spark.jobs_per_query" -> 2.0, "self.spark_ms" -> 10.0, "spark.failed_tasks" -> 1.0,
      "connector.rows_out" -> 100.0, "trace.overhead_pct" -> 4.0, "trace.fidelity" -> 1.0,
      "analytics.scan_p50_ms" -> 3.0)
    val c = Map("spark.jobs_per_query" -> 7.0, "self.spark_ms" -> 50.0, "spark.failed_tasks" -> 2.0,
      "connector.rows_out" -> 0.0, "trace.overhead_pct" -> 2.0, "trace.fidelity" -> 0.0,
      "ops.exact_dedup_s" -> 0.2)
    val m = BatchWorkload.merge(a, c, queriesPerRound = 5)
    assert(m("spark.jobs_per_query") == 17.0 && m("self.spark_ms") == 100.0)
    assert(m("spark.failed_tasks") == 3.0)
    assert(m("connector.rows_out") == 100.0)
    assert(m("trace.overhead_pct") == 3.0 && m("trace.fidelity") == 0.0)
    assert(m("analytics.scan_p50_ms") == 3.0 && m("ops.exact_dedup_s") == 0.2)
  }

  test("failed_frac counts thrown and rejected operations against attempted") {
    val t = new Tally
    assert(t.attempt(1 + 1).contains(2))
    t.record(ok = true)
    assert(t.attempt[Int](throw new IllegalStateException("injected")).isEmpty)
    t.record(ok = false) // a wrong result
    assert(t.attempted.get == 3L)
    assert(t.failed.get == 2L)
    assert(math.abs(Main.failedFrac(t.attempted.get, t.failed.get) - 2.0 / 3.0) < 1e-12)
    assert(Main.failedFrac(0L, 0L) == 1.0)
  }

  private val points = Gen.points(3L, 400, 8, 4, 5)
  private val byId = points.map(p => p.id -> p).toMap
  private val (query, _) = Gen.queries(3L, 1, 8, 4, 5, 0.0).head

  test("search check: accepts the exact top-k, rejects a wrong top-k") {
    val exact = Checks.exactTopK(points, query, None, 10)
    assert(Checks.searchResult(exact, exact, 10, None, query, byId.get) == ((true, 1.0)))
    // the ten worst points, with their true scores, best-first
    val worst = points.map(p => (p.id, Checks.cosine(p.vec, query)))
      .sortBy(_._2).take(10).reverse
    assert(!Checks.searchResult(worst, exact, 10, None, query, byId.get)._1)
    // a wrong score, a short page, a repeated id, an unknown id
    val badScore = exact.updated(3, (exact(3)._1, exact(3)._2 + 0.01))
    assert(!Checks.searchResult(badScore, exact, 10, None, query, byId.get)._1)
    assert(!Checks.searchResult(exact.take(9), exact, 10, None, query, byId.get)._1)
    assert(!Checks.searchResult(exact.updated(9, exact(0)), exact, 10, None, query, byId.get)._1)
    assert(!Checks.searchResult(exact.updated(9, ("nope", exact(9)._2)), exact, 10, None,
      query, byId.get)._1)
  }

  test("search check: a filtered result must hold only matching points") {
    val cat = points.head.cat
    val exact = Checks.exactTopK(points, query, Some(cat), 10)
    assert(Checks.searchResult(exact, exact, 10, Some(cat), query, byId.get)._1)
    val other = points.find(_.cat != cat).get
    val leaked = exact.updated(9, (other.id, Checks.cosine(other.vec, query)))
    assert(!Checks.searchResult(leaked, exact, 10, Some(cat), query, byId.get)._1)
  }

  test("analytics check: row order and double rounding pass, a wrong row fails") {
    val want = Seq(Seq[Any]("east", 10L, 1.25), Seq[Any]("west", 7L, 3.5))
    assert(Checks.sameRows(want.reverse, want))
    assert(Checks.sameRows(Seq(Seq[Any]("east", 10L, 1.25 + 1e-13), want(1)), want))
    assert(!Checks.sameRows(Seq(Seq[Any]("east", 11L, 1.25), want(1)), want))
    assert(!Checks.sameRows(Seq(Seq[Any]("east", 10L, 1.26), want(1)), want))
    assert(!Checks.sameRows(want.take(1), want))
  }

  test("ingest check: the final id set and payloads must equal the model") {
    val model = Map("a" -> "{}", "b" -> """{"x":1}""")
    assert(Checks.finalStateMismatches(model, model) == 0)
    assert(Checks.finalStateMismatches(model - "a", model) == 1)
    assert(Checks.finalStateMismatches(model + ("c" -> "{}"), model) == 1)
    assert(Checks.finalStateMismatches(model.updated("b", "{}"), model) == 1)
  }

  test("curate check: rejects two survivors of one exact group, low quality, lost docs") {
    val c = Gen.corpus(11L, 400)
    assert(c.exactGroups.nonEmpty && c.nearGroups.nonEmpty && c.lowQuality.nonEmpty)
    val grouped = (c.exactGroups ++ c.nearGroups).flatten.toSet
    val good = c.docs.map(_.id).filterNot(id => grouped(id) || c.lowQuality(id)).toSet ++
      c.exactGroups.map(_.min) ++ c.nearGroups.map(_.min)
    assert(Checks.curateSurvivors(good, c))
    assert(Checks.pairRecall(good, c) == 1.0)
    val g = c.exactGroups.find(_.length >= 2).get
    assert(!Checks.curateSurvivors(good + g.max, c))
    assert(!Checks.curateSurvivors(good + c.lowQuality.head, c))
    assert(!Checks.curateSurvivors(good - good.find(id => !grouped(id)).get, c))
    // a near pair left unmerged lowers pair recall, it is not a failure
    val n = c.nearGroups.find(_.length == 2).get
    assert(Checks.curateSurvivors(good + n.max, c))
    assert(Checks.pairRecall(good + n.max, c) < 1.0)
  }

  test("traced wrapper forwards every CollectionStore method") {
    val forwarded = classOf[TimedStore].getDeclaredMethods
      .map(m => (m.getName, m.getParameterTypes.toSeq)).toSet
    val missing = classOf[CollectionStore].getMethods.toSeq
      .filter(m => m.getDeclaringClass != classOf[Object] && !m.getName.contains("$"))
      .filterNot(m => forwarded((m.getName, m.getParameterTypes.toSeq)))
      .map(_.getName)
    assert(missing.isEmpty, s"not forwarded: ${missing.mkString(", ")}")
  }

  test("self time subtracts the union of child intervals") {
    val parent = Span(1, 0, 1, "spark", "execute", 0L, 100L)
    val kids = Seq(Span(2, 1, 1, "wire", "a", 10L, 40L), Span(3, 1, 1, "wire", "b", 30L, 60L),
      Span(4, 1, 1, "wire", "c", 90L, 120L))
    assert(Tracer.covered(parent, kids) == 60L)
    val t = new Tracer(true)
    t.span("client", "q") { t.span("spark", "x")(Thread.sleep(5)) }
    val self = t.selfNsByLayer()
    assert(self("spark") > 0L && self("client") >= 0L)
  }

  test("BENCHMARK.json lists exactly the metrics a run prints") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.parse
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("..", "BENCHMARK.json")), "UTF-8")
    val j = parse(text)
    def names(key: String): Seq[(String, String)] = (j \ key).children.map(m =>
      ((m \ "name").values.toString, (m \ "unit").values.toString))
    assert(names("end_to_end") == Main.EndToEnd)
    assert(names("per_layer") == Layers.Names)
    val workloads = (j \ "workloads").children.map(w => (w \ "name").values.toString)
    assert(workloads.forall(Main.Workloads.contains))
  }

  test("a deterministic stream drives the ingest batches") {
    val a = new SplittableRandom(5L)
    val b = new SplittableRandom(5L)
    val cs = Gen.centres(5L, 4, 8)
    assert(Gen.draw(a, cs, 0.35).sameElements(Gen.draw(b, cs, 0.35)))
    assert(Gen.payload(a, 1) == Gen.payload(b, 1))
  }
}
