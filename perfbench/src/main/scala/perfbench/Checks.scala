package perfbench

import java.util.concurrent.atomic.AtomicLong

/** Attempted/failed bookkeeping: an operation that throws, or whose
  * output a check rejects, counts as failed.
  */
final class Tally {
  val attempted = new AtomicLong(0L)
  val failed = new AtomicLong(0L)

  def record(ok: Boolean): Unit = {
    attempted.incrementAndGet()
    if (!ok) failed.incrementAndGet()
  }

  /** Run `op`, count it, and return its result (None when it threw). */
  def attempt[T](op: => T): Option[T] =
    try Some(op)
    catch {
      case e: Exception =>
        Console.err.println(s"[perfbench] operation failed: $e")
        record(ok = false)
        None
    }
}

/** Output checks. Each is a pure function of the program's output and the
  * generated inputs, so the self-tests can feed it corrupted results.
  */
object Checks {

  /** Cosine as the benchmark computes it, independently of the engine. */
  def cosine(v: Array[Float], q: Array[Double]): Double = {
    var dot = 0.0; var nv = 0.0; var nq = 0.0
    var i = 0
    while (i < q.length) {
      val a = v(i).toDouble
      dot += a * q(i); nv += a * a; nq += q(i) * q(i)
      i += 1
    }
    dot / (math.sqrt(nv) * math.sqrt(nq))
  }

  def close(a: Double, b: Double, tol: Double = 1e-9): Boolean =
    math.abs(a - b) <= tol * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  /** Exact top-k by brute force (score desc, id asc). */
  def exactTopK(points: IndexedSeq[GenPoint], q: Array[Double],
                filterCat: Option[Int], k: Int): IndexedSeq[(String, Double)] = {
    val ord = Ordering.by[(String, Double), (Double, String)](t => (-t._2, t._1))
    points.iterator
      .filter(p => filterCat.forall(_ == p.cat))
      .map(p => (p.id, cosine(p.vec, q)))
      .toIndexedSeq.sorted(ord).take(k)
  }

  /** Lowest share of the exact top-k a single search may return. */
  val MinQueryRecall = 0.5

  /** A search result is valid when it has min(k, matching) distinct known
    * ids, each satisfying the filter, each carrying its true score,
    * ordered best-first; its recall is the share of the exact top-k it
    * holds (ids tied with the k-th exact score count as hits).
    */
  def searchResult(got: Seq[(String, Double)], exact: IndexedSeq[(String, Double)],
                   k: Int, filterCat: Option[Int], q: Array[Double],
                   byId: String => Option[GenPoint]): (Boolean, Double) = {
    val known = got.map { case (id, s) => (byId(id), s) }
    val wellFormed =
      got.length == math.min(k, exact.length) &&
        got.map(_._1).distinct.length == got.length &&
        known.forall { case (p, s) =>
          p.exists(pt => filterCat.forall(_ == pt.cat) && close(cosine(pt.vec, q), s, 1e-6))
        } &&
        got.sliding(2).forall(w => w.length < 2 || w(0)._2 >= w(1)._2)
    val recall =
      if (exact.isEmpty) 1.0
      else {
        val cut = exact.last._2
        val truth = exact.map(_._1).toSet
        got.count { case (id, s) => truth(id) || s >= cut - 1e-12 }
          .toDouble / exact.length
      }
    (wellFormed && recall >= MinQueryRecall, recall)
  }

  /** Rows equal up to order, doubles within a relative tolerance (sums
    * may fold in a different order across engines).
    */
  def sameRows(got: Seq[Seq[Any]], want: Seq[Seq[Any]]): Boolean = {
    def key(r: Seq[Any]): String = r.map {
      case d: Double => "D"
      case x => String.valueOf(x)
    }.mkString("\u0001")
    def cell(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Double, y: Double) => close(x, y, 1e-9)
      case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y) == 0
      case (x, y) => x == y
    }
    got.length == want.length && {
      val g = got.sortBy(key)
      val w = want.sortBy(key)
      g.zip(w).forall { case (a, b) =>
        a.length == b.length && a.zip(b).forall { case (x, y) => cell(x, y) }
      }
    }
  }

  /** Ids whose final stored payload differs from the model's (missing,
    * unexpected or changed).
    */
  def finalStateMismatches(got: Map[String, String],
                           model: Map[String, String]): Int =
    (got.keySet ++ model.keySet).count(id => got.get(id) != model.get(id))

  /** Curation output check. Hard failures: a low-quality survivor, two
    * survivors of one exact group, a lost unique document, an unknown id,
    * a near group with no survivor. Missed near-duplicate merges only
    * lower pair recall.
    */
  def curateSurvivors(survivors: Set[String], c: Corpus): Boolean = {
    val all = c.docs.map(_.id).toSet
    val grouped = (c.exactGroups ++ c.nearGroups).flatten.toSet
    survivors.subsetOf(all) &&
      !survivors.exists(c.lowQuality) &&
      c.exactGroups.forall(g => g.count(survivors) == 1) &&
      c.nearGroups.forall(g => g.exists(survivors)) &&
      all.forall(id => grouped(id) || c.lowQuality(id) || survivors(id))
  }

  /** Share of planted near-duplicate pairs merged into one cluster, read
    * off the survivors: a near group of g members left with s survivors
    * was cut into s clusters. With groups of at most three members (and
    * no merge across groups, which [[curateSurvivors]] rejects) a group
    * loses C(g,2) - C(g-s+1,2) of its pairs.
    */
  def pairRecall(survivors: Set[String], c: Corpus): Double = {
    def pairs(n: Int): Int = n * (n - 1) / 2
    val total = c.nearGroups.map(g => pairs(g.length)).sum
    if (total == 0) 1.0
    else c.nearGroups.map { g =>
      pairs(g.length - g.count(survivors) + 1)
    }.sum.toDouble / total
  }
}
