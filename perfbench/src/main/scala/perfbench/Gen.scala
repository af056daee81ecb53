package perfbench

import java.util.SplittableRandom

/** One generated collection point: the stored (float) vector and its JSON
  * payload. `cat` is the selective payload key every filtered query uses.
  */
final case class GenPoint(id: String, cat: Int, payload: String, vec: Array[Float])

/** A generated text document for the curation workload. */
final case class Doc(id: String, text: String)

/** The curation corpus with its planted structure: groups of identical
  * texts, groups of near-identical variants, and short low-quality docs.
  */
final case class Corpus(docs: IndexedSeq[Doc],
                        exactGroups: IndexedSeq[IndexedSeq[String]],
                        nearGroups: IndexedSeq[IndexedSeq[String]],
                        lowQuality: Set[String]) {
  /** Every unordered pair of ids inside one near-duplicate group. */
  def nearPairs: IndexedSeq[(String, String)] =
    nearGroups.flatMap(g => g.combinations(2).map(p => (p(0), p(1))))
}

/** Deterministic input generators: every output is a pure function of
  * the seed (no hash-ordered collections, fixed locale), so one seed gives
  * byte-identical inputs on every run and another seed gives different
  * ones.
  */
object Gen {

  // the engine's stopword profile (TextAnalysis) — a good document
  // carries ~30% of them, so its quality score saturates
  val Stopwords: IndexedSeq[String] =
    IndexedSeq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for")

  private val Syllables: IndexedSeq[String] = for {
    c <- "bdfgklmnprstvz".map(_.toString)
    v <- IndexedSeq("a", "e", "i", "o", "u", "ai", "ou")
  } yield c + v

  /** A letters-only word for vocabulary index `i` (distinct per index). */
  def word(i: Int): String = {
    val n = Syllables.length
    Syllables(i % n) + Syllables((i / n) % n) + Syllables((i / (n * n)) % n)
  }

  val Regions: IndexedSeq[String] =
    IndexedSeq("north", "south", "east", "west", "central", "coast", "hills", "delta")

  def gaussian(r: SplittableRandom): Double = {
    // Box-Muller on the generator's own stream (java.util.Random's
    // nextGaussian is not available on SplittableRandom)
    val u1 = math.max(r.nextDouble(), 1e-300)
    val u2 = r.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }

  /** Cluster centres of a Gaussian mixture. */
  def centres(seed: Long, clusters: Int, dim: Int): IndexedSeq[Array[Double]] = {
    val r = new SplittableRandom(seed * 31L + 7L)
    IndexedSeq.fill(clusters)(Array.fill(dim)(gaussian(r)))
  }

  /** One draw from the mixture (a random centre plus isotropic noise). */
  def draw(r: SplittableRandom, cs: IndexedSeq[Array[Double]],
           spread: Double): Array[Double] = {
    val c = cs(r.nextInt(cs.length))
    Array.tabulate(c.length)(d => c(d) + spread * gaussian(r))
  }

  private def note(r: SplittableRandom, words: Int): String =
    Iterator.fill(words)(word(r.nextInt(2000))).mkString(" ")

  /** A JSON payload of a few hundred bytes. */
  def payload(r: SplittableRandom, cat: Int): String = {
    val region = Regions(r.nextInt(Regions.length))
    val cents = 100 + r.nextInt(99900)
    val price = java.lang.String.format(java.util.Locale.ROOT, "%d.%02d",
      Integer.valueOf(cents / 100), Integer.valueOf(cents % 100))
    val qty = 1 + r.nextInt(50)
    s"""{"cat":$cat,"region":"$region","price":$price,"qty":$qty,"note":"${note(r, 24)}"}"""
  }

  /** `n` points drawn from a `clusters`-component mixture in `dim`
    * dimensions; `cats` payload categories (so one category matches
    * ~1/cats of the points). Ids are zero-padded so string order is
    * numeric order.
    */
  def points(seed: Long, n: Int, dim: Int, clusters: Int,
             cats: Int): IndexedSeq[GenPoint] = {
    val cs = centres(seed, clusters, dim)
    val r = new SplittableRandom(seed)
    (0 until n).map { i =>
      val v = draw(r, cs, 0.35).map(_.toFloat)
      val cat = r.nextInt(cats)
      GenPoint(f"p$i%07d", cat, payload(r, cat), v)
    }
  }

  /** Query vectors drawn fresh from the same mixture (never corpus
    * points), paired with a category filter on `filteredShare` of them,
    * spread evenly: every prefix of the pool holds that share (to within
    * one query), so a run's mix does not depend on how far it gets.
    */
  def queries(seed: Long, n: Int, dim: Int, clusters: Int, cats: Int,
              filteredShare: Double): IndexedSeq[(Array[Double], Option[Int])] = {
    val cs = centres(seed, clusters, dim)
    val r = new SplittableRandom(seed ^ 0x5eedL)
    IndexedSeq.tabulate(n) { i =>
      val q = draw(r, cs, 0.35)
      val filtered = math.floor((i + 1) * filteredShare) > math.floor(i * filteredShare)
      (q, if (filtered) Some(r.nextInt(cats)) else None)
    }
  }

  private def goodText(r: SplittableRandom, tokens: Int): Array[String] =
    Array.fill(tokens) {
      if (r.nextDouble() < 0.3) Stopwords(r.nextInt(Stopwords.length))
      else word(r.nextInt(5000))
    }

  /** The curation corpus: `nBase` source texts, of which ~8% get 1–3
    * identical copies, ~8% get 1–2 variants with one or two substituted
    * tokens (3-shingle Jaccard ≥ 0.85 to the source), ~10% are short
    * stopword-free fragments (quality ≈ 0.1), and the rest are unique.
    * Document order is shuffled before ids are assigned, so group members
    * are spread through the id space. Ids are 7-digit numbers.
    */
  def corpus(seed: Long, nBase: Int): Corpus = {
    val r = new SplittableRandom(seed * 131L + 17L)
    // (text, group kind, group index)
    val raw = scala.collection.mutable.ArrayBuffer.empty[(String, Char, Int)]
    var exactN = 0
    var nearN = 0
    (0 until nBase).foreach { _ =>
      val u = r.nextDouble()
      if (u < 0.10) {
        raw += ((Array.fill(8)(word(r.nextInt(5000))).mkString(" "), 'l', -1))
      } else if (u < 0.18) {
        val t = goodText(r, 80).mkString(" ")
        (0 to 1 + r.nextInt(3)).foreach(_ => raw += ((t, 'e', exactN)))
        exactN += 1
      } else if (u < 0.26) {
        val base = goodText(r, 80)
        raw += ((base.mkString(" "), 'n', nearN))
        (0 until 1 + r.nextInt(2)).foreach { _ =>
          val v = base.clone()
          (0 until 1 + r.nextInt(2)).foreach { _ =>
            v(r.nextInt(v.length)) = word(5000 + r.nextInt(5000))
          }
          raw += ((v.mkString(" "), 'n', nearN))
        }
        nearN += 1
      } else raw += ((goodText(r, 80).mkString(" "), 's', -1))
    }
    // Fisher-Yates with the same stream, then sequential ids
    val order = raw.indices.toArray
    var i = order.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = order(i); order(i) = order(j); order(j) = t
      i -= 1
    }
    val docs = order.indices.map(k => Doc(f"${1000000 + k}%d", raw(order(k))._1))
    val kinds = order.indices.map(k => raw(order(k)))
    def groups(kind: Char, n: Int): IndexedSeq[IndexedSeq[String]] = {
      val b = Array.fill(n)(IndexedSeq.newBuilder[String])
      kinds.indices.foreach { k =>
        if (kinds(k)._2 == kind) b(kinds(k)._3) += docs(k).id
      }
      b.map(_.result()).toIndexedSeq
    }
    Corpus(docs, groups('e', exactN), groups('n', nearN),
      kinds.indices.filter(k => kinds(k)._2 == 'l').map(docs(_).id).toSet)
  }
}
