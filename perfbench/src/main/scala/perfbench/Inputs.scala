package perfbench

import java.util.SplittableRandom

import graft.core.RuDict

/** One request of the search stream. `cls` labels the property the
  * query exercises; `offset` > 0 marks a page-2 follow-up. */
final case class Query(text: String, cls: String, offset: Int, site: Option[String])

/** Seeded input generators. Everything the program sees is a pure
  * function of the benchmark seed. */
object Inputs {

  /** Query classes, by the posting-list shape they exercise. Intersection
    * cost depends on the ratio of list lengths, so the pool mixes head,
    * mid and tail terms. */
  val Classes: Seq[String] = Seq("head", "mid", "tail", "stop", "zero", "scoped", "page2")

  /** Zipf ranks of the content lemmas (the corpus draws words Zipf(1.1)
    * in `contentLemmas` order). Ranks below 20 sit on more than 80% of
    * pages, so the engine prunes them as stop-lemmas; [30, 50) are the
    * most frequent lemmas that survive, [50, 100) mid, the rest tail. */
  private val StopEnd = 20
  private val HeadRange = (30, 50)
  private val MidRange = (50, 100)
  private val TailRange = (100, Int.MaxValue)

  private def rngFor(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt)

  private def form(rng: SplittableRandom, lemma: String): String = {
    val f = RuDict.formsOf(lemma)
    f(rng.nextInt(f.size))
  }

  private def lemmaIn(rng: SplittableRandom, lo: Int, hi: Int): String = {
    val l = RuDict.contentLemmas
    l(lo + rng.nextInt(math.min(hi, l.size) - lo))
  }

  /** A Cyrillic word outside the dictionary: its lemma is itself and no
    * page contains it, so a conjunction with it matches nothing. */
  private def oov(rng: SplittableRandom): String = {
    val letters = "жщфшцэю"
    Iterator.continually(
      Seq.fill(5)(letters.charAt(rng.nextInt(letters.length))).mkString)
      .find(w => !RuDict.table.contains(w)).get
  }

  def siteUrl(site: Int): String = s"https://site$site.test"

  /** `size` distinct page-1 queries, classes in equal shares, in a
    * seed-shuffled order (the order is the Zipf popularity rank). */
  def queryPool(seed: Long, nSites: Int, size: Int = 240): Vector[Query] = {
    val rng = rngFor(seed, 0x51L)
    def in(r: (Int, Int)) = () => form(rng, lemmaIn(rng, r._1, r._2))
    val (head, mid, tail) = (in(HeadRange), in(MidRange), in(TailRange))
    val stop = () => if (rng.nextBoolean()) "есть" else form(rng, lemmaIn(rng, 0, StopEnd))
    val page1 = Classes.filterNot(_ == "page2")
    val seen = scala.collection.mutable.LinkedHashMap.empty[(String, Option[String]), Query]
    var i = 0
    while (seen.size < size) {
      val q = page1(i % page1.size) match {
        case "head" => Query(s"${head()} ${head()}", "head", 0, None)
        case "mid" => Query(s"${mid()} ${head()}", "mid", 0, None)
        case "tail" => Query(s"${tail()} ${head()}", "tail", 0, None)
        case "stop" => Query(s"${stop()} ${mid()}", "stop", 0, None)
        case "zero" => Query(s"${head()} ${oov(rng)}", "zero", 0, None)
        case "scoped" =>
          Query(s"${mid()} ${head()}", "scoped", 0, Some(siteUrl(rng.nextInt(nSites))))
      }
      seen.getOrElseUpdate((q.text, q.site), q)
      i += 1
    }
    shuffle(seen.values.toVector, rngFor(seed, 0x52L))
  }

  /** Endless closed-loop stream. Page-1 classes come round-robin, so
    * every seed gets the same class mix; within a class, queries are
    * drawn Zipf(1.0) by their pool rank, so popular queries repeat. One
    * in four draws that can match anything is followed at once by its
    * page-2 request (same text and site, offset 10). */
  def queryStream(pool: Vector[Query], seed: Long): Iterator[Query] = {
    val rng = rngFor(seed, 0x53L)
    val byClass = pool.groupBy(_.cls).toVector.sortBy(_._1).map(_._2)
    val cdfs = byClass.map { qs =>
      val w = Array.tabulate(qs.size)(i => 1.0 / (i + 1.0))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    }
    def draw(c: Int): Query = {
      val i = java.util.Arrays.binarySearch(cdfs(c), rng.nextDouble())
      byClass(c)(math.min(byClass(c).size - 1, if (i >= 0) i else -i - 1))
    }
    Iterator.from(0).flatMap { n =>
      val q = draw(n % byClass.size)
      if (q.cls != "zero" && rng.nextInt(4) == 0)
        Seq(q, q.copy(cls = "page2", offset = 10))
      else Seq(q)
    }
  }

  /** Disjoint page indices for the churn cycles: `refresh` pages to
    * re-crawl and `delete` pages to remove per cycle, from one seeded
    * permutation of [0, nDocs). */
  def churnPlan(seed: Long, nDocs: Int, cycles: Int, refresh: Int,
      delete: Int): Seq[(Seq[Long], Seq[Long])] = {
    require(cycles * (refresh + delete) <= nDocs, "churn plan larger than the corpus")
    val perm = shuffle((0L until nDocs.toLong).toVector, rngFor(seed, 0x54L))
    (0 until cycles).map { c =>
      val r = perm.slice(c * refresh, (c + 1) * refresh)
      val d = perm.slice(nDocs - (c + 1) * delete, nDocs - c * delete)
      (r, d)
    }
  }

  private def shuffle[A](xs: Vector[A], rng: SplittableRandom): Vector[A] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toVector.asInstanceOf[Vector[A]]
  }
}
