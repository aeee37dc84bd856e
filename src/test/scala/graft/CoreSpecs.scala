package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen

/** Deterministic property sampling (scalatestplus is not in the offline
  * cache; plain scalacheck Gen + fixed seeds gives the same coverage
  * reproducibly). */
trait GenSamples {
  def forAll[A](g: Gen[A], n: Int = 60)(f: A => Unit): Unit =
    (0 until n).foreach { i =>
      f(g.pureApply(Gen.Parameters.default, org.scalacheck.rng.Seed(90210L + i)))
    }
}

import graft.core._

class RuDictSpec extends AnyFunSuite {
  test("every surface form maps to exactly one lemma (no collisions)") {
    val seen = scala.collection.mutable.Map.empty[String, String]
    for ((lemma, forms, _) <- RuDict.paradigms; f <- forms) {
      assert(!seen.contains(f) || seen(f) == lemma,
        s"form '$f' claimed by '${seen.getOrElse(f, "")}' and '$lemma'")
      seen(f) = lemma
    }
  }
  test("all forms are tokenizer-survivable: [а-я]{3,}") {
    for ((_, forms, _) <- RuDict.paradigms; f <- forms) {
      assert(f.length >= 3 && f.forall(c => c >= 'а' && c <= 'я'), s"bad form '$f'")
    }
  }
  test("dictionary has ~200 content lemmas + particles") {
    assert(RuDict.contentLemmas.size >= 190)
    assert(RuDict.paradigms.count(_._3) >= 10)
  }
  test("normal form is the first form (getNormalForms().get(0) semantics)") {
    for ((lemma, forms, _) <- RuDict.paradigms)
      assert(forms.head == lemma || RuDict.formsOf(lemma).nonEmpty)
    assert(Lemmatizer.normalForm("столам") == Lemmatizer.normalForm("столам")) // deterministic
    assert(Lemmatizer.normalForm("был") == "быть")
    assert(Lemmatizer.normalForm("будут") == "быть")
  }
  test("particles flagged МЕЖД/ПРЕДЛ/СОЮЗ are dropped") {
    assert(Lemmatizer.isParticle("под"))
    assert(Lemmatizer.isParticle("или"))
    assert(Lemmatizer.isParticle("увы"))
    assert(!Lemmatizer.isParticle("быть"))
  }
}

class AnalyzerSpec extends AnyFunSuite {
  val ru = Analyzer.russian
  test("reference tokenizer: lowercase, destroy non-[а-я\\s], min length 3 (MorphologyServiceImpl.java:243-250)") {
    assert(ru.tokenize("Слово и ДЕЛО").toSeq == Seq("слово", "дело")) // 'и' len<3
    assert(ru.tokenize("ёлка мёд").toSeq == Seq("лка", "д").filter(_.length >= 3)) // ё destroyed
    assert(ru.tokenize("data2026 слово123слово").toSeq == Seq("слово", "слово"))
    assert(ru.tokenize("").isEmpty && ru.tokenize("a b 12 !").isEmpty)
  }
  test("ё is outside а-я and becomes a separator (H6 quirk)") {
    assert(ru.tokenize("всё хорошо").toSeq == Seq("вс", "хорошо").filter(_.length >= 3))
  }
  test("latin analyzer mirrors semantics for the documents table") {
    assert(Analyzer.latin.tokenize("The quick-brown FOX, 42 ok").toSeq ==
      Seq("the", "quick", "brown", "fox"))
  }
}

class HtmlTextSpec extends AnyFunSuite {
  test("cleanToText strips all tags and re-escapes base entities (Jsoup.clean(Safelist.none()) on the fixture grammar)") {
    val html = "<html><head><title>Заголовок</title></head><body><h1>Один</h1><p>два <b>три</b> &amp; четыре &lt;пять&gt;</p></body></html>"
    assert(HtmlText.cleanToText(html) ==
      "Заголовок Один два три &amp; четыре &lt;пять&gt;")
  }
  test("double-encoded entity is not double-decoded") {
    assert(HtmlText.cleanToText("<p>a &amp;lt; b</p>") == "a &amp;lt; b")
  }
  test("bodyText: decoded, body-only, whitespace-normalized (Jsoup body().text())") {
    val html = "<html><head><title>T</title></head><body><p>два  <b>три</b> &amp; x</p></body></html>"
    assert(HtmlText.bodyText(html) == "два три & x")
  }
  test("cleanToTextFast == cleanToText on generated corpus and hand cases") {
    val cfg = graft.corpus.CorpusGen.Config(2, 150, seed = 11L)
    (0L until cfg.nDocs).foreach { i =>
      val html = new String(graft.corpus.CorpusGen.pageAt(cfg, i).html,
        java.nio.charset.StandardCharsets.UTF_8)
      assert(HtmlText.cleanToTextFast(html) == HtmlText.cleanToText(html), s"doc $i diverges")
    }
    val cases = Seq("", "<p>a</p>", "a &amp;lt; b", "x &quot;y&quot; z", "&bogus;",
      "  <b> a </b>  b ", "<a href=\"/p/1\">слово</a>", "a > b", "t&amp;t",
      "<html><head><title>Т</title></head><body><p>а б</p></body></html>")
    cases.foreach { h =>
      assert(HtmlText.cleanToTextFast(h) == HtmlText.cleanToText(h), s"'$h' diverges")
    }
  }
  test("title extraction (Jsoup .title())") {
    assert(HtmlText.title("<html><head><title> Мой  заголовок </title></head><body>x</body></html>") == "Мой заголовок")
    assert(HtmlText.title("<html><body>x</body></html>") == "")
  }
}

class SnippetSpec extends AnyFunSuite {
  test("window is [pos-5, min(len-1,pos+5)) — exclusive upper bound drops the last word (SearchServiceImpl.java:165)") {
    // 12 words, keyword at index 6 ("быть" normal form of "был")
    val words = (0 until 12).map(i => if (i == 6) "был" else s"слово$i")
    // make the filler dictionary-invalid so only the keyword matches
    val text = words.mkString(" ")
    val snip = Snippet.build(text, Set("быть"))
    // window = [1, 11): words 1..10, keyword wrapped
    assert(snip.contains("<b>был</b>"))
    assert(snip.contains("слово10 ")) // index 10 included
    assert(!snip.contains("слово11")) // index 11 dropped by exclusive bound
    assert(!snip.contains("слово0 ")) // index 0 excluded (window starts at 1)
  }
  test("stops appending windows after exceeding 250 chars") {
    val base = Vector.fill(40)("был") // every word is a keyword
    val text = base.mkString(" ")
    val snip = Snippet.build(text, Set("быть"))
    // one window ≈ 10 words ≈ > 250/… eventually stops: length bounded
    assert(snip.length <= 250 + 200) // one overshooting window max
  }
  test("keyword at start clamps window to 0") {
    val snip = Snippet.build("был конец текста тут слова идут дальше", Set("быть"))
    assert(snip.startsWith("<b>был</b> "))
  }
}

class PostingCodecSpec extends AnyFunSuite with GenSamples {
  import PostingCodec._

  val postingsGen: Gen[Array[Posting]] = for {
    n <- Gen.chooseNum(0, 1000)
    docIds <- Gen.listOfN(n, Gen.chooseNum(0L, 1L << 48)).map(_.distinct.sorted)
    tfs <- Gen.listOfN(docIds.size, Gen.chooseNum(1L, 500L))
  } yield docIds.zip(tfs).map { case (d, t) => Posting(d, t) }.toArray

  test("decode ∘ encode = identity on sorted runs (FIXTURES.md §5)") {
    forAll(postingsGen) { ps =>
      assert(decode(encode(ps)).toSeq == ps.toSeq)
    }
  }
  test("merge of disjoint sorted segments is sorted and complete") {
    forAll(postingsGen) { ps =>
      if (ps.nonEmpty) {
        val (a, b) = ps.zipWithIndex.partition(_._2 % 2 == 0)
        val merged = decode(merge(Seq(encode(a.map(_._1)), encode(b.map(_._1)))))
        assert(merged.toSeq == ps.toSeq)
      }
    }
  }
  test("patch = encode(sorted((decode(old) − dead) ∪ added)); a missing dead id or a collision throws") {
    val pairs = for (old <- postingsGen; fresh <- postingsGen) yield (old, fresh)
    forAll(pairs) { case (old, fresh) =>
      val dead = old.map(_.docId).filter(_ % 3 == 0).toSet
      val kept = old.filterNot(p => dead(p.docId))
      val keptIds = kept.map(_.docId).toSet
      // a re-indexed doc takes its dead id back with a new tf
      val added = fresh.filterNot(p => keptIds(p.docId) || dead(p.docId)) ++
        dead.take(2).map(Posting(_, 7L))
      val want = encode((kept ++ added).sortBy(_.docId))
      assert(patch(Seq(encode(old)), dead.toSeq, added.toSeq).toSeq == want.toSeq)
      // split across two segments, as the build's fold sees its batches
      val (a, b) = old.partition(_.docId % 2 == 0)
      assert(patch(Seq(encode(a), encode(b)), dead.toSeq, added.toSeq).toSeq == want.toSeq)
      intercept[IllegalArgumentException](patch(Seq(encode(old)), Seq(1L << 50), Nil))
      kept.headOption.foreach { p =>
        intercept[IllegalArgumentException](patch(Seq(encode(old)), Nil, Seq(Posting(p.docId, 1L))))
      }
    }
  }
  test("encode rejects unsorted input") {
    intercept[IllegalArgumentException] {
      encode(Array(Posting(5, 1), Posting(3, 1)))
    }
  }
  test("compression is effective on dense ids") {
    val ps = Array.tabulate(10000)(i => Posting(i.toLong * 2, 1L + i % 3))
    val bytes = encode(ps)
    assert(bytes.length < 10000 * 3) // << 16 bytes/posting uncompressed
  }
  test("the payload is (docDelta tf) only: one-byte gaps and tfs cost two bytes a posting") {
    // one block of 100: entryCount (1 byte), the block header (count,
    // lastDocDelta and maxTf take a byte each, the 200-byte payload length
    // two), then 100 × (gap, tf)
    val ps = Array.tabulate(100)(i => Posting(i.toLong + 1, 1L + i % 50))
    assert(encode(ps).length == 1 + 5 + 2 * 100)
    assert(decode(encode(ps)).toSeq == ps.toSeq)
  }
}

class WandSpec extends AnyFunSuite with GenSamples {
  import PostingCodec.Posting
  import graft.queryengine.Wand

  private def bruteConjunction(lists: Seq[Array[Posting]]): Seq[Long] = {
    val sets = lists.map(_.map(_.docId).toSet)
    sets.reduce(_ intersect _).toSeq.sorted
  }

  /** Every doc of [[listsGen]] (ids 0..600) at dl = avgdl = 50. */
  private val flatNorms = Array.fill(601)(50)

  val listsGen: Gen[List[Array[Posting]]] = for {
    nTerms <- Gen.chooseNum(1, 4)
    lists <- Gen.listOfN(nTerms, for {
      n <- Gen.chooseNum(1, 400)
      ids <- Gen.listOfN(n, Gen.chooseNum(0L, 600L)).map(_.distinct.sorted)
      tfs <- Gen.listOfN(ids.size, Gen.chooseNum(1L, 9L))
    } yield ids.zip(tfs).map { case (d, t) => Posting(d, t) }.toArray)
  } yield lists

  test("exact WAND conjunction == brute-force set intersection") {
    forAll(listsGen) { lists =>
      val termSegs = lists.zipWithIndex.map { case (l, i) =>
        (Wand.TermCtx(s"t$i", l.length.toLong), Some(PostingCodec.encode(l)))
      }
      val res = Wand.evaluateShard(termSegs, ReferenceTfSum, 1000L, 50.0, flatNorms,
        Int.MaxValue, exact = true)
      val expected = bruteConjunction(lists)
      assert(res.hits.map(_.docId).sorted.toSeq == expected)
      assert(res.matchCount == expected.size)
      // scores: sum of tfs
      val tfMaps = lists.map(_.map(p => p.docId -> p.tf).toMap)
      res.hits.foreach { h =>
        assert(h.score == tfMaps.map(_(h.docId)).sum.toDouble)
      }
    }
  }

  test("pruned top-k contains the true top-k scores (BM25)") {
    forAll(listsGen) { lists =>
      val bm = Bm25()
      val termSegs = lists.zipWithIndex.map { case (l, i) =>
        (Wand.TermCtx(s"t$i", l.length.toLong), Some(PostingCodec.encode(l)))
      }
      val exact = Wand.evaluateShard(termSegs, bm, 1000L, 50.0, flatNorms, Int.MaxValue, exact = true)
      val pruned = Wand.evaluateShard(termSegs, bm, 1000L, 50.0, flatNorms, 10, exact = false)
      val trueTop = exact.hits.map(_.score).sorted.reverse.take(10)
      val gotTop = pruned.hits.map(_.score).sorted.reverse.take(10)
      assert(gotTop.toSeq == trueTop.toSeq)
    }
  }

  /** 2–3 lists over 3,000 docs, each holding ~80% of them: conjunctions
    * of over a thousand matches spanning many 128-posting blocks. tf is
    * mostly 1–2 with rare spikes, so block maxima differ and block-max
    * pruning engages; dl is per doc, as in the index: the norms. */
  val denseListsGen: Gen[(Array[Int], List[Array[Posting]])] = for {
    nTerms <- Gen.chooseNum(2, 3)
    dls <- Gen.listOfN(3000, Gen.chooseNum(20, 400))
    lists <- Gen.listOfN(nTerms, for {
      keep <- Gen.listOfN(3000, Gen.chooseNum(0, 9))
      tfs <- Gen.listOfN(3000,
        Gen.frequency(100 -> Gen.chooseNum(1L, 2L), 1 -> Gen.chooseNum(3L, 30L)))
    } yield (0 until 3000).filter(keep(_) < 8)
      .map(i => Posting(i.toLong, tfs(i))).toArray)
  } yield (dls.toArray, lists)

  test("pruned top-k hit set == every doc scoring >= the exact k-th score (ties kept)") {
    for (scorer <- Seq(Bm25(), ReferenceTfSum)) {
      var engaged = 0
      forAll(denseListsGen, n = 30) { case (norms, lists) =>
        val termSegs = lists.zipWithIndex.map { case (l, i) =>
          (Wand.TermCtx(s"t$i", l.length.toLong), Some(PostingCodec.encode(l)))
        }
        val exact = Wand.evaluateShard(termSegs, scorer, 5000L, 200.0, norms, Int.MaxValue, exact = true)
        assert(exact.matchCount > 256, "the property needs more than 256 matches")
        val pruned = Wand.evaluateShard(termSegs, scorer, 5000L, 200.0, norms, 10, exact = false)
        val kth = exact.hits.map(_.score).sorted.reverse.apply(9)
        val expected = exact.hits.filter(_.score >= kth).map(h => h.docId -> h.score).toMap
        assert(pruned.hits.map(h => h.docId -> h.score).toMap == expected,
          s"${scorer.name}: pruned hit set differs from the exact one")
        assert(pruned.hits.length == expected.size, "a hit was kept twice")
        // a pruned count below the exact one means whole blocks were skipped
        if (pruned.matchCount < exact.matchCount) engaged += 1
      }
      assert(engaged > 0, s"${scorer.name}: block-max pruning never engaged")
    }
  }

  test("TermCursor.advanceTo / next land where a linear scan over decode lands") {
    val gen = for {
      n <- Gen.chooseNum(1, 1500)
      gaps <- Gen.listOfN(n, Gen.frequency(6 -> Gen.chooseNum(1L, 4L), 1 -> Gen.chooseNum(5L, 400L)))
      tfs <- Gen.listOfN(n, Gen.chooseNum(1L, 50L))
      steps <- Gen.listOfN(200, Gen.frequency(
        4 -> Gen.chooseNum(0L, 30L), 1 -> Gen.chooseNum(31L, 3000L), 1 -> Gen.const(-1L)))
    } yield {
      val ids = gaps.scanLeft(0L)(_ + _).tail
      (ids.lazyZip(tfs).map(Posting(_, _)).toArray, steps)
    }
    forAll(gen) { case (ps, steps) =>
      val bytes = PostingCodec.encode(ps)
      val cur = new Wand.TermCursor(bytes)
      val decoded = PostingCodec.decode(bytes)
      var ref = 0
      var target = 0L
      for (step <- steps if ref < decoded.length) {
        if (step < 0) { cur.next(); ref += 1 } // -1 encodes next()
        else {
          target += step
          cur.advanceTo(target)
          while (ref < decoded.length && decoded(ref).docId < target) ref += 1
        }
        assert(cur.exhausted == (ref >= decoded.length), s"exhaustion differs at target $target")
        if (!cur.exhausted)
          assert(Posting(cur.doc, cur.tf) == decoded(ref), s"cursor off at target $target")
      }
    }
  }

  test("missing term segment ⇒ empty result") {
    val seg = PostingCodec.encode(Array(Posting(1, 1)))
    val res = Wand.evaluateShard(
      Seq((Wand.TermCtx("a", 1), Some(seg)), (Wand.TermCtx("b", 0), None)),
      ReferenceTfSum, 10, 10.0, Array(10, 10), 10, exact = true)
    assert(res.hits.isEmpty && res.matchCount == 0)
  }

  test("dl comes from the norms array: equal tf ranks the shorter doc first under BM25, ties under tf-sum") {
    // docs 3 and 7 hold both terms with the same tfs; doc 3 is 400
    // tokens long, doc 7 is 40
    val norms = Array.fill(10)(100)
    norms(3) = 400
    norms(7) = 40
    val segs = Seq(
      (Wand.TermCtx("a", 2), Some(PostingCodec.encode(Array(Posting(3, 2), Posting(7, 2))))),
      (Wand.TermCtx("b", 3), Some(PostingCodec.encode(Array(Posting(1, 1), Posting(3, 1), Posting(7, 1))))))
    val bm = Bm25()
    val bmHits = Wand.evaluateShard(segs, bm, 10, 100.0, norms, 10, exact = true).hits
      .sortBy(h => (-h.score, h.docId)).toSeq
    assert(bmHits.map(_.docId) == Seq(7L, 3L), "BM25 must rank the shorter doc first")
    for (h <- bmHits) assert(h.score ==
      bm.termScore(2.0, 2, 10, norms(h.docId.toInt).toDouble, 100.0) +
        bm.termScore(1.0, 3, 10, norms(h.docId.toInt).toDouble, 100.0))
    val tfHits = Wand.evaluateShard(segs, ReferenceTfSum, 10, 100.0, norms, 10, exact = true).hits
    assert(tfHits.map(h => h.docId -> h.score).toMap == Map(3L -> 3.0, 7L -> 3.0),
      "tf-sum ignores dl: the two docs tie")
  }
}

class ScorerSpec extends AnyFunSuite {
  test("BM25 k1=1.2 b=0.75 hand-computed example") {
    val bm = Bm25()
    // n=100 docs, df=10, tf=3, dl=120, avgdl=100
    val idf = math.log((100 - 10 + 0.5) / (10 + 0.5) + 1.0)
    val expected = idf * 3.0 * 2.2 / (3.0 + 1.2 * (1 - 0.75 + 0.75 * 1.2))
    assert(math.abs(bm.termScore(3.0, 10L, 100L, 120.0, 100.0) - expected) < 1e-12)
  }
  test("BM25 idf floors at 0 for df > n/2 + small") {
    val bm = Bm25()
    assert(bm.idf(99, 100) >= 0.0)
  }
  test("upperBound dominates termScore for any dl") {
    val bm = Bm25()
    for (dl <- Seq(1.0, 50.0, 500.0))
      assert(bm.upperBound(5.0, 10, 1000, 0.0, 100.0) >= bm.termScore(5.0, 10, 1000, dl, 100.0))
  }
}
