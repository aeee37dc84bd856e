package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.corpus.{CorpusGen, PageRow}
import graft.index.{IndexBuild, Refresh}
import graft.queryengine.{SearchEngine, SearchResponse, Statistics}

/** End-to-end engine vs reference-oracle rank-identity on the fixture
  * corpus + query set (SURVEY.md §5; FIXTURES.md §4), plus the per-row
  * html_to_text invariant, resume correctness and statistics. */
class EngineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-engine-spec")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val workDir: String = Files.createTempDirectory("graft-test").toString
  val corpusCfg: CorpusGen.Config = CorpusGen.Config(nSites = 2, pagesPerSite = 250)
  // low salt threshold so head terms ARE salted in the fixture (exercises
  // shard-local conjunction); 3 batches exercise merge + resume.
  val idxCfg: IndexBuild.Config =
    IndexBuild.Config(shards = 4, saltThresholdDf = 120L, nBatches = 3, buckets = 16)

  lazy val pagesPath = s"$workDir/pages"
  lazy val indexDir = s"$workDir/idx"

  lazy val built: Unit = {
    spark.sparkContext.setLogLevel("WARN")
    val pages = CorpusGen.generate(spark, corpusCfg)
    pages.write.mode("overwrite").parquet(pagesPath)
    val ds = spark.read.parquet(pagesPath).as[PageRow](
      org.apache.spark.sql.Encoders.product[PageRow])
    IndexBuild.run(spark, ds, indexDir, idxCfg)
  }

  lazy val oracle: RefOracle.Corpus = {
    built
    val rows = spark.read.parquet(pagesPath)
      .select("url", "html").collect()
    new RefOracle.Corpus(rows.toSeq.map { r =>
      val url = r.getString(0)
      RefOracle.Doc(url, IndexBuild.siteOf(url),
        new String(r.getAs[Array[Byte]](1), java.nio.charset.StandardCharsets.UTF_8))
    })
  }

  lazy val engineTf: SearchEngine = { built; new SearchEngine(spark, indexDir, pagesPath, ReferenceTfSum) }
  lazy val engineBm: SearchEngine = { built; new SearchEngine(spark, indexDir, pagesPath, Bm25()) }

  // FIXTURES.md §4 query set: forms drawn from the closed dictionary.
  def commonForm: String = RuDict.formsOf(RuDict.contentLemmas(0))(1) // inflected head lemma
  def midLemma: String = RuDict.contentLemmas(20)
  def rareForm: String = RuDict.formsOf(RuDict.contentLemmas(60))(3)
  def ultraRare1: String = RuDict.contentLemmas(190)
  def ultraRare2: String = RuDict.contentLemmas(195)

  lazy val queries: Seq[(String, Option[String])] = Seq(
    (s"$commonForm $midLemma", None), // 2-word common+mid
    (s"$commonForm $midLemma $rareForm", None), // 3-word
    (s"есть $midLemma", None), // planted stop-lemma → pruned at 80%
    (s"столами $commonForm", None), // OOV inflection → identity lemma, df=0 ⇒ empty
    (rareForm, None), // single word, inflected
    (s"$ultraRare1 $ultraRare2", None), // likely zero-result conjunction
    (s"$commonForm $midLemma", Some("https://site1.test")), // site-scoped
    ("the quick brown fox", None), // latin-only ⇒ zero lemmas
    (s"и на $midLemma", None), // short particles destroyed by len filter
    (s"ёж $midLemma", None), // ё-word destroyed (F4) ⇒ single-term query
    ("есть", None) // stop lemma alone ⇒ ALL query terms prune (F5)
  )

  test("per-row invariant: html_to_text(html) == text, byte-identical per url (input_hint)") {
    built
    val bad = spark.read.parquet(pagesPath).collect().filterNot { r =>
      val html = r.getAs[Array[Byte]](r.fieldIndex("html"))
      HtmlText.cleanToText(html) == r.getAs[String]("text")
    }
    assert(bad.isEmpty, s"${bad.length} rows violate the cleaner invariant")
  }

  test("lemma_stats df matches the oracle per (term, site)") {
    built
    val got = spark.read.parquet(s"$indexDir/lemma_stats")
      .collect().map(r => (r.getAs[String]("term"), r.getAs[String]("site")) -> r.getAs[Long]("df"))
      .toMap
    assert(got.size == oracle.dfBySite.size)
    oracle.dfBySite.foreach { case (k, v) =>
      assert(got.get(k).contains(v.toLong), s"df mismatch for $k: got ${got.get(k)}, want $v")
    }
  }

  test("tf-sum ranking is rank-identical to the reference oracle on the query set") {
    for ((q, site) <- queries) {
      val exp = RefOracle.search(oracle, q, site.map(IndexBuild.siteOf), ReferenceTfSum)
      val got = engineTf.search(q, 0, 50, site)
      assert(got.count == exp.count.toLong, s"count mismatch for '$q' (site=$site)")
      val gotUrls = got.data.map(i => i.site + i.uri)
      val expUrls = exp.results.take(50).map(_.url)
      assert(gotUrls == expUrls, s"ranking mismatch for '$q' (site=$site)")
      got.data.zip(exp.results).foreach { case (g, e) =>
        assert(math.abs(g.relevance - e.relevance) < 1e-12, s"relevance mismatch for '$q'")
      }
    }
  }

  test("BM25 (k1=1.2,b=0.75) ranking is rank-identical to the BM25 oracle") {
    for ((q, site) <- queries) {
      val exp = RefOracle.search(oracle, q, site.map(IndexBuild.siteOf), Bm25())
      val got = engineBm.search(q, 0, 50, site)
      assert(got.count == exp.count.toLong, s"count mismatch for '$q' (site=$site)")
      val gotUrls = got.data.map(i => i.site + i.uri)
      assert(gotUrls == exp.results.take(50).map(_.url), s"ranking mismatch for '$q'")
      got.data.zip(exp.results).foreach { case (g, e) =>
        assert(math.abs(g.relevance - e.relevance) < 1e-9, s"score mismatch for '$q'")
      }
    }
  }

  test("pagination + cache path: offset slice equals oracle slice; count is pre-slice total (O3, §7 H6)") {
    val q = s"$commonForm $midLemma"
    val exp = RefOracle.search(oracle, q, None, ReferenceTfSum)
    val first = engineTf.search(q, 0, 10, None)
    val second = engineTf.search(q, 10, 10, None) // served from the cache
    assert(first.count == exp.count.toLong && second.count == exp.count.toLong)
    assert(second.data.map(i => i.site + i.uri) ==
      exp.results.slice(10, 20).map(_.url))
  }

  test("snippets: keyword wrapped in <b>, built from body text") {
    val q = rareForm
    val got = engineTf.search(q, 0, 5, None)
    assert(got.data.nonEmpty)
    got.data.foreach { item =>
      assert(item.snippet.contains("<b>"), s"no highlight in '${item.snippet}'")
      assert(item.title.nonEmpty)
    }
  }

  test("pruned top-k (block-max WAND) returns the same scores as exact top-k") {
    val qs = Seq(s"$commonForm $midLemma", rareForm, s"$commonForm $midLemma $rareForm")
    for (q <- qs) {
      val exact = engineBm.topK(q, 10, pruned = false).map(_._2)
      val pruned = engineBm.topK(q, 10, pruned = true).map(_._2)
      assert(pruned == exact, s"pruned/exact top-k scores differ for '$q'")
    }
  }

  test("topK on a fresh build ranks ordinals as the url hash did: (score desc, doc_id asc)") {
    built
    import spark.implicits._
    val urlOf = spark.read.parquet(s"$indexDir/docs").select("ord", "url")
      .as[(Long, String)].collect().toMap
    assert(urlOf.keySet == (0L until urlOf.size.toLong).toSet, "ordinals must be dense")
    for (q <- Seq(s"$commonForm $midLemma", rareForm, midLemma, s"$commonForm $midLemma $rareForm")) {
      val exp = RefOracle.search(oracle, q, None, Bm25()).results
        .sortBy(r => (-r.relevance, IndexBuild.stableDocId(r.url))).take(10).map(_.url)
      assert(exp.nonEmpty, s"fixture: '$q' must match")
      for (pruned <- Seq(true, false)) {
        val got = engineBm.topK(q, 10, pruned).map { case (ord, _) => urlOf(ord) }
        assert(got == exp, s"topK(pruned=$pruned) ranking differs for '$q'")
      }
    }
  }

  test("resume: interrupted build + restart yields a segment-identical index (§7 H5)") {
    built
    val dirB = s"$workDir/idx_resume"
    val ds = spark.read.parquet(pagesPath).as[PageRow](
      org.apache.spark.sql.Encoders.product[PageRow])
    val first = IndexBuild.run(spark, ds, dirB, idxCfg, stopAfter = 1)
    assert(first == 1)
    assert(IndexBuild.completedBatches(spark, dirB) == Set(0))
    val second = IndexBuild.run(spark, ds, dirB, idxCfg)
    assert(second == idxCfg.nBatches - 1)

    def indexMap(dir: String): Map[(String, Int), Seq[Byte]] =
      spark.read.parquet(s"$dir/index").collect().map { r =>
        (r.getAs[String]("term"), r.getAs[Int]("shard")) ->
          r.getAs[Array[Byte]]("postings").toSeq
      }.toMap
    val a = indexMap(indexDir)
    val b = indexMap(dirB)
    assert(a.keySet == b.keySet)
    a.keys.foreach(k => assert(a(k) == b(k), s"segment bytes differ for $k"))

    def ordsOf(dir: String): Map[String, Long] = {
      import spark.implicits._
      spark.read.parquet(s"$dir/docs").select("url", "ord").as[(String, Long)].collect().toMap
    }
    def nextOrdOf(dir: String): Long =
      IndexDir.stats(spark, dir).getAs[Long]("next_ord")
    assert(ordsOf(dirB) == ordsOf(indexDir), "doc ordinals differ")
    assert(nextOrdOf(dirB) == nextOrdOf(indexDir))
  }

  test("statistics: per-site rows + TOTAL row with status lifecycle (A7/A8, reference parity)") {
    built
    val rows = Statistics.compute(spark, indexDir).collect()
    val (total, perSite) = rows.partition(_.getAs[String]("site") == "TOTAL")
    assert(total.length == 1 && perSite.length == corpusCfg.nSites)
    assert(perSite.map(_.getAs[Long]("pages")).sum == corpusCfg.nDocs)
    assert(total(0).getAs[Long]("pages") == corpusCfg.nDocs)
    assert(total(0).getAs[Long]("lemmas") == perSite.map(_.getAs[Long]("lemmas")).sum)
    rows.foreach { r =>
      // full reference shape (DetailedStatisticsItem + TotalStatistics):
      // completed build ⇒ INDEXED, a commit timestamp, no error
      assert(r.getAs[String]("status") == "INDEXED")
      assert(r.getAs[java.sql.Timestamp]("status_time") != null)
      assert(r.getAs[String]("error") == null)
      assert(r.getAs[Long]("lemmas") > 0)
    }
  }

  test("F1: pages with invalid HTTP codes never reach the index (code column honored when present)") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val work = Files.createTempDirectory("graft-f1").toString
    CorpusGen.generateWithCodes(spark, CorpusGen.Config(2, 50))
      .write.mode("overwrite").parquet(s"$work/pages")
    val wide = spark.read.parquet(s"$work/pages")
    val bad = wide.filter(!col("code").isin(IndexBuild.ValidHttpCodes: _*))
      .select("url").as[String].collect().toSet
    val valid308 = wide.filter(col("code") === 308).count()
    assert(bad.nonEmpty, "fixture must contain invalid-code pages")
    assert(valid308 > 0, "fixture must contain valid 308 redirects")
    IndexBuild.run(spark,
      wide.as[PageRow](org.apache.spark.sql.Encoders.product[PageRow]),
      s"$work/idx", IndexBuild.Config(nBatches = 1, saltThresholdDf = 60L))
    val indexed = spark.read.parquet(s"$work/idx/docs")
      .select("url").as[String].collect().toSet
    assert(bad.forall(u => !indexed.contains(u)), "invalid-code page was indexed")
    assert(indexed.size.toLong == 100L - bad.size)
  }

  test("salted head terms exist and shard-local conjunction still matches the oracle") {
    built
    val heads = IndexDir.heads(spark, indexDir)
    assert(heads.nonEmpty, "fixture should produce salted head terms")
    // two salted-but-not-pruned head terms ⇒ multi-shard grouping with
    // two salted cursors per shard (the hardest conjunction layout)
    val usable = heads.filter(t => oracle.dfGlobal(t) * 100.0 / oracle.nDocs <= 80.0).sorted.take(2)
    assert(usable.length == 2, s"need 2 salted unpruned terms, heads=${heads.toSeq}")
    val q = usable.mkString(" ")
    val exp = RefOracle.search(oracle, q, None, ReferenceTfSum)
    val got = engineTf.search(q, 0, 50, None)
    assert(got.count == exp.count.toLong)
    assert(got.data.map(i => i.site + i.uri) == exp.results.take(50).map(_.url))
  }

  test("per-site status lifecycle: half-built corpus reports INDEXED/INDEXING independently per site") {
    val work = Files.createTempDirectory("graft-status").toString
    val cfg4 = IndexBuild.Config(shards = 4, saltThresholdDf = 120L, nBatches = 4, buckets = 16)
    CorpusGen.generate(spark, CorpusGen.Config(nSites = 4, pagesPerSite = 100))
      .write.mode("overwrite").parquet(s"$work/pages")
    val ds = spark.read.parquet(s"$work/pages").as[PageRow](
      org.apache.spark.sql.Encoders.product[PageRow])
    // batches are keyed by site hash; stop after 2 of 4 — the 4 fixture
    // sites hash to 4 DISTINCT batches, so exactly 2 sites are committed
    IndexBuild.run(spark, ds, s"$work/idx", cfg4, stopAfter = 2)
    val committed = IndexBuild.completedBatches(spark, s"$work/idx")
    assert(committed.size == 2)
    val rows = Statistics.compute(spark, s"$work/idx").collect()
    val (totalRows, perSite) = rows.partition(_.getAs[String]("site") == "TOTAL")
    assert(perSite.length == 4)
    val expIndexed = perSite.map(_.getAs[String]("site"))
      .filter(s => committed.contains(IndexBuild.siteBatchOf(s, 4))).toSet
    assert(expIndexed.size == 2, s"fixture sites must span committed+pending batches: $expIndexed")
    perSite.foreach { r =>
      val s = r.getAs[String]("site")
      val exp = if (expIndexed.contains(s)) "INDEXED" else "INDEXING"
      assert(r.getAs[String]("status") == exp, s"site $s expected $exp")
      assert(r.getAs[java.sql.Timestamp]("status_time") != null)
      assert(r.getAs[String]("error") == null)
    }
    // TOTAL row: indexing while any site is pending
    assert(totalRows.head.getAs[String]("status") == "INDEXING")
    // completing the build flips every site to INDEXED
    IndexBuild.run(spark, ds, s"$work/idx", cfg4)
    Statistics.compute(spark, s"$work/idx").collect()
      .foreach(r => assert(r.getAs[String]("status") == "INDEXED"))
  }

  test("prefetch: first-ever head-term query on a fresh engine runs ZERO Spark jobs") {
    built
    val heads = IndexDir.heads(spark, indexDir)
    // survive the 80% stop-lemma prune so the conjunction actually runs,
    // and lemmatize to themselves (a head term whose SURFACE form maps to
    // a different lemma would be a legitimate cache miss, not a prefetch
    // failure)
    val usable = heads
      .filter(t => oracle.dfGlobal(t) * 100.0 / oracle.nDocs <= 80.0)
      .filter(t => Lemmatizer.lemmaCounts(t).keySet == Set(t))
      .sorted.take(2)
    assert(usable.length == 2, "fixture must salt >=2 unpruned head terms")
    // constructing the engine runs the prefetch jobs; count jobs only after
    val engine = new SearchEngine(spark, indexDir, pagesPath, Bm25())
    val (hits, jobs) = jobsOf("prefetch-test-query")(engine.topK(usable.mkString(" "), 10))
    assert(hits.nonEmpty)
    assert(jobs == 0,
      s"head-term query must be fully served by the prefetched caches (saw $jobs jobs)")
  }

  test("distributed WAND (broadcast norms) answers search and topK exactly as the local path") {
    built
    val q = s"$commonForm $midLemma"
    val site = Some("https://site1.test")
    for (scorer <- Seq(ReferenceTfSum, Bm25())) {
      def answers(e: SearchEngine): Seq[Any] =
        Seq(q, s"$commonForm $midLemma $rareForm").flatMap(query => Seq(
          e.search(query, 0, 10), e.search(query, 10, 10), e.search(query, 0, 10, site),
          e.topK(query, 10, pruned = true), e.topK(query, 10, pruned = false)))
      val local = new SearchEngine(spark, indexDir, pagesPath, scorer)
      val expected = answers(local)
      assert(local.search(q, 0, 10).count > 10, "fixture: page 2 must hold hits")
      // a warm local topK is served from the driver caches
      assert(jobsOf("local-topk")(local.topK(q, 10))._2 == 0)

      val limit = SearchEngine.localEvalLimit
      SearchEngine.localEvalLimit = -1L // every query evaluates on the executors
      try {
        val dist = new SearchEngine(spark, indexDir, pagesPath, scorer)
        val got = answers(dist)
        expected.zip(got).zipWithIndex.foreach { case ((e, g), i) =>
          assert(g == e, s"${scorer.name}: answer $i differs from the local path")
        }
        assert(jobsOf("distributed-topk")(dist.topK(q, 10))._2 > 0, "the query must run distributed")
      } finally SearchEngine.localEvalLimit = limit
    }
  }

  test("warm topK is Catalyst-free: cache-hit calls run zero rules, a cache miss runs some") {
    built
    val q = s"$commonForm $midLemma"
    assert(engineBm.topK(q, 10).nonEmpty) // every term now in the posting cache
    val warm = ruleRuns((1 to 20).foreach(_ => engineBm.topK(q, 10)))
    assert(warm == 0, s"20 cache-hit topK calls ran $warm Catalyst rule executions")

    // control: an engine that caches no postings misses on every call,
    // and its segment fetch must show up on the same counter
    spark.conf.set("spark.graft.postingCacheBytes", "0")
    try {
      val uncached = new SearchEngine(spark, indexDir, pagesPath, Bm25())
      assert(uncached.topK(q, 10).nonEmpty) // warms the df cache only
      val miss = ruleRuns(uncached.topK(q, 10))
      assert(miss > 0, "a posting-cache miss must plan its segment fetch")
    } finally spark.conf.unset("spark.graft.postingCacheBytes")
  }

  test("empty conjunction: a warm search whose terms share no page returns 0, plans nothing, runs no job") {
    built
    // indexed, unpruned lemmas that are their own surface form
    val lemmas = RuDict.contentLemmas
      .filter(t => Lemmatizer.lemmaCounts(t).keySet == Set(t))
      .filter { t =>
        val df = oracle.dfGlobal(t)
        df > 0 && df * 100.0 / oracle.nDocs <= 80.0
      }
    val pagesOf = lemmas.map(t =>
      t -> oracle.docs.filter(_.lemmaCounts.contains(t)).map(_.url).toSet).toMap
    val pair = lemmas.combinations(2)
      .find(p => (pagesOf(p(0)) intersect pagesOf(p(1))).isEmpty)
    assert(pair.nonEmpty, "fixture must hold two indexed terms with no common page")
    val q = pair.get.mkString(" ")
    assert(RefOracle.search(oracle, q, None, Bm25()).count == 0)
    engineBm.search(q, 0, 10) // warms the df and posting caches
    val (resp, jobs) = jobsOf("empty-conjunction-query")(engineBm.search(q, 0, 10))
    assert(resp == SearchResponse(true, 0L, Seq.empty))
    assert(jobs == 0, s"an empty conjunction must not join docs (saw $jobs jobs)")
    // the optimizer folds the empty join away without a job, so only the
    // rule counter shows whether the join was planned at all
    val rules = ruleRuns(engineBm.search(q, 0, 10))
    assert(rules == 0, s"an empty conjunction must not plan the docs join ($rules rule runs)")
  }

  /** Catalyst rule executions (analyzer, optimizer, planner batches) run
    * by `body`, from Spark's process-wide rule counter. */
  private def ruleRuns(body: => Unit): Long = {
    import org.apache.spark.sql.catalyst.rules.RuleExecutor
    val before = RuleExecutor.getCurrentMetrics().numRuns
    body
    RuleExecutor.getCurrentMetrics().numRuns - before
  }

  private def jobsOf[T](group: String)(body: => T): (T, Int) =
    JobCount(spark, group)(body)

  test("mid_terms prefetch hint: written at build, excludes every head term, top-df ordered, bounded") {
    built
    import org.apache.spark.sql.functions.{col, sum}
    val m = graft.store.TableStore.open(spark, indexDir).manifest.get
    val heads = m.heads.toSet
    val mid = m.mids
    assert(mid.nonEmpty && mid.length <= IndexBuild.MidTermsWidth,
      s"hint width out of bounds: ${mid.length}")
    assert(mid.forall(t => !heads.contains(t)),
      "the hint must exclude salted head terms (the engine prefetches those separately)")
    // the hint IS the global-df top of the non-head vocabulary
    val expected = spark.read.parquet(s"$indexDir/lemma_stats")
      .groupBy("term").agg(sum(col("df")).as("df"))
      .filter(!col("term").isin(heads.toSeq: _*))
      .orderBy(col("df").desc, col("term"))
      .limit(mid.length)
      .collect().map(_.getAs[String]("term"))
    assert(mid == expected.toSeq,
      "the hint must be exactly the top-df non-head terms in (df desc, term) order")
  }

  test("the engine caches no relation of its index: a second engine on it answers as a fresh one after a refresh") {
    built
    import spark.implicits._
    // a private copy: the refresh below must not move the shared index
    val copy = s"${Files.createTempDirectory("graft-no-relation-cache")}/idx"
    IndexDir.copy(indexDir, copy)
    val q = s"$commonForm $midLemma"
    val site = Some("https://site1.test")
    def answers(e: SearchEngine): Seq[SearchResponse] =
      Seq(e.search(q, 0, 10), e.search(q, 10, 10), e.search(q, 0, 10, site))
    val first = new SearchEngine(spark, copy, pagesPath, Bm25())
    val second = new SearchEngine(spark, copy, pagesPath, Bm25())
    val before = answers(first)
    assert(answers(second) == before)

    // Spark's CacheManager matches entries by plan: look up exactly the
    // relations the engine reads (other suites cache their own frames)
    val store = graft.store.TableStore.open(spark, copy)
    def assertNothingCached(): Unit = {
      val m = store.manifest.get
      val docs = store.readAt(m, "docs")
      Seq("docs" -> docs, "docs (ord, url, site)" -> docs.select("ord", "url", "site"),
        "lemma_stats" -> store.readAt(m, "lemma_stats"), "index" -> store.readAt(m, "index"))
        .foreach { case (name, df) =>
          val entry = spark.sharedState.cacheManager
            .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.DataFrame])
          assert(entry.isEmpty, s"the engine cached $name of manifest v${m.version}")
        }
    }
    assertNothingCached()

    // a one-page refresh adds a new page to site1 that matches q; the
    // first engine's next search reloads it, the second stays on the old
    // manifest until its own next search
    val h = s"<html><head><title>$midLemma</title></head><body><p>$commonForm $midLemma</p></body></html>"
    Refresh.refreshPages(spark, copy, spark.createDataset(Seq(PageRow("https://site1.test/p/refreshed",
      new java.sql.Timestamp(CorpusGen.Epoch), h.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      HtmlText.cleanToText(h), "ru"))), idxCfg)
    first.search(q, 0, 10)
    val expected = answers(new SearchEngine(spark, copy, pagesPath, Bm25()))
    assert(expected.head.count == before.head.count + 1, "the refresh must add a match")
    assert(answers(second) == expected, "the second engine must answer as a freshly opened one")
    assert(answers(first) == expected)
    assertNothingCached()
  }

  test("bounded-files layout: index and dim writes emit O(partitions) files, not tasks x buckets") {
    built
    def parquetFiles(table: String): Long = {
      val p = java.nio.file.Paths.get(s"$indexDir/$table")
      val s = java.nio.file.Files.walk(p)
      try s.filter(f => f.toString.endsWith(".parquet")).count()
      finally s.close()
    }
    // the shuffle width of this fixture is 8 and buckets = 16; the
    // bucket-major segment keys / dim repartition bound every bucketed
    // table at ~(width + buckets) files with hash-collision slack —
    // the pre-fix dynamic writes emitted up to width x buckets (128)
    // per table (and per BATCH for the 3-batch index)
    val bound = 8 + idxCfg.buckets + 8 // width + buckets + slack
    for (t <- Seq("index", "docs", "lemma_stats")) {
      val n = parquetFiles(t)
      assert(n > 0 && n <= bound, s"$t holds $n parquet files (bound $bound)")
    }
  }
}
