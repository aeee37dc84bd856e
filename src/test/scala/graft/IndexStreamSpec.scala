package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{HtmlText, ReferenceTfSum, RuDict}
import graft.corpus.{CorpusGen, PageRow}
import graft.index.IndexBuild
import graft.queryengine.SearchEngine
import graft.store.TableStore
import graft.streaming.IndexStream

/** Continuous index ingest (IndexStream): a file-source page feed must
  * bootstrap an index from its first micro-batch, fold later files in as
  * refresh deltas (re-crawled url ⇒ old version replaced), and be visible
  * to a LIVE engine through the fingerprint auto-reload — without
  * restarting either the stream or the engine. */
class IndexStreamSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def html(title: String, body: String): Array[Byte] =
    s"<html><head><title>$title</title></head><body><p>$body</p></body></html>"
      .getBytes(StandardCharsets.UTF_8)

  private def page(url: String, h: Array[Byte], tsOffset: Long = 0L): PageRow =
    PageRow(url, new java.sql.Timestamp(CorpusGen.Epoch + tsOffset), h,
      HtmlText.cleanToText(new String(h, StandardCharsets.UTF_8)), "ru")

  test("page feed: bootstrap build, incremental re-crawl refresh, live-engine visibility") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val work = Files.createTempDirectory("graft-stream-idx").toString
    val feed = s"$work/feed"
    val idx = s"$work/idx"
    val cfg = IndexBuild.Config(shards = 4, saltThresholdDf = 60L, buckets = 16)

    val l = RuDict.contentLemmas
    val markerOld = l(190)
    val markerNew = l(195)
    val crawlUrl = "https://site0.test/p/recrawl"

    // file 1: a small generated corpus + one crafted page (v1: markerOld)
    val base = CorpusGen.generate(spark, CorpusGen.Config(2, 30)).collect().toSeq
    val v1 = page(crawlUrl, html("первая версия",
      s"$markerOld ${RuDict.formsOf(markerOld)(1)} ${l(2)}"))
    spark.createDataset(base :+ v1).write.mode("append").parquet(feed)

    val q = IndexStream.run(spark, feed, idx, cfg)
    try {
      q.processAllAvailable()
      val store = TableStore.open(spark, idx)
      val nAfterBoot = store.read("stats").collect()(0).getAs[Long]("n_docs")
      assert(nAfterBoot == base.size + 1L,
        s"bootstrap batch must index every feed page (got $nAfterBoot)")

      // live engine on the bootstrapped index
      val engine = new SearchEngine(spark, idx, feed, ReferenceTfSum)
      assert(engine.search(markerOld, 0, 30, None).data
        .exists(i => i.site + i.uri == crawlUrl), "v1 content must be searchable")

      // file 2: the same url RE-CRAWLED (v2: markerNew only), a new page,
      // and a url crawled TWICE within the same micro-batch (two
      // warc_ts versions — ingest must keep only the later one)
      val v2 = page(crawlUrl, html("вторая версия",
        s"$markerNew ${RuDict.formsOf(markerNew)(2)} ${l(3)}"))
      val fresh = page("https://site1.test/p/fresh", html("новая",
        s"${l(4)} ${l(5)} ${l(4)}"))
      val dupUrl = "https://site0.test/p/dup"
      val markerDupOld = l(185)
      val markerDupNew = l(187)
      val dupA = page(dupUrl, html("дубль старый", s"$markerDupOld ${l(6)}"))
      val dupB = page(dupUrl, html("дубль новый", s"$markerDupNew ${l(6)}"),
        tsOffset = 60000L)
      spark.createDataset(Seq(v2, fresh, dupA, dupB)).write.mode("append").parquet(feed)
      q.processAllAvailable()

      val nAfterDelta = store.read("stats").collect()(0).getAs[Long]("n_docs")
      assert(nAfterDelta == base.size + 3L,
        s"re-crawl must replace, new urls must add once (got $nAfterDelta)")
      // in-batch dedup: only the later warc_ts version of dupUrl indexed
      assert(engine.search(markerDupNew, 0, 30, None).data
        .exists(i => i.site + i.uri == dupUrl), "later duplicate version must win")
      assert(!engine.search(markerDupOld, 0, 30, None).data
        .exists(i => i.site + i.uri == dupUrl), "earlier duplicate version must lose")

      // SAME engine instance: fingerprint reload must expose the delta
      assert(engine.search(markerNew, 0, 30, None).data
        .exists(i => i.site + i.uri == crawlUrl), "v2 content must be searchable live")
      assert(!engine.search(markerOld, 0, 30, None).data
        .exists(i => i.site + i.uri == crawlUrl),
        "v1 content of the re-crawled page must be gone")

      // the ingest committed through the lineage protocol: a refresh
      // lineage row with real delta metrics exists beyond the bootstrap
      val lineage = store.read("lineage")
        .filter($"doc_range".startsWith("refresh"))
        .select("term_count", "posting_count").as[(Long, Long)].collect()
      assert(lineage.nonEmpty && lineage.forall { case (t, p) => t > 0 && p > 0 },
        "refresh micro-batches must commit lineage rows with real metrics")
    } finally q.stop()
  }

  test("bootstrap replay after a crash mid-first-batch: half-written tables are dropped, the build re-runs (ADVICE r03)") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val work = Files.createTempDirectory("graft-stream-crash").toString
    val idx = s"$work/idx"
    val cfg = IndexBuild.Config(shards = 4, saltThresholdDf = 60L, buckets = 16)

    // simulate the crash window: a docs table is on disk, but the
    // commit point (the manifest) is not — the round-3 gate keyed on docs
    // and wedged here forever
    val base = CorpusGen.generate(spark, CorpusGen.Config(2, 20)).collect().toSeq
    Seq(("https://site0.test/p/partial", "junk", "s", "l", 1L))
      .toDF("url", "x", "site", "lang", "dl")
      .write.parquet(s"$idx/docs")
    assert(TableStore.open(spark, idx).manifest.isEmpty)

    // the checkpointed replay of the first micro-batch must bootstrap
    IndexStream.ingestBatch(spark, idx, spark.createDataset(base), cfg)
    val store = TableStore.open(spark, idx)
    assert(store.manifest.exists(_.stats.isDefined), "bootstrap must reach its commit point")
    assert(IndexDir.unreferenced(spark, idx).isEmpty,
      s"the half-written table must be collected: ${IndexDir.unreferenced(spark, idx)}")
    assert(store.read("stats").collect()(0).getAs[Long]("n_docs") == base.size.toLong,
      "the partial pre-crash docs table must not leak into the rebuilt index")
    assert(!store.read("docs").columns.contains("x"),
      "half-written bootstrap tables must be dropped wholesale")
  }

  test("amortized compaction (compactEvery=3): between compactions the index is NOT rewritten, queries overlay pending deltas") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val work = Files.createTempDirectory("graft-stream-amort").toString
    val idx = s"$work/idx"
    val cfg = IndexBuild.Config(shards = 4, saltThresholdDf = 60L, buckets = 16)
    val l = RuDict.contentLemmas

    def indexFiles(): Map[String, Seq[Byte]] = {
      val root = new java.io.File(s"$idx/index")
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(root).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getAbsolutePath.stripPrefix(root.getAbsolutePath) ->
          java.nio.file.Files.readAllBytes(f.toPath).toSeq)
        .toMap
    }
    def batchDs(ps: PageRow*) = spark.createDataset(ps.toSeq)

    // batch 1: bootstrap
    val base = CorpusGen.generate(spark, CorpusGen.Config(2, 30)).collect().toSeq
    spark.createDataset(base).write.mode("append").parquet(s"$work/pages")
    IndexStream.ingestBatch(spark, idx,
      spark.createDataset(base), cfg, compactEvery = 3)
    val store = TableStore.open(spark, idx)
    val afterBoot = indexFiles()
    assert(graft.index.Refresh.pendingBatches(spark, idx) == 0)

    // batches 2 and 3: refreshes that must NOT rewrite the index —
    // the amortization contract: bytes rewritten per non-compacting
    // batch are bounded by the touched DIM buckets only (index: zero)
    val mA = l(190); val mB = l(193)
    val uA = "https://site0.test/p/amortA"
    val uB = "https://site1.test/p/amortB"
    val pA = page(uA, html("а", s"$mA ${RuDict.formsOf(mA)(1)} ${l(2)}"))
    val pB = page(uB, html("б", s"$mB ${l(3)}"))
    spark.createDataset(Seq(pA, pB)).write.mode("append").parquet(s"$work/pages")
    IndexStream.ingestBatch(spark, idx, batchDs(pA), cfg, compactEvery = 3)
    assert(indexFiles() == afterBoot,
      "a non-compacting micro-batch must leave every index file byte-identical")
    assert(graft.index.Refresh.pendingBatches(spark, idx) == 1)

    // pending deltas are QUERYABLE now (engine delta overlay), and the
    // dims were maintained: n_docs grew
    val engine = new SearchEngine(spark, idx, s"$work/pages", ReferenceTfSum)
    assert(engine.search(mA, 0, 10, None).data.exists(i => i.site + i.uri == uA),
      "pending (uncompacted) delta batch must be visible to queries")
    assert(store.read("stats").collect()(0).getAs[Long]("n_docs") == base.size + 1L)

    IndexStream.ingestBatch(spark, idx, batchDs(pB), cfg, compactEvery = 3)
    assert(indexFiles() == afterBoot,
      "second non-compacting micro-batch must still not touch the index")
    assert(graft.index.Refresh.pendingBatches(spark, idx) == 2)

    // batch 4 triggers the deferred compaction: all pending batches fold
    IndexStream.ingestBatch(spark, idx,
      batchDs(page("https://site0.test/p/amortC", html("в", s"${l(7)} ${l(8)}"))),
      cfg, compactEvery = 3)
    assert(graft.index.Refresh.pendingBatches(spark, idx) == 0,
      "the compactEvery-th batch must fold every pending delta")
    assert(indexFiles() != afterBoot, "compaction must rewrite touched buckets")
    // post-compaction: same results, now from the base index path
    assert(engine.search(mA, 0, 10, None).data.exists(i => i.site + i.uri == uA))
    assert(engine.search(mB, 0, 10, None).data.exists(i => i.site + i.uri == uB))
  }

  test("deferred-compaction debt cap: a load past maxPendingBatches compacts before serving, rank-identically (VERDICT r04 item 4)") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val work = Files.createTempDirectory("graft-stream-debt").toString
    val idx = s"$work/idx"
    val cfg = IndexBuild.Config(shards = 4, saltThresholdDf = 60L, buckets = 16)
    val l = RuDict.contentLemmas
    def batchDs(ps: PageRow*) = spark.createDataset(ps.toSeq)

    // bootstrap + 4 refresh batches with compaction deferred indefinitely
    // (a "long-crashed compactor": compactEvery far beyond the backlog)
    val base = CorpusGen.generate(spark, CorpusGen.Config(2, 30)).collect().toSeq
    spark.createDataset(base).write.mode("append").parquet(s"$work/pages")
    IndexStream.ingestBatch(spark, idx,
      spark.createDataset(base), cfg, compactEvery = 1000)
    val marks = Seq(l(190), l(193), l(196), l(199))
    val urls = marks.zipWithIndex.map { case (_, i) => s"https://site0.test/p/debt$i" }
    marks.zip(urls).foreach { case (m, u) =>
      val p = page(u, html("д", s"$m ${RuDict.formsOf(m)(1)} ${l(2)}"))
      spark.createDataset(Seq(p)).write.mode("append").parquet(s"$work/pages")
      IndexStream.ingestBatch(spark, idx, batchDs(p), cfg, compactEvery = 1000)
    }
    assert(graft.index.Refresh.pendingBatches(spark, idx) == 4)

    // control rankings through the overlay path (debt below the cap)
    val qs = Seq(marks.head, s"${l(2)} ${marks(1)}", RuDict.formsOf(marks(2))(1))
    val overlayEngine = new SearchEngine(spark, idx, s"$work/pages", ReferenceTfSum)
    val expected = qs.map(q => overlayEngine.search(q, 0, 20, None).data
      .map(i => (i.site + i.uri, i.relevance)))
    assert(graft.index.Refresh.pendingBatches(spark, idx) == 4,
      "an engine load below the cap must NOT compact")

    // capped load: 4 pending > 3 allowed → the engine compacts up front...
    spark.conf.set("spark.graft.maxPendingBatches", "3")
    try {
      val cappedEngine = new SearchEngine(spark, idx, s"$work/pages", ReferenceTfSum)
      assert(graft.index.Refresh.pendingBatches(spark, idx) == 0,
        "a load past the debt cap must compact before serving")
      // ...and serves the same rankings from the clean index
      val got = qs.map(q => cappedEngine.search(q, 0, 20, None).data
        .map(i => (i.site + i.uri, i.relevance)))
      assert(got == expected, "capped (compacted) load must rank identically to the overlay path")
      // compaction also maintains the prefetch hint table (round-5 ADVICE)
      assert(TableStore.open(spark, idx).exists("mid_terms"),
        "compaction must (re)write the mid_terms prefetch hint")
    } finally spark.conf.unset("spark.graft.maxPendingBatches")
  }

  test("debt-cap compaction is best-effort: a reader that cannot write serves via the overlay") {
    spark.sparkContext.setLogLevel("WARN")
    import scala.sys.process._
    import spark.implicits._
    val work = Files.createTempDirectory("graft-stream-rodebt").toString
    val idx = s"$work/idx"
    val cfg = IndexBuild.Config(shards = 4, saltThresholdDf = 60L, buckets = 16)
    val l = RuDict.contentLemmas

    val base = CorpusGen.generate(spark, CorpusGen.Config(2, 30)).collect().toSeq
    spark.createDataset(base).write.mode("append").parquet(s"$work/pages")
    IndexStream.ingestBatch(spark, idx,
      spark.createDataset(base), cfg, compactEvery = 1000)
    val marks = Seq(l(190), l(193))
    marks.zipWithIndex.foreach { case (m, i) =>
      val p = page(s"https://site0.test/p/ro$i",
        html("д", s"$m ${RuDict.formsOf(m)(1)} ${l(2)}"))
      spark.createDataset(Seq(p)).write.mode("append").parquet(s"$work/pages")
      IndexStream.ingestBatch(spark, idx, spark.createDataset(Seq(p)), cfg,
        compactEvery = 1000)
    }
    assert(graft.index.Refresh.pendingBatches(spark, idx) == 2)

    val qs = Seq(marks.head, s"${l(2)} ${marks(1)}")
    val overlayEngine = new SearchEngine(spark, idx, s"$work/pages", ReferenceTfSum)
    val expected = qs.map(q => overlayEngine.search(q, 0, 20, None).data
      .map(i => (i.site + i.uri, i.relevance)))

    // make the index TABLE unwritable even to root (the compaction's first
    // write stages inside it) while leaving every read path intact — the
    // read-only-reader / lost-compaction-race scenario
    if (Seq("chattr", "+i", s"$idx/index").! != 0)
      cancel("chattr +i unsupported on this filesystem")
    try {
      spark.conf.set("spark.graft.maxPendingBatches", "1")
      val roEngine = new SearchEngine(spark, idx, s"$work/pages", ReferenceTfSum)
      val got = qs.map(q => roEngine.search(q, 0, 20, None).data
        .map(i => (i.site + i.uri, i.relevance)))
      assert(got == expected,
        "a reader whose over-cap compaction fails must serve the overlay rankings, not die")
      assert(graft.index.Refresh.pendingBatches(spark, idx) == 2,
        "the failed compaction must leave the pending debt untouched")
    } finally {
      spark.conf.unset("spark.graft.maxPendingBatches")
      Seq("chattr", "-i", s"$idx/index").! : Unit
    }
  }
}
