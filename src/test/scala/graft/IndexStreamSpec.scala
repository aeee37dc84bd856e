package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{HtmlText, PostingCodec, ReferenceTfSum, RuDict}
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

  test("a replayed micro-batch converges: ingesting it twice equals ingesting it once") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val work = Files.createTempDirectory("graft-stream-replay").toString
    val idx = s"$work/idx"
    val cfg = IndexBuild.Config(shards = 4, saltThresholdDf = 20L, buckets = 16)
    val l = RuDict.contentLemmas
    val base = CorpusGen.generate(spark, CorpusGen.Config(2, 30)).collect().toSeq
    IndexStream.ingestBatch(spark, idx, spark.createDataset(base), cfg)
    // a re-crawl of a known url (a day after the generated crawl) and a
    // url the index has not seen
    val batch = Seq(
      page(base.map(_.url).sorted.apply(3), html("снова", s"${l(190)} ${l(0)} ${l(2)}"),
        tsOffset = 86400000L),
      page("https://site1.test/p/replayed", html("новая", s"${l(191)} ${l(0)} ${l(0)}")))

    val store = TableStore.open(spark, idx)
    def state() = (
      store.read("index").select("term", "shard", "postings")
        .as[(String, Int, Array[Byte])].collect().toSeq
        .flatMap { case (t, sh, b) => PostingCodec.decode(b).map(p => (t, sh, p.docId, p.tf)) }
        .sorted,
      store.read("docs").select("doc_id", "ord", "url", "site", "lang", "dl")
        .as[(Long, Long, String, String, String, Long)].collect().toSet,
      store.read("lemma_stats").select("term", "site", "df")
        .as[(String, String, Long)].collect().toSet,
      store.manifest.get.stats)
    IndexStream.ingestBatch(spark, idx, spark.createDataset(batch), cfg)
    val once = state()
    assert(once._2.exists(_._3 == "https://site1.test/p/replayed"), "fixture: the new url is indexed")
    IndexStream.ingestBatch(spark, idx, spark.createDataset(batch), cfg)
    val twice = state()
    assert(twice._1 == once._1, "a replay must leave the decoded postings as one ingest left them")
    assert(twice._2 == once._2, "a replay must leave docs as one ingest left them")
    assert(twice._3 == once._3, "a replay must leave lemma_stats as one ingest left them")
    assert(twice._4 == once._4, "a replay must leave the stats as one ingest left them")
  }

  test("the HintEvery-th refresh rewrites mid_terms, and the new hint excludes every head term") {
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.functions.{col, sum}
    import spark.implicits._
    val work = Files.createTempDirectory("graft-stream-hint").toString
    val idx = s"$work/idx"
    val cfg = IndexBuild.Config(shards = 4, saltThresholdDf = 20L, buckets = 16)
    val l = RuDict.contentLemmas
    val base = CorpusGen.generate(spark, CorpusGen.Config(2, 30)).collect().toSeq
    IndexStream.ingestBatch(spark, idx, spark.createDataset(base), cfg) // batch 0
    val store = TableStore.open(spark, idx)
    def hint() = store.manifest.get.mids
    val bootHint = hint()
    // a lemma no page holds yet: it enters the hint only with a rewrite
    val used = store.read("lemma_stats").select("term").as[String].collect().toSet
    val fresh = (150 until 200).map(l).find(t => !used(t))
      .getOrElse(fail("fixture: no unused lemma available"))
    def ingest(i: Int): Unit = IndexStream.ingestBatch(spark, idx, spark.createDataset(Seq(
      page(s"https://site0.test/p/hint$i", html("х", s"$fresh ${l(2)}")))), cfg)

    // batches 1-7 stay inside the first HintEvery = 8 window
    for (i <- 1 to 7) {
      ingest(i)
      assert(hint() == bootHint, s"refresh batch $i must not rewrite the hint")
      assert(!hint().contains(fresh), s"refresh batch $i: the unrewritten hint holds $fresh")
    }
    ingest(8)
    assert(hint() != bootHint, "the 8th refresh batch must rewrite the hint")
    val m = store.manifest.get
    val heads = m.heads.toSet
    assert(heads.nonEmpty, "fixture: the index must have head terms")
    assert(m.mids.toSet.intersect(heads).isEmpty, s"head terms in the hint: ${m.mids.toSet.intersect(heads)}")
    // the hint is its own commit's lemma_stats: the top non-head terms in
    // (df desc, term) order, `fresh` where its df of 8 puts it
    val top = store.readAt(m, "lemma_stats").groupBy("term").agg(sum(col("df")).as("df"))
      .filter(!col("term").isin(heads.toSeq: _*))
      .orderBy(col("df").desc, col("term")).limit(IndexBuild.MidTermsWidth)
      .as[(String, Long)].collect().toSeq
    assert(top.find(_._1 == fresh).map(_._2).contains(8L),
      s"fixture: $fresh must rank in its commit's top non-head terms with df 8")
    assert(m.mids == top.map(_._1),
      "the hint must be the top non-head terms of its own commit's lemma_stats")
  }

  test("an older crawl of a url ingested in a later batch never replaces the newer indexed one") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val work = Files.createTempDirectory("graft-stream-order").toString
    val idx = s"$work/idx"
    val cfg = IndexBuild.Config(shards = 4, saltThresholdDf = 60L, buckets = 16)
    val l = RuDict.contentLemmas
    val base = CorpusGen.generate(spark, CorpusGen.Config(2, 20)).collect().toSeq
    IndexStream.ingestBatch(spark, idx, spark.createDataset(base), cfg)
    val url = "https://site0.test/p/reordered"
    val (markerOld, markerNew) = (l(185), l(187))
    val older = page(url, html("старая", s"$markerOld ${l(6)}"))
    val newer = page(url, html("новая", s"$markerNew ${l(6)}"), tsOffset = 60000L)
    IndexStream.ingestBatch(spark, idx, spark.createDataset(Seq(newer)), cfg)
    val store = TableStore.open(spark, idx)
    val v = store.version
    IndexStream.ingestBatch(spark, idx, spark.createDataset(Seq(older)), cfg)
    assert(store.version == v, "an older crawl of an indexed url must publish nothing")

    def indexed() = store.read("docs").filter($"url" === url)
      .select("warc_ts", "terms").as[(java.sql.Timestamp, Seq[String])].collect().toSeq
    assert(indexed().map { case (ts, terms) => (ts, terms.contains(markerNew), terms.contains(markerOld)) } ==
      Seq((newer.warc_ts, true, false)), s"the newer version must stay indexed: ${indexed()}")

    // an equal crawl time replaces: a re-crawl at the indexed time
    val again = page(url, html("снова", s"$markerOld ${l(6)}"), tsOffset = 60000L)
    IndexStream.ingestBatch(spark, idx, spark.createDataset(Seq(again)), cfg)
    assert(indexed().map { case (_, terms) => (terms.contains(markerNew), terms.contains(markerOld)) } ==
      Seq((false, true)),
      s"a version crawled at the indexed time must replace it: ${indexed()}")
  }
}
