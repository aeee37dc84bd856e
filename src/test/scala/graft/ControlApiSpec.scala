package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.app.ControlApi
import graft.corpus.CorpusGen
import graft.index.IndexBuild
import graft.store.TableStore

/** Reference control-API parity (ApiController.java:41-84,
  * IndexServiceImpl.java:84-115, RunIndexMonitor): error payloads on bad
  * input, the indexing monitor, and the graceful stop + resume flow. */
class ControlApiSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val cfg = IndexBuild.Config(shards = 4, saltThresholdDf = 200L, nBatches = 6, buckets = 16)

  test("indexPage error shapes: out-of-config site, invalid code, missing row; success refreshes") {
    val work = Files.createTempDirectory("graft-ctl").toString
    // corpus WITH an http-code column: a few urls carry 404/500 (F1 input)
    val pages = CorpusGen.generateWithCodes(spark, CorpusGen.Config(2, 120))
    pages.write.mode("overwrite").parquet(s"$work/pages")
    import org.apache.spark.sql.functions.col
    import spark.implicits._

    val ds = spark.read.parquet(s"$work/pages")
      .as[graft.corpus.PageRow](org.apache.spark.sql.Encoders.product[graft.corpus.PageRow])
    IndexBuild.run(spark, ds, s"$work/idx", cfg)

    val api = new ControlApi(spark, s"$work/pages", s"$work/idx",
      Seq("https://site0.test", "https://site1.test"), cfg)

    // 1. url outside the configured sites — verbatim reference message
    val out = api.indexPage("https://other.example/p/1")
    assert(!out.result)
    assert(out.error.contains(
      "Данная страница находится за пределами сайтов,указанных в конфигурационном файле"))

    // 2. a url whose corpus row has an invalid http code
    val badUrl = spark.read.parquet(s"$work/pages")
      .filter(!col("code").isin(IndexBuild.ValidHttpCodes: _*))
      .select("url").as[String].head()
    val badCode = spark.read.parquet(s"$work/pages")
      .filter(col("url") === badUrl).select("code").as[Int].head()
    val bad = api.indexPage(badUrl)
    assert(!bad.result)
    assert(bad.error.contains(s"Код: $badCode Ошибка доступа к $badUrl"))

    // 3. a configured-site url with no corpus row = the HEAD that never
    //    connected -> 404
    val missing = api.indexPage("https://site0.test/p/does-not-exist")
    assert(!missing.result)
    assert(missing.error.exists(_.startsWith("Код: 404")))

    // 4. valid url refreshes in one commit
    val okUrl = spark.read.parquet(s"$work/pages")
      .filter(col("code") === 200).select("url").as[String].head()
    val before = graft.index.Refresh.indexAsOf(spark, s"$work/idx")
    val ok = api.indexPage(okUrl)
    assert(ok.result && ok.error.isEmpty)
    assert(graft.index.Refresh.indexAsOf(spark, s"$work/idx") > before,
      "successful indexPage must commit a new batch")
  }

  test("indexPage refreshes the LATEST corpus version when the url has several rows") {
    val work = Files.createTempDirectory("graft-ctl-latest").toString
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    import java.nio.charset.StandardCharsets
    CorpusGen.generate(spark, CorpusGen.Config(2, 40))
      .write.mode("overwrite").parquet(s"$work/pages")
    val ds = spark.read.parquet(s"$work/pages")
      .as[graft.corpus.PageRow](org.apache.spark.sql.Encoders.product[graft.corpus.PageRow])
    IndexBuild.run(spark, ds, s"$work/idx", cfg)

    // a marker lemma no existing doc carries
    val statsTerms = spark.read.parquet(s"$work/idx/lemma_stats")
      .select("term").as[String].collect().toSet
    val marker = (150 until 200).map(graft.core.RuDict.contentLemmas)
      .find(t => !statsTerms(t)).getOrElse(fail("no unused lemma"))
    val url = spark.read.parquet(s"$work/pages")
      .orderBy("url").select("url").as[String].head()
    // append a NEWER version of the url carrying the marker — a re-crawl
    val h = s"<html><head><title>$marker</title></head><body><p>$marker $marker</p></body></html>"
      .getBytes(StandardCharsets.UTF_8)
    val newer = graft.corpus.PageRow(url,
      new java.sql.Timestamp(CorpusGen.Epoch + 86400000L), h,
      graft.core.HtmlText.cleanToText(new String(h, StandardCharsets.UTF_8)), "ru")
    spark.createDataset(Seq(newer)).write.mode("append").parquet(s"$work/pages")

    val api = new ControlApi(spark, s"$work/pages", s"$work/idx",
      Seq("https://site0.test", "https://site1.test"), cfg)
    assert(api.indexPage(url).result, "indexPage must succeed")
    val eng = new graft.queryengine.SearchEngine(
      spark, s"$work/idx", s"$work/pages", graft.core.ReferenceTfSum)
    val hits = eng.search(marker, 0, 10, None).data.map(i => i.site + i.uri)
    assert(hits.contains(url),
      "the NEWEST corpus version (latest warc_ts) must be the indexed one")
  }

  test("monitor: double start refused; stop when idle refused; graceful stop resumes") {
    val work = Files.createTempDirectory("graft-ctl2").toString
    CorpusGen.generate(spark, CorpusGen.Config(2, 400))
      .write.mode("overwrite").parquet(s"$work/pages")
    val api = new ControlApi(spark, s"$work/pages", s"$work/idx",
      Seq("https://site0.test", "https://site1.test"), cfg)

    // stop with nothing running — reference 403 path
    val idleStop = api.stopIndexing()
    assert(!idleStop.result && idleStop.error.contains("Индексация не запущена"))

    val start = api.startIndexing()
    assert(start.result)
    // second start while running — reference 403 path
    val dup = api.startIndexing()
    assert(!dup.result && dup.error.contains("Индексация уже запущена"))

    // stop as soon as the build shows progress (≥1 committed batch): a
    // fixed sleep is timing-flaky — a warm machine can finish the whole
    // build first, a cold one may not have committed anything yet
    val deadline = System.nanoTime() + 120L * 1000000000L
    while (IndexBuild.completedBatches(spark, s"$work/idx").isEmpty
        && api.isIndexingRunning && System.nanoTime() < deadline)
      Thread.sleep(50)
    val stop = api.stopIndexing()
    api.awaitIndexing()
    assert(api.lastError.isEmpty, s"build failed: ${api.lastError}")
    assert(!api.isIndexingRunning)

    val store = TableStore.open(spark, s"$work/idx")
    val doneAfterStop = IndexBuild.completedBatches(spark, s"$work/idx").size
    if (stop.result) {
      // stop landed while running; it may still have raced the last
      // batch's commit — only a TRULY partial build must resume
      assert(doneAfterStop <= cfg.nBatches)
    } else {
      // the build finished before the stop request — legal outcome; the
      // idle-refusal payload must be the reference's
      assert(stop.error.contains("Индексация не запущена"))
      assert(doneAfterStop == cfg.nBatches)
    }

    // resume (no-op if the build already completed): ends with ALL
    // batches committed exactly once — lineage is monotonic
    assert(api.startIndexing().result)
    api.awaitIndexing()
    assert(api.lastError.isEmpty, s"resume failed: ${api.lastError}")
    assert(IndexBuild.completedBatches(spark, s"$work/idx").size == cfg.nBatches)
    // and the engine over the resumed index sees the whole corpus
    val nDocs = store.read("stats").collect()(0).getAs[Long]("n_docs")
    assert(nDocs == 800L)
  }

  test("stop requested immediately after start is never lost (marker cleared synchronously)") {
    val work = Files.createTempDirectory("graft-ctl3").toString
    CorpusGen.generate(spark, CorpusGen.Config(2, 400))
      .write.mode("overwrite").parquet(s"$work/pages")
    val api = new ControlApi(spark, s"$work/pages", s"$work/idx",
      Seq("https://site0.test", "https://site1.test"), cfg)
    // the race window: stop lands after startIndexing() returns but
    // before the worker thread reaches the batch loop — the old
    // entry-time marker clear silently ate such a stop
    assert(api.startIndexing().result)
    val stop = api.stopIndexing()
    assert(stop.result, "stop while running must succeed")
    api.awaitIndexing()
    assert(api.lastError.isEmpty, s"build failed: ${api.lastError}")
    val done = IndexBuild.completedBatches(spark, s"$work/idx").size
    assert(done < cfg.nBatches,
      s"immediate stop was lost: $done/${cfg.nBatches} batches ran")
    // the eaten-stop failure mode would complete ALL batches; a resumed
    // start must finish the rest
    assert(api.startIndexing().result)
    api.awaitIndexing()
    assert(IndexBuild.completedBatches(spark, s"$work/idx").size == cfg.nBatches)
  }
}
