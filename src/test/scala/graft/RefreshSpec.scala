package graft

import java.nio.file.Files
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{ReferenceTfSum, RuDict, HtmlText}
import graft.corpus.{CorpusGen, PageRow}
import graft.index.{IndexBuild, Refresh}
import graft.queryengine.SearchEngine

/** Incremental refresh/delete (§3.3 indexPage rebuild): after a refresh
  * the engine must be rank-identical to the oracle computed over the
  * MODIFIED corpus — including df-sensitive pruning and ordering — and
  * after a delete over the shrunk corpus. */
class RefreshSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val corpusCfg = CorpusGen.Config(2, 100)
  // the jobs of a one-page refresh and a one-url delete on `buildSmall`
  private val RefreshJobCeiling = 12
  private val DeleteJobCeiling = 9
  // the jobs of an engine open and of a live engine's first search after
  // a one-page refresh, on `buildSmall`
  private val OpenJobCeiling = 6
  private val FirstSearchJobCeiling = 8
  private val idxCfg = IndexBuild.Config(shards = 4, saltThresholdDf = 60L, nBatches = 2, buckets = 16)

  private def html(title: String, body: String): Array[Byte] =
    s"<html><head><title>$title</title></head><body><p>$body</p></body></html>"
      .getBytes(StandardCharsets.UTF_8)

  // a re-crawl: a day after the generated pages' crawl times, so a
  // refresh replaces their versions (an older crawl would not)
  private val Recrawl = CorpusGen.Epoch + 86400000L

  private def page(url: String, h: Array[Byte]): PageRow =
    PageRow(url, new java.sql.Timestamp(Recrawl), h,
      HtmlText.cleanToText(new String(h, StandardCharsets.UTF_8)), "ru")

  test("refresh + delete keep the engine rank-identical to the modified-corpus oracle") {
    spark.sparkContext.setLogLevel("WARN")
    val work = Files.createTempDirectory("graft-refresh").toString
    val pages = CorpusGen.generate(spark, corpusCfg).collect().toSeq
    import spark.implicits._
    spark.createDataset(pages).write.mode("overwrite").parquet(s"$work/pages")
    val ds = spark.read.parquet(s"$work/pages")
      .as[PageRow](org.apache.spark.sql.Encoders.product[PageRow])
    IndexBuild.run(spark, ds, s"$work/idx", idxCfg)

    val l = RuDict.contentLemmas
    val marker = l(198) // rare lemma, used as the refreshed page's content
    val common = l(1)

    // ── refresh an existing page with brand-new content ──
    val targetUrl = "https://site0.test/p/000010"
    val newPage = page(targetUrl, html(s"$marker заголовок",
      s"$marker ${RuDict.formsOf(marker)(2)} $common $common ${l(30)}"))
    Refresh.refreshPages(spark, s"$work/idx", spark.createDataset(Seq(newPage)), idxCfg)
    // also write the modified pages table (presentation reads html by url)
    val modified = pages.map(p => if (p.url == targetUrl) newPage else p)
    spark.createDataset(modified).write.mode("overwrite").parquet(s"$work/pages2")

    val oracle1 = new RefOracle.Corpus(modified.map { r =>
      RefOracle.Doc(r.url, IndexBuild.siteOf(r.url), new String(r.html, StandardCharsets.UTF_8))
    })
    val engine1 = new SearchEngine(spark, s"$work/idx", s"$work/pages2", ReferenceTfSum)
    val queries = Seq(marker, s"$marker $common", s"${l(0)} ${l(20)}", s"$common ${l(30)}")
    for (q <- queries) {
      val exp = RefOracle.search(oracle1, q, None, ReferenceTfSum)
      val got = engine1.search(q, 0, 30, None)
      assert(got.count == exp.count.toLong, s"count mismatch for '$q' after refresh")
      assert(got.data.map(i => i.site + i.uri) == exp.results.take(30).map(_.url),
        s"ranking mismatch for '$q' after refresh")
    }
    // the refreshed page must surface for its new marker term
    assert(engine1.search(marker, 0, 30, None).data.exists(i => i.site + i.uri == targetUrl))

    // ── delete another page entirely ──
    val delUrl = "https://site1.test/p/000050"
    Refresh.deletePages(spark, s"$work/idx", Seq(delUrl), idxCfg)
    val afterDelete = modified.filterNot(_.url == delUrl)
    spark.createDataset(afterDelete).write.mode("overwrite").parquet(s"$work/pages3")
    val oracle2 = new RefOracle.Corpus(afterDelete.map { r =>
      RefOracle.Doc(r.url, IndexBuild.siteOf(r.url), new String(r.html, StandardCharsets.UTF_8))
    })
    val engine2 = new SearchEngine(spark, s"$work/idx", s"$work/pages3", ReferenceTfSum)
    assert(engine2.nDocs == afterDelete.size.toLong)
    for (q <- queries) {
      val exp = RefOracle.search(oracle2, q, None, ReferenceTfSum)
      val got = engine2.search(q, 0, 30, None)
      assert(got.count == exp.count.toLong, s"count mismatch for '$q' after delete")
      assert(got.data.map(i => i.site + i.uri) == exp.results.take(30).map(_.url),
        s"ranking mismatch for '$q' after delete")
    }
    assert(!engine2.search(s"${l(0)}", 0, 100, None).data.exists(i => i.site + i.uri == delUrl))

    // ── second refresh of the SAME page (latest-batch-wins) ──
    val newer = page(targetUrl, html("другой заголовок", s"${l(150)} ${l(150)} ${l(151)}"))
    Refresh.refreshPages(spark, s"$work/idx", spark.createDataset(Seq(newer)), idxCfg)
    val engine3 = new SearchEngine(spark, s"$work/idx", s"$work/pages3", ReferenceTfSum)
    assert(!engine3.search(marker, 0, 30, None).data.exists(i => i.site + i.uri == targetUrl),
      "old version's terms must be dead after the second refresh")
    assert(engine3.search(l(150), 0, 30, None).data.exists(i => i.site + i.uri == targetUrl),
      "newest version's terms must match")
  }

  test("a LIVE engine detects a delete under it and reloads all caches (fingerprint check)") {
    spark.sparkContext.setLogLevel("WARN")
    val work = Files.createTempDirectory("graft-refresh-live").toString
    val pages = CorpusGen.generate(spark, CorpusGen.Config(2, 60)).collect().toSeq
    import spark.implicits._
    spark.createDataset(pages).write.mode("overwrite").parquet(s"$work/pages")
    val ds = spark.read.parquet(s"$work/pages")
      .as[PageRow](org.apache.spark.sql.Encoders.product[PageRow])
    IndexBuild.run(spark, ds, s"$work/idx", idxCfg)

    val engine = new SearchEngine(spark, s"$work/idx", s"$work/pages", ReferenceTfSum)
    val q = RuDict.contentLemmas(5)
    val before = engine.search(q, 0, 100, None) // warms df + posting caches
    assert(before.count > 0)
    val victim = before.data.head
    val victimUrl = victim.site + victim.uri

    Refresh.deletePages(spark, s"$work/idx", Seq(victimUrl), idxCfg)

    // SAME engine instance — previously served deleted postings from the
    // driver posting cache with zero Spark jobs (latent bug, ADVICE r01)
    val after = engine.search(q, 0, 100, None)
    assert(after.count == before.count - 1,
      s"live engine served stale results: ${after.count} vs ${before.count}")
    assert(!after.data.exists(i => i.site + i.uri == victimUrl))
    assert(engine.nDocs == pages.size.toLong - 1)
    // pagination path must not serve the pre-delete cached ranking either
    val paged = engine.search(q, 1, 100, None)
    assert(!paged.data.exists(i => i.site + i.uri == victimUrl))
  }

  test("one-page refresh rewrites ONLY touched bucket partitions; untouched files stay byte-identical") {
    spark.sparkContext.setLogLevel("WARN")
    val work = Files.createTempDirectory("graft-refresh-pruned").toString
    // many buckets relative to a doc's term count, as a production layout
    // would size them — so most partitions are provably untouched
    val cfgP = IndexBuild.Config(shards = 4, saltThresholdDf = 60L, nBatches = 1, buckets = 256)
    val pages = CorpusGen.generate(spark, CorpusGen.Config(2, 60)).collect().toSeq
    import spark.implicits._
    spark.createDataset(pages).write.mode("overwrite").parquet(s"$work/pages")
    val ds = spark.read.parquet(s"$work/pages")
      .as[PageRow](org.apache.spark.sql.Encoders.product[PageRow])
    IndexBuild.run(spark, ds, s"$work/idx", cfgP)

    def indexFiles(): Map[String, Seq[Byte]] = {
      val root = new java.io.File(s"$work/idx/index")
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(root).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getAbsolutePath.stripPrefix(root.getAbsolutePath) ->
          java.nio.file.Files.readAllBytes(f.toPath).toSeq)
        .toMap
    }
    val before = indexFiles()

    import org.apache.spark.sql.functions.{col, explode}
    // pick a target that actually lemmatized to terms — some generated
    // pages are legitimately term-less (non-Cyrillic/junk content)
    val targetUrl = spark.read.parquet(s"$work/idx/docs")
      .filter(col("dl") > 0).orderBy("url")
      .select("url").as[String].head()
    val oldTerms = spark.read.parquet(s"$work/idx/docs")
      .filter(col("doc_id") === IndexBuild.stableDocId(targetUrl))
      .select(explode(col("terms"))).as[String].collect().toSet
    assert(oldTerms.nonEmpty)
    val l = RuDict.contentLemmas
    val newPage = page(targetUrl, html(s"${l(190)}", s"${l(190)} ${l(191)} ${l(192)}"))
    Refresh.refreshPages(spark, s"$work/idx", spark.createDataset(Seq(newPage)), cfgP)

    val newTerms = graft.core.Lemmatizer.lemmaCountsFromHtml(newPage.html).keySet
    val touchedBuckets = (oldTerms ++ newTerms).map(IndexBuild.termBucket(_, cfgP.buckets))
    val untouched = (0 until cfgP.buckets).toSet -- touchedBuckets
    assert(untouched.size >= 20, s"fixture must leave many buckets untouched: ${untouched.size}")

    val after = indexFiles()
    def bucketOfPath(p: String): Int =
      "bucket=(\\d+)".r.findFirstMatchIn(p).get.group(1).toInt
    val beforeUntouched = before.filter { case (p, _) => untouched.contains(bucketOfPath(p)) }
    val afterUntouched = after.filter { case (p, _) => untouched.contains(bucketOfPath(p)) }
    assert(beforeUntouched.nonEmpty)
    assert(afterUntouched.keySet == beforeUntouched.keySet,
      "untouched bucket partitions must keep their exact file set")
    beforeUntouched.foreach { case (p, bytes) =>
      assert(afterUntouched(p) == bytes, s"untouched file rewritten: $p")
    }
    // and at least one touched bucket WAS rewritten
    assert(before.keySet != after.keySet || before.exists { case (p, b) => after.get(p).exists(_ != b) },
      "refresh must rewrite the touched partitions")

    // correctness across the pruned path: engine matches the oracle over
    // the modified corpus
    val modified = pages.map(p => if (p.url == targetUrl) newPage else p)
    spark.createDataset(modified).write.mode("overwrite").parquet(s"$work/pages2")
    val oracle = new RefOracle.Corpus(modified.map { r =>
      RefOracle.Doc(r.url, IndexBuild.siteOf(r.url), new String(r.html, StandardCharsets.UTF_8))
    })
    val engine = new SearchEngine(spark, s"$work/idx", s"$work/pages2", ReferenceTfSum)
    for (q <- Seq(l(190), s"${l(0)} ${l(20)}", l(5))) {
      val exp = RefOracle.search(oracle, q, None, ReferenceTfSum)
      val got = engine.search(q, 0, 30, None)
      assert(got.count == exp.count.toLong, s"count mismatch for '$q' after pruned refresh")
      assert(got.data.map(i => i.site + i.uri) == exp.results.take(30).map(_.url),
        s"ranking mismatch for '$q' after pruned refresh")
    }
    assert(engine.search(l(190), 0, 30, None).data.exists(i => i.site + i.uri == targetUrl))
  }

  test("one-page refresh rewrites ONLY touched dim partitions: docs/lemma_stats stay byte-identical elsewhere") {
    spark.sparkContext.setLogLevel("WARN")
    val work = Files.createTempDirectory("graft-refresh-dims").toString
    val cfgP = IndexBuild.Config(shards = 4, saltThresholdDf = 60L, nBatches = 1, buckets = 256)
    val pages = CorpusGen.generate(spark, CorpusGen.Config(2, 60)).collect().toSeq
    import spark.implicits._
    spark.createDataset(pages).write.mode("overwrite").parquet(s"$work/pages")
    val ds = spark.read.parquet(s"$work/pages")
      .as[PageRow](org.apache.spark.sql.Encoders.product[PageRow])
    IndexBuild.run(spark, ds, s"$work/idx", cfgP)

    def tableFiles(table: String): Map[String, Seq[Byte]] = {
      val root = new java.io.File(s"$work/idx/$table")
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(root).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getAbsolutePath.stripPrefix(root.getAbsolutePath) ->
          java.nio.file.Files.readAllBytes(f.toPath).toSeq)
        .toMap
    }
    val dims = Seq("docs", "lemma_stats")
    val before = dims.map(t => t -> tableFiles(t)).toMap

    import org.apache.spark.sql.functions.{col, explode}
    val targetUrl = spark.read.parquet(s"$work/idx/docs")
      .filter(col("dl") > 0).orderBy("url")
      .select("url").as[String].head()
    val targetId = IndexBuild.stableDocId(targetUrl)
    val oldTerms = spark.read.parquet(s"$work/idx/docs")
      .filter(col("doc_id") === targetId)
      .select(explode(col("terms"))).as[String].collect().toSet
    assert(oldTerms.nonEmpty)
    val l = RuDict.contentLemmas
    val newPage = page(targetUrl, html(s"${l(190)}", s"${l(190)} ${l(191)} ${l(192)}"))
    Refresh.refreshPages(spark, s"$work/idx", spark.createDataset(Seq(newPage)), cfgP)

    // touched partitions: the target's doc bucket (docs) and
    // the old∪new terms' buckets (lemma_stats)
    val touchedDb = Set(IndexBuild.docBucketOf(targetId, cfgP.buckets))
    val newTerms = graft.core.Lemmatizer.lemmaCountsFromHtml(newPage.html).keySet
    val touchedTb = (oldTerms ++ newTerms).map(IndexBuild.termBucket(_, cfgP.buckets))
    def partOf(p: String, key: String): Int =
      s"$key=(\\d+)".r.findFirstMatchIn(p).get.group(1).toInt
    for (t <- dims) {
      val (key, touched) =
        if (t == "lemma_stats") ("bucket", touchedTb) else ("db", touchedDb)
      val after = tableFiles(t)
      val untouchedParts = before(t).keySet.map(partOf(_, key)) -- touched
      assert(untouchedParts.size >= 20, s"$t: fixture must leave many partitions untouched")
      val beforeU = before(t).filter { case (p, _) => untouchedParts.contains(partOf(p, key)) }
      val afterU = after.filter { case (p, _) => untouchedParts.contains(partOf(p, key)) }
      assert(afterU.keySet == beforeU.keySet,
        s"$t: untouched partitions must keep their exact file set")
      beforeU.foreach { case (p, bytes) =>
        assert(afterU(p) == bytes, s"$t: untouched file rewritten: $p")
      }
      // the touched partitions really were rewritten
      assert(before(t).exists { case (p, b) =>
        touched.contains(partOf(p, key)) && after.get(p).forall(_ != b)
      }, s"$t: refresh must rewrite its touched partitions")
    }
    // stats were adjusted from the delta, not re-aggregated — verify exact
    val st = IndexDir.stats(spark, s"$work/idx")
    assert(st.getAs[Long]("n_docs") == pages.size.toLong)
    val expectTokens = spark.read.parquet(s"$work/idx/docs")
      .agg(org.apache.spark.sql.functions.sum(col("dl"))).as[Long].head()
    assert(st.getAs[Long]("total_tokens") == expectTokens,
      "incremental stats delta must equal a fresh aggregation")
  }

  test("a refresh replayed after a crash between the dim rewrites and the delta apply converges exactly") {
    spark.sparkContext.setLogLevel("WARN")
    import scala.sys.process._
    import org.apache.spark.sql.functions.{col, count, explode, lit, sum}
    import spark.implicits._
    val work = Files.createTempDirectory("graft-refresh-replay").toString
    val idx = s"$work/idx"
    val cfgP = IndexBuild.Config(shards = 4, saltThresholdDf = 60L, nBatches = 1, buckets = 16)
    val pages = CorpusGen.generate(spark, CorpusGen.Config(2, 40)).collect().toSeq
    spark.createDataset(pages).write.mode("overwrite").parquet(s"$work/pages")
    IndexBuild.run(spark,
      spark.read.parquet(s"$work/pages")
        .as[PageRow](org.apache.spark.sql.Encoders.product[PageRow]),
      idx, cfgP)

    val targetUrl = spark.read.parquet(s"$idx/docs")
      .filter(col("dl") > 0).orderBy("url").select("url").as[String].head()
    val l = RuDict.contentLemmas
    val newPage = page(targetUrl, html(l(190), s"${l(190)} ${l(191)} ${l(192)}"))
    def ds = spark.createDataset(Seq(newPage))

    val statsBefore = spark.read.parquet(s"$idx/lemma_stats")
      .select("term", "site", "df").as[(String, String, Long)].collect().toSet

    // CRASH INJECTION where the old protocol had its window: the touched
    // index buckets are staged, and staging the lemma_stats
    // delta dies (it stages inside the lemma_stats dir — immutable blocks
    // even root, reads unaffected)
    if (Seq("chattr", "+i", s"$idx/lemma_stats").! != 0)
      cancel("chattr +i unsupported on this filesystem")
    try intercept[Throwable] { Refresh.refreshPages(spark, idx, ds, cfgP) }
    finally { Seq("chattr", "-i", s"$idx/lemma_stats").! : Unit }
    // the crashed commit left nothing visible: docs does not carry the
    // NEW terms and lemma_stats is the pre-refresh table
    val targetId = IndexBuild.stableDocId(targetUrl)
    val store = graft.store.TableStore.open(spark, idx)
    assert(!store.read("docs")
      .filter(col("doc_id") === targetId)
      .select(explode(col("terms"))).as[String].collect().toSet
      .contains(l(191)), "a crashed commit must leave the dims as they were")
    assert(store.read("lemma_stats")
      .select("term", "site", "df").as[(String, String, Long)].collect().toSet
      == statsBefore, "a crashed commit must leave lemma_stats as it was")

    // REPLAY (IndexStream re-runs its micro-batch) from the unchanged
    // version: it must apply the TRUE delta exactly once
    Refresh.refreshPages(spark, idx, ds, cfgP)

    // converged: lemma_stats equals a fresh recomputation from docs
    val expect = spark.read.parquet(s"$idx/docs")
      .select(col("site"), explode(col("terms")).as("term"))
      .groupBy("term", "site").agg(count(lit(1)).as("df"))
      .as[(String, String, Long)].collect().toSet
    val got = spark.read.parquet(s"$idx/lemma_stats")
      .select("term", "site", "df")
      .as[(String, String, Long)].collect().toSet
    assert(got == expect, "replayed refresh must leave lemma_stats exact")
    // corpus stats exact too
    val st = IndexDir.stats(spark, idx)
    assert(st.getAs[Long]("n_docs") == pages.size.toLong)
    assert(st.getAs[Long]("total_tokens") ==
      spark.read.parquet(s"$idx/docs").agg(sum(col("dl"))).as[Long].head())
    // and what the crashed attempt staged was collected
    assert(IndexDir.unreferenced(spark, idx).isEmpty,
      s"the crashed attempt's staged files must be collected: ${IndexDir.unreferenced(spark, idx)}")
  }

  test("a refresh with a MISMATCHED caller Config takes the index's persisted layout") {
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.functions.{col, count, explode, lit}
    import spark.implicits._
    val work = Files.createTempDirectory("graft-refresh-layout").toString
    val idx = s"$work/idx"
    // deliberately non-default layout: buckets=64 (default 16), shards=8/4
    val buildCfg = IndexBuild.Config(shards = 8, siteGroups = 4,
      saltThresholdDf = 60L, nBatches = 1, buckets = 64)
    val pages = CorpusGen.generate(spark, CorpusGen.Config(2, 40)).collect().toSeq
    spark.createDataset(pages).write.mode("overwrite").parquet(s"$work/pages")
    IndexBuild.run(spark,
      spark.read.parquet(s"$work/pages")
        .as[PageRow](org.apache.spark.sql.Encoders.product[PageRow]),
      idx, buildCfg)

    val targetUrl = spark.read.parquet(s"$idx/docs")
      .filter(col("dl") > 0).orderBy("url").select("url").as[String].head()
    val l = RuDict.contentLemmas
    val newPage = page(targetUrl, html(l(195), s"${l(195)} ${l(196)} ${l(2)}"))
    // the hazard this pins: a CLI-shaped caller passing the DEFAULT cfg
    // (buckets=16) against the buckets=64 index — deltas/touched_log/
    // lemma_stats partitions would hash mod 16 while the base uses mod 64
    Refresh.refreshPages(spark, idx, spark.createDataset(Seq(newPage)),
      IndexBuild.Config())

    // dims stayed exact under the persisted layout
    val expect = spark.read.parquet(s"$idx/docs")
      .select(col("site"), explode(col("terms")).as("term"))
      .groupBy("term", "site").agg(count(lit(1)).as("df"))
      .as[(String, String, Long)].collect().toSet
    val got = spark.read.parquet(s"$idx/lemma_stats")
      .select("term", "site", "df").as[(String, String, Long)].collect().toSet
    assert(got == expect, "lemma_stats must stay exact under the persisted layout")
    // every lemma_stats row sits in its CORRECT mod-64 bucket partition
    val misplaced = spark.read.parquet(s"$idx/lemma_stats")
      .filter(col("bucket") =!= IndexBuild.termBucketCol(64)).count()
    assert(misplaced == 0, "delta application must hash with the index's bucket count")
    // and the refreshed page is searchable by its new term
    val eng = new SearchEngine(spark, idx, s"$work/pages", ReferenceTfSum)
    val hits = eng.search(l(196), 0, 10, None).data.map(i => i.site + i.uri)
    assert(hits.contains(targetUrl), "refreshed page must be searchable")
  }

  test("a delete reusing a crashed refresh's batch id must not apply the refresh's snapshot delta") {
    spark.sparkContext.setLogLevel("WARN")
    import scala.sys.process._
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val work = Files.createTempDirectory("graft-refresh-opkey").toString
    val idx = s"$work/idx"
    val cfgP = IndexBuild.Config(shards = 4, saltThresholdDf = 60L, nBatches = 1, buckets = 16)
    val pages = CorpusGen.generate(spark, CorpusGen.Config(2, 40)).collect().toSeq
    spark.createDataset(pages).write.mode("overwrite").parquet(s"$work/pages")
    IndexBuild.run(spark,
      spark.read.parquet(s"$work/pages")
        .as[PageRow](org.apache.spark.sql.Encoders.product[PageRow]),
      idx, cfgP)

    // a term in NO existing doc — the refreshed page's new content
    val statsTerms = spark.read.parquet(s"$idx/lemma_stats")
      .select("term").as[String].collect().toSet
    val l = RuDict.contentLemmas
    val freshTerm = (150 until 200).map(l).find(t => !statsTerms(t))
      .getOrElse(fail("fixture: no unused lemma available"))
    val targetUrl = spark.read.parquet(s"$idx/docs")
      .filter(col("dl") > 0).orderBy("url").select("url").as[String].head()
    val newPage = page(targetUrl, html(freshTerm, s"$freshTerm $freshTerm ${l(2)}"))

    // crash the refresh while it stages its lemma_stats delta (same
    // injection as the replay test)
    if (Seq("chattr", "+i", s"$idx/lemma_stats").! != 0)
      cancel("chattr +i unsupported on this filesystem")
    try intercept[Throwable] {
      Refresh.refreshPages(spark, idx, spark.createDataset(Seq(newPage)), cfgP)
    } finally { Seq("chattr", "-i", s"$idx/lemma_stats").! : Unit }
    val batchBefore = graft.store.TableStore.open(spark, idx).manifest.get.batch
    assert(IndexDir.unreferenced(spark, idx).nonEmpty,
      "fixture: the crashed refresh must leave staged files behind")

    // an operator deletes the SAME url and is handed the same batch id.
    // The old replay protocol once applied the crashed refresh's delta
    // here — +new-version dfs for a doc being deleted and Δdocs=0 —
    // permanently corrupting lemma_stats and n_docs.
    Refresh.deletePages(spark, idx, Seq(targetUrl), cfgP)
    assert(graft.store.TableStore.open(spark, idx).manifest.get.lineage
      .exists(_.partition_id == batchBefore + 1), "the delete takes the crashed batch id")

    val targetId = IndexBuild.stableDocId(targetUrl)
    assert(spark.read.parquet(s"$idx/docs")
      .filter(col("doc_id") === targetId).count() == 0, "doc must be gone")
    val st = IndexDir.stats(spark, idx)
    assert(st.getAs[Long]("n_docs") == pages.size - 1L,
      "the DELETE's Δdocs=-1 must be applied, not the crashed refresh's Δdocs=0")
    assert(!spark.read.parquet(s"$idx/lemma_stats")
      .select("term").as[String].collect().toSet.contains(freshTerm),
      "a deleted doc's new-version term must not survive as a ghost df")
  }

  /** Build a one-batch index over a generated corpus at `$work/idx` (the
    * corpus is written to `$work/pages`); returns the pages. */
  private def buildSmall(work: String, cfg: IndexBuild.Config,
      perSite: Int): Seq[PageRow] = {
    import spark.implicits._
    val pages = CorpusGen.generate(spark, CorpusGen.Config(2, perSite)).collect().toSeq
    spark.createDataset(pages).write.mode("overwrite").parquet(s"$work/pages")
    IndexBuild.run(spark,
      spark.read.parquet(s"$work/pages")
        .as[PageRow](org.apache.spark.sql.Encoders.product[PageRow]),
      s"$work/idx", cfg)
    pages
  }

  /** lemma_stats as (term, site, df), and the same recomputed from the
    * docs dim's terms. */
  private def lemmaStatsAndFresh(idx: String)
      : (Set[(String, String, Long)], Set[(String, String, Long)]) = {
    import org.apache.spark.sql.functions.{col, count, explode, lit}
    import spark.implicits._
    val store = graft.store.TableStore.open(spark, idx)
    val got = store.read("lemma_stats")
      .select("term", "site", "df").as[(String, String, Long)].collect().toSet
    val fresh = store.read("docs")
      .select(col("site"), explode(col("terms")).as("term"))
      .groupBy("term", "site").agg(count(lit(1)).as("df"))
      .as[(String, String, Long)].collect().toSet
    (got, fresh)
  }

  test("two versions of one url in one refresh batch: the newer wins, n_docs unchanged") {
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val work = Files.createTempDirectory("graft-refresh-dup").toString
    val idx = s"$work/idx"
    val cfgP = IndexBuild.Config(shards = 4, saltThresholdDf = 60L, nBatches = 1, buckets = 16)
    val pages = buildSmall(work, cfgP, 40)

    // two lemmas in NO existing doc: one per version of the target page
    val statsTerms = spark.read.parquet(s"$idx/lemma_stats")
      .select("term").as[String].collect().toSet
    val l = RuDict.contentLemmas
    val unused = (150 until 200).map(l).filterNot(statsTerms)
    assert(unused.size >= 2, "fixture: two unused lemmas needed")
    val (oldTerm, newTerm) = (unused(0), unused(1))
    val targetUrl = spark.read.parquet(s"$idx/docs")
      .filter(col("dl") > 0).orderBy("url").select("url").as[String].head()
    val older = page(targetUrl, html(oldTerm, s"$oldTerm $oldTerm ${l(2)}"))
    val newer = page(targetUrl, html(newTerm, s"$newTerm $newTerm ${l(2)}"))
      .copy(warc_ts = new java.sql.Timestamp(Recrawl + 60000L))
    Refresh.refreshPages(spark, idx, spark.createDataset(Seq(newer, older)), cfgP)

    val st = IndexDir.stats(spark, idx)
    assert(st.getAs[Long]("n_docs") == pages.size.toLong,
      "a re-crawled url must replace its doc, not add one")
    assert(spark.read.parquet(s"$idx/docs").filter(col("url") === targetUrl).count() == 1,
      "docs must hold one row for the url")
    val (got, fresh) = lemmaStatsAndFresh(idx)
    assert(got == fresh, "lemma_stats must stay exact")

    val modified = pages.map(p => if (p.url == targetUrl) newer else p)
    spark.createDataset(modified).write.mode("overwrite").parquet(s"$work/pages2")
    val engine = new SearchEngine(spark, idx, s"$work/pages2", ReferenceTfSum)
    assert(engine.search(newTerm, 0, 10, None).data.map(i => i.site + i.uri) == Seq(targetUrl),
      "the newer version's terms must match")
    assert(engine.search(oldTerm, 0, 10, None).count == 0,
      "the older version's terms must not match")
  }

  test("a delete replayed after a crash between the dim rewrites and the delta apply converges exactly") {
    spark.sparkContext.setLogLevel("WARN")
    import scala.sys.process._
    import org.apache.spark.sql.functions.{col, sum}
    import spark.implicits._
    val work = Files.createTempDirectory("graft-delete-replay").toString
    val idx = s"$work/idx"
    val cfgP = IndexBuild.Config(shards = 4, saltThresholdDf = 60L, nBatches = 1, buckets = 16)
    val pages = buildSmall(work, cfgP, 40)
    val targetUrl = spark.read.parquet(s"$idx/docs")
      .filter(col("dl") > 0).orderBy("url").select("url").as[String].head()
    val statsBefore = lemmaStatsAndFresh(idx)._1

    // CRASH INJECTION as in the refresh replay test: staging the
    // lemma_stats delta dies after the index buckets are staged
    if (Seq("chattr", "+i", s"$idx/lemma_stats").! != 0)
      cancel("chattr +i unsupported on this filesystem")
    try intercept[Throwable] { Refresh.deletePages(spark, idx, Seq(targetUrl), cfgP) }
    finally { Seq("chattr", "-i", s"$idx/lemma_stats").! : Unit }
    assert(graft.store.TableStore.open(spark, idx).read("docs")
      .filter(col("url") === targetUrl).count() == 1,
      "a crashed commit must leave the dims as they were")
    assert(lemmaStatsAndFresh(idx)._1 == statsBefore,
      "a crashed commit must leave lemma_stats as it was")

    // REPLAY from the unchanged version: the TRUE delta applies once
    Refresh.deletePages(spark, idx, Seq(targetUrl), cfgP)

    val (got, fresh) = lemmaStatsAndFresh(idx)
    assert(got == fresh, "replayed delete must leave lemma_stats exact")
    val st = IndexDir.stats(spark, idx)
    assert(st.getAs[Long]("n_docs") == pages.size - 1L)
    assert(st.getAs[Long]("total_tokens") ==
      spark.read.parquet(s"$idx/docs").agg(sum(col("dl"))).as[Long].head())
    assert(IndexDir.unreferenced(spark, idx).isEmpty,
      s"the crashed attempt's staged files must be collected: ${IndexDir.unreferenced(spark, idx)}")
  }

  test("a bulk delete of two thirds of the corpus stays rank-identical") {
    spark.sparkContext.setLogLevel("WARN")
    val work = Files.createTempDirectory("graft-refresh-big").toString
    val pages = CorpusGen.generate(spark, corpusCfg).collect().toSeq
    import spark.implicits._
    spark.createDataset(pages).write.mode("overwrite").parquet(s"$work/pages")
    val ds = spark.read.parquet(s"$work/pages")
      .as[PageRow](org.apache.spark.sql.Encoders.product[PageRow])
    IndexBuild.run(spark, ds, s"$work/idx", idxCfg)

    // delete ~2/3 of the corpus in one batch
    val toDelete = pages.map(_.url).zipWithIndex.collect { case (u, i) if i % 3 != 0 => u }
    assert(toDelete.size > 100)
    Refresh.deletePages(spark, s"$work/idx", toDelete, idxCfg)

    val remaining = pages.filterNot(p => toDelete.contains(p.url))
    spark.createDataset(remaining).write.mode("overwrite").parquet(s"$work/pages_rem")
    val oracle = new RefOracle.Corpus(remaining.map { r =>
      RefOracle.Doc(r.url, IndexBuild.siteOf(r.url),
        new String(r.html, StandardCharsets.UTF_8))
    })
    val engine = new SearchEngine(spark, s"$work/idx", s"$work/pages_rem", ReferenceTfSum)
    assert(engine.nDocs == remaining.size.toLong)
    val l = RuDict.contentLemmas
    for (q <- Seq(l(0), s"${l(0)} ${l(20)}", s"${l(1)} ${l(30)}")) {
      val exp = RefOracle.search(oracle, q, None, ReferenceTfSum)
      val got = engine.search(q, 0, 50, None)
      assert(got.count == exp.count.toLong, s"count mismatch for '$q' after bulk delete")
      assert(got.data.map(i => i.site + i.uri) == exp.results.take(50).map(_.url),
        s"ranking mismatch for '$q' after bulk delete")
    }
  }

  /** (term, shard) → (doc_count, block_max, postings) of every list. */
  private def listsOf(idx: String): Map[(String, Int), (Int, Double, Seq[Byte])] = {
    import spark.implicits._
    graft.store.TableStore.open(spark, idx).read("index")
      .select("term", "shard", "doc_count", "block_max", "postings")
      .as[(String, Int, Int, Double, Array[Byte])].collect()
      .map { case (t, s, n, m, p) => (t, s) -> (n, m, p.toSeq) }.toMap
  }

  /** The distinct terms docs holds for `url`. */
  private def termsOf(idx: String, url: String): Set[String] = {
    import org.apache.spark.sql.functions.{col, explode}
    import spark.implicits._
    graft.store.TableStore.open(spark, idx).read("docs")
      .filter(col("doc_id") === IndexBuild.stableDocId(url))
      .select(explode(col("terms"))).as[String].collect().toSet
  }

  test("a refresh patches only the lists it names: the touched buckets' other lists keep their bytes") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val work = Files.createTempDirectory("graft-refresh-lists").toString
    val idx = s"$work/idx"
    val pages = buildSmall(work, idxCfg, 40)
    val l = RuDict.contentLemmas
    val target = pages.map(_.url).sorted.find(termsOf(idx, _).nonEmpty).get
    val newPage = page(target, html(l(190), s"${l(190)} ${l(191)} ${l(2)}"))
    val named = termsOf(idx, target) ++
      graft.core.Lemmatizer.lemmaCountsFromHtml(newPage.html).keySet
    val touched = named.map(IndexBuild.termBucket(_, idxCfg.buckets))
    val before = listsOf(idx)
    Refresh.refreshPages(spark, idx, spark.createDataset(Seq(newPage)), idxCfg)
    val after = listsOf(idx)

    val others = before.filter { case ((t, _), _) =>
      !named(t) && touched(IndexBuild.termBucket(t, idxCfg.buckets))
    }
    assert(others.size >= 20, s"fixture: the touched buckets must hold other lists (${others.size})")
    others.foreach { case (k, v) => assert(after.get(k).contains(v), s"list $k changed") }
    assert(before.exists { case (k, v) => named(k._1) && !after.get(k).contains(v) },
      "the named lists must change")
  }

  /** Shuffle records written by the tasks of the jobs `body` runs, summed
    * by a task-end listener over the stages of those jobs. */
  private def shuffleRecords(body: => Unit): Long = {
    import org.apache.spark.scheduler._
    val (group, marker) = ("shuffle-records", "shuffle-records-marker")
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val records = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        js.properties.getProperty("spark.jobGroup.id") match {
          case `group` => js.stageIds.foreach(stages.add)
          case `marker` => drained.countDown()
          case _ =>
        }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        Option(te.taskMetrics).foreach(m =>
          records.merge(te.stageId, m.shuffleWriteMetrics.recordsWritten, _ + _))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "under test")
      body
      // the listener bus is FIFO: once the marker job's start arrives,
      // every task end of `body` has
      spark.sparkContext.setJobGroup(marker, "bus drain")
      spark.sparkContext.parallelize(Seq(1), 1).count()
      assert(drained.await(10, java.util.concurrent.TimeUnit.SECONDS), "listener bus not drained")
      stages.toArray.map(s => records.getOrDefault(s, 0L)).sum
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("a one-page delete shuffles per list, far fewer records than its touched buckets hold postings") {
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.functions.{col, sum}
    import spark.implicits._
    val work = Files.createTempDirectory("graft-delete-shuffle").toString
    val idx = s"$work/idx"
    val pages = buildSmall(work, idxCfg, 100)
    val target = pages.map(_.url).sorted.find(termsOf(idx, _).size >= 20).get
    val touched = termsOf(idx, target).map(IndexBuild.termBucket(_, idxCfg.buckets)).toSeq
    val postings = graft.store.TableStore.open(spark, idx).read("index")
      .filter(col("bucket").isin(touched: _*)).agg(sum(col("doc_count"))).as[Long].head()
    val records = shuffleRecords(Refresh.deletePages(spark, idx, Seq(target), idxCfg))
    info(s"shuffle records $records, postings in the ${touched.size} touched buckets $postings")
    assert(records > 0, "the listener must see the delete's shuffles")
    assert(records * 4 < postings,
      s"a one-page delete shuffled $records records against $postings postings")
  }

  /** The executed plans of the queries `body` runs; a sentinel query
    * drains the listener bus before they are returned. */
  private def executedPlans(body: => Unit): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    val sentinel = 7919L
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.logical match {
          case r: org.apache.spark.sql.catalyst.plans.logical.Range if r.end == sentinel =>
            drained.countDown()
          case _ => plans.add(qe.executedPlan)
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(sentinel).collect()
      assert(drained.await(10, java.util.concurrent.TimeUnit.SECONDS), "listener not drained")
    } finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq
  }

  test("a refresh numbers its new urls with no unpartitioned window") {
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.execution.window.WindowExec
    import spark.implicits._
    val work = Files.createTempDirectory("graft-refresh-window").toString
    val idx = s"$work/idx"
    val pages = buildSmall(work, idxCfg, 20)
    val l = RuDict.contentLemmas
    object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val added = Seq("https://site0.test/p/new-w1", "https://site1.test/p/new-w2")
    val plans = executedPlans(Refresh.refreshPages(spark, idx, spark.createDataset(
      (pages.head.url +: added).map(u => page(u, html(l(190), s"${l(190)} ${l(2)}")))), idxCfg))
    assert(plans.nonEmpty, "fixture: the listener must see the commit's queries")
    val windows = plans.flatMap(Plans.collect(_) { case w: WindowExec => w })
    assert(windows.isEmpty, s"a window ran: ${windows.map(_.simpleString(200))}")
    assert(nextOrdOf(idx) == pages.size + 2L)
  }

  test("a one-page refresh and a one-url delete each run a bounded number of Spark jobs") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val work = Files.createTempDirectory("graft-refresh-jobs").toString
    val idx = s"$work/idx"
    val pages = buildSmall(work, idxCfg, 20)
    val l = RuDict.contentLemmas
    val urls = pages.map(_.url).sorted.filter(termsOf(idx, _).nonEmpty)
    val (_, refreshJobs) = JobCount(spark, "refresh-jobs")(Refresh.refreshPages(spark, idx,
      spark.createDataset(Seq(page(urls(0), html(l(190), s"${l(190)} ${l(2)}")))), idxCfg))
    val (_, deleteJobs) = JobCount(spark, "delete-jobs")(
      Refresh.deletePages(spark, idx, Seq(urls(1)), idxCfg))
    info(s"refresh $refreshJobs jobs, delete $deleteJobs jobs")
    assert(refreshJobs <= RefreshJobCeiling, s"a one-page refresh ran $refreshJobs jobs")
    assert(deleteJobs <= DeleteJobCeiling, s"a one-url delete ran $deleteJobs jobs")
  }

  test("an engine open and a live engine's first search after a one-page refresh each run a bounded number of Spark jobs") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val work = Files.createTempDirectory("graft-engine-jobs").toString
    val idx = s"$work/idx"
    // a salt threshold low enough for head terms: the load prefetches them
    val cfg = idxCfg.copy(saltThresholdDf = 10L)
    val pages = buildSmall(work, cfg, 20)
    assert(IndexDir.heads(spark, idx).nonEmpty, "fixture: the index must have head terms")
    val l = RuDict.contentLemmas
    val (engine, openJobs) = JobCount(spark, "engine-open")(
      new SearchEngine(spark, idx, s"$work/pages", graft.core.Bm25()))
    val q = s"${l(1)} ${l(30)}"
    assert(engine.search(q, 0, 10).count > 0, "fixture: the query must match")
    Refresh.refreshPages(spark, idx, spark.createDataset(Seq(
      page(pages.map(_.url).min, html(l(190), s"${l(190)} ${l(2)}")))), cfg)
    val (_, searchJobs) = JobCount(spark, "first-search")(engine.search(q, 0, 10))
    info(s"engine open $openJobs jobs, first search after a refresh $searchJobs jobs")
    assert(openJobs <= OpenJobCeiling, s"an engine open ran $openJobs jobs")
    assert(searchJobs <= FirstSearchJobCeiling, s"the first search after a refresh ran $searchJobs jobs")
  }

  test("a commit that changes nothing publishes nothing, and a live engine stays warm") {
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.functions.lit
    import spark.implicits._
    val work = Files.createTempDirectory("graft-refresh-noop").toString
    val idx = s"$work/idx"
    val pages = buildSmall(work, idxCfg, 20)
    val store = graft.store.TableStore.open(spark, idx)
    val engine = new SearchEngine(spark, idx, s"$work/pages", ReferenceTfSum)
    val q = RuDict.contentLemmas(5)
    val top = engine.topK(q, 10)
    assert(top.nonEmpty, "fixture: the query must match")
    val v0 = store.version

    Refresh.deletePages(spark, idx, Seq("https://site0.test/p/never-indexed"), idxCfg)
    assert(store.version == v0, "a delete of an unknown url published a version")
    val invalid = spark.createDataset(Seq(page(pages.head.url, html("x", RuDict.contentLemmas(190)))))
      .withColumn("code", lit(404)).as[PageRow]
    Refresh.refreshPages(spark, idx, invalid, idxCfg)
    assert(store.version == v0, "a refresh of pages with an invalid code published a version")

    val (again, jobs) = JobCount(spark, "warm-topk")(engine.topK(q, 10))
    assert(again == top)
    assert(jobs == 0, s"the live engine's warm topK ran $jobs jobs after a commit of nothing")
  }

  /** Scans of the `docs` files of `idx` in the executed plans of the
    * queries `body` runs; a cached relation's own plan counts once, for
    * the job that builds the cache. */
  private def docsScans(idx: String)(body: => Unit): Int = {
    import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val docs = new java.io.File(s"$idx/docs").toURI.toString
    val caches = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    def scans(p: SparkPlan): Int = p match {
      case f: FileSourceScanExec =>
        if (f.relation.location.rootPaths.exists(_.toString.startsWith(docs))) 1 else 0
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case c: CommandResultExec => scans(c.commandPhysicalPlan)
      case _: ReusedExchangeExec => 0
      case m: InMemoryTableScanExec =>
        if (caches.add(m.relation.cacheBuilder)) scans(m.relation.cachedPlan) else 0
      case other => other.children.map(scans).sum
    }
    executedPlans(body).map(scans).sum
  }

  test("a one-page refresh scans the docs files at most twice: the old versions and the rewrite's kept rows") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val work = Files.createTempDirectory("graft-refresh-docs-scans").toString
    val idx = s"$work/idx"
    val pages = buildSmall(work, idxCfg, 20)
    val l = RuDict.contentLemmas
    val target = pages.map(_.url).sorted.find(termsOf(idx, _).nonEmpty).get
    val n = docsScans(idx)(Refresh.refreshPages(spark, idx,
      spark.createDataset(Seq(page(target, html(l(190), s"${l(190)} ${l(2)}")))), idxCfg))
    info(s"docs scans $n")
    assert(n > 0, "fixture: the listener must see the commit's docs reads")
    assert(n <= 2, s"a one-page refresh scanned the docs files $n times")
  }

  /** url → doc ordinal, from the docs dim. */
  private def ordsOf(idx: String): Map[String, Long] = {
    import spark.implicits._
    graft.store.TableStore.open(spark, idx).read("docs")
      .select("url", "ord").as[(String, Long)].collect().toMap
  }

  private def nextOrdOf(idx: String): Long =
    IndexDir.stats(spark, idx).getAs[Long]("next_ord")

  /** Lemmas from the dictionary's rare end that no indexed doc holds. */
  private def unusedLemmas(idx: String): Seq[String] = {
    import spark.implicits._
    val used = spark.read.parquet(s"$idx/lemma_stats").select("term").as[String].collect().toSet
    (150 until 200).map(RuDict.contentLemmas).filterNot(used)
  }

  /** Every doc ordinal some posting of the merged index carries. */
  private def postingOrds(idx: String): Set[Long] = {
    import spark.implicits._
    spark.read.parquet(s"$idx/index").select("postings").as[Array[Byte]].collect()
      .flatMap(b => graft.core.PostingCodec.decode(b).map(_.docId)).toSet
  }

  test("ordinals: a build numbers docs 0..n-1 in doc_id order") {
    spark.sparkContext.setLogLevel("WARN")
    val work = Files.createTempDirectory("graft-ord-build").toString
    val pages = buildSmall(work, idxCfg, 40)
    val ords = ordsOf(s"$work/idx")
    assert(ords.size == pages.size)
    val byHash = pages.map(_.url).sortBy(IndexBuild.stableDocId)
    assert(byHash.map(ords) == byHash.indices.map(_.toLong),
      "ord must be the rank of the url hash among the built docs")
    assert(nextOrdOf(s"$work/idx") == pages.size.toLong)
    assert(postingOrds(s"$work/idx").subsetOf(ords.values.toSet))
  }

  test("ordinals: a refresh keeps a known url's ord, a new url takes next_ord, a re-added url a fresh one") {
    spark.sparkContext.setLogLevel("WARN")
    val work = Files.createTempDirectory("graft-ord-refresh").toString
    val idx = s"$work/idx"
    val pages = buildSmall(work, idxCfg, 40)
    import spark.implicits._
    val l = RuDict.contentLemmas
    val u = unusedLemmas(idx)
    assert(u.size >= 3, "fixture: three unused lemmas needed")
    val n = pages.size.toLong
    val known = pages.map(_.url).sorted.apply(3)
    val ord0 = ordsOf(idx)(known)

    Refresh.refreshPages(spark, idx,
      spark.createDataset(Seq(page(known, html(u(0), s"${u(0)} ${l(2)}")))), idxCfg)
    assert(ordsOf(idx)(known) == ord0, "a refreshed url must keep its ordinal")
    assert(nextOrdOf(idx) == n)

    val added = Seq("https://site0.test/p/new-b", "https://site1.test/p/new-a")
      .sortBy(IndexBuild.stableDocId)
    Refresh.refreshPages(spark, idx, spark.createDataset(added.map(url =>
      page(url, html(u(1), s"${u(1)} ${l(3)}")))), idxCfg)
    assert(added.map(ordsOf(idx)) == Seq(n, n + 1), "new urls take next_ord upward, in hash order")
    assert(nextOrdOf(idx) == n + 2)

    Refresh.deletePages(spark, idx, Seq(known), idxCfg)
    assert(!ordsOf(idx).contains(known) && nextOrdOf(idx) == n + 2, "a delete leaves a hole")
    assert(!postingOrds(idx).contains(ord0), "the deleted ordinal must have no posting")

    Refresh.refreshPages(spark, idx,
      spark.createDataset(Seq(page(known, html(u(2), s"${u(2)} ${l(4)}")))), idxCfg)
    assert(ordsOf(idx)(known) == n + 2, "a re-added url must get a fresh ordinal")
    assert(nextOrdOf(idx) == n + 3)
    assert(!ordsOf(idx).values.exists(_ == ord0) && !postingOrds(idx).contains(ord0),
      "the old ordinal must stay dead")
    val ords = ordsOf(idx).values.toSeq
    assert(ords.distinct.size == ords.size, "ordinals must stay unique")

    val engine = new SearchEngine(spark, idx, s"$work/pages", ReferenceTfSum)
    assert(engine.search(u(2), 0, 10, None).data.map(i => i.site + i.uri) == Seq(known))
    assert(engine.search(u(1), 0, 10, None).data.map(i => i.site + i.uri).sorted == added.sorted)
    assert(engine.search(u(0), 0, 10, None).count == 0)
  }

  test("ordinals: a refresh replayed after a crash assigns identical ordinals") {
    spark.sparkContext.setLogLevel("WARN")
    import scala.sys.process._
    import spark.implicits._
    val work = Files.createTempDirectory("graft-ord-replay").toString
    val idx = s"$work/idx"
    val cfgP = IndexBuild.Config(shards = 4, saltThresholdDf = 60L, nBatches = 1, buckets = 16)
    val pages = buildSmall(work, cfgP, 40)
    val l = RuDict.contentLemmas
    val known = pages.map(_.url).sorted.head
    val added = Seq("https://site0.test/p/new-1", "https://site1.test/p/new-2", "https://site0.test/p/new-3")
    val batch = (known +: added).map(u => page(u, html(l(190), s"${l(190)} ${l(191)}")))
    def ds = spark.createDataset(batch)
    val before = ordsOf(idx)

    // crash while the refresh stages its lemma_stats delta — the same
    // injection as the replay tests above
    if (Seq("chattr", "+i", s"$idx/lemma_stats").! != 0)
      cancel("chattr +i unsupported on this filesystem")
    try intercept[Throwable] { Refresh.refreshPages(spark, idx, ds, cfgP) }
    finally { Seq("chattr", "-i", s"$idx/lemma_stats").! : Unit }
    assert(ordsOf(idx) == before, "a crashed commit must leave docs as they were")
    assert(nextOrdOf(idx) == pages.size.toLong, "a crashed commit must reserve no ordinal")

    Refresh.refreshPages(spark, idx, ds, cfgP)
    val expected = before ++ added.sortBy(IndexBuild.stableDocId).zipWithIndex
      .map { case (u, i) => u -> (pages.size.toLong + i) }
    assert(ordsOf(idx) == expected,
      "the replay must hand out the ordinals an uncrashed refresh hands out")
    assert(nextOrdOf(idx) == pages.size + 3L)
    val ords = ordsOf(idx).values.toSeq
    assert(ords.distinct.size == ords.size)
  }

  test("ordinals: a different commit handed a crashed commit's batch id never reuses its ordinals") {
    spark.sparkContext.setLogLevel("WARN")
    import scala.sys.process._
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val work = Files.createTempDirectory("graft-ord-crash-other").toString
    val idx = s"$work/idx"
    val cfgP = IndexBuild.Config(shards = 4, saltThresholdDf = 60L, nBatches = 1, buckets = 16)
    val pages = buildSmall(work, cfgP, 40)
    val l = RuDict.contentLemmas
    val u = unusedLemmas(idx)
    assert(u.size >= 4, "fixture: four unused lemmas needed")
    // the crashed urls 0 and 2 share a lemma; each url searched for has its own
    val lemmaOf = Map(0 -> u(0), 1 -> u(1), 2 -> u(0), 3 -> u(2), 4 -> u(3))
    def newPage(i: Int) =
      page(s"https://site${i % 2}.test/p/new-$i", html(lemmaOf(i), s"${lemmaOf(i)} ${l(2)}"))
    def refresh(i: Int) = Refresh.refreshPages(spark, idx, spark.createDataset(Seq(newPage(i))), cfgP)
    def crashing(dir: String)(body: => Unit): Unit = {
      if (Seq("chattr", "+i", s"$idx/$dir").! != 0)
        cancel("chattr +i unsupported on this filesystem")
      try intercept[Throwable](body)
      finally { Seq("chattr", "-i", s"$idx/$dir").! : Unit }
    }
    // new url 0 dies while its lemma_stats delta stages; new url 1 is
    // then handed the same batch id
    crashing("lemma_stats")(refresh(0))
    assert(!ordsOf(idx).contains("https://site0.test/p/new-0"), "a crashed commit leaves no docs row")
    refresh(1)
    // new url 2 dies at its publish, with every table staged; new url 3
    // is handed that batch id — the old batch-id gates then dropped its
    // dim deltas, leaving its terms at df 0 — and new url 4 follows in
    // a fresh batch
    crashing("_manifest")(refresh(2))
    refresh(3)
    refresh(4)
    val ords = ordsOf(idx).values.toSeq
    assert(ords.distinct.size == ords.size, s"ordinals must stay unique: ${ords.sorted}")
    assert(nextOrdOf(idx) > ords.max)
    val engine = new SearchEngine(spark, idx, s"$work/pages", ReferenceTfSum)
    for (i <- Seq(1, 3, 4))
      assert(engine.search(lemmaOf(i), 0, 10, None).data.map(r => r.site + r.uri) ==
        Seq(s"https://site${i % 2}.test/p/new-$i"), s"new url $i must be found alone")

    // url 3's new terms carry the df a rebuild of the same pages gives
    val live = pages ++ Seq(1, 3, 4).map(newPage)
    spark.createDataset(live).write.mode("overwrite").parquet(s"$work/pages_live")
    IndexBuild.run(spark, spark.read.parquet(s"$work/pages_live")
      .as[PageRow](org.apache.spark.sql.Encoders.product[PageRow]), s"$work/rebuilt", cfgP)
    val terms = graft.core.Lemmatizer.lemmaCountsFromHtml(newPage(3).html).keySet.toSeq
    def dfOf(dir: String): Set[(String, String, Long)] =
      graft.store.TableStore.open(spark, dir).read("lemma_stats")
        .filter(col("term").isin(terms: _*))
        .select("term", "site", "df").as[(String, String, Long)].collect().toSet
    assert(dfOf(idx) == dfOf(s"$work/rebuilt"), "url 3's terms must carry the rebuild's df")
  }

  test("an unreadable manifest fails engine open and commit loudly") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val work = Files.createTempDirectory("graft-manifest-error").toString
    val idx = s"$work/idx"
    val pages = buildSmall(work, idxCfg, 40)
    val l = RuDict.contentLemmas
    val u = unusedLemmas(idx)
    assert(u.size >= 2, "fixture: two unused lemmas needed")
    val urls = pages.map(_.url).sorted
    Refresh.refreshPages(spark, idx, spark.createDataset(Seq(
      page(urls(1), html(u(0), s"${u(0)} ${l(2)}")))), idxCfg)
    val batch = Refresh.indexAsOf(spark, idx)
    def indexFiles(): Map[String, Seq[Byte]] = {
      val root = new java.io.File(s"$idx/index")
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(root).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> Files.readAllBytes(f.toPath).toSeq).toMap
    }
    val before = indexFiles()
    assert(before.nonEmpty, "fixture: the index must hold files")

    val latest = java.nio.file.Paths.get(s"$idx/_manifest/v${
      graft.store.TableStore.open(spark, idx).version}.json")
    val good = Files.readAllBytes(latest)
    Files.write(latest, "not a manifest".getBytes(StandardCharsets.UTF_8))
    def second = spark.createDataset(Seq(page(urls(2), html(u(1), s"${u(1)} ${l(2)}"))))
    intercept[Throwable](new SearchEngine(spark, idx, s"$work/pages", ReferenceTfSum))
    intercept[Throwable](Refresh.refreshPages(spark, idx, second, idxCfg))
    intercept[Throwable](Refresh.deletePages(spark, idx, Seq(urls(3)), idxCfg))
    assert(indexFiles() == before, "the live index files must not be touched")

    Files.write(latest, good)
    Refresh.refreshPages(spark, idx, second, idxCfg)
    assert(graft.store.TableStore.open(spark, idx).read("lineage")
      .agg(org.apache.spark.sql.functions.max("partition_id"))
      .as[Int].head() == batch + 1, "the next commit must take a fresh batch id")
    val engine = new SearchEngine(spark, idx, s"$work/pages", ReferenceTfSum)
    assert(engine.search(u(0), 0, 10, None).data.map(i => i.site + i.uri) == Seq(urls(1)))
    assert(engine.search(u(1), 0, 10, None).data.map(i => i.site + i.uri) == Seq(urls(2)))
  }

  test("no manifest: engine open, refresh and delete fail with rebuild") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val work = Files.createTempDirectory("graft-no-manifest").toString
    val idx = s"$work/idx"
    val pages = buildSmall(work, idxCfg, 20)
    // the tables stay on disk; without the manifest nothing names them
    val dir = new java.io.File(s"$idx/_manifest")
    dir.listFiles().foreach(_.delete())
    dir.delete()
    val open = intercept[IllegalStateException](
      new SearchEngine(spark, idx, s"$work/pages", ReferenceTfSum))
    assert(open.getMessage.contains("rebuild"), open.getMessage)
    val refresh = intercept[IllegalStateException](
      Refresh.refreshPages(spark, idx, spark.createDataset(pages.take(1)), idxCfg))
    assert(refresh.getMessage.contains("rebuild"), refresh.getMessage)
    val delete = intercept[IllegalStateException](
      Refresh.deletePages(spark, idx, Seq(pages.head.url), idxCfg))
    assert(delete.getMessage.contains("rebuild"), delete.getMessage)
  }

  test("merge drops segments batches; refresh and delete write no segments or tombstones") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val work = Files.createTempDirectory("graft-segments-gc").toString
    val idx = s"$work/idx"
    val pages = buildSmall(work, idxCfg, 40) // 2 batches, folded by the build
    assert(!graft.store.TableStore.open(spark, idx).manifest.get.has("segments"),
      "the build's fold must drop the segments table, not only its parts")
    def batchesOnDisk(): Set[Int] = {
      val root = new java.io.File(s"$idx/segments")
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(root).filter(_.getName.endsWith(".parquet"))
        .map(f => "batch=(\\d+)".r.findFirstMatchIn(f.getPath).get.group(1).toInt).toSet
    }
    val asOf = Refresh.indexAsOf(spark, idx)
    assert(asOf == idxCfg.nBatches - 1)
    assert(batchesOnDisk().isEmpty, s"merge must drop the merged batches: ${batchesOnDisk()}")
    assert(IndexDir.unreferenced(spark, idx).isEmpty)

    // a refresh and a delete rewrite index buckets instead of adding
    // posting batches or delete markers
    val l = RuDict.contentLemmas
    val u = unusedLemmas(idx)
    val urls = pages.map(_.url).sorted
    Refresh.refreshPages(spark, idx, spark.createDataset(Seq(
      page(urls(0), html(u(0), s"${u(0)} ${l(2)}")))), idxCfg)
    Refresh.deletePages(spark, idx, Seq(urls(1)), idxCfg)
    assert(Refresh.indexAsOf(spark, idx) == asOf + 2, "each commit moves as_of to its own batch")
    assert(batchesOnDisk().isEmpty, s"a refresh or delete wrote segments: ${batchesOnDisk()}")
    assert(!new java.io.File(s"$idx/tombstones").exists, "a refresh or delete wrote tombstones")
    val m = graft.store.TableStore.open(spark, idx).manifest.get
    assert(!m.has("segments") && !m.has("tombstones"))
    assert(IndexDir.unreferenced(spark, idx).isEmpty)
    val engine = new SearchEngine(spark, idx, s"$work/pages", ReferenceTfSum)
    assert(engine.search(u(0), 0, 10, None).data.map(i => i.site + i.uri) == Seq(urls(0)))
  }

  test("a refresh and a delete each publish exactly one manifest version") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val work = Files.createTempDirectory("graft-one-version").toString
    val idx = s"$work/idx"
    val pages = buildSmall(work, idxCfg, 20)
    val store = graft.store.TableStore.open(spark, idx)
    val v0 = store.version
    val l = RuDict.contentLemmas
    val urls = pages.map(_.url).sorted
    Refresh.refreshPages(spark, idx,
      spark.createDataset(Seq(page(urls(0), html(l(190), s"${l(190)} ${l(2)}")))), idxCfg)
    assert(store.version == v0 + 1, s"a refresh published ${store.version - v0} versions")
    Refresh.deletePages(spark, idx, Seq(urls(1)), idxCfg)
    assert(store.version == v0 + 2, s"a delete published ${store.version - v0 - 1} versions")
  }

  test("a manifest carrying pending delta batches fails open, refresh and delete with rebuild") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val work = Files.createTempDirectory("graft-pending-manifest").toString
    val idx = s"$work/idx"
    val pages = buildSmall(work, idxCfg, 20)
    // the fixture: the latest manifest as the older two-commit refresh
    // left it when it crashed between its delta commit and the
    // compaction — one delta batch pending, published as the next version
    val v = graft.store.TableStore.open(spark, idx).version
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val json = mapper.readTree(Files.readAllBytes(java.nio.file.Paths.get(s"$idx/_manifest/v$v.json")))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    json.put("version", v + 1)
    json.set[com.fasterxml.jackson.databind.JsonNode]("pending",
      mapper.readTree("""[{"batch": 2, "buckets": [3, 5]}]"""))
    Files.write(java.nio.file.Paths.get(s"$idx/_manifest/v${v + 1}.json"), mapper.writeValueAsBytes(json))

    val open = intercept[IllegalStateException](
      new SearchEngine(spark, idx, s"$work/pages", ReferenceTfSum))
    assert(open.getMessage.contains("rebuild"), open.getMessage)
    val refresh = intercept[IllegalStateException](
      Refresh.refreshPages(spark, idx, spark.createDataset(pages.take(1)), idxCfg))
    assert(refresh.getMessage.contains("rebuild"), refresh.getMessage)
    val delete = intercept[IllegalStateException](
      Refresh.deletePages(spark, idx, Seq(pages.head.url), idxCfg))
    assert(delete.getMessage.contains("rebuild"), delete.getMessage)
  }

  test("a manifest that does not declare the posting format fails open, refresh and delete with rebuild, touching no file") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val work = Files.createTempDirectory("graft-format-manifest").toString
    val idx = s"$work/idx"
    val pages = buildSmall(work, idxCfg, 20)
    // the fixture: the latest manifest as a version that wrote `dl` into
    // every posting published it — its stats name no posting format
    val v = graft.store.TableStore.open(spark, idx).version
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val json = mapper.readTree(Files.readAllBytes(java.nio.file.Paths.get(s"$idx/_manifest/v$v.json")))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    json.put("version", v + 1)
    json.get("stats").asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode].remove("posting_format")
    Files.write(java.nio.file.Paths.get(s"$idx/_manifest/v${v + 1}.json"), mapper.writeValueAsBytes(json))
    val before = filesUnder(idx)

    val open = intercept[IllegalStateException](
      new SearchEngine(spark, idx, s"$work/pages", ReferenceTfSum))
    assert(open.getMessage.contains("rebuild"), open.getMessage)
    val refresh = intercept[IllegalStateException](
      Refresh.refreshPages(spark, idx, spark.createDataset(pages.take(1)), idxCfg))
    assert(refresh.getMessage.contains("rebuild"), refresh.getMessage)
    val delete = intercept[IllegalStateException](
      Refresh.deletePages(spark, idx, Seq(pages.head.url), idxCfg))
    assert(delete.getMessage.contains("rebuild"), delete.getMessage)
    assert(filesUnder(idx) == before, "a refused operation must not touch the index dir")
  }

  /** Publish the latest manifest of a fresh index again with `edit`
    * applied, as an older layout would have written it; open, refresh,
    * delete and a resumed build must all refuse it with "rebuild" and
    * touch no file. */
  private def refusesOldLayout(name: String)(
      edit: com.fasterxml.jackson.databind.node.ObjectNode => Unit): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val work = Files.createTempDirectory(s"graft-$name-manifest").toString
    val idx = s"$work/idx"
    val pages = buildSmall(work, idxCfg, 20)
    val v = graft.store.TableStore.open(spark, idx).version
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val json = mapper.readTree(Files.readAllBytes(java.nio.file.Paths.get(s"$idx/_manifest/v$v.json")))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    json.put("version", v + 1)
    edit(json)
    Files.write(java.nio.file.Paths.get(s"$idx/_manifest/v${v + 1}.json"), mapper.writeValueAsBytes(json))
    val before = filesUnder(idx)

    val open = intercept[IllegalStateException](
      new SearchEngine(spark, idx, s"$work/pages", ReferenceTfSum))
    assert(open.getMessage.contains("rebuild"), open.getMessage)
    val refresh = intercept[IllegalStateException](
      Refresh.refreshPages(spark, idx, spark.createDataset(pages.take(1)), idxCfg))
    assert(refresh.getMessage.contains("rebuild"), refresh.getMessage)
    val delete = intercept[IllegalStateException](
      Refresh.deletePages(spark, idx, Seq(pages.head.url), idxCfg))
    assert(delete.getMessage.contains("rebuild"), delete.getMessage)
    val resume = intercept[IllegalStateException](
      IndexBuild.run(spark, spark.createDataset(pages), idx, idxCfg))
    assert(resume.getMessage.contains("rebuild"), resume.getMessage)
    assert(filesUnder(idx) == before, "a refused operation must not touch the index dir")
  }

  test("a manifest that names a doc_terms table fails open, refresh, delete and a resumed build with rebuild, touching no file") {
    // the fixture: the latest manifest as a version that kept the docs'
    // terms in their own table published it
    refusesOldLayout("doc-terms") { json =>
      val tables = json.get("tables").asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      tables.set[com.fasterxml.jackson.databind.JsonNode]("doc_terms", tables.get("docs").deepCopy())
    }
  }

  test("a manifest that names a head_terms table fails open, refresh, delete and a resumed build with rebuild, touching no file") {
    // the fixture: the latest manifest as a version that kept the head
    // terms and the prefetch hint in tables, and no warc_ts in docs,
    // published it: no `heads` or `mids` field, a `head_terms` table
    refusesOldLayout("head-terms") { json =>
      json.remove("heads")
      json.remove("mids")
      val tables = json.get("tables").asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      tables.set[com.fasterxml.jackson.databind.JsonNode]("head_terms", tables.get("site_status").deepCopy())
    }
  }

  test("a manifest without the head set or the prefetch hint reads them as empty lists") {
    val json = graft.store.Manifest.toJson(graft.store.Manifest.empty)
      .replace(""","heads":[]""", "").replace(""","mids":[]""", "")
    assert(!json.contains("heads") && !json.contains("mids"), s"fixture: $json")
    val m = graft.store.Manifest.fromJson(json)
    assert(m.heads == Nil && m.mids == Nil, s"heads ${m.heads}, mids ${m.mids}")
  }

  test("refresh and delete lineage rows count the new versions' terms and postings, and the touched terms") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val work = Files.createTempDirectory("graft-refresh-lineage").toString
    val idx = s"$work/idx"
    val pages = buildSmall(work, idxCfg, 20)
    val l = RuDict.contentLemmas
    val urls = pages.map(_.url).sorted.filter(termsOf(idx, _).nonEmpty)
    val fresh = Seq(page(urls(0), html(l(190), s"${l(190)} ${l(191)} ${l(2)}")),
      page("https://site1.test/p/new-lineage", html(l(192), s"${l(192)} ${l(2)} ${l(3)}")))
    Refresh.refreshPages(spark, idx, spark.createDataset(fresh), idxCfg)
    val perDoc = fresh.map(p => graft.core.Lemmatizer.lemmaCountsFromHtml(p.html).keySet)
    val gone = termsOf(idx, urls(1))
    Refresh.deletePages(spark, idx, Seq(urls(1)), idxCfg)

    val rows = graft.store.TableStore.open(spark, idx).manifest.get.lineage
    val refresh = rows.filter(_.doc_range.startsWith("refresh"))
    assert(refresh.map(r => (r.term_count, r.posting_count)) ==
      Seq((perDoc.reduce(_ ++ _).size.toLong, perDoc.map(_.size.toLong).sum)))
    val delete = rows.filter(_.doc_range.startsWith("delete"))
    assert(delete.map(r => (r.term_count, r.posting_count)) == Seq((gone.size.toLong, 0L)))
  }

  test("GC leaves no empty directory: after a 2-batch build and merge, and after a delete that empties a bucket") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val work = Files.createTempDirectory("graft-empty-dirs").toString
    buildSmall(work, idxCfg, 20) // 2 batches, folded: every segments partition dies
    assert(emptyDirsUnder(s"$work/idx").isEmpty, s"after merge: ${emptyDirsUnder(s"$work/idx")}")

    // two one-lemma pages whose lemmas hash to different index buckets:
    // deleting the first empties its bucket
    val l = RuDict.contentLemmas
    val (a, b) = (150 until 200).map(l).combinations(2).map(p => (p(0), p(1)))
      .find { case (x, y) => IndexBuild.termBucket(x, 16) != IndexBuild.termBucket(y, 16) }.get
    val idx = s"$work/idx2"
    val two = Seq(page("https://site0.test/p/a", html(a, s"$a $a")),
      page("https://site1.test/p/b", html(b, s"$b $b")))
    IndexBuild.run(spark, spark.createDataset(two), idx, idxCfg)
    val store = graft.store.TableStore.open(spark, idx)
    val bucketA = s"bucket=${IndexBuild.termBucket(a, 16)}"
    assert(store.manifest.get.parts("index").exists(_.key == bucketA), "fixture: a's bucket is live")
    Refresh.deletePages(spark, idx, Seq("https://site0.test/p/a"), idxCfg)
    assert(!store.manifest.get.parts("index").exists(_.key == bucketA), "the delete must drop a's bucket")
    assert(emptyDirsUnder(idx).isEmpty, s"after the delete: ${emptyDirsUnder(idx)}")
    assert(IndexDir.unreferenced(spark, idx).isEmpty)
  }

  /** Every file under `root` with its bytes. */
  private def filesUnder(root: String): Map[String, Seq[Byte]] = {
    import scala.jdk.CollectionConverters._
    Files.walk(java.nio.file.Paths.get(root)).iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => f.toString -> Files.readAllBytes(f).toSeq).toMap
  }

  /** Directories under `root` holding nothing. */
  private def emptyDirsUnder(root: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    Files.walk(java.nio.file.Paths.get(root)).iterator().asScala
      .filter(d => Files.isDirectory(d) && { val s = Files.list(d); try !s.findAny().isPresent finally s.close() })
      .map(_.toString).toSeq
  }

  test("refreshes keep site_status at one part, with the latest row per site") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val work = Files.createTempDirectory("graft-site-status").toString
    val idx = s"$work/idx"
    val pages = buildSmall(work, idxCfg, 20) // 2 batches: one status part each
    val store = graft.store.TableStore.open(spark, idx)
    def statusRows(): Set[(String, String, String, java.sql.Timestamp)] =
      store.read("site_status").select("site", "status", "error", "ts")
        .as[(String, String, String, java.sql.Timestamp)].collect().toSet
    assert(store.manifest.get.parts("site_status").size > 1, "fixture: a build appends status parts")
    // the log an append-only table would hold: the build's rows, then
    // the rows each refresh adds
    var log = statusRows()
    val l = RuDict.contentLemmas
    val urls = pages.map(_.url).sorted
    val targets = Seq(urls.find(_.contains("site0")).get, urls.find(_.contains("site1")).get,
      urls.filter(_.contains("site0")).last)
    for ((url, i) <- targets.zipWithIndex) {
      val before = statusRows()
      Refresh.refreshPages(spark, idx,
        spark.createDataset(Seq(page(url, html(l(190 + i), s"${l(190 + i)} ${l(2)}")))), idxCfg)
      val added = statusRows() -- before
      assert(added.map(_._1) == Set(IndexBuild.siteOf(url)) && added.forall(_._2 == "INDEXED"),
        s"refresh $i must stamp its site: $added")
      log ++= added
    }
    assert(store.manifest.get.parts("site_status").size == 1, "site_status must stay one part")
    val latest = log.groupBy(_._1).map { case (site, rows) => site -> rows.maxBy(_._4.getTime) }
    assert(statusRows() == latest.values.toSet, "the table must hold the latest row per site")
    val stats = graft.queryengine.Statistics.compute(spark, idx)
      .select("site", "status", "error", "status_time")
      .as[(String, String, String, java.sql.Timestamp)].collect()
    assert(stats.filter(_._1 != "TOTAL").toSet == latest.values.toSet,
      "Statistics must report the latest row of the whole log per site")
    assert(stats.find(_._1 == "TOTAL").map(_._4) == Some(latest.values.map(_._4).maxBy(_.getTime)))
  }
}
