package graft

import java.nio.file.Files
import java.nio.charset.StandardCharsets

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
  private val idxCfg = IndexBuild.Config(shards = 4, saltThresholdDf = 60L, nBatches = 2, buckets = 16)

  private def html(title: String, body: String): Array[Byte] =
    s"<html><head><title>$title</title></head><body><p>$body</p></body></html>"
      .getBytes(StandardCharsets.UTF_8)

  private def page(url: String, h: Array[Byte]): PageRow =
    PageRow(url, new java.sql.Timestamp(CorpusGen.Epoch), h,
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
    IndexBuild.mergeSegments(spark, s"$work/idx")

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
    IndexBuild.mergeSegments(spark, s"$work/idx")

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
    IndexBuild.mergeSegments(spark, s"$work/idx")

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
    val oldTerms = spark.read.parquet(s"$work/idx/doc_terms")
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

  test("one-page refresh rewrites ONLY touched dim partitions: docs/doc_terms/lemma_stats stay byte-identical elsewhere") {
    spark.sparkContext.setLogLevel("WARN")
    val work = Files.createTempDirectory("graft-refresh-dims").toString
    val cfgP = IndexBuild.Config(shards = 4, saltThresholdDf = 60L, nBatches = 1, buckets = 256)
    val pages = CorpusGen.generate(spark, CorpusGen.Config(2, 60)).collect().toSeq
    import spark.implicits._
    spark.createDataset(pages).write.mode("overwrite").parquet(s"$work/pages")
    val ds = spark.read.parquet(s"$work/pages")
      .as[PageRow](org.apache.spark.sql.Encoders.product[PageRow])
    IndexBuild.run(spark, ds, s"$work/idx", cfgP)
    IndexBuild.mergeSegments(spark, s"$work/idx")

    def tableFiles(table: String): Map[String, Seq[Byte]] = {
      val root = new java.io.File(s"$work/idx/$table")
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(root).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getAbsolutePath.stripPrefix(root.getAbsolutePath) ->
          java.nio.file.Files.readAllBytes(f.toPath).toSeq)
        .toMap
    }
    val dims = Seq("docs", "doc_terms", "lemma_stats")
    val before = dims.map(t => t -> tableFiles(t)).toMap

    import org.apache.spark.sql.functions.{col, explode}
    val targetUrl = spark.read.parquet(s"$work/idx/docs")
      .filter(col("dl") > 0).orderBy("url")
      .select("url").as[String].head()
    val targetId = IndexBuild.stableDocId(targetUrl)
    val oldTerms = spark.read.parquet(s"$work/idx/doc_terms")
      .filter(col("doc_id") === targetId)
      .select(explode(col("terms"))).as[String].collect().toSet
    assert(oldTerms.nonEmpty)
    val l = RuDict.contentLemmas
    val newPage = page(targetUrl, html(s"${l(190)}", s"${l(190)} ${l(191)} ${l(192)}"))
    Refresh.refreshPages(spark, s"$work/idx", spark.createDataset(Seq(newPage)), cfgP)

    // touched partitions: the target's doc bucket (docs/doc_terms) and
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
    val st = spark.read.parquet(s"$work/idx/stats").collect()(0)
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
    IndexBuild.mergeSegments(spark, idx)

    val targetUrl = spark.read.parquet(s"$idx/docs")
      .filter(col("dl") > 0).orderBy("url").select("url").as[String].head()
    val l = RuDict.contentLemmas
    val newPage = page(targetUrl, html(l(190), s"${l(190)} ${l(191)} ${l(192)}"))
    def ds = spark.createDataset(Seq(newPage))

    val statsBefore = spark.read.parquet(s"$idx/lemma_stats")
      .select("term", "site", "df").as[(String, String, Long)].collect().toSet

    // CRASH INJECTION at the exact window the protocol exists for: the
    // dims are rewritten, the delta snapshot is persisted, and the
    // lemma_stats application dies (its partition-overwrite stages inside
    // the lemma_stats dir — immutable blocks even root, reads unaffected)
    if (Seq("chattr", "+i", s"$idx/lemma_stats").! != 0)
      cancel("chattr +i unsupported on this filesystem")
    try intercept[Throwable] { Refresh.refreshPages(spark, idx, ds, cfgP) }
    finally { Seq("chattr", "-i", s"$idx/lemma_stats").! : Unit }
    // the crash window is real: doc_terms already carries the NEW terms
    // while lemma_stats is still the pre-refresh table — exactly the
    // state the old code replayed into a permanent zero delta
    val targetId = IndexBuild.stableDocId(targetUrl)
    assert(spark.read.parquet(s"$idx/doc_terms")
      .filter(col("doc_id") === targetId)
      .select(explode(col("terms"))).as[String].collect().toSet
      .contains(l(191)), "fixture: dims must be rewritten before the crash")
    assert(spark.read.parquet(s"$idx/lemma_stats")
      .select("term", "site", "df").as[(String, String, Long)].collect().toSet
      == statsBefore, "fixture: the df delta must NOT be applied yet")

    // REPLAY (IndexStream re-runs its micro-batch; nextBatch hands out
    // the same id because the lineage row never landed) — the persisted
    // snapshot must apply the TRUE delta, not a zero recomputed from the
    // already-new dims
    Refresh.refreshPages(spark, idx, ds, cfgP)

    // converged: lemma_stats equals a fresh recomputation from the dims
    val expect = spark.read.parquet(s"$idx/doc_terms")
      .select(col("doc_id"), explode(col("terms")).as("term"))
      .join(spark.read.parquet(s"$idx/docs").select("doc_id", "site"), Seq("doc_id"))
      .groupBy("term", "site").agg(count(lit(1)).as("df"))
      .as[(String, String, Long)].collect().toSet
    val got = spark.read.parquet(s"$idx/lemma_stats")
      .select("term", "site", "df")
      .as[(String, String, Long)].collect().toSet
    assert(got == expect, "replayed refresh must leave lemma_stats exact")
    // corpus stats exact too
    val st = spark.read.parquet(s"$idx/stats").collect()(0)
    assert(st.getAs[Long]("n_docs") == pages.size.toLong)
    assert(st.getAs[Long]("total_tokens") ==
      spark.read.parquet(s"$idx/docs").agg(sum(col("dl"))).as[Long].head())
    // and the snapshot tables were cleaned up
    assert(!new java.io.File(idx).listFiles().exists(_.getName.startsWith("dim_delta")),
      "applied snapshots must be dropped")
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
    IndexBuild.mergeSegments(spark, idx)

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
    val expect = spark.read.parquet(s"$idx/doc_terms")
      .select(col("doc_id"), explode(col("terms")).as("term"))
      .join(spark.read.parquet(s"$idx/docs").select("doc_id", "site"), Seq("doc_id"))
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
    IndexBuild.mergeSegments(spark, idx)

    // a term in NO existing doc — the refreshed page's new content
    val statsTerms = spark.read.parquet(s"$idx/lemma_stats")
      .select("term").as[String].collect().toSet
    val l = RuDict.contentLemmas
    val freshTerm = (150 until 200).map(l).find(t => !statsTerms(t))
      .getOrElse(fail("fixture: no unused lemma available"))
    val targetUrl = spark.read.parquet(s"$idx/docs")
      .filter(col("dl") > 0).orderBy("url").select("url").as[String].head()
    val newPage = page(targetUrl, html(freshTerm, s"$freshTerm $freshTerm ${l(2)}"))

    // crash the refresh after its dim rewrites + snapshot persist, before
    // the lemma_stats apply (same injection as the replay test)
    if (Seq("chattr", "+i", s"$idx/lemma_stats").! != 0)
      cancel("chattr +i unsupported on this filesystem")
    try intercept[Throwable] {
      Refresh.refreshPages(spark, idx, spark.createDataset(Seq(newPage)), cfgP)
    } finally { Seq("chattr", "-i", s"$idx/lemma_stats").! : Unit }
    assert(new java.io.File(idx).listFiles().exists(_.getName.startsWith("dim_delta")),
      "fixture: the crashed refresh must leave its snapshot behind")

    // an operator deletes the SAME url: nextBatch hands out the same id
    // (the refresh's lineage row never landed). Without the op salt in
    // the snapshot key the delete key-matched the refresh's snapshot and
    // applied ITS delta — +new-version dfs for a doc being deleted and
    // Δdocs=0 — permanently corrupting lemma_stats and n_docs.
    Refresh.deletePages(spark, idx, Seq(targetUrl), cfgP)

    val targetId = IndexBuild.stableDocId(targetUrl)
    assert(spark.read.parquet(s"$idx/docs")
      .filter(col("doc_id") === targetId).count() == 0, "doc must be gone")
    val st = spark.read.parquet(s"$idx/stats").collect()(0)
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
    IndexBuild.mergeSegments(spark, s"$work/idx")
    pages
  }

  /** lemma_stats as (term, site, df), and the same recomputed from the
    * docs / doc_terms dims. */
  private def lemmaStatsAndFresh(idx: String)
      : (Set[(String, String, Long)], Set[(String, String, Long)]) = {
    import org.apache.spark.sql.functions.{col, count, explode, lit}
    import spark.implicits._
    val got = spark.read.parquet(s"$idx/lemma_stats")
      .select("term", "site", "df").as[(String, String, Long)].collect().toSet
    val fresh = spark.read.parquet(s"$idx/doc_terms")
      .select(col("doc_id"), explode(col("terms")).as("term"))
      .join(spark.read.parquet(s"$idx/docs").select("doc_id", "site"), Seq("doc_id"))
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
      .copy(warc_ts = new java.sql.Timestamp(CorpusGen.Epoch + 60000L))
    Refresh.refreshPages(spark, idx, spark.createDataset(Seq(newer, older)), cfgP)

    val st = spark.read.parquet(s"$idx/stats").collect()(0)
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

    // CRASH INJECTION as in the refresh replay test: the dims are
    // rewritten and the delta snapshot persisted, then the lemma_stats
    // application dies
    if (Seq("chattr", "+i", s"$idx/lemma_stats").! != 0)
      cancel("chattr +i unsupported on this filesystem")
    try intercept[Throwable] { Refresh.deletePages(spark, idx, Seq(targetUrl), cfgP) }
    finally { Seq("chattr", "-i", s"$idx/lemma_stats").! : Unit }
    assert(spark.read.parquet(s"$idx/docs").filter(col("url") === targetUrl).count() == 0,
      "fixture: dims must be rewritten before the crash")
    assert(lemmaStatsAndFresh(idx)._1 == statsBefore,
      "fixture: the df delta must NOT be applied yet")

    // REPLAY: the same batch id, the snapshot's TRUE delta applies
    Refresh.deletePages(spark, idx, Seq(targetUrl), cfgP)

    val (got, fresh) = lemmaStatsAndFresh(idx)
    assert(got == fresh, "replayed delete must leave lemma_stats exact")
    val st = spark.read.parquet(s"$idx/stats").collect()(0)
    assert(st.getAs[Long]("n_docs") == pages.size - 1L)
    assert(st.getAs[Long]("total_tokens") ==
      spark.read.parquet(s"$idx/docs").agg(sum(col("dl"))).as[Long].head())
    assert(!new java.io.File(idx).listFiles().exists(_.getName.startsWith("dim_delta")),
      "applied snapshots must be dropped")
  }

  test("a deferred delete serves through the delta overlay, then compacts rank-identically") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val work = Files.createTempDirectory("graft-delete-deferred").toString
    val idx = s"$work/idx"
    val pages = buildSmall(work, idxCfg, 60)
    val engine = new SearchEngine(spark, idx, s"$work/pages", ReferenceTfSum)
    val l = RuDict.contentLemmas
    val victim = engine.search(l(5), 0, 100, None).data.head // warms the caches
    val victimUrl = victim.site + victim.uri

    Refresh.deletePages(spark, idx, Seq(victimUrl), idxCfg, compact = false)
    assert(Refresh.pendingBatches(spark, idx) == 1, "the delete must stay pending")

    val remaining = pages.filterNot(_.url == victimUrl)
    val oracle = new RefOracle.Corpus(remaining.map { r =>
      RefOracle.Doc(r.url, IndexBuild.siteOf(r.url), new String(r.html, StandardCharsets.UTF_8))
    })
    val queries = Seq(l(5), l(0), s"${l(0)} ${l(20)}", s"${l(1)} ${l(30)}")
    def served(): Seq[Seq[(String, Double)]] = queries.map { q =>
      engine.search(q, 0, 50, None).data.map(i => (i.site + i.uri, i.relevance))
    }
    // the SAME live engine reloads onto the overlay of the pending delete
    for (q <- queries) {
      val exp = RefOracle.search(oracle, q, None, ReferenceTfSum)
      val got = engine.search(q, 0, 50, None)
      assert(got.count == exp.count.toLong, s"count mismatch for '$q' under the overlay")
      assert(got.data.map(i => i.site + i.uri) == exp.results.take(50).map(_.url),
        s"ranking mismatch for '$q' under the overlay")
    }
    assert(engine.nDocs == remaining.size.toLong)
    val overlay = served()
    assert(!overlay.flatten.exists(_._1 == victimUrl), "deleted url must be absent")

    Refresh.compactTouched(spark, idx, idxCfg)
    assert(Refresh.pendingBatches(spark, idx) == 0)
    assert(served() == overlay, "compaction must not change the served rankings")
  }

  test("merge with a LARGE tombstone set stays rank-identical (distributed tombstone join)") {
    spark.sparkContext.setLogLevel("WARN")
    val work = Files.createTempDirectory("graft-refresh-big").toString
    val pages = CorpusGen.generate(spark, corpusCfg).collect().toSeq
    import spark.implicits._
    spark.createDataset(pages).write.mode("overwrite").parquet(s"$work/pages")
    val ds = spark.read.parquet(s"$work/pages")
      .as[PageRow](org.apache.spark.sql.Encoders.product[PageRow])
    IndexBuild.run(spark, ds, s"$work/idx", idxCfg)
    IndexBuild.mergeSegments(spark, s"$work/idx")

    // tombstone ~2/3 of the corpus in one delete batch
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
}
