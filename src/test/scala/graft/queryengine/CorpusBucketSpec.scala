package graft.queryengine

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.CorpusGen
import graft.index.IndexBuild
import graft.store.TableStore

/** Round-6: the presentation slice fetch must PRUNE to the slice's own
  * corpus bucket partitions when the corpus is written bucketed
  * (CorpusGen.writeBucketed) — O(slice buckets) instead of O(corpus
  * files) footer reads per query — and must return exactly the rows the
  * unpruned scan returns. Unbucketed (pre-round-6) corpora keep the full
  * scan path. */
class CorpusBucketSpec extends AnyFunSuite {

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

  private def fileScans(plan: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
    plan.collect {
      case s: FileSourceScanExec => Seq(s)
      case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
    }.flatten

  test("bucketed corpus: slice fetch scans only the slice's pb partitions; rows identical") {
    val work = Files.createTempDirectory("graft-corpusbucket").toString
    val cfg = CorpusGen.Config(nSites = 2, pagesPerSite = 150)
    val pages = CorpusGen.generate(spark, cfg).toDF
    val store = TableStore.open(spark, s"$work/pages")
    CorpusGen.writeBucketed(store, pages, buckets = 8)

    // meta round-trips and the layout is really partitioned
    assert(CorpusGen.pageBuckets(store).contains(8))
    assert(new java.io.File(s"$work/pages").listFiles()
      .exists(_.getName.startsWith("pb=")), "expected pb=* partition dirs")

    import spark.implicits._
    IndexBuild.run(spark,
      store.read("").as[graft.corpus.PageRow](
        org.apache.spark.sql.Encoders.product[graft.corpus.PageRow]),
      s"$work/idx", IndexBuild.Config(nBatches = 1))
    val engine = new SearchEngine(spark, s"$work/idx", s"$work/pages")

    val urls = store.read("").select("url").limit(3)
      .collect().map(_.getString(0)).toSeq
    val fetch = engine.presentFetch(urls)
    val rows = fetch.collect().map(r => r.getString(0)).sorted

    // value identity with the unpruned scan
    val expected = store.read("")
      .filter(org.apache.spark.sql.functions.col("url").isin(urls: _*))
      .select("url").collect().map(_.getString(0)).sorted
    assert(rows.toSeq == expected.toSeq && rows.length == urls.size)

    // plan: the scan's partition filters name pb, and only the slice's
    // bucket partitions are read (≤ distinct buckets of the 3 urls)
    val scan = fileScans(fetch.queryExecution.executedPlan)
      .find(_.relation.location.rootPaths.exists(_.toString.contains("pages")))
      .getOrElse(fail("no corpus FileSourceScan in plan"))
    assert(scan.partitionFilters.exists(_.references.exists(_.name == "pb")),
      s"no pb partition filter in: ${scan.partitionFilters}")
    val wantBuckets = urls.map(CorpusGen.pageBucketOf(_, 8)).distinct.sorted
    val scannedDirs = scan.relation.location.listFiles(
        scan.partitionFilters, scan.dataFilters)
      .map(_.values.getInt(0)).sorted
    assert(scannedDirs.toSeq == wantBuckets,
      s"scanned pb dirs $scannedDirs != slice buckets $wantBuckets")

    // search end-to-end still presents items (html found through pruning)
    val resp = engine.search("бома бава", 0, 5)
    assert(resp.result && resp.data.nonEmpty)
    assert(resp.data.forall(_.title != null))
  }

  test("unbucketed corpus: fetch falls back to the full scan and still works") {
    val work = Files.createTempDirectory("graft-corpusflat").toString
    val cfg = CorpusGen.Config(nSites = 1, pagesPerSite = 60)
    val store = TableStore.open(spark, s"$work/pages")
    store.replace(CorpusGen.generate(spark, cfg).toDF, "")
    assert(CorpusGen.pageBuckets(store).isEmpty)

    import spark.implicits._
    IndexBuild.run(spark,
      store.read("").as[graft.corpus.PageRow](
        org.apache.spark.sql.Encoders.product[graft.corpus.PageRow]),
      s"$work/idx", IndexBuild.Config(nBatches = 1))
    val engine = new SearchEngine(spark, s"$work/idx", s"$work/pages")
    val urls = store.read("").select("url").limit(2)
      .collect().map(_.getString(0)).toSeq
    assert(engine.presentFetch(urls).collect().length == 2)
  }
}
