package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Bm25, HtmlText, RuDict}
import graft.corpus.{CorpusGen, PageRow}
import graft.index.{IndexBuild, Refresh}
import graft.queryengine.SearchEngine
import graft.store.{Manifest, Part, TableStore}

/** Crash-point enumeration. Every mutation of an index root is a staged
  * write, a manifest publish or a post-publish delete; a store wrapper
  * fails the k-th of them and every later one, as if the process died
  * there. For every k of each scenario the op then re-runs without
  * faults, and the latest manifest's tables and the engine's `topK` and
  * `search` results must equal an uncrashed run's; after one more
  * commit no unreferenced file may remain. Each k works in its own
  * directory, so the k's of a scenario run concurrently. */
class CrashPointSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // the ops run about a hundred times over a few dozen rows: one job per
  // action instead of AQE's job per stage; restored for later suites
  private val Aqe = "spark.sql.adaptive.enabled"
  private var aqeWas: Option[String] = None
  override def beforeAll(): Unit = {
    aqeWas = spark.conf.getOption(Aqe)
    spark.conf.set(Aqe, "false")
    TableStore.wrap = s => Option(faults.get(s.root)).fold(s) { case (count, failAt) =>
      new FaultyStore(s, count, failAt)
    }
  }
  override def afterAll(): Unit = {
    TableStore.wrap = identity
    aqeWas.fold(spark.conf.unset(Aqe))(spark.conf.set(Aqe, _))
  }

  private val cfg = IndexBuild.Config(shards = 2, saltThresholdDf = 8L, nBatches = 2,
    buckets = 4, siteGroups = 2)

  private final class Crash extends RuntimeException("injected crash")

  /** Counts the mutations through `inner`; from the `failAt`-th on
    * (1-based) each one throws instead of running. */
  private final class FaultyStore(inner: TableStore, count: AtomicInteger, failAt: Int)
      extends TableStore {
    def spark: SparkSession = inner.spark
    def root: String = inner.root
    def manifest: Option[Manifest] = inner.manifest
    def version: Long = inner.version
    def readAt(m: Manifest, table: String): DataFrame = inner.readAt(m, table)
    def read(table: String): DataFrame = inner.read(table)
    def exists(table: String): Boolean = inner.exists(table)
    def replace(df: DataFrame, table: String, partitionBy: Seq[String]): Unit =
      inner.replace(df, table, partitionBy)
    def markerExists(name: String): Boolean = inner.markerExists(name)
    def putMarker(name: String): Unit = inner.putMarker(name)
    def dropMarker(name: String): Unit = inner.dropMarker(name)
    def unreferenced(m: Manifest): Seq[String] = inner.unreferenced(m)
    private def mutation(): Unit = if (count.incrementAndGet() >= failAt) throw new Crash
    def stage(df: DataFrame, table: String, partitionBy: Seq[String]): Seq[Part] = {
      mutation(); inner.stage(df, table, partitionBy)
    }
    def publish(m: Manifest): Boolean = { mutation(); inner.publish(m) }
    def delete(paths: Seq[String]): Unit = { mutation(); inner.delete(paths) }
  }

  /** Index dir → (mutations so far, the first one to fail). */
  private val faults = new java.util.concurrent.ConcurrentHashMap[String, (AtomicInteger, Int)]()

  /** Runs `body` with the stores on `dir` failing from their `failAt`-th
    * mutation; returns how many mutations were attempted. */
  private def withFaults(dir: String, failAt: Int)(body: => Unit): Int = {
    val count = new AtomicInteger
    faults.put(dir, (count, failAt))
    try body finally faults.remove(dir)
    count.get
  }

  private lazy val work = Files.createTempDirectory("graft-crash").toString
  private lazy val pagesDir = {
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    val dir = s"$work/pages"
    spark.createDataset(CorpusGen.generate(spark, CorpusGen.Config(4, 6)).collect().toSeq)
      .write.parquet(dir)
    dir
  }
  private def pages =
    spark.read.parquet(pagesDir).as[PageRow](org.apache.spark.sql.Encoders.product[PageRow])

  private def page(url: String, body: String): PageRow = {
    val h = s"<html><head><title>t</title></head><body><p>$body</p></body></html>"
      .getBytes(StandardCharsets.UTF_8)
    // a re-crawl, a day after the generated pages' crawl times
    PageRow(url, new java.sql.Timestamp(CorpusGen.Epoch + 86400000L), h,
      HtmlText.cleanToText(new String(h, StandardCharsets.UTF_8)), "ru")
  }

  /** A 2-batch index, folded by its build. */
  private lazy val base = {
    val dir = s"$work/base"
    IndexBuild.run(spark, pages, dir, cfg)
    dir
  }

  /** Every table of the latest manifest except the lineage and status
    * logs (they carry timestamps), as sorted row hashes, plus the stats,
    * the head set and the prefetch hint in its order. */
  private def tables(dir: String): Map[String, Seq[Long]] = {
    import spark.implicits._
    val store = TableStore.open(spark, dir)
    val m = store.manifest.get
    val names = (m.tables.keySet - "site_status").toSeq
    val hashes = names.map(t => store.readAt(m, t).selectExpr(s"'$t'", "xxhash64(*)"))
      .reduce(_ union _).as[(String, Long)].collect().groupBy(_._1)
    names.map(t => t -> hashes.get(t).fold(Seq.empty[Long])(_.map(_._2).toSeq.sorted)).toMap +
      ("stats" -> m.stats.toSeq.map(_.hashCode.toLong)) +
      ("heads" -> m.heads.map(_.hashCode.toLong)) + ("mids" -> m.mids.map(_.hashCode.toLong))
  }

  private val queries = {
    val l = RuDict.contentLemmas
    Seq(l(0), l(5), s"${l(0)} ${l(20)}", s"${l(1)} ${l(30)}", l(190))
  }

  /** topK and search answers of a fresh engine on `dir`. */
  private def answers(dir: String): Seq[Any] = {
    val engine = new SearchEngine(spark, dir, pagesDir, Bm25())
    queries.map(q => engine.topK(q, 10)) ++
      queries.take(2).map(q => engine.search(q, 0, 10, None).data.map(i => (i.uri, i.relevance)))
  }

  /** Regular files under `dir` no live part holds, after one more commit. */
  private def leftovers(dir: String): Seq[String] = {
    TableStore.open(spark, dir).commit(_.update(identity))
    IndexDir.unreferenced(spark, dir)
  }

  /** Enumerates every crash point of `op` run on a copy of `base` (an
    * empty dir when None). */
  private def enumerate(name: String, base: Option[String], withEngine: Boolean)(
      op: String => Unit): Unit = {
    def fresh(tag: String): String = {
      val dir = s"$work/$name-$tag"
      base match {
        case Some(b) => IndexDir.copy(b, dir)
        case None => Files.createDirectories(Paths.get(dir))
      }
      dir
    }
    val ref = fresh("ref")
    val total = withFaults(ref, Int.MaxValue)(op(ref))
    info(s"$name: $total crash points")
    assert(total >= 3, s"$name: fixture must stage, publish and collect ($total mutations)")
    val expectTables = tables(ref)
    val expectAnswers = if (withEngine) answers(ref) else Nil
    assert(leftovers(ref).isEmpty, s"$name: an uncrashed run left ${leftovers(ref)}")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val runs = (1 to total).map(k => scala.concurrent.Future {
      val dir = fresh(s"k$k")
      val crashed = try { withFaults(dir, k)(op(dir)); false } catch { case _: Throwable => true }
      op(dir)
      val got = tables(dir)
      val problems =
        (if (!crashed) Seq("no crash") else Nil) ++
          (if (got != expectTables)
            Seq(s"tables ${got.keySet.filter(t => got.get(t) != expectTables.get(t))}")
          else Nil) ++
          (if (withEngine && answers(dir) != expectAnswers) Seq("answers") else Nil) ++
          leftovers(dir).headOption.map(f => s"leftover $f")
      if (problems.isEmpty) None else Some(s"k=$k: ${problems.mkString(", ")}")
    })
    val failed = try runs.flatMap(scala.concurrent.Await.result(_, scala.concurrent.duration.Duration.Inf))
      finally pool.shutdown()
    assert(failed.isEmpty, s"$name: ${failed.size} of $total crash points diverge:\n" +
      failed.mkString("\n"))
  }

  // each run folds its batches into `index` before it returns, so the
  // fold's crash points fall inside this enumeration: after the stopped
  // first run, after the resumed second one, and in the resume that finds
  // every batch committed but a crash between the last commit and the fold
  test("every crash point of a 2-batch build with resume converges") {
    enumerate("build", None, withEngine = true) { dir =>
      IndexBuild.run(spark, pages, dir, cfg, stopAfter = 1)
      IndexBuild.run(spark, pages, dir, cfg)
    }
  }

  private def refreshBatch = {
    val l = RuDict.contentLemmas
    val known = pages.collect().map(_.url).sorted.apply(2)
    spark.createDataset(Seq(
      page(known, s"${l(190)} ${l(191)} ${l(0)}"),
      page("https://site0.test/p/new-x", s"${l(192)} ${l(190)} ${l(2)}")))(
      org.apache.spark.sql.Encoders.product[PageRow])
  }

  test("every crash point of a refresh converges") {
    enumerate("refresh", Some(base), withEngine = true) { dir =>
      Refresh.refreshPages(spark, dir, refreshBatch, cfg)
    }
  }

  test("every crash point of a delete converges") {
    val urls = pages.collect().map(_.url).sorted.slice(5, 7).toSeq
    enumerate("delete", Some(base), withEngine = true) { dir =>
      Refresh.deletePages(spark, dir, urls, cfg)
    }
  }
}
