package graft.app

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col

import graft.corpus.PageRow
import graft.index.{IndexBuild, Refresh}
import graft.store.TableStore

/** Reference control-API response shape (IndexingResponse.java:12-19):
  * `result=false` carries an error message, `result=true` carries none. */
final case class IndexingResponse(result: Boolean, error: Option[String])

/** The reference's indexing control endpoints rebuilt over the
  * table-scan design (ApiController.java:41-84, IndexServiceImpl.java:
  * 38-115, RunIndexMonitor):
  *
  *  - [[startIndexing]] — `GET /api/startIndexing`: refuses while a build
  *    is running («Индексация уже запущена», HTTP 403 path); otherwise
  *    launches the full resumable build on a worker thread and returns
  *    immediately (the reference starts crawler threads and returns).
  *  - [[stopIndexing]] — `GET /api/stopIndexing`: refuses when nothing
  *    runs («Индексация не запущена»); otherwise sets the stop flag the
  *    batch loop polls BETWEEN BATCHES (the reference's
  *    RunIndexMonitor.setStopIndexing, polled between pages). Completed
  *    batches stay committed; a later [[startIndexing]] resumes the rest
  *    through the lineage skip.
  *  - [[indexPage]] — `POST /api/indexPage`: single-url re-index with the
  *    reference's error shapes — a url outside the configured site list
  *    fails with the verbatim config-bounds message
  *    (IndexServiceImpl.java:86-89), a url whose corpus row carries an
  *    invalid HTTP code (or no corpus row at all — the table-scan
  *    analogue of a failed HEAD request) fails with
  *    «Код: N Ошибка доступа к url» (IndexServiceImpl.java:91-94);
  *    otherwise the page is refreshed in one commit (Refresh.refreshPages).
  *
  * The monitor is in-process (an AtomicBoolean), exactly like the
  * reference's static RunIndexMonitor — cross-process mutual exclusion
  * at production scale would be an Iceberg table property / lock, the
  * same seam the `_STOP` marker already abstracts through TableStore.
  */
final class ControlApi(
    spark: SparkSession,
    pagesPath: String,
    indexDir: String,
    configuredSites: Seq[String],
    cfg: IndexBuild.Config = IndexBuild.Config()) {

  private val running = new AtomicBoolean(false)
  @volatile private var worker: Thread = null
  @volatile private var lastFailure: Option[Throwable] = None

  private def store = TableStore.open(spark, indexDir)

  def isIndexingRunning: Boolean = running.get()

  /** Last build error, if the most recent background build threw. */
  def lastError: Option[Throwable] = lastFailure

  def startIndexing(): IndexingResponse = {
    if (!running.compareAndSet(false, true))
      return IndexingResponse(result = false, Some("Индексация уже запущена"))
    lastFailure = None
    // clear any stale stop marker SYNCHRONOUSLY, before the worker
    // exists: a stopIndexing() issued any time after this method returns
    // is then guaranteed to be seen by the batch loop (the worker is
    // told NOT to clear it at entry — clearStopMarker = false)
    store.dropMarker(IndexBuild.StopMarker)
    val t = new Thread(() => {
      try {
        // corpus read through the store seam (iceberg-readiness: the
        // pages corpus is itself a table; table "" = the store root)
        val pages = TableStore.open(spark, pagesPath).read("")
          .as[PageRow](org.apache.spark.sql.Encoders.product[PageRow])
        IndexBuild.run(spark, pages, indexDir, cfg, clearStopMarker = false)
      } catch {
        case scala.util.control.NonFatal(e) => lastFailure = Some(e)
      } finally running.set(false)
    }, "graft-indexing")
    worker = t
    t.start()
    IndexingResponse(result = true, None)
  }

  def stopIndexing(): IndexingResponse = {
    if (!running.get())
      return IndexingResponse(result = false, Some("Индексация не запущена"))
    store.putMarker(IndexBuild.StopMarker)
    IndexingResponse(result = true, None)
  }

  /** Block until the background build finishes (test/CLI convenience —
    * the reference's controller never waits; callers poll statistics). */
  def awaitIndexing(): Unit = {
    val t = worker
    if (t != null) t.join()
  }

  def indexPage(url: String): IndexingResponse = {
    val u = url.strip()
    // isValidSite (IndexServiceImpl.java:86-89): url must live under one
    // of the configured sites — message verbatim incl. the missing space
    if (!configuredSites.exists(s => u == s || u.startsWith(s.stripSuffix("/") + "/")))
      return IndexingResponse(result = false,
        Some("Данная страница находится за пределами сайтов,указанных в конфигурационном файле"))

    // checkConnectLink (IndexServiceImpl.java:91-94) — the table-scan
    // analogue reads the corpus row: its `code` column when the crawl
    // recorded one, 200 when the corpus predates codes, 404 when the url
    // has no row at all (the HEAD that never connected). ONE filtered
    // corpus scan (url-pushdown point lookup) serves both the code check
    // and the refresh input — the single collected row is re-shipped as
    // a literal Dataset.
    val corpus = TableStore.open(spark, pagesPath).read("")
    val hasCode = corpus.columns.contains("code")
    val cols = Seq(col("url"), col("warc_ts"), col("html"), col("text"), col("lang")) ++
      (if (hasCode) Seq(col("code")) else Nil)
    // latest-wins on warc_ts: a re-crawled corpus can hold several
    // versions of the url, and an arbitrary collect() head could hand
    // refreshPages a stale version (Refresh.latestPerUrl dedupes the
    // same way)
    val row = corpus.filter(col("url") === u).select(cols: _*)
      .orderBy(col("warc_ts").desc).limit(1).collect().headOption
    // code may arrive as any integral width, or null (a crawl row that
    // never connected): read numerically; null / no row → the 404 analogue
    val code = row.map { r =>
      if (!hasCode) 200
      else r.getAs[Any]("code") match {
        case n: Number => n.intValue()
        case _ => 404
      }
    }.getOrElse(404)
    if (!IndexBuild.ValidHttpCodes.contains(code))
      return IndexingResponse(result = false, Some(s"Код: $code Ошибка доступа к $u"))

    val page: Dataset[PageRow] = spark.createDataset(row.toSeq.map(r =>
      PageRow(r.getAs[String]("url"), r.getAs[java.sql.Timestamp]("warc_ts"),
        r.getAs[Array[Byte]]("html"), r.getAs[String]("text"),
        r.getAs[String]("lang"))))(
      org.apache.spark.sql.Encoders.product[PageRow])
    Refresh.refreshPages(spark, indexDir, page, cfg)
    IndexingResponse(result = true, None)
  }
}
