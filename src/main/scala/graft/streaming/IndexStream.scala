package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.corpus.PageRow
import graft.index.{IndexBuild, Refresh}
import graft.store.TableStore

/** Continuous index ingest — the Structured Streaming form of the batch
  * build for a continuously-arriving Common-Crawl-style page feed (the
  * north_star's production shape; the reference's closest analogue is the
  * crawler thread pool that keeps adding pages while the index serves,
  * ThreadIndexingManager.java:29-62).
  *
  * Design: `readPages` watches a directory (the Iceberg-table stand-in;
  * production would be a stream off the table's commit log) and each
  * micro-batch lands through `foreachBatch` on the SAME commit protocol
  * as interactive refresh — delta segment batch → tombstones → lineage
  * row → bucket-pruned compaction — so a page re-crawled in a later file
  * replaces its old version exactly like `/api/indexPage`, and a live
  * [[graft.queryengine.SearchEngine]] picks each commit up via its index
  * fingerprint without restarting.
  *
  * Delivery semantics: the file source + checkpoint give at-least-once
  * micro-batches; a replayed batch re-appends a delta+tombstone pair for
  * the same urls, and latest-batch-wins merge converges to the same index
  * (idempotent by CONVERGENCE, the standard foreachBatch contract —
  * Iceberg in production makes each micro-batch one atomic commit).
  *
  * The first-ever micro-batch on an empty index dir bootstraps through
  * the full build (single batch), so the stream can be pointed at an
  * empty directory and owns the index end-to-end.
  */
object IndexStream {

  /** input_hint schema (BASELINE.json): the streaming source must declare
    * it up front (no inference on streams). */
  val pagesSchema: StructType = StructType(Seq(
    StructField("url", StringType),
    StructField("warc_ts", TimestampType),
    StructField("html", BinaryType),
    StructField("text", StringType),
    StructField("lang", StringType)))

  /** File-source stream over a pages directory. `maxFilesPerTrigger`
    * bounds micro-batch size (ingest pacing at scale). */
  def readPages(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 0): DataFrame = {
    val r = spark.readStream.schema(pagesSchema)
    (if (maxFilesPerTrigger > 0)
      r.option("maxFilesPerTrigger", maxFilesPerTrigger)
    else r).parquet(dir)
  }

  /** One micro-batch into the index: bootstrap build if the index dir is
    * empty, refresh-with-tombstones otherwise. Exposed for tests.
    *
    * A url appearing in SEVERAL feed files of one trigger (rapid
    * re-crawl) resolves to its latest `warc_ts` version
    * (`Refresh.latestPerUrl`, which the refresh path applies itself). */
  def ingestBatch(spark: SparkSession, indexDir: String,
      batch: Dataset[PageRow], cfg: IndexBuild.Config,
      compactEvery: Int = 1): Unit = {
    if (batch.isEmpty) return // empty trigger — nothing to commit
    val store = TableStore.open(spark, indexDir)
    // Bootstrap gate = the ACTUAL commit point (`index_meta`, written
    // strictly after docs/dims + index + lineage are durable), NOT the
    // docs table: docs lands from a background future well before the
    // build commits, so a crash inside the first micro-batch used to
    // leave docs present and route the checkpointed replay into the
    // refresh path, which then failed forever reading the missing index
    // (at-least-once convergence broken for the bootstrap batch).
    if (!store.exists("index_meta")) {
      // a HALF-WRITTEN bootstrap (crash between the first table write
      // and the index_meta commit) is dropped wholesale before re-running
      // — no refresh ever committed (no index_meta), so every engine
      // table is this batch's own partial output. The stream checkpoint
      // (underscore-prefixed) is not a table and is never touched.
      Seq("docs", "doc_terms", "lemma_stats", "stats", "head_terms",
        "site_status", "lineage", "index", "index_meta", "segments",
        "tombstones", "touched_log").foreach(store.drop)
      IndexBuild.run(spark, Refresh.latestPerUrl(batch), indexDir, cfg.copy(nBatches = 1))
      IndexBuild.mergeSegments(spark, indexDir)
    } else {
      // AMORTIZED compaction: dims are maintained O(touched) every batch,
      // but the index-bucket rewrite (decode+re-encode of every touched
      // bucket) runs only once per `compactEvery` micro-batches — pending
      // delta batches stay queryable through the engine's delta-overlay
      // read path, and the deferral counter is derived from the store
      // (lineage high-water vs index_meta), so it survives restarts.
      val compact = compactEvery <= 1 ||
        Refresh.pendingBatches(spark, indexDir) + 1 >= compactEvery
      Refresh.refreshPages(spark, indexDir, batch, cfg, compact = compact)
    }
  }

  /** Start the ingest stream. The checkpoint lives INSIDE the index dir
    * (underscore-prefixed — invisible to the store's parquet readers), so
    * index and stream progress restart together. */
  def run(spark: SparkSession, pagesDir: String, indexDir: String,
      cfg: IndexBuild.Config = IndexBuild.Config(),
      maxFilesPerTrigger: Int = 0,
      trigger: Trigger = Trigger.ProcessingTime(0),
      compactEvery: Int = 1): StreamingQuery = {
    import org.apache.spark.sql.Encoders
    val pages = readPages(spark, pagesDir, maxFilesPerTrigger)
    pages.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", s"$indexDir/_stream_checkpoint")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ingestBatch(spark, indexDir,
          batch.select(col("url"), col("warc_ts"), col("html"),
            col("text"), col("lang")).as[PageRow](Encoders.product[PageRow]),
          cfg, compactEvery)
      }
      .start()
  }
}
