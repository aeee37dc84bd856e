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
  * micro-batch lands through `foreachBatch` on the SAME commit as
  * interactive refresh — one manifest commit of the touched index
  * buckets, dims and lineage row — so a page re-crawled in a later file
  * replaces its old version exactly like `/api/indexPage`, and a live
  * [[graft.queryengine.SearchEngine]] picks each commit up via the
  * manifest version without restarting.
  *
  * Delivery semantics: the file source + checkpoint give at-least-once
  * micro-batches. Each micro-batch is one atomic commit, so a batch that
  * crashed left nothing, and a replay of a committed batch refreshes the
  * same urls to the same versions again, which leaves the postings, dims
  * and stats as one ingest left them (idempotent by CONVERGENCE, the
  * standard foreachBatch contract).
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
    * empty, a refresh otherwise. Exposed for tests.
    *
    * A url appearing in SEVERAL feed files of one trigger (rapid
    * re-crawl) resolves to its latest `warc_ts` version
    * (`Refresh.latestPerUrl`, which the refresh path applies itself); a
    * version older than the indexed one, arriving in a later trigger,
    * is dropped by the refresh commit. */
  def ingestBatch(spark: SparkSession, indexDir: String,
      batch: Dataset[PageRow], cfg: IndexBuild.Config): Unit = {
    if (batch.isEmpty) return // empty trigger — nothing to commit
    // Bootstrap gate = the commit point: an index exists once a manifest
    // carries its stats. A crash inside the first micro-batch leaves no
    // manifest (or one without stats), so the checkpointed replay
    // bootstraps again; whatever the crashed attempt staged is garbage
    // the bootstrap commit collects.
    if (!TableStore.open(spark, indexDir).manifest.exists(_.stats.isDefined))
      IndexBuild.run(spark, Refresh.latestPerUrl(batch), indexDir, cfg.copy(nBatches = 1))
    else Refresh.refreshPages(spark, indexDir, batch, cfg)
  }

  /** Start the ingest stream. The checkpoint lives INSIDE the index dir
    * (underscore-prefixed — invisible to the store's parquet readers), so
    * index and stream progress restart together. */
  def run(spark: SparkSession, pagesDir: String, indexDir: String,
      cfg: IndexBuild.Config = IndexBuild.Config(),
      maxFilesPerTrigger: Int = 0,
      trigger: Trigger = Trigger.ProcessingTime(0)): StreamingQuery = {
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
          cfg)
      }
      .start()
  }
}
