package graft.index

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.PostingCodec
import graft.corpus.PageRow
import graft.store.{Lineage, Manifest, Pending, Stats, TableStore}

/** Incremental page refresh / delete — the rebuild of the reference's
  * `POST /api/indexPage` (IndexServiceImpl.java:84-115): the reference
  * cascade-deletes the page's postings, decrements lemma dfs and
  * re-inserts in one MySQL transaction (SiteServiceImpl.java:118-141);
  * the immutable Spark design replaces row-level delete+decrement with
  * Iceberg-style EQUALITY DELETES (SURVEY.md §2.1 S6), and the
  * transaction with one copy-on-write commit of the index root
  * ([[graft.store.TableStore]]). A delete is a refresh with no new
  * version, so both run ONE delta commit (`commitDelta`):
  *
  *  - a refresh adds (a) a delta segment batch holding the new
  *    version's postings and (b) a tombstone row (ord, as_of_batch)
  *    meaning "postings of doc ordinal `ord` from any batch < as_of_batch
  *    are dead"; a delete adds only the tombstones. A refreshed url
  *    keeps its ordinal, a new url takes the next one from the
  *    manifest's `next_ord`, and a deleted url's ordinal is never reused;
  *  - EVERY table the commit maintains is O(touched), not O(corpus):
  *    docs/doc_terms are bucket-partitioned by doc id (`db`) and only the
  *    partitions holding the affected ids are rewritten; lemma_stats is
  *    bucket-partitioned by term and updated by an exact ±df delta over
  *    the touched term buckets; corpus stats (n_docs/avgdl/total_tokens)
  *    are adjusted from the delta itself — never re-aggregated;
  *  - all of it — segments, tombstones, dims, ±df, stats, `next_ord`,
  *    the pending batch with its touched buckets and the lineage row —
  *    lands in ONE manifest publish. A crash before it leaves nothing
  *    visible and a re-run recomputes from the unchanged version, so no
  *    delta can be lost or applied twice;
  *  - compaction (tombstone application + re-encode) is bucket-pruned by
  *    the pending batches' touched buckets, and may be DEFERRED across
  *    several refresh batches (`compact = false`): the index lags at its
  *    old as_of while queries overlay the pending delta batches
  *    (SearchEngine's delta-overlay read path), and a later compaction
  *    folds all pending batches in one bucket-pruned commit — the shape
  *    sustained streaming ingest needs (IndexStream.compactEvery).
  *
  * The Iceberg production mapping is MERGE INTO + equality-delete files;
  * `compactTouched` is that table's compaction expressed over parquet.
  */
object Refresh {

  /** High-water batch id the current `index` is merged up to. */
  def indexAsOf(spark: SparkSession, outDir: String): Int =
    TableStore.open(spark, outDir).manifest.fold(-1)(_.asOf)

  /** Delta batches committed but not yet folded into `index` (refreshes
    * ran with compact = false). */
  def pendingBatches(spark: SparkSession, outDir: String): Int =
    TableStore.open(spark, outDir).manifest.fold(0)(_.pending.size)

  /** The index's PERSISTED layout (buckets / shards / site_groups /
    * n_batches), authoritative over whatever Config the caller passed —
    * a CLI refresh with the default cfg against an index built with
    * buckets=32 would otherwise hash deltas, touched buckets and
    * lemma_stats partitions mod 16 while the base tables use mod 32,
    * silently corrupting the overlay/compaction bucket math. Non-layout
    * knobs (saltThresholdDf) stay the caller's. */
  private def layoutCfg(s: Stats, cfg: IndexBuild.Config): IndexBuild.Config =
    cfg.copy(shards = s.shards, nBatches = s.n_batches,
      siteGroups = s.site_groups, buckets = s.buckets)

  /** One version per url: the latest `warc_ts`, then the longest html. A
    * feed trigger or a refresh batch may carry several versions of one
    * url (rapid re-crawl); they would all land under one doc_id in one
    * delta batch, where latest-batch-wins cannot order them. */
  def latestPerUrl(pages: Dataset[PageRow]): Dataset[PageRow] = {
    val w = Window.partitionBy(col("url"))
      .orderBy(col("warc_ts").desc, length(col("html")).desc)
    pages.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
      .as[PageRow](Encoders.product[PageRow])
  }

  /** Re-index (or newly index) the given pages: one delta commit that
    * retires their old versions and adds the new ones, then compacts the
    * touched index buckets (or defers it when `compact = false`). */
  def refreshPages(spark: SparkSession, outDir: String, pages: Dataset[PageRow],
      cfg0: IndexBuild.Config = IndexBuild.Config(),
      compact: Boolean = true): Unit = {
    val analyzed = IndexBuild.analyze(latestPerUrl(pages)).cache()
    try commitDelta(spark, outDir, cfg0, analyzed.select("doc_id"), Some(analyzed),
      batch => s"refresh batch $batch", compact)
    finally analyzed.unpersist()
  }

  /** Delete docs by url: the same delta commit with no new version. */
  def deletePages(spark: SparkSession, outDir: String, urls: Seq[String],
      cfg0: IndexBuild.Config = IndexBuild.Config(),
      compact: Boolean = true): Unit = {
    import spark.implicits._
    commitDelta(spark, outDir, cfg0,
      urls.map(IndexBuild.stableDocId).distinct.toDF("doc_id"), None,
      batch => s"delete batch $batch (${urls.size} urls)", compact)
  }

  /** The one delta commit behind refresh and delete. `ids` are the doc
    * ids (url hashes) whose indexed version dies; `added` holds the
    * analyzed new versions (a refresh — its `ids` are exactly these rows'
    * doc ids) or is None (a delete). Every read is of the commit's base
    * version and every table is maintained O(touched). */
  private def commitDelta(spark: SparkSession, outDir: String,
      cfg0: IndexBuild.Config, ids: DataFrame, added: Option[DataFrame],
      label: Int => String, compact: Boolean): Unit = {
    import spark.implicits._
    TableStore.open(spark, outDir).commit { c =>
      val stats = IndexBuild.statsOf(c.base, outDir)
      val cfg = layoutCfg(stats, cfg0)
      val batch = c.base.batch + 1

      // ONE agg over the batch: the touched doc buckets (tiny — they
      // prune the dim partition reads) and the added doc/token counts. A
      // delete adds no version, so its dl is null.
      val (dbs, nAdded, addedTokens) =
        added.getOrElse(ids.withColumn("dl", lit(null).cast("long")))
          .agg(collect_set(IndexBuild.docBucketCol(cfg.buckets)), count(col("dl")),
            coalesce(sum(col("dl")), lit(0L)))
          .as[(Seq[Int], Long, Long)].collect()(0)
      def touchedDbs(table: String): DataFrame =
        c.read(table).filter(col("db").isin(dbs: _*))

      // url hash → ordinal: the old versions' docs rows, partition-pruned
      // to the touched doc buckets. They key the tombstones and the
      // −df/−stats delta below.
      val oldDocs = touchedDbs("docs").join(ids, Seq("doc_id"), "leftsemi")
        .select("doc_id", "ord", "site", "dl")
      val (nOld, oldTokens) = oldDocs.agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L)))
        .as[(Long, Long)].collect()(0)
      // A known url keeps its ordinal; the new ones (a refresh's ids are
      // exactly its added docs) take `next_ord` upward in hash order,
      // numbered on the thin id column.
      val nNew = if (added.isEmpty) 0L else nAdded - nOld
      val addedWithOrd = added.map { a =>
        val fresh = a.select("doc_id").join(oldDocs, Seq("doc_id"), "left_anti")
          .select(col("doc_id"),
            (lit(stats.next_ord - 1) + row_number().over(Window.orderBy("doc_id"))).as("ord"))
        a.join(oldDocs.select("doc_id", "ord").unionByName(fresh), Seq("doc_id"))
      }

      addedWithOrd.foreach { a =>
        val post = a.select(col("ord"), col("site"), col("dl"),
          explode(col("terms")).as(Seq("term", "tf")))
        c.append(
          IndexBuild.buildSegments(post, c.read("head_terms"), cfg,
            spark.sparkContext.defaultParallelism).toDF.withColumn("batch", lit(batch)),
          "segments", Seq("batch", "bucket"))
      }
      if (nOld > 0)
        c.append(oldDocs.select(col("ord"), lit(batch).as("as_of_batch")), "tombstones")

      // touched terms = OLD versions' terms (forward doc_terms lookup,
      // partition-pruned to the touched doc buckets) ∪ NEW versions'
      // terms. Their buckets are where `index` goes stale: the pending
      // batch records them for the overlay and compaction, and they are
      // the lemma_stats partitions the ±df delta rewrites.
      val oldTerms = touchedDbs("doc_terms").join(ids, Seq("doc_id"))
        .select(explode(col("terms")).as("term"))
      val (nTouched, touchedBuckets) = added
        .fold(oldTerms)(a => oldTerms.union(
          a.select(explode(map_keys(col("terms"))).as("term"))))
        .distinct()
        .agg(count(lit(1)), collect_set(IndexBuild.termBucketCol(cfg.buckets)))
        .as[(Long, Seq[Int])].collect()(0)

      // ±df delta over only the touched terms: df(term, site) += new
      // versions' counts − old versions' counts (exact — df counts
      // distinct docs per (term, site), and each doc contributes one per
      // distinct term, which is precisely what doc_terms stores). Rows
      // whose df reaches 0 are dropped, and so is a touched bucket whose
      // rows all died.
      val minus = touchedDbs("doc_terms")
        .join(oldDocs.select("doc_id", "site"), Seq("doc_id"))
        .select(col("site"), explode(col("terms")).as("term"))
        .groupBy("term", "site").agg((-count(lit(1))).as("d"))
      val delta = added.fold(minus)(a => a
        .select(col("site"), explode(map_keys(col("terms"))).as("term"))
        .groupBy("term", "site").agg(count(lit(1)).as("d"))
        .unionByName(minus))
        .groupBy("term", "site").agg(sum(col("d")).as("d"))
      if (touchedBuckets.nonEmpty) c.overwrite(
        c.read("lemma_stats").filter(col("bucket").isin(touchedBuckets: _*))
          .select("term", "site", "df")
          .join(delta, Seq("term", "site"), "full_outer")
          .select(col("term"), col("site"),
            (coalesce(col("df"), lit(0L)) + coalesce(col("d"), lit(0L))).as("df"))
          .filter(col("df") > 0)
          .withColumn("bucket", IndexBuild.termBucketCol(cfg.buckets))
          .repartition(col("bucket")),
        "lemma_stats", Seq("bucket"), touchedBuckets.map(b => s"bucket=$b"))

      // docs / doc_terms: rewrite ONLY the touched doc buckets,
      // repartitioned by `db` as the build writes the dims, so each
      // bucket gets one file rather than one per task
      val fresh = Seq(
        "docs" -> addedWithOrd.map(_.select("doc_id", "ord", "url", "site", "lang", "dl")),
        "doc_terms" -> added.map(_.select(col("doc_id"), map_keys(col("terms")).as("terms"))))
      for ((table, rows) <- fresh if dbs.nonEmpty) {
        val kept = touchedDbs(table).join(ids, Seq("doc_id"), "left_anti")
        c.overwrite(
          rows.fold(kept)(r =>
            kept.unionByName(r.withColumn("db", IndexBuild.docBucketCol(cfg.buckets))))
            .repartition(col("db")),
          table, Seq("db"), dbs.map(b => s"db=$b"))
      }

      // lineage: REAL metrics — a refresh records its segment bytes, the
      // distinct terms of the delta and its posting rows (Σ per-doc
      // distinct terms); a delete records its touched terms
      val (postingBytes, termCount, postingCount) = added match {
        case Some(a) =>
          val (terms, postings) = a.select(explode(map_keys(col("terms"))).as("term"))
            .agg(countDistinct(col("term")), count(lit(1)))
            .as[(Long, Long)].collect()(0)
          (c.current.parts("segments").filter(_.value("batch") == batch.toString)
            .map(_.bytes).sum, terms, postings)
        case None => (0L, nTouched, 0L)
      }
      // per-site lifecycle: stamp the refreshed sites' status_time (the
      // reference's updateStatusOnSite path, SiteServiceImpl.java:83-91)
      added.foreach { a =>
        c.append(
          a.select("site").distinct()
            .select(col("site"), lit(IndexBuild.SiteStatus.Indexed).as("status"),
              lit(null).cast("string").as("error"), current_timestamp().as("ts")),
          "site_status")
      }
      // corpus stats from the delta (refresh replaces by doc_id, so
      // n_distinct tracks n_docs exactly)
      val n = stats.n_docs + nAdded - nOld
      val tokens = stats.total_tokens + addedTokens - oldTokens
      c.update(m => m.copy(
        stats = Some(stats.copy(n_docs = n, n_distinct = n,
          avgdl = if (n > 0) tokens.toDouble / n else 0.0, total_tokens = tokens,
          next_ord = stats.next_ord + nNew)),
        batch = batch,
        pending = m.pending :+ Pending(batch, touchedBuckets.sorted),
        lineage = m.lineage :+ Lineage(batch, label(batch), postingBytes, termCount,
          postingCount, "COMPLETE", None, new java.sql.Timestamp(System.currentTimeMillis()))))
    }
    if (compact) compactTouched(spark, outDir, cfg0)
  }

  /** Decoded, tombstone-filtered posting rows (term, shard, ord, tf,
    * dl) of the given index buckets of version `m`: base segments as-of
    * `m.asOf` plus every pending delta batch, latest batch winning per
    * doc. Compaction writes them re-encoded; the engine's delta-overlay
    * read path serves them from memory. */
  private[graft] def aliveRows(store: TableStore, m: Manifest,
      buckets: Seq[Int]): DataFrame = {
    val spark = store.spark
    import spark.implicits._
    val tombDf =
      if (m.has("tombstones"))
        store.readAt(m, "tombstones").groupBy("ord").agg(max("as_of_batch").as("tomb_batch"))
      else Seq.empty[(Long, Int)].toDF("ord", "tomb_batch")
    val base = store.readAt(m, "index")
      .filter(col("bucket").isin(buckets: _*))
      .select(lit(m.asOf).as("batch"), col("term"), col("shard"), col("postings"))
    val deltas =
      if (m.has("segments"))
        store.readAt(m, "segments")
          .filter(col("batch") > m.asOf && col("bucket").isin(buckets: _*))
          .select(col("batch"), col("term"), col("shard"), col("postings"))
      else base.limit(0)
    base.union(deltas)
      .as[(Int, String, Int, Array[Byte])]
      .flatMap { case (batch, term, shard, bytes) =>
        PostingCodec.decode(bytes).iterator.map(p =>
          (batch, term, shard, p.docId, p.tf, p.dl))
      }
      .toDF("batch", "term", "shard", "ord", "tf", "dl")
      .join(tombDf, Seq("ord"), "left")
      .filter(col("tomb_batch").isNull || col("tomb_batch") <= col("batch"))
      .select("term", "shard", "ord", "tf", "dl")
  }

  /** The one bucket rebuild: re-encode decoded [[aliveRows]] into segment
    * rows, with the build's shuffle keys and in-partition sort. Compaction
    * writes the result; the engine's delta-overlay read path serves it
    * from memory. */
  private[graft] def reencode(alive: DataFrame,
      buckets: Int): Dataset[SegmentRow] = {
    val spark = alive.sparkSession
    val numPartitions = math.max(
      spark.sessionState.conf.numShufflePartitions,
      spark.sparkContext.defaultParallelism)
    IndexBuild.encodeSortedRows(
      alive
        .repartition(numPartitions,
          IndexBuild.segShuffleKeys(buckets, numPartitions): _*)
        .sortWithinPartitions("term", "shard", "ord"),
      buckets)
  }

  /** The term buckets the pending delta batches of `m` touched —
    * exactly the partitions where `index` is stale. */
  private[graft] def pendingBuckets(m: Manifest): Seq[Int] =
    m.pending.flatMap(_.buckets).distinct.sorted

  /** BUCKET-PRUNED compaction — folds EVERY pending delta batch into the
    * index by rewriting only the term buckets their refreshes touched;
    * untouched bucket partitions keep their files byte-identical.
    * Dimensions are NOT touched here — every delta commit (refresh or
    * delete) maintains them per batch, so a deferred compaction leaves
    * them exact throughout. The same commit drops the folded segment
    * batches and every tombstone (all of them are spent once every
    * pending batch is folded), so nothing at or below the new as_of
    * stays on disk.
    *
    * Granularity note: pruning is per storage partition (`bucket`), so
    * its selectivity is buckets ÷ distinct-terms-per-doc — production
    * sizes `buckets` with the corpus (thousands of partitions at 10^12
    * docs, like Iceberg partition counts), making a one-page refresh
    * touch a few permille of the index. The in-sandbox default of 16
    * exists only to keep tiny test indexes from fragmenting. */
  def compactTouched(spark: SparkSession, outDir: String,
      cfg0: IndexBuild.Config): Unit =
    TableStore.open(spark, outDir).commit { c =>
      val m = c.base
      if (m.pending.nonEmpty) {
        val cfg = layoutCfg(IndexBuild.statsOf(m, outDir), cfg0)
        val maxBatch = m.pending.map(_.batch).max
        val buckets = pendingBuckets(m)
        // overwrite ONLY the touched partitions; a bucket whose postings
        // all died produces no rows and is dropped with the others
        if (buckets.nonEmpty)
          c.overwrite(reencode(aliveRows(c.store, m, buckets), cfg.buckets).toDF,
            "index", Seq("bucket"), buckets.map(b => s"bucket=$b"))
        c.remove("segments")(_.value("batch").toInt <= maxBatch)
        c.remove("tombstones")(_ => true)
        c.update(_.copy(asOf = maxBatch, pending = Nil))
        // prefetch-hint refresh, AMORTIZED on batch-count boundaries: the
        // O(vocabulary) TakeOrdered must ride neither on every engine
        // reload (round-5 ADVICE) nor on every one-page compaction (which
        // would undercut the O(touched) refresh posture from the other
        // side). It runs when the as_of advance crosses a HintEvery
        // boundary — bounded staleness (≤ HintEvery batches) at any
        // compactEvery, including the debt-cap / crashed-compactor
        // recovery folds. Ordering hint only; the engine re-reads
        // current dfs exactly.
        if (m.asOf / HintEvery != maxBatch / HintEvery)
          IndexBuild.writeMidTerms(c)
      }
    }

  /** Prefetch-hint (mid_terms) refresh cadence, in ingest batches. */
  private val HintEvery = 8
}
