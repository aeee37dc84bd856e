package graft.index

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.PostingCodec
import graft.corpus.PageRow
import graft.store.TableStore

/** Incremental page refresh / delete — the rebuild of the reference's
  * `POST /api/indexPage` (IndexServiceImpl.java:84-115): the reference
  * cascade-deletes the page's postings, decrements lemma dfs and
  * re-inserts (SiteServiceImpl.java:118-141); the immutable Spark design
  * replaces row-level delete+decrement with Iceberg-style EQUALITY
  * DELETES (SURVEY.md §2.1 S6). A delete is a refresh with no new
  * version, so both run ONE delta commit (`commitDelta`):
  *
  *  - a refresh appends (a) a delta segment batch holding the new
  *    version's postings and (b) a tombstone row (doc_id, as_of_batch)
  *    meaning "postings of doc_id from any batch < as_of_batch are dead";
  *    a delete appends only the tombstones;
  *  - EVERY table the commit maintains is O(touched), not O(corpus):
  *    docs/doc_terms are bucket-partitioned by doc id (`db`) and only the
  *    partitions holding the affected ids are rewritten; lemma_stats is
  *    bucket-partitioned by term and updated by an exact ±df delta over
  *    the touched term buckets; corpus stats (n_docs/avgdl/total_tokens)
  *    are adjusted from the delta itself — never re-aggregated;
  *  - compaction (tombstone application + re-encode) is bucket-pruned via
  *    the per-batch `touched_log`, and may be DEFERRED across several
  *    refresh batches (`compact = false`): the index lags at its old
  *    as_of while queries overlay the pending delta batches
  *    (SearchEngine's delta-overlay read path), and a later compaction
  *    folds all pending batches in one bucket-pruned pass — the shape
  *    sustained streaming ingest needs (IndexStream.compactEvery).
  *
  * The Iceberg production mapping is MERGE INTO + equality-delete files;
  * `compactTouched` is that table's compaction expressed over parquet.
  */
object Refresh {

  /** Disambiguates a delete's dim-delta snapshot key from a refresh's
    * over the same doc_ids (see the key comment in `commitDelta`). */
  private val DeleteKeySalt = 0x64656c6574655f21L // "delete_!"

  /** High-water batch id the current `index` dir is merged up to. */
  def indexAsOf(spark: SparkSession, outDir: String): Int = {
    val store = TableStore.open(spark, outDir)
    if (!store.exists("index_meta")) 0
    else store.read("index_meta").collect()(0).getAs[Int]("as_of_batch")
  }

  private def nextBatch(spark: SparkSession, outDir: String): Int = {
    import spark.implicits._
    val store = TableStore.open(spark, outDir)
    val fromLineage =
      try store.read("lineage").agg(max("partition_id"))
        .as[Int].collect().headOption.getOrElse(-1)
      catch { case scala.util.control.NonFatal(_) => -1 }
    math.max(fromLineage, indexAsOf(spark, outDir)) + 1
  }

  /** Delta batches committed but not yet folded into `index` (refreshes
    * ran with compact = false). */
  def pendingBatches(spark: SparkSession, outDir: String): Int =
    math.max(0, nextBatch(spark, outDir) - 1 - indexAsOf(spark, outDir))

  /** The index's PERSISTED layout (stats row: buckets / shards /
    * site_groups / n_batches), authoritative over whatever Config the
    * caller passed — a CLI refresh with the default cfg against an index
    * built with buckets=32 would otherwise hash deltas, touched_log rows
    * and lemma_stats partitions mod 16 while the base tables use mod 32,
    * silently corrupting the overlay/compaction bucket math. Non-layout
    * knobs (saltThresholdDf) stay the caller's. */
  private def layoutCfg(store: TableStore,
      cfg: IndexBuild.Config): IndexBuild.Config = {
    val r = store.read("stats").collect()(0)
    cfg.copy(
      shards = r.getAs[Int]("shards"),
      nBatches = r.getAs[Int]("n_batches"),
      siteGroups = r.getAs[Int]("site_groups"),
      buckets = r.getAs[Int]("buckets"))
  }

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
    commitDelta(spark, outDir, cfg0, analyzed.select("doc_id"), Some(analyzed),
      batch => s"refresh batch $batch", compact)
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
    * ids whose indexed version dies; `added` holds the analyzed new
    * versions (a refresh — its `ids` are exactly these rows' doc ids,
    * and it is unpersisted once committed) or is None (a delete).
    * Every table is maintained O(touched); see [[persistDimDelta]] for
    * the crash-replay protocol the steps follow. */
  private def commitDelta(spark: SparkSession, outDir: String,
      cfg0: IndexBuild.Config, ids: DataFrame, added: Option[DataFrame],
      label: Int => String, compact: Boolean): Unit = {
    import spark.implicits._
    val store = TableStore.open(spark, outDir)
    val cfg = layoutCfg(store, cfg0)
    val batch = nextBatch(spark, outDir)

    // the new versions' segment batch lands BEFORE the tombstones:
    // tombstones first would orphan the old version on a crash before the
    // delta lands; delta-then-tombstone means a crash re-runs the refresh
    // idempotently (same doc_ids, same batch semantics)
    added.foreach { a =>
      val post = a.select(col("doc_id"), col("site"), col("dl"),
          explode(col("terms")).as(Seq("term", "tf")))
        .select("term", "doc_id", "tf", "dl", "site")
      store.write(
        IndexBuild.buildSegments(post, store.read("head_terms"), cfg,
          spark.sparkContext.defaultParallelism).toDF,
        s"segments/batch=$batch", SaveMode.Overwrite, partitionBy = Seq("bucket"))
    }
    store.write(ids.select(col("doc_id"), lit(batch).as("as_of_batch")),
      "tombstones", SaveMode.Append)

    // ONE agg over the batch: the touched doc buckets (tiny — they prune
    // the dim partition reads), the added doc/token counts, and the
    // batch content key (order-independent hash — drives snapshot reuse
    // on replay). A delete adds no version, so its dl is null. pmod
    // before the sum: ANSI mode (Spark 4 default) overflows a sum of
    // full-range xxhash64 values; 2^31-1 keys are plenty for a
    // replay-detection content hash.
    val (dbs, nAdded, addedTokens, idHash) =
      added.getOrElse(ids.withColumn("dl", lit(null).cast("long")))
        .agg(collect_set(IndexBuild.docBucketCol(cfg.buckets)), count(col("dl")),
          sum(col("dl")), sum(pmod(xxhash64(col("doc_id")), lit(2147483647L))))
        .as[(Seq[Int], Long, Option[Long], Option[Long])].collect()(0)
    // a crashed refresh of doc set S followed by a delete of the SAME set
    // reuses the crashed batch id (nextBatch moves only at the lineage
    // row); without the salt the delete would key-match the refresh's
    // snapshot and apply the wrong delta (ghost dfs for a deleted doc,
    // n_docs one too high, permanently). A replay of the SAME op still
    // key-matches its own snapshot.
    val key = idHash.getOrElse(0L) ^ (if (added.isEmpty) DeleteKeySalt else 0L)
    def touchedDbs(table: String): DataFrame =
      store.read(table).filter(col("db").isin(dbs: _*))

    // touched terms = OLD versions' terms (forward doc_terms lookup,
    // partition-pruned to the touched doc buckets) ∪ NEW versions' terms,
    // read BEFORE doc_terms is rewritten below. Per-batch touched-bucket
    // log: deferred compaction and the engine's delta-overlay read path
    // derive their bucket set from this tiny table (rows with batch >
    // index_meta's as_of are pending).
    val oldTerms = touchedDbs("doc_terms").join(ids, Seq("doc_id"))
      .select(explode(col("terms")).as("term"))
    val (nTouched, touchedBuckets) = added
      .fold(oldTerms)(a => oldTerms.union(
        a.select(explode(map_keys(col("terms"))).as("term"))))
      .distinct()
      .agg(count(lit(1)), collect_set(IndexBuild.termBucketCol(cfg.buckets)))
      .as[(Long, Seq[Int])].collect()(0)
    store.write(Seq((batch, touchedBuckets.sorted)).toDF("batch", "buckets"),
      "touched_log", SaveMode.Append)

    if (!dimDeltaKey(store, batch).contains(key)) {
      // ±df delta over only the touched terms: df(term, site) += new
      // versions' counts − old versions' counts (exact — df counts
      // distinct docs per (term, site), and each doc contributes one per
      // distinct term, which is precisely what doc_terms stores). Old
      // rows are read BEFORE the dims are overwritten.
      val oldDocs = touchedDbs("docs").join(ids, Seq("doc_id"), "leftsemi")
        .select("doc_id", "site", "dl")
      val minus = touchedDbs("doc_terms").join(ids, Seq("doc_id"), "leftsemi")
        .select(col("doc_id"), explode(col("terms")).as("term"))
        .join(oldDocs.select("doc_id", "site"), Seq("doc_id"))
        .groupBy("term", "site").agg((-count(lit(1))).as("d"))
      val plus = added.map(_
        .select(col("site"), explode(map_keys(col("terms"))).as("term"))
        .groupBy("term", "site").agg(count(lit(1)).as("d")))
      val (nRemoved, removedTokens) = oldDocs.agg(count(lit(1)), sum(col("dl")))
        .as[(Long, Option[Long])].collect()(0)
      persistDimDelta(spark, store, batch, plus.fold(minus)(_.unionByName(minus)),
        nAdded - nRemoved,
        addedTokens.getOrElse(0L) - removedTokens.getOrElse(0L), key)
    }

    // docs / doc_terms: rewrite ONLY the touched doc buckets
    val fresh = Seq(
      "docs" -> added.map(_.select("doc_id", "url", "site", "lang", "dl")),
      "doc_terms" -> added.map(_.select(col("doc_id"), map_keys(col("terms")).as("terms"))))
    for ((table, rows) <- fresh) {
      val kept = touchedDbs(table).join(ids, Seq("doc_id"), "left_anti")
      rewriteDocBuckets(store, rows.fold(kept)(r =>
        kept.unionByName(r.withColumn("db", IndexBuild.docBucketCol(cfg.buckets)))),
        table, dbs)
    }

    // batch-gated application from the persisted snapshot (idempotent
    // on replay), then snapshot cleanup
    applyDimDeltas(spark, store, batch, cfg)

    // lineage commit row — AFTER the dim maintenance: the batch commit
    // point (a crash before it hands the replay the same batch id, which
    // the dim-delta protocol converges; nextBatch derives from
    // max(lineage, index_meta)). REAL metrics: a refresh records its
    // segment bytes, the distinct terms of the delta and its posting rows
    // (Σ per-doc distinct terms); a delete records its touched terms.
    val (postingBytes, termCount, postingCount) = added match {
      case Some(a) =>
        val (terms, postings) = a.select(explode(map_keys(col("terms"))).as("term"))
          .agg(countDistinct(col("term")), count(lit(1)))
          .as[(Long, Long)].collect()(0)
        (store.sizeInBytes(s"segments/batch=$batch"), terms, postings)
      case None => (0L, nTouched, 0L)
    }
    store.write(spark.range(1).select(
      lit(batch).as("partition_id"),
      lit(label(batch)).as("doc_range"),
      lit(postingBytes).as("posting_bytes"),
      lit(termCount).as("term_count"),
      lit(postingCount).as("posting_count"),
      lit("COMPLETE").as("status"),
      lit(null).cast("string").as("error"),
      current_timestamp().as("ts")),
      "lineage", SaveMode.Append)
    // per-site lifecycle: stamp the refreshed sites' status_time (the
    // reference's updateStatusOnSite path, SiteServiceImpl.java:83-91)
    added.foreach { a =>
      store.write(
        a.select("site").distinct()
          .select(col("site"), lit(IndexBuild.SiteStatus.Indexed).as("status"),
            lit(null).cast("string").as("error"), current_timestamp().as("ts")),
        "site_status", SaveMode.Append)
      a.unpersist()
    }

    if (compact) compactTouched(spark, outDir, cfg)
  }

  /** Rewrite ONLY the given doc-bucket partitions of a dim table with
    * `content` (already restricted to those buckets). `content` is
    * snapshotted (lineage cut) because it reads the partitions it then
    * overwrites; a bucket whose rows all died is dropped explicitly
    * (dynamic overwrite never touches a partition absent from the data). */
  private def rewriteDocBuckets(store: TableStore, content: DataFrame,
      table: String, dbs: Seq[Int]): Unit = {
    val snap = content.localCheckpoint(true)
    store.overwritePartitions(snap, table, Seq("db"))
    val alive = snap.select("db").distinct()
      .as[Int](org.apache.spark.sql.Encoders.scalaInt).collect().toSet
    (dbs.toSet -- alive).foreach(b => store.drop(s"$table/db=$b"))
  }

  /** Apply an exact ±df delta to lemma_stats over only the touched term
    * buckets. `delta` columns: (term, site, d). Rows whose df reaches 0
    * are dropped; buckets whose rows all died are dropped. */
  private def applyLemmaStatsDelta(spark: SparkSession, store: TableStore,
      delta: DataFrame, cfg: IndexBuild.Config): Unit = {
    import spark.implicits._
    val d = delta.groupBy("term", "site").agg(sum(col("d")).as("d"))
      .filter(col("d") =!= 0L)
      .localCheckpoint(true)
    val tbs: Seq[Int] = d
      .select(IndexBuild.termBucketCol(cfg.buckets).as("bucket"))
      .distinct().as[Int].collect().toSeq
    if (tbs.isEmpty) return
    val part = store.read("lemma_stats")
      .filter(col("bucket").isin(tbs: _*))
      .select("term", "site", "df")
    val merged = part
      .join(d, Seq("term", "site"), "full_outer")
      .select(col("term"), col("site"),
        (coalesce(col("df"), lit(0L)) + coalesce(col("d"), lit(0L))).as("df"))
      .filter(col("df") > 0)
      .withColumn("bucket", IndexBuild.termBucketCol(cfg.buckets))
      .localCheckpoint(true)
    store.overwritePartitions(merged, "lemma_stats", Seq("bucket"))
    val alive = merged.select("bucket").distinct().as[Int].collect().toSet
    (tbs.toSet -- alive).foreach(b => store.drop(s"lemma_stats/bucket=$b"))
  }

  /** Adjust corpus stats (n_docs / avgdl / total_tokens) by the refresh
    * delta — one tiny read + one tiny replace, no O(corpus) aggregation.
    * (Uniqueness is enforced at build time; refresh replaces by doc_id,
    * so n_distinct tracks n_docs exactly.) The applied batch is stamped
    * INSIDE the same atomically-replaced row (`stats_as_of`), so a
    * replayed batch can never double-apply this delta. */
  private def applyStatsDelta(spark: SparkSession, store: TableStore,
      dDocs: Long, dTokens: Long, asOfBatch: Int): Unit = {
    val prev = store.read("stats").collect()(0)
    if (prev.getAs[Int]("stats_as_of") >= asOfBatch) return
    val n = prev.getAs[Long]("n_docs") + dDocs
    val tt = prev.getAs[Long]("total_tokens") + dTokens
    store.replace(spark.range(1).select(
      lit(n).as("n_docs"),
      lit(n).as("n_distinct"),
      lit(if (n > 0) tt.toDouble / n else 0.0).as("avgdl"),
      lit(tt).as("total_tokens"),
      lit(prev.getAs[Int]("shards")).as("shards"),
      lit(prev.getAs[Int]("n_batches")).as("n_batches"),
      lit(prev.getAs[Int]("site_groups")).as("site_groups"),
      lit(prev.getAs[Int]("buckets")).as("buckets"),
      lit(asOfBatch).as("stats_as_of")),
      "stats")
  }

  /** Highest batch whose lemma_stats delta has been applied (0 when the
    * meta table predates this protocol — every live batch id is ≥ 1). */
  private def lemmaAppliedBatch(store: TableStore): Int =
    store.readOpt("lemma_stats_meta")
      .map(_.collect()(0).getAs[Int]("as_of_batch")).getOrElse(0)

  /** Crash-idempotent dim-delta protocol (refresh AND delete paths).
    *
    * The incremental dim maintenance has an inherent replay hazard: the
    * ±df / ±stats deltas are derived from the OLD dim rows, so once the
    * dims are rewritten a replayed batch recomputes a ZERO delta and the
    * drift is permanent (a term new to the corpus stays df=0 ⇒ its pages
    * unsearchable). Protocol, in order:
    *
    *  1. persistDimDelta — the computed delta rows + stats scalars are
    *     persisted via atomic `replace` BEFORE any dim rewrite, keyed by
    *     a content hash of the batch's doc_ids. A replay of the SAME
    *     batch (IndexStream re-runs its micro-batch; nextBatch hands out
    *     the same id until the lineage row lands) finds the snapshot,
    *     key-matches, and reuses the TRUE delta; a DIFFERENT batch that
    *     was handed a crashed batch's id key-mismatches and recomputes
    *     its own (the crashed batch's drift is then what it was before
    *     this protocol — never worse).
    *  2. dim rewrites (docs / doc_terms) — idempotent by construction
    *     (content derived from current state; a re-rewrite is a no-op).
    *  3. applyDimDeltas — application is GATED per batch:
    *     lemma_stats_meta.as_of_batch for the df delta, stats_as_of
    *     inside the stats row for the corpus delta, so a replay never
    *     double-applies. Remaining non-atomic window: a crash between
    *     the lemma_stats partition-overwrite commit and the meta stamp
    *     re-applies the df delta once on replay (the Iceberg production
    *     mapping folds both into one commit).
    *  4. applyDimDeltas drops the snapshot; the caller then writes the
    *     lineage row — the batch commit point, after which nextBatch
    *     moves on. */
  private def persistDimDelta(spark: SparkSession, store: TableStore,
      batch: Int, deltaRows: DataFrame, dDocs: Long, dTokens: Long,
      key: Long): Unit = {
    store.replace(deltaRows, s"dim_delta_$batch")
    store.replace(spark.range(1).select(
      lit(dDocs).as("d_docs"), lit(dTokens).as("d_tokens"),
      lit(key).as("key")), s"dim_delta_stats_$batch")
  }

  /** The persisted snapshot's content key for `batch`, if complete. */
  private def dimDeltaKey(store: TableStore, batch: Int): Option[Long] =
    if (!store.exists(s"dim_delta_$batch") ||
        !store.exists(s"dim_delta_stats_$batch")) None
    else Some(store.read(s"dim_delta_stats_$batch")
      .collect()(0).getAs[Long]("key"))

  private def applyDimDeltas(spark: SparkSession, store: TableStore,
      batch: Int, cfg: IndexBuild.Config): Unit = {
    if (lemmaAppliedBatch(store) < batch) {
      applyLemmaStatsDelta(spark, store, store.read(s"dim_delta_$batch"), cfg)
      store.replace(spark.range(1).select(lit(batch).as("as_of_batch")),
        "lemma_stats_meta")
    }
    val d = store.read(s"dim_delta_stats_$batch").collect()(0)
    applyStatsDelta(spark, store,
      d.getAs[Long]("d_docs"), d.getAs[Long]("d_tokens"), batch)
    store.drop(s"dim_delta_$batch")
    store.drop(s"dim_delta_stats_$batch")
  }

  /** Decoded, tombstone-filtered posting rows (term, shard, doc_id, tf,
    * dl) of the given index buckets: base segments as-of `asOf` plus
    * every pending delta batch, latest batch winning per doc. The result
    * is lineage-cut (localCheckpoint), so callers may overwrite the
    * tables it read while consuming it — compaction does exactly that,
    * and the engine's delta-overlay read path consumes it read-only. */
  private[graft] def aliveRows(spark: SparkSession, store: TableStore,
      buckets: Seq[Int], asOf: Int): DataFrame = {
    import spark.implicits._
    val tombDf = store.readOpt("tombstones")
      .map(_.groupBy("doc_id").agg(max("as_of_batch").as("tomb_batch")))
      .getOrElse(Seq.empty[(Long, Int)].toDF("doc_id", "tomb_batch"))
    val base = store.read("index")
      .filter(col("bucket").isin(buckets: _*))
      .select(lit(asOf).as("batch"), col("term"), col("shard"), col("postings"))
    val deltas = store.readOpt("segments")
      .map(_.filter(col("batch") > asOf && col("bucket").isin(buckets: _*))
        .select(col("batch"), col("term"), col("shard"), col("postings")))
      .getOrElse(base.limit(0))
    base.union(deltas)
      .as[(Int, String, Int, Array[Byte])]
      .flatMap { case (batch, term, shard, bytes) =>
        PostingCodec.decode(bytes).iterator.map(p =>
          (batch, term, shard, p.docId, p.tf, p.dl))
      }
      .toDF("batch", "term", "shard", "doc_id", "tf", "dl")
      .join(tombDf, Seq("doc_id"), "left")
      .filter(col("tomb_batch").isNull || col("tomb_batch") <= col("batch"))
      .select("term", "shard", "doc_id", "tf", "dl")
      .localCheckpoint(true)
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
        .sortWithinPartitions("term", "shard", "doc_id"),
      buckets)
  }

  /** Pending touched buckets: union of touched_log entries newer than the
    * index's as_of — exactly the partitions where `index` is stale. */
  private[graft] def pendingTouchedBuckets(spark: SparkSession,
      store: TableStore, asOf: Int): Seq[Int] = {
    import spark.implicits._
    store.readOpt("touched_log")
      .map(_.filter(col("batch") > asOf)
        .select(explode(col("buckets")).as("b"))
        .distinct().as[Int].collect().toSeq.sorted)
      .getOrElse(Nil)
  }

  /** BUCKET-PRUNED compaction — folds EVERY pending delta batch into the
    * index by rewriting only the term buckets their refreshes touched
    * (from `touched_log`); untouched bucket partitions keep their files
    * byte-identical. Dimensions are NOT touched here — every delta commit
    * (refresh or delete) maintains them per batch, so a deferred
    * compaction leaves them exact throughout.
    *
    * Granularity note: pruning is per storage partition (`bucket`), so
    * its selectivity is buckets ÷ distinct-terms-per-doc — production
    * sizes `buckets` with the corpus (thousands of partitions at 10^12
    * docs, like Iceberg partition counts), making a one-page refresh
    * touch a few permille of the index. The in-sandbox default of 16
    * exists only to keep tiny test indexes from fragmenting.
    *
    * Crash recovery: tombstones and delta batches are retained until the
    * index_meta bump, so re-running the compaction after a crash
    * mid-overwrite converges — the
    * Iceberg production mapping makes the partition overwrite a single
    * atomic commit instead. Spent tombstones (≤ the new as_of) are GC'd
    * after the commit point. */
  def compactTouched(spark: SparkSession, outDir: String,
      cfg0: IndexBuild.Config): Unit = {
    import spark.implicits._
    val store = TableStore.open(spark, outDir)
    val cfg = layoutCfg(store, cfg0)
    val asOf = indexAsOf(spark, outDir)
    val maxBatch = nextBatch(spark, outDir) - 1
    val buckets = pendingTouchedBuckets(spark, store, asOf)
    if (buckets.isEmpty) { // nothing indexed was touched (empty page)
      store.write(spark.range(1).select(lit(maxBatch).as("as_of_batch")),
        "index_meta", SaveMode.Overwrite)
      return
    }

    val alive = aliveRows(spark, store, buckets, asOf)
    // overwrite ONLY the touched partitions; a bucket whose postings all
    // died produces no rows — dynamic overwrite won't touch it, so its
    // stale partition dir is dropped explicitly
    store.overwritePartitions(reencode(alive, cfg.buckets).toDF, "index", Seq("bucket"))
    val aliveBuckets = alive
      .select(IndexBuild.termBucketCol(cfg.buckets).as("bucket"))
      .distinct().as[Int].collect().toSet
    (buckets.toSet -- aliveBuckets).foreach(b => store.drop(s"index/bucket=$b"))
    store.write(spark.range(1).select(lit(maxBatch).as("as_of_batch")),
      "index_meta", SaveMode.Overwrite)
    // spent tombstones: every batch ≤ maxBatch is folded in now; rows at
    // or below it can never kill anything again (base postings re-read as
    // batch = maxBatch). Bounds tombstone growth under sustained ingest.
    store.readOpt("tombstones").foreach { t =>
      store.replace(t.filter(col("as_of_batch") > maxBatch), "tombstones")
    }
    // prefetch-hint refresh, AMORTIZED on batch-count boundaries: the
    // O(vocabulary) TakeOrdered must ride neither on every engine reload
    // (round-5 ADVICE) nor on every one-page compaction (which would
    // undercut the O(touched) refresh posture from the other side). It
    // runs when the as_of advance crosses a HintEvery boundary — bounded
    // staleness (≤ HintEvery batches) at any compactEvery, including the
    // debt-cap / crashed-compactor recovery folds. Ordering hint only;
    // the engine re-reads current dfs exactly.
    if (asOf / HintEvery != maxBatch / HintEvery)
      IndexBuild.writeMidTerms(store)
  }

  /** Prefetch-hint (mid_terms) refresh cadence, in ingest batches. */
  private val HintEvery = 8
}
