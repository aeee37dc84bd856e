package graft.index

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.PostingCodec
import graft.corpus.PageRow
import graft.store.{Lineage, Stats, TableStore}

/** Incremental page refresh / delete — the rebuild of the reference's
  * `POST /api/indexPage` (IndexServiceImpl.java:84-115): the reference
  * cascade-deletes the page's postings, decrements lemma dfs and
  * re-inserts in one MySQL transaction (SiteServiceImpl.java:118-141,
  * SURVEY.md §2.1 S6). Here the transaction is one copy-on-write commit
  * of the index root ([[graft.store.TableStore]]). A delete is a refresh
  * with no new version, so both run ONE commit (`commitDelta`):
  *
  *  - a refreshed url keeps its ordinal, a new url takes the next one
  *    from the manifest's `next_ord`, and a deleted url's ordinal is
  *    never reused;
  *  - in the touched term buckets of `index` — the buckets of the old
  *    versions' terms and of the new ones' — each (term, shard) list a
  *    change names is patched as one row: the old versions' ordinals out,
  *    the new postings in (both salted as the build salts them). The
  *    work is per list, not per posting; the buckets' other lists pass
  *    through unchanged, and untouched partitions keep their files;
  *  - every other table the commit maintains is O(touched), not
  *    O(corpus), as well: docs is bucket-partitioned by doc id (`db`),
  *    carries each doc's distinct terms, and only the partitions holding
  *    the affected ids are rewritten; lemma_stats is bucket-partitioned
  *    by term and updated by an exact ±df delta over the touched term
  *    buckets; corpus stats (n_docs/avgdl/total_tokens) are adjusted
  *    from the delta itself — never re-aggregated;
  *  - all of it — index buckets, dims, ±df, stats, `next_ord`, `asOf`,
  *    the site status and the lineage row — lands in ONE manifest
  *    publish. A crash before it leaves nothing visible and a re-run
  *    recomputes from the unchanged version, so no change can be lost
  *    or applied twice.
  *
  * Granularity note: pruning is per storage partition (`bucket`), so its
  * selectivity is buckets ÷ distinct-terms-per-doc — production sizes
  * `buckets` with the corpus (thousands of partitions at 10^12 docs, like
  * Iceberg partition counts), making a one-page refresh touch a few
  * permille of the index. The in-sandbox default of 16 exists only to
  * keep tiny test indexes from fragmenting.
  *
  * The Iceberg production mapping is a copy-on-write MERGE INTO.
  */
object Refresh {

  /** The batch id of the last commit that changed `index` (a build's
    * fold, a refresh or a delete); -1 before any. */
  def indexAsOf(spark: SparkSession, outDir: String): Int =
    TableStore.open(spark, outDir).manifest.fold(-1)(_.asOf)

  /** The index's PERSISTED layout (buckets / shards / site_groups /
    * n_batches), authoritative over whatever Config the caller passed —
    * a CLI refresh with the default cfg against an index built with
    * buckets=32 would otherwise hash new postings, touched buckets and
    * lemma_stats partitions mod 16 while the base tables use mod 32,
    * silently corrupting the bucket rewrite. Non-layout knobs
    * (saltThresholdDf) stay the caller's. */
  private def layoutCfg(s: Stats, cfg: IndexBuild.Config): IndexBuild.Config =
    cfg.copy(shards = s.shards, nBatches = s.n_batches,
      siteGroups = s.site_groups, buckets = s.buckets)

  /** One version per url: the latest `warc_ts`, then the longest html. A
    * feed trigger or a refresh batch may carry several versions of one
    * url (rapid re-crawl); they would all land under one doc_id in one
    * commit, where nothing else could order them. */
  def latestPerUrl(pages: Dataset[PageRow]): Dataset[PageRow] = {
    val w = Window.partitionBy(col("url"))
      .orderBy(col("warc_ts").desc, length(col("html")).desc)
    pages.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
      .as[PageRow](Encoders.product[PageRow])
  }

  /** Re-index (or newly index) the given pages: one commit that replaces
    * their old versions with the new ones. */
  def refreshPages(spark: SparkSession, outDir: String, pages: Dataset[PageRow],
      cfg0: IndexBuild.Config = IndexBuild.Config()): Unit = {
    val analyzed = IndexBuild.analyze(latestPerUrl(pages)).cache()
    try commitDelta(spark, outDir, cfg0, analyzed.select("doc_id"), Some(analyzed),
      batch => s"refresh batch $batch")
    finally analyzed.unpersist()
  }

  /** Delete docs by url: the same commit with no new version. */
  def deletePages(spark: SparkSession, outDir: String, urls: Seq[String],
      cfg0: IndexBuild.Config = IndexBuild.Config()): Unit = {
    import spark.implicits._
    commitDelta(spark, outDir, cfg0,
      urls.map(IndexBuild.stableDocId).distinct.toDF("doc_id"), None,
      batch => s"delete batch $batch (${urls.size} urls)")
  }

  /** The one commit behind refresh and delete. `ids` are the doc ids (url
    * hashes) whose indexed version dies; `added` holds the analyzed new
    * versions (a refresh — its `ids` are exactly these rows' doc ids) or
    * is None (a delete). Every read is of the commit's base version and
    * every table is maintained O(touched). */
  private def commitDelta(spark: SparkSession, outDir: String,
      cfg0: IndexBuild.Config, ids: DataFrame, added: Option[DataFrame],
      label: Int => String): Unit = {
    import spark.implicits._
    TableStore.open(spark, outDir).commit { c =>
      val stats = IndexBuild.statsOf(c.base, outDir)
      val cfg = layoutCfg(stats, cfg0)
      val batch = c.base.batch + 1

      // ONE agg over the batch: the touched doc buckets (tiny — they
      // prune the docs partition reads), the added doc/token counts and
      // the new versions' posting rows (Σ per-doc distinct terms). A
      // delete adds no version, so its dl is null and its terms empty.
      val (dbs, nAdded, addedTokens, addedPostings) =
        added.getOrElse(ids.withColumn("dl", lit(null).cast("long"))
            .withColumn("terms", typedLit(Map.empty[String, Int])))
          .agg(collect_set(IndexBuild.docBucketCol(cfg.buckets)), count(col("dl")),
            coalesce(sum(col("dl")), lit(0L)), coalesce(sum(size(col("terms"))), lit(0L)))
          .as[(Seq[Int], Long, Long, Long)].collect()(0)
      def touchedDocs: DataFrame = c.read("docs").filter(col("db").isin(dbs: _*))

      // The old versions: ONE docs read, partition-pruned to the touched
      // doc buckets and cached for the commit. Their ordinals leave the
      // index, their terms name the touched term buckets (the index and
      // lemma_stats partitions this commit rewrites) and key the −df
      // delta, and their dl the −stats delta.
      val old = touchedDocs.join(ids, Seq("doc_id"), "leftsemi")
        .select("doc_id", "ord", "site", "dl", "terms")
        .cache()
      try {
        val (nOld, oldTokens) = old.agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L)))
          .as[(Long, Long)].collect()(0)
        // A known url keeps its ordinal; the new ones (a refresh's ids are
        // exactly its added docs) take `next_ord` upward in hash order,
        // numbered on the thin id column as the build numbers its docs
        val nNew = if (added.isEmpty) 0L else nAdded - nOld
        val addedWithOrd = added.map { a =>
          val known = old.select("doc_id", "ord")
          val ords = if (nNew == 0) known else {
            val fresh = IndexBuild.rangeRanked(
              a.select("doc_id").join(old, Seq("doc_id"), "left_anti"),
              spark.sparkContext.defaultParallelism)
            known.unionByName(IndexBuild.numbered(fresh,
              fresh.groupBy("rb").count().as[(Int, Long)].collect(), stats.next_ord))
          }
          a.join(ords, Seq("doc_id"))
        }

        // the old versions' postings, (ord, site, term); with the new
        // versions' terms (tagged, so the lineage counts them) they name
        // the touched term buckets
        val oldPost = old.select(col("ord"), col("site"), explode(col("terms")).as("term"))
        val oldTerms = oldPost.select(col("term"), lit(false).as("new"))
        val (nTouched, nNewTerms, buckets) = added
          .fold(oldTerms)(a => oldTerms.union(
            a.select(explode(map_keys(col("terms"))).as("term"), lit(true).as("new"))))
          .distinct()
          .agg(countDistinct(col("term")), count(when(col("new"), 1)),
            collect_set(IndexBuild.termBucketCol(cfg.buckets)))
          .as[(Long, Long, Seq[Int])].collect()(0)
        val keys = buckets.map(b => s"bucket=$b")

        // index: each (term, shard) list a change names is patched as one
        // row — its dead ordinals (salted as the build salted them) out, the
        // new versions' postings in; the touched buckets' other lists pass
        // through as they are, and a list left empty is dropped (and so is
        // a bucket whose lists all died)
        if (buckets.nonEmpty) {
          val heads = c.read("head_terms")
          val dead = IndexBuild.saltedPostings(oldPost.withColumn("tf", lit(0L)), heads, cfg)
            .select(col("term"), col("shard"), col("ord").as("dead"),
              lit(null).cast("struct<docId:bigint,tf:bigint>").as("posting"))
          val changes = addedWithOrd.fold(dead)(a => dead.unionByName(IndexBuild.saltedPostings(
              a.select(col("ord"), col("site"), explode(col("terms")).as(Seq("term", "tf"))), heads, cfg)
            .select(col("term"), col("shard"), lit(null).cast("long").as("dead"),
              struct(col("ord").as("docId"), col("tf").cast("long").as("tf")).as("posting"))))
            .groupBy("term", "shard")
            .agg(collect_list("dead").as("dead"), collect_list("posting").as("added"))
          val lists = c.read("index").filter(col("bucket").isin(buckets: _*))
          val nBuckets = cfg.buckets
          c.overwrite(
            lists.select(struct(lists.columns.map(col): _*).as("seg"), col("term"), col("shard"))
              .join(changes, Seq("term", "shard"), "full_outer")
              .select("seg", "term", "shard", "dead", "added")
              .as[(SegmentRow, String, Int, Seq[Long], Seq[PostingCodec.Posting])]
              .flatMap { case (seg, term, shard, dead, add) =>
                if (dead == null) Some(seg)
                else {
                  val postings = PostingCodec.patch(Option(seg).map(_.postings).toSeq, dead, add)
                  val (n, maxTf) = PostingCodec.summary(postings)
                  Option.when(n > 0)(SegmentRow(IndexBuild.termBucket(term, nBuckets), term, shard,
                    Option(seg).fold(0)(_.part_id), n, maxTf.toDouble, postings))
                }
              }
              .toDF,
            "index", Seq("bucket"), keys)
        }

        // ±df delta over only the touched terms: df(term, site) += new
        // versions' counts − old versions' counts (exact — df counts
        // distinct docs per (term, site), and each doc contributes one per
        // distinct term, which is precisely what docs.terms stores). Rows
        // whose df reaches 0 are dropped, and so is a touched bucket whose
        // rows all died.
        val minus = oldPost.groupBy("term", "site").agg((-count(lit(1))).as("d"))
        val delta = added.fold(minus)(a => a
          .select(col("site"), explode(map_keys(col("terms"))).as("term"))
          .groupBy("term", "site").agg(count(lit(1)).as("d"))
          .unionByName(minus))
          .groupBy("term", "site").agg(sum(col("d")).as("d"))
        if (buckets.nonEmpty) c.overwrite(
          c.read("lemma_stats").filter(col("bucket").isin(buckets: _*))
            .select("term", "site", "df")
            .join(delta, Seq("term", "site"), "full_outer")
            .select(col("term"), col("site"),
              (coalesce(col("df"), lit(0L)) + coalesce(col("d"), lit(0L))).as("df"))
            .filter(col("df") > 0)
            .withColumn("bucket", IndexBuild.termBucketCol(cfg.buckets))
            .repartition(col("bucket")),
          "lemma_stats", Seq("bucket"), keys)

        // docs: rewrite ONLY the touched doc buckets, repartitioned by
        // `db` as the build writes the dim, so each bucket gets one file
        // rather than one per task
        if (dbs.nonEmpty) {
          val kept = touchedDocs.join(ids, Seq("doc_id"), "left_anti")
          c.overwrite(
            addedWithOrd.fold(kept)(a => kept.unionByName(IndexBuild.docRows(a, cfg.buckets)))
              .repartition(col("db")),
            "docs", Seq("db"), dbs.map(b => s"db=$b"))
        }

        // prefetch-hint refresh, AMORTIZED on batch-count boundaries: the
        // O(vocabulary) TakeOrdered must ride neither on every engine
        // reload nor on every one-page refresh. It runs when the as_of
        // advance crosses a HintEvery boundary — bounded staleness
        // (≤ HintEvery batches). Ordering hint only; the engine re-reads
        // current dfs exactly.
        if (c.base.asOf / HintEvery != batch / HintEvery)
          IndexBuild.writeMidTerms(c)

        // per-site lifecycle: stamp the refreshed sites' status_time (the
        // reference's updateStatusOnSite path, SiteServiceImpl.java:83-91),
        // rewriting the table as its latest row per site so it stays one
        // part however many refreshes run
        added.foreach { a =>
          c.put(
            IndexBuild.latestStatus(c.read("site_status").unionByName(
              a.select("site").distinct()
                .select(col("site"), lit(IndexBuild.SiteStatus.Indexed).as("status"),
                  lit(null).cast("string").as("error"), current_timestamp().as("ts"))))
              .coalesce(1),
            "site_status")
        }

        // lineage: REAL metrics — the index bytes this commit rewrote, and
        // for a refresh the distinct terms of the new versions and their
        // posting rows (both counted above); a delete records its touched
        // terms
        val rewritten = c.current.parts("index")
          .filter(p => buckets.contains(p.value("bucket").toInt)).map(_.bytes).sum
        val termCount = if (added.isDefined) nNewTerms else nTouched
        // corpus stats from the delta (refresh replaces by doc_id, so
        // n_distinct tracks n_docs exactly)
        val n = stats.n_docs + nAdded - nOld
        val tokens = stats.total_tokens + addedTokens - oldTokens
        c.update(m => m.copy(
          stats = Some(stats.copy(n_docs = n, n_distinct = n,
            avgdl = if (n > 0) tokens.toDouble / n else 0.0, total_tokens = tokens,
            next_ord = stats.next_ord + nNew)),
          batch = batch,
          asOf = batch,
          lineage = m.lineage :+ Lineage(batch, label(batch), rewritten, termCount,
            addedPostings, "COMPLETE", None, new java.sql.Timestamp(System.currentTimeMillis()))))
      } finally old.unpersist()
    }
  }

  /** Prefetch-hint (mid_terms) refresh cadence, in ingest batches. */
  private val HintEvery = 8
}
