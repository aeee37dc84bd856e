package graft.index

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.PostingCodec
import graft.corpus.PageRow
import graft.store.{Commit, Lineage, Stats, TableStore}

/** Incremental page refresh / delete — the rebuild of the reference's
  * `POST /api/indexPage` (IndexServiceImpl.java:84-115): the reference
  * cascade-deletes the page's postings, decrements lemma dfs and
  * re-inserts in one MySQL transaction (SiteServiceImpl.java:118-141,
  * SURVEY.md §2.1 S6). Here the transaction is one copy-on-write commit
  * of the index root ([[graft.store.TableStore]]). A delete is a refresh
  * with no new version, so both run ONE commit (`commitDelta`).
  *
  * The driver plans the whole delta from the batch's own rows, which it
  * holds: the new versions' analyzed rows (a refresh) and the old
  * versions' `docs` rows, each brought by one collect. From them alone it
  * computes the ordinals, the touched terms and buckets, the dead and
  * added postings per (term, shard) list, the ±df per (term, site) and
  * the corpus stats; it never holds a posting list. Each table the commit
  * rewrites then costs one scan of its touched partitions and ONE
  * exchange on its partition column, so each touched partition is
  * written as one file:
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
  *    by term and updated by an exact ±df delta over the buckets of the
  *    terms whose df moves; corpus stats (n_docs/avgdl/total_tokens) are
  *    adjusted from the delta itself — never re-aggregated;
  *  - all of it — index buckets, dims, ±df, stats, `next_ord`, `asOf`,
  *    the site status and the lineage row — lands in ONE manifest
  *    publish. A crash before it leaves nothing visible and a re-run
  *    recomputes from the unchanged version, so no change can be lost
  *    or applied twice. A commit that finds no old version and adds
  *    none (a delete of unknown urls, a refresh whose pages all have an
  *    invalid code) publishes nothing.
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

  /** An old version: the fields of its `docs` row a commit reads, its
    * `warc_ts` in epoch microseconds. */
  final case class OldVersion(doc_id: Long, ord: Long, site: String, dl: Long,
      terms: Seq[String], warc_ts: Option[Long])

  /** A `docs` row ([[IndexBuild.docRows]]), its `warc_ts` in epoch
    * microseconds. */
  final case class DocRow(doc_id: Long, ord: Long, url: String, site: String,
      lang: String, warc_ts: Option[Long], dl: Long, terms: Seq[String], db: Int)

  /** A `lemma_stats` row. */
  final case class LemmaStat(term: String, site: String, df: Long, bucket: Int)

  /** A `site_status` row. */
  final case class SiteStatusRow(site: String, status: String, error: String,
      ts: java.sql.Timestamp)

  /** Re-index (or newly index) the given pages: one commit that replaces
    * their old versions with the new ones. The pages are analyzed where
    * they live and only their analyzed rows reach the driver, which keeps
    * the latest version per url in [[latestPerUrl]]'s order — and drops
    * the url when that version's `code` is not valid. */
  def refreshPages(spark: SparkSession, outDir: String, pages: Dataset[PageRow],
      cfg0: IndexBuild.Config = IndexBuild.Config()): Unit = {
    import spark.implicits._
    val valid =
      if (pages.columns.contains("code"))
        coalesce(col("code").isin(IndexBuild.ValidHttpCodes: _*), lit(false))
      else lit(true)
    val versions = pages
      .select(col("url"), col("html"), col("lang"), unix_micros(col("warc_ts")), valid)
      .as[(String, Array[Byte], String, Option[Long], Boolean)]
      .map { case (url, html, lang, ts, ok) =>
        (IndexBuild.analyzeOne(url, if (ok) html else null, lang, ts),
          Option(html).fold(-1)(_.length), ok)
      }
      .collect()
    val latest = versions.groupBy(_._1.url).values
      .map(_.maxBy { case (v, bytes, _) => (crawled(v.warc_ts), bytes) })
      .collect { case (v, _, true) => v }.toSeq
    commitDelta(spark, outDir, cfg0, latest.map(_.doc_id), Some(latest),
      batch => s"refresh batch $batch")
  }

  /** Delete docs by url: the same commit with no new version. */
  def deletePages(spark: SparkSession, outDir: String, urls: Seq[String],
      cfg0: IndexBuild.Config = IndexBuild.Config()): Unit =
    commitDelta(spark, outDir, cfg0, urls.map(IndexBuild.stableDocId).distinct, None,
      batch => s"delete batch $batch (${urls.size} urls)")

  /** A crawl time for ordering versions: a missing one sorts oldest. */
  private def crawled(warcTs: Option[Long]): Long = warcTs.getOrElse(Long.MinValue)

  /** The one commit behind refresh and delete. `ids` are the doc ids (url
    * hashes) whose indexed version dies; `added` holds the new versions
    * (a refresh — its `ids` are exactly their doc ids) or is None (a
    * delete). A new version crawled strictly before the indexed one is
    * dropped with it, so that url is neither replaced nor deleted: an
    * older crawl arriving in a later batch never replaces a newer one.
    * Every read is of the commit's base version. A commit that finds no
    * old version and adds none publishes nothing. */
  private def commitDelta(spark: SparkSession, outDir: String,
      cfg0: IndexBuild.Config, ids: Seq[Long], added: Option[Seq[IndexBuild.Analyzed]],
      label: Int => String): Unit = {
    import spark.implicits._
    TableStore.open(spark, outDir).commit { c =>
      val stats = IndexBuild.statsOf(c.base, outDir)
      val cfg = layoutCfg(stats, cfg0)
      // the old versions: ONE docs read, pruned to the ids' doc buckets
      val old =
        if (ids.isEmpty) Seq.empty[OldVersion]
        else c.read("docs")
          .filter(col("db").isin(ids.map(IndexBuild.docBucketOf(_, cfg.buckets)).distinct: _*) &&
            col("doc_id").isin(ids: _*))
          .select(col("doc_id"), col("ord"), col("site"), col("dl"), col("terms"),
            unix_micros(col("warc_ts")).as("warc_ts"))
          .as[OldVersion].collect().toSeq
      val indexed = old.map(o => o.doc_id -> crawled(o.warc_ts)).toMap
      val news = added.map(_.filter(v => indexed.get(v.doc_id).forall(_ <= crawled(v.warc_ts))))
      val dying = news.fold(old) { vs =>
        val ids = vs.map(_.doc_id).toSet
        old.filter(o => ids(o.doc_id))
      }
      if (dying.nonEmpty || news.exists(_.nonEmpty))
        applyDelta(c, stats, cfg, dying, news, label)
    }
  }

  /** The commit's delta, planned on the driver from the batch's own rows
    * — the old versions and the new ones — and applied to each table it
    * touches with one scan of the touched partitions and one exchange. */
  private def applyDelta(c: Commit, stats: Stats, cfg: IndexBuild.Config, old: Seq[OldVersion],
      added: Option[Seq[IndexBuild.Analyzed]], label: Int => String): Unit = {
    val spark = c.store.spark
    import spark.implicits._
    val news = added.getOrElse(Nil)
    val batch = c.base.batch + 1

    // A known url keeps its ordinal; the new ones (a refresh's ids are
    // exactly its new versions) take `next_ord` upward in doc_id order,
    // as the build numbers its docs
    val known = old.map(o => o.doc_id -> o.ord).toMap
    val fresh = news.map(_.doc_id).filterNot(known.contains).sorted
    val ordOf = known ++ fresh.zipWithIndex.map { case (id, i) => id -> (stats.next_ord + i) }

    // the old versions' terms and the new ones' name the touched term
    // buckets: the index and lemma_stats partitions this commit rewrites
    val newTerms = news.flatMap(_.terms.keys).toSet
    val touched = old.flatMap(_.terms).toSet ++ newTerms
    val buckets = touched.map(IndexBuild.termBucket(_, cfg.buckets))

    // index: each (term, shard) list a change names is patched as one row
    // — the old versions' ordinals out, the new versions' postings in,
    // both salted as the build salts them; the touched buckets' other
    // lists pass through as they are, a list left empty is dropped (and
    // so is a bucket whose lists all died), and a list only the new
    // versions hold is created
    if (buckets.nonEmpty) {
      val heads = c.base.heads.toSet
      def listOf(term: String, site: String, ord: Long) =
        (term, IndexBuild.shardOf(heads(term), site, ord, cfg))
      val dead = old.flatMap(o => o.terms.map(t => listOf(t, o.site, o.ord) -> o.ord))
        .groupMap(_._1)(_._2)
      val put = news.flatMap { v =>
        val ord = ordOf(v.doc_id)
        v.terms.map { case (t, tf) => listOf(t, v.site, ord) -> PostingCodec.Posting(ord, tf) }
      }.groupMap(_._1)(_._2)
      val changes = (dead.keySet ++ put.keySet)
        .map(k => k -> (dead.getOrElse(k, Nil), put.getOrElse(k, Nil))).toMap
      val empty = PostingCodec.encode(Array.empty)
      val created = put.keys.toSeq.map { case (t, shard) =>
        SegmentRow(IndexBuild.termBucket(t, cfg.buckets), t, shard, 0, 0, 0.0, empty)
      }
      rewrite(c, "index", buckets, created, changes)(s => (s.term, s.shard), _.doc_count == 0) {
        case (s, (gone, add)) =>
          val postings = PostingCodec.patch(Seq(s.postings), gone, add)
          val (n, maxTf) = PostingCodec.summary(postings)
          Option.when(n > 0)(s.copy(doc_count = n, block_max = maxTf.toDouble, postings = postings))
      }
    }

    // ±df delta: df(term, site) += new versions' counts − old versions'
    // counts (exact — df counts distinct docs per (term, site), and each
    // doc contributes one per distinct term, which is precisely what
    // docs.terms stores). Rows whose df reaches 0 are dropped, and so is a
    // touched bucket whose rows all died.
    val delta = (news.flatMap(v => v.terms.keys.map(t => (t, v.site) -> 1L)) ++
        old.flatMap(o => o.terms.map(t => (t, o.site) -> -1L)))
      .groupMapReduce(_._1)(_._2)(_ + _).filter(_._2 != 0)
    if (delta.nonEmpty) {
      val dfBuckets = delta.keySet.map { case (t, _) => IndexBuild.termBucket(t, cfg.buckets) }
      val created = delta.toSeq.collect { case ((t, site), d) if d > 0 =>
        LemmaStat(t, site, 0L, IndexBuild.termBucket(t, cfg.buckets))
      }
      rewrite(c, "lemma_stats", dfBuckets, created, delta)(r => (r.term, r.site), _.df == 0) {
        (r, d) => Option.when(r.df + d > 0)(r.copy(df = r.df + d))
      }
    }

    // docs: rewrite ONLY the touched doc buckets — their kept rows and the
    // new versions' — repartitioned by `db` as the build writes the dim,
    // so each bucket gets one file rather than one per task
    val gone = old.map(_.doc_id)
    val dbs = (gone ++ news.map(_.doc_id)).map(IndexBuild.docBucketOf(_, cfg.buckets)).distinct
    val kept = c.read("docs").filter(col("db").isin(dbs: _*))
    c.overwrite(
      (if (gone.isEmpty) kept else kept.filter(!col("doc_id").isin(gone: _*)))
        .unionByName(news.map(v => DocRow(v.doc_id, ordOf(v.doc_id), v.url, v.site, v.lang,
          v.warc_ts, v.dl, v.terms.keys.toSeq, IndexBuild.docBucketOf(v.doc_id, cfg.buckets))).toDF()
          .withColumn("warc_ts", timestamp_micros(col("warc_ts"))))
        .repartition(col("db")),
      "docs", Seq("db"), dbs.map(b => s"db=$b"))

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
    if (news.nonEmpty) {
      val sites = news.map(_.site).toSet
      val now = new java.sql.Timestamp(System.currentTimeMillis())
      val latest = c.read("site_status").as[SiteStatusRow].collect().toSeq.groupBy(_.site)
        .collect { case (site, rows) if !sites(site) =>
          rows.maxBy(r => Option(r.ts).map(t => (t.getTime, t.getNanos)))
        }
      c.put((latest.toSeq ++ sites.map(SiteStatusRow(_, IndexBuild.SiteStatus.Indexed, null, now)))
          .toDS().coalesce(1).toDF(),
        "site_status")
    }

    // lineage: REAL metrics — the index bytes this commit rewrote, and
    // for a refresh the distinct terms of the new versions and their
    // posting rows; a delete records its touched terms
    val rewritten = c.current.parts("index")
      .filter(p => buckets(p.value("bucket").toInt)).map(_.bytes).sum
    val termCount = if (added.isDefined) newTerms.size else touched.size
    val addedPostings = news.map(_.terms.size.toLong).sum
    // corpus stats from the delta (refresh replaces by doc_id, so
    // n_distinct tracks n_docs exactly)
    val n = stats.n_docs + news.size - old.size
    val tokens = stats.total_tokens + news.map(_.dl).sum - old.map(_.dl).sum
    c.update(m => m.copy(
      stats = Some(stats.copy(n_docs = n, n_distinct = n,
        avgdl = if (n > 0) tokens.toDouble / n else 0.0, total_tokens = tokens,
        next_ord = stats.next_ord + fresh.size)),
      batch = batch,
      asOf = batch,
      lineage = m.lineage :+ Lineage(batch, label(batch), rewritten, termCount.toLong,
        addedPostings, "COMPLETE", None, new java.sql.Timestamp(System.currentTimeMillis()))))
  }

  /** Rewrite the term `buckets` of `table` with the driver's `changes`
    * applied: one scan of those partitions and ONE exchange on `bucket`,
    * so each is written as one file. A row whose key a change names is
    * patched (to nothing when it empties), the others pass as they are.
    * `created` holds an empty row (`isEmpty`) per key a change may
    * create; it travels with the scan to the task holding its key's
    * partition and is patched there when no scanned row holds its key.
    * The changes ship to the tasks as one broadcast. */
  private def rewrite[T: Encoder, K, V](c: Commit, table: String, buckets: Set[Int],
      created: Seq[T], changes: Map[K, V])(key: T => K, isEmpty: T => Boolean)(
      patch: (T, V) => Option[T]): Unit = {
    val spark = c.store.spark
    val bc = spark.sparkContext.broadcast(changes)
    try c.overwrite(
      c.read(table).filter(col("bucket").isin(buckets.toSeq: _*)).as[T]
        .unionByName(spark.createDataset(created))
        .repartition(col("bucket"))
        .mapPartitions { rows =>
          val done = mutable.Set.empty[K]
          val fresh = mutable.ArrayBuffer.empty[T]
          rows.flatMap { r =>
            if (isEmpty(r)) { fresh += r; None }
            else bc.value.get(key(r)) match {
              case Some(v) => done += key(r); patch(r, v)
              case None => Some(r)
            }
          } ++ fresh.iterator.filterNot(r => done(key(r))).flatMap(r => patch(r, bc.value(key(r))))
        }
        .toDF(),
      table, Seq("bucket"), buckets.map(b => s"bucket=$b"))
    finally bc.destroy()
  }

  /** Prefetch-hint (the manifest's `mids`) refresh cadence, in ingest
    * batches. */
  private val HintEvery = 8
}
