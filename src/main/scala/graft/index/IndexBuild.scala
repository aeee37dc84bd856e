package graft.index

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Lemmatizer, PostingCodec}
import graft.corpus.PageRow
import graft.store.{Commit, Lineage, Manifest, Stats, TableStore}

/** Physical posting segment: delta+varint-encoded run of one (term,
  * shard), sorted by doc ORDINAL (`docs.ord`, see [[IndexBuild]]);
  * `bucket` is the storage partition column used for term-level
  * partition pruning at query time (SURVEY.md §1.3).
  * shard == -1 ⇔ the term is unsalted (tail term, one segment per batch);
  * shard ∈ [0, shards) ⇔ salted head term, doc-hash sharded. */
final case class SegmentRow(
    bucket: Int, term: String, shard: Int, part_id: Int,
    doc_count: Int, block_max: Double, postings: Array[Byte])

/** Map-side partial posting list of one (term, shard) within one input
  * partition: `blob` is a packed little-endian run of 12-byte
  * (ord: long, tf: int) records, sorted by ord. The
  * build's shuffle unit when the combine path is on — a few thousand
  * partials per input partition instead of one row per posting. */
final case class SegPartial(term: String, shard: Int, blob: Array[Byte])

/** Index build: pages → postings → lemma_stats / docs / segments / lineage.
  *
  * Spark-first rebuild of the reference's crawl-then-lemmatize pipeline
  * (ThreadIndexingManager.java:29-62, MorphologyServiceImpl.java:58-77):
  * one typed `flatMap` per page replaces the per-page JDBC roundtrips; the
  * single term-partitioning shuffle + per-partition sort replaces the
  * mutable lemma-frequency merge (Lemma.java:39-53).
  *
  * Scale design (north_rule):
  *  - head-term skew handled by salted repartitioning: terms with global
  *    df > saltThreshold are split into `shards` doc-hash shards; the doc
  *    shard function (pmod(xxhash64(doc_id), shards)) is SHARED by all
  *    salted terms, so a conjunctive query evaluates shard-locally —
  *    a doc's postings for every salted term land in the same shard
  *    (SURVEY.md §7 H4);
  *  - the salted/unsalted decision uses GLOBAL df (not per-batch) so a
  *    term's sharding is identical across resumable batches;
  *  - segments carry block-max metadata for WAND (PostingCodec);
  *  - builds are resumable: the doc space is split into `nBatches` by
  *    site hash; each batch is one manifest commit carrying its segments
  *    and its lineage row (SURVEY.md §7 H5); completed batches are
  *    skipped on restart.
  *
  * Doc identity has two forms. The url hash (`doc_id`, [[stableDocId]])
  * is the KEY of the `docs` dim and its `db` storage partition — how a
  * refresh or delete finds a url's row. Posting space
  * (segments, the engine's hits) carries the dense doc
  * ORDINAL `docs.ord` instead: a build numbers its docs 0..n-1 in
  * doc_id order (see `runInner`) and records the high-water
  * `next_ord` in the manifest's stats; a refresh keeps a known url's
  * ordinal and numbers new urls upward from `next_ord`, and a delete
  * leaves a hole. Dense ordinals make the codec's doc gaps ~1 varint
  * byte instead of the ~8 a 63-bit hash gap needs. An index dir without
  * a manifest must be rebuilt ([[statsOf]]).
  */
object IndexBuild {

  final case class Config(
      shards: Int = 8, // total shards for salted head terms (= siteGroups × doc subshards)
      saltThresholdDf: Long = 1000L, // global df above which a term is salted
      nBatches: Int = 4, // resumable build batches (split by site hash)
      buckets: Int = 16, // term-hash storage partitions
      siteGroups: Int = 4) { // site-routing factor of `shards` (see shard scheme below)
    require(shards % siteGroups == 0,
      s"shards ($shards) must be a multiple of siteGroups ($siteGroups)")
    /** doc-hash subshards inside each site group */
    def docSubshards: Int = shards / siteGroups
  }

  /** Bytes of one (ord: long, tf: int) record of a [[SegPartial]] blob. */
  private val PartialRecord = 12

  /** Graceful-stop marker polled between batches (ControlApi.stopIndexing). */
  val StopMarker = "_STOP"

  /** Reference IndexingStatus enum values (IndexingStatus.java:3-8),
    * used by the `site_status` lifecycle table. RANDOM_PAGE is declared
    * by the reference but never assigned anywhere in its services (no
    * call site sets it); it is modeled as a legal value for parity and
    * is equally unused. */
  object SiteStatus {
    val Indexing = "INDEXING"
    val Indexed = "INDEXED"
    val Failed = "FAILED"
    val RandomPage = "RANDOM_PAGE"
    val All: Seq[String] = Seq(Indexing, Indexed, Failed, RandomPage)
  }

  /** The latest `site_status` row per site (by `ts`): the state
    * Statistics reports, and what a refresh rewrites the table to. */
  def latestStatus(rows: DataFrame): DataFrame =
    rows.withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("site")).orderBy(desc("ts"))))
      .filter(col("__rn") === 1)
      .drop("__rn")

  /** Reference F1: only pages with a valid HTTP status are lemmatized
    * (MorphologyServiceImpl.java:89-90; valid-codes {200, 308} from
    * application.yaml:23-25). The input_hint schema carries no `code`
    * column — a crawl-produced table may; when present, the filter is
    * applied (pushed down to the scan), otherwise every page is valid. */
  val ValidHttpCodes: Seq[Int] = Seq(200, 308)

  def filterValidCode[T](pages: Dataset[T]): Dataset[T] =
    if (pages.columns.contains("code"))
      pages.filter(col("code").isin(ValidHttpCodes: _*))
    else pages

  /** One analyzed row per valid page (F1: non-200/308 never indexed):
    * (doc_id, url, site, lang, dl, terms = lemma → tf, warc_ts), lemmatized
    * from the raw html. The build's pass; a refresh analyzes its pages
    * with [[analyzeOne]] on the way to the driver. */
  def analyze(pages: Dataset[PageRow]): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    filterValidCode(pages)
      .select(col("url"), col("html"), col("lang"), unix_micros(col("warc_ts")))
      .as[(String, Array[Byte], String, Option[Long])]
      .map { case (url, html, lang, ts) => analyzeOne(url, html, lang, ts) }
      .toDF()
  }

  /** One page's analyzed row; `warc_ts` is its crawl time in epoch
    * microseconds, None when the page carries none. */
  final case class Analyzed(doc_id: Long, url: String, site: String, lang: String,
      dl: Long, terms: Map[String, Long], warc_ts: Option[Long])

  def analyzeOne(url: String, html: Array[Byte], lang: String, warcTs: Option[Long]): Analyzed = {
    val counts = Lemmatizer.lemmaCountsFromHtml(html)
    Analyzed(stableDocId(url), url, siteOf(url), lang, counts.valuesIterator.sum, counts, warcTs)
  }

  /** Deterministic 63-bit doc id from url: Catalyst's xxhash64(url)
    * (default seed 42) with the sign bit cleared. It keys the `docs`
    * dim and its `db` partition, and orders the build's
    * ordinals; postings carry `docs.ord`, not this id. Collision odds at
    * 10^12 docs ≈ 5e-5 per pair set (birthday, 2^63); the build asserts
    * uniqueness. */
  def stableDocId(url: String): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(url),
      org.apache.spark.sql.types.StringType, 42L) & Long.MaxValue

  /** Site-routing group of a site key — MUST match the build-side
    * expression pmod(xxhash64(site), siteGroups). The query engine uses
    * it to prune a site-scoped query to its group's shard range. */
  def siteGroupOf(site: String, siteGroups: Int): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(site),
      org.apache.spark.sql.types.StringType, 42L)
    (((h % siteGroups) + siteGroups) % siteGroups).toInt
  }

  /** Resumable-batch id of a site — MUST match the build loop's
    * pmod(xxhash64(site), nBatches) batch key. */
  def siteBatchOf(site: String, nBatches: Int): Int = siteGroupOf(site, nBatches)

  /** Site key from url (reference LinkToolsBox.extractRootDomain,
    * LinkToolsBox.java:43-60). */
  def siteOf(url: String): String = {
    val i = url.indexOf("://")
    val rest = if (i >= 0) url.substring(i + 3) else url
    val j = rest.indexOf('/')
    if (j >= 0) rest.substring(0, j) else rest
  }

  /** Build encoded segments from postings, given the globally-decided
    * salted head-term set. `post` must carry columns
    * (term, ord, tf, site), `ord` being the doc ordinal.
    *
    * Physical plan: ONE shuffle — `repartition(segShuffleKeys)`, which
    * co-locates (term, shard) groups bucket-major — and no
    * driver collection anywhere. The shuffle's UNIT is a
    * map-side partial posting list per (input partition, term, shard)
    * (see [[combinePartition]]): measured on the 400k-doc bench corpus
    * this cut the build's shuffle from one 64-byte-plus row per posting
    * (~80M rows) to ~2M packed partials and roughly quadrupled 4-core
    * build throughput — the posting-row external sort was the build's
    * memory-bandwidth ceiling. The output is byte-identical to grouping
    * the postings per (term, shard), sorting each group by ordinal and
    * encoding it, which SegmentCombineSpec checks. */
  def buildSegments(
      post: DataFrame,
      headTerms: DataFrame, // single column `term`
      cfg: Config,
      numPartitions: Int): Dataset[SegmentRow] = {
    val spark = post.sparkSession
    val salted = saltedPostings(post, headTerms, cfg)

    val buckets = cfg.buckets
    // MAP-SIDE COMBINE (MapReduce-era inverted-index
    // combiner, cf. Ivory/Nutch): each input partition pre-groups its
    // postings per (term, shard) into a packed 12-byte-per-posting blob,
    // so the shuffle moves a few thousand partial rows per partition
    // instead of one row per posting — ~40x fewer shuffle rows and ~4x
    // fewer pre-compression bytes than the posting-row shuffle, and the
    // reduce side re-sorts small primitive arrays instead of running an
    // external UnsafeRow sort over every posting. Memory is bounded by
    // the input partition's own posting count (maxPartitionBytes caps
    // it), so the shape holds at 100 TB. The final segment bytes are
    // IDENTICAL to the row-shuffle path (same sorted arrays into the
    // same encodeRaw; asserted by SegmentCombineSpec).
    val partials = spark.createDataset(
      salted.queryExecution.toRdd.mapPartitions(combinePartition))(
      org.apache.spark.sql.Encoders.product[SegPartial])
    mergePartials(
      partials.toDF()
        .repartition(numPartitions, segShuffleKeys(buckets, numPartitions): _*)
        .sortWithinPartitions("term", "shard"),
      buckets)
  }

  /** Posting rows (term, shard, ord, tf) of `post` — columns (term,
    * ord, tf, site) — given the salted head-term set: the build's
    * segments and a refresh's new postings both take their shard here.
    *
    * Shard scheme (head terms only; tail terms keep shard = -1):
    *   shard = hash(site) % siteGroups × docSubshards
    *         + hash(ord) % docSubshards
    * i.e. Elasticsearch-style ROUTING by site composed with doc-hash
    * splitting inside each site group. Every posting of a doc lands in
    * the same shard (site is a function of the doc), so conjunctive
    * queries stay shard-local exactly as with pure doc-hash sharding —
    * and a SITE-SCOPED query prunes to its group's `docSubshards` shards
    * (1/siteGroups of the salted postings) instead of scoring every
    * global match. Trade-off (documented, the same one ES routing makes):
    * a single mega-site concentrates in docSubshards shards; production
    * raises docSubshards (or splits hot tenants) when site skew demands. */
  def saltedPostings(post: DataFrame, headTerms: DataFrame, cfg: Config): DataFrame =
    post
      .join(broadcast(headTerms).withColumn("is_head", lit(true)), Seq("term"), "left")
      .withColumn("shard",
        when(col("is_head"),
          (pmod(xxhash64(col("site")), lit(cfg.siteGroups)) * cfg.docSubshards +
            pmod(xxhash64(col("ord")), lit(cfg.docSubshards))).cast("int"))
          .otherwise(lit(-1)))
      .select("term", "shard", "ord", "tf")

  /** Driver form of [[saltedPostings]]'s shard — MUST stay in lockstep
    * with it: the shard of a posting of doc `ord` on `site` for a head
    * term (`head`) or a tail one. */
  def shardOf(head: Boolean, site: String, ord: Long, cfg: Config): Int =
    if (!head) -1
    else siteGroupOf(site, cfg.siteGroups) * cfg.docSubshards + Math.floorMod(
      org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        ord, org.apache.spark.sql.types.LongType, 42L),
      cfg.docSubshards.toLong).toInt

  /** Map-side combiner over InternalRows with schema exactly
    * (term STRING, shard INT, ord LONG, tf LONG): groups the
    * partition's postings per (term, shard) into primitive-array buffers
    * (zero allocation per row on key hit — the probe key wraps the row's
    * transient UTF8String, cloned only on first sight), then emits one
    * sorted packed blob per key. */
  private[index] def combinePartition(
      it: Iterator[org.apache.spark.sql.catalyst.InternalRow]): Iterator[SegPartial] = {
    import org.apache.spark.unsafe.types.UTF8String
    final class Buf {
      var doc = new Array[Long](16)
      var tf = new Array[Long](16)
      var n = 0
      def add(d: Long, t: Long): Unit = {
        if (n == doc.length) {
          doc = java.util.Arrays.copyOf(doc, n * 2)
          tf = java.util.Arrays.copyOf(tf, n * 2)
        }
        doc(n) = d; tf(n) = t; n += 1
      }
    }
    final class Key(var term: UTF8String, var shard: Int) {
      override def hashCode: Int = term.hashCode * 31 + shard
      override def equals(o: Any): Boolean = {
        val k = o.asInstanceOf[Key]
        k.shard == shard && k.term.equals(term)
      }
    }
    val map = new java.util.HashMap[Key, Buf]()
    val probe = new Key(null, 0)
    while (it.hasNext) {
      val row = it.next()
      probe.term = row.getUTF8String(0)
      probe.shard = row.getInt(1)
      var buf = map.get(probe)
      if (buf == null) {
        buf = new Buf
        map.put(new Key(probe.term.clone(), probe.shard), buf)
      }
      buf.add(row.getLong(2), row.getLong(3))
    }
    val entries = map.entrySet().iterator()
    new Iterator[SegPartial] {
      override def hasNext: Boolean = entries.hasNext
      override def next(): SegPartial = {
        val e = entries.next()
        val b = e.getValue
        sortPostings(b.doc, b.tf, 0, b.n - 1)
        val blob = new Array[Byte](b.n * PartialRecord)
        val bb = java.nio.ByteBuffer.wrap(blob)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        var i = 0
        while (i < b.n) {
          require(b.tf(i) <= Int.MaxValue, "tf exceeds Int range")
          bb.putLong(b.doc(i)); bb.putInt(b.tf(i).toInt)
          i += 1
        }
        SegPartial(e.getKey.term.toString, e.getKey.shard, blob)
      }
    }
  }

  /** Reduce side of the combine path: over a DataFrame with columns
    * exactly (term STRING, shard INT, blob BINARY), repartitioned by
    * (term, shard) and sorted by (term, shard) within partitions —
    * unpacks each run's partial blobs, re-sorts the union by ord
    * (partials are disjoint doc sets), and encodes the final segment
    * through the SAME PostingCodec.encodeRaw as the row path. */
  private[index] def mergePartials(sorted: DataFrame, buckets: Int): Dataset[SegmentRow] = {
    val spark = sorted.sparkSession
    import spark.implicits._
    val rdd = sorted.queryExecution.toRdd.mapPartitions { it =>
      val partId = TaskContext.getPartitionId()
      new Iterator[SegmentRow] {
        private var blobs = List.empty[Array[Byte]]
        private var total = 0
        private var curTerm: org.apache.spark.unsafe.types.UTF8String = null
        private var curShard: Int = 0

        private def emit(): SegmentRow = {
          val term = curTerm.toString
          val doc = new Array[Long](total)
          val tf = new Array[Long](total)
          var w = 0
          var maxTf = 0L
          // blobs were prepended — order within the run is irrelevant,
          // the union is re-sorted below
          blobs.foreach { blob =>
            val bb = java.nio.ByteBuffer.wrap(blob)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            var i = 0
            val n = blob.length / PartialRecord
            while (i < n) {
              doc(w) = bb.getLong()
              tf(w) = bb.getInt().toLong
              if (tf(w) > maxTf) maxTf = tf(w)
              w += 1; i += 1
            }
          }
          sortPostings(doc, tf, 0, total - 1)
          val r = SegmentRow(
            bucket = termBucket(term, buckets),
            term = term, shard = curShard, part_id = partId,
            doc_count = total,
            block_max = maxTf.toDouble,
            postings = PostingCodec.encodeRaw(doc, tf, total))
          blobs = Nil; total = 0
          r
        }

        override def hasNext: Boolean = it.hasNext || blobs.nonEmpty

        override def next(): SegmentRow = {
          while (it.hasNext) {
            val row = it.next()
            val term = row.getUTF8String(0)
            val shard = row.getInt(1)
            if (curTerm == null) { curTerm = term.clone(); curShard = shard }
            if (shard != curShard || term != curTerm) {
              val r = emit()
              curTerm = term.clone(); curShard = shard
              val b = row.getBinary(2)
              blobs ::= b; total += b.length / PartialRecord
              return r
            }
            val b = row.getBinary(2)
            blobs ::= b; total += b.length / PartialRecord
          }
          if (blobs.nonEmpty) emit()
          else throw new NoSuchElementException("empty partition")
        }
      }
    }
    spark.createDataset(rdd)
  }

  /** In-place quicksort of parallel posting arrays [lo, hi] by doc
    * ordinal — primitive arrays, no boxing, no comparator allocation. */
  private[graft] def sortPostings(
      doc: Array[Long], tf: Array[Long], lo0: Int, hi0: Int): Unit = {
    def swap(i: Int, j: Int): Unit = {
      val d = doc(i); doc(i) = doc(j); doc(j) = d
      val t = tf(i); tf(i) = tf(j); tf(j) = t
    }
    def sort(lo: Int, hi: Int): Unit = {
      if (hi - lo < 16) { // insertion sort for small runs
        var i = lo + 1
        while (i <= hi) {
          var j = i
          while (j > lo && doc(j - 1) > doc(j)) { swap(j - 1, j); j -= 1 }
          i += 1
        }
      } else {
        // median-of-three pivot (partials arrive as runs of ordinals —
        // often presorted, which a first-element pivot would make O(n²))
        val mid = lo + (hi - lo) / 2
        if (doc(mid) < doc(lo)) swap(mid, lo)
        if (doc(hi) < doc(lo)) swap(hi, lo)
        if (doc(hi) < doc(mid)) swap(hi, mid)
        val p = doc(mid)
        var i = lo
        var j = hi
        while (i <= j) {
          while (doc(i) < p) i += 1
          while (doc(j) > p) j -= 1
          if (i <= j) { swap(i, j); i += 1; j -= 1 }
        }
        if (lo < j) sort(lo, j)
        if (i < hi) sort(i, hi)
      }
    }
    if (hi0 > lo0) sort(lo0, hi0)
  }

  /** Dense doc ordinals in doc_id order without a global sort, in two
    * steps around an aggregation the caller runs: the build numbers its
    * docs 0..n-1 this way (a refresh numbers its few new urls upward from
    * `next_ord` on the driver, in the same order).
    * This step splits the id space into ranges by the id's top bits (ids
    * are uniform hashes, so ranges balance; ~8 ranges per partition keep
    * their hash placement even) and ranks each range locally: columns
    * `rb` and `rank`. [[numbered]] then places the ranges end to end. */
  def rangeRanked(docs: DataFrame, numPartitions: Int): DataFrame = {
    val bits = 35 - Integer.numberOfLeadingZeros(math.max(1, numPartitions) - 1)
    docs.withColumn("rb", shiftrightunsigned(col("doc_id"), 63 - bits).cast("int"))
      .repartition(numPartitions, col("rb"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("rb").orderBy("doc_id")))
  }

  /** `ranked` ([[rangeRanked]]) with `ord` = `from` + the rows of the
    * ranges below a row's range + its rank − 1, given each range's row
    * count. */
  def numbered(ranked: DataFrame, counts: Seq[(Int, Long)], from: Long): DataFrame = {
    val n = new Array[Long](counts.map(_._1 + 1).maxOption.getOrElse(0))
    counts.foreach { case (rb, c) => n(rb) = c }
    ranked.withColumn("ord",
        element_at(typedLit(n.scanLeft(from)(_ + _).init), col("rb") + 1) + col("rank") - 1)
      .drop("rb", "rank")
  }

  /** Shuffle keys for the posting encode: (storage bucket,
    * subkey(term, shard)) instead of the natural (term, shard). Both
    * co-locate every row of a (term, shard) group in one reduce task
    * (the subkey is a pure function of the pair), but the bucket-major
    * key makes each reduce task hold terms of (almost always) ONE
    * storage bucket, so the partitionBy("bucket") write emits
    * ~numPartitions files instead of numPartitions × buckets tiny ones
    * (512 → ~32 on the bench tier; a cold query then opens 1-2 files per
    * bucket, not 32). Same single shuffle, same in-partition sort,
    * byte-identical segment rows. Scale shape: with numPartitions ≫
    * buckets each bucket spans numPartitions/buckets parallel tasks —
    * write parallelism is unchanged. */
  def segShuffleKeys(buckets: Int, numPartitions: Int): Seq[org.apache.spark.sql.Column] = {
    val sub = math.max(1, numPartitions / buckets)
    Seq(termBucketCol(buckets),
      pmod(xxhash64(col("term"), col("shard")), lit(sub)))
  }

  def termBucket(term: String, buckets: Int): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(term),
      org.apache.spark.sql.types.StringType, 42L)
    (((h % buckets) + buckets) % buckets).toInt
  }

  /** Column form of [[termBucket]] over a `term` column — MUST stay in
    * lockstep with it (both are xxhash64 seed 42). */
  def termBucketCol(buckets: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(col("term")), lit(buckets)).cast("int")

  /** Storage partition (`db`) of the `docs` dimension: doc_id is
    * already a xxhash64 of the url, so its residue partitions uniformly.
    * Bucketing the dim is what makes a refresh/delete O(touched) — only
    * the partitions holding the affected doc ids are rewritten
    * (Refresh.refreshPages), the rest keep their files byte-identical. */
  def docBucketCol(buckets: Int): org.apache.spark.sql.Column =
    pmod(col("doc_id"), lit(buckets)).cast("int")

  def docBucketOf(docId: Long, buckets: Int): Int = Math.floorMod(docId, buckets.toLong).toInt

  /** The `docs` rows of analyzed docs that carry their `ord`: one row per
    * url, with its `db` partition and the crawl time of the indexed
    * version (`warc_ts`, which a refresh compares against so an older
    * crawl never replaces a newer one). `terms` (the doc's distinct terms) is
    * the FORWARD index that makes a later refresh/delete O(doc) instead
    * of O(corpus) — it names exactly the term buckets the doc's postings
    * live in, so a refresh rewrites only those partitions
    * (Refresh.commitDelta). The reference reaches a page's lemmas through
    * the page's own `index_t` rows (IndexEntity rows by page_id); a
    * posting-list engine stores them with the doc (Lucene's analogue:
    * per-doc term vectors). */
  def docRows(analyzed: DataFrame, buckets: Int): DataFrame =
    analyzed.select(col("doc_id"), col("ord"), col("url"), col("site"), col("lang"),
        timestamp_micros(col("warc_ts")).as("warc_ts"), col("dl"), map_keys(col("terms")).as("terms"))
      .withColumn("db", docBucketCol(buckets))

  /** Tables of older layouts: `doc_terms` (now `docs.terms`), and
    * `head_terms` and `mid_terms` (now manifest fields; their layout's
    * `docs` has no `warc_ts`). */
  private val RetiredTables = Seq("doc_terms", "head_terms", "mid_terms")

  /** The stats of manifest `m`, present once a build committed a
    * batch: an index dir without them (no manifest at all, or one written
    * before manifests existed), with posting lists in another
    * [[PostingCodec.Format]] or naming a table of an older layout must be
    * rebuilt. */
  def statsOf(m: Manifest, root: String): Stats = {
    val s = m.stats.getOrElse(throw new IllegalStateException(
      s"$root holds no index commit manifest: rebuild it with `GraftCli build`"))
    if (s.posting_format != PostingCodec.Format) throw new IllegalStateException(
      s"$root: manifest v${m.version} holds posting format ${s.posting_format}, " +
        s"this version reads ${PostingCodec.Format}: rebuild it with `GraftCli build`")
    RetiredTables.find(m.has).foreach(t => throw new IllegalStateException(
      s"$root: manifest v${m.version} names a $t table of an older layout: " +
        "rebuild it with `GraftCli build`"))
    s
  }

  /** Width of the manifest's prefetch hint (`mids`): the number of
    * next-hottest non-head terms the engine prefetches after the head
    * terms at every load. */
  val MidTermsWidth = 256

  /** Set the manifest's prefetch hint to the top [[MidTermsWidth]] non-head
    * terms by global df (heads are the manifest's head set, so this stays
    * correct whatever salt threshold a later refresh was configured
    * with). A bounded TakeOrdered over the lemma_stats `c` has staged so
    * far — run on a refresh cadence, so engine reloads never aggregate the
    * vocabulary. An ORDERING hint only: the engine re-reads current dfs
    * exactly. */
  def writeMidTerms(c: Commit): Unit = {
    val mids = c.store.readAt(c.current, "lemma_stats")
      .filter(!col("term").isin(c.base.heads: _*))
      .groupBy("term").agg(sum(col("df")).as("df"))
      .orderBy(col("df").desc, col("term"))
      .limit(MidTermsWidth)
      .collect().map(_.getString(0)).toSeq
    c.update(_.copy(mids = mids))
  }

  /** Full resumable build to `outDir`: one commit per batch — its
    * segments (`segments` at `batch=i`, or `index` for a single-batch
    * build), its sites' status rows and its lineage row, plus, with the
    * first batch a run commits, the dims {docs, lemma_stats}, the stats
    * and the manifest's head set and prefetch hint. Restart-safe: a batch whose
    * lineage row says COMPLETE is skipped, and a crashed batch left
    * nothing visible (SURVEY.md §7 H5). Before it returns — after every
    * batch, a stop or a resume with nothing left to build — the run folds
    * the committed batches into `index` ([[mergeSegments]]), so the
    * index is servable. Returns the number of batches actually built. */
  def run(spark: SparkSession, pages: Dataset[PageRow], outDir: String,
      cfg: Config = Config(), stopAfter: Int = Int.MaxValue,
      clearStopMarker: Boolean = true): Int = {
    import spark.implicits._
    // partitionBy(bucket) with the default sort-based writer re-sorts every
    // task's rows — copying each multi-KB posting blob through the external
    // sorter. With ≤ `buckets` open files per task, concurrent writers skip
    // that sort entirely. Scoped to the build (restored below) like every
    // other build-only setting.
    val writersWas = spark.conf.getOption("spark.sql.maxConcurrentOutputFileWriters")
    spark.conf.set("spark.sql.maxConcurrentOutputFileWriters", cfg.buckets + 4)
    // AQE stays on (Spark's default) for the build: measured same-window
    // A/B on the 400k-doc bench corpus (pinned, steal-free) — AQE-on is
    // ~9% faster at 1 core AND ~8% faster at 4 cores (its partition
    // coalescing after the dim-table groupBys saves more task/file
    // overhead than its re-planning costs; the build's explicit
    // `repartition(N, …)` widths are respected either way).
    // committer v2 is a BUILD-scoped decision (its mid-commit caveat is
    // argued void for the staged build writes below) — it must not leak
    // onto later same-session writes such as a corpus `store.replace`
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val committerWas = Option(
      hadoopConf.get("mapreduce.fileoutputcommitter.algorithm.version"))
    try runInner(spark, pages, outDir, cfg, stopAfter, clearStopMarker)
    finally {
      writersWas match {
        case Some(v) => spark.conf.set("spark.sql.maxConcurrentOutputFileWriters", v)
        case None => spark.conf.unset("spark.sql.maxConcurrentOutputFileWriters")
      }
      committerWas match {
        case Some(v) => hadoopConf.set("mapreduce.fileoutputcommitter.algorithm.version", v)
        case None => hadoopConf.unset("mapreduce.fileoutputcommitter.algorithm.version")
      }
    }
  }

  private def runInner(spark: SparkSession, pages: Dataset[PageRow], outDir: String,
      cfg: Config, stopAfter: Int, clearStopMarker: Boolean): Int = {
    import spark.implicits._
    // File-committer algorithm v2: tasks move their files into the
    // destination at TASK commit (parallel, overlapped with other tasks)
    // instead of the driver serially renaming every task dir at JOB commit
    // — with 32 reduce tasks × up to `buckets` bucket files that driver
    // loop is a measurable serial tail. v2's caveat (a job failing
    // mid-commit leaves partial files visible) is void here: every build
    // write is staged under a fresh name that only the batch's manifest
    // publish makes visible.
    spark.sparkContext.hadoopConfiguration
      .setInt("mapreduce.fileoutputcommitter.algorithm.version", 2)
    // Shuffle width = the session's declared shuffle partitioning, NOT the
    // executor count: on a real cluster the partition count stays constant
    // while the cluster scales N→4N (only concurrency changes), and a
    // too-small width makes the per-partition sort spill (observed: at
    // width 1 the posting sort spills and the 1-thread run measures disk,
    // not compute — poisoning the scaling-efficiency comparison).
    val numPartitions = math.max(
      spark.sessionState.conf.numShufflePartitions,
      spark.sparkContext.defaultParallelism)
    val store = TableStore.open(spark, outDir)
    // clear a stale graceful-stop marker FIRST (before the long analyze
    // phase) so a stop requested against THIS run is honored, not eaten.
    // ControlApi clears it synchronously in startIndexing() instead and
    // passes clearStopMarker = false — a stop requested in the window
    // between the API returning and the worker reaching this line must
    // NOT be dropped (the reference's RunIndexMonitor flag can never
    // lose a stop).
    if (clearStopMarker) store.dropMarker(StopMarker)
    // a resumed build adds batches to the committed ones: they must be in
    // this version's posting format
    store.manifest.filter(_.stats.isDefined).foreach(statsOf(_, outDir))
    val done = completedBatches(spark, outDir)
    val todo = (0 until cfg.nBatches).filterNot(done)
    // every batch committed: fold what a crash left unfolded
    if (todo.isEmpty) { mergeSegments(spark, outDir); return 0 }

    // ONE extract+lemmatize pass over the corpus, persisted (memory+disk
    // spill) — docs, lemma_stats and every posting batch derive from it.
    // Without this the batched loop re-analyzes the corpus per batch.
    // The pass works on the RAW html via the engine's own extraction
    // semantics — the reference's index path (stripHtml(page.getContent()),
    // MorphologyServiceImpl.java:93) and the north_star's stage one; the
    // corpus `text` column equals the cleaner output byte-identically
    // (input_hint invariant, asserted in EngineSpec), and the fused
    // byte-scan kernel is equivalence-tested against the two-stage
    // clean-then-lemmatize spec path (LemmatizerEquivalenceSpec).
    //
    // Dense doc ordinals ride the same pass (see [[rangeRanked]]): `ord`
    // = rank of doc_id among the analyzed docs, 0..n-1 — a pure function
    // of the page set, so a clean rebuild and a killed-and-resumed build
    // number every doc alike. The per-range counts come from the
    // materializing aggregation below; the explicit width keeps AQE from
    // coalescing the persisted pass — which every later stage inherits —
    // into one task.
    val ranked = rangeRanked(analyze(pages), numPartitions)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Materialize the cache FIRST (cache-then-write: fusing the heavy
    // extract+lemmatize map into the parquet-writer stage serializes
    // ~2x worse under writer memory pressure) — and the materializing
    // job IS the global-stats aggregation, so the corpus is scanned once
    // for both instead of count-then-agg. The doc-id uniqueness check
    // and the per-range ordinal counts ride the same pass.
    val perRange = ranked.groupBy("rb").agg(
        count(lit(1)).as("n"),
        countDistinct(col("doc_id")).as("n_distinct"),
        sum(col("dl")).as("tokens"))
      .as[(Int, Long, Long, Long)].collect()
    val nDocs = perRange.map(_._2).sum
    val nDistinct = perRange.map(_._3).sum
    val totalTokens = perRange.map(_._4).sum
    val analyzed = numbered(ranked, perRange.map(r => (r._1, r._2)), 0L)

    // The dimension writes are INDEPENDENT jobs over the same persisted
    // analyze pass; submit them from separate threads so their small
    // stages and driver-side planning/commit gaps overlap (a real cluster
    // runs exactly this way). Each is driver-latency-bound more than
    // core-bound, so the overlap collapses a serial ~6 s tail at high
    // parallelism without affecting the 1-thread level (which serializes
    // on its single core either way). They are joined before the commit
    // that carries them publishes.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global

    val post = analyzed
      .select(col("ord"), col("site"), explode(col("terms")).as(Seq("term", "tf")))

    // lemma_stats aggregation PERSISTED before the write: the head-term /
    // vocabulary derivation below reads this cache instead of the written
    // parquet, so the segment build's only upstream (the head set) never
    // waits on the lemma_stats file write — that write overlaps the
    // posting build like every other dim write instead of sitting on the
    // critical path (write → read-back → agg was a serial ~2 s tail at
    // high parallelism).
    val lemmaStats = post.groupBy("term", "site").agg(count(lit(1)).as("df"))
      .withColumn("bucket", termBucketCol(cfg.buckets))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // Global stats for BM25 (N, avgdl) + build layout, already collected
    // by the analyze-materializing aggregation above (`perRange`): the
    // cache-materializing scan IS the stats job. They travel in the
    // manifest.
    require(nDocs == nDistinct,
      s"doc_id hash collision or duplicate url: ${nDocs - nDistinct}")
    val stats = Stats(
      n_docs = nDocs, n_distinct = nDistinct,
      avgdl = if (nDocs > 0) totalTokens.toDouble / nDocs else 0.0,
      total_tokens = totalTokens,
      shards = cfg.shards, n_batches = cfg.nBatches,
      site_groups = cfg.siteGroups, buckets = cfg.buckets,
      // doc-ordinal high-water: the next ordinal a new url is given
      next_ord = nDocs,
      posting_format = PostingCodec.Format)

    // Global salted-term decision — identical across batches/restarts —
    // plus the single-batch lineage metrics, all from ONE aggregation job
    // over the tiny CACHED lemma_stats aggregation (not the written table
    // — see the persist above). The head set is collected to the driver:
    // it is the SKEW set, bounded by construction to
    // < total_postings / saltThresholdDf terms (a few thousand even at
    // 10^12 docs), and shipping it as a literal local relation makes the
    // salting join a broadcast with no extra scan or read-back job.
    // per-term global df, shared by the head/counts collect AND the
    // prefetch-hint TakeOrdered below — cached so lemma_stats is scanned and
    // re-aggregated once, not once per consumer. Vocabulary-sized
    // (term, df) pairs: a few MB here, a few GB across a cluster at
    // 10^12 docs — well inside executor storage either way.
    val termDf = lemmaStats.groupBy("term").agg(sum(col("df")).as("df"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val headAgg = termDf
      .agg(
        count(lit(1)).as("term_count"),
        coalesce(sum(col("df")), lit(0L)).as("posting_count"),
        collect_list(when(col("df") > cfg.saltThresholdDf, col("term")))
          .as("head_terms"))
      .collect()(0)
    val headArr: Seq[String] = headAgg.getSeq[String](2).sorted
    val headDf = headArr.toDF("term")

    /** Stage the dims into `c`, each from its own thread. */
    def stageDims(c: Commit): Seq[Future[Unit]] = Seq(
      // dims are BUCKET-PARTITIONED by doc id (`db`) / term (`bucket`):
      // that is what makes a later refresh/delete O(touched) — it
      // rewrites only the partitions holding the affected rows
      // (Refresh.refreshPages). Each dim is REPARTITIONED BY ITS
      // PARTITION COLUMN before the write: without it every cache
      // partition holds every bucket and the dynamic writer opens
      // tasks × buckets parquet files (32 × 16 = 512 per dim here) —
      // measured 10-12 s per dim at 1 thread on a 100k corpus, all of it
      // per-file open/footer fixed cost. One small shuffle instead
      // collapses that to ~1 file per bucket.
      Future(c.put(docRows(analyzed, cfg.buckets).repartition(cfg.buckets, col("db")),
        "docs", Seq("db"))),
      Future(c.put(lemmaStats.repartition(cfg.buckets, col("bucket")),
        "lemma_stats", Seq("bucket"))),
      // the head set goes into the manifest for the engine and refresh
      // (the build itself salts from the in-memory literal), with the
      // prefetch hint: the next-hottest terms below the salt threshold,
      // so the engine's cold-start warm never runs an O(vocabulary)
      // aggregation per reload. At build time the head set IS
      // `df > saltThresholdDf` over this very termDf, so the filter is
      // exactly writeMidTerms's exclusion of the head set (that function
      // remains the refresh-cadence path).
      Future {
        val mids = termDf.filter(col("df") <= cfg.saltThresholdDf)
          .orderBy(col("df").desc, col("term")).limit(MidTermsWidth)
          .select("term").as[String].collect().toSeq
        c.update(_.copy(heads = headArr, mids = mids))
      })

    // ── per-site status lifecycle (reference site.status / status_time /
    // last_error; Site.java:16-34, SiteServiceImpl.java:83-91): a batch's
    // commit appends INDEXED rows for its sites — the batch key is the
    // site hash, so a site is INDEXED exactly when its batch commits —
    // and the first commit of a run INDEXING rows for the sites of every
    // other batch still to build; a batch that throws commits FAILED rows
    // carrying the error. Statistics reads the latest row per site. ──
    def siteBatch = pmod(xxhash64(col("site")), lit(cfg.nBatches)).cast("int")
    val singleBatch = cfg.nBatches == 1
    def sitesOf(batches: Seq[Int]): DataFrame =
      if (singleBatch) analyzed.select("site").distinct()
      else analyzed.filter(siteBatch.isin(batches: _*)).select("site").distinct()
    def status(sites: DataFrame, status: String, error: String): DataFrame =
      sites.select(col("site"), lit(status).as("status"),
        lit(error).cast("string").as("error"), current_timestamp().as("ts"))
    def lineage(b: Int, bytes: Long, terms: Long, postings: Long, status: String,
        error: Option[String]): Lineage =
      Lineage(b, s"pmod(xxhash64(site), ${cfg.nBatches}) == $b", bytes, terms,
        postings, status, error, new java.sql.Timestamp(System.currentTimeMillis()))

    var built = 0
    // Single-batch build: segments ARE the final index — write them
    // straight to `index`, leaving the fold nothing to do (a 1-way
    // "merge" would byte-copy every segment through an extra shuffle).
    // Graceful stop (reference RunIndexMonitor.setStopIndexing, checked
    // between pages by the crawl threads — here between BATCHES): the
    // `_STOP` marker (cleared at run() entry) halts the loop after the
    // current batch's commit; committed batches stay and a later run
    // resumes the rest. `stopAfter` simulates a mid-build kill for the
    // resume test (§5.7). The batch key is the site hash (the
    // reference's unit of crawl/indexing is the site,
    // ThreadIndexingManager.java:29-62): every site is wholly contained
    // in one batch, so resume and graceful stop operate at site
    // granularity, like the reference's per-site crawler threads.
    for (b <- todo if built < stopAfter && !store.markerExists(StopMarker)) {
      val batchPost =
        if (singleBatch) post
        else post.filter(siteBatch === b)
      try store.commit { c =>
        // the dims and stats go out with the build's first commit; a
        // resumed run finds them committed
        val dims = if (c.base.stats.isEmpty) stageDims(c) else Nil
        try {
          val segs = buildSegments(batchPost, headDf, cfg, numPartitions).toDF
          if (singleBatch) c.put(segs, "index", Seq("bucket"))
          else c.append(segs.withColumn("batch", lit(b)), "segments", Seq("batch", "bucket"))
        } finally dims.foreach(Await.ready(_, Duration.Inf))
        dims.foreach(Await.result(_, Duration.Inf))
        // lineage metrics: bytes from the staged parts (no data re-read);
        // a single-batch build's term/posting counts equal the GLOBAL
        // distinct-term count and Σ df of the head/counts aggregation
        // above (zero extra jobs); multi-batch builds count their own
        // postings (batch term sets are proper subsets of the global one;
        // an empty site-hash slice records zeros)
        val (bytes, terms, postings) =
          if (singleBatch)
            (c.current.bytes("index"), headAgg.getAs[Long]("term_count"),
              headAgg.getAs[Long]("posting_count"))
          else {
            val (t, p) = batchPost.agg(countDistinct(col("term")), count(lit(1)))
              .as[(Long, Long)].collect()(0)
            (c.current.parts("segments").filter(_.value("batch") == b.toString)
              .map(_.bytes).sum, t, p)
          }
        val others = if (built == 0) todo.filter(_ != b) else Nil
        c.append(
          if (others.isEmpty) status(sitesOf(Seq(b)), SiteStatus.Indexed, null)
          else status(sitesOf(Seq(b)), SiteStatus.Indexed, null)
            .unionByName(status(sitesOf(others), SiteStatus.Indexing, null)),
          "site_status")
        c.update(m => m.copy(
          stats = Some(stats),
          asOf = if (singleBatch) 0 else m.asOf,
          batch = math.max(m.batch, cfg.nBatches - 1),
          lineage = m.lineage :+ lineage(b, bytes, terms, postings, "COMPLETE", None)))
      } catch {
        case scala.util.control.NonFatal(e) =>
          // failure is part of the lifecycle (reference FAILED status,
          // ThreadIndexingManager.java:45-48): commit a FAILED lineage
          // row (NOT counted by completedBatches — a re-run retries the
          // batch) and FAILED site rows carrying the error, then rethrow
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName).take(500)
          try store.commit { c =>
            c.append(status(sitesOf(Seq(b)), SiteStatus.Failed, msg), "site_status")
            c.update(m => m.copy(lineage = m.lineage :+ lineage(b, 0L, 0L, 0L, "FAILED", Some(msg))))
          } catch { case scala.util.control.NonFatal(e2) => e.addSuppressed(e2) }
          throw e
      }
      built += 1
    }
    lemmaStats.unpersist()
    termDf.unpersist()
    ranked.unpersist()
    // a stopped run leaves a servable index too: its batches so far
    mergeSegments(spark, outDir)
    built
  }

  /** Build batches whose commit made them COMPLETE. */
  def completedBatches(spark: SparkSession, outDir: String): Set[Int] =
    TableStore.open(spark, outDir).manifest.fold(Set.empty[Int]) { m =>
      val n = m.stats.fold(0)(_.n_batches)
      m.lineage.collect {
        case l if l.status == "COMPLETE" && l.partition_id < n => l.partition_id
      }.toSet
    }

  /** The build's fold ([[run]] ends with it): the per-batch segments —
    * and the index an earlier fold left, on a resumed build — of the
    * same (term, shard) merged into one segment each (SURVEY.md §2.9):
    * grouped shuffle, one merge per group, written term-bucket-partitioned
    * as the final `index`. The same commit drops the `segments` table, so
    * no posting batch at or below the index's as_of stays on disk. With
    * nothing to fold it publishes nothing. */
  def mergeSegments(spark: SparkSession, outDir: String): Unit = {
    import spark.implicits._
    TableStore.open(spark, outDir).commit { c =>
      val m = c.base
      // `segments` holds only the batches of a multi-batch build
      val batches = m.parts("segments").map(_.value("batch").toInt)
      if (batches.nonEmpty) {
        statsOf(m, outDir) // decodes every posting list: this version's format only
        val cols = Seq("bucket", "term", "shard", "doc_count", "block_max", "postings")
        val segs = c.read("segments").select(cols.map(col): _*)
        val merged = (if (m.has("index")) segs.unionByName(c.read("index").select(cols.map(col): _*)) else segs)
          .as[(Int, String, Int, Int, Double, Array[Byte])]
          .groupByKey { case (bucket, term, shard, _, _, _) => (bucket, term, shard) }
          .mapGroups { (key: (Int, String, Int), rows: Iterator[(Int, String, Int, Int, Double, Array[Byte])]) =>
            val (bucket, term, shard) = key
            val parts = rows.toSeq
            SegmentRow(bucket, term, shard, 0,
              parts.map(_._4).sum, parts.map(_._5).max,
              PostingCodec.merge(parts.map(_._6)))
          }
          .toDF
        c.put(merged, "index", Seq("bucket"))
        c.remove("segments")(_ => true)
        c.update(_.copy(asOf = math.max(m.asOf, batches.max)))
      }
    }
  }
}
