package graft.index

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Lemmatizer, PostingCodec}
import graft.corpus.PageRow
import graft.store.TableStore

/** Logical posting row (reference `index_t`: lemma_id→page_id→rating;
  * IndexEntity.java:9-27). dl = doc token count, carried into the encoded
  * posting so BM25 is computable segment-locally at any scale (no
  * doc-table broadcast on the query path). */
final case class PostingRow(term: String, doc_id: Long, tf: Long, dl: Long)

/** Doc dimension (reference `page`, Page.java:10-34): doc_id = xxhash64(url). */
final case class DocRow(doc_id: Long, url: String, site: String, lang: String, dl: Long)

/** Physical posting segment: delta+varint-encoded sorted run of one
  * (term, shard); `bucket` is the storage partition column used for
  * term-level partition pruning at query time (SURVEY.md §1.3).
  * shard == -1 ⇔ the term is unsalted (tail term, one segment per batch);
  * shard ∈ [0, shards) ⇔ salted head term, doc-hash sharded. */
final case class SegmentRow(
    bucket: Int, term: String, shard: Int, part_id: Int,
    doc_count: Int, block_max: Double, postings: Array[Byte])

/** Map-side partial posting list of one (term, shard) within one input
  * partition: `blob` is a packed little-endian run of 16-byte
  * (doc_id: long, tf: int, dl: int) records, sorted by doc_id. The
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
  *    doc-id hash; each batch commits segments first, then a lineage row
  *    as the commit point (SURVEY.md §7 H5); completed batches are
  *    skipped on restart.
  */
object IndexBuild {

  /** Optional phase timing: set SPARK_GRAFT_PHASES=1 to print. */
  private def phase[A](name: String)(f: => A): A = {
    if (sys.env.contains("SPARK_GRAFT_PHASES")) {
      val t0 = System.nanoTime()
      val a = f
      println(f"  [phase] $name%-22s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
      a
    } else f
  }

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
    * (doc_id, url, site, lang, dl, terms = lemma → tf), lemmatized from
    * the raw html. Shared by the build and the refresh delta. */
  def analyze(pages: Dataset[PageRow]): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    filterValidCode(pages)
      .select(col("url"), col("html"), col("lang"))
      .as[(String, Array[Byte], String)]
      .map { case (url, html, lang) =>
        val counts = Lemmatizer.lemmaCountsFromHtml(html)
        (stableDocId(url), url, siteOf(url), lang, counts.valuesIterator.sum, counts)
      }
      .toDF("doc_id", "url", "site", "lang", "dl", "terms")
  }

  /** pages → typed postings via one pass per doc (SURVEY.md §2.9):
    * tokenize (F2/F4) + particle drop (F3) + lemmatize (U5) + tf count (A1).
    * Emits one row per DISTINCT (doc, lemma) with its tf — the flatMap does
    * the reference's in-memory per-page HashMap count
    * (MorphologyServiceImpl.java:212-240) so the shuffle moves pre-combined
    * rows, not raw tokens. */
  def postings(pages: Dataset[PageRow]): Dataset[PostingRow] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages
      .select(col("url"), col("text"))
      .as[(String, String)]
      .flatMap { case (url, text) =>
        val counts = Lemmatizer.lemmaCounts(text)
        val dl = counts.valuesIterator.sum.toLong
        val docId = stableDocId(url)
        counts.iterator.map { case (term, tf) => PostingRow(term, docId, tf.toLong, dl) }
      }
  }

  /** Deterministic 63-bit doc id from url: Catalyst's xxhash64(url)
    * (default seed 42) with the sign bit cleared — non-negative so the
    * delta+varint codec's first delta is always encodable, and SQL-side
    * joins can recompute it as `xxhash64(url) & Long.MaxValue` without
    * carrying the docs dim. Collision odds at 10^12 docs ≈ 5e-5 per pair
    * set (birthday, 2^63); the build asserts uniqueness. */
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

  /** Composite shard of (site, doc) — the build-side expression in
    * [[buildSegments]], re-derivable engine-side. */
  def shardOf(site: String, docId: Long, cfg: Config): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      docId, org.apache.spark.sql.types.LongType, 42L)
    val sub = cfg.docSubshards
    siteGroupOf(site, cfg.siteGroups) * sub + (((h % sub) + sub) % sub).toInt
  }

  /** Docs dimension; used for presentation joins and statistics. */
  def docs(pages: Dataset[PageRow]): Dataset[DocRow] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.select(col("url"), col("text"), col("lang")).as[(String, String, String)]
      .map { case (url, text, lang) =>
        val counts = Lemmatizer.lemmaCounts(text)
        DocRow(stableDocId(url), url, siteOf(url), lang, counts.valuesIterator.sum.toLong)
      }
  }

  /** Site key from url (reference LinkToolsBox.extractRootDomain,
    * LinkToolsBox.java:43-60). */
  def siteOf(url: String): String = {
    val i = url.indexOf("://")
    val rest = if (i >= 0) url.substring(i + 3) else url
    val j = rest.indexOf('/')
    if (j >= 0) rest.substring(0, j) else rest
  }

  /** lemma_stats: per-site df (reference `lemma.frequency` = per-site
    * document frequency, MorphologyServiceImpl.java:96-99; exact count,
    * NOT approximate — the 80% pruning rule reads it, F5). Postings are
    * already distinct per (term, doc), so df = row count. */
  def lemmaStats(post: Dataset[PostingRow], docsDim: DataFrame): DataFrame = {
    post.toDF
      .join(docsDim.select("doc_id", "site"), Seq("doc_id"))
      .groupBy("term", "site")
      .agg(count(lit(1)).as("df"))
  }

  /** Build encoded segments from postings, given the globally-decided
    * salted head-term set. `post` must carry columns
    * (term, doc_id, tf, dl, site).
    *
    * Physical plan: ONE shuffle — `repartition(segShuffleKeys)`, which
    * co-locates (term, shard) groups bucket-major — and no
    * driver collection anywhere. By default the shuffle's UNIT is a
    * map-side partial posting list per (input partition, term, shard)
    * (see [[combinePartition]]): measured on the 400k-doc bench corpus
    * this cut the build's shuffle from one 64-byte-plus row per posting
    * (~80M rows) to ~2M packed partials and roughly quadrupled 4-core
    * build throughput — the posting-row external sort was the build's
    * memory-bandwidth ceiling. SPARK_GRAFT_NO_COMBINE=1 selects the
    * original row-shuffle + partition-local-sort plan (A/B reference;
    * byte-identical output, SegmentCombineSpec).
    *
    * Shard scheme (head terms only; tail terms keep shard = -1):
    *   shard = hash(site) % siteGroups × docSubshards
    *         + hash(doc_id) % docSubshards
    * i.e. Elasticsearch-style ROUTING by site composed with doc-hash
    * splitting inside each site group. Every posting of a doc lands in
    * the same shard (site is a function of the doc), so conjunctive
    * queries stay shard-local exactly as with pure doc-hash sharding —
    * and a SITE-SCOPED query prunes to its group's `docSubshards` shards
    * (1/siteGroups of the salted postings) instead of scoring every
    * global match. Trade-off (documented, the same one ES routing makes):
    * a single mega-site concentrates in docSubshards shards; production
    * raises docSubshards (or splits hot tenants) when site skew demands. */
  def buildSegments(
      post: DataFrame,
      headTerms: DataFrame, // single column `term`
      cfg: Config,
      numPartitions: Int): Dataset[SegmentRow] = {
    val spark = post.sparkSession
    import spark.implicits._

    val salted = post
      .join(broadcast(headTerms).withColumn("is_head", lit(true)), Seq("term"), "left")
      .withColumn("shard",
        when(col("is_head"),
          (pmod(xxhash64(col("site")), lit(cfg.siteGroups)) * cfg.docSubshards +
            pmod(xxhash64(col("doc_id")), lit(cfg.docSubshards))).cast("int"))
          .otherwise(lit(-1)))
      .select("term", "shard", "doc_id", "tf", "dl")

    val buckets = cfg.buckets
    // Default path: MAP-SIDE COMBINE (MapReduce-era inverted-index
    // combiner, cf. Ivory/Nutch): each input partition pre-groups its
    // postings per (term, shard) into a packed 16-byte-per-posting blob,
    // so the shuffle moves a few thousand partial rows per partition
    // instead of one row per posting — ~40x fewer shuffle rows and ~4x
    // fewer pre-compression bytes than the posting-row shuffle, and the
    // reduce side re-sorts small primitive arrays instead of running an
    // external UnsafeRow sort over every posting. Memory is bounded by
    // the input partition's own posting count (maxPartitionBytes caps
    // it), so the shape holds at 100 TB. The final segment bytes are
    // IDENTICAL to the row-shuffle path (same sorted arrays into the
    // same encodeRaw; asserted by SegmentCombineSpec), which stays
    // available under SPARK_GRAFT_NO_COMBINE=1 as the A/B reference.
    val segKeys = segShuffleKeys(buckets, numPartitions)
    if (sys.env.get("SPARK_GRAFT_NO_COMBINE").contains("1"))
      encodeSortedRows(
        salted
          .repartition(numPartitions, segKeys: _*)
          .sortWithinPartitions("term", "shard", "doc_id"),
        buckets)
    else {
      val partials = spark.createDataset(
        salted.queryExecution.toRdd.mapPartitions(combinePartition))(
        org.apache.spark.sql.Encoders.product[SegPartial])
      mergePartials(
        partials.toDF()
          .repartition(numPartitions, segKeys: _*)
          .sortWithinPartitions("term", "shard"),
        buckets)
    }
  }

  /** Map-side combiner over InternalRows with schema exactly
    * (term STRING, shard INT, doc_id LONG, tf LONG, dl LONG): groups the
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
      var dl = new Array[Long](16)
      var n = 0
      def add(d: Long, t: Long, l: Long): Unit = {
        if (n == doc.length) {
          doc = java.util.Arrays.copyOf(doc, n * 2)
          tf = java.util.Arrays.copyOf(tf, n * 2)
          dl = java.util.Arrays.copyOf(dl, n * 2)
        }
        doc(n) = d; tf(n) = t; dl(n) = l; n += 1
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
      buf.add(row.getLong(2), row.getLong(3), row.getLong(4))
    }
    val entries = map.entrySet().iterator()
    new Iterator[SegPartial] {
      override def hasNext: Boolean = entries.hasNext
      override def next(): SegPartial = {
        val e = entries.next()
        val b = e.getValue
        sortPostings(b.doc, b.tf, b.dl, 0, b.n - 1)
        val blob = new Array[Byte](b.n * 16)
        val bb = java.nio.ByteBuffer.wrap(blob)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        var i = 0
        while (i < b.n) {
          require(b.tf(i) <= Int.MaxValue && b.dl(i) <= Int.MaxValue,
            "tf/dl exceeds Int range")
          bb.putLong(b.doc(i)); bb.putInt(b.tf(i).toInt); bb.putInt(b.dl(i).toInt)
          i += 1
        }
        SegPartial(e.getKey.term.toString, e.getKey.shard, blob)
      }
    }
  }

  /** Reduce side of the combine path: over a DataFrame with columns
    * exactly (term STRING, shard INT, blob BINARY), repartitioned by
    * (term, shard) and sorted by (term, shard) within partitions —
    * unpacks each run's partial blobs, re-sorts the union by doc_id
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
          val dl = new Array[Long](total)
          var w = 0
          var maxTf = 0L
          // blobs were prepended — order within the run is irrelevant,
          // the union is re-sorted below
          blobs.foreach { blob =>
            val bb = java.nio.ByteBuffer.wrap(blob)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            var i = 0
            val n = blob.length / 16
            while (i < n) {
              doc(w) = bb.getLong()
              tf(w) = bb.getInt().toLong
              dl(w) = bb.getInt().toLong
              if (tf(w) > maxTf) maxTf = tf(w)
              w += 1; i += 1
            }
          }
          sortPostings(doc, tf, dl, 0, total - 1)
          val r = SegmentRow(
            bucket = termBucket(term, buckets),
            term = term, shard = curShard, part_id = partId,
            doc_count = total,
            block_max = maxTf.toDouble,
            postings = PostingCodec.encodeRaw(doc, tf, dl, total))
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
              blobs ::= b; total += b.length / 16
              return r
            }
            val b = row.getBinary(2)
            blobs ::= b; total += b.length / 16
          }
          if (blobs.nonEmpty) emit()
          else throw new NoSuchElementException("empty partition")
        }
      }
    }
    spark.createDataset(rdd)
  }

  /** In-place quicksort of parallel posting arrays [lo, hi] by doc id —
    * primitive arrays, no boxing, no comparator allocation. */
  private[graft] def sortPostings(
      doc: Array[Long], tf: Array[Long], dl: Array[Long],
      lo0: Int, hi0: Int): Unit = {
    def swap(i: Int, j: Int): Unit = {
      val d = doc(i); doc(i) = doc(j); doc(j) = d
      val t = tf(i); tf(i) = tf(j); tf(j) = t
      val l = dl(i); dl(i) = dl(j); dl(j) = l
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
        // median-of-three pivot (doc ids are xxhash64 values — effectively
        // random, but guard against adversarial runs anyway)
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

  /** Streaming run-length encoder over a DataFrame with columns exactly
    * (term STRING, shard INT, doc_id LONG, tf LONG, dl LONG), ALREADY
    * repartitioned by (term, shard) and sorted by (term, shard, doc_id)
    * within partitions: one SegmentRow per (term, shard) run. Shared by
    * the initial build (buildSegments) and the bucket rebuild of
    * compaction and the engine's delta overlay (Refresh.reencode).
    *
    * Runs over the physical plan's InternalRows with primitive-array
    * accumulators: the deserializer alternative (`.as[Tuple5]` +
    * per-posting objects) allocates 5 boxes + a tuple + a Posting per
    * posting row — measured GC pressure that caps the build's thread
    * scaling. The term string materializes once per (term, shard) RUN,
    * not once per row. */
  def encodeSortedRows(sorted: DataFrame, buckets: Int): Dataset[SegmentRow] = {
    val spark = sorted.sparkSession
    import spark.implicits._
    val rdd = sorted.queryExecution.toRdd.mapPartitions { it =>
      val partId = TaskContext.getPartitionId()
      new Iterator[SegmentRow] {
        private var docIds = new Array[Long](1024)
        private var tfs = new Array[Long](1024)
        private var dls = new Array[Long](1024)
        private var n = 0
        private var maxTf = 0L
        private var curTerm: org.apache.spark.unsafe.types.UTF8String = null
        private var curShard: Int = 0

        private def add(d: Long, t: Long, l: Long): Unit = {
          if (n == docIds.length) {
            docIds = java.util.Arrays.copyOf(docIds, n * 2)
            tfs = java.util.Arrays.copyOf(tfs, n * 2)
            dls = java.util.Arrays.copyOf(dls, n * 2)
          }
          docIds(n) = d; tfs(n) = t; dls(n) = l
          if (t > maxTf) maxTf = t
          n += 1
        }

        private def emit(): SegmentRow = {
          val term = curTerm.toString
          val r = SegmentRow(
            bucket = termBucket(term, buckets),
            term = term, shard = curShard, part_id = partId,
            doc_count = n,
            block_max = maxTf.toDouble,
            postings = PostingCodec.encodeRaw(docIds, tfs, dls, n))
          n = 0; maxTf = 0L
          r
        }

        override def hasNext: Boolean = it.hasNext || n > 0

        override def next(): SegmentRow = {
          while (it.hasNext) {
            val row = it.next()
            val term = row.getUTF8String(0)
            val shard = row.getInt(1)
            if (curTerm == null) { curTerm = term.clone(); curShard = shard }
            if (shard != curShard || term != curTerm) {
              val r = emit()
              curTerm = term.clone(); curShard = shard
              add(row.getLong(2), row.getLong(3), row.getLong(4))
              return r
            }
            add(row.getLong(2), row.getLong(3), row.getLong(4))
          }
          if (n > 0) emit()
          else throw new NoSuchElementException("empty partition")
        }
      }
    }
    spark.createDataset(rdd)
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

  /** Storage partition (`db`) of the docs/doc_terms dimensions: doc_id is
    * already a xxhash64 of the url, so its residue partitions uniformly.
    * Bucketing the dims is what makes a refresh/delete O(touched) — only
    * the partitions holding the affected doc ids are rewritten
    * (Refresh.refreshPages), the rest keep their files byte-identical. */
  def docBucketCol(buckets: Int): org.apache.spark.sql.Column =
    pmod(col("doc_id"), lit(buckets)).cast("int")

  def docBucketOf(docId: Long, buckets: Int): Int = (docId % buckets).toInt

  /** Persist the top mid-df terms (hottest NON-head terms — heads are
    * excluded by a broadcast anti-join against the persisted head set, so
    * this stays correct whatever salt threshold a later compaction was
    * configured with) as the engine's cold-start prefetch hint table. A
    * bounded TakeOrdered over the tiny lemma_stats table — run once per
    * build and once per compaction, so engine reloads never aggregate the
    * vocabulary. `width` is generous (1024) so the engine's prefetch
    * window slices a prefix without a rebuild; the stored df is an
    * ORDERING hint only (the engine re-reads current dfs exactly). */
  /** Width of the persisted mid_terms prefetch-hint table (see
    * [[writeMidTerms]]) — generous so the engine's prefetch window slices
    * a prefix without a rebuild. */
  val MidTermsWidth = 1024

  def writeMidTerms(store: TableStore, width: Int = MidTermsWidth): Unit = {
    val heads = store.readOpt("head_terms")
      .getOrElse(store.spark.range(0).select(col("id").cast("string").as("term")))
    store.write(
      store.read("lemma_stats")
        .groupBy("term").agg(sum(col("df")).as("df"))
        .join(broadcast(heads.select("term")), Seq("term"), "left_anti")
        .orderBy(col("df").desc, col("term"))
        .limit(width),
      "mid_terms", SaveMode.Overwrite)
  }

  /** Full resumable build to `outDir`:
    * {docs, lemma_stats, stats, segments/batch=i/bucket=b, lineage}.
    * Restart-safe: a batch whose lineage row says COMPLETE is skipped;
    * lineage is appended only AFTER its segment write commits
    * (SURVEY.md §7 H5). Returns the number of batches actually built. */
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
    // AQE stays ON for the build: measured same-window A/B on the
    // 400k-doc bench corpus (pinned, steal-free) — AQE-on is ~9% faster
    // at 1 core AND ~8% faster at 4 cores (its partition coalescing
    // after the dim-table groupBys saves more task/file overhead than
    // its re-planning costs; the build's explicit `repartition(N, …)`
    // widths are respected either way). SPARK_GRAFT_NO_AQE=1 is the
    // diagnostic escape hatch that re-runs a build with AQE off for
    // future A/Bs; restored on exit either way.
    val aqeWas = spark.conf.getOption("spark.sql.adaptive.enabled")
    if (sys.env.get("SPARK_GRAFT_NO_AQE").contains("1"))
      spark.conf.set("spark.sql.adaptive.enabled", "false")
    // committer v2 is a BUILD-scoped decision (its mid-commit caveat is
    // argued void only for the lineage-gated build below) — it must not
    // leak onto later same-session writes (compaction partition
    // overwrites, store.replace), whose crash-convergence arguments
    // assume the default committer
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val committerWas = Option(
      hadoopConf.get("mapreduce.fileoutputcommitter.algorithm.version"))
    try runInner(spark, pages, outDir, cfg, stopAfter, clearStopMarker)
    finally {
      aqeWas match {
        case Some(v) => spark.conf.set("spark.sql.adaptive.enabled", v)
        case None => spark.conf.unset("spark.sql.adaptive.enabled")
      }
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
    // mid-commit leaves partial files visible) is void here: visibility is
    // governed by the LINEAGE commit row written after the data (batch
    // retried from scratch on failure), `replace` stages behind a
    // completeness marker, and the tiny appends are single-task.
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
    val analyzed = analyze(pages)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Materialize the cache FIRST (cache-then-write: fusing the heavy
    // extract+lemmatize map into the parquet-writer stage serializes
    // ~2x worse under writer memory pressure) — and the materializing
    // job IS the global-stats aggregation, so the corpus is scanned once
    // for both instead of count-then-agg. The doc-id uniqueness check
    // rides the same pass.
    val st = phase("analyze")(analyzed.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("doc_id")).as("n_distinct"),
      avg(col("dl")).as("avgdl"),
      sum(col("dl")).as("total_tokens")).collect()(0))

    // The three dimension/stat writes are INDEPENDENT jobs over the same
    // persisted analyze pass; submit them from separate threads so their
    // small stages and driver-side planning/commit gaps overlap (a real
    // cluster runs exactly this way). Each is driver-latency-bound more
    // than core-bound, so the overlap collapses a serial ~6 s tail at
    // high parallelism without affecting the 1-thread level (which
    // serializes on its single core either way). Futures are joined
    // before anything depends on the written tables.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    // SPARK_GRAFT_SEQUENTIAL=1 (diagnostics only): run every "background"
    // write inline on the calling thread, so SPARK_GRAFT_PHASES timings
    // measure each job alone instead of its queueing behind concurrent
    // jobs — phase walls under the default overlapped execution include
    // scheduler wait and cannot be used to attribute cost.
    implicit val ec: scala.concurrent.ExecutionContext =
      if (sys.env.get("SPARK_GRAFT_SEQUENTIAL").contains("1"))
        scala.concurrent.ExecutionContext.parasitic
      else scala.concurrent.ExecutionContext.global

    // dims are BUCKET-PARTITIONED by doc id (`db`) / term (`bucket`):
    // that is what makes a later refresh/delete O(touched) — it rewrites
    // only the partitions holding the affected rows (Refresh.refreshPages).
    // Each dim is REPARTITIONED BY ITS PARTITION COLUMN before the write:
    // without it every cache partition holds every bucket and the dynamic
    // writer opens tasks × buckets parquet files (32 × 16 = 512 per dim
    // here) — measured 10-12 s per dim at 1 thread on a 100k corpus, all
    // of it per-file open/footer fixed cost. One small shuffle instead
    // collapses that to ~1 file per bucket; at cluster scale this is the
    // standard small-files compaction shape (files stay splittable, so
    // read parallelism is unchanged).
    val docsF = Future(phase("docs write")(store.write(
      analyzed.select("doc_id", "url", "site", "lang", "dl")
        .withColumn("db", docBucketCol(cfg.buckets))
        .repartition(cfg.buckets, col("db")),
      "docs", SaveMode.Overwrite, partitionBy = Seq("db"))))

    // FORWARD index (doc -> its distinct terms): the structure that makes
    // a later single-page refresh/delete O(doc) instead of O(corpus) —
    // it names exactly the term-buckets a doc's postings live in, so
    // compaction rewrites only those partitions (Refresh.compactTouched).
    // The reference gets this for free from its relational index table
    // (IndexEntity rows by page_id); a posting-list engine must store it
    // explicitly (Lucene's analogue: per-doc term vectors).
    val docTermsF = Future(phase("doc_terms write")(store.write(
      analyzed.select(col("doc_id"), map_keys(col("terms")).as("terms"))
        .withColumn("db", docBucketCol(cfg.buckets))
        .repartition(cfg.buckets, col("db")),
      "doc_terms", SaveMode.Overwrite, partitionBy = Seq("db"))))

    val post = analyzed
      .select(col("doc_id"), col("site"), col("dl"), explode(col("terms")).as(Seq("term", "tf")))

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
    val lemmaStatsF = Future(phase("lemma_stats write")(store.write(
      lemmaStats.repartition(cfg.buckets, col("bucket")),
      "lemma_stats", SaveMode.Overwrite, partitionBy = Seq("bucket"))))

    // Global stats for BM25 (N, avgdl) + build config — one tiny row,
    // already collected by the analyze-materializing aggregation above
    // (`st`) and written back as a literal row: the cache-materializing
    // scan IS the stats job, so no separate agg-then-collect pass runs.
    require(st.getAs[Long]("n_docs") == st.getAs[Long]("n_distinct"),
      s"doc_id hash collision or duplicate url: " +
        s"${st.getAs[Long]("n_docs") - st.getAs[Long]("n_distinct")}")
    val statsRow = spark.range(1).select(
      lit(st.getAs[Long]("n_docs")).as("n_docs"),
      lit(st.getAs[Long]("n_distinct")).as("n_distinct"),
      lit(st.getAs[Double]("avgdl")).as("avgdl"),
      lit(st.getAs[Long]("total_tokens")).as("total_tokens"),
      lit(cfg.shards).as("shards"),
      lit(cfg.nBatches).as("n_batches"),
      lit(cfg.siteGroups).as("site_groups"),
      lit(cfg.buckets).as("buckets"),
      // highest refresh batch whose corpus delta is applied (Refresh)
      lit(0).as("stats_as_of"))
    // stats is a derived dimension, not the commit point — write it in the
    // background and join before the first lineage commit below
    val statsWriteF = Future(phase("stats write")(
      store.write(statsRow, "stats", SaveMode.Overwrite)))

    // Global salted-term decision — identical across batches/restarts —
    // plus the single-batch lineage metrics, all from ONE aggregation job
    // over the tiny CACHED lemma_stats aggregation (not the written table
    // — see the persist above). The head set is collected to the driver:
    // it is the SKEW set, bounded by construction to
    // < total_postings / saltThresholdDf terms (a few thousand even at
    // 10^12 docs), and shipping it as a literal local relation makes the
    // salting join a broadcast with no extra scan or read-back job.
    val statsDf = lemmaStats
    // per-term global df, shared by the head/counts collect AND the
    // mid_terms TakeOrdered below — cached so lemma_stats is scanned and
    // re-aggregated once, not once per consumer. Vocabulary-sized
    // (term, df) pairs: a few MB here, a few GB across a cluster at
    // 10^12 docs — well inside executor storage either way.
    val termDf = statsDf.groupBy("term").agg(sum(col("df")).as("df"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val headAgg = phase("head/counts agg")(
      termDf
        .agg(
          count(lit(1)).as("term_count"),
          coalesce(sum(col("df")), lit(0L)).as("posting_count"),
          collect_list(when(col("df") > cfg.saltThresholdDf, col("term")))
            .as("head_terms"))
        .collect()(0))
    val headArr: Seq[String] = headAgg.getSeq[String](2)
    val headDf = headArr.toDF("term")
    // head_terms is persisted for the query engine / refresh path, but the
    // build itself salts from the in-memory literal — background the write
    val headTermsWriteF = Future(phase("head_terms write")(
      store.write(headDf, "head_terms", SaveMode.Overwrite)))
    // mid_terms: the next-hottest terms below the salt threshold, persisted
    // as a PREFETCH HINT so the engine's cold-start warm never has to run
    // an O(vocabulary) aggregation per reload (it did, until round 5's
    // ADVICE flagged it). Ordering hint only — the engine re-derives the
    // terms' CURRENT dfs through its exact lookup path, so staleness
    // between compactions can never touch scoring. At build time the head
    // set IS `df > saltThresholdDf` over this very termDf, so the filter
    // below is exactly writeMidTerms's anti-join against the head table
    // (that function remains the compaction-cadence path, where the
    // persisted head set may predate a different threshold) — one
    // TakeOrdered over the cached per-term df instead of a second
    // lemma_stats scan + groupBy + broadcast anti-join chained behind the
    // head_terms write.
    val midTermsWriteF = Future(phase("mid_terms write")(
      store.write(
        termDf.filter(col("df") <= cfg.saltThresholdDf)
          .orderBy(col("df").desc, col("term")).limit(MidTermsWidth),
        "mid_terms", SaveMode.Overwrite)))
    midTermsWriteF.onComplete(_ => termDf.unpersist())
    // every dimension write must be durable before a lineage row declares
    // the batch COMPLETE (lineage is the commit point)
    def awaitDims(): Unit =
      Seq(docsF, docTermsF, lemmaStatsF, statsWriteF, headTermsWriteF,
          midTermsWriteF)
        .foreach(Await.result(_, Duration.Inf))

    // ── per-site status lifecycle (reference site.status / status_time /
    // last_error; Site.java:16-34, SiteServiceImpl.java:83-91): the build
    // appends INDEXING rows for every site up front, an INDEXED row per
    // site when its batch's lineage commits, and FAILED rows (with the
    // error) if a batch throws. Statistics reads the latest row per site.
    // All writes are appends of tiny site lists — background futures. ──
    // appends to the SAME table directory share the Hadoop committer's
    // `_temporary/0` staging dir — two append jobs running concurrently
    // delete each other's attempt dirs at job cleanup ("Mkdirs failed to
    // create …/_temporary/…"). Status appends therefore run on ONE
    // background CHAIN: overlapped with the build, serialized among
    // themselves (which also keeps INDEXING→INDEXED row order).
    var statusFutures = List.empty[Future[Unit]]
    var statusChain: Future[Unit] = Future.successful(())
    def appendStatus(sites: DataFrame, status: String, error: String): Future[Unit] = {
      val f = statusChain.map { _ =>
        phase(s"status $status")(store.write(
          sites.select(col("site"), lit(status).as("status"),
            lit(error).cast("string").as("error"),
            current_timestamp().as("ts")),
          "site_status", SaveMode.Append))
      }
      statusFutures ::= f
      // a failed append must not wedge later chain links (its own failure
      // still surfaces through statusFutures at the join below)
      statusChain = f.recover { case scala.util.control.NonFatal(_) => () }
      f
    }
    // batch key = site hash (see the loop below)
    def siteBatch = pmod(xxhash64(col("site")), lit(cfg.nBatches)).cast("int")
    val done: Set[Int] = phase("completedBatches")(completedBatches(spark, outDir))
    // persisted: the INDEXING append materializes it once; the INDEXED
    // append (and multi-batch slices) reuse it instead of re-scanning the
    // analyze cache — a measurable serial tail at high parallelism
    val allSites = analyzed.select("site").distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // INDEXING stamp only for sites whose batch is still PENDING — a
    // resumed run must not regress the status of already-committed sites
    appendStatus(
      if (done.isEmpty) allSites
      else analyzed.filter(!siteBatch.isin(done.toSeq: _*)).select("site").distinct(),
      SiteStatus.Indexing, null)
    var built = 0
    // Single-batch build: segments ARE the final index — write them
    // straight to `index/` and let mergeSegments no-op (a 1-way "merge"
    // would byte-copy every segment through an extra shuffle).
    val singleBatch = cfg.nBatches == 1
    // Graceful stop (reference RunIndexMonitor.setStopIndexing, checked
    // between pages by the crawl threads — here between BATCHES): the
    // `_STOP` marker (cleared at run() entry) halts the loop after the
    // current batch's lineage commit; completed batches stay committed
    // and a later run resumes the rest.
    // `stopAfter` simulates a mid-build kill for the resume test (§5.7)
    // batch key = site hash (the reference's unit of crawl/indexing is
    // the site, ThreadIndexingManager.java:29-62): every site is wholly
    // contained in one batch, so per-site status is exact — a site is
    // INDEXED precisely when its batch's lineage row commits. Resume and
    // graceful stop therefore operate at site granularity, like the
    // reference's per-site crawler threads.
    for (b <- 0 until cfg.nBatches
        if !done.contains(b) && built < stopAfter && !store.markerExists(StopMarker)) {
      val batchPost =
        if (singleBatch) post
        else post.filter(siteBatch === b)
      try {
        val segs = buildSegments(batchPost, headDf, cfg, numPartitions)
        val segTable = if (singleBatch) "index" else s"segments/batch=$b"
        phase(s"segments write b=$b")(store.write(segs.toDF, segTable,
          SaveMode.Overwrite, partitionBy = Seq("bucket")))
        awaitDims() // dimensions durable before the commit point
        // lineage LAST — the batch's commit point (north_rule).
        // posting_bytes from the store (no data re-read). Metric source:
        // a single-batch build's term/posting counts equal the GLOBAL
        // distinct-term count and Σ df, already computed by the
        // head/counts aggregation above (zero extra jobs); multi-batch
        // builds aggregate their own segment table (batch term sets are
        // proper subsets of the global one).
        val bytes = phase("segment sizeInBytes")(store.sizeInBytes(segTable))
        val counts =
          if (singleBatch)
            spark.range(1).select(
              lit(headAgg.getAs[Long]("term_count")).as("term_count"),
              lit(headAgg.getAs[Long]("posting_count")).as("posting_count"))
          else
            // a batch whose site-hash slice is EMPTY writes no parquet
            // files (partitioned write) — its lineage row records zeros
            try store.read(segTable).agg(
              countDistinct(col("term")).as("term_count"),
              coalesce(sum(col("doc_count")), lit(0L)).as("posting_count"))
            catch { case scala.util.control.NonFatal(_) =>
              spark.range(1).select(
                lit(0L).as("term_count"), lit(0L).as("posting_count"))
            }
        val lin = counts.select(
          lit(b).as("partition_id"),
          lit(s"pmod(xxhash64(site), ${cfg.nBatches}) == $b").as("doc_range"),
          lit(bytes).as("posting_bytes"),
          col("term_count"), col("posting_count"),
          lit("COMPLETE").as("status"),
          lit(null).cast("string").as("error"),
          current_timestamp().as("ts"))
        phase("lineage")(store.write(lin, "lineage", SaveMode.Append))
        appendStatus(
          if (singleBatch) allSites else analyzed.filter(siteBatch === b).select("site").distinct(),
          SiteStatus.Indexed, null)
        built += 1
      } catch {
        case scala.util.control.NonFatal(e) =>
          // failure is part of the lifecycle (reference FAILED status,
          // ThreadIndexingManager.java:45-48): record a FAILED lineage
          // row (NOT counted by completedBatches — a re-run retries the
          // batch) and FAILED site rows carrying the error, then rethrow
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName).take(500)
          store.write(spark.range(1).select(
            lit(b).as("partition_id"),
            lit(s"pmod(xxhash64(site), ${cfg.nBatches}) == $b").as("doc_range"),
            lit(0L).as("posting_bytes"),
            lit(0L).as("term_count"), lit(0L).as("posting_count"),
            lit("FAILED").as("status"),
            lit(msg).as("error"),
            current_timestamp().as("ts")), "lineage", SaveMode.Append)
          Await.result(appendStatus(
            if (singleBatch) allSites
            else analyzed.filter(siteBatch === b).select("site").distinct(),
            SiteStatus.Failed, msg), Duration.Inf)
          throw e
      }
    }
    // single-batch: the direct-to-index write IS the merged index, as of
    // batch 0 — written in the background, joined before return (the
    // engine fingerprints index_meta, so it must be durable by then)
    val indexMetaF =
      if (singleBatch && built > 0)
        Some(Future(phase("index_meta write")(
          store.write(spark.range(1).select(lit(0).as("as_of_batch")),
            "index_meta", SaveMode.Overwrite))))
      else None
    phase("final joins")({
      awaitDims() // loop may have run zero batches (resume/stop) — still join
      statusFutures.foreach(Await.result(_, Duration.Inf))
      indexMetaF.foreach(Await.result(_, Duration.Inf))
    })
    lemmaStats.unpersist()
    allSites.unpersist()
    analyzed.unpersist()
    built
  }

  def completedBatches(spark: SparkSession, outDir: String): Set[Int] = {
    import spark.implicits._
    val store = TableStore.open(spark, outDir)
    // first build: no lineage table yet (checked, not caught — Spark logs
    // the missing-path AnalysisException loudly even when handled)
    if (!store.exists("lineage")) Set.empty
    else try {
      store.read("lineage")
        .filter(col("status") === "COMPLETE")
        .select("partition_id").as[Int].collect().toSet
    } catch { case scala.util.control.NonFatal(_) => Set.empty }
  }

  /** Segment merge: k-way sort-merge of per-batch segments of the same
    * (term, shard) into one segment each (SURVEY.md §2.9) — grouped
    * shuffle, streaming merge per group, written term-bucket-partitioned
    * as the final `index`. */
  def mergeSegments(spark: SparkSession, outDir: String): Unit = {
    import spark.implicits._
    val store = TableStore.open(spark, outDir)
    // single-batch builds write segments directly to index/ — nothing to merge
    if (!store.exists("segments")) return
    // a graceful stop can leave only EMPTY batch dirs (site-hash batches
    // whose slice held no sites write a dir but no files) — no schema to
    // infer, nothing to merge yet
    val segs = try store.read("segments") catch {
      case scala.util.control.NonFatal(_) => return
    }
    val merged = segs.select("bucket", "term", "shard", "doc_count", "block_max", "postings")
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
    store.write(merged, "index", SaveMode.Overwrite, partitionBy = Seq("bucket"))
    // high-water mark for incremental refresh (Refresh.indexAsOf)
    val maxBatch = store.read("segments")
      .agg(max(col("batch"))).collect()(0).getInt(0)
    store.write(spark.range(1).select(lit(maxBatch).as("as_of_batch")),
      "index_meta", SaveMode.Overwrite)
  }
}
