package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.{Analyzer, Bm25, HtmlText, Lemmatizer, PostingCodec}
import graft.queryengine.Wand
import graft.store.TableStore

/** Single-threaded probes of the `core` kernels and of `Wand`, run on
  * the workload's own pages and index segments (read through
  * `TableStore`). Only the traced run makes them. */
object Kernels {

  /** Runs `body` over the whole input until at least `minNs` have passed
    * (after one untimed warm-up pass); returns ns per pass. */
  private def nsPerPass(minNs: Long = 300000000L)(body: => Unit): Double = {
    body
    var passes = 0
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < minNs || passes < 2) { body; passes += 1 }
    (System.nanoTime() - t0).toDouble / passes
  }

  def probe(spark: SparkSession, tracer: Tracer, pagesDir: String, indexDir: String,
      pool: Seq[Query]): Map[String, Double] = tracer.span("core.kernel_probes") {
    import spark.implicits._
    val html: Array[Array[Byte]] = TableStore.open(spark, pagesDir).read("")
      .orderBy("url").select("html").as[Array[Byte]].limit(400).collect()
    val htmlBytes = html.map(_.length.toLong).sum
    val texts = html.map(HtmlText.cleanToTextFast)
    val tokens = texts.map(t => Analyzer.russian.tokenize(t).length.toLong).sum

    val cleanNs = nsPerPass() { html.foreach(HtmlText.cleanToTextFast) }
    val lemmaNs = nsPerPass() { texts.foreach(Lemmatizer.lemmaCountsFast) }

    // segments of every term the query pool reads
    val store = TableStore.open(spark, indexDir)
    val stats = store.read("stats").collect()(0)
    val nDocs = stats.getAs[Long]("n_docs")
    val avgdl = stats.getAs[Number]("avgdl").doubleValue()
    val page1 = pool.filter(q => q.offset == 0 && q.site.isEmpty)
    val qTerms = page1.map(q => Lemmatizer.lemmaCounts(q.text).keys.toSeq.sorted)
    val terms = qTerms.flatten.distinct
    val segs: Map[(String, Int), Array[Byte]] = store.read("index")
      .filter(col("term").isin(terms: _*))
      .select("term", "shard", "postings").as[(String, Int, Array[Byte])]
      .collect().groupBy(r => (r._1, r._2))
      .map { case (k, rs) => k -> (if (rs.length == 1) rs.head._3 else PostingCodec.merge(rs.map(_._3).toSeq)) }
    val df: Map[String, Long] = store.read("lemma_stats")
      .filter(col("term").isin(terms: _*))
      .groupBy("term").agg(sum("df").as("df")).as[(String, Long)].collect().toMap

    val blobs = segs.values.toArray
    val decoded = blobs.map(PostingCodec.decode)
    val postings = decoded.map(_.length.toLong).sum
    val decodeNs = nsPerPass() { blobs.foreach(PostingCodec.decode) }
    val raw = decoded.map(ps => (ps.map(_.docId), ps.map(_.tf), ps.map(_.dl)))
    val encodeNs = nsPerPass() { raw.foreach { case (d, t, l) => PostingCodec.encodeRaw(d, t, l, d.length) } }

    // Wand per query, as the engine orders it: stop-lemmas (df > 80%)
    // dropped, rarest first; queries with an absent term match nothing
    val shards = stats.getAs[Number]("shards").intValue()
    val scorer = Bm25()
    val plans = qTerms.flatMap { ts =>
      val surviving = ts.filter(t => df.getOrElse(t, 0L).toDouble / nDocs <= 0.8)
        .sortBy(t => (df.getOrElse(t, 0L), t))
      if (surviving.isEmpty || surviving.exists(t => df.getOrElse(t, 0L) == 0L)) None
      else Some((0 until shards).map { s =>
        surviving.map(t => (Wand.TermCtx(t, df(t)), segs.get((t, s)).orElse(segs.get((t, -1)))))
      })
    }
    def postingsOf(p: Seq[Seq[(Wand.TermCtx, Option[Array[Byte]])]]): Long =
      p.flatten.flatMap(_._2).map(b => PostingCodec.decode(b).length.toLong).sum
    val planPostings = plans.map(postingsOf).sum
    def evalAll(exact: Boolean): Unit = plans.foreach(_.foreach(ts =>
      Wand.evaluateShard(ts, scorer, nDocs, avgdl, 10, exact)))
    val exactNs = nsPerPass() { evalAll(exact = true) }
    val prunedNs = nsPerPass() { evalAll(exact = false) }
    val analyzeNs = nsPerPass() { pool.foreach(q => Lemmatizer.lemmaCounts(q.text)) }

    Map(
      "core.html.clean_mb_per_s" -> htmlBytes / 1e6 / (cleanNs / 1e9),
      "core.lemmatizer.tokens_per_s" -> tokens / (lemmaNs / 1e9),
      "core.codec.encode_ns_per_posting" -> encodeNs / postings,
      "core.codec.decode_ns_per_posting" -> decodeNs / postings,
      "core.codec.bytes_per_posting" -> blobs.map(_.length.toLong).sum.toDouble / postings,
      "queryengine.wand.exact_ns_per_posting" -> exactNs / math.max(1L, planPostings),
      "queryengine.wand.pruned_us_per_query" -> prunedNs / 1e3 / math.max(1, plans.size),
      "queryengine.analyze_us_per_query" -> analyzeNs / 1e3 / pool.size)
  }
}
