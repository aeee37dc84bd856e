package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.{CorpusGen, PageRow}
import graft.core.PostingCodec
import graft.index.{IndexBuild, SegmentRow}

/** The build's map-side posting combine (SegPartial blobs shuffled
  * instead of posting rows) must be INVISIBLE in the output: every
  * segment it produces — term, shard, part_id, doc_count, block_max and
  * the encoded posting BYTES — equals the plain definition exactly:
  * every posting row, collected and grouped per (term, shard), sorted by
  * ordinal and encoded, in the reduce partition the build's shuffle keys
  * send the group to. */
class SegmentCombineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("combine path produces byte-identical segments to the row-shuffle path") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val work = Files.createTempDirectory("graft-combine").toString
    // multi-site corpus with a salt threshold low enough that BOTH code
    // paths exercise head sharding (shard >= 0) AND tail runs (shard = -1)
    val pages = CorpusGen.generate(spark, CorpusGen.Config(3, 300))
    pages.write.mode("overwrite").parquet(s"$work/pages")
    val ds = spark.read.parquet(s"$work/pages")
      .as[PageRow](org.apache.spark.sql.Encoders.product[PageRow])
    val cfg = IndexBuild.Config(shards = 4, saltThresholdDf = 150L, buckets = 16)

    val analyzed = ds
      .map { p =>
        val counts = graft.core.Lemmatizer.lemmaCountsFromHtml(p.html)
        (IndexBuild.stableDocId(p.url), p.url, IndexBuild.siteOf(p.url),
          counts.map { case (k, v) => k -> v.toLong })
      }
      .toDF("ord", "url", "site", "terms")
    val post = analyzed.select(col("ord"), col("site"),
      explode(col("terms")).as(Seq("term", "tf")))

    // head set exactly as the build derives it (global df over sites)
    val heads = post.groupBy("term").agg(countDistinct(col("ord")).as("df"))
      .filter(col("df") > cfg.saltThresholdDf).select("term")

    def saltedOf(p: org.apache.spark.sql.DataFrame) = p
      .join(broadcast(heads).withColumn("is_head", lit(true)), Seq("term"), "left")
      .withColumn("shard",
        when(col("is_head"),
          (pmod(xxhash64(col("site")), lit(cfg.siteGroups)) * cfg.docSubshards +
            pmod(xxhash64(col("ord")), lit(cfg.docSubshards))).cast("int"))
          .otherwise(lit(-1)))
      .select("term", "shard", "ord", "tf")

    val combined = IndexBuild.buildSegments(post, heads, cfg, numPartitions = 8)
      .collect()
    val rowPath = saltedOf(post)
      .withColumn("part_id", pmod(hash(IndexBuild.segShuffleKeys(cfg.buckets, 8): _*), lit(8)))
      .as[(String, Int, Long, Long, Int)].collect()
      .groupBy(r => (r._1, r._2)).map { case ((term, shard), rows) =>
        val ps = rows.map(r => PostingCodec.Posting(r._3, r._4)).sortBy(_.docId)
        SegmentRow(IndexBuild.termBucket(term, cfg.buckets), term, shard, rows.head._5,
          ps.length, ps.map(_.tf).max.toDouble, PostingCodec.encode(ps))
      }.toArray

    assert(combined.nonEmpty)
    // both paths must produce head shards and tail runs
    assert(combined.exists(_.shard >= 0), "no salted head segment produced")
    assert(combined.exists(_.shard == -1), "no tail segment produced")

    def keyed(rows: Array[SegmentRow]) =
      rows.map(r => ((r.term, r.shard),
        (r.bucket, r.part_id, r.doc_count, r.block_max,
          java.util.Base64.getEncoder.encodeToString(r.postings)))).toMap

    val c = keyed(combined)
    val r = keyed(rowPath)
    assert(c.keySet == r.keySet,
      s"segment key sets differ: only-combine=${(c.keySet -- r.keySet).take(5)} " +
        s"only-row=${(r.keySet -- c.keySet).take(5)}")
    c.foreach { case (k, v) =>
      assert(v == r(k), s"segment $k differs: combine=$v row=${r(k)}")
    }
  }

  test("sortPostings sorts parallel arrays by doc id") {
    val rnd = new scala.util.Random(7)
    for (n <- Seq(0, 1, 2, 15, 16, 17, 1000)) {
      val doc = Array.fill(n)(rnd.nextLong())
      val tf = doc.map(_ & 0xffff)
      val expect = doc.zip(tf).sortBy(_._1)
      IndexBuild.sortPostings(doc, tf, 0, n - 1)
      assert(doc.toSeq == expect.map(_._1).toSeq)
      assert(tf.toSeq == expect.map(_._2).toSeq)
    }
  }
}
