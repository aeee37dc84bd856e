package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import graft.core.RuDict
import graft.index.IndexBuild

/** The placement helpers a refresh evaluates on the driver must equal,
  * row by row, the Column forms the build evaluates in Spark: a posting
  * placed by one and looked up by the other would land in the wrong
  * term bucket, doc bucket, site group or shard. */
class PlacementParitySpec extends AnyFunSuite with GenSamples {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val text: Gen[String] = Gen.oneOf(
    Gen.oneOf(RuDict.contentLemmas),
    Gen.alphaNumStr,
    Gen.stringOf(Gen.choose('\u0000', '\uD7FF')))
  private val id: Gen[Long] = Gen.oneOf(Gen.chooseNum(0L, 100000L), Gen.chooseNum(0L, Long.MaxValue))

  /** (row, term, site, ord, doc_id, head) */
  private val rows: Seq[(Int, String, String, Long, Long, Boolean)] = {
    val row = for {
      term <- text
      site <- text
      ord <- id
      docId <- id
      head <- Gen.oneOf(true, false)
    } yield (term, site, ord, docId, head)
    val out = Seq.newBuilder[(Int, String, String, Long, Long, Boolean)]
    forAll(row, 400) { case (t, s, o, d, h) => out += ((0, t, s, o, d, h)) }
    out.result().zipWithIndex.map { case (r, i) => r.copy(_1 = i) }
  }

  private val cfgs = Seq(
    IndexBuild.Config(),
    IndexBuild.Config(shards = 12, siteGroups = 3, buckets = 7),
    IndexBuild.Config(shards = 5, siteGroups = 1, buckets = 1))

  test("termBucket, docBucketOf and siteGroupOf equal their Column forms") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val df = rows.map { case (i, t, s, _, d, _) => (i, t, s, d) }.toDF("row", "term", "site", "doc_id")
    for (cfg <- cfgs) {
      val got = df.select(col("row"), IndexBuild.termBucketCol(cfg.buckets),
          IndexBuild.docBucketCol(cfg.buckets),
          pmod(xxhash64(col("site")), lit(cfg.siteGroups)).cast("int"))
        .as[(Int, Int, Int, Int)].collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
      rows.foreach { case (i, t, s, _, d, _) =>
        assert(got(i) == ((IndexBuild.termBucket(t, cfg.buckets), IndexBuild.docBucketOf(d, cfg.buckets),
          IndexBuild.siteGroupOf(s, cfg.siteGroups))), s"row $i ($t, $s, $d) under $cfg")
      }
    }
  }

  test("shardOf equals saltedPostings' shard") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    // a term is a head term when some row marks it one; `tf` carries the
    // row number through saltedPostings
    val heads = rows.collect { case (_, t, _, _, _, true) => t }.toSet
    val post = rows.map { case (i, t, s, o, _, _) => (t, o, i.toLong, s) }.toDF("term", "ord", "tf", "site")
    for (cfg <- cfgs) {
      val got = IndexBuild.saltedPostings(post, heads.toSeq.toDF("term"), cfg)
        .select("tf", "shard").as[(Long, Int)].collect().toMap
      assert(got.size == rows.size)
      rows.foreach { case (i, t, s, o, _, _) =>
        assert(got(i.toLong) == IndexBuild.shardOf(heads(t), s, o, cfg),
          s"row $i ($t, $s, $o, head ${heads(t)}) under $cfg")
      }
    }
  }
}
