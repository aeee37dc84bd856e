package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Bm25, RuDict, ReferenceTfSum}
import graft.corpus.{CorpusGen, PageRow}
import graft.index.IndexBuild
import graft.queryengine.SearchEngine

/** Committed golden rankings (FIXTURES.md §4, §6): fixed seed → fixed
  * corpus → fixed query set → frozen (rank, url, relevance) for BOTH
  * scorers. Unlike the live oracle (computed from the same kernels, so it
  * follows a semantic drift silently), the golden file pins today's
  * verified behavior; any future change that reorders results or moves a
  * score by >1e-9 fails here and must be an intentional, reviewed edit of
  * the golden file.
  *
  * Regenerate (after an INTENTIONAL semantics change only):
  *   GRAFT_REGEN_GOLDENS=1 sbt "testOnly graft.GoldenSpec"
  * then commit src/test/resources/golden_rankings.tsv.
  */
class GoldenSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val goldenPath = Paths.get("src/test/resources/golden_rankings.tsv")

  private def queries: Seq[(String, Option[String])] = {
    val l = RuDict.contentLemmas
    Seq(
      (s"${RuDict.formsOf(l(0))(1)} ${l(20)}", None),
      (s"${l(1)} ${l(40)} ${RuDict.formsOf(l(9))(4)}", None),
      (s"есть ${l(30)}", None),
      (RuDict.formsOf(l(80))(1), None),
      (s"${l(2)} ${l(3)}", None),
      (s"${l(5)} ${l(60)}", Some("https://site0.test")),
      (s"${l(10)} ${l(150)}", None),
      // ── adversarial quirk cases (the tokenizer/pruning rules exist for
      // these; each line freezes the exact degenerate behavior) ──
      (s"ёж ${RuDict.formsOf(l(25))(2)}", None), // «ёж»→«ж» dropped (F4) ⇒ single-term query
      ("ёлка всё ёж", None), // ё-damage is SYMMETRIC: «ёлка»→«лка» matches docs damaged the same way at index time
      ("столами", None), // OOV inflection ⇒ df=0 ⇒ empty conjunction
      ("и на под о", None), // particle/len<3 only ⇒ zero lemmas (F2/F3)
      ("есть", None), // planted stop lemma alone ⇒ ALL terms prune (F5)
      (s"есть был будет", None)) // every term a form of the pruned stop lemma
  }

  lazy val engine: (SearchEngine, SearchEngine) = {
    spark.sparkContext.setLogLevel("WARN")
    val work = Files.createTempDirectory("graft-golden").toString
    val pages = CorpusGen.generate(spark, CorpusGen.Config(2, 250))
    pages.write.mode("overwrite").parquet(s"$work/pages")
    val ds = spark.read.parquet(s"$work/pages")
      .as[PageRow](org.apache.spark.sql.Encoders.product[PageRow])
    val cfg = IndexBuild.Config(shards = 4, saltThresholdDf = 120L, nBatches = 2, buckets = 16)
    IndexBuild.run(spark, ds, s"$work/idx", cfg)
    (new SearchEngine(spark, s"$work/idx", s"$work/pages", ReferenceTfSum),
      new SearchEngine(spark, s"$work/idx", s"$work/pages", Bm25()))
  }

  private def currentLines(): Seq[String] = {
    val (tf, bm) = engine
    for {
      (q, site) <- queries
      (scorerName, eng) <- Seq(("tfsum", tf), ("bm25", bm))
      resp = eng.search(q, 0, 20, site)
      line <- {
        val hdr = s"# query='$q' site=${site.getOrElse("-")} scorer=$scorerName count=${resp.count}"
        hdr +: resp.data.zipWithIndex.map { case (item, i) =>
          f"$q\t$scorerName\t${site.getOrElse("-")}\t${i + 1}\t${item.site}${item.uri}\t${item.relevance}%.9f"
        }
      }
    } yield line
  }

  test("engine rankings match the committed golden file (both scorers)") {
    val lines = currentLines()
    if (sys.env.contains("GRAFT_REGEN_GOLDENS") || !Files.exists(goldenPath)) {
      Files.createDirectories(goldenPath.getParent)
      Files.write(goldenPath, lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
      fail(s"golden file (re)generated at $goldenPath — review and commit it, then re-run")
    }
    val expected = new String(Files.readAllBytes(goldenPath), StandardCharsets.UTF_8)
      .split("\n").toSeq
    assert(lines.size == expected.size,
      s"golden line count changed: ${expected.size} -> ${lines.size}")
    lines.zip(expected).zipWithIndex.foreach { case ((got, exp), i) =>
      assert(got == exp, s"golden mismatch at line ${i + 1}:\n  expected: $exp\n  got:      $got")
    }
  }
}
