package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Iceberg-readiness guard (VERDICT r03 item 6): every engine read/write
  * of a table must go through the [[graft.store.TableStore]] seam — a
  * direct `spark.read.parquet` in engine code would silently bypass the
  * production catalog when the store implementation is swapped to
  * Iceberg. This spec greps the main source tree and fails on any
  * `.parquet(` call site outside the explicit allowlist:
  *
  *  - `store/TableStore.scala` — the seam itself (its parquet
  *    implementation is the only legitimate format-specific code);
  *  - `Bench*.scala` / `Verify.scala` — driver-contract harness mains:
  *    they generate scratch corpora in bench work dirs and dump the
  *    driver's verification parquet, none of which are engine tables;
  *  - `streaming/IndexStream.scala` / `streaming/EventsStream.scala` —
  *    `spark.readStream...parquet(dir)` is the micro-batch FILE SOURCE
  *    (the sandbox stand-in for streaming off an Iceberg commit log);
  *    `DataStreamReader` has no table-store seam to route through, and
  *    each file carries exactly one such source declaration.
  *
  * A second walk over the same tree keeps environment reads (`sys.env`,
  * `System.getenv`) in the process entry points: engine options are
  * `spark.graft.*` conf keys only, and a third holds those keys to the
  * ones README's options table documents. A fourth keeps the build one
  * step: `IndexBuild.run` folds its batches, so no other main file calls
  * `mergeSegments` after it. A fifth holds README's index-format table
  * to the tables a finished build publishes.
  */
class StoreSeamSpec extends AnyFunSuite {

  private val allowed: Set[String] = Set(
    "store/TableStore.scala",
    "Bench.scala", "BenchBuild.scala", "BenchBurn.scala",
    "Verify.scala",
    "streaming/IndexStream.scala", "streaming/EventsStream.scala")

  private val root = Paths.get("src/main/scala/graft")

  /** Lines of main sources outside `allowedFiles` that contain any of
    * `needles`, as `file:line: text`. */
  private def offenders(allowedFiles: Set[String], needles: String*): Seq[String] = {
    assert(Files.isDirectory(root), s"source root missing: ${root.toAbsolutePath}")
    val sources: Seq[Path] = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq
    assert(sources.size > 10, "sanity: the walk must see the main tree")
    sources.flatMap { p =>
      val rel = root.relativize(p).toString.replace('\\', '/')
      if (allowedFiles.contains(rel)) Nil
      else {
        val lines = Files.readAllLines(p).asScala
        lines.zipWithIndex.collect {
          case (l, i) if needles.exists(l.contains) => s"$rel:${i + 1}: ${l.trim}"
        }
      }
    }
  }

  /** Process entry points: the only files that may read the environment.
    * Everything else takes its options from the session's `spark.graft.*`
    * conf, so `--conf` on spark-submit and `spark.conf.set` in a test
    * reach every option the same way. */
  private val entryPoints: Set[String] = Set(
    "Bench.scala", "BenchBuild.scala", "BenchBurn.scala", "BenchExtra.scala",
    "Verify.scala", "app/GraftCli.scala")

  test("no direct parquet read/write outside the TableStore seam") {
    val hits = offenders(allowed, ".parquet(")
    assert(hits.isEmpty,
      "direct parquet call sites outside TableStore (route through the store seam):\n" +
        hits.mkString("\n"))

    // and the streaming allowance is exactly the declared file sources —
    // one DataStreamReader .parquet per streaming file, nothing more
    for (s <- Seq("streaming/IndexStream.scala", "streaming/EventsStream.scala")) {
      val text = new String(Files.readAllBytes(root.resolve(s)))
      val n = "\\.parquet\\(".r.findAllIn(text).size
      assert(n == 1, s"$s: expected exactly one streaming file-source .parquet( call, got $n")
      assert(text.contains("readStream"), s"$s: the allowed .parquet( must be a readStream source")
    }
  }

  test("main reads exactly the spark.graft.* keys README's options table lists") {
    val expected = Set("indexCacheBytes", "postingCacheBytes", "tableFormat")
    val key = "\"spark\\.graft\\.(\\w+)\"".r
    val read = Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala"))
      .flatMap(p => key.findAllMatchIn(new String(Files.readAllBytes(p))).map(_.group(1)))
      .toSet
    assert(read == expected, s"spark.graft.* keys read by src/main: $read")
    val row = "^\\| `spark\\.graft\\.(\\w+)`".r
    val documented = Files.readAllLines(Paths.get("README.md")).asScala
      .flatMap(l => row.findFirstMatchIn(l).map(_.group(1))).toSet
    assert(documented == expected, s"spark.graft.* keys in README's options table: $documented")
  }

  test("README's index-format table names the tables a finished build publishes, and segments") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val idx = Files.createTempDirectory("graft-readme-tables").resolve("idx").toString
    graft.index.IndexBuild.run(spark, graft.corpus.CorpusGen.generate(spark, graft.corpus.CorpusGen.Config(2, 10)),
      idx, graft.index.IndexBuild.Config(shards = 4, nBatches = 2, buckets = 4))
    val built = graft.store.TableStore.open(spark, idx).manifest.get.tables.keySet
    // the table's rows: the backticked names of each first cell, from
    // the `### Index format` heading to the end of its table
    val section = Files.readAllLines(Paths.get("README.md")).asScala
      .dropWhile(_ != "### Index format").drop(1)
      .dropWhile(!_.startsWith("|")).takeWhile(_.startsWith("|")).drop(2)
    val documented = section.flatMap(r => "`(\\w+)`".r.findAllMatchIn(r.split('|')(1)).map(_.group(1))).toSet
    // `segments` lives only while a multi-batch build runs: its fold drops it
    assert(documented == built + "segments",
      s"README's index-format table lists $documented; a finished build publishes $built")
  }

  test("a build folds its own batches: no main caller runs mergeSegments as a second step") {
    // IndexBuild.run ends with the fold; the frozen bench mains still
    // call it after run, where it finds nothing left to fold
    val hits = offenders(Set("index/IndexBuild.scala", "Bench.scala", "BenchBuild.scala"),
      "mergeSegments(")
    assert(hits.isEmpty, "mergeSegments called after IndexBuild.run:\n" + hits.mkString("\n"))
  }

  test("only process entry points read environment variables") {
    val hits = offenders(entryPoints, "sys.env", "System.getenv")
    assert(hits.isEmpty,
      "environment reads outside the entry points (read a spark.graft.* conf key instead):\n" +
        hits.mkString("\n"))
  }
}
