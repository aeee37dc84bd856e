package graft

import java.nio.file.{Files, Paths, StandardOpenOption}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Extra (non-contract) measurement mains for the optimization rounds.
  *
  * `graft.Bench` is the frozen driver contract; this main adds the guide
  * §1 instrumentation that does not belong in the hashed harness:
  *
  *   - `plans <suffix> [regexFilter]` — write `.explain("formatted")` for
  *     every declared query to `plans/r06/<query>_<suffix>.txt`;
  *   - `time [rounds] [regexFilter]` — noop-sink-isolated per-query times,
  *     several rounds in ONE warm session, so steady-state cost is
  *     separable from first-query JIT/codegen warmup (the frozen bench
  *     times each query exactly once, alphabetically, in a fresh session).
  *
  * Uses the same session config as the frozen bench's query section so
  * numbers are comparable.
  */
object BenchExtra {

  private def newSession(threads: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName(s"graft-bench-extra-$threads")
      .config("spark.sql.shuffle.partitions", threads)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.local.dir", "/dev/shm/graft-bench-shuffle")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val mode = args.headOption.getOrElse("time")
    val spark = newSession(cpus)
    try {
      mode match {
        case "plans" =>
          val suffix = args.lift(1).getOrElse("before")
          val filter = args.lift(2).map(_.r)
          val dir = Paths.get("plans", "r06")
          Files.createDirectories(dir)
          SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
            if (filter.forall(_.findFirstIn(name).isDefined)) {
              spark.sparkContext.setJobDescription(s"plan:$name")
              val txt =
                try fn(spark, sfDir).queryExecution.explainString(ExplainMode.fromString("formatted"))
                catch { case scala.util.control.NonFatal(e) => s"EXPLAIN FAILED: $e" }
              Files.write(dir.resolve(s"${name}_$suffix.txt"),
                txt.getBytes(StandardCharsets.UTF_8),
                StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
              println(s"wrote ${dir.resolve(s"${name}_$suffix.txt")}")
            }
          }
        case "time" =>
          val rounds = args.lift(1).map(_.toInt).getOrElse(2)
          val filter = args.lift(2).map(_.r)
          val names = SparkEntry.queries.toSeq.sortBy(_._1)
            .filter { case (n, _) => filter.forall(_.findFirstIn(n).isDefined) }
          val times = scala.collection.mutable.Map.empty[String, List[Double]]
          (1 to rounds).foreach { r =>
            names.foreach { case (name, fn) =>
              spark.sparkContext.setJobDescription(s"time:$name:r$r")
              val t0 = System.nanoTime()
              var failed = false
              try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
              catch { case scala.util.control.NonFatal(e) =>
                failed = true
                System.err.println(s"[extra] $name FAILED: ${e.getMessage}") }
              // a failed query must not masquerade as a fast success in
              // the table or the TOTAL — record NaN and render FAIL
              val sec = if (failed) Double.NaN else (System.nanoTime() - t0) / 1e9
              times(name) = times.getOrElse(name, Nil) :+ sec
            }
          }
          def cell(t: Double): String = if (t.isNaN) f"${"FAIL"}%7s" else f"$t%7.3f"
          println(f"${"query"}%-24s ${(1 to rounds).map(r => f"r$r%7s").mkString(" ")}")
          names.foreach { case (name, _) =>
            println(f"$name%-24s ${times(name).map(cell).mkString(" ")}")
          }
          val totals = (0 until rounds).map(i => names.map(n => times(n._1)(i)).sum)
          println(f"${"TOTAL"}%-24s ${totals.map(cell).mkString(" ")}")
        case "bigbuild" =>
          // Order-of-magnitude validation tier (round-5 verdict item 5):
          // build an index over a 4M-doc corpus (10x the largest measured
          // tier) with the SAME salt threshold as the 400k bench tier
          // (20000), so head-term dfs exceed it by ~100x and the salting
          // path carries real weight; then record file counts and the
          // bench-methodology warm/cold BM25 top-10 latency on the result.
          // args: bigbuild <pagesDir> <idxDir>
          val pagesDir = args.lift(1).getOrElse(sys.error("bigbuild <pagesDir> <idxDir>"))
          val idxDir = args.lift(2).getOrElse(sys.error("bigbuild <pagesDir> <idxDir>"))
          val cfg = graft.index.IndexBuild.Config(
            shards = 8, saltThresholdDf = 20000L, nBatches = 1, buckets = 16)
          val pages = graft.store.TableStore.open(spark, pagesDir).read("")
            .as[graft.corpus.PageRow](
              org.apache.spark.sql.Encoders.product[graft.corpus.PageRow])
          val nDocs = pages.count()
          val t0 = System.nanoTime()
          graft.index.IndexBuild.run(spark, pages, idxDir, cfg)
          val buildS = (System.nanoTime() - t0) / 1e9
          // file census per table (small-files health at the bigger tier)
          def census(table: String): (Int, Long) = {
            val root = java.nio.file.Paths.get(idxDir, table)
            if (!java.nio.file.Files.exists(root)) (0, 0L)
            else {
              val s = java.nio.file.Files.walk(root)
              try {
                val files = s.filter(p => java.nio.file.Files.isRegularFile(p) &&
                  p.getFileName.toString.endsWith(".parquet"))
                  .toArray.map(_.asInstanceOf[java.nio.file.Path])
                (files.length, files.map(java.nio.file.Files.size).sum)
              } finally s.close()
            }
          }
          val tables = Seq("index", "docs", "lemma_stats")
          val censusJson = tables.map { t =>
            val (n, b) = census(t)
            s""""$t":{"files":$n,"bytes":$b}"""
          }.mkString(",")
          val headTerms = graft.store.TableStore.open(spark, idxDir).manifest.fold(0)(_.heads.size)
          // latency, same methodology as the frozen bench's section 3:
          // cold = first execution per fixture query (segment fetch jobs
          // included), warm = 4 repeated rounds (posting-cache hits)
          val engine = new graft.queryengine.SearchEngine(
            spark, idxDir, pagesDir, graft.core.Bm25())
          val qs = BenchQueries.queries
          engine.topK(qs.head, 10) // JIT warm-up, not measured
          def ms(f: => Unit): Double = {
            val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e6
          }
          val cold = qs.tail.map(q => ms(engine.topK(q, 10))).sorted
          val warm = (0 until 4).flatMap(_ =>
            qs.map(q => ms(engine.topK(q, 10)))).sorted
          println(
            s"""{"tier":"4m","docs":$nDocs,"build_s":${f"$buildS%.1f"},""" +
            s""""docs_per_sec":${f"${nDocs / buildS}%.1f"},"cpus":$cpus,""" +
            s""""salt_threshold_df":20000,"head_terms":$headTerms,""" +
            s""""tables":{$censusJson},""" +
            s""""bm25_cold_p50_ms":${f"${cold(cold.size / 2)}%.1f"},""" +
            s""""bm25_cold_max_ms":${f"${cold.last}%.1f"},""" +
            s""""bm25_warm_p50_ms":${f"${warm(warm.size / 2)}%.1f"},""" +
            s""""bm25_warm_p95_ms":${f"${warm(math.min(warm.size - 1, (warm.size * 0.95).toInt))}%.1f"}}""")
        case other =>
          System.err.println(s"unknown mode: $other (plans|time|bigbuild)")
      }
    } finally spark.stop()
  }
}
