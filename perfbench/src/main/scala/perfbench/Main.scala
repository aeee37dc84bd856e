package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, one workload per JVM:
  *
  *   perfbench.Main --prepare <baseDir>
  *   perfbench.Main --workload <search_hot|search_churn> --seed <n> --seconds <s>
  *                  --trace <0|1> --base <baseDir> --workdir <dir> [--trace-out <file>]
  *
  * `--prepare` builds the base corpus and index once. A workload run
  * starts from that base and prints `RESULT <json>` as its last line:
  * call counts, failures, end-to-end metrics and, with --trace 1, the
  * per-layer metrics and the per-call trace summary. Spark runs at
  * local[N], N = available cores.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val prepare = args.get("prepare")
    val workload = args.getOrElse("workload", "")
    val seed = args.getOrElse("seed", "0").toLong
    val seconds = args.getOrElse("seconds", "0").toInt
    val trace = args.getOrElse("trace", "0") == "1"
    val workdir = prepare.getOrElse(args("workdir"))
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder().appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workdir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workdir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val tracer = new Tracer(spark.sparkContext, trace)
    val w = new Workloads(spark, tracer, workdir, seed, seconds, cores)
    val props = new java.util.Properties
    prepare.foreach { dir =>
      val b = w.prepareBase(dir)
      Seq("pages" -> b.pagesDir, "index" -> b.indexDir, "n_docs" -> b.nDocs.toString,
        "digest" -> b.digest.toString, "html_bytes" -> b.htmlBytes.toString)
        .foreach { case (k, v) => props.setProperty(k, v) }
      val f = new java.io.FileOutputStream(s"$dir/base.properties")
      try props.store(f, "perfbench base") finally f.close()
      println(s"PREPARED ${b.nDocs} docs")
      spark.stop()
      System.exit(0)
    }
    val in = new java.io.FileInputStream(s"${args("base")}/base.properties")
    try props.load(in) finally in.close()
    val base = Base(props.getProperty("pages"), props.getProperty("index"),
      props.getProperty("n_docs").toLong, props.getProperty("digest").toLong,
      props.getProperty("html_bytes").toLong)
    val out = workload match {
      case "search_hot" => w.searchHot(base)
      case "search_churn" => w.searchChurn(base)
      case other => sys.error(s"unknown workload '$other'")
    }

    val layer = scala.collection.mutable.LinkedHashMap.empty[String, Double] ++= out.layer
    var summary: Map[String, Map[String, Double]] = Map.empty
    if (trace) {
      layer ++= Kernels.probe(spark, tracer, out.pagesDir, out.indexDir, out.pool)
      tracer.ledger.foreach(_.drain(spark.sparkContext))
      val report = new TraceReport(tracer, cores)
      layer ++= report.layerMetrics(out.layer)
      summary = report.summary
      args.get("trace-out").foreach { f =>
        Files.write(Paths.get(f), report.toJson.getBytes(StandardCharsets.UTF_8))
      }
    }
    layer("op_error_ratio") = out.failed.toDouble / math.max(1L, out.attempted)

    println("RESULT " + Json.render(Map(
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "attempted" -> out.attempted, "failed" -> out.failed, "failures" -> out.failures,
      "end_to_end" -> out.endToEnd, "per_layer" -> layer, "trace_summary" -> summary)))
    System.out.flush()
    spark.stop()
    System.exit(0)
  }
}
