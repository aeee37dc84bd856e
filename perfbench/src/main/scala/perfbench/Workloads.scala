package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Bm25, ReferenceTfSum, Scorer}
import graft.corpus.{CorpusGen, PageRow}
import graft.index.{IndexBuild, Refresh}
import graft.queryengine.{SearchEngine, SearchResponse}
import graft.store.TableStore

/** The shared starting point of every run: the base corpus and its
  * index, built once per checkout by `Main --prepare`. */
final case class Base(pagesDir: String, indexDir: String, nDocs: Long, digest: Long,
    htmlBytes: Long)

object Workloads {
  /** Web-page-sized documents (~400 words) over four sites. One corpus
    * for every run: a build per run would not fit the run budget, so the
    * seed drives the query stream, the churn plan and the re-crawled
    * content instead. */
  val BaseCorpus: CorpusGen.Config = CorpusGen.Config(4, 300, seed = 42L, avgWords = 400)
}

/** What one run measured: the call counts, the end-to-end metrics, the
  * per-layer metrics that do not need the trace, and the failures. */
final case class Outcome(attempted: Long, failed: Long, failures: Seq[String],
    endToEnd: Map[String, Double], layer: Map[String, Double], pool: Seq[Query],
    pagesDir: String, indexDir: String)

/** The two workloads. Each is a closed loop with one client thread:
  * `SearchEngine` is not safe for concurrent callers, so a second client
  * would measure a race, not the engine.
  *
  * Every workload reports the same end-to-end metrics; `op` is the
  * workload's own unit of user-visible work (one `topK` call, one commit
  * cycle).
  */
final class Workloads(spark: SparkSession, tracer: Tracer, workdir: String,
    seed: Long, seconds: Int, cores: Int) {
  import spark.implicits._
  import Workloads._

  val SetupRepeats = 3
  /** Fewest calls a stream makes even when the run's time is up: enough
    * for a topK p90 under the ten-beyond rule, and a search median. */
  val MinTopK: Int = Stats.sizeFor(90)
  val MinSearches = 10

  private var attempted = 0L
  private var failed = 0L
  private val failures = mutable.ArrayBuffer.empty[String]
  private val layer = mutable.LinkedHashMap.empty[String, Double]

  private val born = System.nanoTime()
  /** Wall clock at the end of each step, for the run record. */
  private def mark(step: String): Unit = layer(s"phase.$step") = (System.nanoTime() - born) / 1e9

  private def now(): Long = System.nanoTime()
  private def msSince(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Ops slower than this count as failed (timed out). */
  val OpTimeoutMs = 60000.0

  /** One counted call: timed, checked, and on an exception, a timeout
    * or a wrong result, counted as failed with +Infinity in `sample`. */
  private def call[A](name: String, sample: mutable.Buffer[Double])(body: => A)(
      check: A => Option[String]): Option[A] = {
    attempted += 1
    val t0 = now()
    val r: Either[String, A] =
      try Right(tracer.span(name)(body))
      catch { case NonFatal(e) => Left(s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    val ms = msSince(t0)
    r.flatMap(a =>
      if (ms > OpTimeoutMs) Left(f"$name timed out after $ms%.0f ms")
      else check(a).map(why => s"$name: $why").toLeft(a)) match {
      case Right(a) => sample += ms; Some(a)
      case Left(why) =>
        failed += 1
        if (failures.size < 20) failures += why
        sample += Double.PositiveInfinity
        None
    }
  }

  private val noCheck: Any => Option[String] = _ => None

  private val cpu = new CpuMeter(spark.sparkContext)

  // ── inputs and shared steps ─────────────────────────────────────────

  private def writeCorpus(dir: String, cfg: CorpusGen.Config): Unit =
    tracer.span("corpus.CorpusGen.writeBucketed") {
      CorpusGen.writeBucketed(TableStore.open(spark, dir),
        CorpusGen.generate(spark, cfg, numPartitions = 2 * cores).toDF())
    }

  private def pages(dir: String): Dataset[PageRow] =
    TableStore.open(spark, dir).read("").as[PageRow](Encoders.product[PageRow])

  private def htmlBytes(dir: String): Long =
    TableStore.open(spark, dir).read("").agg(sum(length(col("html")))).collect()(0).getLong(0)

  private def nDocsOf(indexDir: String): Long =
    TableStore.open(spark, indexDir).read("stats").collect()(0).getAs[Long]("n_docs")

  /** `GraftCli build`: IndexBuild.run with the default config, then the
    * segment merge. Returns (run ms, merge ms). */
  private def buildIndex(pagesDir: String, indexDir: String,
      sample: mutable.Buffer[Double]): Option[(Double, Double)] = {
    var runMs = 0.0
    call("index.build", sample) {
      val t0 = now()
      tracer.span("index.IndexBuild.run")(IndexBuild.run(spark, pages(pagesDir), indexDir, IndexBuild.Config()))
      runMs = msSince(t0)
      val t1 = now()
      tracer.span("index.IndexBuild.mergeSegments")(IndexBuild.mergeSegments(spark, indexDir))
      (runMs, msSince(t1))
    }(noCheck)
  }

  /** (bytes, files) under a directory, as on disk. */
  private def du(dir: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
        .foldLeft((0L, 0L)) { case ((b, n), f) => (b + Files.size(f), n + 1) }
      finally s.close()
    }
  }

  private def storeMetrics(indexDir: String): Unit = {
    for (t <- Seq("index", "segments", "docs", "doc_terms", "lemma_stats"))
      layer(s"store.${t}_bytes") = du(s"$indexDir/$t")._1.toDouble
    layer("store.files") = du(indexDir)._2.toDouble
  }

  /** Engine open as a user pays it: constructor plus the first query,
    * against a cold Spark cache. */
  private def openEngine(indexDir: String, pagesDir: String, scorer: Scorer,
      first: Query, sample: mutable.Buffer[Double]): Option[SearchEngine] = {
    spark.catalog.clearCache()
    call("queryengine.load", sample) {
      val e = tracer.span("queryengine.SearchEngine.<init>")(
        new SearchEngine(spark, indexDir, pagesDir, scorer))
      tracer.span("queryengine.SearchEngine.topK@load")(e.topK(first.text, 10))
      e
    }(noCheck)
  }

  /** The response invariants every search must keep: at most `limit`
    * rows, `count` ≥ rows, rows ordered (relevance desc, url asc), no
    * deleted url, no match for a zero-class query. */
  private def checkResponse(q: Query, r: SearchResponse, gone: collection.Set[String]): Option[String] = {
    val urls = r.data.map(i => i.site + i.uri)
    val ordered = r.data.zip(r.data.drop(1)).forall { case (a, b) =>
      a.relevance > b.relevance ||
        (a.relevance == b.relevance && (a.site + a.uri) < (b.site + b.uri))
    }
    if (!r.result) Some(s"'${q.text}' result=false")
    else if (r.data.size > 10) Some(s"'${q.text}' returned ${r.data.size} rows for limit 10")
    else if (r.count < r.data.size) Some(s"'${q.text}' count ${r.count} < rows ${r.data.size}")
    else if (!ordered) Some(s"'${q.text}' rows not ordered by (relevance desc, url asc)")
    else if (q.cls == "zero" && r.count != 0) Some(s"'${q.text}' matched an out-of-dictionary word")
    else urls.find(gone.contains).map(u => s"'${q.text}' returned deleted url $u")
  }

  /** Runs `search` on one stream query, checking the invariants and that
    * a repeat of the same request returns the same answer. */
  private def search(engine: SearchEngine, q: Query, name: String,
      sample: mutable.Buffer[Double], byClass: mutable.Map[String, mutable.Buffer[Double]],
      seen: mutable.Map[Query, (Long, Seq[(String, Double)])],
      gone: collection.Set[String]): Unit = {
    val before = sample.size
    call(name, sample)(engine.search(q.text, q.offset, 10, q.site)) { r =>
      checkResponse(q, r, gone).orElse {
        val got = (r.count, r.data.map(i => (i.site + i.uri, i.relevance)))
        seen.get(q) match {
          case Some(prev) if prev != got => Some(s"'${q.text}'@${q.offset} changed on repeat")
          case _ => seen(q) = got; None
        }
      }
    }
    byClass.getOrElseUpdate(q.cls, mutable.ArrayBuffer.empty) ++= sample.drop(before)
  }

  private def p50(xs: collection.Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.percentile(xs, 50)

  /** Heap still reachable after a full collection, with the engine,
    * its caches and Spark's cached tables alive: what the process keeps. */
  private def retainedHeapMb(): Double = {
    layer("jvm.peak_rss_mb") = peakRssMb()
    System.gc()
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    heap.getUsed / 1048576.0
  }

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  private def outcome(setup: Seq[Double], op: Seq[Double], opCpuMs: Seq[Double],
      topk: collection.Seq[Double], base: Base, indexDir: String): Outcome = {
    storeMetrics(indexDir)
    layer("queryengine.topk.p50_ms") = Stats.percentile(topk, 50)
    layer("op.wall_p50_ms") = Stats.percentile(op, 50)
    checkRebuild(base)
    mark("checks")
    Outcome(attempted, failed, failures.toList,
      Map(
        "setup_s" -> Stats.median(setup) / 1000.0,
        "op_p50_ms" -> Stats.percentile(op, 50),
        "op_cpu_ms" -> Stats.median(opCpuMs),
        "stored_bytes_per_page_byte" -> du(indexDir)._1.toDouble / base.htmlBytes,
        "retained_heap_mb" -> retainedHeapMb()),
      layer.toMap, Inputs.queryPool(seed, BaseCorpus.nSites), base.pagesDir, indexDir)
  }

  /** Order-independent digest of the merged index rows. */
  private def digest(indexDir: String): Long =
    TableStore.open(spark, indexDir).read("index")
      .agg(expr("bit_xor(xxhash64(bucket, term, shard, doc_count, block_max, postings))"))
      .collect()(0).getLong(0)

  /** Builds the shared base: the corpus as `GraftCli gen` writes it and
    * its index as `GraftCli build` makes it. Every page is indexed, so
    * n_docs must equal the page count. */
  def prepareBase(dir: String): Base = {
    val pagesDir = s"$dir/pages"
    val indexDir = s"$dir/index"
    writeCorpus(pagesDir, BaseCorpus)
    buildIndex(pagesDir, indexDir, mutable.ArrayBuffer.empty)
      .getOrElse(sys.error(s"index build failed: ${failures.mkString("; ")}"))
    val base = Base(pagesDir, indexDir, nDocsOf(indexDir), digest(indexDir), htmlBytes(pagesDir))
    require(base.nDocs == BaseCorpus.nDocs, s"build indexed ${base.nDocs} docs from ${BaseCorpus.nDocs} pages")
    base
  }

  /** The run's own copy of the base index: runs that write change only it. */
  private def copyIndex(base: Base): String = {
    val to = Paths.get(s"$workdir/index")
    val from = Paths.get(base.indexDir)
    val s = Files.walk(from)
    try s.forEach(f => Files.copy(f, to.resolve(from.relativize(f).toString)))
    finally s.close()
    to.toString
  }

  /** Traced runs only, as it costs a build: the base corpus built again
    * must give the base's n_docs and index digest. The rebuild also
    * supplies the `index.build` layer figures. */
  private def checkRebuild(base: Base): Unit =
    if (tracer.enabled) {
      val dir = s"$workdir/rebuild"
      val built = cpu.measure("rebuild")(buildIndex(base.pagesDir, dir, mutable.ArrayBuffer.empty))
      built.foreach { case (r, m) =>
        layer("index.build.run_s") = r / 1000
        layer("index.build.merge_s") = m / 1000
        layer("index.build.docs_per_s") = base.nDocs / ((r + m) / 1000)
        layer("index.build.cpu_ms_per_doc") = cpu.ms(Seq("rebuild")).head / base.nDocs
        call("index.rebuild_digest", mutable.ArrayBuffer.empty[Double])((nDocsOf(dir), digest(dir))) {
          case (n, d) =>
            if (n == base.nDocs && d == base.digest) None
            else Some(s"rebuild gave n_docs $n digest $d, base has ${base.nDocs} ${base.digest}")
        }
      }
      deleteDir(dir)
    }

  private def deleteDir(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
  }

  private def openEngines(indexDir: String, pagesDir: String, scorer: Scorer,
      first: Query, loads: mutable.ArrayBuffer[Double]): SearchEngine = {
    val engines = (1 to SetupRepeats).flatMap(_ => openEngine(indexDir, pagesDir, scorer, first, loads))
    layer("queryengine.load_s") = Stats.median(loads) / 1000
    mark("load")
    engines.lastOption.getOrElse(sys.error(s"engine load failed: ${failures.mkString("; ")}"))
  }

  // ── search_hot ──────────────────────────────────────────────────────

  /** Read-only, cache-resident: one BM25 engine serves a `topK` stream
    * (two fifths of the time) and then a `search` stream. The op is one
    * `topK(q, 10)` call, the BM25 top-10 north-star path; `search`, the
    * API path, is reported per layer. */
  def searchHot(base: Base): Outcome = {
    val pagesDir = base.pagesDir
    val indexDir = copyIndex(base)
    val pool = Inputs.queryPool(seed, BaseCorpus.nSites)
    val stream = Inputs.queryStream(pool, seed)
    val loads = mutable.ArrayBuffer.empty[Double]
    val engine = openEngines(indexDir, pagesDir, Bm25(), pool.find(_.site.isEmpty).get, loads)

    val topk = mutable.ArrayBuffer.empty[Double]
    val tk = now()
    val ops = topKStream(engine, stream, topk, mutable.Map.empty)(
      _ => now() < tk + (seconds * 0.4e9).toLong || topk.size < MinTopK)
    val topkS = (now() - tk) / 1e9

    val searches = mutable.ArrayBuffer.empty[Double]
    val byClass = mutable.Map.empty[String, mutable.Buffer[Double]]
    val seen = mutable.Map.empty[Query, (Long, Seq[(String, Double)])]
    val t0 = now()
    val end = t0 + (seconds * 0.6e9).toLong
    stream.takeWhile(_ => now() < end || searches.size < MinSearches).foreach { q =>
      search(engine, q, "queryengine.SearchEngine.search", searches, byClass, seen, Set.empty)
    }
    val searchS = (now() - t0) / 1e9
    mark("measure")

    // pruned WAND must return what exhaustive evaluation returns
    pool.filter(_.site.isEmpty).take(20).foreach { q =>
      call("queryengine.SearchEngine.topK(exact)", mutable.ArrayBuffer.empty[Double])(
        (engine.topK(q.text, 10, pruned = true), engine.topK(q.text, 10, pruned = false))) {
        case (p, e) => if (p == e) None else Some(s"pruned topK differs from exact for '${q.text}'")
      }
    }
    searchLayer(searches, byClass, searchS)
    layer("queryengine.topk.p90_ms") = Stats.percentile(topk, 90)
    layer("queryengine.topk.qps") = topk.count(!_.isInfinite) / topkS
    outcome(loads.toSeq, topk.toSeq, cpu.ms(ops), topk, base, indexDir)
  }

  /** `topK(q, 10)` over the stream's site-less page-1 requests (topK
    * has no site or offset) while `more(calls so far)`; a repeat of a
    * query must return the same ranking. */
  private def topKStream(engine: SearchEngine, stream: Iterator[Query], sample: mutable.Buffer[Double],
      seen: mutable.Map[String, Seq[(Long, Double)]])(more: Int => Boolean): Seq[String] = {
    val start = sample.size
    val ops = mutable.ArrayBuffer.empty[String]
    stream.filter(q => q.site.isEmpty && q.offset == 0)
      .takeWhile(_ => more(sample.size - start)).foreach { q =>
        ops += s"topk.${sample.size}"
        call("queryengine.SearchEngine.topK", sample)(cpu.measure(ops.last)(engine.topK(q.text, 10))) { r =>
          seen.get(q.text) match {
            case Some(prev) if prev != r => Some(s"topK '${q.text}' changed on repeat")
            case _ => seen(q.text) = r; None
          }
        }
      }
    ops.toList
  }

  private def searchLayer(searches: collection.Seq[Double],
      byClass: collection.Map[String, mutable.Buffer[Double]], wallS: Double): Unit = {
    layer("queryengine.search.p50_ms") = p50(searches)
    layer("queryengine.search.qps") = searches.count(!_.isInfinite) / wallS
    for (c <- Inputs.Classes)
      layer(s"queryengine.search.${c}_p50_ms") = p50(byClass.getOrElse(c, Nil).toSeq)
  }

  // ── search_churn ────────────────────────────────────────────────────

  /** Writes beside reads. A cycle re-crawls a batch of pages (same urls,
    * content drawn from the seed) with `refreshPages`, deletes a few urls
    * with `deletePages`, and reads. Every commit invalidates the
    * engine's caches, so the first search after it runs the miss path.
    * The op is one cycle up to and including that first search; cycles
    * repeat until the run's time is up, at least one. */
  val RefreshPerCycle = 20
  val DeletePerCycle = 5
  val SearchesPerCycle = 3
  val TopKPerCycle = 10
  val MaxCycles = 40

  def searchChurn(base: Base): Outcome = {
    val pagesDir = base.pagesDir
    val indexDir = copyIndex(base)
    val recrawl = BaseCorpus.copy(seed = seed + 1000003L)
    val pool = Inputs.queryPool(seed, BaseCorpus.nSites)
    val stream = Inputs.queryStream(pool, seed)
    val plan = Inputs.churnPlan(seed, BaseCorpus.nDocs.toInt, MaxCycles, RefreshPerCycle, DeletePerCycle)
    val loads = mutable.ArrayBuffer.empty[Double]
    val engine = openEngines(indexDir, pagesDir, ReferenceTfSum, pool.find(_.site.isEmpty).get, loads)

    val gone = mutable.Set.empty[String]
    var expectedDocs = base.nDocs
    val cycles, refresh, delete, afterCommit, searches, topk = mutable.ArrayBuffer.empty[Double]
    val byClass = mutable.Map.empty[String, mutable.Buffer[Double]]
    var wallS = 0.0
    var searchS = 0.0
    var refreshHtml = 0L
    var growth = Seq(du(indexDir))
    val end = now() + seconds * 1000000000L
    var c = 0
    while (c < plan.size && (c == 0 || now() < end)) {
      val (refreshIdx, deleteIdx) = plan(c)
      val batch = refreshIdx.map(i => CorpusGen.pageAt(recrawl, i))
      val urls = deleteIdx.map(i => CorpusGen.pageAt(BaseCorpus, i).url)
      // a commit changes results: the repeat check restarts per cycle
      val seen = mutable.Map.empty[Query, (Long, Seq[(String, Double)])]
      val t0 = now()
      cpu.measure(s"cycle.$c") {
        call("index.Refresh.refreshPages", refresh)(
          Refresh.refreshPages(spark, indexDir, spark.createDataset(batch)(Encoders.product[PageRow])))(noCheck)
        call("index.Refresh.deletePages", delete)(Refresh.deletePages(spark, indexDir, urls))(noCheck)
        gone ++= urls
        expectedDocs -= urls.size
        search(engine, stream.next(), "queryengine.SearchEngine.search@after_commit", afterCommit,
          mutable.Map.empty, seen, gone)
      }
      cycles += msSince(t0)
      val ts = now()
      stream.take(SearchesPerCycle).foreach(q =>
        search(engine, q, "queryengine.SearchEngine.search", searches, byClass, seen, gone))
      searchS += (now() - ts) / 1e9
      topKStream(engine, stream, topk, mutable.Map.empty)(_ < TopKPerCycle)
      wallS += (now() - t0) / 1e9
      refreshHtml += batch.map(_.html.length.toLong).sum
      call("store.stats.n_docs", mutable.ArrayBuffer.empty[Double])(nDocsOf(indexDir)) { n =>
        if (n == expectedDocs) None else Some(s"n_docs $n after deletes, expected $expectedDocs")
      }
      growth :+= du(indexDir)
      c += 1
    }
    mark("measure")

    searchLayer(searches, byClass, searchS)
    layer("queryengine.search_after_commit.p50_ms") = p50(afterCommit)
    layer("index.refresh.p50_ms") = p50(refresh)
    layer("index.delete.p50_ms") = p50(delete)
    layer("index.refresh.html_bytes") = refreshHtml.toDouble
    layer("store.bytes_growth_per_cycle") = (growth.last._1 - growth.head._1).toDouble / c
    layer("store.files_growth_per_cycle") = (growth.last._2 - growth.head._2).toDouble / c
    layer("queryengine.topk.p90_ms") = Stats.percentile(topk, 90)
    layer("index.churn.pages_per_s") = c * (RefreshPerCycle + DeletePerCycle) / wallS
    outcome(loads.toSeq, cycles.toSeq, cpu.ms((0 until c).map(i => s"cycle.$i")), topk, base, indexDir)
  }
}
