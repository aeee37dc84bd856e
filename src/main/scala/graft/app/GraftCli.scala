package graft.app

import org.apache.spark.sql.SparkSession

import graft.core.{Bm25, ReferenceTfSum, Scorer}
import graft.corpus.{CorpusGen, PageRow}
import graft.index.IndexBuild
import graft.queryengine.{SearchEngine, Statistics}

/** spark-submit entry points for the engine (SURVEY.md §7 `app/`):
  *
  *   gen    <nSites> <pagesPerSite> <pagesDir>       — synthetic corpus
  *   build  <pagesDir> <indexDir> [nBatches]          — full index build (resumable)
  *   search <indexDir> <pagesDir> <tfsum|bm25> <query> [offset] [limit] [siteUrl]
  *   stats  <indexDir>                                — manifest summary + per-site statistics
  *   indexpage <pagesDir> <indexDir> <url>            — /api/indexPage with error shapes
  *   stream <pagesDir> <indexDir> [once]              — continuous page-feed ingest
  *   stop   <indexDir>                                — graceful stop of a running build
  *
  * In-sandbox this runs on local[*]; on a cluster the same mains run
  * unchanged under spark-submit (the session builder only sets master
  * when none is provided).
  */
object GraftCli {
  def main(args: Array[String]): Unit = {
    val spark = {
      val b = SparkSession.builder().appName("graft")
        .config("spark.sql.shuffle.partitions",
          sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors().toString))
        .config("spark.sql.session.timeZone", "UTC")
      if (sys.props.get("spark.master").isEmpty && sys.env.get("MASTER").isEmpty)
        b.master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "*")}]")
      b.getOrCreate()
    }
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.Encoders

    args.toList match {
      case "gen" :: nSites :: perSite :: out :: rest =>
        val cfg = rest match {
          case aw :: Nil => CorpusGen.Config(nSites.toInt, perSite.toInt, avgWords = aw.toInt)
          case _ => CorpusGen.Config(nSites.toInt, perSite.toInt)
        }
        // bucket-partitioned by pb = pmod(xxhash64(url), B) so the search
        // presentation fetch prunes to the slice's buckets (round-6)
        CorpusGen.writeBucketed(
          graft.store.TableStore.open(spark, out),
          CorpusGen.generate(spark, cfg).toDF)
        println(s"wrote ${cfg.nDocs} pages to $out")

      case "build" :: pagesDir :: indexDir :: rest =>
        val cfg = rest match {
          case n :: Nil => IndexBuild.Config(nBatches = n.toInt)
          case _ => IndexBuild.Config()
        }
        val pages = graft.store.TableStore.open(spark, pagesDir)
          .read("").as[PageRow](Encoders.product[PageRow])
        val t0 = System.nanoTime()
        val built = IndexBuild.run(spark, pages, indexDir, cfg)
        val sec = (System.nanoTime() - t0) / 1e9
        val n = graft.store.TableStore.open(spark, indexDir)
          .read("stats").collect()(0).getAs[Long]("n_docs")
        println(f"built $built batches, $n docs in $sec%.1f s (${n / sec}%.0f docs/s)")

      case "refresh" :: pagesDir :: indexDir :: url :: Nil =>
        // re-index one page from the (updated) pages table — §3.3 indexPage
        import org.apache.spark.sql.functions.col
        // latest-wins on warc_ts: a re-crawled pages table can hold
        // several versions of the url; refresh the newest one
        val one = graft.store.TableStore.open(spark, pagesDir)
          .read("").filter(col("url") === url)
          .orderBy(col("warc_ts").desc).limit(1)
          .as[PageRow](Encoders.product[PageRow])
        require(one.count() == 1, s"url not found in $pagesDir: $url")
        graft.index.Refresh.refreshPages(spark, indexDir, one)
        println(s"refreshed $url")

      case "delete" :: indexDir :: url :: Nil =>
        graft.index.Refresh.deletePages(spark, indexDir, Seq(url))
        println(s"deleted $url")

      case "search" :: indexDir :: pagesDir :: scorerName :: query :: rest =>
        val scorer: Scorer = scorerName match {
          case "bm25" => Bm25()
          case "tfsum" => ReferenceTfSum
          case other => sys.error(s"unknown scorer '$other' (use tfsum|bm25)")
        }
        val (offset, limit, site) = rest match {
          case o :: l :: s :: Nil => (o.toInt, l.toInt, Some(s))
          case o :: l :: Nil => (o.toInt, l.toInt, None)
          case Nil => (0, 10, None)
          case _ => sys.error("usage: search <indexDir> <pagesDir> <scorer> <query> [offset limit [siteUrl]]")
        }
        val engine = new SearchEngine(spark, indexDir, pagesDir, scorer)
        val t0 = System.nanoTime()
        val resp = engine.search(query, offset, limit, site)
        val ms = (System.nanoTime() - t0) / 1e6
        println(f"query='$query' scorer=$scorerName matches=${resp.count} (${ms}%.0f ms)")
        resp.data.zipWithIndex.foreach { case (item, i) =>
          println(f"${i + offset + 1}%2d. ${item.relevance}%.6f ${item.site}${item.uri}  «${item.title}»")
          println(s"      ${item.snippet.take(120)}")
        }

      case "stats" :: indexDir :: Nil =>
        val m = graft.store.TableStore.open(spark, indexDir).manifest.getOrElse(
          sys.error(s"$indexDir holds no index commit manifest: rebuild it with `GraftCli build`"))
        println(s"manifest v${m.version}: as_of batch ${m.asOf}, ${m.heads.size} head terms, " +
          s"prefetch hint of ${m.mids.size} terms")
        m.tables.toSeq.sortBy(_._1).foreach { case (t, meta) =>
          println(f"  $t%-12s ${meta.bytes}%,12d bytes live in ${meta.parts.size} parts")
        }
        Statistics.compute(spark, indexDir).show(50, truncate = false)

      case "indexpage" :: pagesDir :: indexDir :: url :: Nil =>
        // reference POST /api/indexPage shape incl. error payloads;
        // configured sites = the DISTINCT sites of the corpus, computed
        // in Spark before collecting (a row cap would wrongly reject
        // urls of sites that first appear late in a large corpus)
        import org.apache.spark.sql.functions.col
        val sites = graft.store.TableStore.open(spark, pagesDir).read("")
          .select(col("url")).as[String](Encoders.STRING)
          // scheme from the url itself, not a hardcoded https:// — an
          // http:// corpus must not fail every indexPage site check
          .map { u =>
            val i = u.indexOf("://")
            val scheme = if (i >= 0) u.substring(0, i + 3) else "https://"
            scheme + IndexBuild.siteOf(u)
          }(Encoders.STRING)
          .distinct().collect().toSeq
        val api = new ControlApi(spark, pagesDir, indexDir, sites)
        val resp = api.indexPage(url)
        println(s"result=${resp.result}${resp.error.fold("")(e => s" error='$e'")}")

      case "stream" :: pagesDir :: indexDir :: rest =>
        // continuous ingest: watch pagesDir for new parquet files and fold
        // each micro-batch into the index (bootstrap build on first batch,
        // refresh deltas after). `once` drains available files and exits
        // (scriptable); default runs until terminated.
        val once = rest == List("once")
        if (!once && rest.nonEmpty) sys.error("usage: stream <pagesDir> <indexDir> [once]")
        val q = graft.streaming.IndexStream.run(spark, pagesDir, indexDir,
          // drain mode triggers back-to-back; the long-running service
          // polls the feed dir at a sane interval instead of busy-looping
          trigger = if (once) org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)
            else org.apache.spark.sql.streaming.Trigger.ProcessingTime("10 seconds"))
        if (once) {
          q.processAllAvailable(); q.stop()
          // an empty feed dir processes zero batches and bootstraps no
          // index — report that instead of throwing on the missing stats
          val st = graft.store.TableStore.open(spark, indexDir)
          val n =
            if (st.exists("stats")) st.read("stats").collect()(0).getAs[Long]("n_docs")
            else 0L
          println(s"ingested available feed files ($n docs indexed)")
        } else q.awaitTermination()

      case "stop" :: indexDir :: Nil =>
        // cross-process graceful stop: set the marker the batch loop polls
        graft.store.TableStore.open(spark, indexDir)
          .putMarker(IndexBuild.StopMarker)
        println(s"stop requested (marker ${IndexBuild.StopMarker} set; " +
          "the running build halts after its current batch)")

      case other =>
        System.err.println(
          s"""unknown args: ${other.mkString(" ")}
             |usage:
             |  gen <nSites> <pagesPerSite> <pagesDir>
             |  build <pagesDir> <indexDir> [nBatches]
             |  refresh <pagesDir> <indexDir> <url>
             |  delete <indexDir> <url>
             |  search <indexDir> <pagesDir> <tfsum|bm25> <query> [offset limit [siteUrl]]
             |  stats <indexDir>
             |  indexpage <pagesDir> <indexDir> <url>
             |  stream <pagesDir> <indexDir> [once]
             |  stop <indexDir>""".stripMargin)
        sys.exit(2)
    }
    spark.stop()
  }
}
