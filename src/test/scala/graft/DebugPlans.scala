package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.corpus.{CorpusGen, PageRow}
import graft.index.IndexBuild
import graft.ops.DocOps

/** Physical-plan inspection: pushdown / pruning / codegen evidence. */
object DebugPlans {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.01"

    println("===== q01 postings scan (expect ReadSchema doc_id,text only) =====")
    println(DocOps.tfPostings(spark, d).queryExecution.executedPlan.toString.take(2500))

    println("===== q10 bm25 (expect broadcast of df dim; no extra shuffles) =====")
    DocOps.bm25Top10(spark, d).explain("formatted")

    println("===== engine segment fetch (expect bucket partition pruning + term pushdown) =====")
    val work = Files.createTempDirectory("graft-plans").toString
    CorpusGen.generate(spark, CorpusGen.Config(2, 100)).write.parquet(s"$work/pages")
    val ds = spark.read.parquet(s"$work/pages").as[PageRow](org.apache.spark.sql.Encoders.product[PageRow])
    IndexBuild.run(spark, ds, s"$work/idx", IndexBuild.Config(nBatches = 1))
    val segs = spark.read.parquet(s"$work/idx/index")
      .filter(col("bucket").isin(3, 7) && col("term").isin("баб", "бом"))
    segs.explain("formatted")

    println("===== segments build (expect ONE Exchange) =====")
    import spark.implicits._
    val head = graft.store.TableStore.open(spark, s"$work/idx").manifest.get.heads.toDF("term")
    val post = IndexBuild.analyze(ds)
      .select(col("doc_id").as("ord"), col("site"), col("dl"), explode(col("terms")).as(Seq("term", "tf")))
    val plan = IndexBuild.buildSegments(post, head, IndexBuild.Config(), 8)
      .queryExecution.executedPlan.toString
    println("Exchange count: " + "Exchange".r.findAllIn(plan).size)
    println(plan.take(2200))
    spark.stop()
  }
}
