package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.store.TableStore

/** Test views of an index directory through its latest manifest. */
object IndexDir {
  /** The `stats` row the latest manifest carries. */
  def stats(spark: SparkSession, root: String): Row =
    TableStore.open(spark, root).read("stats").collect()(0)

  /** The salted head terms the latest manifest carries. */
  def heads(spark: SparkSession, root: String): Seq[String] =
    TableStore.open(spark, root).manifest.get.heads

  /** A file-by-file copy of the index directory `from` at `to`, whose
    * parent must exist. */
  def copy(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val s = Files.walk(src)
    try s.iterator().asScala.toSeq.foreach { f =>
      Files.copy(f, Paths.get(to).resolve(src.relativize(f).toString))
    } finally s.close()
  }

  /** Every regular file under `root` that the latest manifest does not
    * reference; manifest files and other `_`-prefixed root entries
    * (checkpoints, markers) aside. */
  def unreferenced(spark: SparkSession, root: String): Seq[String] = {
    val m = TableStore.open(spark, root).manifest.get
    val live = m.tables.values.flatMap(_.parts.map(_.dir)).toSeq
    val base = Paths.get(root)
    Files.walk(base).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      .map(p => base.relativize(p).toString)
      .filterNot(r => r.startsWith("_") || live.exists(d => r.startsWith(d + "/")))
  }
}
