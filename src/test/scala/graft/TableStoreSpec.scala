package graft

import java.nio.file.Files

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.store.TableStore

/** ParquetStore durability semantics: `replace` must never have a window
  * where a crash loses the table (the old delete-then-rename had one),
  * and `fingerprint` must detect a replace even when the new table has
  * the same byte length inside one mtime granule (the old mtime×len
  * heuristic missed it). */
class TableStoreSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def fs: FileSystem =
    FileSystem.get(spark.sparkContext.hadoopConfiguration)

  private def freshStore(): (TableStore, String) = {
    val root = Files.createTempDirectory("graft-store").toString
    (TableStore.open(spark, root), root)
  }

  private def oneRow(v: Long) = {
    import spark.implicits._
    Seq(v).toDF("x")
  }

  private def readX(store: TableStore, t: String): Long = {
    import spark.implicits._
    store.read(t).as[Long].collect()(0)
  }

  test("replace: crash BETWEEN the two renames (table dir absent) recovers to the NEW version") {
    val (store, root) = freshStore()
    store.write(oneRow(1L), "t", org.apache.spark.sql.SaveMode.Overwrite)
    // stage the new version exactly as replace() does...
    oneRow(2L).write.parquet(s"$root/t.__new")
    val out = fs.create(new Path(s"$root/t.__new/_version"), true)
    out.writeLong(99L); out.close()
    // ...then simulate the crash window: old moved aside, staged not yet
    // promoted — the table dir does not exist at this instant
    fs.rename(new Path(s"$root/t"), new Path(s"$root/t.__old"))
    assert(!fs.exists(new Path(s"$root/t")))

    assert(readX(store, "t") == 2L, "recovery must promote the complete staged dir")
    assert(fs.exists(new Path(s"$root/t")))
    assert(!fs.exists(new Path(s"$root/t.__old")))
    assert(!fs.exists(new Path(s"$root/t.__new")))
  }

  test("replace: crash with an INCOMPLETE staged dir keeps the old version intact") {
    val (store, root) = freshStore()
    store.write(oneRow(1L), "t", org.apache.spark.sql.SaveMode.Overwrite)
    // staged dir exists but has no _version completeness marker — the
    // crash happened mid-stage, before any rename; table untouched
    oneRow(2L).write.parquet(s"$root/t.__new")
    fs.delete(new Path(s"$root/t.__new/_version"), false)
    assert(readX(store, "t") == 1L)
    // a subsequent replace overwrites the stale staged dir and succeeds
    store.replace(oneRow(3L), "t")
    assert(readX(store, "t") == 3L)
    assert(!fs.exists(new Path(s"$root/t.__new")))
    assert(!fs.exists(new Path(s"$root/t.__old")))
  }

  test("replace: crash AFTER old moved aside but staged incomplete restores the OLD version") {
    val (store, root) = freshStore()
    store.write(oneRow(1L), "t", org.apache.spark.sql.SaveMode.Overwrite)
    oneRow(2L).write.parquet(s"$root/t.__new")
    fs.delete(new Path(s"$root/t.__new/_version"), false)
    fs.rename(new Path(s"$root/t"), new Path(s"$root/t.__old"))
    // note: replace() only moves the table aside AFTER the staged dir is
    // complete, so this state needs a doubly-unlucky crash — recovery
    // still must not lose the table
    assert(readX(store, "t") == 1L)
    assert(fs.exists(new Path(s"$root/t")))
  }

  test("append: concurrent appends to one table do not clobber each other (staged appends)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    import spark.implicits._
    val (store, _) = freshStore()
    // Hadoop FileOutputCommitter shares `_temporary/0` per output dir:
    // two concurrent plain appends can delete each other's attempt dirs
    // (observed as "Mkdirs failed to create …/_temporary/…"). The staged
    // append must make N concurrent appends land all N row sets.
    val n = 6
    val fs = (0 until n).map(i => Future {
      store.write(oneRow(i.toLong), "t", org.apache.spark.sql.SaveMode.Append)
    })
    fs.foreach(Await.result(_, Duration.Inf))
    val got = store.read("t").as[Long].collect().sorted.toSeq
    assert(got == (0L until n.toLong), s"expected all $n appended rows, got $got")
  }

  test("append: a stale crashed staging dir is GC'd by the next append; a fresh one is left alone") {
    val (store, root) = freshStore()
    store.write(oneRow(1L), "t", org.apache.spark.sql.SaveMode.Append)
    val f = fs
    // simulate a crash between the staged write and the final delete:
    // an orphaned sibling staging dir, old enough to be provably dead
    val stale = new Path(s"$root/t.__append-deadbeef0000")
    f.mkdirs(stale)
    f.setTimes(stale, System.currentTimeMillis() - 2L * 60 * 60 * 1000, -1)
    // and a FRESH one (a concurrent in-flight append) that must survive
    val live = new Path(s"$root/t.__append-cafecafe0000")
    f.mkdirs(live)
    store.write(oneRow(2L), "t", org.apache.spark.sql.SaveMode.Append)
    assert(!f.exists(stale), "stale append staging must be swept by the next append")
    assert(f.exists(live), "a recent (possibly in-flight) staging dir must be kept")
    import spark.implicits._
    assert(store.read("t").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("fingerprint detects a same-length replace (monotonic _version, not mtime heuristics)") {
    val (store, _) = freshStore()
    store.write(oneRow(1L), "t", org.apache.spark.sql.SaveMode.Overwrite)
    val fp1 = store.fingerprint(Seq("t"))
    store.replace(oneRow(2L), "t") // identical schema + row count ⇒ same byte length
    val fp2 = store.fingerprint(Seq("t"))
    assert(fp1 != fp2, "replace with same-length content must change the fingerprint")
    // and a same-length plain Overwrite write too (index_meta pattern)
    store.write(oneRow(3L), "t", org.apache.spark.sql.SaveMode.Overwrite)
    val fp3 = store.fingerprint(Seq("t"))
    assert(fp2 != fp3)
  }

  test("open: spark.graft.tableFormat picks the store (parquet by default)") {
    val root = Files.createTempDirectory("graft-store").toString
    val key = "spark.graft.tableFormat"
    assert(spark.conf.getOption(key).isEmpty, s"$key must start unset")
    assert(TableStore.open(spark, root).isInstanceOf[graft.store.ParquetStore])
    try {
      spark.conf.set(key, "parquet")
      assert(TableStore.open(spark, root).isInstanceOf[graft.store.ParquetStore])
      spark.conf.set(key, "iceberg")
      intercept[UnsupportedOperationException](TableStore.open(spark, root))
      spark.conf.set(key, "orc")
      val e = intercept[IllegalArgumentException](TableStore.open(spark, root))
      assert(e.getMessage.contains("'orc'"), s"the error must name the value: ${e.getMessage}")
    } finally spark.conf.unset(key)
  }

  private def jobsOf[T](group: String)(body: => T): (T, Int) =
    JobCount(spark, group)(body)

  test("read: re-reading an unchanged table runs no Spark job, from any store instance") {
    val (store, root) = freshStore()
    store.write(oneRow(1L), "t", org.apache.spark.sql.SaveMode.Overwrite)
    val (_, first) = jobsOf("schema-first")(store.read("t"))
    assert(first > 0, "fixture: the first read infers the schema with a job")
    val (df, again) = jobsOf("schema-again")(store.read("t"))
    assert(again == 0, s"a re-read of an unchanged table ran $again jobs")
    val (_, other) = jobsOf("schema-other")(TableStore.open(spark, root).read("t"))
    assert(other == 0, s"a re-read through a new store ran $other jobs")
    assert(df.schema.fieldNames.toSeq == Seq("x"))
    assert(readX(store, "t") == 1L)
  }

  test("read: after a replace with a different schema, the new schema is read") {
    import spark.implicits._
    val (store, _) = freshStore()
    store.write(oneRow(1L), "t", org.apache.spark.sql.SaveMode.Overwrite)
    assert(store.read("t").schema.fieldNames.toSeq == Seq("x"))
    store.replace(Seq(("a", 2L)).toDF("name", "y"), "t")
    val df = store.read("t")
    assert(df.schema.fieldNames.toSeq == Seq("name", "y"))
    assert(df.as[(String, Long)].collect().toSeq == Seq(("a", 2L)))
  }

  test("read: after drop and re-create, the new table's schema is read") {
    import spark.implicits._
    val (store, root) = freshStore()
    store.write(oneRow(1L), "t", org.apache.spark.sql.SaveMode.Overwrite)
    assert(store.read("t").schema.fieldNames.toSeq == Seq("x"))
    store.drop("t")
    // re-created through another store instance: the cache is JVM-wide
    TableStore.open(spark, root).write(Seq(("b", 3)).toDF("name", "z"), "t",
      org.apache.spark.sql.SaveMode.Append)
    val df = store.read("t")
    assert(df.schema.fieldNames.toSeq == Seq("name", "z"))
    assert(df.as[(String, Int)].collect().toSeq == Seq(("b", 3)))
  }
}
