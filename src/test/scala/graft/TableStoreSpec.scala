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
    store.replace(oneRow(1L), "t")
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
    store.replace(oneRow(1L), "t")
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
    store.replace(oneRow(1L), "t")
    oneRow(2L).write.parquet(s"$root/t.__new")
    fs.delete(new Path(s"$root/t.__new/_version"), false)
    fs.rename(new Path(s"$root/t"), new Path(s"$root/t.__old"))
    // note: replace() only moves the table aside AFTER the staged dir is
    // complete, so this state needs a doubly-unlucky crash — recovery
    // still must not lose the table
    assert(readX(store, "t") == 1L)
    assert(fs.exists(new Path(s"$root/t")))
  }

  test("fingerprint detects a same-length replace (monotonic _version, not mtime heuristics)") {
    val (s, _) = freshStore()
    val store = s.asInstanceOf[graft.store.ParquetStore] // the corpus-root schema-cache stamp
    store.replace(oneRow(1L), "t")
    val fp1 = store.fingerprint(Seq("t"))
    store.replace(oneRow(2L), "t") // identical schema + row count ⇒ same byte length
    val fp2 = store.fingerprint(Seq("t"))
    assert(fp1 != fp2, "replace with same-length content must change the fingerprint")
    // and every further same-length replace too
    store.replace(oneRow(3L), "t")
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
    store.replace(oneRow(1L), "t")
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
    store.replace(oneRow(1L), "t")
    assert(store.read("t").schema.fieldNames.toSeq == Seq("x"))
    store.replace(Seq(("a", 2L)).toDF("name", "y"), "t")
    val df = store.read("t")
    assert(df.schema.fieldNames.toSeq == Seq("name", "y"))
    assert(df.as[(String, Long)].collect().toSeq == Seq(("a", 2L)))
  }

  test("read: after drop and re-create, the new table's schema is read") {
    import spark.implicits._
    val (store, root) = freshStore()
    store.replace(oneRow(1L), "t")
    assert(store.read("t").schema.fieldNames.toSeq == Seq("x"))
    fs.delete(new Path(s"$root/t"), true) // dropped outside the store
    // re-created through another store instance: the cache is JVM-wide
    TableStore.open(spark, root).replace(Seq(("b", 3)).toDF("name", "z"), "t")
    val df = store.read("t")
    assert(df.schema.fieldNames.toSeq == Seq("name", "z"))
    assert(df.as[(String, Int)].collect().toSeq == Seq(("b", 3)))
  }

  // ── index roots: copy-on-write commits published through a manifest ──

  private def unreferencedFiles(root: String): Seq[String] = IndexDir.unreferenced(spark, root)

  private def statusRows(n: Int, tag: String) = {
    import spark.implicits._
    (0 until n).map(i => (s"$tag-$i", "INDEXED")).toDF("site", "status")
  }

  test("commit: status appends racing a batch commit all land; the batch commit re-runs") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    import spark.implicits._
    val (store, root) = freshStore()
    store.commit(_.append(statusRows(1, "boot"), "site_status"))
    val appends = 4
    val appended = new java.util.concurrent.CountDownLatch(appends)
    val attempts = new java.util.concurrent.atomic.AtomicInteger
    // the batch commit stages its segments, then (first attempt only)
    // waits until every status append has published: it must lose the
    // race, re-run from the new version and keep every appended row
    val started = new java.util.concurrent.CountDownLatch(1)
    val batch = Future(store.commit { c =>
      started.countDown()
      c.append(Seq((1, "t", 7L)).toDF("batch", "term", "postings"), "segments", Seq("batch"))
      if (attempts.incrementAndGet() == 1) appended.await()
      c.update(m => m.copy(batch = m.batch + 1))
      c.base.version
    })
    started.await()
    val statuses = (0 until appends).map(i => Future {
      store.commit(_.append(statusRows(2, s"a$i"), "site_status"))
      appended.countDown()
    })
    statuses.foreach(Await.result(_, Duration.Inf))
    val batchBase = Await.result(batch, Duration.Inf)
    assert(attempts.get == 2, "the batch commit must lose once and re-run")
    assert(batchBase == 1L + appends, "the re-run must start from the latest version")
    val m = store.manifest.get
    assert(m.version == 2L + appends, "one version per commit")
    assert(store.read("site_status").count() == 1L + 2 * appends, "every append must land")
    assert(store.read("segments").as[(String, Long, Int)].collect().toSeq == Seq(("t", 7L, 1)))
    assert(m.batch == 0)
    assert(unreferencedFiles(root).isEmpty,
      s"the lost attempt's staged files must be collected: ${unreferencedFiles(root)}")
  }

  test("commit: concurrent read-modify-write commits re-run on a lost race, none is lost") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val (store, root) = freshStore()
    val zero = graft.store.Stats(0L, 0L, 0.0, 0L, 1, 1, 1, 1, 0L, graft.core.PostingCodec.Format)
    store.commit(_.update(_.copy(stats = Some(zero))))
    val runs = new java.util.concurrent.atomic.AtomicInteger
    val writers = (0 until 4).map(w => Future {
      (0 until 3).foreach { i =>
        store.commit { c =>
          runs.incrementAndGet()
          val n = c.base.stats.get.n_docs // read the base, write base + 1
          c.append(statusRows(1, s"w$w-$i"), "site_status")
          c.update(_.copy(stats = Some(zero.copy(n_docs = n + 1))))
        }
      }
    })
    writers.foreach(Await.result(_, Duration.Inf))
    assert(store.read("stats").collect()(0).getAs[Long]("n_docs") == 12L,
      "a commit that lost the race must re-run from the new version, not overwrite it")
    assert(store.read("site_status").count() == 12L)
    assert(store.manifest.get.version == 13L)
    assert(runs.get >= 12)
    assert(unreferencedFiles(root).isEmpty, s"unreferenced: ${unreferencedFiles(root)}")
  }
}
