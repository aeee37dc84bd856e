package graft.store

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Storage abstraction for every engine table (SURVEY.md §7.3's decision
  * table: format = parquet in-sandbox, iceberg in production per the
  * north_star's "Iceberg table of Common-Crawl-style web pages").
  *
  * One store instance is rooted at a directory (an index dir, or a corpus
  * table when `table = ""`); tables are addressed by relative name
  * (`docs`, `lemma_stats`, `stats`, `head_terms`, `lineage`,
  * `tombstones`, `index`, `index_meta`, `segments/batch=N`).
  *
  * Iceberg mapping (the production implementation this interface is the
  * seam for — the sandbox ships no iceberg-spark-runtime jars, so only
  * the parquet implementation is compiled):
  *  - `read(t)`       → `spark.table("cat.db.t")` — snapshot-isolated scan
  *  - `write(Append)` → `df.writeTo("cat.db.t").append()` — atomic commit
  *  - `replace(t)`    → `df.writeTo("cat.db.t").replace()` (REPLACE TABLE
  *                      AS SELECT): one atomic snapshot swap instead of the
  *                      parquet write-aside/delete/rename dance
  *  - refresh (S6)    → MERGE INTO + equality-delete files; the
  *                      `tombstones` table becomes Iceberg's own equality
  *                      deletes, and `Refresh.compactTouched` its
  *                      compaction
  *  - cascade undo    → snapshot rollback (`CALL cat.system.rollback_to…`)
  *  - `fingerprint`   → the table's current snapshot id (exact, no mtime
  *                      heuristics)
  *  - `segments/batch=N` → one `segments` table partitioned by (batch,
  *                      bucket); per-batch writes are partition overwrites
  */
trait TableStore {
  def spark: SparkSession
  def root: String

  def read(table: String): DataFrame
  def exists(table: String): Boolean
  def readOpt(table: String): Option[DataFrame] =
    if (exists(table)) Some(read(table)) else None

  def write(df: DataFrame, table: String, mode: SaveMode,
      partitionBy: Seq[String] = Nil): Unit

  /** Overwrite a table that may concurrently be a read source: stage,
    * atomically promote, and invalidate session caches for the location.
    * (Iceberg: a single REPLACE TABLE AS SELECT commit.) */
  def replace(df: DataFrame, table: String, partitionBy: Seq[String] = Nil): Unit

  /** Overwrite ONLY the partitions present in `df`, leaving every other
    * partition's files untouched (Iceberg: df.writeTo(t)
    * .overwritePartitions() — an atomic commit there; the parquet
    * implementation is Spark dynamic partition overwrite, whose crash
    * recovery is re-running the idempotent caller). */
  def overwritePartitions(df: DataFrame, table: String,
      partitionBy: Seq[String]): Unit

  /** Physical size of a table — lineage metrics (posting_bytes). */
  def sizeInBytes(table: String): Long

  /** Change-detection stamp over the given tables: differs whenever any
    * of them was replaced/appended. (Iceberg: xor of snapshot ids.) */
  def fingerprint(tables: Seq[String]): Long

  /** Drop a table (delete delta dirs on refresh compaction, etc.). */
  def drop(table: String): Unit

  /** Control markers (e.g. the graceful-stop flag `_STOP` the batch loop
    * polls between batches — the table-scan rebuild of the reference's
    * RunIndexMonitor.stopIndexing flag). (Iceberg: a table property.) */
  def markerExists(name: String): Boolean
  def putMarker(name: String): Unit
  def dropMarker(name: String): Unit
}

object TableStore {
  /** Format flag per SURVEY §7.3. `parquet` is the in-sandbox
    * implementation; `iceberg` requires the iceberg-spark-runtime jars
    * (not shipped here) and maps per the trait scaladoc. */
  def open(spark: SparkSession, root: String): TableStore =
    sys.env.getOrElse("SPARK_GRAFT_TABLE_FORMAT", "parquet") match {
      case "parquet" => new ParquetStore(spark, root)
      case "iceberg" => throw new UnsupportedOperationException(
        "iceberg store: add iceberg-spark-runtime to the classpath and " +
          "implement via writeTo/replace per the TableStore scaladoc mapping")
      case other => throw new IllegalArgumentException(
        s"unknown SPARK_GRAFT_TABLE_FORMAT '$other' (parquet|iceberg)")
    }
}

/** Parquet-directory implementation: each table is `$root/$table`
  * (table "" = the root itself, for single-table corpus paths). */
final class ParquetStore(val spark: SparkSession, val root: String)
    extends TableStore {

  private def pathOf(table: String): String =
    if (table.isEmpty) root else s"$root/$table"

  private def fs: FileSystem =
    FileSystem.get(spark.sparkContext.hadoopConfiguration)

  // ── monotonic table version (`_version` file inside the table dir —
  // underscore-prefixed, so Spark's parquet FileIndex ignores it). The
  // EXACT change-detection stamp: a replace that writes byte-identical
  // length within one mtime granule still bumps it. Iceberg's snapshot
  // id plays this role in production. ──
  private def versionOf(path: String): Long = {
    val vp = new Path(s"$path/_version")
    try { val in = fs.open(vp); try in.readLong() finally in.close() }
    catch { case _: java.io.IOException => 0L }
  }
  private def writeVersion(path: String, v: Long): Unit = {
    val out = fs.create(new Path(s"$path/_version"), true)
    try out.writeLong(v) finally out.close()
  }

  /** Converge a table dir left mid-`replace` by a crash. The staged dir
    * is COMPLETE iff its `_version` file exists (written strictly after
    * the parquet write, strictly before any rename) — so:
    * table missing + complete staged → promote staged;
    * table missing + only `.__old` → restore the old version;
    * table present → any leftover staged/old dirs are stale (next
    * replace overwrites/deletes them). */
  private def recover(path: String): Unit = {
    val f = fs
    val p = new Path(path)
    val staged = new Path(s"$path.__new")
    val old = new Path(s"$path.__old")
    if (!f.exists(p)) {
      if (f.exists(new Path(s"$path.__new/_version"))) {
        f.rename(staged, p)
        f.delete(old, true)
      } else if (f.exists(old)) {
        f.rename(old, p)
        f.delete(staged, true)
      }
    }
  }

  override def read(table: String): DataFrame = {
    recover(pathOf(table))
    spark.read.parquet(pathOf(table))
  }

  override def exists(table: String): Boolean = {
    recover(pathOf(table))
    fs.exists(new Path(pathOf(table)))
  }

  override def write(df: DataFrame, table: String, mode: SaveMode,
      partitionBy: Seq[String] = Nil): Unit = {
    val path = pathOf(table)
    if (mode == SaveMode.Append && partitionBy.isEmpty) {
      // Append via STAGING: concurrent append jobs into one directory
      // share the Hadoop committer's `_temporary/0` dir and delete each
      // other's attempt dirs at cleanup — so each append writes to a
      // unique sibling dir, then moves its (uniquely renamed) data files
      // in. Concurrent appends (e.g. indexPage during a running build —
      // the reference allows it) compose safely; a crash mid-append
      // leaves at worst a partial file set of ONE append, equivalent to
      // the torn append plain parquet gives. (Iceberg: append() is a
      // single atomic snapshot commit.)
      val stamp = java.util.UUID.randomUUID().toString.take(12)
      val staged = s"$path.__append-$stamp"
      df.write.mode(SaveMode.Overwrite).parquet(staged)
      val f = fs
      f.mkdirs(new Path(path))
      f.listStatus(new Path(staged)).foreach { st =>
        val n = st.getPath.getName
        if (!n.startsWith("_") && !n.startsWith(".")) {
          // a false rename here would silently drop this append's rows —
          // fail LOUDLY instead (the caller retries or surfaces the error)
          require(f.rename(st.getPath, new Path(s"$path/app-$stamp-$n")),
            s"append to $path: rename of ${st.getPath} failed")
        }
      }
      f.delete(new Path(staged), true)
      // GC staging garbage: a crash between the staged write and the
      // final delete leaves an orphaned `.__append-<stamp>` sibling that
      // recover() (which converges only .__new/.__old) never touches.
      // The NEXT append sweeps siblings older than an hour — the age
      // guard keeps a concurrent in-flight append's live staging safe.
      val parent = new Path(path).getParent
      val prefix = new Path(path).getName + ".__append-"
      val cutoff = System.currentTimeMillis() - 60L * 60 * 1000
      try f.listStatus(parent)
        .filter(st => st.getPath.getName.startsWith(prefix) &&
          st.getModificationTime < cutoff)
        .foreach(st => f.delete(st.getPath, true))
      catch { case _: java.io.IOException => () } // GC is best-effort
      ()
    } else {
      // Overwrite deletes the dir (and its `_version`) — carry the
      // monotonic version across so fingerprints see every overwrite
      val nextV = if (mode == SaveMode.Overwrite) versionOf(path) + 1 else -1L
      val w = df.write.mode(mode)
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
        .parquet(path)
      if (nextV >= 0) writeVersion(path, nextV)
    }
  }

  /** Crash-safe overwrite: stage aside, then two atomic renames —
    * table → `.__old`, staged → table. The table dir is ABSENT only
    * between the renames, and `recover` (run at every read) converges
    * either crash window: the staged dir's `_version` marks it complete
    * (promote), otherwise `.__old` is restored. No window loses data —
    * unlike delete-then-rename, where a crash between the two drops the
    * table. (Iceberg: one REPLACE TABLE AS SELECT commit.) */
  override def replace(df: DataFrame, table: String,
      partitionBy: Seq[String] = Nil): Unit = {
    val path = pathOf(table)
    recover(path) // converge any previous crashed replace first
    val staged = s"$path.__new"
    val oldAside = s"$path.__old"
    val nextV = versionOf(path) + 1
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(staged)
    writeVersion(staged, nextV) // completeness marker — written LAST
    val f = fs
    f.delete(new Path(oldAside), true) // stale from an earlier crash
    // FAIL LOUDLY on either rename (same contract as append's staged
    // rename): a false return here would leave the OLD table in place
    // while the caller proceeds as if it was replaced — e.g. a compaction
    // that then GCs tombstones against an index that still contains them
    if (f.exists(new Path(path)))
      require(f.rename(new Path(path), new Path(oldAside)),
        s"replace: rename $path -> $oldAside failed")
    require(f.rename(new Path(staged), new Path(path)),
      s"replace: rename $staged -> $path failed (old table at $oldAside)")
    f.delete(new Path(oldAside), true)
    // drop any cached plans/file listings for the location — readers
    // re-list on next access
    spark.catalog.refreshByPath(path)
  }

  override def overwritePartitions(df: DataFrame, table: String,
      partitionBy: Seq[String]): Unit = {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    // dynamic overwrite keeps the table dir — write() bumps `_version`
    try write(df, table, SaveMode.Overwrite, partitionBy)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    spark.catalog.refreshByPath(pathOf(table))
  }

  override def sizeInBytes(table: String): Long =
    fs.getContentSummary(new Path(pathOf(table))).getLength

  override def fingerprint(tables: Seq[String]): Long = {
    val f = fs
    def stamp(table: String): Long =
      try {
        val path = pathOf(table)
        val st = f.getFileStatus(new Path(path))
        // `_version` makes the stamp exact (replace/overwrite always
        // bumps it); mtime×len remains as defense for appends and
        // tables predating the version file
        versionOf(path) * 0xff51afd7ed558ccdL ^
          st.getModificationTime ^ (st.getLen * 0x9e3779b97f4a7c15L)
      } catch { case _: java.io.IOException => 0L }
    tables.zipWithIndex.foldLeft(0L) { case (acc, (t, i)) =>
      acc ^ java.lang.Long.rotateLeft(stamp(t), i * 17)
    }
  }

  override def drop(table: String): Unit = {
    fs.delete(new Path(pathOf(table)), true)
    ()
  }

  override def markerExists(name: String): Boolean =
    fs.exists(new Path(s"$root/$name"))

  override def putMarker(name: String): Unit = {
    val f = fs
    f.mkdirs(new Path(root))
    f.create(new Path(s"$root/$name"), true).close()
  }

  override def dropMarker(name: String): Unit = {
    fs.delete(new Path(s"$root/$name"), false)
    ()
  }
}
