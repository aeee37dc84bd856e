package graft.store

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.types.{DataType, StringType, StructType}

/** Storage abstraction for every engine table (SURVEY.md §7.3's decision
  * table: format = parquet in-sandbox, iceberg in production per the
  * north_star's "Iceberg table of Common-Crawl-style web pages").
  *
  * One store instance is rooted at a directory, and a root is one of two
  * kinds:
  *  - an INDEX root holds `_manifest/v<N>.json` files. Every index table
  *    (`docs`, `lemma_stats`, `index`, `segments`, `site_status`) is
  *    read through the latest manifest with its stored schema, and every
  *    change is a copy-on-write [[commit]]: the op stages new
  *    directories under fresh names (`docs/db=3/c=<id>`), then the
  *    manifest naming them is published put-if-absent under a per-root
  *    lock, then GC deletes whatever the new manifest does not name —
  *    superseded directories, older manifests beyond a few, and anything
  *    a crashed commit staged. A commit that loses the publish race
  *    re-runs its op from the new version. `stats` and `lineage` live in
  *    the manifest itself and read as tables, and the bounded head-term
  *    set and prefetch hint live there as fields (`heads`, `mids`);
  *  - a CORPUS root (`table = ""` is the root itself) is plain parquet:
  *    `replace` stages aside and promotes with two renames, and reads
  *    converge a crashed replace.
  *
  * Iceberg mapping (the production implementation this interface is the
  * seam for — the sandbox ships no iceberg-spark-runtime jars, so only
  * the parquet implementation is compiled). The manifest is Iceberg's
  * table metadata in miniature:
  *  - `_manifest/v<N>.json` → `metadata/v<N>.metadata.json`, published
  *    the way Iceberg's Hadoop catalog commits it (a temp file renamed to
  *    the next version, which fails if it exists);
  *  - a `Part` directory → a data file of a manifest list entry; the
  *    per-table schema → the table schema; `stats`/`lineage` → snapshot
  *    summary properties; `heads`/`mids` → table properties;
  *  - `commit` → one snapshot commit; its retry on a lost race →
  *    Iceberg's optimistic retry (`commit.retry.num-retries`);
  *  - GC → `expire_snapshots` + `remove_orphan_files`;
  *  - `version` → the current snapshot id;
  *  - `replace(t)` on a corpus → `df.writeTo("cat.db.t").replace()`;
  *  - refresh and delete (S6) → one copy-on-write `MERGE INTO` that
  *    rewrites the touched partitions' data files, with no equality
  *    deletes.
  */
trait TableStore {
  def spark: SparkSession
  def root: String

  /** The latest published manifest; None when the root holds none (a
    * corpus root, or an index dir no commit has reached). */
  def manifest: Option[Manifest]

  /** The latest manifest version, 0 when none — one directory listing,
    * and it moves with every commit. */
  def version: Long

  /** `table` as manifest `m` publishes it, with the stored schema: no
    * directory listing beyond the named parts, no schema inference. */
  def readAt(m: Manifest, table: String): DataFrame

  /** `table` through the latest manifest on an index root, as plain
    * parquet on a corpus root. */
  def read(table: String): DataFrame
  def exists(table: String): Boolean

  /** Corpus roots: overwrite a table that may concurrently be a read
    * source (stage aside, then two atomic renames; invalidate session
    * caches). Index tables change only through [[commit]]. */
  def replace(df: DataFrame, table: String, partitionBy: Seq[String] = Nil): Unit

  /** Control markers (e.g. the graceful-stop flag `_STOP` the batch loop
    * polls between batches — the table-scan rebuild of the reference's
    * RunIndexMonitor.stopIndexing flag). (Iceberg: a table property.) */
  def markerExists(name: String): Boolean
  def putMarker(name: String): Unit
  def dropMarker(name: String): Unit

  // ── the three mutations of an index root; a commit is made of them ──

  /** Write `df` under a fresh directory name per partition of `table`;
    * nothing reads it until a manifest names it. */
  def stage(df: DataFrame, table: String, partitionBy: Seq[String]): Seq[Part]

  /** Publish `m` as version `m.version` iff the latest is the version
    * before it. False when another commit got there first. */
  def publish(m: Manifest): Boolean

  /** Delete paths relative to the root: GC after a publish. Data
    * directories and files go recursively; a partition or table
    * directory goes only while empty, and so does every such directory
    * above a deleted path that the delete leaves empty. */
  def delete(paths: Seq[String]): Unit

  /** Paths relative to the root that manifest `m` does not reference and
    * no in-flight commit is staging, and partition directories holding
    * nothing: what GC deletes after `m`. */
  def unreferenced(m: Manifest): Seq[String]

  /** Run `op` as one copy-on-write commit of this index root; see
    * [[Commit]]. Returns `op`'s result. */
  final def commit[T](op: Commit => T): T = Commit.run(this, op)
}

object TableStore {
  /** Applied to every store [[open]] returns; identity unless a test
    * wraps the store (the crash-point spec injects faults through it). */
  @volatile private[graft] var wrap: TableStore => TableStore = identity

  /** Format flag per SURVEY §7.3, the deployment setting
    * `spark.graft.tableFormat` (default `parquet`). `parquet` is the
    * in-sandbox implementation; `iceberg` requires the
    * iceberg-spark-runtime jars (not shipped here) and maps per the trait
    * scaladoc. */
  def open(spark: SparkSession, root: String): TableStore =
    spark.conf.getOption("spark.graft.tableFormat").getOrElse("parquet") match {
      case "parquet" => wrap(new ParquetStore(spark, root))
      case "iceberg" => throw new UnsupportedOperationException(
        "iceberg store: add iceberg-spark-runtime to the classpath and " +
          "implement via writeTo/replace per the TableStore scaladoc mapping")
      case other => throw new IllegalArgumentException(
        s"unknown spark.graft.tableFormat '$other' (parquet|iceberg)")
    }
}

/** One copy-on-write commit of an index root, built by the op that
  * [[TableStore.commit]] runs. Reads see `base`, the version the op
  * started from; writes stage new parts, and `update` edits the
  * manifest fields. Nothing is visible until the publish. Thread-safe:
  * an op may stage several tables concurrently. */
final class Commit private[store] (val store: TableStore, val base: Manifest) {
  private var next = base
  private var changed = false
  private[store] val ids = scala.collection.mutable.Set.empty[String]

  /** `table` as of `base`. */
  def read(table: String): DataFrame = store.readAt(base, table)

  /** The manifest this commit would publish now. */
  def current: Manifest = synchronized(next)

  /** Replace the whole table. */
  def put(df: DataFrame, table: String, partitionBy: Seq[String] = Nil): Unit =
    write(df, table, partitionBy)((_, _) => true)

  /** Replace the partitions `df` writes and the partitions under `keys`
    * (`db=3`), whether or not `df` writes them: a partition whose rows
    * all died is dropped. */
  def overwrite(df: DataFrame, table: String, partitionBy: Seq[String],
      keys: Iterable[String]): Unit = {
    val dropped = keys.toSet
    write(df, table, partitionBy)((p, staged) => dropped(p.key) || staged(p.key))
  }

  /** Add `df`'s rows to the table. */
  def append(df: DataFrame, table: String, partitionBy: Seq[String] = Nil): Unit =
    write(df, table, partitionBy)((_, _) => false)

  /** Drop the parts `drop` selects, and the table once none is left. */
  def remove(table: String)(drop: Part => Boolean): Unit = synchronized {
    next.tables.get(table).foreach { t =>
      val kept = t.parts.filterNot(drop)
      next = next.copy(tables =
        if (kept.isEmpty) next.tables - table else next.tables + (table -> t.copy(parts = kept)))
      changed = true
    }
  }

  /** Edit the manifest's stats, batch bookkeeping or lineage. */
  def update(f: Manifest => Manifest): Unit = synchronized { next = f(next); changed = true }

  private def write(df: DataFrame, table: String, partitionBy: Seq[String])(
      drop: (Part, Set[String]) => Boolean): Unit = {
    val schema = StructType(
      (df.schema.filterNot(f => partitionBy.contains(f.name)) ++ partitionBy.map(df.schema(_)))
        .map(_.copy(nullable = true))).json
    val parts = store.stage(df, table, partitionBy)
    val staged = parts.map(_.key).toSet
    synchronized {
      ids ++= parts.map(_.id)
      val kept = next.parts(table).filterNot(drop(_, staged))
      next = next.copy(tables = next.tables + (table -> TableMeta(schema, kept ++ parts)))
      changed = true
    }
  }
}

object Commit {
  /** Ids of directories being staged in this JVM — GC never deletes them. */
  private[store] val active = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private val MaxAttempts = 16

  /** Run `op` from the latest version; publish what it built as the next
    * version and collect garbage, both under the root's lock; on a lost
    * race run `op` again from the new version. An op that changes
    * nothing publishes nothing. A failure anywhere leaves the latest
    * manifest as it was; what the op staged is garbage the next commit
    * collects. */
  private[store] def run[T](store: TableStore, op: Commit => T): T = {
    val lock = locks.computeIfAbsent(
      new Path(store.root).getFileSystem(store.spark.sparkContext.hadoopConfiguration)
        .makeQualified(new Path(store.root)).toString, _ => new Object)
    var attempt = 1
    while (true) {
      val c = new Commit(store, store.manifest.getOrElse(Manifest.empty))
      try {
        val out = op(c)
        if (!c.changed) return out
        val m = c.current.copy(version = c.base.version + 1)
        val won = lock.synchronized {
          store.publish(m) && {
            val garbage = store.unreferenced(m)
            if (garbage.nonEmpty) store.delete(garbage)
            true
          }
        }
        if (won) return out
      } finally c.synchronized(c.ids.foreach(active.remove))
      require(attempt < MaxAttempts, s"${store.root}: lost $attempt commit races in a row")
      attempt += 1
    }
    throw new IllegalStateException("unreachable")
  }
}

/** Parquet-directory implementation: an index root per the [[TableStore]]
  * scaladoc; on a corpus root each table is `$root/$table` (table "" =
  * the root itself, for single-table corpus paths). */
final class ParquetStore(val spark: SparkSession, val root: String)
    extends TableStore {

  private def pathOf(table: String): String =
    if (table.isEmpty) root else s"$root/$table"

  private def fs: FileSystem =
    FileSystem.get(spark.sparkContext.hadoopConfiguration)

  private def manifestDir = new Path(s"$root/_manifest")

  private def versions: Seq[Long] =
    try fs.listStatus(manifestDir).toSeq.map(_.getPath.getName)
      .collect { case ParquetStore.VersionFile(v) => v.toLong }
    catch { case _: java.io.FileNotFoundException => Nil }

  override def version: Long = versions.foldLeft(0L)(math.max)

  override def manifest: Option[Manifest] = {
    val v = version
    if (v == 0) None
    else {
      val in = fs.open(new Path(manifestDir, s"v$v.json"))
      try Some(Manifest.fromJson(new String(in.readAllBytes(), UTF_8)))
      catch {
        // a field this version does not know (an older layout's `pending`
        // delta batches): serving the manifest without it would be wrong
        case e: com.fasterxml.jackson.databind.exc.UnrecognizedPropertyException =>
          throw new IllegalStateException(s"$root: manifest v$v carries '${e.getPropertyName}', " +
            "which this version does not read: rebuild it with `GraftCli build`", e)
      } finally in.close()
    }
  }

  override def readAt(m: Manifest, table: String): DataFrame = table match {
    case "stats" => spark.createDataFrame(Seq(m.stats.getOrElse(throw new IllegalArgumentException(
      s"$root: manifest v${m.version} holds no stats"))))
    case "lineage" => spark.createDataFrame(m.lineage)
    case _ =>
      val t = m.tables.getOrElse(table, throw new IllegalArgumentException(
        s"$root: manifest v${m.version} has no table '$table'"))
      val schema = DataType.fromJson(t.schema).asInstanceOf[StructType]
      if (t.parts.isEmpty) spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
      else spark.read.schema(schema.add("c", StringType))
        .option("basePath", pathOf(table))
        .parquet(t.parts.map(p => s"$root/${p.dir}"): _*)
        .drop("c")
  }

  override def read(table: String): DataFrame = manifest match {
    case Some(m) => readAt(m, table)
    case None => readPlain(table)
  }

  override def exists(table: String): Boolean = manifest match {
    case Some(m) => m.has(table)
    case None =>
      recover(pathOf(table))
      fs.exists(new Path(pathOf(table)))
  }

  override def stage(df: DataFrame, table: String, partitionBy: Seq[String]): Seq[Part] = {
    val id = ParquetStore.newId()
    Commit.active.add(id)
    try {
      val tmp = new Path(s"${pathOf(table)}/_stage-$id")
      val w = df.write.mode(SaveMode.Overwrite)
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(tmp.toString)
      val f = fs
      f.delete(new Path(tmp, "_SUCCESS"), false)
      def leaves(dir: Path, key: String, depth: Int): Seq[(Path, String)] =
        if (depth == 0) Seq(dir -> key)
        else f.listStatus(dir).toSeq.filter(s => s.isDirectory && s.getPath.getName.contains("="))
          .flatMap { s =>
            val name = s.getPath.getName
            leaves(s.getPath, if (key.isEmpty) name else s"$key/$name", depth - 1)
          }
      val parts = leaves(tmp, "", partitionBy.size).map { case (leaf, key) =>
        val dir = if (key.isEmpty) s"$table/c=$id" else s"$table/$key/c=$id"
        val bytes = f.listStatus(leaf).filter(s => s.getPath.getName.endsWith(".parquet"))
          .map(_.getLen).sum
        val to = new Path(s"$root/$dir")
        def move(): Boolean = { f.mkdirs(to.getParent); f.rename(leaf, to) }
        // a GC running outside this commit may remove the partition
        // directory while it is still empty, between the mkdirs and the rename
        require(move() || (!f.exists(to.getParent) && move()), s"stage: rename $leaf -> $to failed")
        Part(dir, bytes)
      }
      f.delete(tmp, true)
      parts
    } catch {
      case e: Throwable => Commit.active.remove(id); throw e
    }
  }

  override def publish(m: Manifest): Boolean = {
    if (version != m.version - 1) return false
    val f = fs
    f.mkdirs(manifestDir)
    val tmp = new Path(manifestDir, s".v${m.version}-${ParquetStore.newId()}.tmp")
    val out = f.create(tmp, false)
    try out.write(Manifest.toJson(m).getBytes(UTF_8)) finally out.close()
    // put-if-absent: the version check runs under the root's JVM lock;
    // on a file system whose rename refuses an existing target (HDFS)
    // the rename also fences writers in other processes
    val to = new Path(manifestDir, s"v${m.version}.json")
    val won = !f.exists(to) && f.rename(tmp, to)
    if (!won) f.delete(tmp, false)
    won
  }

  override def delete(paths: Seq[String]): Unit = {
    val f = fs
    // an rmdir, which fails on a directory a stage has just moved into
    def removeIfEmpty(rel: String): Unit = f match {
      case local: LocalFileSystem => local.pathToFile(new Path(s"$root/$rel")).delete()
      case _ => try f.delete(new Path(s"$root/$rel"), false)
        catch { case _: java.io.IOException => false }
    }
    paths.foreach { p =>
      val path = new Path(s"$root/$p")
      val isDir = try f.getFileStatus(path).isDirectory
        catch { case _: java.io.FileNotFoundException => false }
      if (isDir && !ParquetStore.isDataDir(path.getName)) removeIfEmpty(p) else f.delete(path, true)
    }
    // then the partition and table directories the deletes emptied,
    // deepest first
    def parents(rel: String): Seq[String] = {
      val i = rel.lastIndexOf('/')
      if (i <= 0) Nil else rel.substring(0, i) +: parents(rel.substring(0, i))
    }
    paths.filterNot(_.startsWith("_")).flatMap(parents).distinct
      .sortBy(-_.count(_ == '/')).foreach(removeIfEmpty)
  }

  override def unreferenced(m: Manifest): Seq[String] = {
    val f = fs
    val live = m.tables.valuesIterator.flatMap(_.parts.map(_.dir)).toSet
    def inFlight(name: String): Boolean =
      Seq("c=", "_stage-").exists(p => name.startsWith(p) && Commit.active.contains(name.drop(p.length)))
    def walk(rel: String): Seq[String] = {
      val children = f.listStatus(new Path(s"$root/$rel")).toSeq
      if (children.isEmpty) Seq(rel) // a partition or table directory holding nothing
      else children.flatMap { st =>
        val child = s"$rel/${st.getPath.getName}"
        if (live(child) || inFlight(st.getPath.getName)) Nil
        else if (st.isDirectory && !ParquetStore.isDataDir(st.getPath.getName)) walk(child)
        else Seq(child)
      }
    }
    val tables = f.listStatus(new Path(root)).toSeq
      .filter(st => st.isDirectory && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .flatMap(st => walk(st.getPath.getName))
    // the newest few manifests stay (a reader that just listed the
    // latest can still open it); crashed publishes leave temp files
    val manifests = f.listStatus(manifestDir).toSeq.map(_.getPath.getName).filter {
      case ParquetStore.VersionFile(v) => v.toLong <= m.version - ParquetStore.RetainedVersions
      case name => name.startsWith(".v") && name.endsWith(".tmp")
    }.map(n => s"_manifest/$n")
    tables ++ manifests
  }

  // ── corpus roots: plain parquet ──

  // monotonic table version (`_version` file inside the table dir —
  // underscore-prefixed, so Spark's parquet FileIndex ignores it): the
  // EXACT change stamp behind the schema cache — a replace that writes a
  // byte-identical length within one mtime granule still bumps it
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

  /** Parquet schema inference runs a footer-reading Spark job on every
    * `spark.read.parquet`; a table whose [[fingerprint]] is unchanged
    * since the last read reuses that read's schema instead (zero jobs). */
  private def readPlain(table: String): DataFrame = {
    val path = pathOf(table)
    recover(path)
    val key = ParquetStore.keyOf(fs, path)
    val stamp = fingerprint(Seq(table))
    Option(ParquetStore.schemas.get(key)) match {
      case Some((schema, st)) if st == stamp =>
        spark.read.schema(schema).parquet(path)
      case _ =>
        val df = spark.read.parquet(path)
        ParquetStore.schemas.put(key, (df.schema, stamp))
        df
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
    // FAIL LOUDLY on either rename: a false return here would leave the
    // OLD table in place while the caller proceeds as if it was replaced
    if (f.exists(new Path(path)))
      require(f.rename(new Path(path), new Path(oldAside)),
        s"replace: rename $path -> $oldAside failed")
    require(f.rename(new Path(staged), new Path(path)),
      s"replace: rename $staged -> $path failed (old table at $oldAside)")
    f.delete(new Path(oldAside), true)
    // drop any cached plans/file listings/schema for the location —
    // readers re-list on next access
    ParquetStore.forget(f, path)
    spark.catalog.refreshByPath(path)
  }

  /** Change-detection stamp over plain tables: differs whenever any of
    * them was replaced. */
  def fingerprint(tables: Seq[String]): Long = {
    val f = fs
    def stamp(table: String): Long =
      try {
        val path = pathOf(table)
        val st = f.getFileStatus(new Path(path))
        // `_version` makes the stamp exact (replace always bumps it);
        // mtime×len remains as defense for tables written without it
        versionOf(path) * 0xff51afd7ed558ccdL ^
          st.getModificationTime ^ (st.getLen * 0x9e3779b97f4a7c15L)
      } catch { case _: java.io.IOException => 0L }
    tables.zipWithIndex.foldLeft(0L) { case (acc, (t, i)) =>
      acc ^ java.lang.Long.rotateLeft(stamp(t), i * 17)
    }
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

object ParquetStore {
  private val VersionFile = "v(\\d+)\\.json".r

  /** Manifest versions GC keeps, the latest included. */
  private val RetainedVersions = 3

  /** A directory one stage wrote: a part (`c=<id>`) or a staging area
    * (`_stage-<id>`). Every other directory under a table is a partition. */
  private def isDataDir(name: String): Boolean =
    name.startsWith("c=") || name.startsWith("_stage-")

  private def newId(): String =
    "k" + java.util.UUID.randomUUID().toString.replace("-", "").take(12)

  /** Inferred corpus schemas, JVM-wide, keyed by qualified table path,
    * each with the table's fingerprint when it was read. */
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, (StructType, Long)]()

  private def keyOf(fs: FileSystem, path: String): String =
    fs.makeQualified(new Path(path)).toString

  /** Drop the cached schemas a replace of `path` may have changed: the
    * table itself, tables nested in it, and tables it is nested in. */
  private def forget(fs: FileSystem, path: String): Unit = {
    val p = keyOf(fs, path)
    schemas.keySet().removeIf(k => k == p || k.startsWith(p + "/") || p.startsWith(k + "/"))
    ()
  }
}
