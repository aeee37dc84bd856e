package graft.store

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** One live directory of a table, relative to the store root:
  * `<table>/<partition path>/c=<id>` (`docs/db=3/c=k0f…`,
  * `segments/batch=5/bucket=2/c=k1a…`, `site_status/c=k9b…`). A commit
  * never writes into a published directory; it stages a new one. */
final case class Part(dir: String, bytes: Long) {
  /** The partition path inside the table (`db=3`, `batch=5/bucket=2`),
    * "" for an unpartitioned table. */
  def key: String = {
    val inTable = dir.substring(dir.indexOf('/') + 1)
    val c = inTable.lastIndexOf("/c=")
    if (c < 0) "" else inTable.substring(0, c)
  }
  /** The value of one partition column of this part. */
  def value(column: String): String =
    key.split('/').collectFirst { case kv if kv.startsWith(column + "=") =>
      kv.substring(column.length + 1)
    }.getOrElse(throw new IllegalArgumentException(s"$dir has no partition $column"))
  def id: String = dir.substring(dir.lastIndexOf("/c=") + 3)
}

/** A table as one manifest publishes it: its read schema (data columns,
  * then partition columns, as JSON) and its live directories. */
final case class TableMeta(schema: String, parts: Seq[Part]) {
  def bytes: Long = parts.map(_.bytes).sum
}

/** Corpus scalars and layout of an index: `read("stats")` serves them as
  * a one-row table. `next_ord` is the doc-ordinal high-water mark: every
  * ordinal a published doc ever carried is below it. `posting_format` is
  * the `PostingCodec.Format` the index's posting lists are written in; a
  * manifest from before it was recorded reads 0. */
final case class Stats(
    n_docs: Long, n_distinct: Long, avgdl: Double, total_tokens: Long,
    shards: Int, n_batches: Int, site_groups: Int, buckets: Int,
    next_ord: Long, posting_format: Int)

/** One commit's lineage row; `read("lineage")` serves every one of them. */
final case class Lineage(
    partition_id: Int, doc_range: String, posting_bytes: Long,
    term_count: Long, posting_count: Long, status: String,
    error: Option[String], ts: java.sql.Timestamp)

/** One version of an index root — the commit point. Everything a reader
  * sees is what one manifest names: the live directories and schema of
  * each table, the stats, `asOf` (the batch of the last commit that
  * changed `index`, -1 before any), `batch` (the highest batch id a
  * commit has used), the lineage rows and two bounded term lists:
  * `heads`, the salted head terms (sorted; set with the stats by the
  * build's first commit and carried unchanged by every later one), and
  * `mids`, the engine's prefetch hint — at most `IndexBuild.MidTermsWidth`
  * non-head terms in (df desc, term) order, as of the commit that last
  * wrote it. */
final case class Manifest(
    version: Long,
    tables: Map[String, TableMeta],
    stats: Option[Stats],
    asOf: Int,
    batch: Int,
    lineage: Seq[Lineage],
    heads: Seq[String],
    mids: Seq[String]) {

  def has(table: String): Boolean = table match {
    case "stats" => stats.isDefined
    case "lineage" => lineage.nonEmpty
    case t => tables.contains(t)
  }

  def parts(table: String): Seq[Part] = tables.get(table).fold(Seq.empty[Part])(_.parts)

  def bytes(table: String): Long = tables.get(table).fold(0L)(_.bytes)
}

object Manifest {
  val empty: Manifest = Manifest(0L, Map.empty, None, -1, -1, Nil, Nil, Nil)

  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def toJson(m: Manifest): String = mapper.writeValueAsString(m)

  /** A list the JSON does not carry reads as empty. */
  def fromJson(json: String): Manifest = {
    val m = mapper.readValue(json, classOf[Manifest])
    m.copy(heads = Option(m.heads).getOrElse(Nil), mids = Option(m.mids).getOrElse(Nil))
  }
}
