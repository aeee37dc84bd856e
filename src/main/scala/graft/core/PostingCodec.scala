package graft.core

import java.io.ByteArrayOutputStream

/** Posting-list segment codec: delta + unsigned-varint compression of
  * doc-id-sorted (docId, tf) runs, in skippable blocks carrying
  * block-max term frequency (north_rule: "term-partitioned posting-list
  * construction with per-partition sort + delta/varint compression ...
  * block-max WAND pruning").
  *
  * The reference stores one relational row per posting
  * (IndexEntity.java:9-27) — no compression; this codec is the scale path
  * that replaces it (SURVEY.md §1.3, §2.9).
  *
  * Wire format ([[Format]] 2; all ints unsigned LEB128 varints):
  *   segment  := entryCount block*
  *   block    := blockEntryCount blockLastDocDelta maxTf payloadByteLen payload
  *   payload  := (docDelta tf)*           // docDelta vs previous docId
  *
  * `docId` here is the index's dense doc ORDINAL (`docs.ord`, numbered
  * 0..n-1 by the build and upward from `stats.next_ord` by a refresh),
  * not the url hash that keys the `docs` dim: a gap between ordinals of
  * one list is about n/df, so a docDelta is mostly one varint byte
  * where a 63-bit hash gap took eight or nine. The codec itself takes
  * any non-negative, strictly increasing ids.
  *
  * `blockLastDocDelta` (delta of the block's last docId vs the previous
  * block's last docId) + `payloadByteLen` let WAND skip a whole block —
  * advance the cursor without decoding — when the block's score upper
  * bound (from maxTf) can't beat the current top-k threshold.
  *
  * tf is an integral occurrence count (the reference persists it as
  * DOUBLE `rating`, MorphologyServiceImpl.java:164-170). The document
  * token length BM25 normalizes by is NOT in the payload: it is a per-doc
  * value, stored once in `docs.dl` and read by ordinal as the engine's
  * norms (Lucene's per-doc norms), instead of once per posting.
  */
object PostingCodec extends Serializable {
  val BlockSize = 128

  /** The payload layout this version writes and reads, recorded in every
    * index manifest's stats. Format 1 carried `dl` per posting; an index
    * written in it must be rebuilt. */
  val Format = 2

  final case class Posting(docId: Long, tf: Long)

  private def writeVarLong(out: ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    require(v >= 0, s"varint requires non-negative, got $v")
    while ((v & ~0x7fL) != 0L) {
      out.write(((v & 0x7f) | 0x80).toInt)
      v >>>= 7
    }
    out.write(v.toInt)
  }

  final class Reader(bytes: Array[Byte], var pos: Int) {
    def readVarLong(): Long = {
      var shift = 0
      var result = 0L
      var b = 0
      do {
        b = bytes(pos) & 0xff
        pos += 1
        result |= (b & 0x7fL) << shift
        shift += 7
      } while ((b & 0x80) != 0)
      result
    }
    def skip(n: Long): Unit = pos += n.toInt
  }

  /** Encode a doc-id-sorted run. Strict sortedness enforced (the index
    * build sorts within partitions; fail fast otherwise). */
  def encode(postings: Array[Posting]): Array[Byte] =
    encodeRaw(postings.map(_.docId), postings.map(_.tf), postings.length)

  /** Encode from primitive parallel arrays [0, n) — the build hot path:
    * no Posting object per row (the build encodes ~10^8s of postings per
    * partition wave, and per-posting allocation is pure GC pressure). */
  def encodeRaw(docIds: Array[Long], tfs: Array[Long], n: Int): Array[Byte] = {
    val out = new ByteArrayOutputStream(n * 2 + 16)
    writeVarLong(out, n.toLong)
    var i = 0
    var prevBlockLast = 0L
    while (i < n) {
      val end = math.min(i + BlockSize, n)
      val payload = new ByteArrayOutputStream((end - i) * 2)
      var prevDoc = prevBlockLast
      var maxTf = 0L
      var j = i
      while (j < end) {
        require(j == 0 || docIds(j) > docIds(j - 1),
          "postings must be strictly sorted by docId")
        writeVarLong(payload, docIds(j) - prevDoc)
        writeVarLong(payload, tfs(j))
        if (tfs(j) > maxTf) maxTf = tfs(j)
        prevDoc = docIds(j)
        j += 1
      }
      val blockLast = docIds(end - 1)
      writeVarLong(out, (end - i).toLong)
      writeVarLong(out, blockLast - prevBlockLast)
      writeVarLong(out, maxTf)
      writeVarLong(out, payload.size().toLong)
      payload.writeTo(out)
      prevBlockLast = blockLast
      i = end
    }
    out.toByteArray
  }

  /** Full decode (tests, patch, brute-force paths). */
  def decode(bytes: Array[Byte]): Array[Posting] = {
    val r = new Reader(bytes, 0)
    val n = r.readVarLong().toInt
    val out = new Array[Posting](n)
    var written = 0
    var prevBlockLast = 0L
    while (written < n) {
      val cnt = r.readVarLong().toInt
      val blockLastDelta = r.readVarLong()
      r.readVarLong() // maxTf (unused on full decode)
      r.readVarLong() // payload length (unused on full decode)
      var prevDoc = prevBlockLast
      var j = 0
      while (j < cnt) {
        val doc = prevDoc + r.readVarLong()
        out(written) = Posting(doc, r.readVarLong())
        prevDoc = doc
        written += 1
        j += 1
      }
      prevBlockLast = prevBlockLast + blockLastDelta
    }
    out
  }

  /** (entry count, max tf) of an encoded list, from its block headers. */
  def summary(bytes: Array[Byte]): (Int, Long) = {
    val r = new Reader(bytes, 0)
    val n = r.readVarLong().toInt
    var seen = 0
    var maxTf = 0L
    while (seen < n) {
      seen += r.readVarLong().toInt
      r.readVarLong() // blockLastDocDelta
      maxTf = math.max(maxTf, r.readVarLong())
      r.skip(r.readVarLong())
    }
    (n, maxTf)
  }

  /** The posting list of one term that `segments` (disjoint sorted runs)
    * hold, minus the `dead` doc ids, plus `added`, encoded: how a refresh
    * or delete rewrites a list, one row in and one row out. Every dead id
    * must be in the list and no added id may be in what is kept; either
    * mismatch fails, as it means the forward index and the lists disagree. */
  def patch(segments: Seq[Array[Byte]], dead: Seq[Long], added: Seq[Posting]): Array[Byte] = {
    val gone = dead.toArray
    java.util.Arrays.sort(gone)
    val old = segments.flatMap(decode)
    val kept = old.filter(p => java.util.Arrays.binarySearch(gone, p.docId) < 0)
    require(old.size - kept.size == gone.length,
      s"${gone.length - (old.size - kept.size)} dead doc ids are missing from the list")
    val out = (kept ++ added).toArray
    // TimSort: the kept postings are sorted runs, a duplicate id fails in encode
    java.util.Arrays.sort(out, (a: Posting, b: Posting) => java.lang.Long.compare(a.docId, b.docId))
    encode(out)
  }

  /** Sort-merge already-sorted segments of the SAME term into one segment:
    * the build's fold of its batches. Duplicate docIds must not occur
    * across segments of one term — each doc is indexed by exactly one
    * batch; enforced. */
  def merge(segments: Seq[Array[Byte]]): Array[Byte] = patch(segments, Nil, Nil)

  // ── BENCHMARK COMPAT: the benchmark's kernel probes (perfbench
  // Kernels) still call the pre-norms shapes below. No engine code calls
  // them; they go with the next benchmark change that updates Kernels.

  /** `dl` left the payload: always 0. */
  implicit final class LegacyPostingDl(private val p: Posting) extends AnyVal {
    def dl: Long = 0L
  }

  /** The pre-norms encoder shape; `dls` is ignored. */
  def encodeRaw(docIds: Array[Long], tfs: Array[Long], dls: Array[Long], n: Int): Array[Byte] =
    encodeRaw(docIds, tfs, n)

  // ── end BENCHMARK COMPAT ──
}
