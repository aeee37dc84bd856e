package graft.queryengine

import graft.core.{PostingCodec, Scorer}

/** Conjunctive posting-list intersection with block-max WAND pruning —
  * the rebuild of the reference's O(n·m) `List.contains` intersection
  * (SearchServiceImpl.java:231-243) as a streaming seek-based evaluator
  * over compressed segments (north_rule; SURVEY.md §2.9).
  *
  * Two modes:
  *  - exact = true  → every match is visited: exact total `count`
  *    (reference returns the pre-pagination total,
  *    SearchServiceImpl.java:108) and exact scores for ALL matches
  *    (needed for site-scoped re-filtering and tf-sum normalization).
  *  - exact = false → block-max pruned top-k: when the running top-k
  *    threshold exceeds the sum of the current blocks' score upper
  *    bounds, whole blocks are skipped WITHOUT decoding (the codec's
  *    block headers carry lastDoc + maxTf). `count` is then a lower
  *    bound — the scale path for p95 latency (like any WAND engine,
  *    total hit counts are estimated when pruning).
  */
object Wand {

  final case class Hit(docId: Long, score: Double, tfSum: Double)
  final case class ShardResult(hits: Array[Hit], matchCount: Long)

  /** Per-query-term scoring context (df/idf fixed per term). */
  final case class TermCtx(term: String, df: Long)

  /** Streaming cursor over one encoded segment with block-skip seek.
    * A decoded block lives in two primitive arrays reused for every
    * block (the codec caps a block at [[PostingCodec.BlockSize]]
    * postings), so walking a list allocates nothing per posting. */
  final class TermCursor(bytes: Array[Byte]) {
    private val r = new PostingCodec.Reader(bytes, 0)
    private val totalEntries: Long = r.readVarLong()
    private var seen = 0L
    private var prevBlockLast = 0L

    private val docs = new Array[Long](PostingCodec.BlockSize)
    private val tfs = new Array[Long](PostingCodec.BlockSize)
    private var blockLen = 0
    private var blockPos = 0
    private var blockMaxOfCurrent = 0L
    // current undecoded block header
    private var hdrCount = 0
    private var hdrLastDoc = 0L
    private var hdrMaxTf = 0L
    private var hdrPayloadLen = 0L

    var exhausted: Boolean = totalEntries == 0L

    private def loadHeader(): Boolean = {
      if (seen >= totalEntries) return false
      hdrCount = r.readVarLong().toInt
      hdrLastDoc = prevBlockLast + r.readVarLong()
      hdrMaxTf = r.readVarLong()
      hdrPayloadLen = r.readVarLong()
      true
    }

    private def decodeHeaderBlock(): Unit = {
      var prevDoc = prevBlockLast
      var j = 0
      while (j < hdrCount) {
        prevDoc += r.readVarLong()
        docs(j) = prevDoc
        tfs(j) = r.readVarLong()
        j += 1
      }
      seen += hdrCount
      prevBlockLast = hdrLastDoc
      blockMaxOfCurrent = hdrMaxTf
      blockLen = hdrCount
      blockPos = 0
    }

    private def skipHeaderBlock(): Unit = {
      r.skip(hdrPayloadLen)
      seen += hdrCount
      prevBlockLast = hdrLastDoc
    }

    /** First position in [from, blockLen) with docId >= target; the
      * caller guarantees the block's last docId is >= target. */
    private def seekInBlock(from: Int, target: Long): Int = {
      var lo = from
      var hi = blockLen - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (docs(mid) < target) lo = mid + 1 else hi = mid
      }
      lo
    }

    // position on first posting
    if (!exhausted) { if (loadHeader()) decodeHeaderBlock() else exhausted = true }

    def doc: Long = docs(blockPos)
    def tf: Long = tfs(blockPos)

    /** Upper-bound info for block-max pruning: the decoded block's max tf
      * and its last docId. */
    def curBlockMaxTf: Long = blockMaxOfCurrent
    def curBlockLastDoc: Long = prevBlockLast

    /** Advance one posting. */
    def next(): Unit = {
      blockPos += 1
      if (blockPos >= blockLen) {
        if (loadHeader()) decodeHeaderBlock() else exhausted = true
      }
    }

    /** Seek to the first posting with docId >= target, skipping whole
      * blocks via headers (no decode) where possible. */
    def advanceTo(target: Long): Unit = {
      if (exhausted) return
      if (docs(blockLen - 1) >= target) {
        blockPos = seekInBlock(blockPos, target)
        return
      }
      while (true) {
        if (!loadHeader()) { exhausted = true; return }
        if (hdrLastDoc >= target) {
          decodeHeaderBlock()
          blockPos = seekInBlock(0, target)
          return
        }
        skipHeaderBlock()
      }
    }
  }

  /** Top-k buffer keeping ALL ties with the k-th score so the global
    * (score DESC, url ASC) pin (SURVEY.md §2.6 O4) stays exact after the
    * driver merge. The first k hits are appended, then heapified into a
    * min-heap whose root is the k-th score: the pruning threshold holds
    * from the k-th hit on. Later hits scoring exactly the root wait in
    * `ties`, which empties when the root rises above their score. */
  final class TopK(k: Int) {
    private val heap = scala.collection.mutable.ArrayBuffer.empty[Hit]
    private val ties = scala.collection.mutable.ArrayBuffer.empty[Hit]
    private def full: Boolean = k > 0 && heap.length >= k

    def threshold: Double = if (full) heap(0).score else Double.NegativeInfinity

    def add(docId: Long, score: Double, tfSum: Double): Unit =
      if (!full) {
        heap += Hit(docId, score, tfSum)
        if (full) (k / 2 - 1 to 0 by -1).foreach(siftDown)
      } else {
        val kth = heap(0).score
        if (score == kth) ties += Hit(docId, score, tfSum)
        else if (score > kth) {
          // the root leaves the top k; it stays as a tie only while the
          // new root still scores the same
          val out = heap(0)
          heap(0) = Hit(docId, score, tfSum)
          siftDown(0)
          if (heap(0).score == kth) ties += out else ties.clear()
        }
      }

    private def siftDown(i0: Int): Unit = {
      val h = heap(i0)
      val n = heap.length
      var i = i0
      var done = false
      while (!done) {
        val l = 2 * i + 1
        if (l >= n) done = true
        else {
          val c = if (l + 1 < n && heap(l + 1).score < heap(l).score) l + 1 else l
          if (heap(c).score < h.score) { heap(i) = heap(c); i = c }
          else done = true
        }
      }
      heap(i) = h
    }

    /** Every kept hit, unordered: the top k plus all ties with the k-th. */
    def result(): Array[Hit] = (heap ++ ties).toArray
  }

  /** Evaluate one doc shard: conjunctive AND of all terms, rarest first
    * (reference O1, SearchServiceImpl.java:68-73). `termSegs` is ordered
    * (df ASC, term ASC) by the caller; a term with no segment in this
    * shard means no matches (empty cursor). `norms(ord)` is the doc's
    * token length (`docs.dl` by ordinal), read once per matching doc; a
    * null `norms` (a scorer that ignores `dl`) scores every doc at
    * `avgdl`.
    *
    * Returns per-shard top-k (ties kept) + exact/lower-bound match count.
    */
  def evaluateShard(
      termSegs: Seq[(TermCtx, Option[Array[Byte]])],
      scorer: Scorer,
      nDocs: Long,
      avgdl: Double,
      norms: Array[Int],
      k: Int,
      exact: Boolean): ShardResult = {

    if (termSegs.isEmpty || termSegs.exists(_._2.isEmpty))
      return ShardResult(Array.empty, 0L)

    val ctxs = termSegs.map(_._1).toArray
    val cursors = termSegs.map(ts => new TermCursor(ts._2.get)).toArray
    if (cursors.exists(_.exhausted)) return ShardResult(Array.empty, 0L)

    val topk = new TopK(k)
    var count = 0L
    val m = cursors.length

    var continue = true
    while (continue && !cursors(0).exhausted) {
      val cand = cursors(0).doc
      var allMatch = true
      var resume = false
      var i = 1
      while (i < m && allMatch) {
        cursors(i).advanceTo(cand)
        if (cursors(i).exhausted) { allMatch = false; continue = false }
        else if (cursors(i).doc != cand) {
          // realign the rarest cursor to the blocker's doc
          cursors(0).advanceTo(cursors(i).doc)
          allMatch = false
          resume = true
        }
        i += 1
      }
      if (allMatch) {
        val dl = if (norms == null) avgdl else norms(cand.toInt).toDouble
        var score = 0.0
        var tfSum = 0.0
        var j = 0
        while (j < m) {
          val c = cursors(j)
          score += scorer.termScore(c.tf.toDouble, ctxs(j).df, nDocs, dl, avgdl)
          tfSum += c.tf.toDouble
          j += 1
        }
        count += 1L
        topk.add(cand, score, tfSum)
        // block-max pruning: if no doc in the current blocks can beat the
        // threshold, jump past the nearest block end.
        if (!exact) {
          val th = topk.threshold
          if (th > Double.NegativeInfinity) {
            var ub = 0.0
            var minBlockEnd = Long.MaxValue
            var j2 = 0
            while (j2 < m) {
              val c = cursors(j2)
              ub += scorer.upperBound(c.curBlockMaxTf.toDouble, ctxs(j2).df, nDocs, 0.0, avgdl)
              if (c.curBlockLastDoc < minBlockEnd) minBlockEnd = c.curBlockLastDoc
              j2 += 1
            }
            // strict <: TopK keeps ALL ties with the k-th score, and a
            // TIGHT upper bound (TfSum's ub is achievable) at ub == th
            // can sit over a doc scoring exactly th — skipping it would
            // drop a tie the exact path keeps
            if (ub < th && minBlockEnd > cand) {
              cursors(0).advanceTo(minBlockEnd + 1)
            } else cursors(0).next()
          } else cursors(0).next()
        } else cursors(0).next()
      } else if (resume && cursors(0).exhausted) continue = false
    }

    ShardResult(topk.result(), count)
  }

  // ── BENCHMARK COMPAT: the benchmark's kernel probes (perfbench
  // Kernels) still call the pre-norms shape below. No engine code calls
  // it; it goes with the next benchmark change that updates Kernels.

  /** The pre-norms shape: every doc is scored at `avgdl`. */
  def evaluateShard(
      termSegs: Seq[(TermCtx, Option[Array[Byte]])],
      scorer: Scorer,
      nDocs: Long,
      avgdl: Double,
      k: Int,
      exact: Boolean): ShardResult =
    evaluateShard(termSegs, scorer, nDocs, avgdl, null, k, exact)

  // ── end BENCHMARK COMPAT ──
}
