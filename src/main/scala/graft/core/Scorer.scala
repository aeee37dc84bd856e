package graft.core

/** Scoring duality (SURVEY.md §5.2, §7 H3).
  *
  * The reference ranks by per-page sum of matched-lemma term frequencies,
  * normalized by the result set's max (SearchPageData.java:28-32,
  * SearchServiceImpl.java:251-255) — `ReferenceTfSum`. The north_rule
  * demands BM25 (k1=1.2, b=0.75) — `Bm25`. One engine, two scorers; both
  * orderings share the top-k machinery with ties pinned
  * (score DESC, url ASC) because the reference is tie-nondeterministic
  * (SURVEY.md §2.6 O4).
  */
sealed trait Scorer extends Serializable {
  def name: String

  /** Per-(term, doc) partial score. Inputs:
    * tf = term frequency on the doc (reference index_t.rating),
    * df = number of docs containing the term,
    * n  = corpus doc count, dl = doc length (token count),
    * avgdl = mean doc length. Doc score = Σ over query terms. */
  def termScore(tf: Double, df: Long, n: Long, dl: Double, avgdl: Double): Double

  /** Upper bound of termScore over any doc, for block-max WAND pruning:
    * monotone in tf, so the block max tf bounds the block score. */
  def upperBound(maxTf: Double, df: Long, n: Long, minDl: Double, avgdl: Double): Double =
    termScore(maxTf, df, n, minDl, avgdl)
}

/** Reference semantics: absRelevance = Σ tf; relative normalization by the
  * global max happens OUTSIDE the per-term score (a degenerate
  * unpartitioned window, SURVEY.md §2.5). */
case object ReferenceTfSum extends Scorer {
  val name = "tfsum"
  def termScore(tf: Double, df: Long, n: Long, dl: Double, avgdl: Double): Double = tf
}

/** BM25 with the north_rule constants k1=1.2, b=0.75 and the classic
  * Robertson/Sparck-Jones idf floored at 0 (public formula; see also
  * Lucene's BM25Similarity docs). */
final case class Bm25(k1: Double = 1.2, b: Double = 0.75) extends Scorer {
  val name = "bm25"
  def idf(df: Long, n: Long): Double =
    math.max(0.0, math.log((n - df + 0.5) / (df + 0.5) + 1.0))
  def termScore(tf: Double, df: Long, n: Long, dl: Double, avgdl: Double): Double = {
    val norm = k1 * (1.0 - b + b * dl / avgdl)
    idf(df, n) * tf * (k1 + 1.0) / (tf + norm)
  }
}
