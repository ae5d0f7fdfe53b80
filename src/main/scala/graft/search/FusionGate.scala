package graft.search

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.lit

/** Score-aware gating for hybrid (lexical ⊕ dense) RRF fusion — VERDICT
  * r13 task 1. Unweighted RRF has a known failure mode: when one
  * retriever fails DEPENDENTLY (its top list is confidently wrong, not
  * empty), fusing it in dilutes the stronger side's ranking. The
  * reference's own pipeline degrades to the stronger single path on weak
  * signal (retrieval/pipeline.py:114-158 — self-query/optimizer stages
  * fall back to the primary searcher on failure); this module gives the
  * lexical side the same treatment with an arithmetic, replayable
  * signal:
  *
  *  - **Lexical confidence** of a query = BM25 score of its best
  *    candidate divided by the saturation ceiling `(k1+1) · Σ idf(t)`
  *    over the query's in-corpus terms — the score a document would
  *    approach if it contained every query term at saturating tf. A
  *    dimensionless number in (0, 1) comparable across queries and
  *    corpora.
  *  - **Corpus-calibrated floor** = the p75 of the corpus's own
  *    *thinned self-match* distribution: each of [[CalibN]] sampled
  *    documents scored against the query formed from every
  *    [[ThinStride]]-th of its own tokens (what a genuine
  *    partial-overlap match scores in THIS corpus, under the same
  *    confidence normalization). Map-side computable: a document's
  *    self-score needs only its own tokens plus the global df census —
  *    no cross join, so at 100 TB calibration is one bounded sample +
  *    one census scan, persisted as a write-time artifact.
  *  - **Gate**: fuse at neutral weight when the query's confidence
  *    reaches the floor; below it, the lexical channel is down-weighted
  *    to zero and serving degrades to the dense-only ranking.
  *
  * Measured on the two eval corpora (FusionGateProbe, sf0.001/sf0.01):
  * the standard paraphrase corpus's queries sit above the floor often
  * enough that gated fusion keeps the fused pass count at the dense
  * ceiling (45/45), while the hard blended corpus — where BM25 passes
  * 7/45 but with *normal-looking* scores — falls below it and recovers
  * the dense-only 26/45 (was 17/45 under neutral fusion). The floor
  * quantile p75 is the midpoint of the working band (p65–p75 at both
  * scale factors); see HardFusedRecallSpec for the pinned flip.
  *
  * Everything here is exact arithmetic over (score, df, n, dl) facts —
  * no randomness, no float-order sensitivity (per-query sums fold in
  * first-occurrence term order) — so the DuckDB oracle can replay the
  * gate decision bit-for-bit (v24).
  */
object FusionGate {

  /** RRF rank constant (the v14/v16 contract). */
  val K0 = 60
  /** BM25 tf-saturation constant (the x22 contract). */
  val K1 = 1.2
  /** BM25 length-normalization constant (the x22 contract). */
  val B = 0.75
  /** Calibration sample size. The sample is the CalibN documents
    * FIRST IN md5(doc_id) ORDER — deterministic, but uncorrelated with
    * ingest/id order, which in a real corpus tracks source/crawl/time
    * and would calibrate the floor on one corpus slice (the router-
    * sample aliasing lesson). */
  val CalibN = 256
  /** Floor = this quantile of the thinned self-match distribution. */
  val FloorQuantile = 0.75
  /** Thinning stride for the self-match query (keep every 2nd token —
    * the partial-overlap query shape the floor models). */
  val ThinStride = 2

  /** Okapi idf over exact integer counts — bit-identical across JVM
    * libm and DuckDB ln on this value range (the x22 finding). */
  def idf(df: Long, n: Long): Double =
    math.log((n.toDouble - df.toDouble + 0.5) / (df.toDouble + 0.5) + 1.0)

  /** One term's BM25 contribution. */
  def bm25Term(tf: Double, idfT: Double, dl: Long, avgdl: Double): Double =
    idfT * tf * (K1 + 1) /
      (tf + K1 * ((1 - B) + B * (dl.toDouble / avgdl)))

  /** [[bm25Term]] as a Spark expression over integer `tf`/`dl` columns
    * with the term's idf and avgdl as driver literals (Spark's `log` is
    * not libm-equal; literal idfs keep the DuckDB oracle bit-exact) —
    * the one expression every BM25 scorer over a Spark plan folds. */
  def bm25TermCol(tf: Column, idfT: Double, dl: Column, avgdl: Double)
      : Column = {
    val tfD = tf.cast("double")
    lit(idfT) * (tfD * lit(K1 + 1)) /
      (tfD + lit(K1) * (lit(1 - B) + lit(B) *
        (dl.cast("double") / lit(avgdl))))
  }

  /** Lexical confidence: achieved top score over the saturation ceiling
    * `(k1+1) · Σ idf`. idfSum must be folded in a deterministic term
    * order by the caller. */
  def confidence(topScore: Double, idfSum: Double): Double =
    if (idfSum > 0) topScore / ((K1 + 1) * idfSum) else 0.0

  /** Every ThinStride-th token (0-based positions ≡ 0 mod stride). */
  def thin(tokens: Seq[String]): Seq[String] =
    tokens.zipWithIndex.collect {
      case (t, i) if i % ThinStride == 0 => t
    }

  /** A document's self-match confidence: the doc scored against the
    * query formed from its own thinned tokens (distinct, in-corpus
    * only), normalized by that query's saturation ceiling. Needs only
    * the doc's tokens and the df census — map-side at scale. */
  def selfNorm(tokens: Seq[String], df: String => Long, n: Long,
      avgdl: Double): Double = {
    val q = thin(tokens).distinct.filter(t => df(t) > 0)
    val idfSum = q.map(t => idf(df(t), n)).sum
    if (idfSum <= 0) return 0.0
    val tf = tokens.groupBy(identity).view.mapValues(_.size).toMap
    val dl = tokens.size.toLong
    val s = q.map(t =>
      bm25Term(tf(t).toDouble, idf(df(t), n), dl, avgdl)).sum
    s / ((K1 + 1) * idfSum)
  }

  /** The calibrated floor: element `round(q·(n−1))` of the sorted
    * self-norms (exact order statistic, no interpolation). */
  def floorOf(selfNorms: Seq[Double]): Double = {
    require(selfNorms.nonEmpty, "empty calibration sample")
    val s = selfNorms.sorted
    s((FloorQuantile * (s.size - 1)).round.toInt)
  }

  /** Gate: neutral lexical weight at/above the floor, zero below. */
  def lexWeight(conf: Double, floor: Double): Double =
    if (conf >= floor) 1.0 else 0.0

  /** Weighted RRF over two candidate id lists (the serving-time merge —
    * ≤ 2C driver-side rows, the v16 contract). Returns every candidate
    * as (id, r_lex, r_vec, score), score-descending with id tie-break;
    * sentinel rank −1 marks absence from a side. Any ordered id type:
    * string fragment ids when serving a tables dir, longs in v24. */
  def fuseIds[A](lex: Seq[A], dense: Seq[A], wLex: Double)(
      implicit ord: Ordering[A]): Seq[(A, Long, Long, Double)] = {
    val rLex = lex.zipWithIndex.map { case (d, i) => d -> (i + 1L) }.toMap
    val rVec = dense.zipWithIndex.map { case (d, i) => d -> (i + 1L) }.toMap
    (lex ++ dense).distinct.map { d =>
      val rl = rLex.getOrElse(d, -1L)
      val rv = rVec.getOrElse(d, -1L)
      val sc = (if (rl > 0) wLex / (K0 + rl.toDouble) else 0.0) +
        (if (rv > 0) 1.0 / (K0 + rv.toDouble) else 0.0)
      (d, rl, rv, sc)
    }.sortBy { case (d, _, _, s) => (s, d) }(
      Ordering.Tuple2(Ordering.Double.TotalOrdering.reverse, ord))
  }

  /** The gate step shared by every hybrid serve: the lexical top-c's
    * confidence (its best score over the `idfSum` ceiling) → the lexical
    * weight under `floor` → weighted RRF with the dense ids. Returns
    * (conf, wLex, fused). */
  def gate[A](lex: Seq[(A, Double)], idfSum: Double, dense: Seq[A],
      floor: Double)(implicit ord: Ordering[A])
      : (Double, Double, Seq[(A, Long, Long, Double)]) = {
    val conf = confidence(lex.headOption.map(_._2).getOrElse(0.0), idfSum)
    val wLex = lexWeight(conf, floor)
    (conf, wLex, fuseIds(lex.map(_._1), dense, wLex))
  }
}
