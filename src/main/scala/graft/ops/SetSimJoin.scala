package graft.ops

import graft.util.PlanCache.Shareable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact set-similarity self-join with prefix filtering (the PPJoin
  * family, Xiao et al. 2008): every pair with word-shingle Jaccard
  * >= tau, with a 100%-recall GUARANTEE — the exact complement to
  * the probabilistic LSH detectors (C2/C85), for the pipelines that
  * cannot tolerate missed duplicates (eval decontamination, license
  * dedup).
  *
  * Why it scales without LSH's recall trade: order every document's
  * shingle hashes by a single global total order (document frequency
  * ascending, hash ascending — rarest first). If J(A,B) >= tau then
  * |A∩B| >= tau·max(|A|,|B|) >= ceil(tau·|A|), so A and B MUST share
  * a token inside their first |S| - ceil(tau·|S|) + 1 tokens (else
  * the intersection fits entirely in both suffixes, which are too
  * short). Candidates therefore come from a self-join on PREFIX
  * tokens only — and because the order is df-ascending, prefixes are
  * made of the rarest tokens, so bucket fan-out stays small exactly
  * where a frequency-blind join would explode. A size filter
  * (tau·|B| <= |A| <= |B|/tau) prunes further before the verify.
  *
  * Scale shape: one shingle explode + one hash-agg for df, one
  * per-doc window bounded by the document's own set size (never a
  * corpus-wide partition), a prefix-key self-join that shuffles only
  * fixed-width (hash, id, size) rows, and an array-intersect verify
  * joined by 8-byte ids — document text never shuffles. Threshold
  * checks are exact integer arithmetic in milli-tau, so the
  * pair set is bit-stable across engines.
  */
object SetSimJoin {

  /** Prefix-filter candidate pairs (post size-filter, pre verify):
    * distinct (id_a < id_b) sharing a rarest-first prefix token with
    * compatible sizes. Not a [[Postings.anchorPairs]] join: prefix
    * tokens have unbounded df.
    */
  private def candidateStage(docArrays: DataFrame, tauMilli: Int): DataFrame = {
    val sets = docArrays.select(col("doc_id"), explode(col("hs")).as("h"), col("sz"))
    val dfreq = sets.groupBy(col("h")).agg(count(lit(1)).as("df"))
    // rarest-first rank within each doc; the window partition is one
    // document's shingle set (bounded by doc length), not the corpus
    val perDoc = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("h"))
    val ranked = sets.join(dfreq, "h")
      .select(col("doc_id"), col("h"),
        row_number().over(perDoc).as("rnk"),
        col("sz"))
    // prefix length |S| - ceil(tau·|S|) + 1, exact in integers
    // (the double quotient is exact below 2^53; cast truncates = floor)
    // persisted: BOTH sides of the candidate self-join below read this
    // frame, which would otherwise run the df-count + rarest-first
    // window pipeline twice. Fixed-width (h, doc_id, sz) rows bounded
    // by the sum of prefix lengths.
    val prefix = ranked
      .filter(col("rnk") <= col("sz") - ((col("sz") * tauMilli + 999) / 1000).cast("bigint") + 1)
      .select(col("h"), col("doc_id"), col("sz"))
      .sharedPersist()
    prefix.select(col("h"), col("doc_id").as("id_a"), col("sz").as("size_a"))
      .join(prefix.select(col("h"), col("doc_id").as("id_b"), col("sz").as("size_b")), "h")
      .filter(col("id_a") < col("id_b") &&
        col("size_a") * 1000 >= col("size_b") * tauMilli &&
        col("size_b") * 1000 >= col("size_a") * tauMilli)
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** All pairs with shingle-set Jaccard >= tauMilli/1000.
    *
    * @return (id_a, id_b, n_common, size_a, size_b, jaccard) with
    *         id_a < id_b, jaccard rounded to 4dp.
    */
  def jaccardJoin(
      df: DataFrame,
      id: Column,
      text: Column,
      shingleK: Int = 3,
      tauMilli: Int = 700): DataFrame = {
    require(tauMilli > 0 && tauMilli <= 1000, "tauMilli in (0, 1000]")
    // per-doc sets: read by the candidate stage and both verify sides
    val docArrays = Postings.hashSets(df, id, text, shingleK).sharedPersist()
    candidateStage(docArrays, tauMilli)
      .join(docArrays.select(col("doc_id").as("id_a"), col("hs").as("hs_a"), col("sz").as("size_a")), "id_a")
      .join(docArrays.select(col("doc_id").as("id_b"), col("hs").as("hs_b"), col("sz").as("size_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("bigint").as("n_common"),
        col("size_a"), col("size_b"))
      // J >= tau  <=>  1000·|A∩B| >= tau_milli·|A∪B|, exact integers
      .filter(col("n_common") * 1000 >= (col("size_a") + col("size_b") - col("n_common")) * tauMilli)
      .withColumn("jaccard",
        round(col("n_common").cast("double") /
          (col("size_a") + col("size_b") - col("n_common")).cast("double"), 4))
      .select(col("id_a"), col("id_b"), col("n_common"),
        col("size_a"), col("size_b"), col("jaccard"))
  }

  /** The candidate stage alone — for measuring prefix-filter
    * selectivity against the verified pairs.
    */
  def prefixCandidates(
      df: DataFrame,
      id: Column,
      text: Column,
      shingleK: Int = 3,
      tauMilli: Int = 700): DataFrame =
    candidateStage(Postings.hashSets(df, id, text, shingleK).sharedPersist(), tauMilli)
}
