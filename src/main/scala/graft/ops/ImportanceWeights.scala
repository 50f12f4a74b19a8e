package graft.ops

import graft.util.PlanCache.Shareable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR-style data-selection importance weighting: score every
  * document by how much more likely its hashed n-gram features are
  * under a TARGET domain's distribution than under the raw corpus's
  * — the standard device for upsampling target-like data (Data
  * Selection with Importance Resampling, Xie et al. 2023) without
  * training a classifier (C41 is the trained-gate alternative).
  *
  * Model: bag of hashed unigrams over `buckets` buckets; per-bucket
  * log-ratio `ln(p_target(b) / p_raw(b))` with add-one smoothing;
  * a document's weight is the sum of its tokens' bucket log-ratios.
  *
  * Determinism: the probability ratio collapses to one double
  * division of two exact integer products, its `ln` is quantized to
  * integer micro-nats BEFORE the per-doc sum (the NgramLm device) —
  * associative, engine-portable, oracle-exact.
  *
  * Scale shape: one tokenize pass; the feature stream is (doc,
  * bucket) int pairs; distributions are two bucket-keyed partial-agg
  * shuffles collapsing to ≤ `buckets` rows (a broadcast-sized model,
  * like C41's weight table); scoring joins the stream to the model on
  * the int bucket key and re-keys by doc — never text.
  */
object ImportanceWeights {

  /** Per-doc importance weights vs a target subset:
    * (doc_id, n_tokens, weight_micro) where weight_micro is the
    * integer micro-nat sum of hashed-unigram log-ratios; positive =
    * target-like. `isTarget` marks the target-domain rows.
    */
  def weights(df: DataFrame, id: Column, text: Column, isTarget: Column,
      buckets: Int = 1024): DataFrame = {
    require(buckets >= 2)
    val f = df.select(id.cast("bigint").as("doc_id"), isTarget.as("is_t"),
        explode(split(trim(lower(text)), "\\s+")).as("w"))
      .select(col("doc_id"), col("is_t"),
        (Dedup.md5Hash60(col("w")) % buckets).as("b"))
      .sharedPersist()

    val raw = f.groupBy(col("b")).agg(count(lit(1)).as("rc"))
    val tgt = f.filter(col("is_t")).groupBy(col("b")).agg(count(lit(1)).as("tc"))
    val tot = f.agg(count(lit(1)).as("rt"),
      sum(when(col("is_t"), 1L).otherwise(0L)).as("tt"))

    // ln( ((tc+1)/(tt+B)) / ((rc+1)/(rt+B)) ): each count factor is
    // cast to double BEFORE the multiply — counts stay < 2^53 (exact
    // conversion) while an int64 product of two ~1e13 totals would
    // silently wrap at the 100 TB scale this op advertises; double
    // mult/div/ln round identically in both engines, so the
    // micro-nat floor still matches bit for bit
    val lr = raw.join(tgt, Seq("b"), "left").crossJoin(broadcast(tot))
      .select(col("b"),
        floor(log(
          ((coalesce(col("tc"), lit(0L)) + 1L).cast("double") * (col("rt") + buckets).cast("double")) /
            ((col("rc") + 1L).cast("double") * (col("tt") + buckets).cast("double"))) * 1e6)
          .cast("bigint").as("lr_micro"))

    f.join(lr, Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("lr_micro")).as("weight_micro"))
  }

  /** DuckDB twin of [[weights]] over `table(idExpr, textExpr)` with
    * target predicate `targetExpr`; final relation `iw`.
    */
  def weightsSql(table: String, idExpr: String, textExpr: String,
      targetExpr: String, buckets: Int = 1024): String =
    s"""iwf AS (
       |  SELECT CAST($idExpr AS BIGINT) AS doc_id, $targetExpr AS is_t,
       |    ('0x' || substr(md5(u.w), 1, 15))::BIGINT % $buckets AS b
       |  FROM $table, unnest(string_split_regex(trim(lower($textExpr)), '\\s+')) AS u(w)),
       |iwraw AS (SELECT b, count(*) AS rc FROM iwf GROUP BY b),
       |iwtgt AS (SELECT b, count(*) AS tc FROM iwf WHERE is_t GROUP BY b),
       |iwtot AS (SELECT (SELECT count(*) FROM iwf) AS rt,
       |                 (SELECT count(*) FROM iwf WHERE is_t) AS tt),
       |iwlr AS (
       |  SELECT r.b,
       |    CAST(floor(ln(
       |      (CAST(coalesce(t.tc, 0) + 1 AS DOUBLE) * CAST(rt + $buckets AS DOUBLE)) /
       |      (CAST(r.rc + 1 AS DOUBLE) * CAST(tt + $buckets AS DOUBLE))) * 1e6) AS BIGINT) AS lr_micro
       |  FROM iwraw r LEFT JOIN iwtgt t USING (b), iwtot),
       |iw AS (
       |  SELECT f.doc_id, count(*) AS n_tokens,
       |    CAST(sum(l.lr_micro) AS BIGINT) AS weight_micro
       |  FROM iwf f JOIN iwlr l USING (b)
       |  GROUP BY f.doc_id)""".stripMargin
}
