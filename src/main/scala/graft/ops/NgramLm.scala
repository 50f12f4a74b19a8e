package graft.ops

import graft.util.PlanCache.Shareable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Interpolated bigram language-model scoring — the CCNet-style
  * "perplexity filter" of training-data pipelines: fit n-gram counts
  * on a corpus, score every document by its average per-token log
  * probability, and gate on the score (low = gibberish / shuffled
  * text, suspiciously high = degenerate repetition).
  *
  * The model is a Jelinek-Mercer interpolation
  * `p(w2|w1) = lambda * c(w1 w2)/c(w1) + (1-lambda) * c(w2)/T`
  * over lowercased whitespace tokens (T = corpus token count).
  * Scoring the training corpus itself means every token is in-vocab,
  * so no discounting floor is needed; the unigram back-off term keeps
  * every probability strictly positive regardless.
  *
  * Scale shape: fitting is two partial-aggregated shuffles (unigram
  * counts keyed by token, bigram counts keyed by the pair); T is one
  * scalar joined in as a one-row broadcast. Scoring re-explodes the
  * corpus into (doc, pos, w1, w2) and attaches the three counts by
  * key join — at 100 TB the unigram/bigram tables are data-derived
  * and shuffle-join on token keys (AQE broadcasts them when a small
  * corpus makes them fit). One final shuffle keys contributions by
  * doc. Nothing driver-side, no iteration: one pass to fit, one to
  * score.
  */
object NgramLm {

  /** Per-doc average bigram log-probability under the corpus's own
    * interpolated bigram model: (doc_id, n_bigrams, avg_logprob)
    * with avg_logprob rounded to 4dp (0.0 for docs with < 2 tokens).
    *
    * Per-position log-probs are quantized to integer micro-nats
    * (`floor(lp * 1e6)`) BEFORE the per-doc sum: integer sums are
    * associative, so the result is independent of aggregation order —
    * a float sum would differ between engines (and between runs) in
    * the last ulps and occasionally flip the 4dp rounding.
    */
  def bigramScore(df: DataFrame, id: Column, text: Column, lambda: Double = 0.5): DataFrame = {
    require(lambda > 0.0 && lambda < 1.0, s"need 0 < lambda < 1, got $lambda")
    val toks = df.select(id.cast("bigint").as("doc_id"),
      split(trim(lower(text)), "\\s+").as("toks"))

    // (doc_id, w1, w2) bigram stream — the fit and score both read it.
    val stream = toks
      .select(col("doc_id"),
        posexplode(slice(col("toks"), lit(1), greatest(size(col("toks")) - 1, lit(0))))
          .as(Seq("pos", "w1")),
        col("toks"))
      .select(col("doc_id"), col("w1"),
        element_at(col("toks"), col("pos") + 2).as("w2"))
      .sharedPersist()

    // persisted: total and the two unigram attach joins all read this
    // table — unpersisted, the corpus token explode + count shuffle
    // ran three times (|vocab| fixed-width rows cached)
    val uni = toks.select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))
      .sharedPersist()
    val total = uni.agg(sum(col("c1")).as("t"))
    val bi = stream.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))

    val contrib = stream
      .join(bi, Seq("w1", "w2"))
      .join(uni.select(col("w").as("w1"), col("c1").as("c1w1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c1").as("c1w2")), Seq("w2"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        floor(log(lit(lambda) * col("c2").cast("double") / col("c1w1") +
          lit(1.0 - lambda) * col("c1w2").cast("double") / col("t")) * 1e6)
          .cast("bigint").as("lp_micro"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp_micro")).as("sum_micro"))

    toks.select(col("doc_id"))
      .join(contrib, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        when(col("n_bigrams").isNotNull,
          round(col("sum_micro").cast("double") / (col("n_bigrams") * 1e6), 4))
          .otherwise(lit(0.0)).as("avg_logprob"))
  }

  /** Interpolated Kneser–Ney bigram scoring (C86) — the statistic
    * real perplexity filters (CCNet's KenLM) use, materially
    * different from [[bigramScore]]'s Jelinek–Mercer: the back-off
    * weight is an absolute discount D reclaimed from every observed
    * bigram, and the unigram back-off is the CONTINUATION probability
    * `N1+(·,w2) / |bigram types|` — "how many distinct contexts does
    * w2 follow", not "how often does w2 occur" — which is what stops
    * high-frequency-but-context-bound tokens (the "Francisco"
    * problem) from absorbing back-off mass:
    *
    * `p(w2|w1) = (c(w1w2) − D)/ctx(w1)
    *           + D·N1+(w1,·)/ctx(w1) · N1+(·,w2)/|bigram types|`
    *
    * (scoring the fitting corpus itself: every c(w1w2) ≥ 1, so the
    * max(·−D, 0) clamp never binds). Scale shape identical to
    * [[bigramScore]] plus two |vocab|-sized partial aggs (per-context
    * fan-out, per-word continuation count) and one scalar.
    */
  def kneserNeyScore(df: DataFrame, id: Column, text: Column,
      discount: Double = 0.75): DataFrame = {
    require(discount > 0.0 && discount < 1.0, s"need 0 < D < 1, got $discount")
    val toks = df.select(id.cast("bigint").as("doc_id"),
      split(trim(lower(text)), "\\s+").as("toks"))
    val stream = toks
      .select(col("doc_id"),
        posexplode(slice(col("toks"), lit(1), greatest(size(col("toks")) - 1, lit(0))))
          .as(Seq("pos", "w1")),
        col("toks"))
      .select(col("doc_id"), col("w1"),
        element_at(col("toks"), col("pos") + 2).as("w2"))
      .sharedPersist()

    // bi feeds FOUR consumers (ctx, cont, types, the contrib join);
    // persisted, the |bigram types| relation materializes once —
    // unpersisted, every consumer re-evaluates the tokenize+explode
    // subtree
    val bi = stream.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
      .sharedPersist()
    // per context w1: total bigram mass + distinct continuations
    val ctx = bi.groupBy(col("w1"))
      .agg(sum(col("c2")).as("ctxw1"), count(lit(1)).as("n1fw"))
    // per word w2: distinct predecessors (the continuation count)
    val cont = bi.groupBy(col("w2")).agg(count(lit(1)).as("n1bw"))
    val types = bi.agg(count(lit(1)).as("bt"))

    val p = (col("c2").cast("double") - lit(discount)) / col("ctxw1") +
      lit(discount) * col("n1fw").cast("double") / col("ctxw1") *
        (col("n1bw").cast("double") / col("bt"))
    val contrib = stream
      .join(bi, Seq("w1", "w2"))
      .join(ctx, Seq("w1"))
      .join(cont, Seq("w2"))
      .crossJoin(broadcast(types))
      .select(col("doc_id"),
        floor(log(p) * 1e6).cast("bigint").as("lp_micro"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp_micro")).as("sum_micro"))

    toks.select(col("doc_id"))
      .join(contrib, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        when(col("n_bigrams").isNotNull,
          round(col("sum_micro").cast("double") / (col("n_bigrams") * 1e6), 4))
          .otherwise(lit(0.0)).as("avg_logprob"))
  }

  /** DuckDB twin of [[kneserNeyScore]] over `table(doc_id, text)`;
    * final relation `knsc(doc_id, n_bigrams, avg_logprob)`.
    */
  def kneserNeyScoreSql(table: String, discount: Double = 0.75): String =
    s"""kntok AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
       |          FROM $table),
       |knstream AS (
       |  SELECT doc_id, toks[p.i] AS w1, toks[p.i + 1] AS w2
       |  FROM kntok, unnest(range(1, len(toks))) AS p(i)),
       |knbi AS (SELECT w1, w2, count(*) AS c2 FROM knstream GROUP BY w1, w2),
       |knctx AS (SELECT w1, sum(c2) AS ctxw1, count(*) AS n1fw FROM knbi GROUP BY w1),
       |kncont AS (SELECT w2, count(*) AS n1bw FROM knbi GROUP BY w2),
       |kntypes AS (SELECT count(*) AS bt FROM knbi),
       |kncontrib AS (
       |  SELECT s.doc_id,
       |    CAST(floor(ln(
       |      (CAST(bi.c2 AS DOUBLE) - $discount) / cx.ctxw1
       |      + $discount * CAST(cx.n1fw AS DOUBLE) / cx.ctxw1
       |        * (CAST(cn.n1bw AS DOUBLE) / tt.bt)) * 1e6) AS BIGINT) AS lp_micro
       |  FROM knstream s
       |  JOIN knbi bi USING (w1, w2)
       |  JOIN knctx cx USING (w1)
       |  JOIN kncont cn USING (w2)
       |  CROSS JOIN kntypes tt),
       |knagg AS (SELECT doc_id, count(*) AS n_bigrams, sum(lp_micro) AS sum_micro
       |          FROM kncontrib GROUP BY doc_id),
       |knsc AS (
       |  SELECT t.doc_id,
       |    CAST(coalesce(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       |    CASE WHEN a.n_bigrams IS NOT NULL
       |      THEN round(CAST(a.sum_micro AS DOUBLE) / (a.n_bigrams * 1e6), 4)
       |      ELSE 0.0 END AS avg_logprob
       |  FROM kntok t LEFT JOIN knagg a USING (doc_id))""".stripMargin

  /** DuckDB twin of [[bigramScore]]: CTE chain over a relation
    * `table` with columns (doc_id, text), identical tokenization,
    * identical interpolation arithmetic.
    */
  def bigramScoreSql(table: String, lambda: Double = 0.5): String =
    s"""tok AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
       |        FROM $table),
       |stream AS (
       |  SELECT doc_id, toks[p.i] AS w1, toks[p.i + 1] AS w2
       |  FROM tok, unnest(range(1, len(toks))) AS p(i)),
       |uni AS (SELECT u.w AS w, count(*) AS c1 FROM tok, unnest(toks) AS u(w) GROUP BY u.w),
       |tot AS (SELECT sum(c1) AS t FROM uni),
       |bi AS (SELECT w1, w2, count(*) AS c2 FROM stream GROUP BY w1, w2),
       |contrib AS (
       |  SELECT s.doc_id,
       |    CAST(floor(ln($lambda * CAST(bi.c2 AS DOUBLE) / u1.c1
       |       + ${1.0 - lambda} * CAST(u2.c1 AS DOUBLE) / tot.t) * 1e6) AS BIGINT) AS lp_micro
       |  FROM stream s
       |  JOIN bi USING (w1, w2)
       |  JOIN uni u1 ON u1.w = s.w1
       |  JOIN uni u2 ON u2.w = s.w2
       |  CROSS JOIN tot),
       |agg AS (SELECT doc_id, count(*) AS n_bigrams, sum(lp_micro) AS sum_micro
       |        FROM contrib GROUP BY doc_id),
       |scored AS (
       |  SELECT t.doc_id,
       |    CAST(coalesce(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       |    CASE WHEN a.n_bigrams IS NOT NULL
       |      THEN round(CAST(a.sum_micro AS DOUBLE) / (a.n_bigrams * 1e6), 4)
       |      ELSE 0.0 END AS avg_logprob
       |  FROM tok t LEFT JOIN agg a USING (doc_id))""".stripMargin
}
