package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Heaps-law vocabulary-growth fit: V(n) ≈ K·n^β — how fast the
  * corpus keeps yielding NEW terms as tokens accumulate. The scaling
  * complement of C90's Zipf rank-frequency fit: a β far from the
  * natural-text band (~0.4–0.6), or a poor log–log linearity, flags
  * template/boilerplate floods (β→0: vocabulary saturates) or
  * id/hash spam (β→1: every token novel) before they reach training.
  *
  * The growth curve is measured at `nCheckpoints` id-range
  * checkpoints: checkpoint c covers documents with id ≤ b_c where
  * b_c = mn + ⌊(mx−mn+1)·c / nCp⌋. A document's checkpoint index is
  * CLOSED-FORM integer arithmetic (c = ⌈pos·nCp / W⌉, exploiting
  * ⌊q⌋ ≥ k ⟺ q ≥ k for integer k) — no per-row global window, no
  * per-checkpoint rescan: one pass for per-term first-occurrence
  * buckets, one for per-doc token buckets, then ≤ nCp² bounded-row
  * cumulative joins. The regression is C90's exact integer moment-sum
  * device over floor(ln·1e6) micro-nat points.
  *
  * Scale shape: term first-occurrence is a (term-hash)-keyed partial
  * agg (min doc id); everything after aggregates to ≤ nCp rows.
  */
object HeapsFit {

  /** One row: (n_checkpoints, n_terms, n_tokens, beta, corr) — the
    * fitted exponent and the log–log Pearson linearity, 4dp; null on
    * a degenerate fit (< 2 distinct x).
    */
  def fit(
      df: DataFrame,
      id: Column,
      text: Column,
      nCheckpoints: Int = 8): DataFrame = {
    require(nCheckpoints >= 2, "need at least 2 checkpoints")
    val nCp = nCheckpoints
    import graft.util.PlanCache.Shareable
    // the token stream feeds BOTH histogram passes (term first
    // occurrence + per-doc counts): share one explode (the r13
    // tripwire caught this query paying two full tokenize scans per
    // pass, 20x its twin)
    val toks = df.select(id.cast("bigint").as("doc_id"),
      explode(split(trim(lower(text)), "\\s+")).as("w"))
      .filter(col("w") =!= "")
      .sharedPersist()

    val span = df.agg(min(id.cast("bigint")).as("__mn"), max(id.cast("bigint")).as("__mx"))
    def bucketOf(doc: Column): Column =
      // ceil(pos·nCp / W) in pure integer arithmetic
      expr(s"((${doc.toString} - __mn + 1) * $nCp + (__mx - __mn + 1) - 1) " +
        s"div (__mx - __mn + 1)")

    // per-term first occurrence -> its checkpoint bucket; <= nCp rows
    // once bucketed, so the histogram is a shared checkpoint and a
    // repeat fit compiles against a one-line scan
    val termFirst = toks.groupBy(col("w")).agg(min(col("doc_id")).as("first_doc"))
      .crossJoin(broadcast(span))
      .select(bucketOf(col("first_doc")).as("cp"))
      .groupBy(col("cp")).agg(count(lit(1)).as("nv"))
      .sharedCheckpoint()

    // per-doc token count -> its checkpoint bucket
    val docToks = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("nt"))
      .crossJoin(broadcast(span))
      .select(bucketOf(col("doc_id")).as("cp"), col("nt"))
      .groupBy(col("cp")).agg(sum(col("nt")).as("ntok"))
      .sharedCheckpoint()

    // cumulative over <= nCp histogram rows: bounded-row joins
    val cps = df.sparkSession.range(1, nCp + 1L).select(col("id").as("c"))
    val cumV = cps.join(broadcast(termFirst), col("cp") <= col("c"), "left")
      .groupBy(col("c")).agg(coalesce(sum(col("nv")), lit(0L)).as("v"))
    val cumT = cps.join(broadcast(docToks), col("cp") <= col("c"), "left")
      .groupBy(col("c")).agg(coalesce(sum(col("ntok")), lit(0L)).as("n"))

    val pts = cumV.join(cumT, Seq("c"))
      .filter(col("v") > 0L && col("n") > 0L)
      .select(
        floor(log(col("n").cast("double")) * 1e6).cast("bigint").as("x"),
        floor(log(col("v").cast("double")) * 1e6).cast("bigint").as("y"),
        col("v"), col("n"))

    val dec = "decimal(38,0)"
    val m = pts.agg(
      count(lit(1)).as("np"),
      max(col("v")).as("n_terms"), max(col("n")).as("n_tokens"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum((col("x").cast(dec) * col("y").cast(dec)).cast(dec)).cast(dec).as("sxy"),
      sum((col("x").cast(dec) * col("x").cast(dec)).cast(dec)).cast(dec).as("sxx"),
      sum((col("y").cast(dec) * col("y").cast(dec)).cast(dec)).cast(dec).as("syy"))
    val num = col("np").cast(dec) * col("sxy") -
      (col("sx").cast(dec) * col("sy").cast(dec)).cast(dec)
    val denX = col("np").cast(dec) * col("sxx") -
      (col("sx").cast(dec) * col("sx").cast(dec)).cast(dec)
    val denY = col("np").cast(dec) * col("syy") -
      (col("sy").cast(dec) * col("sy").cast(dec)).cast(dec)
    m.select(col("np").cast("bigint").as("n_checkpoints"),
      col("n_terms"), col("n_tokens"),
      when(denX > 0, round(num.cast("double") / denX.cast("double"), 4)).as("beta"),
      when(denX > 0 && denY > 0,
        round(num.cast("double") /
          sqrt(denX.cast("double") * denY.cast("double")), 4)).as("corr"))
  }

  /** DuckDB twin over `documents(doc_id, text)`. */
  def fitSql(nCheckpoints: Int = 8): String = {
    val nCp = nCheckpoints
    s"""WITH ht AS (SELECT doc_id, w.w AS w
       |            FROM documents,
       |                 unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w(w)
       |            WHERE w.w <> ''),
       |hs AS (SELECT min(doc_id) AS mn, max(doc_id) AS mx FROM documents),
       |hf AS (SELECT ((min(t.doc_id) - s.mn + 1) * $nCp + (s.mx - s.mn + 1) - 1)
       |              // (s.mx - s.mn + 1) AS cp
       |       FROM ht t CROSS JOIN hs s GROUP BY t.w, s.mn, s.mx),
       |hv AS (SELECT cp, count(*) AS nv FROM hf GROUP BY cp),
       |hd AS (SELECT ((t.doc_id - s.mn + 1) * $nCp + (s.mx - s.mn + 1) - 1)
       |              // (s.mx - s.mn + 1) AS cp, count(*) AS nt
       |       FROM ht t CROSS JOIN hs s GROUP BY 1),
       |hc AS (SELECT u.i AS c FROM unnest(range(1, ${nCp + 1})) AS u(i)),
       |hcv AS (SELECT c, coalesce(sum(nv), 0) AS v
       |        FROM hc LEFT JOIN hv ON hv.cp <= hc.c GROUP BY c),
       |hct AS (SELECT c, coalesce(sum(nt), 0) AS n
       |        FROM hc LEFT JOIN hd ON hd.cp <= hc.c GROUP BY c),
       |hp AS (SELECT CAST(floor(ln(CAST(n AS DOUBLE)) * 1e6) AS BIGINT) AS x,
       |         CAST(floor(ln(CAST(v AS DOUBLE)) * 1e6) AS BIGINT) AS y, v, n
       |       FROM hcv JOIN hct USING (c) WHERE v > 0 AND n > 0),
       |hm AS (SELECT count(*) AS np, max(v) AS n_terms, max(n) AS n_tokens,
       |         sum(x) AS sx, sum(y) AS sy,
       |         sum(CAST(x AS HUGEINT) * y) AS sxy,
       |         sum(CAST(x AS HUGEINT) * x) AS sxx,
       |         sum(CAST(y AS HUGEINT) * y) AS syy
       |       FROM hp),
       |hz AS (SELECT np, n_terms, n_tokens,
       |         CAST(np AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num,
       |         CAST(np AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS denx,
       |         CAST(np AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS deny
       |       FROM hm)
       |SELECT CAST(np AS BIGINT) AS n_checkpoints,
       |  CAST(n_terms AS BIGINT) AS n_terms, CAST(n_tokens AS BIGINT) AS n_tokens,
       |  CASE WHEN denx > 0
       |    THEN round(CAST(num AS DOUBLE) / CAST(denx AS DOUBLE), 4) END AS beta,
       |  CASE WHEN denx > 0 AND deny > 0
       |    THEN round(CAST(num AS DOUBLE)
       |           / sqrt(CAST(denx AS DOUBLE) * CAST(deny AS DOUBLE)), 4) END AS corr
       |FROM hz""".stripMargin
  }
}
