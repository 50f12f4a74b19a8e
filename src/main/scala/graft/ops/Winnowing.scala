package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.{SpanHashesExpr, WinnowExpr}

/** Winnowing fingerprint dedup (the MOSS algorithm): positional word
  * k-gram hashes → distinct w-window minima per document → candidate
  * pairs ranked by shared-fingerprint count. The guarantee the other
  * dedup families don't give: ANY shared token run of length
  * ≥ w+k−1 produces at least one shared fingerprint (MinHash/SimHash
  * are probabilistic over the WHOLE document; winnowing is
  * deterministic over local runs — the plagiarism/code-clone
  * primitive), while keeping only ~2/(w+1) of the hash stream.
  *
  * Scale shape: hashing and selection are per-row codegen kernels
  * (the C89 span-hash kernel + [[WinnowExpr]]) — text never leaves
  * its row; only 8-byte fingerprints explode. The pair stage is
  * [[Postings.anchorPairs]]: fingerprints with document frequency in
  * [2, maxDf] pair up — hot boilerplate fingerprints (df > maxDf) are
  * excluded, bounding per-key fan-out at maxDf², and the exact
  * shared-count re-rank runs on candidates only.
  */
object Winnowing {

  /** (doc_id, fp): each document's distinct winnowing fingerprints. */
  def fingerprints(
      df: DataFrame,
      id: Column,
      text: Column,
      k: Int = 3,
      w: Int = 4): DataFrame =
    df.select(id.cast("bigint").as("doc_id"),
      explode(WinnowExpr.winnow(SpanHashesExpr.spanHashes(text, k), w)).as("fp"))

  /** (id_a, id_b, n_shared): pairs sharing ≥ minShared rare
    * fingerprints (df ≤ maxDf), strongest matches first when the
    * caller sorts on n_shared.
    */
  def candidatePairs(
      df: DataFrame,
      id: Column,
      text: Column,
      k: Int = 3,
      w: Int = 4,
      maxDf: Int = 10,
      minShared: Int = 2): DataFrame = {
    require(w >= 1 && minShared >= 1, "w>=1, minShared>=1")
    // fingerprints are distinct per document, so every anchor pair row
    // is one distinct shared fingerprint
    val postings = fingerprints(df, id, text, k, w).select(col("doc_id"), col("fp").as("h"))
    Postings.anchorPairs(postings, maxDf)
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** DuckDB twin of [[candidatePairs]] over `documents(doc_id,
    * text)`; final relation `wpr(id_a, id_b, n_shared)`. Expects an
    * `all_docs(doc_id, text)` relation in scope (the shared corpus
    * CTE convention).
    */
  def candidatePairsSql(
      k: Int = 3,
      w: Int = 4,
      maxDf: Int = 10,
      minShared: Int = 2): String =
    s"""wtk AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
       |        FROM all_docs),
       |wsp AS (SELECT doc_id, p.i AS pos,
       |          ('0x' || substr(md5(array_to_string(
       |             list_slice(toks, p.i, p.i + ${k - 1}), ' ')), 1, 15))::BIGINT AS shash
       |        FROM wtk, unnest(range(1, len(toks) - ${k - 2})) AS p(i)
       |        WHERE len(toks) >= $k),
       |wha AS (SELECT doc_id, list(shash ORDER BY pos) AS hs FROM wsp GROUP BY doc_id),
       |wfp AS (SELECT DISTINCT doc_id, fp FROM (
       |          SELECT doc_id,
       |            unnest(CASE WHEN len(hs) < $w THEN [list_aggregate(hs, 'min')]
       |              ELSE list_distinct(list_transform(range(1, len(hs) - $w + 2),
       |                     i -> list_aggregate(hs[i:i+${w - 1}], 'min'))) END) AS fp
       |          FROM wha)),
       |wdf AS (SELECT fp FROM wfp GROUP BY fp HAVING count(*) BETWEEN 2 AND $maxDf),
       |wan AS (SELECT f.doc_id, f.fp FROM wfp f JOIN wdf USING (fp)),
       |wpr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |          CAST(count(*) AS BIGINT) AS n_shared
       |        FROM wan a JOIN wan b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |        GROUP BY 1, 2 HAVING count(*) >= $minShared)""".stripMargin
}
