package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.TopKAgg

/** The one posting-list core behind the shingle-hash pair joins
  * (SetSimJoin, Dedup.containment, TriangleCount.anchorEdges, TfIdf)
  * and Winnowing's fingerprint pairs: one hash kernel, one per-doc
  * set builder, one rare-anchor pair expansion (the compressed-index
  * design of "Highly Efficient String Similarity Search and Join over
  * Compressed Indexes", ICDE 2022: search and join variants served
  * from one index).
  *
  * Scale shape: hashing and per-doc dedup happen inside the row, so
  * text never shuffles and per-doc distinct costs no exchange; the
  * anchor stage is ONE exchange keyed on the 60-bit hash.
  */
object Postings {

  /** Each document's word-k-shingle hashes (60-bit md5, the DuckDB
    * `('0x'||substr(md5(s),1,15))::BIGINT` value), in shingle order.
    */
  def hashes(text: Column, k: Int): Column =
    transform(TextAnalysis.wordShingles(text, k), Dedup.md5Hash60(_))

  /** (doc_id, hs, sz): per-doc DISTINCT shingle-hash arrays and their
    * sizes. Lazy — callers that read it twice share-persist it.
    */
  def hashSets(df: DataFrame, id: Column, text: Column, k: Int): DataFrame =
    df.select(id.cast("bigint").as("doc_id"), array_distinct(hashes(text, k)).as("hs"))
      .withColumn("sz", size(col("hs")).cast("bigint"))

  /** (id_a, id_b) with id_a < id_b, one row per anchor hash the two
    * documents share, where an anchor is a hash whose document
    * frequency is in [2, maxDf]: boilerplate hashes (df > maxDf) never
    * expand, so fan-out is at most maxDf²/2 per hash by construction.
    *
    * `postings` is (doc_id, h), unique per (doc_id, h). One exchange
    * carries the exact df plus a bounded ascending id list per hash
    * (the top-maxDf ids — all of them whenever df <= maxDf); pairs
    * then expand in-row through two chained Generates (posexplode,
    * then explode of the tail slice), which stay in codegen.
    */
  def anchorPairs(postings: DataFrame, maxDf: Int): DataFrame = {
    require(maxDf >= 2, s"maxDf must admit at least one pair, got $maxDf")
    postings.groupBy(col("h"))
      .agg(count(lit(1)).as("df"), TopKAgg.topK(-col("doc_id"), col("doc_id"), maxDf).as("kept"))
      .filter(col("df") >= 2 && col("df") <= maxDf)
      .select(transform(col("kept"), e => e.getField("id")).as("ids"))
      .select(posexplode(col("ids")).as(Seq("i", "id_a")), col("ids"))
      .select(col("id_a"), explode(slice(col("ids"), col("i") + lit(2), lit(maxDf))).as("id_b"))
  }
}
