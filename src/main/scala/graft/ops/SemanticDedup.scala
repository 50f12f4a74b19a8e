package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.util.PlanCache.Shareable

/** Semantic deduplication (SemDeDup-style, Abbas et al. 2023):
  * cluster embeddings into cells, then flag within-cell pairs whose
  * cosine similarity exceeds a threshold — removing semantically
  * redundant (not just textually near-identical) documents, the
  * embedding-space complement of C2/C3's lexical near-dup.
  *
  * Cells here are data-INDEPENDENT fixed-seed anchors (argmax dot
  * product), not fitted k-means: the assignment is a zero-shuffle
  * narrow map (a when-fold over k dot products inside codegen), the
  * layout never needs refitting as shards append (the C7 LSH index
  * argument), and the anchors embed as roundtrip-exact literals in
  * the DuckDB twin. For fitted cells compose with C7b's integer
  * k-means instead.
  *
  * Scale shape: candidate pairs are blocked by cell — |cell|² pair
  * work instead of corpus², the same blocked-join shape as C5 — and
  * only (cell, id, vec) rows shuffle, once, for the self-join.
  */
object SemanticDedup {

  /** Deterministic anchor vectors (fixed seed, data-independent). */
  def anchors(dim: Int, k: Int, seed: Long = 99L): Seq[Seq[Double]] =
    Similarity.hyperplanes(dim, k, seed)

  /** Cell of a vector: argmax dot(v, anchor), ties to the smallest
    * anchor index (first position of the max). The fused native
    * kernel ([[graft.plans.AnchorArgmaxExpr]]): one loop over the
    * anchor matrix shipped as a codegen reference. The composed
    * array-argmax form ([[cellOfComposed]]) is the spec baseline —
    * its k-fold cast fan-out drops the projection out of whole-stage
    * codegen at k=64 and costs ~350 µs/row interpreted (measured 7 s
    * for a 20 k-row assignment; the kernel runs it in ~0.1 s).
    */
  def cellOf(vec: Column, anchors: Seq[Seq[Double]]): Column =
    graft.plans.AnchorArgmaxExpr.cell(vec, anchors)

  /** The composed argmax (verification baseline for the kernel).
    * Each dot product appears exactly once in the array: a when-fold
    * would duplicate the running-best subtree per level and the
    * expression tree grows 2^k (heap-exhausted at k=64).
    */
  def cellOfComposed(vec: Column, anchors: Seq[Seq[Double]]): Column = {
    val v = vec.cast("array<double>")
    val dots = array(anchors.map(a => VectorFunctions.dotProduct(v, typedLit(a))): _*)
    (array_position(dots, array_max(dots)) - 1).cast("int")
  }

  /** Within-cell near-duplicate pairs: (id_a, id_b, cell, cos_sim)
    * with id_a < id_b and cosine > threshold.
    */
  def nearDupPairs(df: DataFrame, id: Column, vec: Column,
      threshold: Double, anchorSeq: Seq[Seq[Double]]): DataFrame = {
    // materialize the assignment ONCE: both self-join branches read
    // it, so the k-dot argmax runs one corpus pass instead of two —
    // and measured 15× on the bench, where the giant expression
    // inside the join stage defeated whole-stage fusion (at 100 TB
    // you persist or write the assignment anyway, as IvfIndex does)
    // v pre-cast to array<double>: the per-pair cosine must not
    // re-convert the float vectors for every candidate pair
    val cells = df.select(id.cast("bigint").as("vec_id"),
      vec.cast("array<double>").as("v"),
      cellOf(vec, anchorSeq).as("cell"))
      .sharedCheckpoint()
    val a = cells.select(col("cell"), col("vec_id").as("id_a"), col("v").as("v_a"))
    val b = cells.select(col("cell"), col("vec_id").as("id_b"), col("v").as("v_b"))
    a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos_sim", VectorFunctions.cosineSimilarity(col("v_a"), col("v_b")))
      .filter(col("cos_sim") > threshold)
      .select(col("id_a"), col("id_b"), col("cell"), col("cos_sim"))
  }

  /** Documents to DROP: any id that near-dups with a smaller id in
    * its cell (keep-smallest survivor rule; for transitive-closure
    * survivors compose the pairs with C21's connected components).
    */
  def dropIds(df: DataFrame, id: Column, vec: Column,
      threshold: Double, anchorSeq: Seq[Seq[Double]]): DataFrame =
    nearDupPairs(df, id, vec, threshold, anchorSeq)
      .select(col("id_b").as("vec_id")).distinct()

  /** Anchor rows as a DuckDB VALUES relation `(cell, av)` with
    * roundtrip-exact double literals (the q_ann_lsh device).
    */
  def anchorsSql(anchorSeq: Seq[Seq[Double]]): String =
    anchorSeq.zipWithIndex
      .map { case (a, i) => s"($i, ${a.mkString("[", ", ", "]")})" }
      .mkString("(VALUES ", ", ", ") AS t(cell, av)")

  /** DuckDB twin of [[nearDupPairs]] over `embeddings(vec_id,
    * embedding)`; final relation `sdp`. The twin computes the argmax
    * via a (dot DESC, cell) ranked window — same ordering as the
    * strict-> fold.
    */
  def nearDupPairsSql(threshold: Double, anchorSeq: Seq[Seq[Double]]): String =
    s"""sde AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |sda AS (SELECT * FROM ${anchorsSql(anchorSeq)}),
       |sdd AS (SELECT e.vec_id, e.v, a.cell, list_dot_product(e.v, a.av) AS dot
       |        FROM sde e, sda a),
       |sdc AS (SELECT vec_id, v, cell FROM (
       |          SELECT vec_id, v, cell,
       |            row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cell) AS rk
       |          FROM sdd) WHERE rk = 1),
       |sdp AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.cell,
       |    list_cosine_similarity(a.v, b.v) AS cos_sim
       |  FROM sdc a JOIN sdc b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE list_cosine_similarity(a.v, b.v) > $threshold)""".stripMargin
}
