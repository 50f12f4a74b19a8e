package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.PlanCache

/** Cross-validated label-noise audit (confident-learning style): the
  * labels a pretraining pipeline trains its gates on are themselves
  * scraped — fit the C99 classifier k times, each fold scored by a
  * model that NEVER saw it, and a confident disagreement (the
  * held-out model contradicts the recorded label) flags the label,
  * not the model. The standard triage list before anyone hand-cleans
  * a seed set.
  *
  * Composition of existing exact parts — C108-style hash folds, C99
  * integer perceptron fits (k driver-bounded model collects), C99
  * serving margins — so the whole audit is bit-exact and the DuckDB
  * twin is k prefixed unrolled-fit chains. Features hash ONCE and
  * persist across all k fits (the C103 argument); each fold's
  * training set is a label-side filter, never a second corpus pass.
  */
object CrossVal {

  /** Every labeled doc WITH at least one token scored by the model
    * from the folds it is NOT in. Labeled docs whose text tokenizes
    * to nothing carry no hashed-BoW rows and are excluded from the
    * audit on both engines (there is no lexical evidence to
    * contradict such a label; a margin for them would be the fold
    * bias alone).
    *
    * @param labels (doc_id, y) with y in {+1, -1}
    * @return (doc_id, fold, y, margin, pred, suspect) — suspect when
    *         the held-out prediction contradicts y
    */
  def labelNoiseAudit(
      docs: DataFrame,
      id: Column,
      text: Column,
      labels: DataFrame,
      dim: Int,
      epochs: Int,
      k: Int,
      seed: String = "noise"): DataFrame = {
    require(k >= 2, "k >= 2")
    // ONE narrow entry frame with the fold key in-row: every fold's
    // train set is a filter (never a label/feature join), each fit is
    // the zero-shuffle entries fit, and held-out scoring is an in-row
    // margin fold — the per-fold (feats ⋈ holdout) semi-join + label
    // join + doc-keyed score exchange are gone (guide §2.4). `y`
    // rides twice: cast long for the fit ("y"), original-typed for
    // the audit output ("y_out").
    PlanCache.scoped(LinearClassifier.entryFrame(docs, id, text, lit(0L), dim)
      .drop("y")
      .join(labels.select(col("doc_id").cast("bigint").as("doc_id"), col("y")),
        Seq("doc_id"))
      .select(col("doc_id"), col("y").as("y_out"),
        col("y").cast("long").as("y"), col("es"),
        (Dedup.md5Hash60(concat(lit(seed + ":"), col("doc_id").cast("string")))
          % k).cast("int").as("fold"))) { entries =>
      // FUSED k fold fits (LinearClassifier.fitArmsEntries): every
      // fold model updates from ONE flagged pass + ONE gradient
      // collect per epoch — k·epochs sequential actions become
      // `epochs`; per-arm arithmetic independent, so bit-identical
      val models = LinearClassifier.fitArmsEntries(entries,
        (0 until k).map(f => (f.toString, col("fold") =!= f)), dim, epochs).toMap
      (0 until k).map { f =>
        val model = models(f.toString)
        entries.filter(col("fold") === f)
          .select(col("doc_id"), col("fold"), col("y_out").as("y"),
            LinearClassifier.entryMarginExpr(col("es"), model).as("margin"))
          .withColumn("pred", when(col("margin") > 0, 1).otherwise(-1))
          .select(col("doc_id"), col("fold"), col("y"),
            col("margin"), col("pred"))
      }.reduce(_.unionAll(_))
        .withColumn("suspect", col("pred") =!= col("y"))
    }
  }

  /** DuckDB twin: k prefixed unrolled-fit chains over fold-filtered
    * label CTEs + per-fold held-out scoring, UNION ALL'd. Requires
    * `feats(doc_id, bucket, cnt)` and `lab(doc_id, y)` CTEs in
    * scope; emits the full WITH-chain tail + final SELECT.
    */
  def auditSqlTail(epochs: Int, k: Int, seed: String = "noise"): String = {
    val foldExpr =
      s"(('0x' || substr(md5('$seed:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % $k)"
    val chains = (0 until k).map { f =>
      s"""train$f AS (SELECT l.doc_id, l.y FROM lab l JOIN foldmap USING (doc_id)
         |            WHERE foldmap.fold <> $f),
         |${LinearClassifier.fitSqlCtes(epochs, s"f${f}_", s"train$f")},
         |sc$f AS (SELECT f.doc_id, fm.fold, l.y,
         |  CAST(COALESCE(SUM(w.w * f.cnt), 0)
         |    + (SELECT b FROM f${f}_bias$epochs) AS BIGINT) AS margin
         |  FROM feats f JOIN lab l USING (doc_id)
         |  JOIN foldmap fm USING (doc_id)
         |  LEFT JOIN f${f}_w$epochs w USING (bucket)
         |  WHERE fm.fold = $f
         |  GROUP BY f.doc_id, fm.fold, l.y)""".stripMargin
    }.mkString(",\n")
    val unionAll = (0 until k)
      .map(f => s"SELECT doc_id, fold, y, margin FROM sc$f")
      .mkString("\nUNION ALL\n")
    s"""foldmap AS (SELECT doc_id, CAST($foldExpr AS INTEGER) AS fold FROM lab),
       |$chains,
       |all_sc AS ($unionAll)
       |SELECT doc_id, fold, y, margin,
       |  CASE WHEN margin > 0 THEN 1 ELSE -1 END AS pred,
       |  (CASE WHEN margin > 0 THEN 1 ELSE -1 END) <> y AS suspect
       |FROM all_sc ORDER BY doc_id""".stripMargin
  }
}
