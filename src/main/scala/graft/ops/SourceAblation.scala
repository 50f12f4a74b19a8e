package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.LinearClassifier.PerceptronModel
import graft.util.PlanCache

/** Leave-one-source-out data valuation (C124) — the ablation answer
  * to "is this corpus source helping or hurting the gate": for each
  * candidate source, re-fit the C99 perceptron on the training split
  * WITHOUT that source and measure the exact AUC delta on a fixed
  * hash-held-out evaluation split. A positive delta (base minus
  * ablated AUC) means the source carries signal the rest of the
  * corpus does not; a negative delta is the actionable one — the
  * source is actively miscalibrating the gate and is a candidate for
  * down-weighting (C92) or removal. This is the train-and-measure
  * half of data valuation; C53 (DSIR) reweights by distribution
  * match WITHOUT retraining, and C92 (DoReMi) reweights by
  * per-domain excess loss — ablation is the ground truth both
  * approximate.
  *
  * Determinism, engine parity: the eval split is the C19 md5 hash
  * split ("ablsplit:" + id), each fit is the C99 integer perceptron
  * (bit-exact, order-insensitive), and the metric is C102's exact
  * integer AUC — so the DuckDB twin (one unrolled fit chain per
  * ablation over the same feats CTE, the C116 device) reproduces
  * every delta bit for bit.
  *
  * Scale shape: ONE hashed-BoW featurization serves every fit and
  * every scoring pass (features restrict per-ablation through the
  * LABEL join, never a re-tokenize); K+1 fits each follow C99's
  * bounded-driver pattern (dim longs per epoch on the driver, the
  * corpus never collected); at 100 TB the eval split is a fixed-rate
  * hash sample and K is the handful of sources under review, so the
  * whole audit is K+1 fit jobs + K+1 single-pass scorings. The
  * per-model AUC is a 1-row driver fetch (the C75 driver-decision
  * pattern) assembled into a K-row result.
  */
object SourceAblation {

  /** AUC deltas from ablating each of `ablate` sources.
    *
    * @param docs    corpus with id/text/source columns
    * @param labels  (doc_id, y) with y in {+1, -1}
    * @param evalMod eval split = md5("ablsplit:" + id) % evalMod == 0
    * @return (source, n_removed, auc_milli, base_auc_milli,
    *         delta_milli) ordered by source; delta = base - ablated
    */
  def aucDeltas(
      docs: DataFrame, id: Column, text: Column, source: Column,
      labels: DataFrame, dim: Int, epochs: Int, ablate: Seq[String],
      evalMod: Long = 4L): DataFrame = {
    require(ablate.nonEmpty, "ablate at least one source")
    val spark = docs.sparkSession
    import spark.implicits._

    // ONE narrow entry frame for everything (tokenize+hash once,
    // persisted): the per-ablation train restriction and the eval
    // split are in-row FILTERS — the former shape paid, per model, a
    // roster semi-join inside the fit plus a doc-keyed score exchange
    // and a label join on the eval side (guide §2.4). Labels join
    // once (the audit's signature keeps them a frame); `y` rides
    // long for the fit, original-typed for the AUC.
    PlanCache.scoped(LinearClassifier
      .entryFrameWith(docs, id, text, dim,
        "source" -> source.cast("string"),
        "is_eval" -> (Dedup.md5Hash60(concat(lit("ablsplit:"), id.cast("string")))
          % evalMod === 0))
      .join(labels.select(col("doc_id").cast("bigint").as("doc_id"), col("y")),
        Seq("doc_id"))
      .select(col("doc_id"), col("es"), col("source"), col("is_eval"),
        col("y").as("y_out"), col("y").cast("long").as("y"))) { entries =>
      // FUSED K+1 fits (the fitOneVsAll device applied to row subsets):
      // every arm — baseline plus one per ablated source — updates from
      // ONE flagged pass + ONE gradient collect per epoch, instead of
      // (K+1)·epochs sequential actions. Arithmetic is independent per
      // arm, so the fused models are bit-identical to the sequential
      // chain (spec-pinned on the separable fixture). Arm flags are
      // null-safe: a NULL source must stay in every ablated fit,
      // matching the twin's NOT IN (... WHERE source = 's0') — plain
      // =!= would evaluate NULL to NULL and drop those rows.
      val armNames = "__all__" +: ablate.sorted
      val arms = armNames.map {
        case "__all__" => ("__all__", !col("is_eval"))
        case s0 => (s0, !col("is_eval") && !(col("source") <=> lit(s0)))
      }
      val models = LinearClassifier.fitArmsEntries(entries, arms, dim, epochs).toMap

      // one grouped-AUC job for all K+1 models (finish() is shared with
      // the global aucMilli, so per-arm values equal the per-model
      // aucMilli calls this replaces): arm margins are in-row folds
      // over the SAME persisted eval rows, unioned under an arm key
      val evalE = entries.filter(col("is_eval"))
      val scoredAll = armNames.map(n => evalE.select(lit(n).as("arm"),
          LinearClassifier.entryMarginExpr(col("es"), models(n)).as("margin"),
          col("y_out").as("y")))
        .reduce(_ unionAll _)
      val aucRows = RankEval.aucMilliByGroup(scoredAll, col("arm"), col("margin"), col("y"))
        .collect().map(r => r.getString(0) -> r).toMap
      def aucOf(arm: String): Long = {
        // a degenerate eval split (empty, or single-class -> the -1
        // sentinel) would make every delta 0 and the audit read as
        // "no source matters" — fail loudly instead
        val r = aucRows.getOrElse(arm,
          throw new IllegalStateException(s"degenerate eval split: no rows for $arm"))
        require(!r.isNullAt(r.fieldIndex("auc_milli"))
            && r.getAs[Long]("auc_milli") >= 0L,
          s"degenerate eval split: p=${r.get(r.fieldIndex("p"))}, " +
            s"n=${r.get(r.fieldIndex("n"))} — need both classes held out")
        r.getAs[Long]("auc_milli")
      }

      val baseAuc = aucOf("__all__")
      // from `docs`, NOT the entry frame: n_removed counts every
      // non-eval doc of the source, token-less ones included (the twin
      // counts FROM documents)
      val removedCounts = docs
        .select(source.cast("string").as("source"),
          (Dedup.md5Hash60(concat(lit("ablsplit:"), id.cast("string"))) % evalMod === 0)
            .as("is_eval"))
        .filter(!col("is_eval"))
        .groupBy(col("source")).agg(count(lit(1)).as("n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      ablate.sorted.map { s0 =>
        val auc = aucOf(s0)
        (s0, removedCounts.getOrElse(s0, 0L), auc, baseAuc, baseAuc - auc)
      }.toDF("source", "n_removed", "auc_milli", "base_auc_milli", "delta_milli")
    }
  }

  /** DuckDB twin: per-ablation lab CTEs + one unrolled fit chain per
    * model over the SHARED `feats` CTE (caller supplies it — the
    * ClassifierQueries prelude), eval scoring + exact AUC per model,
    * assembled into the same (source, ...) rows. `hash60` is the
    * caller's md5-60 SQL for a given expression.
    */
  def aucDeltasSqlTail(epochs: Int, ablate: Seq[String], evalMod: Long,
      hash60: String => String): String = {
    val h = hash60("'ablsplit:' || CAST(doc_id AS VARCHAR)")
    val sorted = ablate.sorted
    val sb = new StringBuilder
    sb.append(s"ev AS (SELECT doc_id FROM documents WHERE ($h) % $evalMod = 0),\n")
    sb.append("lab_ev AS (SELECT doc_id, y FROM lab WHERE doc_id IN (SELECT doc_id FROM ev)),\n")
    sb.append("lab_b AS (SELECT l.doc_id, l.y FROM lab l WHERE l.doc_id NOT IN (SELECT doc_id FROM ev)),\n")
    sorted.zipWithIndex.foreach { case (s0, i) =>
      sb.append(s"lab_a$i AS (SELECT l.doc_id, l.y FROM lab_b l WHERE l.doc_id NOT IN " +
        s"(SELECT doc_id FROM documents WHERE source = '$s0')),\n")
    }
    sb.append(LinearClassifier.fitSqlCtes(epochs, "b_", "lab_b")).append(",\n")
    sorted.indices.foreach { i =>
      sb.append(LinearClassifier.fitSqlCtes(epochs, s"a${i}_", s"lab_a$i")).append(",\n")
    }
    def scoredCte(name: String, prefix: String) =
      s"""sc_$name AS (SELECT f.doc_id,
         |  CAST(COALESCE(SUM(w.w * f.cnt), 0) + (SELECT b FROM ${prefix}bias$epochs) AS BIGINT) AS margin,
         |  l.y
         |FROM feats f JOIN lab_ev l USING (doc_id)
         |LEFT JOIN ${prefix}w$epochs w USING (bucket)
         |GROUP BY f.doc_id, l.y)""".stripMargin
    sb.append(scoredCte("b", "b_")).append(",\n")
    sorted.indices.foreach(i => sb.append(scoredCte(s"a$i", s"a${i}_")).append(",\n"))
    def aucCte(name: String) =
      s"auc_$name AS (SELECT auc_milli FROM (${RankEval.aucSql(s"sc_$name")}))"
    sb.append(aucCte("b")).append(",\n")
    sb.append(sorted.indices.map(i => aucCte(s"a$i")).mkString(",\n")).append("\n")
    val rows = sorted.zipWithIndex.map { case (s0, i) =>
      s"""SELECT '$s0' AS source,
         |  (SELECT CAST(count(*) AS BIGINT) FROM documents d
         |   WHERE d.source = '$s0' AND d.doc_id NOT IN (SELECT doc_id FROM ev)) AS n_removed,
         |  (SELECT auc_milli FROM auc_a$i) AS auc_milli,
         |  (SELECT auc_milli FROM auc_b) AS base_auc_milli,
         |  (SELECT auc_milli FROM auc_b) - (SELECT auc_milli FROM auc_a$i) AS delta_milli""".stripMargin
    }
    sb.append(rows.mkString("", "\nUNION ALL\n", "\nORDER BY source"))
    sb.toString
  }
}
