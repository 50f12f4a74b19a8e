package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{Calibration, DecisionStump, FeatureSelect, Features, LinearClassifier, NaiveBayes}
import graft.util.PlanCache

/** Trained-classifier queries: hashed bag-of-words features (C70),
  * distributed linear-classifier training and its serving-path
  * scorer (C99), one-vs-all multiclass (C103), margin-based active
  * learning (C101), one-pass multinomial Naive Bayes (C122),
  * decision-stump split search (C114), and chi-square feature
  * selection (C110).
  *
  * The deterministic fits are memoized per (session, sfDir, dim,
  * epochs) via `PlanCache.memo` — every eval-family query shares ONE
  * fit per dataset
  * instead of re-running the identical bit-exact training chain.
  */
object ClassifierQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.read(s, dir, name)

  /** Feature dim + epochs for the classifier queries — small dim
    * keeps the unrolled oracle readable; exactness is dim-blind.
    */
  val ClsDim = 64
  val ClsEpochs = 3
  val ActiveK = 5

  /** One-vs-all language classes (sorted; fixed on both sides) and
    * its epoch count — 2 keeps the 5-class unrolled oracle at 10
    * epoch blocks.
    */
  val OvaClasses = Seq("de", "en", "es", "fr", "zh")
  val OvaEpochs = 2

  /** Sparse hashed-BoW feature dim for q_hashed_bow (C70). */
  val BowDim = 64

  /** Chi-square selection: noise floor + list depth. */
  val ChiMinDf = 5
  val ChiTopN = 40

  /** C141 calibration audit: hash-split calibration fraction + the
    * integer-margin bin width (shared by query and oracle).
    */
  val CalFraction = 0.8
  val CalBinWidth = 256

  /** The training task: an English-vs-rest language gate — labels
    * derivable identically on both engines from the lang column.
    */
  private[queries] def labels(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").cast("bigint").as("doc_id"), labelExpr.as("y"))

  /** The label as a bare expression — the in-row form every
    * zero-shuffle fit/score path attaches (the (features ⋈ labels)
    * join was a self-join of documents on its own key).
    */
  private[queries] val labelExpr =
    when(col("lang") === "en", 1).otherwise(-1)

  /** The shared binary fit, memoized: deterministic per (dir, dim,
    * epochs) — one fit per dataset per (cold-bench) pass. The
    * text-entry fit is bit-identical to the exploded
    * fitPerceptron(hashedBow, labels) chain (spec-pinned) with zero
    * feature exchange and one tiny gradient agg per epoch.
    */
  private[queries] def fit(s: SparkSession, dir: String): LinearClassifier.PerceptronModel =
    PlanCache.memo(s, s"perceptron:$dir:$ClsDim:$ClsEpochs") {
      val docs = t(s, dir, "documents")
      LinearClassifier.fitPerceptronText(docs, col("doc_id"), col("text"),
        labelExpr, ClsDim, ClsEpochs)
    }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // C70: hashing-trick bag-of-words — vocabulary-free fixed-dim
    // features; sparse (doc, bucket, cnt) form for the oracle.
    "q_hashed_bow" -> { (s, dir) =>
      Features.hashedBow(t(s, dir, "documents"), col("doc_id"), col("text"), BowDim)
        .orderBy(col("doc_id"), col("bucket"))
    },

    // C99: batch-perceptron fit — final nonzero integer weights.
    "q_perceptron_train" -> { (s, dir) =>
      val model = fit(s, dir)
      import s.implicits._
      model.weightRows.toDF("bucket", "weight")
        .select(col("bucket").cast("bigint").as("bucket"), col("weight"))
        .orderBy(col("bucket"))
    },

    // C139: dataset cartography — per-doc confidence/variability/
    // region over the perceptron's epoch-margin trajectory (the
    // margins each epoch's update step saw). The trajectory is
    // O(epochs·dim) driver data, memoized like the final fit.
    "q_cartography" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val snaps = PlanCache.memo(s, s"cartography:$dir:$ClsDim:$ClsEpochs") {
        graft.ops.Cartography.trajectoryText(docs, col("doc_id"), col("text"),
          labelExpr, ClsDim, ClsEpochs)
      }
      graft.ops.Cartography.mapFromTrajectory(docs, col("doc_id"), col("text"),
          labelExpr, ClsDim, snaps)
        .orderBy(col("doc_id"))
    },

    // C99 serving path: integer margins + sign predictions of the
    // fitted model over the corpus, with gold labels for inspection.
    // scoreText (spec-proved bit-equal to score∘hashedBow) makes this
    // a single narrow projection: no doc-keyed exchange, no label
    // self-join; has_tokens reproduces the exploded path's row set.
    "q_perceptron_score" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val model = fit(s, dir)
      LinearClassifier.scoreText(docs, col("doc_id"), col("text"), ClsDim, model,
          "y" -> labelExpr)
        .filter(col("has_tokens"))
        .select(col("doc_id"), col("margin"), col("pred"), col("y"))
        .orderBy(col("doc_id"))
    },

    // C103: one-vs-all multiclass — a TRAINED language classifier
    // (5 binary integer-perceptron fits, argmax serving in one
    // doc-keyed aggregation pass with deterministic ties).
    "q_ova_lang" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val models = PlanCache.memo(s, s"ova:$dir:$ClsDim:$OvaEpochs") {
        PlanCache.scoped(LinearClassifier.entryFrameWith(docs,
            col("doc_id"), col("text"), ClsDim, "cls" -> col("lang")))(
          LinearClassifier.fitOneVsAllEntries(_, OvaClasses, ClsDim, OvaEpochs))
      }
      // text-path argmax serving: one narrow projection, no explode,
      // no doc-keyed exchange, no class-label self-join
      LinearClassifier.predictOneVsAllText(docs, col("doc_id"), col("text"),
          ClsDim, models, "actual" -> col("lang"))
        .select(col("doc_id"), col("pred_cls"), col("margin"),
          col("actual"), (col("pred_cls") === col("actual")).as("correct"))
        .orderBy(col("doc_id"))
    },

    // C101: margin-based active learning — the k least-confident
    // docs per source under the fitted gate (C66 bounded heap on
    // -|margin|: ≤ k ids per (task, group) through the shuffle).
    "q_active_select" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val model = fit(s, dir)
      // in-row scoring with source riding along: the only exchange
      // left is selectUncertain's bounded per-source top-k heap
      val scored = LinearClassifier.scoreText(docs, col("doc_id"), col("text"),
          ClsDim, model, "source" -> col("source"))
        .filter(col("has_tokens"))
      LinearClassifier.selectUncertain(scored, col("source"), ActiveK)
        .withColumnRenamed("grp", "source")
        .orderBy(col("source"), col("rank"))
    },

    // C122: language-ID confusion matrix of the one-pass NB
    // classifier, trained on the 80% hash split, scored on the 20%.
    "q_nbayes" -> { (s, dir) =>
      NaiveBayes.confusion(t(s, dir, "documents"),
        col("doc_id"), col("text"), col("lang"))
    },

    // C114: optimal single-threshold split of floor(value) against
    // the purchase label — full exact-Gini split curve, rk=1 optimal.
    "q_stump" -> { (s, dir) =>
      DecisionStump.splitScores(t(s, dir, "events"),
          floor(col("value")), col("event_type") === "purchase")
        .orderBy(col("threshold"))
    },

    // C110: top-40 tokens by chi-square association with the language
    // label — exact integer milli-chi2, no float addition order.
    "q_chi2_features" -> { (s, dir) =>
      FeatureSelect.chiSquare(t(s, dir, "documents"),
        col("doc_id"), col("text"), col("lang"),
        minDf = ChiMinDf, topN = ChiTopN)
    },

    // C141: histogram-binning calibration audit of the fitted gate —
    // per-margin-bin calibration-vs-test positive rates + integer ECE.
    "q_calibration_audit" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val model = fit(s, dir)
      val scored = LinearClassifier.scoreText(docs, col("doc_id"), col("text"),
          ClsDim, model, "y" -> labelExpr)
        .filter(col("has_tokens"))
      Calibration.binnedReliability(scored, col("doc_id"), col("margin"), col("y"),
        CalFraction, CalBinWidth)
    }
  )

  /** feats + labels WITH-chain head, no fit — composable base for
    * oracles that run their own (or several) fit chains.
    */
  private[queries] def preludeBase: String =
    s"""WITH tok AS (SELECT doc_id,
       |               unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
       |             FROM documents),
       |feats AS MATERIALIZED (SELECT doc_id, bucket, count(*) AS cnt
       |          FROM (SELECT doc_id, ${Features.bucketSql("tok", ClsDim)} AS bucket
       |                FROM tok WHERE tok <> '') GROUP BY doc_id, bucket),
       |lab AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y
       |        FROM documents)""".stripMargin

  /** Shared WITH prelude: tokenization/bucketing identical to
    * q_hashed_bow's oracle, labels from lang, plus the unrolled fit.
    */
  private[queries] def prelude: String =
    s"""$preludeBase,
       |${LinearClassifier.fitSqlCtes(ClsEpochs)}""".stripMargin

  /** Margins under the FINAL weights (w<epochs>), joined with labels
    * — the oracle-side twin of score(...) ∘ hashedBow.
    */
  private[queries] def finalScoredCte: String =
    s"""fsc AS (SELECT f.doc_id,
       |  CAST(COALESCE(SUM(w.w * f.cnt), 0) + (SELECT b FROM bias$ClsEpochs) AS BIGINT) AS margin,
       |  l.y
       |FROM feats f JOIN lab l USING (doc_id)
       |LEFT JOIN w$ClsEpochs w USING (bucket)
       |GROUP BY f.doc_id, l.y)""".stripMargin

  val oracles: Map[String, String] = Map(

    "q_hashed_bow" ->
      s"""WITH tok AS (SELECT doc_id,
         |               unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
         |             FROM documents),
         |b AS (SELECT doc_id, ${Features.bucketSql("tok", BowDim)} AS bucket
         |      FROM tok WHERE tok <> '')
         |SELECT doc_id, bucket, count(*) AS cnt
         |FROM b GROUP BY doc_id, bucket ORDER BY doc_id, bucket""".stripMargin,

    "q_perceptron_train" ->
      s"""$prelude
         |SELECT bucket, w AS weight FROM w$ClsEpochs
         |WHERE w <> 0 ORDER BY bucket""".stripMargin,

    "q_cartography" ->
      s"""$prelude,
         |${graft.ops.Cartography.mapSqlTail(ClsEpochs)}
         |SELECT doc_id, CAST(y AS BIGINT) AS y, n_epochs, n_correct,
         |  confidence_milli, variability_milli, region
         |FROM cfin ORDER BY doc_id""".stripMargin,

    "q_perceptron_score" ->
      s"""$prelude
         |SELECT f.doc_id,
         |  CAST(COALESCE(SUM(w.w * f.cnt), 0) + (SELECT b FROM bias$ClsEpochs) AS BIGINT) AS margin,
         |  CASE WHEN COALESCE(SUM(w.w * f.cnt), 0) + (SELECT b FROM bias$ClsEpochs) > 0
         |       THEN 1 ELSE -1 END AS pred,
         |  l.y
         |FROM feats f JOIN lab l USING (doc_id)
         |LEFT JOIN w$ClsEpochs w USING (bucket)
         |GROUP BY f.doc_id, l.y
         |ORDER BY f.doc_id""".stripMargin,

    "q_ova_lang" -> {
      val classCtes = OvaClasses.map { c =>
        s"""lab_$c AS (SELECT doc_id, CASE WHEN cls = '$c' THEN 1 ELSE -1 END AS y FROM clsmap),
           |${LinearClassifier.fitSqlCtes(OvaEpochs, s"${c}_", s"lab_$c")},
           |sc_$c AS (SELECT f.doc_id,
           |  CAST(COALESCE(SUM(w.w * f.cnt), 0) + (SELECT b FROM ${c}_bias$OvaEpochs) AS BIGINT) AS margin
           |  FROM feats f LEFT JOIN ${c}_w$OvaEpochs w USING (bucket)
           |  GROUP BY f.doc_id)""".stripMargin
      }.mkString(",\n")
      val unionAll = OvaClasses
        .map(c => s"SELECT doc_id, '$c' AS cls, margin FROM sc_$c")
        .mkString("\nUNION ALL\n")
      s"""$prelude,
         |clsmap AS (SELECT doc_id, lang AS cls FROM documents),
         |$classCtes,
         |all_m AS ($unionAll),
         |ranked AS (SELECT doc_id, cls, margin,
         |  row_number() OVER (PARTITION BY doc_id ORDER BY margin DESC, cls) AS rn
         |  FROM all_m)
         |SELECT r.doc_id, r.cls AS pred_cls, r.margin, c.cls AS actual,
         |  (r.cls = c.cls) AS correct
         |FROM ranked r JOIN clsmap c USING (doc_id)
         |WHERE rn = 1 ORDER BY r.doc_id""".stripMargin
    },

    "q_active_select" ->
      s"""$prelude,
         |sc AS (SELECT f.doc_id, d.source,
         |  abs(CAST(COALESCE(SUM(w.w * f.cnt), 0) + (SELECT b FROM bias$ClsEpochs) AS BIGINT)) AS am
         |FROM feats f JOIN documents d USING (doc_id)
         |LEFT JOIN w$ClsEpochs w USING (bucket)
         |GROUP BY f.doc_id, d.source)
         |SELECT source, rank, doc_id, am AS abs_margin FROM (
         |  SELECT source, doc_id, am,
         |    row_number() OVER (PARTITION BY source ORDER BY am, doc_id) AS rank
         |  FROM sc) t
         |WHERE rank <= $ActiveK ORDER BY source, rank""".stripMargin,

    "q_nbayes" -> NaiveBayes.confusionSql(),

    "q_stump" ->
      """WITH s AS (SELECT CAST(floor(value) AS BIGINT) AS t,
        |             (event_type = 'purchase') AS y FROM events),
        |g AS (SELECT t,
        |        CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS p,
        |        CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS n
        |      FROM s GROUP BY t),
        |c AS (SELECT t, p, n,
        |        CAST(sum(p) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS BIGINT) AS lp,
        |        CAST(sum(n) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS BIGINT) AS lneg
        |      FROM g),
        |tt AS (SELECT CAST(sum(p) AS BIGINT) AS tot_p,
        |              CAST(sum(n) AS BIGINT) AS tot_n FROM g),
        |d AS (SELECT c.t, c.lp, c.lneg,
        |        tt.tot_p - c.lp AS rp, tt.tot_n - c.lneg AS rn,
        |        c.lp + c.lneg AS lt,
        |        (tt.tot_p - c.lp) + (tt.tot_n - c.lneg) AS rt
        |      FROM c, tt),
        |sc AS (SELECT t, lp, lneg, rp, rn,
        |         CAST((1000 * ((CAST(lt AS HUGEINT) * lt
        |             - CAST(lp AS HUGEINT) * lp
        |             - CAST(lneg AS HUGEINT) * lneg) * rt
        |           + (CAST(rt AS HUGEINT) * rt
        |             - CAST(rp AS HUGEINT) * rp
        |             - CAST(rn AS HUGEINT) * rn) * lt))
        |           // (CAST(lt AS HUGEINT) * rt) AS BIGINT) AS score_milli
        |       FROM d WHERE rt > 0)
        |SELECT t AS threshold, lp AS l_pos, lneg AS l_neg,
        |  rp AS r_pos, rn AS r_neg, score_milli,
        |  CAST(row_number() OVER (ORDER BY score_milli, t) AS BIGINT) AS rk
        |FROM sc ORDER BY threshold""".stripMargin,

    "q_chi2_features" ->
      s"""WITH pres AS (
         |  SELECT DISTINCT doc_id, lang AS cls, u.t AS token
         |  FROM documents,
         |       unnest(string_split_regex(trim(lower(text)), '\\s+')) AS u(t)
         |  WHERE u.t <> ''),
         |nn AS (SELECT count(*) AS n FROM documents),
         |ct AS (SELECT lang AS cls, count(*) AS n_c FROM documents GROUP BY lang),
         |pc AS (SELECT token, cls, count(*) AS df_c FROM pres GROUP BY token, cls),
         |dft AS (SELECT token, CAST(sum(df_c) AS BIGINT) AS df FROM pc GROUP BY token),
         |grid AS (SELECT d.token, d.df, c.cls, c.n_c, coalesce(pc.df_c, 0) AS df_c
         |         FROM dft d CROSS JOIN ct c
         |         LEFT JOIN pc ON pc.token = d.token AND pc.cls = c.cls),
         |terms AS (SELECT g.token, g.df, g.cls,
         |            CAST(nn.n AS HUGEINT) * g.df_c
         |              - CAST(g.df AS HUGEINT) * g.n_c AS dc,
         |            CAST(g.n_c AS HUGEINT) * g.df * (nn.n - g.df) AS denom
         |          FROM grid g, nn
         |          WHERE g.df >= $ChiMinDf AND g.df < nn.n),
         |scored AS (SELECT token, df,
         |             CAST(sum((1000 * dc * dc) // denom) AS BIGINT) AS chi2_milli
         |           FROM terms GROUP BY token, df),
         |tc AS (SELECT token, cls AS top_class,
         |         row_number() OVER (PARTITION BY token ORDER BY dc DESC, cls) AS rn
         |       FROM terms QUALIFY rn = 1),
         |ranked AS (SELECT s.token, s.df, s.chi2_milli, tc.top_class,
         |             CAST(row_number() OVER (
         |               ORDER BY s.chi2_milli DESC, s.token) AS BIGINT) AS rk
         |           FROM scored s JOIN tc USING (token))
         |SELECT token, df, chi2_milli, top_class, rk
         |FROM ranked WHERE rk <= $ChiTopN ORDER BY rk""".stripMargin,

    "q_calibration_audit" ->
      s"""$prelude,
         |$finalScoredCte,
         |${Calibration.binnedReliabilitySqlTail(CalFraction, CalBinWidth)}
         |SELECT relg.bin, relg.n_cal, relg.p_cal_milli, relg.n_test,
         |  relg.p_test_milli, relg.gap_milli, ece.ece_milli
         |FROM relg, ece ORDER BY bin""".stripMargin
  )
}
