package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.PlanCache

/** Dataset cartography (C139) — per-example training dynamics over
  * the C99 batch perceptron's epoch trajectory (the Swayamdipta et
  * al. 2020 device, margins in place of probabilities): for every
  * document, the margin each epoch's update step SAW (under the
  * weights entering that epoch — exactly the `m t` relations of the
  * unrolled twin), aggregated to
  *
  *   - confidence: mean signed margin toward the gold label,
  *   - variability: variance of the margin across epochs,
  *   - n_correct: epochs whose entering model already classified the
  *     doc correctly,
  *   - region: `easy` (correct at every epoch), `hard` (at none),
  *     `ambiguous` (the flip set — the high-value curriculum slice).
  *
  * Why it's a training-data op: the map separates annotation errors
  * (hard region) from genuinely informative examples (ambiguous) and
  * redundant mass (easy) using only signals training already
  * produces — the canonical data-pruning diagnostic for classifier
  * gates like C41/C99.
  *
  * Exactness: margins are the C99 integer margins; confidence /
  * variability derive from the integer moment sums (Σm, Σm², y·Σm)
  * with ONE double division floored to milli units (the A43
  * moment-sum device) — engine-portable.
  *
  * Scale shape: the trajectory is O(epochs·dim) DRIVER data captured
  * during the fit (the C99 bounded-collect contract); the map itself
  * is `epochs` partial-agg margin passes over the cached sparse
  * feature table unioned into one |docs|-row aggregate — linear in
  * corpus size, no shuffle wider than the doc key.
  */
object Cartography {

  /** Weights/bias ENTERING each epoch (w₀..w₍epochs₋1₎) — the same
    * loop as [[LinearClassifier.fitPerceptron]] with the pre-update
    * snapshot kept per epoch. Snapshot t scores exactly the twin's
    * `m(t+1)` margins.
    */
  def trajectory(features: DataFrame, labels: DataFrame, dim: Int,
      epochs: Int): Seq[(Array[Long], Long)] = {
    require(dim > 0 && epochs > 0, "dim and epochs must be positive")
    val w = Array.fill(dim)(0L)
    var bias = 0L
    val snaps = Seq.newBuilder[(Array[Long], Long)]
    PlanCache.scoped(features
      .join(labels, Seq("doc_id"))
      .select(col("doc_id"), col("bucket"), col("cnt").cast("long").as("cnt"),
        col("y").cast("long").as("y"))) { feats =>
      for (_ <- 1 to epochs) {
        snaps += ((w.clone(), bias))
        val wLit = lit(w)
        val margins = feats
          .groupBy(col("doc_id"), col("y"))
          .agg(sum(element_at(wLit, (col("bucket") + 1).cast("int")) * col("cnt")).as("dot"))
          .select(col("doc_id"), col("y"), (col("dot") + bias).as("margin"))
        PlanCache.scoped(margins.filter(col("y") * col("margin") <= 0)
          .select(col("doc_id"), col("y"))) { mis =>
          val upd = feats
            .join(mis.select(col("doc_id")), Seq("doc_id"), "left_semi")
            .groupBy(col("bucket"))
            .agg(sum(col("y") * col("cnt")).as("gw"))
            .unionByName(mis.agg(
              coalesce(sum(col("y")), lit(0L)).as("gw")).select(lit(-1L).as("bucket"), col("gw")))
            .collect()
          upd.foreach { r =>
            r.getLong(0) match {
              case -1L => bias += r.getLong(1)
              case b => w(b.toInt) += r.getLong(1)
            }
          }
        }
      }
    }
    snaps.result()
  }

  /** [[trajectory]] straight from text over the zero-shuffle entry
    * frame: bit-identical snapshots (same integer margin and
    * gradient sums — the LinearClassifier.fitPerceptronEntries
    * restructuring with the pre-update snapshot kept), one narrow
    * filter + one tiny bucket agg per epoch instead of the margins
    * groupBy + misclassified persist + semi-join chain.
    */
  def trajectoryText(df: DataFrame, id: Column, text: Column, y: Column,
      dim: Int, epochs: Int): Seq[(Array[Long], Long)] = {
    require(dim > 0 && epochs > 0, "dim and epochs must be positive")
    val w = Array.fill(dim)(0L)
    var bias = 0L
    val snaps = Seq.newBuilder[(Array[Long], Long)]
    val sentinel = array(struct(lit(-1L).as("bucket"), lit(1L).as("cnt")))
      .cast(graft.plans.HashedBowOps.schema)
    PlanCache.scoped(LinearClassifier.entryFrame(df, id, text, y, dim)) { entries =>
      for (_ <- 1 to epochs) {
        snaps += ((w.clone(), bias))
        val mis = entries.filter(
          col("y") * LinearClassifier.entryMarginExpr(col("es"),
            LinearClassifier.PerceptronModel(w, bias, Seq.empty)) <= 0)
        val upd = mis
          .select(col("y"), explode(concat(col("es"), sentinel)).as("e"))
          .groupBy(col("e.bucket").as("bucket"))
          .agg(sum(col("y") * col("e.cnt")).as("gw"))
          .collect()
        upd.foreach { r =>
          r.getLong(0) match {
            case -1L => bias += r.getLong(1)
            case b => w(b.toInt) += r.getLong(1)
          }
        }
      }
    }
    snaps.result()
  }

  /** The cartography map: (doc_id, y, n_epochs, n_correct,
    * confidence_milli, variability_milli, region). Docs with no
    * feature rows are absent, as in training.
    */
  def map(df: DataFrame, id: Column, text: Column, label: Column,
      dim: Int, epochs: Int): DataFrame =
    mapFromTrajectory(df, id, text, label, dim,
      trajectoryText(df, id, text, label, dim, epochs))

  /** The map under a pre-captured trajectory (the memoized-fit path:
    * snapshots are bounded driver data, so the query layer caches
    * them and this stays a single pure plan).
    */
  def mapFromTrajectory(df: DataFrame, id: Column, text: Column,
      label: Column, dim: Int, snaps: Seq[(Array[Long], Long)]): DataFrame = {
    require(snaps.nonEmpty, "need at least one epoch snapshot")
    // ZERO-shuffle map: the epoch margins are in-row entry folds
    // (bit-equal to the exploded groupBy sums), so the per-doc
    // moments (n_correct, Σm, Σm²) assemble in the same projection —
    // the epochs-way union + two doc-keyed exchanges are gone. The
    // margins materialize into named columns in their OWN projection:
    // CollapseProject keeps it (each margin column is referenced
    // three times and an aggregate fold is not a cheap expression),
    // so each epoch's fold evaluates once per doc.
    val withMargins = LinearClassifier
      .entryFrame(df, id, text, label, dim)
      .select(col("doc_id") +: col("y") +:
        snaps.zipWithIndex.map { case ((w, b), i) =>
          LinearClassifier.entryMarginExpr(col("es"),
            LinearClassifier.PerceptronModel(w, b, Seq.empty)).as(s"m_$i")
        }: _*)
    val ms = snaps.indices.map(i => col(s"m_$i"))
    val n = lit(snaps.size.toLong)
    withMargins
      .select(col("doc_id"), col("y"),
        ms.map(m => when(col("y") * m > 0, 1L).otherwise(0L)).reduce(_ + _).as("n_correct"),
        ms.reduce(_ + _).as("sm"),
        ms.map(m => m * m).reduce(_ + _).as("smm"))
      .select(col("doc_id"), col("y"),
        n.as("n_epochs"), col("n_correct"),
        floor(lit(1000.0) * (col("y") * col("sm")) / n).cast("bigint")
          .as("confidence_milli"),
        floor(lit(1000.0) * (n * col("smm") - col("sm") * col("sm")) / (n * n))
          .cast("bigint").as("variability_milli"),
        when(col("n_correct") === n, "easy")
          .when(col("n_correct") === 0L, "hard")
          .otherwise("ambiguous").as("region"))
  }

  /** DuckDB twin tail over the unrolled fit's `m1..m<epochs>` margin
    * CTEs (LinearClassifier.fitSqlCtes emits them — the twin costs
    * nothing beyond the already-oracled training chain); final
    * relation `cfin`.
    */
  def mapSqlTail(epochs: Int): String = {
    val union = (1 to epochs).map(t => s"SELECT doc_id, y, margin FROM m$t")
      .mkString("\n  UNION ALL\n  ")
    s"""cart AS (
       |  SELECT doc_id, y,
       |    CAST(count(*) AS BIGINT) AS n_epochs,
       |    CAST(SUM(CASE WHEN y * margin > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       |    CAST(SUM(margin) AS BIGINT) AS sm,
       |    CAST(SUM(margin * margin) AS BIGINT) AS smm
       |  FROM ($union)
       |  GROUP BY doc_id, y),
       |cfin AS (
       |  SELECT doc_id, y, n_epochs, n_correct,
       |    CAST(floor(1000.0 * (y * sm) / n_epochs) AS BIGINT) AS confidence_milli,
       |    CAST(floor(1000.0 * (n_epochs * smm - sm * sm) / (n_epochs * n_epochs)) AS BIGINT)
       |      AS variability_milli,
       |    CASE WHEN n_correct = n_epochs THEN 'easy'
       |         WHEN n_correct = 0 THEN 'hard'
       |         ELSE 'ambiguous' END AS region
       |  FROM cart)""".stripMargin
  }
}
