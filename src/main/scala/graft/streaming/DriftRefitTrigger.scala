package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.ops.{CorpusStats, LinearClassifier}
import graft.ops.LinearClassifier.PerceptronModel
import graft.streaming.GtfsRtPipeline.ParquetStateStore
import graft.util.PlanCache

/** Drift-triggered re-fit handshake for the streaming classifier
  * gate (B17 + C119): the gate scores against a STATIC model, which
  * is exactly right until the incoming population drifts off the fit
  * corpus — then margins shift, the calibrated threshold silently
  * degrades, and nothing in the stateless gate notices. This monitor
  * is the alarm wire: every micro-batch's margins are binned and
  * merged into a durable count store, the PSI of the ACCUMULATED
  * margin distribution against the fit-time reference is re-derived
  * per batch (C119's exact arithmetic via
  * [[CorpusStats.psiFromCounts]]), and the first crossing of the
  * recalibration threshold (PSI > 0.25, the textbook trigger) emits
  * ONE re-fit signal row — the handshake a scheduler consumes to
  * launch the C99 re-fit offline. The gate keeps serving the old
  * model until the new one lands: monitoring and serving stay
  * decoupled, as in the B16 IVF layout monitor.
  *
  * State is O(|bins|) rows; replay safety is the B16 pattern twice
  * over — the count store commits the batch id atomically with the
  * merged counts (an at-least-once foreachBatch replay re-merges a
  * batch that never landed or skips one that did), and the signal
  * store commits the firing batch id the same way, so a replayed
  * crossing batch does NOT double-fire: once fired, the signal is
  * latched until a re-fit resets the store.
  */
object DriftRefitTrigger {

  private val SignalSchema = StructType(Seq(
    StructField("fired_batch", LongType, nullable = false),
    StructField("psi_milli", LongType, nullable = false)))

  /** Bin the fit corpus margins into the (bin, n_ref) reference —
    * run ONCE at fit time against the training documents.
    */
  def referenceBins(docs: DataFrame, textCol: String,
      model: PerceptronModel, dim: Int, binWidth: Long): Array[(Long, Long)] = {
    require(binWidth >= 1, "binWidth >= 1")
    docs
      .withColumn("margin", LinearClassifier.marginExpr(col(textCol), dim, model))
      .select(expr(s"CAST(margin AS BIGINT) DIV $binWidth").as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n_ref"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
  }

  /** Merge one micro-batch into the durable margin-bin counts and
    * return the signal rows: one (fired_batch, psi_milli) row the
    * first time accumulated PSI crosses `thresholdMilli`, empty
    * otherwise (including on every later batch while the signal is
    * latched, and on replays of the crossing batch).
    */
  def updateBatch(batch: DataFrame, textCol: String,
      model: PerceptronModel, dim: Int, binWidth: Long,
      reference: Array[(Long, Long)],
      countStore: ParquetStateStore, signalStore: ParquetStateStore,
      thresholdMilli: Long = 250L, batchId: Option[Long] = None): DataFrame = {
    require(binWidth >= 1, "binWidth >= 1")
    require(reference.nonEmpty, "empty reference histogram")
    val spark = batch.sparkSession

    // unparseable tags (store written via the batchId=None path, or a
    // foreign store) count as NOT applied — skip-not-crash
    val alreadyApplied = batchId.exists(id =>
      countStore.lastAppliedTag
        .flatMap(t => scala.util.Try(t.toLong).toOption)
        .exists(_ >= id))
    if (!alreadyApplied) {
      val batchCounts = batch
        .withColumn("margin", LinearClassifier.marginExpr(col(textCol), dim, model))
        .select(expr(s"CAST(margin AS BIGINT) DIV $binWidth").as("bin"))
        .groupBy(col("bin")).agg(count(lit(1)).as("n"))
      val merged = (countStore.read(spark) match {
        case Some(prev) => prev.unionByName(batchCounts)
        case None => batchCounts
      }).groupBy(col("bin")).agg(sum(col("n")).as("n"))
      PlanCache.scoped(merged)(countStore.write(_, batchId.map(_.toString)))
    }

    // PSI of accumulated current counts vs the fit-time reference.
    // Reference rides as a literal local relation (|bins| rows, the
    // model-literal device) — no scan, no shuffle beyond the |bins|-
    // row full-outer join.
    import spark.implicits._
    val refDf = reference.toSeq.toDF("bin", "n_ref")
    val cur = countStore.read(spark).get
      .select(col("bin"), col("n").as("n_cur"))
    val bins = refDf.join(cur, Seq("bin"), "full_outer")
      .select(col("bin"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    val psiMilli = CorpusStats.psiFromCounts(bins)
      .agg(sum(col("psi_micro")).as("s"))
      .collect()(0).getLong(0) / 1000L

    val alreadyFired = signalStore.latestVersion.isDefined
    if (psiMilli > thresholdMilli && !alreadyFired) {
      val signal = spark.createDataFrame(
        java.util.List.of(Row(batchId.getOrElse(-1L), psiMilli)), SignalSchema)
      signalStore.write(signal, batchId.map(_.toString))
      signal
    } else {
      spark.createDataFrame(java.util.List.of[Row](), SignalSchema)
    }
  }
}
