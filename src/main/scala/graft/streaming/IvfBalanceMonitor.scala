package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.ops.IvfIndex
import graft.streaming.GtfsRtPipeline.ParquetStateStore
import graft.util.PlanCache

/** Streaming IVF layout monitor — the continuous twin of C95's batch
  * cell-balance diagnostics: vectors stream in, each batch assigns to
  * the FIXED fitted centroids (the serving index's coarse quantizer),
  * durable per-cell counts merge across batches, and every batch
  * emits a balance snapshot over the ACCUMULATED occupancy. This is
  * the index-maintenance alarm wire: when the incoming distribution
  * drifts off the fit corpus, hot cells emerge, the imbalance factor
  * climbs, and the re-fit/re-shard decision fires within one
  * micro-batch instead of at the next offline audit.
  *
  * State is O(k) rows — per-cell counts are mergeable (the C48
  * contract: union + re-aggregate, history never re-assigned), the
  * centroid model is driver-held exactly as in the batch C7b path.
  * Replay safety follows [[DriftMonitor]]: the batch id commits
  * ATOMICALLY with the merged state as the store version's
  * applied-tag, so an at-least-once foreachBatch replay either
  * re-merges a batch that never landed or skips one that did.
  */
object IvfBalanceMonitor {

  /** Merge one vector batch into the durable per-cell count store and
    * return the balance snapshot over accumulated counts:
    * (cell, n_vectors, share_milli, imbalance_milli) — one row per
    * cell including still-empty ones, C95's exact arithmetic.
    */
  def updateBatch(batch: DataFrame, vecCol: String,
      store: ParquetStateStore, cents: Array[Array[Long]],
      scale: Long = 1000L, batchId: Option[Long] = None): DataFrame = {
    val spark = batch.sparkSession
    val k = cents.length
    val alreadyApplied = batchId.exists(id =>
      store.lastAppliedTag.exists(_.toLong >= id))

    if (!alreadyApplied) {
      val batchCounts = batch
        .select(IvfIndex.cellOfInt(
          IvfIndex.quantized(col(vecCol), scale), cents).as("cell"))
        .groupBy(col("cell")).agg(count(lit(1)).as("n"))
      val merged = (store.read(spark) match {
        case Some(prev) => prev.unionByName(batchCounts)
        case None => batchCounts
      }).groupBy(col("cell")).agg(sum(col("n")).as("n"))
      PlanCache.scoped(merged)(store.write(_, batchId.map(_.toString)))
    }

    val current = store.read(spark).get
    val cells = spark.range(0, k.toLong)
      .select(col("id").cast("int").as("cell"))
      .join(current, Seq("cell"), "left")
      .select(col("cell"), coalesce(col("n"), lit(0L)).as("n_vectors"))
    val tot = broadcast(cells.agg(sum(col("n_vectors")).as("__total"),
      max(col("n_vectors")).as("__max")))
    cells.crossJoin(tot)
      .select(col("cell"), col("n_vectors"),
        floor(lit(1000.0) * col("n_vectors") / col("__total")).cast("bigint")
          .as("share_milli"),
        floor(lit(1000.0) * col("__max") * k / col("__total")).cast("bigint")
          .as("imbalance_milli"))
  }

  /** Wire a vector stream into the monitor; balance snapshots land
    * under `outPath/batch_id=N`, each batch overwriting its own
    * partition (idempotent per batch id, same as [[DriftMonitor]]).
    */
  def writer(vecs: DataFrame, vecCol: String, store: ParquetStateStore,
      cents: Array[Array[Long]], outPath: String,
      scale: Long = 1000L): DataStreamWriter[org.apache.spark.sql.Row] =
    vecs.writeStream
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        updateBatch(batch, vecCol, store, cents, scale, Some(batchId))
          .write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
      }
}
