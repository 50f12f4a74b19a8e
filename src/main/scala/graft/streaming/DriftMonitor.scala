package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.streaming.GtfsRtPipeline.ParquetStateStore
import graft.util.PlanCache

/** Streaming corpus-drift monitor — the continuous twin of C42's
  * batch drift stats: as document batches arrive, maintain durable
  * per-(source, token) counts and re-score each source's KL
  * divergence against a FIXED reference distribution (yesterday's
  * corpus, a golden mixture). The alarm wire for "a crawler started
  * feeding us garbage" — drift shows up within one micro-batch
  * instead of at the next full-corpus audit.
  *
  * State is the count table itself: O(live vocab × sources) rows of
  * fixed-width (source, token-hash-able) keys, merged per batch by
  * union + re-aggregate (the C48 incremental-agg contract — counts
  * are mergeable, history is never re-tokenized). The reference is
  * model-sized and broadcast.
  *
  * Determinism: the KL ratio reduces to one double division of exact
  * integer products per token, quantized to micro-nats before the
  * per-source sum (the NgramLm/C53 device) — batch-order-insensitive
  * by associativity of integer sums over identical accumulated
  * counts.
  */
object DriftMonitor {

  /** Fit the reference token distribution: (w, rc) counts plus the
    * (rt, rv) totals row carried as columns (one small table, fully
    * broadcastable).
    */
  def fitReference(df: DataFrame, text: org.apache.spark.sql.Column): DataFrame = {
    val counts = df
      .select(explode(split(trim(lower(text)), "\\s+")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("rc"))
    counts.crossJoin(broadcast(
      counts.agg(sum(col("rc")).as("rt"), count(lit(1)).as("rv"))))
  }

  /** Merge one batch into the durable count store and return the
    * drift snapshot over the ACCUMULATED counts:
    * (source, n_tokens, kl_vs_reference) per source, KL in nats 4dp
    * with add-one smoothing against the reference (unseen tokens get
    * the smoothing floor, so divergence is always finite).
    *
    * Replay-safe when `batchId` is supplied (the [[writer]] path):
    * foreachBatch is at-least-once, and re-merging a replayed batch
    * would permanently inflate the durable counts — the batch id is
    * committed ATOMICALLY with the merged state (it rides the store
    * version's rename as an applied-tag marker), so a crash anywhere
    * leaves either un-merged+un-marked or merged+marked, and replay
    * either re-merges a batch that never landed or skips one that
    * did; the inflate window the marker-after-write sequencing had is
    * structurally gone. Batch ids in one checkpoint lineage are
    * monotonic, so "applied" is `lastAppliedTag >= batchId` (a store
    * is bound to one stream's checkpoint; reusing it across
    * checkpoints restarts ids at 0 and would skip them — use a fresh
    * store dir per checkpoint, as [[writer]] callers do).
    */
  def updateBatch(batch: DataFrame, sourceCol: String, textCol: String,
      store: ParquetStateStore, reference: DataFrame,
      batchId: Option[Long] = None): DataFrame = {
    val spark = batch.sparkSession
    val alreadyApplied = batchId.exists(id =>
      store.lastAppliedTag.exists(_.toLong >= id))

    if (!alreadyApplied) {
      val batchCounts = batch
        .select(col(sourceCol).cast("string").as("source"),
          explode(split(trim(lower(col(textCol))), "\\s+")).as("w"))
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
      val merged = (store.read(spark) match {
        case Some(prev) => prev.unionByName(batchCounts)
        case None => batchCounts
      }).groupBy(col("source"), col("w")).agg(sum(col("c")).as("c"))
      // versioned rename-commit: state + applied marker land together
      PlanCache.scoped(merged)(store.write(_, batchId.map(_.toString)))
    }

    // score from the store read-back: fresh parquet lineage (no
    // per-batch cached plans accumulating over a long-running stream)
    val current = store.read(spark).get
    val totals = current.groupBy(col("source")).agg(sum(col("c")).as("ts"))
    // (rt+rv) as a one-row broadcast scalar: unseen tokens LEFT-join
    // null rc, but the smoothing denominator must still apply
    val refTotals = broadcast(
      reference.select((col("rt") + col("rv")).as("rtv")).limit(1))
    // p = c/ts; q = (rc+1)/(rt+rv); ln(p/q) with every count factor
    // cast to double BEFORE the multiply (counts < 2^53 convert
    // exactly; an int64 product of two corpus-scale totals would
    // wrap) → micro-nat floor → associative integer sum
    val scored = current
      .join(totals, Seq("source"))
      .join(broadcast(reference.select(col("w"), col("rc"))), Seq("w"), "left")
      .crossJoin(refTotals)
      .select(col("source"), col("c"),
        floor((col("c").cast("double") / col("ts")) *
          log((col("c").cast("double") * col("rtv").cast("double")) /
            ((coalesce(col("rc"), lit(0L)) + 1L).cast("double") * col("ts").cast("double"))) * 1e6)
          .cast("bigint").as("kl_micro"))

    scored.groupBy(col("source"))
      .agg(sum(col("c")).as("n_tokens"),
        round(sum(col("kl_micro")).cast("double") / 1e6, 4).as("kl_vs_reference"))
  }

  /** Wire a document stream into the monitor; drift snapshots land
    * under `outPath` partitioned by batch id. Caller sets checkpoints
    * and starts the writer. Each batch OVERWRITES its own
    * `batch_id=N` partition, so a replayed batch replaces rather than
    * appends its snapshot — the output is idempotent per batch id,
    * and readers get `batch_id` back through partition discovery.
    */
  def writer(docs: DataFrame, sourceCol: String, textCol: String,
      store: ParquetStateStore, reference: DataFrame,
      outPath: String): DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        updateBatch(batch, sourceCol, textCol, store, reference, Some(batchId))
          .write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
      }
}
