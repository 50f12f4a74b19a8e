package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

import graft.streaming.GtfsRtPipeline.ParquetStateStore
import graft.util.PlanCache

/** Incremental corpus ingest: a continuously-arriving document
  * stream deduplicated EXACTLY against everything already accepted —
  * the streaming front door of a training-data lake.
  *
  * Each micro-batch:
  *   1. dedups within itself (min-id survivor per content md5);
  *   2. anti-joins its fingerprints against the persisted fingerprint
  *      store (16-byte keys, never document bodies — the store stays
  *      a fixed-width table that bucket-joins cheaply at 100 TB);
  *   3. appends the surviving documents to the accepted corpus and
  *      the surviving fingerprints to the store (versioned parquet,
  *      so readers never observe a partial update).
  *
  * This complements `dropDuplicatesWithinWatermark` (B8): watermark
  * dedup bounds state by TIME and forgets old content; the
  * fingerprint store is durable — a document seen last month is
  * still a duplicate today, which is the semantics corpus
  * construction needs.
  */
object IncrementalIngest {

  /** Wire `docs` (streaming, with `idCol` and `textCol` columns) into
    * the ingest loop. Caller starts the returned writer (checkpoint
    * location etc. set by the caller).
    */
  def writer(docs: DataFrame, idCol: String, textCol: String,
      fingerprints: ParquetStateStore, acceptedPath: String): DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ingestBatch(batch, idCol, textCol, fingerprints, acceptedPath)
      }

  /** One micro-batch of the loop (also usable for batch backfill). */
  def ingestBatch(batch: DataFrame, idCol: String, textCol: String,
      fingerprints: ParquetStateStore, acceptedPath: String): Unit = {
    val spark = batch.sparkSession
    val withFp = batch.withColumn("fp", md5(col(textCol)))
    // Within-batch exact dedup: min-id survivor per content.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp")).orderBy(col(idCol))
    val batchUnique = withFp
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    // Against-history dedup: fingerprint anti-join (keys only).
    val fresh = fingerprints.read(spark) match {
      case Some(seen) => batchUnique.join(seen.select(col("fp")), Seq("fp"), "left_anti")
      case None => batchUnique
    }
    PlanCache.scoped(fresh) { accepted =>
      accepted.drop("fp").write.mode("append").parquet(acceptedPath)
      val prior = fingerprints.read(spark).map(_.select(col("fp")))
      val nextStore = prior match {
        case Some(p) => p.union(accepted.select(col("fp")))
        case None => accepted.select(col("fp"))
      }
      fingerprints.write(nextStore)
    }
  }
}
