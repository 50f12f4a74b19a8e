package graft.streaming



import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.TextAnalysis
import graft.util.PlanCache

/** Incremental NEAR-duplicate ingest: each arriving batch of
  * documents is checked for near-duplicates against everything
  * accepted so far — WITHOUT ever rescanning historical text.
  *
  * What persists between batches is only the MinHash machinery:
  *   - a signature store: (doc_id, sig) — numHashes × 8 bytes/doc;
  *   - a band store: (band, band_key, doc_id) — the LSH index.
  * Both are append-only parquet (each batch appends its survivors'
  * rows; nothing is rewritten), so per-batch cost is
  * O(batch + matched candidates), independent of history size. At
  * 100 TB the band store is exactly the join-key layout a bucketed
  * table gives you — candidates for a batch touch only the band-key
  * partitions the batch hashes into.
  *
  * Near-duplicate verification uses the signature-estimated jaccard
  * (fraction of agreeing minhashes) — the standard streaming
  * trade-off: exact shingle verification would require storing
  * shingle sets (≈ document size) per historical doc.
  *
  * Within a batch, a doc whose estimated jaccard to a SMALLER-id
  * batch doc clears the threshold is dropped (greedy min-id
  * survivor); then survivors are checked against the historical band
  * index.
  */
object IncrementalNearDup {

  /** One micro-batch (usable directly, or as a foreachBatch body).
    * Appends accepted docs to `acceptedPath` and their signature/band
    * rows to the stores.
    */
  def ingestBatch(batch: DataFrame, idCol: String, textCol: String,
      sigStoreDir: String, bandStoreDir: String, acceptedPath: String,
      shingleK: Int = 3, numHashes: Int = 16, bands: Int = 4,
      estThreshold: Double = 0.5,
      maxStoreFiles: Int = 64,
      targetFileBytes: Long = 32L * 1024 * 1024): Unit = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rows = numHashes / bands
    val spark = batch.sparkSession

    PlanCache.scoped(batch
      .withColumn("__sig", graft.plans.MinHashMd5Expr.minhashSig(
        TextAnalysis.wordShingles(col(textCol), shingleK), numHashes))) { sigs =>
      PlanCache.scoped(bandsOf(sigs.select(col(idCol).as("doc_id"), col("__sig").as("sig")),
        bands, rows)) { bandRows =>
        // 1. within-batch: banded candidates, est-jaccard verify, greedy
        //    min-id survivor.
        val batchCands = bandRows.alias("x").join(bandRows.alias("y"),
            col("x.band") === col("y.band") && col("x.band_key") === col("y.band_key") &&
              col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
          .distinct()
        val sigById = sigs.select(col(idCol).as("doc_id"), col("__sig").as("sig"))
        val batchDups = verified(batchCands, sigById, sigById, numHashes, estThreshold)
          .select(col("id_b").as("doc_id")).distinct()
        val batchKept = sigs.join(batchDups, sigs(idCol) === batchDups("doc_id"), "left_anti")

        // 2. against history: the batch's band keys probe the stored
        //    index; matched historical signatures verify the estimate.
        val fresh = (readStore(spark, bandStoreDir), readStore(spark, sigStoreDir)) match {
          case (Some(bandStore), Some(sigStore)) =>
            val keptBands = bandsOf(batchKept.select(col(idCol).as("doc_id"), col("__sig").as("sig")),
              bands, rows)
            val histCands = keptBands.alias("x").join(bandStore.alias("h"),
                col("x.band") === col("h.band") && col("x.band_key") === col("h.band_key"))
              .select(col("h.doc_id").as("id_a"), col("x.doc_id").as("id_b"))
              .distinct()
            val histDups = verified(histCands, sigStore, sigById, numHashes, estThreshold)
              .select(col("id_b").as("doc_id")).distinct()
            batchKept.join(histDups, batchKept(idCol) === histDups("doc_id"), "left_anti")
          case _ => batchKept
        }

        PlanCache.scoped(fresh) { accepted =>
          accepted.drop("__sig").write.mode("append").parquet(acceptedPath)
          val acceptedSigs = accepted.select(col(idCol).as("doc_id"), col("__sig").as("sig"))
          acceptedSigs.write.mode("append").parquet(sigStoreDir)
          bandsOf(acceptedSigs, bands, rows).write.mode("append").parquet(bandStoreDir)
        }
      }
      // store maintenance: the appends above add one file set per
      // batch, so a long-running ingest grows the stores without
      // bound in FILE COUNT even though the bytes stay linear —
      // compact (D5) whenever a store crosses the file budget. The
      // trigger is self-regulating (file count, not a batch counter),
      // so a crash-replayed batch converges to the same bound, and
      // the compaction itself is the atomic two-rename swap.
      compactIfNeeded(spark, sigStoreDir, maxStoreFiles, targetFileBytes)
      compactIfNeeded(spark, bandStoreDir, maxStoreFiles, targetFileBytes)
    }
  }

  private def compactIfNeeded(spark: SparkSession, dir: String,
      maxFiles: Int, targetFileBytes: Long): Unit =
    if (maxFiles > 0 && graft.util.StoreFs.exists(dir) &&
        graft.util.StoreFs.listFilesRecursive(dir)
          .count(_._1.endsWith(".parquet")) > maxFiles) {
      // target sizing alone can keep MORE files than the budget when
      // the store is large; the budget wins (fewer, bigger files)
      graft.ops.Compaction.compact(spark, dir, targetFileBytes) match {
        case (_, after) if after > maxFiles =>
          graft.ops.Compaction.compact(spark, dir, Long.MaxValue)
        case _ => ()
      }
    }

  /** (doc_id, band, band_key) rows of a signature table. */
  private def bandsOf(sigTable: DataFrame, bands: Int, rows: Int): DataFrame =
    sigTable.select(col("doc_id"), explode(array(
        (0 until bands).map { b =>
          struct(lit(b).as("band"),
            md5(concat_ws(",", transform(slice(col("sig"), b * rows + 1, rows),
              _.cast("string")))).as("band_key"))
        }: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.band_key").as("band_key"))

  /** Candidate pairs whose signature-estimated jaccard clears the
    * threshold. `left`/`right` are (doc_id, sig) tables for id_a/id_b.
    */
  private def verified(cands: DataFrame, left: DataFrame, right: DataFrame,
      numHashes: Int, estThreshold: Double): DataFrame =
    cands
      .join(left.select(col("doc_id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(right.select(col("doc_id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .withColumn("est_jaccard",
        aggregate(zip_with(col("sig_a"), col("sig_b"),
            (a, b) => when(a === b, 1).otherwise(0)),
          lit(0), (acc: Column, x: Column) => acc + x).cast("double") / numHashes)
      .filter(col("est_jaccard") >= estThreshold)

  private def readStore(spark: SparkSession, dir: String): Option[DataFrame] = {
    graft.ops.Compaction.recover(dir) // heal a compaction that died mid-swap
    if (graft.util.StoreFs.exists(dir)) Some(spark.read.parquet(dir)) else None
  }
}
