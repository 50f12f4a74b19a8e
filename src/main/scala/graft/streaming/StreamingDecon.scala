package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.ops.{Dedup, TextAnalysis}
import graft.plans.BloomSketch
import graft.util.PlanCache

/** Streaming decontamination gate (B15) — the continuous twin of
  * C61's hard decontamination: documents arrive as a stream, the
  * evaluation set is fixed, and every micro-batch must drop any doc
  * sharing a word k-shingle with it BEFORE the doc reaches the
  * training corpus.
  *
  * The eval set compiles ONCE (at gate construction, not per batch)
  * into (a) the bloom filter bytes — shipped as a literal in every
  * batch plan, ~10 bits/entry — and (b) the exact 60-bit hash
  * vocabulary that kills the bloom's false positives. Each batch then
  * runs C61's probe-then-confirm shape: the overwhelming majority of
  * clean shingles die on broadcast-local bit-probes with no join
  * machinery, the sliver survives into the exact semi-join, and the
  * result provably equals the exact anti-join — so the accepted
  * stream equals `Decontaminate.cleanDocs` run in batch over the
  * same documents (spec-proved across micro-batches).
  *
  * State: NONE. The gate is stateless per batch (the eval set is
  * immutable); durability comes from the append-only accepted
  * corpus. That is what makes it trivially correct under replay —
  * reprocessing a batch appends the same accepted rows, and
  * downstream exact dedup (B9) collapses them.
  */
object StreamingDecon {

  /** Compiled eval-set gate; build once, apply to every batch. */
  final class Gate private[StreamingDecon] (
      vocab: DataFrame, bloomBytes: Array[Byte], shingleK: Int) {

    /** Batch body: rows of `batch` sharing no shingle with the eval
      * set (bloom prefilter + exact confirm).
      */
    def clean(batch: DataFrame, id: Column, text: Column): DataFrame = {
      val dirty = batch
        .select(id.as("__doc_id"),
          explode(TextAnalysis.wordShingles(text, shingleK)).as("sh"))
        .select(col("__doc_id"), Dedup.md5Hash60(col("sh")).as("shash"))
        .filter(BloomSketch.mightContain(lit(bloomBytes), col("shash")))
        .join(broadcast(vocab), Seq("shash"), "left_semi")
        .select(col("__doc_id"))
        .distinct()
      batch.join(dirty, id === col("__doc_id"), "left_anti")
    }

    def release(): Unit = PlanCache.free(vocab)
  }

  /** Compile the eval set: distinct 60-bit shingle hashes (persisted
    * — every batch's confirm join reads them) + their bloom bytes.
    */
  def gate(eval: DataFrame, evalText: Column, shingleK: Int,
      bloomBits: Int = BloomSketch.DefaultBits,
      bloomHashes: Int = BloomSketch.DefaultHashes): Gate = {
    val vocab = eval
      .select(explode(TextAnalysis.wordShingles(evalText, shingleK)).as("sh"))
      .select(Dedup.md5Hash60(col("sh")).as("shash"))
      .distinct()
      .persist()
    val bytes = vocab
      .agg(BloomSketch.sketch(col("shash"), bloomBits, bloomHashes).as("b"))
      .head().getAs[Array[Byte]](0)
    new Gate(vocab, bytes, shingleK)
  }

  /** Wire a streaming document source through the gate, appending
    * survivors to `acceptedPath`. Caller sets checkpoint and starts.
    */
  def writer(docs: DataFrame, idCol: String, textCol: String,
      g: Gate, acceptedPath: String): DataStreamWriter[Row] =
    docs.writeStream
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        g.clean(batch, col(idCol), col(textCol))
          .write.mode("append").parquet(acceptedPath)
      }
}
