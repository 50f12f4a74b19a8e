package graft.ops

import graft.util.PlanCache.Shareable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.BloomSketch

/** Benchmark decontamination: REMOVE every corpus document sharing any
  * word k-shingle with an evaluation set (the hard-removal complement
  * of [[Contamination]], which only flags and scores overlap).
  *
  * Scale shape: the eval shingle vocabulary collapses to (a) a bloom
  * filter — ONE binary blob of ~10 bits/entry, broadcast as a one-row
  * scalar — and (b) the exact 60-bit hash relation. The corpus streams
  * through the bloom probe FIRST: at 100 TB the overwhelming majority
  * of corpus shingles miss the eval set, and each miss is answered by
  * k bit-probes into broadcast-local memory with NO join machinery and
  * no false negatives, so only the tiny surviving sliver (true hits +
  * ~FP-rate of the corpus) reaches the exact semi-join that kills the
  * false positives. The final result provably EQUALS the plain exact
  * semi-join's (bloom has no false negatives; the confirm join removes
  * its false positives) — which is why `q_decontaminate` stays DuckDB-
  * oracle-able even though a sketch sits in the hot path.
  *
  * Past broadcast size the same shape degrades gracefully: the bloom
  * (10× smaller than the hash relation) keeps broadcasting long after
  * the exact vocab must shuffle, so the prefilter still prunes the
  * shuffle down to the sliver.
  */
object Decontaminate {

  /** Corpus rows (all columns) whose documents share NO distinct
    * k-shingle with the eval set. Eval docs present in the corpus
    * remove themselves (a doc's shingles are its own vocabulary hits).
    */
  def cleanDocs(corpus: DataFrame, id: Column, text: Column,
      eval: DataFrame, evalText: Column, shingleK: Int,
      bloomBits: Int = BloomSketch.DefaultBits,
      bloomHashes: Int = BloomSketch.DefaultHashes): DataFrame = {
    // persisted: the bloom build and the exact-confirm broadcast both
    // read the eval vocabulary — unpersisted, the eval explode +
    // distinct exchange ran twice
    val vocab = eval
      .select(explode(TextAnalysis.wordShingles(evalText, shingleK)).as("sh"))
      .select(Dedup.md5Hash60(col("sh")).as("shash"))
      .distinct()
      .sharedPersist()
    // The bloom rides in as a SCALAR SUBQUERY, not a one-row
    // cross-join: a cross-join probe becomes a join CONDITION, and
    // PushLeftSemiLeftAntiThroughJoin then hoists the exact confirm
    // semi-join below it — running the expensive join first and the
    // prefilter after (observed on the first cut of this operator). A
    // scalar subquery keeps the probe a plain Filter, which the
    // semi-join cannot be pushed beneath, so the plan keeps
    // probe-then-confirm. The subquery runs once; its bytes ship with
    // the (broadcast) task binary, so executors still hold them once.
    val bloomBytes =
      vocab.agg(BloomSketch.sketch(col("shash"), bloomBits, bloomHashes).as("__bloom")).scalar()
    val dirty = corpus
      .select(id.as("__doc_id"), explode(TextAnalysis.wordShingles(text, shingleK)).as("sh"))
      .select(col("__doc_id"), Dedup.md5Hash60(col("sh")).as("shash"))
      .filter(BloomSketch.mightContain(bloomBytes, col("shash")))
      .join(broadcast(vocab), Seq("shash"), "left_semi") // exact confirm: FPs die here
      .select(col("__doc_id"))
      .distinct()
    corpus.join(dirty, id === col("__doc_id"), "left_anti")
  }

  /** Span-level contamination LOCALIZATION — where [[cleanDocs]]
    * answers "is this training doc contaminated?", this answers
    * WHERE and BY WHAT: every position in a training document whose
    * k-token span occurs verbatim in the eval set, with the eval
    * document responsible — the evidence view behind contamination
    * audits (and the input to span-level excision instead of
    * whole-doc removal, the C39 rewrite applied cross-corpus).
    *
    * Returns (doc_id, pos, eval_id): 1-based token position of each
    * matching k-span, one row per (position, eval doc) witness.
    *
    * Scale shape: the eval span vocabulary — distinct (span-hash,
    * eval_id), small by construction — BROADCASTS; the training
    * corpus tokenizes once and streams its (doc, pos, hash60) span
    * stream through the broadcast hash join as a narrow map: the
    * 100 TB side never shuffles, and only witness rows survive.
    */
  def spanHits(train: DataFrame, id: Column, text: Column,
      eval: DataFrame, evalId: Column, evalText: Column,
      k: Int): DataFrame = {
    require(k >= 2, s"span width must be >= 2 tokens, got $k")
    // eval side: one-pass positional span hashing (SpanHashesExpr —
    // bit-identical md5Hash60 values to the HOF slice/array_join
    // composition it replaced, which evaluated interpreted per
    // position at ~13 us/span)
    val evalSpans = eval
      .select(evalId.cast("bigint").as("eval_id"),
        graft.plans.SpanHashesExpr.spanHashes(evalText, k).as("shs"))
      .select(col("eval_id"), explode(col("shs")).as("shash"))
      .select(col("shash"), col("eval_id")).distinct()
    // train side: bloom-gated INSIDE the span array (SpanHitsExpr),
    // so only witness candidates ever become rows — at sf10 the
    // ungated shape paid ~6 s just posexploding 24 M spans that the
    // join then discarded (99.4%). C61's probe-then-confirm: the
    // bloom rides in as a scalar subquery (no plan-time collect, no
    // cross-join for the optimizer to rearrange), and the exact
    // confirm join below kills its false positives, so the result
    // equals the ungated join's row for row.
    val bloom = evalSpans
      .agg(graft.plans.BloomSketch.sketch(col("shash")).as("__bloom")).scalar()
    train
      .select(id.cast("bigint").as("__id"),
        explode(graft.plans.SpanHitsExpr.spanHits(text, bloom, k)).as("hit"))
      .select(col("__id"), col("hit.p").as("p"), col("hit.shash").as("shash"))
      .join(broadcast(evalSpans), Seq("shash"))
      .select(col("__id").as("doc_id"), col("p").as("pos"), col("eval_id"))
  }

  /** DuckDB twin of [[spanHits]]: `trainPred`/`evalPred` filter the
    * `documents` table into the two corpora; final relation
    * `sph(doc_id, pos, eval_id)`.
    */
  def spanHitsSql(trainPred: String, evalPred: String, k: Int): String =
    s"""spt AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
       |        FROM documents WHERE $trainPred),
       |spe AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
       |        FROM documents WHERE $evalPred),
       |spts AS (
       |  SELECT doc_id, p.i AS pos,
       |    ('0x' || substr(md5(array_to_string(list_slice(toks, p.i, p.i + ${k - 1}), ' ')), 1, 15))::BIGINT AS shash
       |  FROM spt, unnest(range(1, len(toks) - ${k - 2})) AS p(i)
       |  WHERE len(toks) >= $k),
       |spes AS (
       |  SELECT DISTINCT
       |    ('0x' || substr(md5(array_to_string(list_slice(toks, p.i, p.i + ${k - 1}), ' ')), 1, 15))::BIGINT AS shash,
       |    doc_id AS eval_id
       |  FROM spe, unnest(range(1, len(toks) - ${k - 2})) AS p(i)
       |  WHERE len(toks) >= $k),
       |sph AS (
       |  SELECT t.doc_id, t.pos, e.eval_id
       |  FROM spts t JOIN spes e USING (shash))""".stripMargin

  /** Semantic (embedding-space) decontamination — the C54 complement
    * of [[cleanDocs]]'s exact shingle overlap: flag training rows
    * whose embedding lands in the same anchor cell as an eval row
    * with cosine ≥ threshold (paraphrased eval leakage that shares no
    * n-gram). Returns (train_id, n_eval_hits, max_cos) per
    * contaminated training row; compose with an anti-join
    * ([[semanticClean]]) to drop them.
    *
    * The blocking is the SemDeDup cell device: both sides assign to
    * data-independent fixed-seed anchor cells in a zero-shuffle
    * narrow argmax, and only same-cell pairs are scored — |cell_t|
    * × |cell_e| work instead of train × eval. The eval side is
    * broadcast (eval sets are small by construction); the train side
    * never shuffles at all.
    */
  def semanticHits(train: DataFrame, trainId: Column, trainVec: Column,
      eval: DataFrame, evalId: Column, evalVec: Column,
      threshold: Double, anchorSeq: Seq[Seq[Double]]): DataFrame = {
    // materialize both assignments BEFORE the join (the SemanticDedup
    // device): the k-dot argmax inside the join stage defeats
    // whole-stage fusion — measured 8× on this operator at sf0.1
    val t = train.select(trainId.cast("bigint").as("train_id"),
      trainVec.cast("array<double>").as("v_t"),
      SemanticDedup.cellOf(trainVec, anchorSeq).as("cell"))
      .sharedCheckpoint()
    val e = eval.select(evalId.cast("bigint").as("eval_id"),
      evalVec.cast("array<double>").as("v_e"),
      SemanticDedup.cellOf(evalVec, anchorSeq).as("cell"))
      .sharedCheckpoint()
    t.join(broadcast(e), Seq("cell"))
      .withColumn("cos_sim",
        graft.functions.VectorFunctions.cosineSimilarity(col("v_t"), col("v_e")))
      .filter(col("cos_sim") >= threshold)
      .groupBy(col("train_id"))
      .agg(count(lit(1)).as("n_eval_hits"),
        round(max(col("cos_sim")), 4).as("max_cos"))
  }

  /** Training rows (all columns) with NO same-cell eval neighbor at
    * cosine ≥ threshold.
    */
  def semanticClean(train: DataFrame, trainId: Column, trainVec: Column,
      eval: DataFrame, evalId: Column, evalVec: Column,
      threshold: Double, anchorSeq: Seq[Seq[Double]]): DataFrame = {
    val hits = semanticHits(train, trainId, trainVec,
      eval, evalId, evalVec, threshold, anchorSeq)
    train.join(hits, trainId.cast("bigint") === col("train_id"), "left_anti")
  }

  /** DuckDB twin of [[semanticHits]] over `embeddings(vec_id,
    * embedding)` with the eval/train split given as SQL predicates on
    * `vec_id`; final relation `sdh(train_id, n_eval_hits, max_cos)`.
    */
  def semanticHitsSql(trainPred: String, evalPred: String,
      threshold: Double, anchorSeq: Seq[Seq[Double]]): String =
    s"""sce AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |sca AS (SELECT * FROM ${SemanticDedup.anchorsSql(anchorSeq)}),
       |scd AS (SELECT e.vec_id, e.v, a.cell, list_dot_product(e.v, a.av) AS dot
       |        FROM sce e, sca a),
       |scc AS (SELECT vec_id, v, cell FROM (
       |          SELECT vec_id, v, cell,
       |            row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cell) AS rk
       |          FROM scd) WHERE rk = 1),
       |sct AS (SELECT * FROM scc WHERE $trainPred),
       |scv AS (SELECT * FROM scc WHERE $evalPred),
       |sdh AS (
       |  SELECT t.vec_id AS train_id, count(*) AS n_eval_hits,
       |    round(max(list_cosine_similarity(t.v, e.v)), 4) AS max_cos
       |  FROM sct t JOIN scv e ON t.cell = e.cell
       |  WHERE list_cosine_similarity(t.v, e.v) >= $threshold
       |  GROUP BY t.vec_id)""".stripMargin
}
