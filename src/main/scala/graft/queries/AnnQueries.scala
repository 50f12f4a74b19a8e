package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{BitextMining, Bm25, HardNegatives, Quantization, RankFusion, Similarity, TfIdf}
import graft.util.PlanCache
import graft.util.PlanCache.Shareable

/** ANN / retrieval queries beyond the VectorQueries core family:
  * corpus-calibrated int8 quantization + quantized-domain search
  * (C68), hard-negative mining (C59), product-quantization ANN
  * (C78), idf-weighted all-pairs cosine (C74), margin-based bitext
  * mining exact + LSH (C84), the ANN quality suite — IVF recall@k
  * (C94), cell-balance diagnostics (C95), PQ recall@k (C96) — and
  * reciprocal-rank fusion of lexical + dense retrieval (C106).
  */
object AnnQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.read(s, dir, name)

  val HnK = 50
  val HnNeg = 20
  val QtK = 20
  val EmbDim = 64

  val TfIdfMaxDf = 10
  val TfIdfTau = 0.3
  val PqM = 4
  val PqK = 4
  val PqIters = 2
  val PqTopK = 20

  /** Bitext mining: neighborhood size + ratio-margin gate (1.2 —
    * cuts the mutual-top-1 set from 125 to 34 pairs at sf0.01, so the
    * margin itself is exercised, not just mutuality). */
  val BitextK = 4
  val BitextMarginMilli = 1200L
  /** LSH mining: planes sized so the bench corpus keeps candidates. */
  val BitextPlanes = 4

  /** C96: centroids per subspace for the recall fixture (finer than
    * q_pq_topk's k=4, which recalls ~0 — the point of measuring). */
  val PqRecallK = 16
  val PqRecallM = 8

  /** RRF constant + fused list depth. */
  val RrfK0 = 60
  val RrfDepth = 20
  val RrfTopK = 10

  /** RBO persistence for C136 agreement (p = 0.9: top-heavy). */
  val RboPMilli = 900

  /** Hybrid queries: (query_id, lexical terms); the dense side uses
    * the embedding of vec_id = query_id.
    */
  val HybridQueries: Seq[(Long, String)] = Seq(
    0L -> "spark", 0L -> "table",
    1L -> "hash", 1L -> "merge",
    2L -> "window", 2L -> "sort")

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // C59: hard negatives — the q_ann_batch neighborhood minus
    // deterministic mod-keyed qrels, re-ranked contiguously.
    "q_hard_negatives" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val qids = Seq(0L, 1L, 2L)
      val queries = e.filter(col("vec_id").isin(qids: _*))
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val corpus = e.filter(!col("vec_id").isin(qids: _*))
      val qrels = e.filter(pmod(col("vec_id"), lit(25L)) < 3 && !col("vec_id").isin(qids: _*))
        .select(pmod(col("vec_id"), lit(25L)).cast("bigint").as("query_id"),
          col("vec_id").as("doc_id"))
      HardNegatives.mine(corpus, col("vec_id"), col("embedding"),
          queries, qrels, k = HnK, nNeg = HnNeg)
        .select(col("query_id"), col("vec_id"),
          round(col("cos_sim"), 4).as("cos_sim"), col("neg_rank"))
        .orderBy(col("query_id"), col("vec_id"))
    },

    // C68: corpus-calibrated per-dimension int8 quantization — the
    // cross-vector-comparable quantizer (per-row max-abs scales are
    // not), emitted as comma-joined ints (engine-stable formatting).
    "q_quantize_cal" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val cal = Quantization.fitMinMax(e, col("embedding"))
      Quantization.quantize(e, col("vec_id"), col("embedding"), cal)
        .select(col("vec_id"),
          array_join(transform(col("qvec"), x => x.cast("string")), ",").as("q8_cal"))
        .orderBy(col("vec_id"))
    },

    // C68b: top-k search IN the quantized domain — exact integer dot
    // products (deterministic under any partitioning), bounded-heap
    // per-query combiner instead of a corpus-wide window.
    "q_quantized_topk" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val cal = Quantization.fitMinMax(e, col("embedding"))
      val q = Quantization.quantize(e, col("vec_id"), col("embedding"), cal)
      val qids = Seq(0L, 1L, 2L)
      val queries = q.filter(col("vec_id").isin(qids: _*))
        .select(col("vec_id").as("query_id"), col("qvec"))
      Quantization.quantizedTopK(q.filter(!col("vec_id").isin(qids: _*)), queries, QtK)
        .orderBy(col("query_id"), col("rank"))
    },

    // C78: product-quantization ANN — m integer sub-codebooks, narrow
    // argmin encode, ADC top-k by LUT-literal integer sums.
    "q_pq_topk" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val corpus = e.filter(col("vec_id") =!= 0L)
      val cb = graft.ops.PqIndex.fitCodebooks(corpus, col("vec_id"), col("embedding"),
        dim = EmbDim, m = PqM, k = PqK, iters = PqIters)
      val codes = graft.ops.PqIndex.encode(corpus, col("vec_id"), col("embedding"), cb)
      val qv = e.filter(col("vec_id") === 0L)
        .select(col("embedding").cast("array<double>")).head().getSeq[Double](0).toArray
      graft.ops.PqIndex.adcTopK(codes, qv, cb, PqTopK)
        .orderBy(col("adc_dist"), col("vec_id"))
    },

    // C74: idf-weighted all-pairs cosine — posting-list self-join with
    // df-pruned fan-out; planted dups (suffix-appended replicas) land
    // near cosine 1 while unrelated token-soup pairs stay below τ.
    "q_tfidf_pairs" -> { (s, dir) =>
      val corpus = TextQueries.docsWithPlantedDups(s, dir)
      TfIdf.similarPairs(corpus, col("doc_id"), col("text"),
          shingleK = 3, maxDf = TfIdfMaxDf, threshold = TfIdfTau)
        .select(col("id_a"), col("id_b"), col("dot_milli2"),
          round(col("cosine"), 4).as("cosine"))
        .orderBy(col("id_a"), col("id_b"))
    },

    // C84: margin-based bitext mining — mutual top-1 pairs across
    // the parity-split embedding corpus, ratio margin in integer
    // micro-cosine arithmetic.
    "q_bitext_margin" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val src = emb.filter(pmod(col("vec_id"), lit(2L)) === 0)
      val tgt = emb.filter(pmod(col("vec_id"), lit(2L)) === 1)
      BitextMining.minePairs(src, col("vec_id"), col("embedding"),
          tgt, col("vec_id"), col("embedding"), BitextK, BitextMarginMilli)
        .orderBy(col("src_id"))
    },

    // C84 scale path: LSH-bucketed mining — candidates only within
    // shared sign-buckets, each pair's cosine scored ONCE for both
    // direction rankings.
    "q_bitext_lsh" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val src = emb.filter(pmod(col("vec_id"), lit(2L)) === 0)
      val tgt = emb.filter(pmod(col("vec_id"), lit(2L)) === 1)
      BitextMining.minePairsLsh(src, col("vec_id"), col("embedding"),
          tgt, col("vec_id"), col("embedding"), BitextK, BitextMarginMilli,
          dim = 64, nPlanes = BitextPlanes)
        .orderBy(col("src_id"))
    },

    // C94: ANN recall@k — the C7b IVF probed top-50 measured against
    // exact brute force under the identical total order; q_ann_ivf's
    // index parameters.
    "q_ann_recall" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val corpus = e.filter(col("vec_id") =!= 0)
      val query = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      graft.ops.AnnEval.ivfRecallAtK(corpus, col("vec_id"), col("embedding"),
        query, k = 8, iters = 3, nProbe = 4, topK = 50)
    },

    // C95: IVF cell-balance diagnostics — per-cell occupancy and the
    // max/mean imbalance factor for the fitted coarse quantizer.
    "q_ivf_balance" -> { (s, dir) =>
      val corpus = t(s, dir, "embeddings").filter(col("vec_id") =!= 0)
      graft.ops.IvfIndex.cellStats(corpus, col("vec_id"), col("embedding"),
          k = 8, iters = 3)
        .orderBy(col("cell"))
    },

    // C96: PQ recall@k — ADC's sub-codebook top-20 measured against
    // the exact same-metric top-20; k=16 centroids per subspace (vs
    // q_pq_topk's deliberately coarse k=4, whose recall rounds to
    // zero — the metric is precisely how you'd catch that before
    // shipping).
    "q_pq_recall" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val corpus = e.filter(col("vec_id") =!= 0L)
      val query = e.filter(col("vec_id") === 0L).select(col("embedding").as("qv"))
      graft.ops.AnnEval.pqRecallAtK(corpus, col("vec_id"), col("embedding"),
        query, dim = EmbDim, m = PqRecallM,
        k = PqRecallK, iters = PqIters,
        topK = PqTopK)
    },

    // C106: reciprocal-rank fusion of BM25 (lexical) and brute-force
    // cosine (dense) top-20 lists, top-10 fused per query.
    "q_rrf_fusion" -> { (s, dir) =>
      val (lex, dense) = hybridArms(s, dir)
      RankFusion.fuse(lex, dense, k0 = RrfK0, topK = RrfTopK)
        .orderBy(col("query_id"), col("rk"))
    },

    // C136: ranking agreement between the SAME two arms C106 fuses —
    // overlap@k, Kendall tau over common items, top-weighted RBO
    // (pre-quantized geometric weights: pow() never evaluates in
    // either engine).
    "q_rank_agreement" -> { (s, dir) =>
      val (lex, dense) = hybridArms(s, dir)
      graft.ops.RankAgreement.agreement(lex, dense, k = RrfDepth,
          pMilli = RboPMilli)
        .orderBy(col("query_id"))
    }
  )

  /** The shared lexical/dense ranked arms (query_id, doc_id, rank)
    * consumed by C106 fusion and C136 agreement. Both arms are
    * shared-CHECKPOINTED (each is ≤ RrfDepth rows per query BY
    * CONSTRUCTION): the BM25 + brute-force build — the dominant
    * multi-job cost of both queries — runs once per session, and
    * consumers compile against a one-line LogicalRDD scan instead of
    * re-optimizing the ~200-line arm lineage on every rebuild. The
    * memo key is (session, dir), so a rebuild doesn't even pay the
    * arm-plan ANALYSIS (the residual ~1 s of a warm rebuild was pure
    * analyzer + canonicalization work on the deep arm plans).
    *
    * CONTRACT: the memo freezes the arms for a (session, dir) at
    * first build — correct here because the bench fixture tables are
    * immutable for a session's lifetime; a caller pattern over a
    * mutating corpus would rebuild via buildHybridArms directly.
    */
  private def hybridArms(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    PlanCache.memo(s, ("hybridArms", dir))(buildHybridArms(s, dir))

  private def buildHybridArms(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import s.implicits._
    val queryIds = HybridQueries.map(_._1).distinct
    val docs = t(s, dir, "documents").filter(!col("doc_id").isin(queryIds: _*))
    val emb = t(s, dir, "embeddings")
    val lex = Bm25.topK(docs, col("doc_id"), col("text"),
        HybridQueries.toDF("query_id", "term"), topK = RrfDepth)
      .select(col("query_id"), col("doc_id"), col("rk").as("rank"))
      .sharedCheckpoint()
    val denseQ = emb.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").cast("bigint").as("query_id"), col("embedding").as("qv"))
    val wD = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    val dense = Similarity.bruteForceTopKBatch(
        emb.filter(!col("vec_id").isin(queryIds: _*)),
        col("vec_id"), col("embedding"), denseQ, k = RrfDepth)
      .withColumn("rank", row_number().over(wD).cast("bigint"))
      .select(col("query_id"), col("vec_id").as("doc_id"), col("rank"))
      .sharedCheckpoint()
    (lex, dense)
  }

  val oracles: Map[String, String] = Map(

    "q_hard_negatives" ->
      s"""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
         |           FROM embeddings WHERE vec_id IN (0, 1, 2)),
         |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |      FROM embeddings WHERE vec_id NOT IN (0, 1, 2)),
         |qrels AS (SELECT vec_id % 25 AS query_id, vec_id AS doc_id
         |          FROM embeddings WHERE vec_id % 25 < 3 AND vec_id NOT IN (0, 1, 2)),
         |s AS (SELECT q.query_id, c.vec_id,
         |        list_cosine_similarity(c.v, q.qv) AS cos_sim
         |      FROM c, q),
         |r AS (SELECT query_id, vec_id, cos_sim,
         |        row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
         |      FROM s),
         |topk AS (SELECT query_id, vec_id, cos_sim FROM r WHERE rk <= $HnK),
         |negs AS (SELECT t.query_id, t.vec_id, t.cos_sim
         |         FROM topk t LEFT JOIN qrels p
         |           ON t.query_id = p.query_id AND t.vec_id = p.doc_id
         |         WHERE p.doc_id IS NULL),
         |rr AS (SELECT query_id, vec_id, cos_sim,
         |         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS neg_rank
         |       FROM negs)
         |SELECT query_id, vec_id, round(cos_sim, 4) AS cos_sim,
         |  CAST(neg_rank AS BIGINT) AS neg_rank
         |FROM rr WHERE neg_rank <= $HnNeg ORDER BY query_id, vec_id""".stripMargin,

    "q_quantize_cal" ->
      s"""WITH ex AS (SELECT vec_id, u.i AS dim, CAST(embedding AS DOUBLE[])[u.i] AS v
         |            FROM embeddings, unnest(range(1, ${EmbDim + 1})) AS u(i)),
         |cal AS (SELECT dim, min(v) AS lo, max(v) AS hi FROM ex GROUP BY dim)
         |SELECT vec_id,
         |  string_agg(CAST(CASE WHEN cal.hi = cal.lo THEN 0
         |    ELSE CAST(round((ex.v - cal.lo) * 254.0 / (cal.hi - cal.lo)) AS INTEGER) - 127 END
         |    AS VARCHAR), ',' ORDER BY ex.dim) AS q8_cal
         |FROM ex JOIN cal USING (dim)
         |GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    "q_quantized_topk" ->
      s"""WITH ex AS (SELECT vec_id, u.i AS dim, CAST(embedding AS DOUBLE[])[u.i] AS v
         |            FROM embeddings, unnest(range(1, ${EmbDim + 1})) AS u(i)),
         |cal AS (SELECT dim, min(v) AS lo, max(v) AS hi FROM ex GROUP BY dim),
         |q AS (SELECT vec_id, dim,
         |        CASE WHEN cal.hi = cal.lo THEN 0
         |          ELSE CAST(round((ex.v - cal.lo) * 254.0 / (cal.hi - cal.lo)) AS INTEGER) - 127
         |        END AS qv
         |      FROM ex JOIN cal USING (dim)),
         |s AS (SELECT qq.vec_id AS query_id, c.vec_id,
         |        CAST(SUM(CAST(c.qv AS BIGINT) * qq.qv) AS BIGINT) AS iprod
         |      FROM q c JOIN q qq USING (dim)
         |      WHERE qq.vec_id IN (0, 1, 2) AND c.vec_id NOT IN (0, 1, 2)
         |      GROUP BY 1, 2),
         |r AS (SELECT query_id, vec_id, iprod,
         |        CAST(row_number() OVER (PARTITION BY query_id
         |          ORDER BY iprod DESC, vec_id) AS BIGINT) AS rank
         |      FROM s)
         |SELECT query_id, vec_id, iprod, rank
         |FROM r WHERE rank <= $QtK ORDER BY query_id, rank""".stripMargin,

    "q_pq_topk" ->
      graft.ops.PqIndex.pqSql(EmbDim, PqM, PqK, PqIters, PqTopK),

    "q_tfidf_pairs" ->
      s"""WITH ${TextQueries.allDocsCte},
         |${TextQueries.shinglesCte},
         |e AS (SELECT DISTINCT doc_id, ${PipelineQueries.hash60("u.s")} AS h
         |      FROM sh, unnest(sh.shingles) AS u(s)),
         |nn AS (SELECT count(*) AS n_docs FROM all_docs),
         |dfc AS (SELECT h, count(*) AS df FROM e GROUP BY h
         |        HAVING count(*) <= $TfIdfMaxDf),
         |wts AS (SELECT e.doc_id, e.h, dfc.df,
         |          CAST(floor(ln(CAST(n_docs + 1 AS DOUBLE)
         |            / CAST(df + 1 AS DOUBLE)) * 1000) AS BIGINT) AS idf
         |        FROM e JOIN dfc USING (h), nn),
         |nsq AS (SELECT doc_id, CAST(SUM(idf * idf) AS BIGINT) AS nsq
         |        FROM wts GROUP BY doc_id),
         |dots AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |           CAST(SUM(a.idf * b.idf) AS BIGINT) AS dot_milli2
         |         FROM wts a JOIN wts b ON a.h = b.h AND a.doc_id < b.doc_id
         |         WHERE a.df >= 2
         |         GROUP BY 1, 2),
         |c AS (SELECT d.id_a, d.id_b, d.dot_milli2,
         |        CAST(d.dot_milli2 AS DOUBLE)
         |          / (sqrt(CAST(na.nsq AS DOUBLE)) * sqrt(CAST(nb.nsq AS DOUBLE))) AS cosine
         |      FROM dots d
         |      JOIN nsq na ON na.doc_id = d.id_a
         |      JOIN nsq nb ON nb.doc_id = d.id_b)
         |SELECT id_a, id_b, dot_milli2, round(cosine, 4) AS cosine
         |FROM c WHERE cosine >= $TfIdfTau ORDER BY id_a, id_b""".stripMargin,

    "q_bitext_margin" ->
      s"""WITH ${BitextMining.minePairsSql(
             "vec_id % 2 = 0", "vec_id % 2 = 1", BitextK, BitextMarginMilli)}
         |SELECT src_id, tgt_id, cos_micro, margin_milli
         |FROM bmm ORDER BY src_id""".stripMargin,

    "q_bitext_lsh" ->
      s"""WITH ${BitextMining.minePairsLshSql(
             "vec_id % 2 = 0", "vec_id % 2 = 1", BitextK, BitextMarginMilli,
             dim = 64, nPlanes = BitextPlanes)}
         |SELECT src_id, tgt_id, cos_micro, margin_milli
         |FROM bml ORDER BY src_id""".stripMargin,

    "q_ann_recall" ->
      s"""WITH ${graft.ops.IvfIndex.integerIvfCtes(k = 8, iters = 3, nProbe = 4, topK = 50)},
         |${graft.ops.AnnEval.ivfRecallSql(topK = 50)}
         |SELECT top_k, n_approx, n_hit, recall_milli FROM anrec""".stripMargin,

    "q_ivf_balance" ->
      s"""WITH ${graft.ops.IvfIndex.integerIvfCtes(k = 8, iters = 3, nProbe = 4, topK = 50)},
         |${graft.ops.IvfIndex.cellStatsSql(k = 8)}
         |SELECT cell, n_vectors, share_milli, imbalance_milli
         |FROM ivbal ORDER BY cell""".stripMargin,

    "q_pq_recall" ->
      s"""WITH ${graft.ops.PqIndex.pqCtes(EmbDim, PqRecallM,
             PqRecallK, PqIters, PqTopK)},
         |${graft.ops.AnnEval.pqRecallSql(PqTopK, EmbDim)}
         |SELECT top_k, n_approx, n_hit, recall_milli FROM pqrec""".stripMargin,

    "q_rrf_fusion" ->
      s"""WITH $hybridArmsCtes,
         |fused AS (
         |  SELECT coalesce(lex.query_id, dense.query_id) AS query_id,
         |         coalesce(lex.doc_id, dense.doc_id) AS doc_id,
         |         coalesce(lex.lex_rank, 0) AS lex_rank,
         |         coalesce(dense.dense_rank, 0) AS dense_rank
         |  FROM lex FULL OUTER JOIN dense
         |    ON lex.query_id = dense.query_id AND lex.doc_id = dense.doc_id),
         |scored AS (
         |  SELECT query_id, doc_id,
         |         CAST(lex_rank AS BIGINT) AS lex_rank,
         |         CAST(dense_rank AS BIGINT) AS dense_rank,
         |         CAST(CASE WHEN lex_rank > 0
         |                THEN ${RankFusion.Scale} // (lex_rank + $RrfK0) ELSE 0 END
         |              + CASE WHEN dense_rank > 0
         |                THEN ${RankFusion.Scale} // (dense_rank + $RrfK0) ELSE 0 END
         |           AS BIGINT) AS rrf_score
         |  FROM fused)
         |SELECT query_id, doc_id, lex_rank, dense_rank, rrf_score,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY rrf_score DESC, doc_id) AS BIGINT) AS rk
         |FROM scored QUALIFY rk <= $RrfTopK
         |ORDER BY query_id, rk""".stripMargin,

    "q_rank_agreement" ->
      s"""WITH $hybridArmsCtes,
         |rla AS (SELECT query_id, doc_id, lex_rank AS rank FROM lex),
         |rlb AS (SELECT query_id, doc_id, dense_rank AS rank FROM dense),
         |${graft.ops.RankAgreement.agreementSqlTail(RrfDepth, RboPMilli)}
         |SELECT query_id, n_common, overlap_k_milli, tau_milli, rbo_micro
         |FROM ragr ORDER BY query_id""".stripMargin
  )

  /** Shared arm CTEs of the q_rrf_fusion / q_rank_agreement twins:
    * final relations `lex(query_id, doc_id, lex_rank)` and
    * `dense(query_id, doc_id, dense_rank)`.
    */
  private def hybridArmsCtes: String = {
    val values = HybridQueries.map { case (q, tm) => s"($q, '$tm')" }.mkString(", ")
    val qids = HybridQueries.map(_._1).distinct.mkString(", ")
    s"""q(query_id, term) AS (VALUES $values),
       |d AS (SELECT doc_id, text FROM documents WHERE doc_id NOT IN ($qids)),
         |toks AS (SELECT doc_id, u.term
         |         FROM d, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS u(term)),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
         |       WHERE term IN (SELECT term FROM q) GROUP BY doc_id, term),
         |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |dl AS (SELECT doc_id, ${graft.ops.TextAnalysis.tokenCountSql("text")} AS dl FROM d),
         |stats AS (SELECT count(*) AS n_docs,
         |                 avg(${graft.ops.TextAnalysis.tokenCountSql("text")}) AS avgdl
         |          FROM d),
         |contrib AS (
         |  SELECT q.query_id, tf.doc_id,
         |         ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
         |           * tf.tf * 2.2
         |           / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) AS part
         |  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id)
         |       CROSS JOIN stats JOIN q ON q.term = tf.term),
         |lexscore AS (SELECT query_id, doc_id, round(sum(part), 4) AS score
         |             FROM contrib GROUP BY query_id, doc_id),
         |lex AS (SELECT query_id, doc_id,
         |          CAST(row_number() OVER (PARTITION BY query_id
         |            ORDER BY score DESC, doc_id) AS BIGINT) AS lex_rank
         |        FROM lexscore QUALIFY lex_rank <= $RrfDepth),
         |qv AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
         |       FROM embeddings WHERE vec_id IN ($qids)),
         |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |      FROM embeddings WHERE vec_id NOT IN ($qids)),
         |ds AS (SELECT qv.query_id, c.vec_id AS doc_id,
         |         list_cosine_similarity(c.v, qv.qv) AS cos_sim
         |       FROM c, qv),
         |dense AS (SELECT query_id, doc_id,
         |            CAST(row_number() OVER (PARTITION BY query_id
         |              ORDER BY cos_sim DESC, doc_id) AS BIGINT) AS dense_rank
         |          FROM ds QUALIFY dense_rank <= $RrfDepth)""".stripMargin
  }
}
