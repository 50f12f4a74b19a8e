package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{Dedup, IvfIndex, Multimodal, Similarity}
import graft.util.PlanCache

/** Vector-search and multimodal capability queries (SURVEY.md §2.C)
  * over the embeddings/documents tables.
  */
object VectorQueries {

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "embeddings")

  /** Memoized C138 component (a 64-row local frame) — shared by
    * q_pca_power and the C146 anisotropy audit (the fit is an EAGER
    * driver-round loop over an immutable bench fixture, so a rebuild
    * must not re-fit).
    */
  private def pcaComponent(s: SparkSession, dir: String): DataFrame =
    PlanCache.memo(s, ("pca", dir))(
      graft.ops.Pca.topComponent(emb(s, dir), col("embedding"), dim = 64, iters = 3))

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // C6: brute-force cosine top-k vs the vec_id=0 query vector.
    "q_ann_topk" -> { (s, dir) =>
      val e = emb(s, dir)
      val query = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      Similarity.bruteForceTopK(e.filter(col("vec_id") =!= 0),
          col("vec_id"), col("embedding"), query, k = 50)
        .select(col("vec_id"), round(col("cos_sim"), 4).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
    },

    // C7: LSH-bucketed ANN (scale path; recall spec vs C6).
    "q_ann_lsh" -> { (s, dir) =>
      val e = emb(s, dir)
      val query = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      Similarity.lshTopK(e.filter(col("vec_id") =!= 0),
          col("vec_id"), col("embedding"), query, k = 50, dim = 64,
          nPlanes = 6, probeHamming = 3)
        .select(col("vec_id"), round(col("cos_sim"), 4).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
    },

    // C7b: IVF ANN — k-means cells, probe half the cells. The query
    // runs the integer fixed-point portable variant (bit-exact across
    // engines → DuckDB-oracled end to end, the C2/C3 md5-variant
    // move); the float production fit keeps its recall spec.
    "q_ann_ivf" -> { (s, dir) =>
      val e = emb(s, dir)
      val corpus = e.filter(col("vec_id") =!= 0)
      val query = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      IvfIndex.integerIvfTopK(corpus, col("vec_id"), col("embedding"), query,
          k = 8, iters = 3, nProbe = 4, topK = 50)
        .select(col("vec_id"), round(col("cos_sim"), 4).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
    },

    // C6b: batched ANN — 3 query vectors, ONE corpus pass, bounded
    // per-partition combiner before the shuffle.
    "q_ann_batch" -> { (s, dir) =>
      val e = emb(s, dir)
      val qids = Seq(0L, 1L, 2L)
      val queries = e.filter(col("vec_id").isin(qids: _*))
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      Similarity.bruteForceTopKBatch(e.filter(!col("vec_id").isin(qids: _*)),
          col("vec_id"), col("embedding"), queries, k = 50)
        .select(col("query_id"), col("vec_id"), round(col("cos_sim"), 4).as("cos_sim"))
        .orderBy(col("query_id"), col("vec_id"))
    },

    // C27: JL random projection 64 -> 16 dims (ANN preprocessing),
    // emitted as integer-scaled strings like q_vector_norm.
    "q_project" -> { (s, dir) =>
      emb(s, dir).select(col("vec_id"),
          array_join(
            transform(
              graft.functions.VectorFunctions.randomProject(col("embedding"), inDim = 64, outDim = 16),
              x => round(x * 10000, 0).cast("long").cast("string")),
            ",").as("proj_e4"))
        .orderBy(col("vec_id"))
    },

    // C5: embedding-cosine near-dup pairs blocked by label.
    "q_dedup_embedding" -> { (s, dir) =>
      Dedup.embeddingCosine(emb(s, dir), col("vec_id"), col("embedding"),
          blockBy = col("label"), threshold = 0.2)
        .select(col("id_a"), col("id_b"), round(col("cos_sim"), 4).as("cos_sim"))
        .orderBy(col("id_a"), col("id_b"))
    },

    // C15: embedding utilities — unit normalization + int8
    // quantization. Elementwise results are emitted as integer-scaled
    // comma-joined strings: integers format identically in every
    // engine (double formatting does not — 1.0E-4 vs 0.0001), and the
    // flat string survives any row-sort/hash the gate applies.
    "q_vector_norm" -> { (s, dir) =>
      val e = emb(s, dir)
      e.select(col("vec_id"),
          array_join(
            transform(graft.functions.VectorFunctions.l2Normalize(col("embedding")),
              x => round(x * 10000, 0).cast("long").cast("string")),
            ",").as("unit_vec_e4"),
          array_join(
            transform(graft.functions.VectorFunctions.quantizeInt8(col("embedding")),
              x => x.cast("string")),
            ",").as("q8"),
          round(graft.functions.VectorFunctions.quantizeScale(col("embedding")) * 10000, 0)
            .cast("long").as("q_scale_e4"))
        .orderBy(col("vec_id"))
    },

    // C127: per-group embedding pooling — per-label element-wise mean
    // + renormalized prototype. dim SUM aggregates (partial-agg
    // citizens), no posexplode row blowup.
    "q_embed_centroids" -> { (s, dir) =>
      graft.ops.EmbeddingPool.groupCentroids(emb(s, dir), col("label"),
          col("embedding"), dim = 64)
        .orderBy(col("group"))
    },

    // C134: MMR diversified selection — 8 relevant-but-non-redundant
    // picks vs the vec_id=0 query; per-round one distributed argmax
    // combiner, selected vectors ride as closure literals.
    "q_mmr_select" -> { (s, dir) =>
      val e = emb(s, dir)
      val query = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      graft.ops.Mmr.select(e.filter(col("vec_id") =!= 0),
        col("vec_id"), col("embedding"), query, k = 8, lambdaMilli = 700)
    },

    // C138: power-iteration PCA — the corpus's dominant semantic
    // axis from one distributed aggregation per round (closure-
    // literal iterate, exact integer sums, no covariance matrix).
    // The fitted component is memoized per (session, dir): the op is
    // EAGER (driver-round loop) over an immutable bench fixture, so a
    // rebuild must not re-fit.
    "q_pca_power" -> { (s, dir) =>
      pcaComponent(s, dir).orderBy(col("d"))
    },

    // C146: ABTT anisotropy audit — per-label drift + Rayleigh
    // variance fraction along the memoized C138 common component
    // (mu/v ride as closure literals; one narrow pass + label agg).
    "q_pca_anisotropy" -> { (s, dir) =>
      val comp = pcaComponent(s, dir).orderBy(col("d")).collect()
      val mu = comp.map(_.getAs[Long]("mu_q"))
      val v = comp.map(_.getAs[Long]("pc1_e4"))
      graft.ops.Pca.anisotropyAudit(emb(s, dir), col("embedding"), col("label"), mu, v)
    },

    // C134 scale path: MMR over the 64 nearest candidates only — one
    // kernel-distance corpus pass + bounded TopKAgg shortlist, then
    // the same exact loop on 64 rows (rerank-a-shortlist, the way
    // MMR deploys at corpus scale).
    "q_mmr_topn" -> { (s, dir) =>
      val e = emb(s, dir)
      val query = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      graft.ops.Mmr.selectPrefiltered(e.filter(col("vec_id") =!= 0),
        col("vec_id"), col("embedding"), query, k = 8, lambdaMilli = 700,
        candN = 64)
    },

    // C132: per-group semantic dispersion — mean pairwise cosine
    // from ONE aggregation pass (||sum||^2 identity), no n^2 join.
    "q_embed_dispersion" -> { (s, dir) =>
      graft.ops.EmbeddingPool.dispersion(emb(s, dir), col("label"),
          col("embedding"), dim = 64)
        .orderBy(col("group"))
    },

    // C125: cluster-prototype selection — the 5 most central vectors
    // of each of 8 integer-portable k-means cells (density-typical
    // exemplars, the complement of q_kcenter's spread picks). Narrow
    // argmin assignment + bounded TopKAgg heap — no per-cell window.
    "q_cluster_prototypes" -> { (s, dir) =>
      graft.ops.Prototypes.select(
        emb(s, dir).filter(col("vec_id") =!= 0),
        col("vec_id"), col("embedding"), k = 8, iters = 3, m = 5)
    },

    // C12: multimodal plumbing — binary payloads through the
    // per-partition batch extractor; n_bytes oracled via octet_length.
    "q_multimodal_meta" -> { (s, dir) =>
      val media = Multimodal.packBinary(
        Tables.read(s, dir, "documents"), col("doc_id"), col("text"), "text/plain")
      Multimodal.extractFeatures(media, dim = 8).toDF()
        .select(col("media_id"), col("media_type"), col("n_bytes"))
        .orderBy(col("media_id"))
    }
  )

  /** The LSH hyperplanes are data-independent constants from a fixed
    * seed — embedded as double literals (Double.toString is
    * roundtrip-exact, so DuckDB parses the identical bits) the twin
    * SQL uses to recompute the same sign buckets.
    */
  private def lshBucketSql(v: String): String =
    Similarity.hyperplanes(dim = 64, nPlanes = 6).zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_dot_product($v, ${p.mkString("[", ", ", "]")}) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("(", "\n       + ", ")")

  /** Projection rows as roundtrip-exact literals (same trick as the
    * LSH hyperplane oracle); scale 1/sqrt(16) = 0.25 is exact binary.
    */
  private def projectDimsSql: String = {
    val rows = graft.functions.VectorFunctions.projectionMatrix(inDim = 64, outDim = 16)
    rows.map { r =>
      s"CAST(CAST(round(list_dot_product(v, ${r.mkString("[", ", ", "]")}) * 0.25 * 10000, 0) AS BIGINT) AS VARCHAR)"
    }.mkString("concat_ws(',',\n  ", ",\n  ", ")")
  }

  val oracles: Map[String, String] = Map(
    "q_ann_ivf" -> IvfIndex.integerIvfSql(k = 8, iters = 3, nProbe = 4, topK = 50),

    "q_cluster_prototypes" ->
      graft.ops.Prototypes.selectSql(k = 8, iters = 3, m = 5),

    "q_embed_centroids" ->
      graft.ops.EmbeddingPool.groupCentroidsSql(dim = 64),

    "q_embed_dispersion" ->
      graft.ops.EmbeddingPool.dispersionSql(dim = 64),

    "q_mmr_select" ->
      graft.ops.Mmr.selectSql(k = 8, lambdaMilli = 700),

    "q_mmr_topn" ->
      graft.ops.Mmr.selectPrefilteredSql(k = 8, lambdaMilli = 700, candN = 64),

    "q_pca_power" ->
      s"""WITH ${graft.ops.Pca.topComponentSql(dim = 64, iters = 3)}
         |SELECT d, mu_q, pc1_e4 FROM pfin ORDER BY d""".stripMargin,

    "q_pca_anisotropy" ->
      s"""WITH ${graft.ops.Pca.topComponentSql(dim = 64, iters = 3)},
         |${graft.ops.Pca.anisotropySqlTail(dim = 64, iters = 3)}
         |SELECT label, n_vecs, mean_dot_q, var_along_micro
         |FROM pani ORDER BY label""".stripMargin,

    "q_project" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
         |SELECT vec_id, $projectDimsSql AS proj_e4
         |FROM e ORDER BY vec_id""".stripMargin,

    "q_ann_lsh" ->
      s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |           FROM embeddings WHERE vec_id <> 0),
         |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
         |cb AS (SELECT vec_id, v, ${lshBucketSql("v")} AS bucket FROM c),
         |qb AS (SELECT qv, ${lshBucketSql("qv")} AS q_bucket FROM q),
         |top AS (SELECT cb.vec_id, list_cosine_similarity(cb.v, qb.qv) AS cos_sim
         |        FROM cb, qb
         |        WHERE bit_count(xor(CAST(cb.bucket AS BIGINT), CAST(qb.q_bucket AS BIGINT))) <= 3
         |        ORDER BY cos_sim DESC, vec_id LIMIT 50)
         |SELECT vec_id, round(cos_sim, 4) AS cos_sim FROM top
         |ORDER BY cos_sim DESC, vec_id""".stripMargin,

    "q_ann_topk" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id,
        |  round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), CAST(qv AS DOUBLE[])), 4) AS cos_sim
        |FROM embeddings, q WHERE vec_id <> 0
        |ORDER BY cos_sim DESC, vec_id LIMIT 50""".stripMargin,

    "q_ann_batch" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id IN (0, 1, 2)),
        |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |      FROM embeddings WHERE vec_id NOT IN (0, 1, 2)),
        |s AS (SELECT q.query_id, c.vec_id,
        |        list_cosine_similarity(c.v, q.qv) AS cos_sim
        |      FROM c, q),
        |r AS (SELECT query_id, vec_id, cos_sim,
        |        row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
        |      FROM s)
        |SELECT query_id, vec_id, round(cos_sim, 4) AS cos_sim
        |FROM r WHERE rk <= 50 ORDER BY query_id, vec_id""".stripMargin,

    "q_dedup_embedding" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) AS cos_sim
        |FROM embeddings a JOIN embeddings b
        |  ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) > 0.2
        |ORDER BY id_a, id_b""".stripMargin,

    "q_vector_norm" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v,
        |        sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum')) AS nrm,
        |        list_aggregate(list_transform(v, x -> abs(x)), 'max') AS m
        |      FROM e)
        |SELECT vec_id,
        |  list_aggregate(list_transform(v, x -> CAST(CAST(round(x / nrm * 10000, 0) AS BIGINT) AS VARCHAR)), 'string_agg', ',') AS unit_vec_e4,
        |  list_aggregate(list_transform(v, x -> CAST(CAST(round(x * 127.0 / m, 0) AS INT) AS VARCHAR)), 'string_agg', ',') AS q8,
        |  CAST(round(m * 10000, 0) AS BIGINT) AS q_scale_e4
        |FROM n ORDER BY vec_id""".stripMargin,

    "q_multimodal_meta" ->
      """SELECT doc_id AS media_id, 'text/plain' AS media_type,
        |  octet_length(encode(text)) AS n_bytes
        |FROM documents ORDER BY media_id""".stripMargin
  )
}
