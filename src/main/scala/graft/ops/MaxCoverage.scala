package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.PlanCache

/** Greedy maximum-coverage selection (the facility-location /
  * submodular-coverage selector, Nemhauser et al. 1978): pick k
  * documents that together cover as many distinct corpus shingles as
  * possible — each round takes the doc with the most NOT-YET-COVERED
  * shingles. The classic (1−1/e)-approximation of optimal coverage,
  * and the standard "small subset that represents the corpus"
  * primitive: seed sets for review, eval-slice selection, and
  * dedup-aware summarization all reduce to it. Complements C121
  * (k-center spreads in EMBEDDING space; this maximizes SET coverage
  * of surface n-grams) and C134 (MMR trades relevance against
  * redundancy; this is pure coverage).
  *
  * Determinism: gains are exact integer counts of uncovered distinct
  * shingle hashes; ties break on smallest doc_id; rounds stop early
  * if no doc adds coverage (both engines emit the same truncated
  * list).
  *
  * Scale shape: the (doc, shingle-hash) set materializes once
  * (distinct + a doc_id repartition+sort, so each doc's shingles are
  * contiguous in one partition) and persists; each of the k rounds is
  * then ONE shuffle-free narrow job — a per-partition streaming
  * combiner (the C121 device) that scans its contiguous doc groups,
  * counts uncovered hashes against the covered set riding as a
  * closure literal, and emits one best candidate per partition
  * (carrying its uncovered hashes, so the winner's coverage delta
  * comes back in the same job); the driver reduces ≤P candidates.
  * Driver state is the covered hash set of the ≤k selected docs —
  * O(k · shingles-per-doc), the same bounded-closure contract as
  * C121's k·dim centers.
  */
object MaxCoverage {

  /** Greedily select up to k docs by marginal shingle coverage.
    *
    * @return ≤k rows (sel_rank, doc_id, gain, covered_total): gain =
    *         distinct shingles newly covered at selection time,
    *         covered_total = running union size
    */
  def select(docs: DataFrame, id: Column, text: Column, k: Int,
      shingleK: Int = 3): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    PlanCache.scoped(docs
      .select(id.cast("bigint").as("doc_id"),
        explode(TextAnalysis.wordShingles(text, shingleK)).as("shingle"))
      .select(col("doc_id"), Dedup.md5Hash60(col("shingle")).as("h"))
      .distinct()
      .repartition(col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .as[(Long, Long)]) { sets =>
      val picked = mutable.ArrayBuffer[(Long, Long, Long)]()
      val selIds = mutable.Set[Long]()
      val coveredHashes = mutable.Set[Long]()
      var covered = 0L
      var exhausted = false
      for (_ <- 1 to k if !exhausted) {
        val cov = coveredHashes.toSet
        val taken = selIds.toSet
        // one candidate per partition: best (gain, doc_id) among its
        // contiguous doc groups, with the doc's uncovered hashes so the
        // coverage delta returns in the same job
        val perPart = sets.mapPartitions { rows =>
          var bId = Long.MaxValue
          var bGain = 0L
          var bNew: Array[Long] = null
          var curId = Long.MinValue
          val curNew = mutable.ArrayBuffer[Long]()
          def flush(): Unit =
            if (curNew.nonEmpty && !taken.contains(curId) &&
              (curNew.length > bGain || (curNew.length == bGain && curId < bId))) {
              bGain = curNew.length; bId = curId; bNew = curNew.toArray
            }
          rows.foreach { case (d, h) =>
            if (d != curId) { flush(); curId = d; curNew.clear() }
            if (!cov.contains(h)) curNew += h
          }
          flush()
          if (bNew != null) Iterator.single((bId, bGain, bNew)) else Iterator.empty
        }.collect()
        if (perPart.isEmpty) exhausted = true
        else {
          val (vid, gain, newHashes) = perPart.minBy { case (d, g, _) => (-g, d) }
          covered += gain
          picked += ((vid, gain, covered))
          selIds += vid
          coveredHashes ++= newHashes
        }
      }
      picked.zipWithIndex
        .map { case ((vid, gain, cum), i) => (i + 1L, vid, gain, cum) }
        .toSeq.toDF("sel_rank", "doc_id", "gain", "covered_total")
        .orderBy(col("sel_rank"))
    }
  }

  /** DuckDB twin: k unrolled MATERIALIZED rounds over the same
    * distinct (doc_id, shingle-hash) set built from `sh(doc_id,
    * shingles)` (the shared shingle-list CTE); round j excludes the
    * shingles of every prior winner. The running covered_total is a
    * window over ≤k selected rows.
    */
  def selectSql(k: Int): String = {
    val h60 = (v: String) => s"('0x' || substr(md5(CAST($v AS VARCHAR)), 1, 15))::BIGINT"
    val sb = new StringBuilder
    sb.append(
      s"""mcs AS (SELECT DISTINCT doc_id, ${h60("u.s")} AS h
         |        FROM sh, unnest(sh.shingles) AS u(s)),
         |mc1 AS MATERIALIZED (SELECT 1 AS rk, doc_id, CAST(count(*) AS BIGINT) AS gain
         |  FROM mcs GROUP BY doc_id ORDER BY gain DESC, doc_id LIMIT 1),
         |""".stripMargin)
    for (j <- 2 to k) {
      val prevSel = (1 until j).map(i => s"SELECT rk, doc_id, gain FROM mc$i")
        .mkString(" UNION ALL ")
      sb.append(
        s"""mc$j AS MATERIALIZED (
           |  SELECT $j AS rk, s.doc_id, CAST(count(*) AS BIGINT) AS gain
           |  FROM mcs s
           |  WHERE s.doc_id NOT IN (SELECT doc_id FROM ($prevSel))
           |    AND s.h NOT IN (SELECT m.h FROM mcs m
           |                    JOIN ($prevSel) p ON m.doc_id = p.doc_id)
           |  GROUP BY s.doc_id ORDER BY gain DESC, s.doc_id LIMIT 1),
           |""".stripMargin)
    }
    val selAll = (1 to k).map(i => s"SELECT rk, doc_id, gain FROM mc$i")
      .mkString(" UNION ALL ")
    sb.append(
      s"""mcsel AS ($selAll)
         |SELECT CAST(rk AS BIGINT) AS sel_rank, doc_id, gain,
         |  CAST(sum(gain) OVER (ORDER BY rk) AS BIGINT) AS covered_total
         |FROM mcsel ORDER BY sel_rank""".stripMargin)
    sb.toString
  }
}
