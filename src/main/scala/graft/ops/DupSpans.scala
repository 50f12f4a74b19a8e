package graft.ops

import graft.util.PlanCache.Shareable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Duplicate-span detection — the substring-level view of corpus
  * duplication (the signal behind "dedup at the span level, not the
  * document level": boilerplate sentences, license headers, and
  * copy-pasted passages recur across documents that are NOT
  * near-duplicates of each other, and span statistics find them
  * where document-level MinHash cannot).
  *
  * A span is a window of `k` consecutive whitespace tokens; a span is
  * *duplicated* when it occurs in two or more distinct documents.
  * Per document we report how many of its distinct spans are
  * duplicated — the "fraction of this document that exists elsewhere
  * in the corpus" metric used to gate span-level rewriting.
  *
  * Scale shape: documents tokenize once (narrow); each doc emits its
  * DISTINCT spans as 60-bit hashes, so the only data-sized exchanges
  * shuffle fixed-width (doc_id, span_hash) pairs — never text. One
  * shuffle counts containing-docs per span hash (rows are already
  * distinct per doc, so `count(*)` IS the document frequency — no
  * countDistinct state), one hash join restricts to duplicated spans
  * (the duplicated-span set is a small fraction of all spans; AQE
  * broadcasts it when it fits), one shuffle re-keys hits by doc. The
  * exploded hash stream is persisted so candidates and doc totals
  * read one materialization.
  */
object DupSpans {

  /** Per-doc duplicated-span statistics: (doc_id, n_spans,
    * n_dup_spans, dup_span_frac) where n_spans counts the doc's
    * distinct k-token spans, n_dup_spans those occurring in >= 2
    * distinct docs, and dup_span_frac their 4dp-rounded ratio.
    * Docs shorter than k tokens contribute their whole token stream
    * as a single span (mirroring [[TextAnalysis.wordShingles]]).
    */
  def duplicatedSpans(df: DataFrame, id: Column, text: Column, k: Int): DataFrame = {
    require(k >= 2, s"span width must be >= 2 tokens, got $k")
    val docs = df.select(
      id.cast("bigint").as("doc_id"),
      TextAnalysis.wordShingles(text, k).as("spans")) // kernel output is already distinct
    val ex = docs
      .select(col("doc_id"), explode(col("spans")).as("s"))
      .select(col("doc_id"), Dedup.md5Hash60(col("s")).as("shash"))
      .sharedPersist()
    val duplicated = ex.groupBy(col("shash"))
      .agg(count(lit(1)).as("span_df")) // rows distinct per doc => df
      .filter(col("span_df") >= 2)
      .select(col("shash"))
    val hits = ex.join(duplicated, Seq("shash"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_spans"))
    // doc totals come from the SAME persisted hash stream (one row
    // per distinct span per doc, and every doc has >= 1 span), so the
    // tokenize+shingle kernel runs exactly once over the corpus
    ex.groupBy(col("doc_id")).agg(count(lit(1)).as("n_spans"))
      .join(hits, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        when(col("n_spans") > 0,
          round(coalesce(col("n_dup_spans"), lit(0L)).cast("double") / col("n_spans"), 4))
          .otherwise(lit(0.0)).as("dup_span_frac"))
  }

  /** Span REMOVAL — the rewrite step behind span-level dedup: every
    * token covered by at least one k-token span that occurs in >= 2
    * distinct documents is dropped, and each document is reassembled
    * from its surviving tokens in order. Returns (doc_id, n_tokens,
    * n_removed, clean_md5) with clean_md5 = md5 of the space-joined
    * survivors (md5('') when everything was duplicated — the doc row
    * never disappears). Docs shorter than k tokens carry no k-spans
    * and are never rewritten.
    *
    * Scale shape: positions and span hashes explode narrowly from
    * one tokenize pass (persisted once); duplicated-hash detection is
    * one partial-agg shuffle of 60-bit keys counting DISTINCT docs;
    * coverage expansion re-keys (doc, position) pairs — fixed-width
    * integers; reassembly is one doc-keyed shuffle whose payload is
    * the surviving tokens. Text never shuffles before reassembly.
    */
  def removeDuplicatedSpans(df: DataFrame, id: Column, text: Column, k: Int): DataFrame = {
    require(k >= 2, s"span width must be >= 2 tokens, got $k")
    val toks = df.select(id.cast("bigint").as("doc_id"),
        split(trim(lower(text)), "\\s+").as("toks"))
      .sharedPersist()

    // all span positions (1-based), including within-doc repeats
    val spans = toks
      .filter(size(col("toks")) >= k)
      .select(col("doc_id"), explode(
        transform(sequence(lit(1), size(col("toks")) - (k - 1)),
          p => struct(p.as("p"),
            Dedup.md5Hash60(array_join(slice(col("toks"), p, lit(k)), " ")).as("shash"))))
        .as("sp"))
      .select(col("doc_id"), col("sp.p").as("p"), col("sp.shash").as("shash"))
      .sharedPersist()

    val duplicated = spans.groupBy(col("shash"))
      .agg(countDistinct(col("doc_id")).as("ndocs"))
      .filter(col("ndocs") >= 2)
      .select(col("shash"))

    val covered = spans.join(duplicated, Seq("shash"))
      .select(col("doc_id"), explode(sequence(col("p"), col("p") + (k - 1))).as("cp"))
      .distinct()

    val kept = toks
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("p0", "w")))
      .select(col("doc_id"), (col("p0") + 1).as("cp"), col("w"))
      .join(covered, Seq("doc_id", "cp"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        md5(array_join(transform(array_sort(collect_list(struct(col("cp"), col("w")))),
          s => s.getField("w")), " ")).as("clean_md5"))

    toks.select(col("doc_id"), size(col("toks")).cast("bigint").as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("clean_md5"), lit(md5Empty)).as("clean_md5"))
  }

  private val md5Empty = "d41d8cd98f00b204e9800998ecf8427e" // md5("")

  /** DuckDB twin of [[removeDuplicatedSpans]] over `table(doc_id,
    * text)`; final relation `sremoved`.
    */
  /** @param shards hash-range sharding of the twin's three unbounded
    *        states — the duplicated-hash aggregate (keyed on shash),
    *        the covered-position DISTINCT and the per-doc reassembly
    *        (both doc-keyed) — as unions of `hash % shards`
    *        sub-queries over MATERIALIZED inputs (the
    *        C82/ParagraphDedup device). Each sharded operation is
    *        key-local, so the union is bit-identical and peak memory
    *        is one shard's hash/sort state — what lets the sf10
    *        span-rewrite explode run inside a single-node DuckDB
    *        memory cap (the pre-r13 oracle-capacity exemption).
    *        shards=1 degenerates to the unsharded plan.
    */
  def removeDuplicatedSpansSql(table: String, k: Int, shards: Int = 1): String = {
    require(shards >= 1, "shards must be >= 1")
    def shardPred(key: String, s: Int): String =
      if (shards == 1) "TRUE" else s"hash($key) % $shards = $s"
    val dupUnion = (0 until shards).map { s =>
      s"""SELECT shash FROM srsp WHERE ${shardPred("shash", s)}
         |  GROUP BY shash HAVING count(DISTINCT doc_id) >= 2""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    val covUnion = (0 until shards).map { s =>
      s"""SELECT DISTINCT doc_id, c.cp AS cp
         |  FROM (SELECT * FROM srsp WHERE ${shardPred("doc_id", s)}) sp
         |  JOIN srdup USING (shash), unnest(range(p, p + $k)) AS c(cp)""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    val keptUnion = (0 until shards).map { s =>
      s"""SELECT t.doc_id, count(*) AS n_kept,
         |    md5(string_agg(t.w, ' ' ORDER BY t.cp)) AS clean_md5
         |  FROM (SELECT doc_id, u.i AS cp, toks[u.i] AS w
         |        FROM srt, unnest(range(1, len(toks) + 1)) AS u(i)
         |        WHERE ${shardPred("doc_id", s)}) t
         |  ANTI JOIN srcov c ON t.doc_id = c.doc_id AND t.cp = c.cp
         |  GROUP BY t.doc_id""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    s"""srt AS MATERIALIZED (
       |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
       |  FROM $table),
       |srsp AS MATERIALIZED (
       |  SELECT doc_id, p.i AS p,
       |    ('0x' || substr(md5(array_to_string(list_slice(toks, p.i, p.i + ${k - 1}), ' ')), 1, 15))::BIGINT AS shash
       |  FROM srt, unnest(range(1, len(toks) - ${k - 2})) AS p(i)
       |  WHERE len(toks) >= $k),
       |srdup AS MATERIALIZED (
       |  $dupUnion),
       |srcov AS MATERIALIZED (
       |  $covUnion),
       |srkept AS (
       |  $keptUnion),
       |sremoved AS (
       |  SELECT srt.doc_id, CAST(len(srt.toks) AS BIGINT) AS n_tokens,
       |    CAST(len(srt.toks) - coalesce(k.n_kept, 0) AS BIGINT) AS n_removed,
       |    coalesce(k.clean_md5, '$md5Empty') AS clean_md5
       |  FROM srt LEFT JOIN srkept k USING (doc_id))""".stripMargin
  }
}
