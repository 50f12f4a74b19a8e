package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.PlanCache
import graft.util.PlanCache.Shareable

/** Distributed BPE tokenizer training (C75): learn the first `n`
  * merge rules over a corpus — the full iterative loop whose single
  * inner statistic [[BpePairs]] (C40) scores. Classic Sennrich BPE on
  * the word-frequency table: count adjacent symbol pairs weighted by
  * word frequency, merge the best pair everywhere (greedy
  * left-to-right, non-overlapping), repeat.
  *
  * Representation: a word's symbol sequence is ONE string with every
  * symbol wrapped in U+001F unit separators — "abc" →
  * `␟a␟␟b␟␟c␟`. Under this encoding applying a merge (l, r) IS the
  * plain literal `replace(rep, "␟l␟␟r␟", "␟lr␟")`: each token's
  * wrapper participates in at most one match, so non-overlapping
  * left-to-right replacement reproduces exactly BPE's greedy merge
  * order (e.g. `aaa` + (a,a) → `aa,a`), and both Spark's
  * `StringReplace` and DuckDB's `replace` share those semantics —
  * which is what keeps the unrolled-CTE oracle (the C7b device)
  * byte-exact.
  *
  * Scale shape, 100 TB framing:
  *  - the corpus collapses ONCE to the (word, count) frequency table
  *    (orders of magnitude smaller than the token stream at any real
  *    scale); every iteration runs on that persisted table;
  *  - per iteration: pair explode + one partial-agg shuffle on the
  *    (left, right) key, a 1-row TakeOrdered decision collected to
  *    the driver (the bounded-collect pattern of IvfIndex's Lloyd's
  *    loop), and a zero-shuffle narrow `replace` map;
  *  - lineage is localCheckpoint-truncated every few merges
  *    (the PageRank/DupClusters device), so plan size stays constant
  *    in `n`.
  */
object BpeTrain {

  final val Sep = "\u001f"

  /** Learn `nMerges` merge rules: (merge_rank, lhs, rhs, n_total)
    * ordered by rank; n_total is the merged pair's weighted count at
    * the time it won. Ties break (count desc, lhs asc, rhs asc).
    * Stops early when no pair remains.
    */
  def learnMerges(df: DataFrame, text: Column, nMerges: Int): DataFrame =
    fit(df, text, nMerges)._1

  /** Training core: returns (merge table, final encoded vocabulary
    * `(word, wc, rep)` after all merges applied). The vocabulary is
    * what [[encode]] joins documents against — BPE application needs
    * no replay of the merge sequence, because the training loop has
    * already encoded every corpus word.
    */
  def fit(df: DataFrame, text: Column, nMerges: Int): (DataFrame, DataFrame) = {
    require(nMerges >= 1, s"need at least one merge, got $nMerges")
    // memo key: the canonicalized TEXT-STREAM plan + merge budget —
    // q_bpe_train, q_bpe_encode and q_bpe_fertility all train the
    // same tokenizer over the same corpus, and the r12 bench paid
    // the full iterative fit (word-count scan + nMerges driver-round
    // jobs) once per query per pass. Same contract as AnnQueries'
    // arms memo: fixture tables are immutable for a session's
    // lifetime; a caller over a mutating corpus gets a new plan
    // identity and therefore a fresh fit.
    val probe = df.select(text.cast("string").as("t"))
    PlanCache.memo(df.sparkSession,
      ("bpe", probe.schema, probe.queryExecution.analyzed.canonicalized, nMerges))(
      fitUncached(df, text, nMerges))
  }

  private def fitUncached(df: DataFrame, text: Column,
      nMerges: Int): (DataFrame, DataFrame) = {
    val spark = df.sparkSession
    import spark.implicits._

    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    val vocab = PlanCache.scoped(df
      .select(explode(split(trim(lower(text)), "\\s+")).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy(col("word")).agg(count(lit(1)).as("wc"))
      .select(col("word"), col("wc"),
        regexp_replace(col("word"), "(.)", s"$Sep$$1$Sep").as("rep"))) { base =>
      base.count()
      var words = base
      var rank = 1
      var exhausted = false
      var prevCk: DataFrame = null
      while (rank <= nMerges && !exhausted) {
        val toks = words.select(col("wc"),
          split(trim(col("rep"), Sep), s"$Sep$Sep").as("toks"))
          // fully-merged single-symbol words carry no pairs — and MUST
          // drop before the index sequence: Spark's sequence(1, 0) is
          // DESCENDING [1, 0], not empty (DuckDB's range(1, 1) is)
          .filter(size(col("toks")) >= 2)
        val best = toks
          .select(col("wc"), explode(transform(
            sequence(lit(1), size(col("toks")) - 1),
            i => struct(element_at(col("toks"), i).as("lhs"),
              element_at(col("toks"), i + 1).as("rhs")))).as("p"))
          .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
          .agg(sum(col("wc")).as("n_total"))
          .orderBy(col("n_total").desc, col("lhs"), col("rhs"))
          .limit(1) // TakeOrderedAndProject: a 1-row driver decision
          .collect()
        if (best.isEmpty) exhausted = true
        else {
          val (l, r, n) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
          merges += ((rank, l, r, n))
          words = words
            .withColumn("rep", call_function("replace", col("rep"),
              lit(s"$Sep$l$Sep$Sep$r$Sep"), lit(s"$Sep$l$r$Sep")))
          if (rank % 4 == 0) {
            // eager checkpoint: once materialized, the previous
            // checkpoint is dead weight
            words = words.localCheckpoint()
            if (prevCk != null) PlanCache.free(prevCk)
            prevCk = words
          }
          rank += 1
        }
      }
      // pin the encoded vocabulary; the training base releases with
      // the scope
      val vocab = words.sharedCheckpoint()
      if (prevCk != null) PlanCache.free(prevCk)
      vocab
    }
    val mergesDf = merges.toSeq.toDF("merge_rank", "lhs", "rhs", "n_total")
      .select(col("merge_rank").cast("bigint").as("merge_rank"),
        col("lhs"), col("rhs"), col("n_total"))
    (mergesDf, vocab)
  }

  /** Tokenizer APPLICATION — encode every document under the
    * vocabulary trained by [[fit]] on this corpus: (doc_id, n_words,
    * n_bpe_tokens). The token count per word reads straight off the
    * separator-wrapped representation (`(len − len-without-seps)/2`),
    * and words too short to train (length < 2) encode as one token.
    *
    * Scale shape: application is NOT a per-document merge replay —
    * the (word, rep) vocabulary (orders of magnitude smaller than the
    * token stream) carries the encoding, documents explode to words
    * once and join the vocabulary on the word key (AQE broadcasts it
    * while it fits; hash the key at 100 TB), and one doc-keyed
    * partial-agg shuffle sums the counts.
    */
  def encode(df: DataFrame, id: Column, text: Column, nMerges: Int): DataFrame = {
    val (_, vocab) = fit(df, text, nMerges)
    val docWords = df.select(id.cast("bigint").as("doc_id"),
      explode(split(trim(lower(text)), "\\s+")).as("word"))
    docWords
      .join(vocab.select(col("word"), col("rep")), Seq("word"), "left")
      .select(col("doc_id"),
        when(col("rep").isNull, lit(1L))
          .otherwise(((length(col("rep")) -
            length(call_function("replace", col("rep"), lit(Sep), lit("")))) / 2)
            .cast("bigint")).as("ntok"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("ntok")).as("n_bpe_tokens"))
  }

  /** Tokenizer fertility statistics per group (language, source):
    * how EFFICIENTLY the trained vocabulary encodes each slice of the
    * corpus — fertility (BPE tokens per whitespace word) and
    * compression (characters per BPE token). The canonical tokenizer
    * health check: a vocabulary trained lopsidedly makes some
    * languages pay 2-3× the tokens per word, which silently
    * re-weights the training mixture and burns context length.
    *
    * (group, n_docs, n_words, n_bpe_tokens, n_chars, fertility_milli,
    * chars_per_token_milli): milli ratios floor-derived from exact
    * integer sums — engine-portable. One extra doc-keyed join and a
    * |groups| partial agg on top of [[encode]]'s shape.
    */
  def fertility(df: DataFrame, id: Column, text: Column,
      group: Column, nMerges: Int): DataFrame = {
    val enc = encode(df, id, text, nMerges)
    val meta = df.select(id.cast("bigint").as("doc_id"), group.as("grp"),
      length(text).cast("bigint").as("doc_chars"))
    enc.join(meta, Seq("doc_id"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("n_words"),
        sum(col("n_bpe_tokens")).as("n_bpe_tokens"),
        sum(col("doc_chars")).as("n_chars"))
      .select(col("grp").as("group"), col("n_docs"), col("n_words"),
        col("n_bpe_tokens"), col("n_chars"),
        when(col("n_words") > 0,
          floor(lit(1000.0) * col("n_bpe_tokens") / col("n_words")).cast("bigint"))
          .as("fertility_milli"),
        when(col("n_bpe_tokens") > 0,
          floor(lit(1000.0) * col("n_chars") / col("n_bpe_tokens")).cast("bigint"))
          .as("chars_per_token_milli"))
  }

  /** DuckDB twin of [[fertility]] over `table(doc_id, text)` with
    * group column `groupCol`; composes with [[encodeSql]]'s `bpenc`;
    * final relation `bfert`.
    */
  def fertilitySql(table: String, groupCol: String, nMerges: Int): String =
    s"""${encodeSql(table, nMerges)},
       |bmeta AS (SELECT doc_id, $groupCol AS grp,
       |            CAST(length(text) AS BIGINT) AS doc_chars
       |          FROM $table),
       |bfert AS (
       |  SELECT m.grp AS "group", count(*) AS n_docs,
       |    CAST(sum(e.n_words) AS BIGINT) AS n_words,
       |    CAST(sum(e.n_bpe_tokens) AS BIGINT) AS n_bpe_tokens,
       |    CAST(sum(m.doc_chars) AS BIGINT) AS n_chars,
       |    CASE WHEN sum(e.n_words) > 0 THEN
       |      CAST(floor(1000.0 * sum(e.n_bpe_tokens) / sum(e.n_words)) AS BIGINT)
       |    END AS fertility_milli,
       |    CASE WHEN sum(e.n_bpe_tokens) > 0 THEN
       |      CAST(floor(1000.0 * sum(m.doc_chars) / sum(e.n_bpe_tokens)) AS BIGINT)
       |    END AS chars_per_token_milli
       |  FROM bpenc e JOIN bmeta m USING (doc_id)
       |  GROUP BY m.grp)""".stripMargin

  /** DuckDB twin of [[learnMerges]] over `table(text)`, unrolled for
    * exactly `nMerges` rounds (the q_ann_ivf unrolled-CTE device).
    */
  def learnMergesSql(table: String, nMerges: Int): String = {
    val sep = "chr(31)"
    def pairsCte(rep: String, i: Int): String =
      s"""p$i AS (
         |  SELECT t.lhs, t.rhs, CAST(SUM(wc) AS BIGINT) AS n_total
         |  FROM (
         |    SELECT wc,
         |      toks[CAST(g.i AS INT)] AS lhs,
         |      toks[CAST(g.i AS INT) + 1] AS rhs
         |    FROM (SELECT wc, string_split(trim(rep, $sep), $sep || $sep) AS toks FROM $rep),
         |    unnest(range(1, len(toks))) AS g(i)) t
         |  GROUP BY t.lhs, t.rhs),
         |b$i AS (SELECT lhs, rhs, n_total FROM p$i
         |        ORDER BY n_total DESC, lhs, rhs LIMIT 1)""".stripMargin
    def mergeCte(prev: String, i: Int): String =
      s"""r$i AS (
         |  SELECT wc, replace(rep, $sep || b$i.lhs || $sep || $sep || b$i.rhs || $sep,
         |    $sep || b$i.lhs || b$i.rhs || $sep) AS rep
         |  FROM $prev, b$i)""".stripMargin
    val rounds = (1 to nMerges).map { i =>
      val rep = if (i == 1) "r0" else s"r${i - 1}"
      pairsCte(rep, i) + (if (i < nMerges) ",\n" + mergeCte(rep, i) else "")
    }.mkString(",\n")
    val union = (1 to nMerges)
      .map(i => s"SELECT $i AS merge_rank, lhs, rhs, n_total FROM b$i")
      .mkString("\nUNION ALL\n")
    s"""WITH w AS (
       |  SELECT u.word AS word, count(*) AS wc
       |  FROM $table, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS u(word)
       |  WHERE len(u.word) >= 2
       |  GROUP BY u.word),
       |r0 AS (SELECT wc,
       |         regexp_replace(word, '(.)', $sep || '\\1' || $sep, 'g') AS rep
       |       FROM w),
       |$rounds
       |SELECT CAST(merge_rank AS BIGINT) AS merge_rank, lhs, rhs, n_total
       |FROM ($union)
       |ORDER BY merge_rank""".stripMargin
  }

  /** DuckDB twin of [[encode]] over `table(doc_id, text)`, unrolled
    * for exactly `nMerges` rounds (merge exhaustion before round n is
    * the caller's responsibility, as in [[learnMergesSql]]); final
    * relation `bpenc(doc_id, n_words, n_bpe_tokens)`.
    */
  def encodeSql(table: String, nMerges: Int): String = {
    val sep = "chr(31)"
    def pairsCte(rep: String, i: Int): String =
      s"""ep$i AS (
         |  SELECT t.lhs, t.rhs, CAST(SUM(wc) AS BIGINT) AS n_total
         |  FROM (
         |    SELECT wc,
         |      toks[CAST(g.i AS INT)] AS lhs,
         |      toks[CAST(g.i AS INT) + 1] AS rhs
         |    FROM (SELECT wc, string_split(trim(rep, $sep), $sep || $sep) AS toks FROM $rep),
         |    unnest(range(1, len(toks))) AS g(i)) t
         |  GROUP BY t.lhs, t.rhs),
         |eb$i AS (SELECT lhs, rhs FROM ep$i
         |         ORDER BY n_total DESC, lhs, rhs LIMIT 1)""".stripMargin
    def mergeCte(prev: String, i: Int): String =
      s"""er$i AS (
         |  SELECT word, wc, replace(rep, $sep || eb$i.lhs || $sep || $sep || eb$i.rhs || $sep,
         |    $sep || eb$i.lhs || eb$i.rhs || $sep) AS rep
         |  FROM $prev, eb$i)""".stripMargin
    val rounds = (1 to nMerges).map { i =>
      val rep = if (i == 1) "er0" else s"er${i - 1}"
      pairsCte(rep, i) + ",\n" + mergeCte(rep, i)
    }.mkString(",\n")
    s"""ew AS (
       |  SELECT u.word AS word, count(*) AS wc
       |  FROM $table, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS u(word)
       |  WHERE len(u.word) >= 2
       |  GROUP BY u.word),
       |er0 AS (SELECT word, wc,
       |          regexp_replace(word, '(.)', $sep || '\\1' || $sep, 'g') AS rep
       |        FROM ew),
       |$rounds,
       |edocw AS (
       |  SELECT doc_id, u.word AS word
       |  FROM $table, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS u(word)),
       |bpenc AS (
       |  SELECT d.doc_id, count(*) AS n_words,
       |    CAST(sum(CASE WHEN r.rep IS NULL THEN 1
       |      ELSE (len(r.rep) - len(replace(r.rep, $sep, ''))) // 2 END) AS BIGINT)
       |      AS n_bpe_tokens
       |  FROM edocw d LEFT JOIN er$nMerges r ON d.word = r.word
       |  GROUP BY d.doc_id)""".stripMargin
  }
}
