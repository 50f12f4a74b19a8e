package graft.ops

import graft.util.PlanCache.Shareable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Deduplication operators for a 100 TB corpus. All candidate
  * generation is blocked (hash buckets / LSH bands / label blocks) so
  * no stage is ever an O(n²) cross join; shuffle keys are fixed-width
  * hashes, never document bodies.
  */
object Dedup {

  /** Exact dedup: one surviving row (minimum id) per distinct content.
    * Groups on md5(content) + length — a 16-byte shuffle key instead
    * of the document body — then keeps the min id per group.
    * Returns (keep_id, n_copies) per distinct content.
    */
  def exact(df: DataFrame, id: Column, content: Column): DataFrame =
    df.groupBy(md5(content).as("content_key"), length(content).as("content_len"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))

  /** Prefix-duplicate groups: documents sharing their first `k`
    * lowercased whitespace tokens — the cheap instruction-data /
    * template-dup screen between exact dedup (whole body) and
    * MinHash (any-overlap): a template-stamped corpus collapses on
    * the shared opening. Same scale shape as [[exact]]: a 16-byte
    * prefix hash is the only shuffle key. Returns (prefix_md5,
    * n_docs, kept_doc) for groups with more than one document.
    */
  def prefixGroups(df: DataFrame, id: Column, text: Column, k: Int): DataFrame = {
    require(k >= 1)
    df.select(id.cast("bigint").as("doc_id"),
        md5(array_join(slice(split(trim(lower(text)), "\\s+"), 1, k), " ")).as("prefix_md5"))
      .groupBy(col("prefix_md5"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("kept_doc"))
      .filter(col("n_docs") > 1)
  }

  /** Surviving rows after exact dedup (left-semi back-join keeps the
    * plan free of wide-row shuffles).
    */
  def exactRows(df: DataFrame, id: Column, content: Column): DataFrame =
    df.join(exact(df, id, content).select(col("keep_id")),
      id === col("keep_id"), "left_semi")

  /** Canonical text form for near-exact dedup: lowercase, strip
    * everything outside [a-z0-9 whitespace], collapse whitespace runs,
    * trim. Kills the punctuation/casing/spacing jitter that defeats
    * whole-body hashing (the CCNet/MassiveText "normalized exact"
    * step between [[exact]] and MinHash).
    *
    * Backed by the [[graft.plans.CanonicalTextExpr]] codegen kernel:
    * the equivalent two-regexp_replace composition is java-regex
    * bound at ~9 MB/s/thread and was 98% of q_normalized_dedup's
    * sf10 wall time (26 of 27 s); the kernel's single byte scan
    * removes it (parity spec: CanonicalTextExprSpec).
    */
  def normalizedForm(text: Column): Column =
    graft.plans.CanonicalTextExprOps.canonical(text)

  /** Normalized exact dedup: group on the md5 of [[normalizedForm]],
    * keep the min id. Same scale shape as [[exact]] — the 16-byte key
    * is the only shuffle, normalization is a zero-shuffle narrow map
    * inside codegen. `n_raw_variants` counts distinct RAW bodies per
    * group: > 1 is precisely what plain exact dedup missed.
    */
  def normalizedExact(df: DataFrame, id: Column, text: Column): DataFrame =
    df.groupBy(md5(normalizedForm(text)).as("norm_key"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("n_copies"),
        countDistinct(md5(text)).as("n_raw_variants"))
      .select(col("keep_id"), col("n_copies"), col("n_raw_variants"))

  /** MinHash + LSH near-duplicate pairs.
    *
    * shingle(k) → H minhashes (xxhash64 with per-function salt) →
    * B bands of R rows hashed to a band key → self-join on
    * (band, bandKey) for candidates → exact shingle-Jaccard verify.
    * Shuffles O(B·n) tiny (doc_id, bandKey) rows; only candidate
    * pairs ever see the shingle sets.
    *
    * Returns (id_a, id_b, jaccard) with id_a < id_b and
    * jaccard >= threshold.
    */
  def minHashLsh(
      df: DataFrame,
      id: Column,
      text: Column,
      shingleK: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.7): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    // Single pass over the shingle array: per shingle emit all H
    // hashes, fold elementwise-min into the signature.
    val sig = aggregate(
      col("shingles"),
      array_repeat(lit(Long.MaxValue), numHashes),
      (acc, s) => zip_with(
        acc,
        array((0 until numHashes).map(i => xxhash64(concat(s, lit(s"#$i")))): _*),
        (a, b) => least(a, b)))
    lshCore(shingled(df, id, text, shingleK), sig, bands, numHashes / bands,
      slice => xxhash64(slice), threshold)
  }

  /** Oracle-portable MinHash+LSH: identical pipeline shape to
    * [[minHashLsh]] but with a hash family any ANSI engine can
    * reproduce exactly — base = first 60 bits of md5(shingle) mod
    * p=2^31-1 (one md5 per shingle), then numHashes affine maps
    * (a_i·base + b_i) mod p whose products stay within int64.
    * Band key is md5 over the comma-joined minhash slice. Same
    * shuffle shape as the xxhash64 path; used by the oracled query
    * so DuckDB can hash-match the full pipeline end to end.
    */
  def minHashLshMd5(
      df: DataFrame,
      id: Column,
      text: Column,
      shingleK: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.7): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    lshCore(shingled(df, id, text, shingleK),
      graft.plans.MinHashMd5Expr.minhashSig(col("shingles"), numHashes),
      bands, numHashes / bands,
      slice => md5(concat_ws(",", transform(slice, _.cast("string")))), threshold)
  }

  /** One-permutation MinHash + LSH (C85): the hash-CPU scale path —
    * ONE md5 per shingle instead of numHashes affine maps, bins +
    * rotation densification ([[graft.plans.OphMinHashExpr]]), then
    * the SAME band→bucket-join→exact-jaccard-verify pipeline as
    * [[minHashLshMd5]]. Verified pairs are true ≥-threshold pairs by
    * construction (the verify is exact); only candidate RECALL
    * differs from the classic signature, and the estimator stays
    * unbiased. Identical shuffle shape: bands × docs fixed-width
    * rows, never text.
    */
  def ophMinHashLsh(
      df: DataFrame,
      id: Column,
      text: Column,
      shingleK: Int = 3,
      numBins: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.7): DataFrame = {
    require(numBins % bands == 0, "numBins must be divisible by bands")
    lshCore(shingled(df, id, text, shingleK),
      graft.plans.OphMinHashExpr.signature(col("shingles"), numBins),
      bands, numBins / bands,
      slice => md5(concat_ws(",", transform(slice, _.cast("string")))), threshold)
  }

  /** The portable MinHash signature via interpreted HOFs — the
    * verification baseline for [[graft.plans.MinHashMd5Expr]].
    */
  def minHashMd5SignatureHof(shingles: Column, numHashes: Int): Column = {
    val p = graft.plans.MinHashOps.P
    aggregate(
      transform(shingles, s => md5Hash60(s) % p),
      array_repeat(lit(Long.MaxValue), numHashes),
      (acc, h) => zip_with(
        acc,
        array((0 until numHashes).map(i =>
          (lit(graft.plans.MinHashOps.affineA(i)) * h + lit(graft.plans.MinHashOps.affineB(i))) % p): _*),
        (a, b) => least(a, b)))
  }

  /** Choose (bands, rows) for an LSH hash budget so the S-curve
    * P(candidate | jaccard=s) = 1 - (1 - s^r)^b crosses probability
    * 0.5 as close as possible to the target jaccard threshold. The
    * crossing point is s50 = (1 - 0.5^(1/b))^(1/r); all (b, r) with
    * b·r <= hashBudget are considered (a pair using fewer hashes than
    * the budget is allowed — granularity beats waste), ties prefer
    * more hashes (a tighter curve).
    */
  def tuneBanding(hashBudget: Int, threshold: Double): (Int, Int) = {
    require(hashBudget >= 1 && threshold > 0 && threshold < 1)
    val candidates = for {
      b <- 1 to hashBudget
      r <- 1 to hashBudget / b
    } yield {
      val s50 = math.pow(1.0 - math.pow(0.5, 1.0 / b), 1.0 / r)
      (b, r, math.abs(s50 - threshold))
    }
    val (b, r, _) = candidates.minBy { case (b, r, d) => (d, -(b * r)) }
    (b, r)
  }

  /** The S-curve crossing point of a banding choice (where a pair at
    * this jaccard has a 50% chance of becoming a candidate).
    */
  def bandingCrossover(bands: Int, rows: Int): Double =
    math.pow(1.0 - math.pow(0.5, 1.0 / bands), 1.0 / rows)

  /** MinHash-LSH with banding derived from the target threshold via
    * [[tuneBanding]] instead of a hand-set (bands, rows).
    */
  def minHashLshAuto(
      df: DataFrame,
      id: Column,
      text: Column,
      threshold: Double,
      shingleK: Int = 3,
      hashBudget: Int = 16): DataFrame = {
    val (b, r) = tuneBanding(hashBudget, threshold)
    minHashLsh(df, id, text, shingleK, numHashes = b * r, bands = b, threshold = threshold)
  }

  private[ops] def shingled(df: DataFrame, id: Column, text: Column, shingleK: Int): DataFrame =
    // Shingle sets are referenced by the signature pass and twice by
    // the verify join; signatures feed both sides of the band
    // self-join. Persist both — otherwise projection collapse inlines
    // the whole shingle+hash pipeline into every reference and the
    // work runs 4-8x. (At corpus scale: write the signature table out
    // and bucket it instead — see SURVEY.md §5.)
    df.select(id.cast("bigint").as("doc_id"),
        TextAnalysis.wordShingles(text, shingleK).as("shingles"))
      .sharedPersist()

  /** Shared LSH candidate plumbing: signature → banded keys →
    * bucket self-join → exact Jaccard verify on candidates only.
    */
  private def lshCore(
      docs: DataFrame,
      sig: Column,
      bands: Int,
      rows: Int,
      bandKeyOf: Column => Column,
      threshold: Double): DataFrame =
    verifyJaccard(lshCandidatePairs(docs, sig, bands, rows, bandKeyOf), docs, threshold)

  /** The banding candidate stage alone: distinct (id_a < id_b) pairs
    * sharing at least one band bucket — BEFORE the exact-Jaccard
    * verify. Exposed so dedup-quality evaluation (C91) can measure
    * the banding's candidate recall/precision against a ground-truth
    * pair set.
    */
  private def lshCandidatePairs(
      docs: DataFrame,
      sig: Column,
      bands: Int,
      rows: Int,
      bandKeyOf: Column => Column): DataFrame = {
    val sigDf = docs.withColumn("sig", sig)
    val banded = sigDf.select(col("doc_id"), explode(array(
      (0 until bands).map { b =>
        struct(lit(b).as("band"), bandKeyOf(slice(col("sig"), b * rows + 1, rows)).as("band_key"))
      }: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.band_key").as("band_key"))
      .sharedPersist()

    banded.alias("x")
      .join(banded.alias("y"),
        col("x.band") === col("y.band") && col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
  }

  /** OPH-MinHash banding candidates (the pre-verify pair set of
    * [[ophMinHashLsh]]): (id_a, id_b).
    */
  def ophCandidates(
      df: DataFrame,
      id: Column,
      text: Column,
      shingleK: Int = 3,
      numBins: Int = 16,
      bands: Int = 4): DataFrame = {
    require(numBins % bands == 0, "numBins must be divisible by bands")
    lshCandidatePairs(shingled(df, id, text, shingleK),
      graft.plans.OphMinHashExpr.signature(col("shingles"), numBins),
      bands, numBins / bands,
      slice => md5(concat_ws(",", transform(slice, _.cast("string")))))
  }

  /** First 60 bits of md5 as a non-negative bigint — the
    * engine-portable base hash (DuckDB: ('0x'||substr(md5(x),1,15))::BIGINT).
    */
  def md5Hash60(c: Column): Column =
    graft.plans.Md5Hash60Expr.hash60(c)

  /** The composed form the kernel replaces — the parity baseline. */
  def md5Hash60Composed(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("bigint")

  /** Exact word-k-gram Jaccard over candidate pairs (the verify stage
    * of MinHash-LSH, or standalone with an explicit blocking column).
    */
  private def verifyJaccard(candidates: DataFrame, docs: DataFrame, threshold: Double): DataFrame = {
    val a = docs.select(col("doc_id").as("id_a"), col("shingles").as("sh_a"))
    val b = docs.select(col("doc_id").as("id_b"), col("shingles").as("sh_b"))
    candidates.join(a, "id_a").join(b, "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** N-gram Jaccard similarity pairs within a blocking key (e.g.
    * source, language, or an LSH bucket) — never unblocked.
    */
  def ngramJaccard(
      df: DataFrame,
      id: Column,
      text: Column,
      blockBy: Column,
      shingleK: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val docs = df.select(id.cast("bigint").as("doc_id"), blockBy.as("block"),
        TextAnalysis.wordShingles(text, shingleK).as("shingles"))
      .sharedPersist()
    val candidates = docs.select(col("doc_id").as("id_a"), col("block"))
      .join(docs.select(col("doc_id").as("id_b"), col("block")), "block")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    verifyJaccard(candidates, docs.drop("block"), threshold)
  }

  /** Containment pairs: how much of the SMALLER document's shingle set
    * lives inside the other's — `|A ∩ B| / min(|A|, |B|)` — the
    * sub-document signal Jaccard structurally cannot see (a page
    * quoted whole inside a 100× larger page has Jaccard ≈ 0.01 but
    * containment 1.0; Lee et al.'s substring-dup motivation).
    *
    * Candidates come from RARE-shingle anchoring: only shingles whose
    * document frequency is in [2, maxDf] pair up documents, so the
    * candidate fan-out per shingle is ≤ maxDf² and boilerplate
    * shingles (df > maxDf) never explode into pairs — the blocking is
    * df-bounded by construction, no LSH fit needed. Pairs missed by
    * anchoring are exactly those sharing ONLY boilerplate-frequency
    * shingles, which the boilerplate/dup-span operators own.
    *
    * Shuffle shape: per-doc distinct hash arrays are built in-row
    * ([[Postings.hashSets]]) so per-doc dedup costs zero shuffle; the
    * anchor stage ([[Postings.anchorPairs]]) is one exchange on
    * fixed-width (hash, id) rows; the exact verify moves
    * candidate-bounded rows + their two arrays and intersects in a
    * narrow codegen map. Text never shuffles. Returns
    * (id_a, id_b, n_common, size_a, size_b, containment) with
    * id_a < id_b, containment >= threshold.
    */
  def containment(
      df: DataFrame,
      id: Column,
      text: Column,
      shingleK: Int = 3,
      maxDf: Int = 10,
      threshold: Double = 0.8): DataFrame = {
    // per-doc sets: read by the anchor stage and both verify sides
    val arrays = Postings.hashSets(df, id, text, shingleK).sharedPersist()
    val candidates = Postings.anchorPairs(
        arrays.select(col("doc_id"), explode(col("hs")).as("h")), maxDf)
      .distinct()

    // pair STATS are threshold-independent — persist them, make the
    // threshold a filter on top: re-querying at another threshold (or
    // a repeat run over the same corpus) reuses the verified stats
    // instead of re-walking anchor+verify. Bounded by the candidate
    // count (anchor-df-bounded), MEMORY_AND_DISK via sharedPersist.
    val pairStats = candidates
      .join(arrays.select(col("doc_id").as("id_a"), col("hs").as("hs_a"), col("sz").as("size_a")), "id_a")
      .join(arrays.select(col("doc_id").as("id_b"), col("hs").as("hs_b"), col("sz").as("size_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("bigint").as("n_common"),
        col("size_a"), col("size_b"))
      .withColumn("containment",
        col("n_common").cast("double") / least(col("size_a"), col("size_b")).cast("double"))
      .sharedPersist()
    pairStats
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("n_common"),
        col("size_a"), col("size_b"), col("containment"))
  }

  /** SimHash near-duplicate pairs: 64-bit signature from token hashes
    * (per-bit vote), candidates via 4×16-bit chunk equality
    * (pigeonhole: hamming<=3 pairs share a chunk), verified by exact
    * hamming distance. One explode + one hash-agg + one narrow join.
    */
  def simHash(
      df: DataFrame,
      id: Column,
      text: Column,
      maxHamming: Int = 3): DataFrame =
    hammingPairs(simHashSignatures(df, id, text), chunkBits = 16, maxHamming = maxHamming)

  /** Oracle-portable SimHash: same chunk/candidate/verify pipeline as
    * [[simHash]] but over a 60-bit signature whose per-token hash is
    * the first 60 bits of md5 — reproducible in any ANSI engine, so
    * the oracled query hash-matches end to end. 4×15-bit chunks keep
    * the pigeonhole guarantee for maxHamming <= 3.
    */
  def simHashMd5(
      df: DataFrame,
      id: Column,
      text: Column,
      maxHamming: Int = 3): DataFrame =
    hammingPairs(
      df.select(id.cast("bigint").as("doc_id"),
        graft.plans.SimHashMd5Expr.simhash60(text).as("simhash")),
      chunkBits = 15, maxHamming = maxHamming)

  /** The portable signature via the generic agg formulation — the
    * verification baseline for [[graft.plans.SimHashMd5Expr]].
    */
  def simHashMd5SignaturesAgg(df: DataFrame, id: Column, text: Column): DataFrame =
    simHashSignaturesAgg(df, id, text, bits = 60, tokenHash = md5Hash60)

  /** Chunk-pigeonhole candidate generation + exact hamming verify
    * over a (doc_id, simhash) signature table: 4 chunks of
    * `chunkBits`, candidates share a chunk value (any pair with
    * hamming <= 3 must), verified by bit_count(xor).
    */
  private[ops] def hammingPairs(sigTable: DataFrame, chunkBits: Int, maxHamming: Int): DataFrame = {
    val sigs = sigTable.sharedPersist()
    val mask = (1L << chunkBits) - 1
    val chunks = sigs.select(col("doc_id"), col("simhash"), explode(array(
      (0 until 4).map { c =>
        struct(lit(c).as("chunk"),
          shiftrightunsigned(col("simhash"), c * chunkBits).bitwiseAND(lit(mask)).as("chunk_val"))
      }: _*)).as("cc"))
      .select(col("doc_id"), col("simhash"), col("cc.chunk").as("chunk"), col("cc.chunk_val").as("chunk_val"))

    chunks.alias("x").join(chunks.alias("y"),
        col("x.chunk") === col("y.chunk") && col("x.chunk_val") === col("y.chunk_val") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).cast("bigint").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** 64-bit SimHash signature per document — a single narrow map via
    * the native [[graft.plans.SimHashExpr]] kernel (no token explode,
    * no shuffle).
    */
  def simHashSignatures(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.cast("bigint").as("doc_id"),
      graft.plans.SimHashExpr.simhash(text).as("simhash"))

  /** Aggregation formulation of the signature (explode tokens →
    * per-bit vote sums → bit assembly) — the semantic baseline the
    * native kernel is verified against (defaults), and with
    * `tokenHash = md5Hash60, bits = 60` the portable signature behind
    * [[simHashMd5]]. Codegen-friendly: one hash per token row, then
    * `bits` conditional sums in a single hash aggregate.
    */
  def simHashSignaturesAgg(
      df: DataFrame,
      id: Column,
      text: Column,
      bits: Int = 64,
      tokenHash: Column => Column = c => xxhash64(c)): DataFrame = {
    // Per-bit set-counts packed 3-to-a-long in 21-bit lanes: a third
    // of the aggregate buffer columns of one-sum-per-bit, keeping the
    // whole aggregate inside codegen limits. Safe for docs up to 2^20
    // tokens (count per lane < 2^21; per-row pack < 2^43, summed
    // < 2^63).
    val Lanes = 3
    val LaneBits = 21
    val laneMask = (1L << LaneBits) - 1
    val nPacks = (bits + Lanes - 1) / Lanes
    val toks = df.select(id.cast("bigint").as("doc_id"),
        explode(split(trim(lower(text)), "\\s+")).as("tok"))
      .withColumn("h", tokenHash(col("tok")))
    val packCols = (0 until nPacks).map { g =>
      val perRow = (0 until Lanes)
        .filter(j => g * Lanes + j < bits)
        .map(j => shiftleft(
          shiftrightunsigned(col("h"), g * Lanes + j).bitwiseAND(lit(1L)), j * LaneBits))
        .reduce((a, b) => a + b)
      sum(perRow).as(s"p$g")
    }
    val aggCols = packCols :+ count(lit(1)).as("n_toks")
    val votes = toks.groupBy(col("doc_id")).agg(aggCols.head, aggCols.tail: _*)
    // bit i is set when strictly more tokens have it set than unset:
    // 2 * count_set > n.
    votes.select(col("doc_id"),
      (0 until bits).map { i =>
        val setCount = shiftrightunsigned(col(s"p${i / Lanes}"), (i % Lanes) * LaneBits)
          .bitwiseAND(lit(laneMask))
        when(setCount * 2 > col("n_toks"), shiftleft(lit(1L), i)).otherwise(lit(0L))
      }.reduce((a, b) => a.bitwiseOR(b)).as("simhash"))
  }

  /** Embedding-cosine near-duplicate pairs, blocked by a coarse
    * partition key (quantization cell / cluster label) so the pair
    * join never crosses blocks.
    */
  def embeddingCosine(
      df: DataFrame,
      id: Column,
      vec: Column,
      blockBy: Column,
      threshold: Double): DataFrame = {
    // cast to array<double> BEFORE the self-join: the cosine kernel
    // takes doubles, and a per-pair cast would allocate+convert both
    // vectors for every one of the |block|² candidate pairs instead
    // of once per row (measured 4× on the 10× bench SF)
    val v = df.select(id.cast("bigint").as("vec_id"), blockBy.as("block"),
      vec.cast("array<double>").as("v"))
    val a = v.select(col("vec_id").as("id_a"), col("block"), col("v").as("v_a"))
    val b = v.select(col("vec_id").as("id_b"), col("block"), col("v").as("v_b"))
    a.join(b, "block")
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos_sim", VectorFunctions.cosineSimilarity(col("v_a"), col("v_b")))
      .filter(col("cos_sim") > threshold)
      .select(col("id_a"), col("id_b"), col("cos_sim"))
  }
}
