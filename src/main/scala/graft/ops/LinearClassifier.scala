package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.PlanCache

/** Distributed linear-classifier TRAINING on hashed bag-of-words
  * features — the missing half of the quality-classifier story (C41
  * scores documents under a FIXED model; production pipelines also
  * have to FIT that model on labeled seed sets: "wikipedia-like vs
  * random crawl" quality filters, language gates, domain routers).
  *
  * The trainer is the batch perceptron: per epoch, every currently
  * misclassified document contributes `y·x` to the weight update —
  * `w ← w + Σ_mis y·cnt_b`, `b ← b + Σ_mis y`. All-integer
  * arithmetic (counts are integers, labels ±1), so training is
  * bit-exact on any engine and any partitioning — no learning rate,
  * no float accumulation order, no RNG. Model quality is the usual
  * linear-classifier story; what matters here is the distributed
  * shape and the exactness.
  *
  * Scale shape (the MLlib-KMeans/BpeTrain pattern): the model is
  * driver-bounded state (`dim` longs — 8 MB at dim=1M), shipped into
  * each epoch as an array literal (broadcast-sized, codegen'd
  * element_at lookups, never a join). Per epoch exactly two
  * data-sized exchanges, both fixed-width and partial-aggregated:
  * (1) margins — one (doc,label)-keyed sum of `w[bucket]·cnt`;
  * (2) gradient — a semi-join of the sparse features against the
  * misclassified-doc set (AQE broadcasts it as the model converges
  * — the set SHRINKS every epoch on separable data), then a
  * `bucket`-keyed partial agg collapsing to ≤ dim rows. Features
  * tokenize/hash ONCE and persist; epochs never touch text.
  * Documents with no tokens have no feature rows and are excluded
  * from the fit on both engines (margin would be bias-only noise).
  */
object LinearClassifier {

  /** Fitted model + per-epoch misclassification counts (the training
    * curve; mistakes(t) is the update size applied at epoch t).
    */
  final case class PerceptronModel(weights: Array[Long], bias: Long, mistakes: Seq[Long]) {
    def weightRows: Seq[(Int, Long)] =
      weights.toSeq.zipWithIndex.collect { case (w, b) if w != 0L => (b, w) }
  }

  /** Fit on sparse hashed features joined with labels.
    *
    * @param features (doc_id: bigint, bucket: bigint, cnt: bigint) —
    *                 [[Features.hashedBow]] output
    * @param labels   (doc_id: bigint, y: int ∈ {-1, +1})
    * @param dim      feature dimension (buckets in [0, dim))
    * @param epochs   fixed epoch count (determinism over early-stop)
    */
  def fitPerceptron(features: DataFrame, labels: DataFrame, dim: Int, epochs: Int): PerceptronModel = {
    require(dim > 0 && epochs > 0, "dim and epochs must be positive")
    val w = Array.fill(dim)(0L)
    var bias = 0L
    val mistakes = Seq.newBuilder[Long]
    PlanCache.scoped(features
      .join(labels, Seq("doc_id"))
      .select(col("doc_id"), col("bucket"), col("cnt").cast("long").as("cnt"),
        col("y").cast("long").as("y"))) { feats =>
      for (_ <- 1 to epochs) {
        val wLit = lit(w)
        // (1) integer margin per doc under the current model
        val margins = feats
          .groupBy(col("doc_id"), col("y"))
          .agg(sum(element_at(wLit, (col("bucket") + 1).cast("int")) * col("cnt")).as("dot"))
          .select(col("doc_id"), col("y"), (col("dot") + bias).as("margin"))
        PlanCache.scoped(margins.filter(col("y") * col("margin") <= 0)
          .select(col("doc_id"), col("y"))) { mis =>
          // (2) gradient: Σ y·cnt per bucket over misclassified docs;
          // the bias update rides along as pseudo-bucket -1 and the
          // mistake count as -2, so the whole epoch is ONE driver
          // action of ≤ dim+2 rows
          val upd = feats
            .join(mis.select(col("doc_id")), Seq("doc_id"), "left_semi")
            .groupBy(col("bucket"))
            .agg(sum(col("y") * col("cnt")).as("gw"))
            .unionByName(mis.agg(
              coalesce(sum(col("y")), lit(0L)).as("gw")).select(lit(-1L).as("bucket"), col("gw")))
            .unionByName(mis.agg(count(lit(1)).as("gw")).select(lit(-2L).as("bucket"), col("gw")))
            .collect()
          upd.foreach { r =>
            r.getLong(0) match {
              case -1L => bias += r.getLong(1)
              case -2L => mistakes += r.getLong(1)
              case b => w(b.toInt) += r.getLong(1)
            }
          }
        }
      }
    }
    PerceptronModel(w, bias, mistakes.result())
  }

  /** Per-document entry frame for the zero-shuffle fit/score paths:
    * (doc_id, y, es: array<struct<bucket, cnt>>, extra...) — ONE
    * narrow map off the in-row histogram kernel. Token-less docs are
    * dropped (they had no hashed-BoW rows on the exploded path
    * either). Passthrough columns (fold keys, sources, eval flags)
    * ride in the same projection so train/eval restriction is a
    * narrow FILTER on this frame, never a join: the (features ⋈
    * labels) join the exploded fit paid was a self-join of the same
    * table on its own primary key (guide §2.4 — an accidental
    * exchange pair), and the per-doc margin groupBy re-grouped rows
    * whose grouping key contained their own doc_id (the HashedBowExpr
    * lesson, one level up).
    */
  def entryFrame(df: DataFrame, id: Column, text: Column, y: Column,
      dim: Int, extra: Seq[(String, Column)] = Nil): DataFrame =
    entryFrameWith(df, id, text, dim,
      (("y", y.cast("long")) +: extra): _*)

  /** [[entryFrame]] without the binary label — the OVA/custom-column
    * form. */
  def entryFrameWith(df: DataFrame, id: Column, text: Column, dim: Int,
      cols: (String, Column)*): DataFrame =
    df.select(Seq(id.cast("bigint").as("doc_id"),
        graft.plans.HashedBowExpr.hashedBow(text, dim).as("es")) ++
        cols.map { case (n, c) => c.as(n) }: _*)
      .filter(size(col("es")) > 0)

  /** Integer margin of one doc's entry array under (w, bias) —
    * identical integer sum to the exploded groupBy (addition is
    * commutative and exact on int64), evaluated in-row.
    */
  private def entryMargin(es: Column, wLit: Column, bias: Long): Column =
    aggregate(es, lit(bias),
      (acc, e) => acc +
        element_at(wLit, (e.getField("bucket") + 1).cast("int")) * e.getField("cnt"))

  /** [[entryMargin]] under a fitted model — the in-row serving path
    * over an entry frame (bit-equal to [[score]] over hashed rows).
    */
  def entryMarginExpr(es: Column, model: PerceptronModel): Column =
    entryMargin(es, lit(model.weights), model.bias)

  /** [[fitPerceptron]] over an [[entryFrame]] (train-side filters
    * already applied; caller persists the frame if it serves several
    * fits). Bit-identical models — same integer margin sums, same
    * gradient sums, same epoch schedule (spec-pinned) — with the
    * epoch restructured from [margins groupBy + misclassified
    * persist + features semi-join + 3-branch union] to ONE narrow
    * filter + ONE tiny bucket-keyed aggregation per epoch: the bias
    * update and the mistake count ride as sentinel entries (bucket
    * −1 with cnt 1 ⇒ Σ y·1 = bias step; bucket −2 with cnt y ⇒
    * Σ y·y = mistake count, since y ∈ {−1, +1}).
    */
  def fitPerceptronEntries(entries: DataFrame, dim: Int, epochs: Int): PerceptronModel = {
    require(dim > 0 && epochs > 0, "dim and epochs must be positive")
    val w = Array.fill(dim)(0L)
    var bias = 0L
    val mistakes = Seq.newBuilder[Long]
    val sentinels = array(
      struct(lit(-1L).as("bucket"), lit(1L).as("cnt")),
      struct(lit(-2L).as("bucket"), col("y").as("cnt")))
      .cast(graft.plans.HashedBowOps.schema)
    for (_ <- 1 to epochs) {
      val wLit = lit(w)
      val mis = entries.filter(
        col("y") * entryMargin(col("es"), wLit, bias) <= 0)
      val upd = mis
        .select(col("y"), explode(concat(col("es"), sentinels)).as("e"))
        .groupBy(col("e.bucket").as("bucket"))
        .agg(sum(col("y") * col("e.cnt")).as("gw"))
        .collect()
      upd.foreach { r =>
        r.getLong(0) match {
          case -1L => bias += r.getLong(1)
          case -2L => mistakes += r.getLong(1)
          case b => w(b.toInt) += r.getLong(1)
        }
      }
      // a fully-converged epoch emits no rows at all — record the 0
      // the exploded path's count aggregate reported
      if (!upd.exists(_.getLong(0) == -2L)) mistakes += 0L
    }
    PerceptronModel(w, bias, mistakes.result())
  }

  /** [[fitPerceptron]] straight from text — the query-layer entry
    * point: one persisted narrow entry frame, no feature exchange,
    * no label join.
    */
  def fitPerceptronText(df: DataFrame, id: Column, text: Column, y: Column,
      dim: Int, epochs: Int): PerceptronModel = {
    PlanCache.scoped(entryFrame(df, id, text, y, dim))(fitPerceptronEntries(_, dim, epochs))
  }

  /** Per-doc integer margin + sign prediction under a fitted model
    * (the serving path): one bucket-lookup sum per doc, no joins, no
    * driver state beyond the broadcast weights. Docs with no feature
    * rows are absent, as in training.
    */
  def score(features: DataFrame, model: PerceptronModel): DataFrame = {
    val wLit = lit(model.weights)
    features
      .groupBy(col("doc_id"))
      .agg(sum(element_at(wLit, (col("bucket") + 1).cast("int")) * col("cnt")).as("dot"))
      .select(col("doc_id"), (col("dot") + model.bias).as("margin"))
      .withColumn("pred", when(col("margin") > 0, 1).otherwise(-1))
  }

  /** Zero-shuffle scoring straight from text — the serving fast
    * path and the streaming-gate body: each token OCCURRENCE adds
    * `w[bucket(tok)]`, so the margin is a single `aggregate` over
    * the token array — Σ_tokens w[bucket] ≡ Σ_buckets w[b]·cnt[b] —
    * one narrow codegen'd projection, no explode, no groupBy, no
    * exchange. Bit-equal to [[score]] over [[Features.hashedBow]]
    * (spec-proved). Docs with no tokens score bias-only here (the
    * row exists — a projection cannot drop it); `has_tokens` lets
    * callers reproduce the fit-time exclusion.
    */
  def scoreText(df: DataFrame, id: Column, text: Column, dim: Int,
      model: PerceptronModel, keep: (String, Column)*): DataFrame =
    df.select(Seq(id.cast("bigint").as("doc_id"),
      marginExpr(text, dim, model).as("margin"),
      (size(tokensExpr(text)) > 0).as("has_tokens")) ++
      keep.map { case (n, c) => c.as(n) }: _*)
      .withColumn("pred", when(col("margin") > 0, 1).otherwise(-1))

  // null text behaves exactly like empty text (bias-only margin) —
  // split/aggregate over a null array would otherwise yield a NULL
  // margin that filters differently from 0 in the streaming gate
  private def tokensExpr(text: Column): Column =
    filter(split(trim(lower(coalesce(text, lit("")))), "\\s+"), t => length(t) > 0)

  /** The margin as a bare column expression — attachable to any
    * relation (the streaming gate filters on it with no join).
    */
  def marginExpr(text: Column, dim: Int, model: PerceptronModel): Column = {
    val wLit = lit(model.weights)
    aggregate(tokensExpr(text), lit(model.bias),
      (acc, t) => acc + element_at(wLit, ((Dedup.md5Hash60(t) % dim) + 1).cast("int")))
  }

  /** Persist a fitted model as a tiny parquet layout (sparse
    * (bucket, weight) rows + a bias row under bucket -1) — the C78
    * persisted-index pattern: fit once on the cluster, serve from
    * any session.
    */
  def saveModel(spark: org.apache.spark.sql.SparkSession, model: PerceptronModel,
      path: String): Unit = {
    import spark.implicits._
    (model.weightRows.map { case (b, w) => (b.toLong, w) } :+ (-1L, model.bias))
      .toDF("bucket", "weight")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def loadModel(spark: org.apache.spark.sql.SparkSession, path: String,
      dim: Int): PerceptronModel = {
    val rows = spark.read.parquet(path).collect()
    val w = Array.fill(dim)(0L)
    var bias = 0L
    rows.foreach { r =>
      val b = r.getAs[Long]("bucket")
      if (b < 0) bias = r.getAs[Long]("weight") else w(b.toInt) = r.getAs[Long]("weight")
    }
    PerceptronModel(w, bias, Seq.empty)
  }

  /** One-vs-all multiclass: L binary fits (class vs rest), each the
    * exact integer perceptron — the trained counterpart of C8's
    * heuristic language ID. FUSED: all L classes update from ONE
    * margin pass and ONE gradient collect per epoch (L conditional
    * sums over the same sparse rows), not L separate fit loops — at
    * corpus scale you never scan the features L times, and at bench
    * scale the per-epoch job floor is paid once instead of L times.
    * The per-class arithmetic is independent, so results are
    * bit-identical to L separate [[fitPerceptron]] runs
    * (spec-proved).
    */
  def fitOneVsAll(features: DataFrame, classLabels: DataFrame, classes: Seq[String],
      dim: Int, epochs: Int): Seq[(String, PerceptronModel)] = {
    require(classes.nonEmpty && dim > 0 && epochs > 0)
    val w = classes.map(c => c -> Array.fill(dim)(0L)).toMap
    val bias = scala.collection.mutable.Map(classes.map(_ -> 0L): _*)
    val mistakes = scala.collection.mutable.Map(classes.map(_ -> Seq.newBuilder[Long]): _*)
    def yOf(c: String): Column = when(col("cls") === c, 1L).otherwise(-1L)
    PlanCache.scoped(features
      .join(classLabels, Seq("doc_id"))
      .select(col("doc_id"), col("bucket"), col("cnt").cast("long").as("cnt"), col("cls"))) { cached =>
      for (_ <- 1 to epochs) {
        // one margin pass: L lookup-sums over the same rows, then the
        // per-class misclassification flags
        val dots = classes.map { c =>
          sum(element_at(lit(w(c)), (col("bucket") + 1).cast("int")) * col("cnt")).as(s"dot_$c")
        }
        PlanCache.scoped(cached
          .groupBy(col("doc_id"), col("cls"))
          .agg(dots.head, dots.tail: _*)
          .select(col("doc_id") +: col("cls").as("__cls") +: classes.map { c =>
            (yOf(c) * (col(s"dot_$c") + bias(c)) <= 0L).as(s"mis_$c")
          }: _*)) { mflags =>
          // one gradient collect: per-class conditional sums per
          // bucket, plus bias (-1) and mistake-count (-2) rows
          val gradCols = classes.map { c =>
            sum(when(col(s"mis_$c"), yOf(c) * col("cnt")).otherwise(0L)).as(s"g_$c")
          }
          val grad = cached.join(mflags, Seq("doc_id"))
            .groupBy(col("bucket"))
            .agg(gradCols.head, gradCols.tail: _*)
          def yOfM(c: String): Column = when(col("__cls") === c, 1L).otherwise(-1L)
          val biasRow = mflags.agg(
            sum(when(col(s"mis_${classes.head}"), yOfM(classes.head)).otherwise(0L)).as(s"g_${classes.head}"),
            classes.tail.map(c =>
              sum(when(col(s"mis_$c"), yOfM(c)).otherwise(0L)).as(s"g_$c")): _*)
            .select(lit(-1L).as("bucket") +: classes.map(c => col(s"g_$c")): _*)
          val misRow = mflags.agg(
            sum(when(col(s"mis_${classes.head}"), 1L).otherwise(0L)).as(s"g_${classes.head}"),
            classes.tail.map(c =>
              sum(when(col(s"mis_$c"), 1L).otherwise(0L)).as(s"g_$c")): _*)
            .select(lit(-2L).as("bucket") +: classes.map(c => col(s"g_$c")): _*)
          val upd = grad.unionByName(biasRow).unionByName(misRow).collect()
          upd.foreach { r =>
            val b = r.getLong(0)
            classes.zipWithIndex.foreach { case (c, i) =>
              val v = if (r.isNullAt(i + 1)) 0L else r.getLong(i + 1)
              b match {
                case -1L => bias(c) += v
                case -2L => mistakes(c) += v
                case bb => w(c)(bb.toInt) += v
              }
            }
          }
        }
      }
    }
    classes.map(c => c -> PerceptronModel(w(c), bias(c), mistakes(c).result()))
  }

  /** [[fitOneVsAll]] over a per-doc class entry frame (doc_id, cls,
    * es) — bit-identical L models (same conditional integer sums,
    * spec-pinned). Per epoch: ONE narrow projection computes the L
    * in-row margins/flags and persists (flags + entries share the
    * row, so the cached⋈mflags shuffle join of the exploded path is
    * gone), then the same 3-branch gradient union collects — the
    * flags persist is what stops the optimizer collapsing the L
    * margin aggregates into the post-explode stage (they would
    * otherwise re-evaluate once per exploded entry).
    */
  def fitOneVsAllEntries(entries: DataFrame, classes: Seq[String],
      dim: Int, epochs: Int): Seq[(String, PerceptronModel)] = {
    require(classes.nonEmpty && dim > 0 && epochs > 0)
    val w = classes.map(c => c -> Array.fill(dim)(0L)).toMap
    val bias = scala.collection.mutable.Map(classes.map(_ -> 0L): _*)
    val mistakes = scala.collection.mutable.Map(classes.map(_ -> Seq.newBuilder[Long]): _*)
    def yOf(c: String): Column = when(col("cls") === c, 1L).otherwise(-1L)
    for (_ <- 1 to epochs) {
      PlanCache.scoped(entries.select(
        col("cls") +: col("es") +: classes.map { c =>
          (yOf(c) * entryMargin(col("es"), lit(w(c)), bias(c)) <= 0L).as(s"mis_$c")
        }: _*)) { flagged =>
        val gradCols = classes.map { c =>
          sum(when(col(s"mis_$c"), yOf(c) * col("e.cnt")).otherwise(0L)).as(s"g_$c")
        }
        val grad = flagged
          .select(col("cls") +: explode(col("es")).as("e") +:
            classes.map(c => col(s"mis_$c")): _*)
          .groupBy(col("e.bucket").as("bucket"))
          .agg(gradCols.head, gradCols.tail: _*)
        val biasRow = flagged.agg(
          sum(when(col(s"mis_${classes.head}"), yOf(classes.head)).otherwise(0L)).as(s"g_${classes.head}"),
          classes.tail.map(c =>
            sum(when(col(s"mis_$c"), yOf(c)).otherwise(0L)).as(s"g_$c")): _*)
          .select(lit(-1L).as("bucket") +: classes.map(c => col(s"g_$c")): _*)
        val misRow = flagged.agg(
          sum(when(col(s"mis_${classes.head}"), 1L).otherwise(0L)).as(s"g_${classes.head}"),
          classes.tail.map(c =>
            sum(when(col(s"mis_$c"), 1L).otherwise(0L)).as(s"g_$c")): _*)
          .select(lit(-2L).as("bucket") +: classes.map(c => col(s"g_$c")): _*)
        val upd = grad.unionByName(biasRow).unionByName(misRow).collect()
        upd.foreach { r =>
          val b = r.getLong(0)
          classes.zipWithIndex.foreach { case (c, i) =>
            val v = if (r.isNullAt(i + 1)) 0L else r.getLong(i + 1)
            b match {
              case -1L => bias(c) += v
              case -2L => mistakes(c) += v
              case bb => w(c)(bb.toInt) += v
            }
          }
        }
      }
    }
    classes.map(c => c -> PerceptronModel(w(c), bias(c), mistakes(c).result()))
  }

  /** FUSED multi-arm fit over one entry frame: arm i trains on the
    * rows where its flag column holds (shared binary y), and every
    * arm updates from ONE flagged projection + ONE gradient collect
    * per epoch — the fitOneVsAll fusion applied to row SUBSETS
    * instead of label variants (source-ablation's K+1 leave-one-out
    * fits were K+1 sequential epoch chains over the same rows; at
    * bench scale that is (K+1)·epochs job floors, at cluster scale
    * (K+1)·epochs corpus passes, for arithmetic that is independent
    * per arm and therefore bit-identical fused or not — spec-pinned).
    */
  def fitArmsEntries(entries: DataFrame, arms: Seq[(String, Column)],
      dim: Int, epochs: Int): Seq[(String, PerceptronModel)] = {
    require(arms.nonEmpty && dim > 0 && epochs > 0)
    val names = arms.map(_._1)
    val w = names.map(n => n -> Array.fill(dim)(0L)).toMap
    val bias = scala.collection.mutable.Map(names.map(_ -> 0L): _*)
    val mistakes = scala.collection.mutable.Map(names.map(_ -> Seq.newBuilder[Long]): _*)
    for (_ <- 1 to epochs) {
      PlanCache.scoped(entries.select(
        col("y") +: col("es") +: arms.zipWithIndex.map { case ((n, flag), i) =>
          (flag && (col("y") * entryMargin(col("es"), lit(w(n)), bias(n)) <= 0L))
            .as(s"mis_$i")
        }: _*)) { flagged =>
        val idx = names.indices
        val gradCols = idx.map { i =>
          sum(when(col(s"mis_$i"), col("y") * col("e.cnt")).otherwise(0L)).as(s"g_$i")
        }
        val grad = flagged
          .select(col("y") +: explode(col("es")).as("e") +: idx.map(i => col(s"mis_$i")): _*)
          .groupBy(col("e.bucket").as("bucket"))
          .agg(gradCols.head, gradCols.tail: _*)
        val biasRow = flagged.agg(
          sum(when(col("mis_0"), col("y")).otherwise(0L)).as("g_0"),
          idx.tail.map(i => sum(when(col(s"mis_$i"), col("y")).otherwise(0L)).as(s"g_$i")): _*)
          .select(lit(-1L).as("bucket") +: idx.map(i => col(s"g_$i")): _*)
        val misRow = flagged.agg(
          sum(when(col("mis_0"), 1L).otherwise(0L)).as("g_0"),
          idx.tail.map(i => sum(when(col(s"mis_$i"), 1L).otherwise(0L)).as(s"g_$i")): _*)
          .select(lit(-2L).as("bucket") +: idx.map(i => col(s"g_$i")): _*)
        val upd = grad.unionByName(biasRow).unionByName(misRow).collect()
        upd.foreach { r =>
          val b = r.getLong(0)
          names.zipWithIndex.foreach { case (n, i) =>
            val v = if (r.isNullAt(i + 1)) 0L else r.getLong(i + 1)
            b match {
              case -1L => bias(n) += v
              case -2L => mistakes(n) += v
              case bb => w(n)(bb.toInt) += v
            }
          }
        }
      }
    }
    names.map(n => n -> PerceptronModel(w(n), bias(n), mistakes(n).result()))
  }

  /** Argmax OVA prediction straight from text: the L margins are
    * in-row aggregate folds over the token array (bit-equal to
    * [[predictOneVsAll]] over hashed features — same integer sums),
    * so serving is a narrow projection: no explode, no doc-keyed
    * exchange. Token-less docs score bias-only and are EXCLUDED to
    * match the exploded path's row set.
    */
  def predictOneVsAllText(df: DataFrame, id: Column, text: Column, dim: Int,
      models: Seq[(String, PerceptronModel)], keep: (String, Column)*): DataFrame = {
    val candidates = array(models.map { case (cls, m) =>
      struct((-marginExpr(text, dim, m)).as("neg"), lit(cls).as("cls"))
    }: _*)
    df.filter(size(tokensExpr(text)) > 0)
      .select(Seq(id.cast("bigint").as("doc_id"),
        array_min(candidates).as("best")) ++
        keep.map { case (n, c) => c.as(n) }: _*)
      .select(Seq(col("doc_id"), col("best.cls").as("pred_cls"),
        (-col("best.neg")).as("margin")) ++
        keep.map { case (n, _) => col(n) }: _*)
  }

  /** Argmax prediction under one-vs-all models: per-class margins
    * come from ONE aggregation pass (L lookup-sums over the same
    * sparse rows — a single doc-keyed shuffle, not L), the winner is
    * the (margin DESC, class ASC) minimum of a struct — deterministic
    * ties, partial-aggregable, no window.
    */
  def predictOneVsAll(features: DataFrame, models: Seq[(String, PerceptronModel)]): DataFrame = {
    val marginCols = models.map { case (cls, m) =>
      val wLit = lit(m.weights)
      (sum(element_at(wLit, (col("bucket") + 1).cast("int")) * col("cnt")) + m.bias)
        .as(s"m_$cls")
    }
    val perDoc = features.groupBy(col("doc_id")).agg(marginCols.head, marginCols.tail: _*)
    val candidates = array(models.map { case (cls, _) =>
      struct((-col(s"m_$cls")).as("neg"), lit(cls).as("cls"))
    }: _*)
    perDoc
      .withColumn("best", array_min(candidates))
      .select(col("doc_id"), col("best.cls").as("pred_cls"),
        (-col("best.neg")).as("margin"))
  }

  /** Active-learning selection: the k LEAST-CONFIDENT docs per group
    * (smallest |margin| — the docs nearest the decision boundary are
    * the ones worth a labeling budget; margin-based uncertainty
    * sampling). Reuses the C66 bounded heap with score = -|margin|,
    * so the shuffle carries ≤ k ids per (task, group) — never a
    * whole-group row_number funnel.
    *
    * @param scored (doc_id, margin, group) rows
    * @return (group, rank, doc_id, abs_margin), rank 1 = least
    *         confident, ties broken by smallest doc_id
    */
  def selectUncertain(scored: DataFrame, group: Column, k: Int): DataFrame =
    scored
      .groupBy(group.as("grp"))
      .agg(graft.plans.TopKAgg.topK(-abs(col("margin")), col("doc_id"), k).as("top"))
      .select(col("grp"), posexplode(col("top")))
      .select(col("grp"), (col("pos") + 1).cast("bigint").as("rank"),
        col("col.id").as("doc_id"), (-col("col.score")).as("abs_margin"))

  /** Classifier evaluation from (pred, y) pairs: one partial-agg
    * pass to the four confusion counts, then milli-precision/recall/
    * F1 in exact integer floor arithmetic (floor-milli everywhere,
    * F1 from the milli values themselves so both engines divide the
    * same integers). Zero-denominator cases report -1 (undefined),
    * never a float NaN.
    */
  def evaluate(scored: DataFrame): DataFrame = {
    val c = scored.agg(
      sum(when(col("pred") === 1 && col("y") === 1, 1L).otherwise(0L)).as("tp"),
      sum(when(col("pred") === 1 && col("y") === -1, 1L).otherwise(0L)).as("fp"),
      sum(when(col("pred") === -1 && col("y") === 1, 1L).otherwise(0L)).as("fn"),
      sum(when(col("pred") === -1 && col("y") === -1, 1L).otherwise(0L)).as("tn"))
    // `div`, never the double `/`: exact integer division on longs,
    // == DuckDB `//` bit-for-bit at any count magnitude (the RankEval
    // argument — floor(double) diverges past 2^53)
    c.select(col("tp"), col("fp"), col("fn"), col("tn"))
      .withColumn("accuracy_milli",
        expr("CASE WHEN tp+fp+fn+tn = 0L THEN -1L ELSE ((tp+tn) * 1000L) div (tp+fp+fn+tn) END"))
      .withColumn("precision_milli",
        expr("CASE WHEN tp+fp = 0L THEN -1L ELSE (tp * 1000L) div (tp+fp) END"))
      .withColumn("recall_milli",
        expr("CASE WHEN tp+fn = 0L THEN -1L ELSE (tp * 1000L) div (tp+fn) END"))
      .withColumn("f1_milli",
        when(col("precision_milli") < 0 || col("recall_milli") < 0 ||
          col("precision_milli") + col("recall_milli") === 0L, lit(-1L))
          .otherwise(expr("(2L * precision_milli * recall_milli) div (precision_milli + recall_milli)")))
  }

  /** DuckDB twin of [[evaluate]] over a relation exposing pred and y
    * columns (same floor-milli integer arithmetic).
    */
  def evaluateSql(from: String): String =
    s"""SELECT tp, fp, fn, tn,
       |  CASE WHEN tp+fp+fn+tn = 0 THEN -1 ELSE (tp+tn) * 1000 // (tp+fp+fn+tn) END AS accuracy_milli,
       |  CASE WHEN tp+fp = 0 THEN -1 ELSE tp * 1000 // (tp+fp) END AS precision_milli,
       |  CASE WHEN tp+fn = 0 THEN -1 ELSE tp * 1000 // (tp+fn) END AS recall_milli,
       |  CASE WHEN tp+fp = 0 OR tp+fn = 0
       |         OR (CASE WHEN tp+fp = 0 THEN -1 ELSE tp * 1000 // (tp+fp) END)
       |          + (CASE WHEN tp+fn = 0 THEN -1 ELSE tp * 1000 // (tp+fn) END) = 0 THEN -1
       |       ELSE 2 * (tp * 1000 // (tp+fp)) * (tp * 1000 // (tp+fn))
       |            // ((tp * 1000 // (tp+fp)) + (tp * 1000 // (tp+fn))) END AS f1_milli
       |FROM (SELECT
       |  CAST(SUM(CASE WHEN pred = 1 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |  CAST(SUM(CASE WHEN pred = 1 AND y = -1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |  CAST(SUM(CASE WHEN pred = -1 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       |  CAST(SUM(CASE WHEN pred = -1 AND y = -1 THEN 1 ELSE 0 END) AS BIGINT) AS tn
       |FROM $from)""".stripMargin

  /** DuckDB twin of the full fit, unrolled per epoch (the C7b
    * integer-Lloyd's oracle pattern): identical integer updates from
    * the same feats/labels CTEs. Emits per-epoch weight CTEs
    * `w0..w<epochs>` (bucket, w) and bias CTEs `bias0..`; callers
    * append their own final SELECT over `w<epochs>`/`bias<epochs>`.
    * Requires CTEs `feats(doc_id, bucket, cnt)` and
    * `lab(doc_id, y)` already defined in the WITH chain.
    */
  def fitSqlCtes(epochs: Int, prefix: String = "", labCte: String = "lab"): String = {
    val sb = new StringBuilder
    sb.append(s"${prefix}w0(bucket, w) AS (SELECT CAST(NULL AS BIGINT), CAST(NULL AS BIGINT) WHERE 1=0),\n")
    sb.append(s"${prefix}bias0(b) AS (SELECT CAST(0 AS BIGINT)),\n")
    for (t <- 1 to epochs) {
      val p = t - 1
      // every SUM is CAST back to BIGINT — DuckDB sums integers into
      // HUGEINT, which the §4 decimal rule bans from escaping.
      // m/mis/w/bias are MATERIALIZED: each is referenced 2-3 times
      // (the margin join, the gradient semi-join, the next epoch's
      // chain), and DuckDB re-inlines plain CTEs per reference — the
      // epoch chain re-expanded multiplicatively with depth, which is
      // what exhausted the sf10 spill disk on the two largest
      // unrolled fits (the r8 q_perceptron_score/q_ova_lang
      // oracle-capacity exemptions; the r13 PageRank lesson applied)
      sb.append(
        s"""${prefix}m$t AS MATERIALIZED (SELECT f.doc_id, l.y,
           |  CAST(COALESCE(SUM(w.w * f.cnt), 0) + (SELECT b FROM ${prefix}bias$p) AS BIGINT) AS margin
           |  FROM feats f JOIN $labCte l USING (doc_id)
           |  LEFT JOIN ${prefix}w$p w USING (bucket)
           |  GROUP BY f.doc_id, l.y),
           |${prefix}mis$t AS MATERIALIZED (SELECT doc_id, y FROM ${prefix}m$t WHERE y * margin <= 0),
           |${prefix}g$t AS (SELECT f.bucket, CAST(SUM(l.y * f.cnt) AS BIGINT) AS gw
           |  FROM feats f JOIN ${prefix}mis$t l USING (doc_id) GROUP BY f.bucket),
           |${prefix}w$t(bucket, w) AS MATERIALIZED (
           |  SELECT COALESCE(w.bucket, g.bucket),
           |         COALESCE(w.w, 0) + COALESCE(g.gw, 0)
           |  FROM ${prefix}w$p w FULL OUTER JOIN ${prefix}g$t g ON w.bucket = g.bucket),
           |${prefix}bias$t(b) AS MATERIALIZED (SELECT CAST((SELECT b FROM ${prefix}bias$p) +
           |  COALESCE((SELECT CAST(SUM(y) AS BIGINT) FROM ${prefix}mis$t), 0) AS BIGINT)),
           |""".stripMargin)
    }
    sb.result().stripSuffix(",\n")
  }
}
