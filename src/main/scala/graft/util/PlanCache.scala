package graft.util

import scala.collection.concurrent.TrieMap

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one owner of cached intermediates: every persist, checkpoint
  * and memo in the operator and query layers takes its lifetime from
  * one of four forms here, and nothing else releases storage.
  *
  *  - `df.sharedPersist()` / `df.sharedCheckpoint()` — SESSION
  *    lifetime, for a frame that escapes the call (the returned lazy
  *    plan reads it). Registration dedups by (output schema,
  *    canonicalized analyzed plan): the first caller caches and
  *    registers the handle, every later caller with an equivalent plan
  *    gets that FIRST handle back, so repeated bench passes and
  *    queries sharing fixture projections cache once. [[clear]]
  *    releases them.
  *  - [[scoped]] — CALL lifetime, for a frame consumed inside the call
  *    (eager fits, driver-round loops): cached for `body`, released in
  *    `finally`, so a throwing operator leaks nothing.
  *  - [[free]] — ROUND lifetime, for a frame the caller replaces every
  *    round (k-core peel, CC star rounds, BPE merges) or holds for
  *    its own owner (a streaming gate).
  *  - [[memo]] — a session-keyed memo of a pure driver-side result
  *    (fitted models, checkpointed arms), dropped by [[clear]].
  *
  * Persist vs checkpoint is the caller's choice and is orthogonal to
  * lifetime. A persisted frame keeps its full build lineage in every
  * consumer plan; a local checkpoint enters consumers as a one-line
  * LogicalRDD scan (cheaper to compile), materializes eagerly and has
  * no lineage to rebuild from — so it suits row-bounded intermediates
  * (ranked arms, shortlists, model tables). Releasing the two differs
  * (`Dataset.unpersist` is a no-op on a checkpoint, whose blocks live
  * on the underlying RDD); [[free]] covers both, so callers never
  * choose a release call.
  *
  * Two guarantees replace per-site guards: [[scoped]] over a plan
  * that is already cached neither caches nor releases it (CacheManager
  * uncaches by `sameResult`, so a scoped release would otherwise evict
  * a shared entry), and [[free]] is a no-op on a registered shared
  * handle.
  *
  * Driver state is bounded: one (plan key → handle) entry per distinct
  * shared intermediate and one entry per memo key — plan metadata and
  * model-sized values, never data. Entries of sessions stopped without
  * a [[clear]] are swept on every registration, and an application-end
  * listener clears each session as a backstop.
  *
  * The per-query plan record is `docs/plan_shapes.tsv`; its walk
  * expands cached scans into their subtrees, so what a query shares
  * through this object never changes a recorded shape.
  */
object PlanCache {

  private type Key = (SparkSession, Any)

  private val shared = TrieMap.empty[Key, DataFrame]
  private val memos = TrieMap.empty[Key, AnyRef]
  private val registerLock = new Object
  private val autoCleared = TrieMap.empty[SparkSession, Unit]

  implicit class Shareable(private val df: DataFrame) extends AnyVal {
    /** Session-lifetime persist of `df`, deduped by plan. */
    def sharedPersist(): DataFrame = register(df, checkpoint = false)

    /** Session-lifetime eager local checkpoint of `df`, deduped by
      * plan; for row-bounded intermediates only.
      */
    def sharedCheckpoint(): DataFrame = register(df, checkpoint = true)
  }

  private def register(df: DataFrame, checkpoint: Boolean): DataFrame = {
    val spark = df.sparkSession
    track(spark)
    // the key carries the OUTPUT SCHEMA alongside the canonicalized
    // plan: canonicalization normalizes aliases away, so two plans
    // that differ only in output names (RocCurve's (v, n_pos, n_neg)
    // vs DecisionStump's (v, p, n) histogram) canonicalize EQUAL —
    // returning one for the other breaks downstream name resolution
    val key = (spark, (df.schema, df.queryExecution.analyzed.canonicalized))
    // lock-free fast path; registration itself is serialized so the
    // cache/checkpoint cannot run twice for one key (TrieMap's
    // getOrElseUpdate may re-evaluate under a concurrent insert)
    shared.get(key).getOrElse(registerLock.synchronized {
      shared.getOrElseUpdate(key,
        if (checkpoint) df.localCheckpoint(true)
        // CacheManager matches by sameResult (alias-insensitive): an
        // alias twin already cached serves this plan too
        else if (df.storageLevel == StorageLevel.NONE) df.persist()
        else df)
    })
  }

  /** Run `body` over `ds` held for the call and release it after,
    * also when `body` throws. An uncached frame is persisted; a local
    * checkpoint the caller made is held as it is. A plan that is
    * already cached is passed through untouched and stays cached.
    */
  def scoped[A, T](ds: Dataset[A])(body: Dataset[A] => T): T =
    if (ds.storageLevel != StorageLevel.NONE) body(ds)
    else {
      val held = if (checkpointRdd(ds).isDefined) ds else ds.persist()
      try body(held) finally free(held)
    }

  /** Release a round-scoped or owner-held frame's storage, persisted
    * or checkpointed. A no-op on a registered shared handle, which
    * only [[clear]] releases.
    */
  def free(ds: Dataset[_]): Unit =
    if (!shared.values.exists(_ eq ds)) release(ds)

  /** The session-keyed memo: `compute` once per (session, key) until
    * [[clear]] of that session. Values must be pure functions of the
    * key (recomputation after a clear is bit-exact) and driver-sized;
    * they may hold shared handles, which the same clear releases.
    */
  def memo[T <: AnyRef](spark: SparkSession, key: Any)(compute: => T): T = {
    track(spark)
    memos.getOrElseUpdate((spark, key), compute).asInstanceOf[T]
  }

  /** Release every shared handle and drop every memo of `spark`. */
  def clear(spark: SparkSession): Unit = {
    shared.keys.filter(_._1 eq spark).foreach(k => shared.remove(k).foreach(release))
    memos.keys.filter(_._1 eq spark).foreach(memos.remove)
  }

  /** A local checkpoint's blocks live on its LogicalRDD root's
    * underlying rdd — `queryExecution.toRdd` only wraps it in a
    * metrics MapPartitionsRDD that holds none.
    */
  private def checkpointRdd(ds: Dataset[_]): Option[RDD[_]] =
    ds.queryExecution.analyzed match {
      case lr: LogicalRDD if lr.rdd.getStorageLevel != StorageLevel.NONE => Some(lr.rdd)
      case _ => None
    }

  private def release(ds: Dataset[_]): Unit = {
    try ds.unpersist(blocking = false) catch { case _: Throwable => () }
    checkpointRdd(ds).foreach(rdd =>
      try rdd.unpersist(blocking = false) catch { case _: Throwable => () })
  }

  /** Sweep entries of stopped sessions and make sure `spark` is
    * cleared when its application ends, so JVMs that cycle sessions
    * (test harnesses, notebooks) cannot pin sessions past stop.
    */
  private def track(spark: SparkSession): Unit = {
    shared.keys.filter(_._1.sparkContext.isStopped).foreach(shared.remove)
    memos.keys.filter(_._1.sparkContext.isStopped).foreach(memos.remove)
    if (autoCleared.putIfAbsent(spark, ()).isEmpty)
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
          clear(spark)
          autoCleared.remove(spark)
        }
      })
  }
}
