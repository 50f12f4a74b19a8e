package graft.util

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.util.PlanCache.Shareable

/** The cache-lifetime owner's contract: one persist per distinct
  * (schema, canonicalized plan), alias-twins neither collide nor
  * re-register, clear() releases everything for the session and only
  * for it, scoped() releases on every exit, and neither scoped() nor
  * free() can release a shared handle.
  */
class PlanCacheSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  test("equivalent plans share ONE handle; the second call persists nothing new") {
    val a = (1 to 100).map(i => (i.toLong, (i % 7).toLong)).toDF("k", "v")
      .groupBy("k").agg(sum("v").as("s")).sharedPersist()
    a.count()
    // a structurally identical but separately-built plan
    val b = (1 to 100).map(i => (i.toLong, (i % 7).toLong)).toDF("k", "v")
      .groupBy("k").agg(sum("v").as("s")).sharedPersist()
    assert(b eq a, "second registration must return the FIRST handle")
    assert(a.storageLevel != StorageLevel.NONE)
  }

  test("alias twins (same canonicalized plan, different schema) keep their own names") {
    val base = (1 to 50).map(i => (i.toLong, i.toLong % 5)).toDF("x", "y")
    val one = base.groupBy("x").agg(count(lit(1)).as("n_pos")).sharedPersist()
    one.count()
    val two = base.groupBy("x").agg(count(lit(1)).as("p")).sharedPersist()
    // the critical regression (r10 q_stump): returning `one` for `two`
    // would make col("p") unresolvable downstream
    assert(two.columns.toSeq == Seq("x", "p"))
    assert(two.select(col("p")).count() == 50)
    // and values agree — same underlying cached data via sameResult
    val m1 = one.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val m2 = two.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m1 == m2)
  }

  test("clear() unpersists every handle registered for the session") {
    val df = (1 to 30).map(i => (i.toLong, s"s$i")).toDF("id", "s")
      .filter(col("id") % 3 === 0).sharedPersist()
    df.count()
    assert(df.storageLevel != StorageLevel.NONE)
    PlanCache.clear(spark)
    assert(df.storageLevel == StorageLevel.NONE, "clear must unpersist")
    // re-registration after clear persists afresh (no stale handle)
    val again = (1 to 30).map(i => (i.toLong, s"s$i")).toDF("id", "s")
      .filter(col("id") % 3 === 0).sharedPersist()
    again.count()
    assert(again.storageLevel != StorageLevel.NONE)
    PlanCache.clear(spark)
  }

  /** Persistent-RDD block count for this session (localCheckpoint'd
    * frames land here: checkpoint persists at RDD level, invisible to
    * Dataset.storageLevel/CacheManager).
    */
  private def nPersistedRdds: Int =
    spark.sparkContext.getPersistentRDDs.size

  test("clear() frees checkpointShared BLOCKS, not just the wrapper rdd (ADVICE r13)") {
    PlanCache.clear(spark)
    val before = nPersistedRdds
    val ck = (1 to 40).map(i => (i.toLong, i * 2L)).toDF("a", "b")
      .filter(col("a") % 2 === 0).sharedCheckpoint()
    ck.count()
    assert(nPersistedRdds > before, "checkpoint must register RDD-level blocks")
    PlanCache.clear(spark)
    assert(nPersistedRdds == before,
      "clear must drop the checkpointed RDD's own blocks — unpersisting the " +
        "metrics wrapper from queryExecution.toRdd frees nothing")
  }

  test("free() releases a localCheckpoint'd frame's blocks (the iterative-round case)") {
    PlanCache.clear(spark)
    val before = nPersistedRdds
    val ck = (1 to 25).map(i => (i.toLong, i % 3L)).toDF("n", "m")
      .groupBy("m").agg(sum("n").as("s")).localCheckpoint(true)
    assert(nPersistedRdds > before)
    PlanCache.free(ck)
    assert(nPersistedRdds == before,
      "free must reach the LogicalRDD's underlying rdd; Dataset.unpersist is a no-op here")
    // and the persisted case still works through the same entry point
    val p = (1 to 25).map(i => (i.toLong, i % 3L)).toDF("n", "m").persist()
    p.count()
    assert(p.storageLevel != StorageLevel.NONE)
    PlanCache.free(p)
    assert(p.storageLevel == StorageLevel.NONE)
  }

  private def nCachedPlans: Int = org.apache.spark.sql.CacheProbe.cachedPlans(spark)

  test("scoped() releases a persisted and a checkpointed frame when the body throws") {
    PlanCache.clear(spark)
    val rddsBefore = nPersistedRdds
    val plansBefore = nCachedPlans
    val df = (1 to 20).map(i => (i.toLong, i % 4L)).toDF("a", "b").filter(col("b") > 0)
    for ((kind, frame) <- Seq("persisted" -> (() => df), "checkpointed" -> (() => df.localCheckpoint(true)))) {
      val err = intercept[IllegalStateException] {
        PlanCache.scoped(frame()) { held =>
          assert(held.count() == 15)
          assert(nPersistedRdds > rddsBefore, "the held frame must be materialized")
          throw new IllegalStateException("boom")
        }
      }
      assert(err.getMessage == "boom")
      assert(nPersistedRdds == rddsBefore, s"$kind frame leaked blocks")
      assert(nCachedPlans == plansBefore, s"$kind frame left a cached plan")
    }
    assert(df.storageLevel == StorageLevel.NONE)
  }

  test("scoped() over an already-shared plan leaves the shared handle cached") {
    PlanCache.clear(spark)
    def build = (1 to 30).map(i => (i.toLong, i % 5L)).toDF("k", "v")
      .groupBy("v").agg(sum("k").as("s"))
    val shared = build.sharedPersist()
    shared.count()
    // a separately built, equivalent plan: CacheManager matches it to
    // the shared entry, so releasing it would evict that entry
    val n = PlanCache.scoped(build)(_.count())
    assert(n == 5)
    assert(shared.storageLevel != StorageLevel.NONE, "scoped must not release a shared entry")
    PlanCache.clear(spark)
    assert(shared.storageLevel == StorageLevel.NONE)
  }

  test("free() on a shared handle leaves it cached and readable") {
    PlanCache.clear(spark)
    val ck = (1 to 40).map(i => (i.toLong, i * 3L)).toDF("a", "b")
      .filter(col("a") % 4 === 0).sharedCheckpoint()
    val p = (1 to 40).map(i => (i.toLong, i * 3L)).toDF("a", "b")
      .filter(col("a") % 5 === 0).sharedPersist()
    p.count()
    val rdds = nPersistedRdds
    PlanCache.free(ck)
    PlanCache.free(p)
    assert(nPersistedRdds == rdds, "free must not drop a shared handle's blocks")
    assert(p.storageLevel != StorageLevel.NONE)
    assert(ck.collect().map(_.getLong(0)).sorted.toSeq == (4L to 40L by 4L))
    assert(p.count() == 8)
    PlanCache.clear(spark)
  }

  test("memo() computes once per session; clear() drops only that session's entries") {
    val other = spark.newSession()
    var computed = 0
    def get(s: org.apache.spark.sql.SparkSession, v: String): String =
      PlanCache.memo(s, ("spec", "k")) { computed += 1; v }
    assert(get(spark, "a") == "a" && get(other, "b") == "b")
    assert(get(spark, "x") == "a" && get(other, "x") == "b" && computed == 2)
    PlanCache.clear(other)
    assert(get(spark, "x") == "a", "clearing one session must keep the other's memo")
    assert(get(other, "c") == "c" && computed == 3)
    PlanCache.clear(spark)
    assert(get(spark, "d") == "d" && computed == 4)
    PlanCache.clear(spark)
    PlanCache.clear(other)
  }
}
