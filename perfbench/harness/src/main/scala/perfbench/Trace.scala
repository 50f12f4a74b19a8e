package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans and Spark counters of one traced run, kept in memory until the
  * run ends.
  *
  * Spans are recorded by the benchmark around its calls into graft: a
  * root span per query, request or micro-batch, and child spans for the
  * layers inside it. Spark work is attributed through the job group the
  * benchmark sets before each call (`SparkContext.setJobGroup`); the
  * listener sums task metrics per group. An untraced run creates no
  * spans and registers no listener.
  */
final class Trace(val enabled: Boolean) {

  final case class Span(id: Int, parent: Int, name: String, key: String, startNs: Long, endNs: Long)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1

  /** Record a span that already happened (e.g. built from a progress event). */
  def add(name: String, key: String, startNs: Long, endNs: Long, parent: Int = 0): Int =
    if (!enabled) 0
    else spans.synchronized {
      val id = nextId
      nextId += 1
      spans += Span(id, parent, name, key, startNs, endNs)
      id
    }

  /** Time `body`; in a traced run also record it as a span. */
  def span[T](name: String, key: String, parent: Int = 0)(body: => T): (T, Long, Int) = {
    val t0 = System.nanoTime()
    val out = body
    val t1 = System.nanoTime()
    (out, t1 - t0, add(name, key, t0, t1, parent))
  }

  def spanRecords: Seq[Map[String, Any]] = spans.synchronized {
    spans.toList.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "key" -> s.key, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
  }

  // ---------------------------------------------------- Spark counters

  final class Counters {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var taskMs = 0L
    var gcMs = 0L
    var inputBytes = 0L
    var shuffleReadBytes = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var firstJobMs = Long.MaxValue
    var lastStageEndMs = 0L

    def toMap: Map[String, Any] = Map(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "task_ms" -> taskMs,
      "gc_ms" -> gcMs, "input_bytes" -> inputBytes, "shuffle_read_bytes" -> shuffleReadBytes,
      "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes,
      "first_job_ms" -> (if (jobs == 0) 0L else firstJobMs), "last_stage_end_ms" -> lastStageEndMs)
  }

  private val byGroup = mutable.LinkedHashMap.empty[String, Counters]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val Sentinel = "perfbench-sentinel"

  private def counters(group: String): Counters = byGroup.getOrElseUpdate(group, new Counters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = byGroup.synchronized {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("(none)")
      e.stageIds.foreach(s => stageGroup(s) = group)
      val c = counters(group)
      c.jobs += 1
      c.firstJobMs = math.min(c.firstJobMs, e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = byGroup.synchronized {
      stageGroup.get(e.stageInfo.stageId).foreach { g =>
        val c = counters(g)
        c.stages += 1
        c.lastStageEndMs = math.max(c.lastStageEndMs, e.stageInfo.completionTime.getOrElse(0L))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = byGroup.synchronized {
      val g = stageGroup.getOrElse(e.stageId, "(none)")
      val c = counters(g)
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.taskMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleReadBytes += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def attach(sc: SparkContext): Unit = if (enabled) sc.addSparkListener(listener)
  def detach(sc: SparkContext): Unit = if (enabled) sc.removeSparkListener(listener)

  /** Block until the listener has seen every event posted so far: run a
    * tiny job in a marker group and wait for its stage to be counted. */
  def drain(sc: SparkContext, timeoutMs: Long = 10000L): Unit = if (enabled) {
    val before = byGroup.synchronized(byGroup.get(Sentinel).map(_.stages).getOrElse(0L))
    sc.setJobGroup(Sentinel, "listener drain")
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + timeoutMs
    while (byGroup.synchronized(byGroup.get(Sentinel).map(_.stages).getOrElse(0L)) <= before &&
      System.currentTimeMillis() < deadline) Thread.sleep(5)
  }

  def groups: Map[String, Map[String, Any]] = byGroup.synchronized {
    byGroup.iterator.filter(_._1 != Sentinel).map { case (g, c) => g -> c.toMap }.toMap
  }
}
