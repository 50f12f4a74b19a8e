package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Entry point of the benchmark's JVM side. `perfbench/run.py` makes
  * the inputs, starts this program once per run, and turns the raw
  * result file it writes into metrics and correctness checks.
  *
  * {{{
  * Harness --workload corpus-batch|gtfs-feed-ops|dump-oracles|train
  *         --data DIR --work DIR --out FILE [--seconds N] [--trace 0|1]
  *         [--cores N] [--setups N] [--queries a,b,...] [--passes N]
  *         [--cycles N] [--rt-batch N] [--rt-batches N]
  * }}}
  */
object Harness {

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def int(k: String, d: Int): Int = m.get(k).map(_.toInt).getOrElse(d)
    def get(k: String): Option[String] = m.get(k)
    def trace: Boolean = m.get("trace").contains("1")
  }

  def parse(argv: Array[String]): Args = {
    require(argv.length % 2 == 0, "arguments come in --key value pairs")
    Args(argv.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"bad option $k")
      k.stripPrefix("--") -> v
    }.toMap)
  }

  /** A local session with graft's settings, keeping every file it
    * writes under `work`. */
  def session(cores: Int, work: String): SparkSession = {
    val spark = graft.GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Run `setup` `n` times, stopping each earlier session, and return
    * each set-up's wall and CPU seconds with the last session. The first
    * counts from JVM start; the others from the start of that set-up. */
  def repeatSetup[T](n: Int)(setup: () => T)(teardown: T => Unit): (Seq[Map[String, Double]], T) = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    var times = Vector.empty[Map[String, Double]]
    var last: Option[T] = None
    (1 to math.max(1, n)).foreach { i =>
      last.foreach(teardown)
      val t0 = System.nanoTime()
      val c0 = if (i == 1) Cpu(0L, Map.empty) else cpu()
      val s = setup()
      val (cpuS, jitS) = cpu().since(c0)
      val wall =
        if (i == 1) (System.currentTimeMillis() - jvmStartMs) / 1e3
        else (System.nanoTime() - t0) / 1e9
      times :+= Map("wall_s" -> wall, "cpu_s" -> cpuS, "jit_s" -> jitS)
      last = Some(s)
    }
    (times, last.get)
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time the whole JVM has used so far (all threads), in ns, and
    * that of each JIT compiler thread. Unlike wall time it does not grow
    * while the host runs other guests. */
  final case class Cpu(processNs: Long, jitNs: Map[String, Long]) {
    /** CPU seconds since `c0`: of the whole JVM, and of that the part its
      * JIT compiler threads used. */
    def since(c0: Cpu): (Double, Double) = {
      val jit = jitNs.map { case (t, ns) => ns - c0.jitNs.getOrElse(t, 0L) }.sum
      ((processNs - c0.processNs) / 1e9, jit / 1e9)
    }
  }

  def cpu(): Cpu = Cpu(os.getProcessCpuTime, jitThreadsNs())

  private val TickNs = 10000000L // USER_HZ = 100

  /** CPU time per JIT compiler thread ("C1/C2 CompilerThread<n>"), from
    * /proc/self/task/<tid>/stat (utime + stime); empty where there is no /proc. */
  def jitThreadsNs(): Map[String, Long] =
    Option(new java.io.File("/proc/self/task").listFiles()).toSeq.flatten.flatMap { t =>
      try {
        val stat = new String(Files.readAllBytes(Paths.get(t.getPath, "stat")))
        val close = stat.lastIndexOf(')')
        if (!stat.substring(stat.indexOf('(') + 1, close).contains("CompilerThre")) None
        else {
          val f = stat.substring(close + 2).split(" ") // f(0) is field 3, the state
          Some(t.getName -> (f(11).toLong + f(12).toLong) * TickNs)
        }
      } catch { case _: Throwable => None } // the thread ended meanwhile
    }.toMap

  private val mem = java.lang.management.ManagementFactory.getMemoryMXBean

  /** Heap and non-heap memory in use after a full collection, in MB: what
    * the program still holds, without the garbage that a heap of any size
    * carries until its next collection. Called before and after each
    * operation, outside its timing. Spark's context cleaner removes the
    * blocks of broadcasts and RDDs whose handles the first collection
    * found unreachable; the pause lets it run before the second. */
  def liveMb(): Double = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    (mem.getHeapMemoryUsage.getUsed + mem.getNonHeapMemoryUsage.getUsed) / 1048576.0
  }

  def vmHwmMb(): Double =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
      line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    } catch { case _: Throwable => 0.0 }

  def errorText(t: Throwable): String =
    (t.getClass.getSimpleName + ": " + String.valueOf(t.getMessage)).take(300)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val trace = new Trace(a.trace)
    val result: Map[String, Any] = a("workload") match {
      case "corpus-batch" => CorpusBatch.run(a, trace)
      case "gtfs-feed-ops" => FeedOps.run(a, trace)
      case "dump-oracles" => CorpusBatch.dumpOracles()
      case "train" =>
        // one short pass over both workloads' code paths, run once per
        // build to record the class-data archive later runs start from
        val traced = new Trace(true)
        CorpusBatch.run(Args(a.m + ("setups" -> "1")), traced)
        FeedOps.run(Args(a.m ++ Map("setups" -> "1", "data" -> a("gtfs-data"),
          "work" -> s"${a("work")}/feed")), traced)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val full = result ++ Map(
      "peak_rss_mb" -> vmHwmMb(),
      "spans" -> trace.spanRecords,
      "groups" -> trace.groups)
    Files.writeString(Paths.get(a("out")), Json.write(full))
    // every session is stopped and run.py removes the work directory, so
    // skip the shutdown hooks; Spark's non-daemon threads must not keep
    // the JVM alive either
    Runtime.getRuntime.halt(0)
  }
}
