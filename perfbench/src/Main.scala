package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Run settings, passed by run.py as `--key value` pairs. */
final case class Cfg(kv: Map[String, String]) {
  def s(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
  def i(k: String): Int = s(k).toInt
  def l(k: String): Long = s(k).toLong
  def d(k: String): Double = s(k).toDouble
  def list(k: String): Seq[String] = s(k).split(",").toSeq.filter(_.nonEmpty)
  def workload: String = s("workload")
  def seed: Long = l("seed")
  def seconds: Double = d("seconds")
  def traced: Boolean = s("trace") == "1"
  def cores: Int = i("cores")
  def data: String = s("data")
  def work: String = s("work")
}

/** What a workload hands back: end-to-end metrics, layer metrics, operation
  * counts, and free-form notes for the human-readable report.
  */
final case class Outcome(
    e2e: Map[String, Double], layers: Map[String, Double],
    attempted: Long, failed: Long, notes: Seq[(String, String)])

/** Heap occupancy right after a full collection, sampled at the ends of
  * phases (outside timed regions), so it measures the live set rather than
  * the collector's timing.
  */
final class HeapProbe {
  private var peak = 0L
  def sample(): Unit = {
    // twice: the first collection lets Spark's ContextCleaner drop blocks of
    // unreachable RDDs, the second frees them
    System.gc()
    Thread.sleep(100)
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    peak = math.max(peak, used)
  }
  def peakMb: Double = peak / 1048576.0
}

object Main {
  /** Wall-clock GC time of the whole JVM (the engine runs in-process). */
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Time the JIT compilers have spent so far. */
  def jitSeconds(): Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split(" ").take(3).mkString(" ")
    catch { case _: Throwable => "" }

  /** Seconds since the JVM started, for the first set-up repetition. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def session(cfg: Cfg, extra: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${cfg.cores}]")
      .appName(s"perfbench-${cfg.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cfg.s("shuffle"))
      .config("spark.local.dir", s"${cfg.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${cfg.work}/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      // the status store keeps this many finished jobs, stages and SQL
      // executions; bounded, so the heap after GC does not grow with how
      // many triggers and lookups a run happened to fit in
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.sql.ui.retainedExecutions", "100")
    extra.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }.getOrCreate()
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val cfg = Cfg(kv)
    val tracer = new Tracer(cfg.traced)
    val load0 = loadavg()
    val out = cfg.workload match {
      case "stream_serve" => StreamServe.run(cfg, tracer)
      case "batch_iterative" => Batch.run(cfg, tracer)
      case w => sys.error(s"unknown workload $w")
    }
    if (cfg.traced) tracer.write(cfg.s("spans"))
    val controls = Seq(
      "seed" -> cfg.seed.toString, "master" -> s"local[${cfg.cores}]",
      "shuffle_partitions" -> cfg.s("shuffle"),
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "spark_local_dir" -> s"${cfg.work}/spark-local",
      "loadavg_start" -> load0, "loadavg_end" -> loadavg())
    def nums(m: Map[String, Double]) = Json.obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
    def strs(m: Seq[(String, String)]) = Json.obj(m.map { case (k, v) => k -> Json.str(v) })
    val json = Json.obj(Seq(
      "e2e" -> nums(out.e2e), "layers" -> nums(out.layers),
      "attempted" -> out.attempted.toString, "failed" -> out.failed.toString,
      "notes" -> strs(out.notes), "controls" -> strs(controls)))
    val w = new java.io.PrintWriter(cfg.s("out"), "UTF-8")
    try w.println(json) finally w.close()
  }
}
