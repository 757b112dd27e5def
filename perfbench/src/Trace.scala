package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Times are nanoseconds on the run clock
  * ([[Clock]]); `trace` groups the spans of one query, trigger or lookup.
  */
final case class Span(id: Long, parent: Long, trace: String, layer: String,
    name: String, start: Long, end: Long) {
  def dur: Long = end - start
}

/** One clock for benchmark spans (System.nanoTime) and listener events
  * (epoch milliseconds), so job intervals and query spans can be compared.
  */
object Clock {
  private val nano0 = System.nanoTime()
  private val epochNs0 = System.currentTimeMillis() * 1000000L
  def now(): Long = System.nanoTime() - nano0
  def fromEpochMs(ms: Long): Long = ms * 1000000L - epochNs0
}

/** In-memory span store; written out once when the run ends. With tracing
  * off every call is a plain pass-through.
  */
final class Tracer(val on: Boolean) {
  private val ids = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Span]

  def record(parent: Long, trace: String, layer: String, name: String,
      start: Long, end: Long): Long =
    if (!on) 0L else {
      val id = ids.incrementAndGet()
      spans.add(Span(id, parent, trace, layer, name, start, end))
      id
    }

  /** Times `body` as a span; `body` gets the span id to parent its children. */
  def span[T](parent: Long, trace: String, layer: String, name: String)(body: Long => T): T =
    if (!on) body(0L) else {
      val id = ids.incrementAndGet()
      val t0 = Clock.now()
      try body(id)
      finally spans.add(Span(id, parent, trace, layer, name, t0, Clock.now()))
    }

  def all: Seq[Span] = spans.asScala.toVector

  /** Parents each unparented span named `child` under the span named
    * `parent` of the same trace (for children recorded before their parent).
    */
  def relink(child: String, parent: String): Unit = if (on) {
    val now = all
    val parents = now.filter(_.name == parent).map(s => s.trace -> s.id).toMap
    spans.clear()
    now.foreach(s => spans.add(
      if (s.name == child && s.parent == 0L) parents.get(s.trace).fold(s)(p => s.copy(parent = p))
      else s))
  }

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.sortBy(_.start).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"trace":${Json.str(s.trace)},""" +
        s""""layer":"${s.layer}","name":${Json.str(s.name)},"start_ns":${s.start},"end_ns":${s.end}}""")
    } finally w.close()
  }
}

object Trace {
  /** A job span under `parent`, with its stages as children. */
  def jobSpans(tr: Tracer, engine: EngineListener, j: JobRec, parent: Long, trace: String): Unit = {
    val id = tr.record(parent, trace, "spark", s"job ${j.id}", j.start, math.max(j.end, j.start))
    engine.stagesOf(Seq(j)).foreach(s => tr.record(id, trace, "spark", s"stage ${s.id}", s.start, s.end))
  }
}

/** Local property carrying the benchmark span that issued a Spark job. */
object SpanProp { val Key = "perfbench.span" }

final case class JobRec(id: Int, start: Long, var end: Long, parent: Long,
    stream: Boolean, stages: Seq[Int])

final case class StageRec(id: Int, job: Int, start: Long, end: Long, tasks: Int,
    runMs: Long, cpuNs: Long, shuffleRead: Long, shuffleWrite: Long,
    spill: Long, inBytes: Long, inRows: Long)

/** The `spark` layer as seen from outside the engine: jobs, stages, task
  * totals, failed tasks and RDD blocks (the blocks `localCheckpoint`
  * writes). Registered only on traced runs.
  */
final class EngineListener extends SparkListener {
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]
  val stages = new ConcurrentLinkedQueue[StageRec]
  val failedTasks = new AtomicLong
  val blocks = new ConcurrentLinkedQueue[(Long, Long)] // (time, bytes)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val parent = p.flatMap(x => Option(x.getProperty(SpanProp.Key))).map(_.toLong).getOrElse(0L)
    val stream = p.exists(x => x.getProperty("sql.streaming.queryId") != null)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    jobs.put(e.jobId, JobRec(e.jobId, Clock.fromEpochMs(e.time), -1L, parent, stream, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(j => j.end = Clock.fromEpochMs(e.time))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stages.add(StageRec(i.stageId, stageJob.getOrDefault(i.stageId, -1),
      i.submissionTime.map(Clock.fromEpochMs).getOrElse(0L),
      i.completionTime.map(Clock.fromEpochMs).getOrElse(0L), i.numTasks,
      m.executorRunTime, m.executorCpuTime,
      m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
      m.inputMetrics.bytesRead, m.inputMetrics.recordsRead))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.reason != org.apache.spark.Success) failedTasks.incrementAndGet()

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid)
      blocks.add((Clock.now(), b.memSize + b.diskSize))
  }

  def jobsIn(t0: Long, t1: Long): Seq[JobRec] =
    jobs.values.asScala.filter(j => j.start >= t0 && j.start < t1).toVector.sortBy(_.start)

  def stagesOf(js: Seq[JobRec]): Seq[StageRec] = {
    val ids = js.map(_.id).toSet
    stages.asScala.filter(s => ids(s.job)).toVector
  }
}

/** Operator counts of each finished write's final (post-AQE) plan; the
  * benchmark's actions are writes, which keeps out the plans of
  * `localCheckpoint` jobs run while a query is built.
  */
final class PlanListener extends QueryExecutionListener {
  final case class PlanCounts(exchanges: Int, broadcastJoins: Int, sortMergeJoins: Int)
  private val seen = new java.util.concurrent.LinkedBlockingQueue[PlanCounts]

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val nodes = PlanListener.nodes(qe.executedPlan)
    if (nodes.exists(_.isInstanceOf[V2TableWriteExec])) seen.put(PlanCounts(nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
      nodes.count(_.isInstanceOf[BroadcastHashJoinExec]),
      nodes.count(_.isInstanceOf[SortMergeJoinExec])))
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def clear(): Unit = seen.clear()
  /** The counts of the next finished action, waiting for the listener bus. */
  def next(timeoutMs: Long = 5000): Option[PlanCounts] =
    Option(seen.poll(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS))
}

object PlanListener extends AdaptiveSparkPlanHelper {
  /** Every node of the plan, looking inside adaptive plans and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = collectWithSubqueries(p) { case n => n }
}

/** Interval arithmetic and order statistics for the derived metrics. */
object Stats {
  /** Length of the union of [start, end) intervals. */
  def unionLen(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** The layer metrics every workload derives the same way, from the jobs
  * and stages inside a timed window of `wallNs`, divided by `per` (the
  * number of rounds over a batch workload's queries; 1 for a stream).
  */
object SparkLayer {
  def metrics(l: EngineListener, js: Seq[JobRec], wallNs: Long, cores: Int,
      per: Double): mutable.LinkedHashMap[String, Double] = {
    val st = l.stagesOf(js)
    val busy = Stats.unionLen(js.map(j => (j.start, j.end)))
    val runS = st.map(_.runMs).sum / 1e3
    val m = mutable.LinkedHashMap[String, Double](
      "spark.jobs" -> js.size.toDouble / per,
      "spark.stages" -> st.size.toDouble / per,
      "spark.tasks" -> st.map(_.tasks).sum.toDouble / per,
      "spark.job_busy_s" -> busy / 1e9 / per,
      "spark.driver_gap_s" -> math.max(0L, wallNs - busy) / 1e9 / per,
      "spark.shuffle_read_bytes" -> st.map(_.shuffleRead).sum.toDouble / per,
      "spark.shuffle_write_bytes" -> st.map(_.shuffleWrite).sum.toDouble / per,
      "spark.spill_bytes" -> st.map(_.spill).sum.toDouble / per,
      "spark.executor_run_s" -> runS / per,
      "spark.executor_cpu_s" -> st.map(_.cpuNs).sum / 1e9 / per,
      "spark.slot_util" -> (if (wallNs > 0) runS / (wallNs / 1e9 * cores) else 0.0),
      "sources.input_bytes" -> st.map(_.inBytes).sum.toDouble / per,
      "sources.input_rows" -> st.map(_.inRows).sum.toDouble / per)
    m
  }
}
