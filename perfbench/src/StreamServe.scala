package perfbench

import java.util.SplittableRandom
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.dsl.{KGlobalTable, KStream}
import graft.state.{StoreHttp, StoreRegistry}
import graft.streaming.{KRecord, StreamingStateV2}

/** A generated keyed record: `cents < 0` marks an invalid record the
  * pipeline filters out; `tomb` deletes the key; `created` is the time the
  * record was due at the generator (run clock, ns).
  */
final case class Rec(key: String, ord: Long, cust: Long, cents: Long, tomb: Boolean, created: Long)

/** Seeded record source. Records come out in `ord` order from one RNG, so
  * record n has the same content on every run with the same seed, however
  * many records a run consumes. Keys are skewed (key index = keys * u^3).
  */
final class RecordGen(seed: Long, keys: Int, custs: Long) {
  private val rnd = new SplittableRandom(seed)
  private var ord = 0L
  def issued: Long = ord
  def key(i: Long): String = f"k$i%07d"

  /** One record per key, all valid: the store's initial contents. */
  def bootstrap(now: Long): Seq[Rec] = (0 until keys).map { k =>
    val r = Rec(key(k), ord, rnd.nextLong(custs), rnd.nextLong(100000), tomb = false, now)
    ord += 1
    r
  }

  def next(created: Long): Rec = {
    val u = rnd.nextDouble()
    val k = (keys * u * u * u).toLong
    val invalid = rnd.nextDouble() < 0.05
    val cents = if (invalid) -1 - rnd.nextLong(1000) else rnd.nextLong(100000)
    val r = Rec(key(k), ord, rnd.nextLong(custs), cents, rnd.nextDouble() < 0.02, created)
    ord += 1
    r
  }
}

/** Micro-batch progress kept by batch id; on in every run, because ingest
  * latency and drain throughput are read from it.
  */
final class Progress extends StreamingQueryListener {
  val byBatch = new ConcurrentHashMap[Long, StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    byBatch.put(e.progress.batchId, e.progress)
  def all: Seq[StreamingQueryProgress] = byBatch.values.asScala.toVector.sortBy(_.batchId)
  /** Highest MemoryStream offset committed so far (-1 before any batch). */
  def committed: Long = all.lastOption.map(p => StreamServe.offset(p.sources.head.endOffset)).getOrElse(-1L)
}

/** stream_serve: records → MemoryStream → KStream.filter → transformValues →
  * joinGlobalTable(customer) → StreamingStateV2.latestByKey (RocksDB) →
  * foreachBatch StoreRegistry.upsert, with HTTP readers on the store. A
  * paced phase (open-loop generator at a fixed rate, readers on) gives the
  * latencies; a drain phase (closed loop, one fixed-size chunk per trigger,
  * readers off) gives the throughput.
  */
object StreamServe {
  val Store = "orders_latest"
  val Rocks = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private def count(s: String, sub: String): Int = s.sliding(sub.length).count(_ == sub)

  def offset(json: String): Long = if (json == null) -1L else json.trim.toLong

  /** One started pipeline: what set-up builds and tear-down stops. */
  final class Env(val spark: SparkSession, val mem: MemoryStream[Rec],
      val query: StreamingQuery, val registry: StoreRegistry, val http: StoreHttp,
      val port: Int, val progress: Progress, val emitted: ConcurrentHashMap[Long, Long],
      val gen: RecordGen, val custs: Map[Long, (Int, String)], val ckpt: String) {
    /** MemoryStream offset → the records added under it. */
    val chunks = mutable.LinkedHashMap.empty[Long, Seq[Rec]]
    def add(recs: Seq[Rec]): Long = {
      val off = offset(mem.addData(recs).json)
      chunks(off) = recs
      off
    }
    def records(batch: StreamingQueryProgress): Seq[Rec] = {
      val s = offset(batch.sources.head.startOffset)
      val e = offset(batch.sources.head.endOffset)
      chunks.iterator.filter { case (o, _) => o > s && o <= e }.flatMap(_._2).toSeq
    }
    def stop(): Unit = {
      query.stop()
      http.stop()
      spark.streams.removeListener(progress)
      spark.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      deleteTree(new java.io.File(ckpt))
    }
  }

  def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  val setupLaps = ArrayBuffer.empty[String]
  private def setup(cfg: Cfg, tr: Tracer, rep: Int): Env = {
    var mark = System.nanoTime()
    def lap(n: String): Unit = { val t = System.nanoTime(); setupLaps += f"$rep.$n=${(t - mark) / 1e9}%.2f"; mark = t }
    val spark = Main.session(cfg, Map("spark.sql.streaming.stateStore.providerClass" -> Rocks,
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true"))
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val custDf = graft.queries.Tables.t(spark, cfg.data, "customer")
      .select("c_custkey", "c_nationkey", "c_mktsegment")
    val customers = KGlobalTable.fromStatic(custDf, "c_custkey")
    val custs = custDf.as[(Long, Int, String)].collect().map(c => c._1 -> (c._2, c._3)).toMap
    val gen = new RecordGen(cfg.seed, cfg.i("keys"), custs.size.toLong)
    lap("session+customer")
    val mem = MemoryStream[Rec](100 + rep, spark, Some(cfg.cores))
    val records = KStream(mem.toDF(), "key")
      .filter(col("tomb") || col("cents") >= 0)
      .transformValues("net_cents" -> expr("cents * 97 div 100"))
      .joinGlobalTable(customers, col("cust"))
      .toDF
      .select(col("key"), col("ord"),
        when(col("tomb"), lit(null).cast("string")).otherwise(concat_ws("|",
          col("cust"), col("c_nationkey"), col("c_mktsegment"), col("net_cents"))).as("value"),
        col("created").as("version"))
      .as[KRecord]
    val registry = new StoreRegistry(spark)
    val emitted = new ConcurrentHashMap[Long, Long]
    val progress = new Progress
    spark.streams.addListener(progress)
    val ckpt = s"${cfg.work}/ckpt-$rep"
    val query = StreamingStateV2.latestByKey(records).writeStream
      .outputMode("update").queryName(s"stream_serve_$rep")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: Dataset[KRecord], id: Long) =>
        val t0 = Clock.now()
        registry.upsert(Store, b.toDF(), Seq("key"), Seq(col("ord")))
        val t1 = Clock.now()
        emitted.put(id, t1)
        tr.record(0L, s"trigger-$id", "state", "upsert", t0, t1)
        ()
      }.start()
    val http = new StoreHttp(registry)
    http.registerIndex(Store, "cust", split(col("value"), "\\|").getItem(0))
    val env = new Env(spark, mem, query, registry, http, http.start(), progress,
      emitted, gen, custs, ckpt)
    // bootstrap: one trigger carries every key's first record into the store
    env.add(gen.bootstrap(Clock.now()))
    query.processAllAvailable()
    lap("bootstrap")
    env
  }

  def run(cfg: Cfg, tr: Tracer): Outcome = {
    val heap = new HeapProbe
    val setups = ArrayBuffer.empty[Double]
    var env: Env = null
    for (r <- 1 to cfg.i("setup_reps")) {
      if (env != null) env.stop()
      val t0 = System.nanoTime()
      env = setup(cfg, tr, r)
      setups += (if (r == 1) Main.sinceJvmStart() else (System.nanoTime() - t0) / 1e9)
    }
    val spark = env.spark
    val sc = spark.sparkContext
    val engine = new EngineListener
    if (tr.on) sc.addSparkListener(engine)
    val notes = ArrayBuffer.empty[(String, String)]
    heap.sample()

    // paced phase: open-loop generator, one tick every 10 ms; each record is
    // stamped with the time it was due, so a stalled generator shows as
    // latency and as generator lateness
    val rate = cfg.d("rate")
    val keys = cfg.i("keys")
    val readers = new Readers(env.port, cfg.i("readers"), cfg.seed, tr, rnd => {
      if (rnd.nextDouble() < 0.2) {
        val c = rnd.nextLong(env.custs.size.toLong)
        Lookup(s"/stores/$Store/indexes/cust/$c", b =>
          count(b, "\"key\":") == count(b, s""""value":"$c|"""))
      } else {
        val k = env.gen.key(rnd.nextLong(keys.toLong))
        Lookup(s"/stores/$Store/$k", _.contains(s""""key":"$k""""))
      }
    })
    // the generator's schedule starts at w0; records due before p0 (the
    // warm-up) and lookups sent before p0 are left out of the statistics
    val warmNs = (cfg.d("warmup") * 1e9).toLong
    val pacedNs = (cfg.seconds * 1e9).toLong
    val lateMs = ArrayBuffer.empty[Double]
    var sent = 0L
    readers.start()
    val w0 = Clock.now()
    val p0 = w0 + warmNs
    def pace(until: Long): Unit = while (Clock.now() < until) {
      val due = ((Clock.now() - w0) * rate / 1e9).toLong
      if (due > sent) {
        val recs = (sent until due).map(i => env.gen.next(w0 + (i * 1e9 / rate).toLong))
        env.add(recs)
        if (recs.head.created >= p0) lateMs += (Clock.now() - recs.head.created) / 1e6
        sent = due
      }
      Thread.sleep(10)
    }
    pace(p0)
    val firstPaced = env.chunks.keys.max + 1
    val sentAtP0 = sent
    val gc0 = Main.gcSeconds()
    pace(p0 + pacedNs)
    val p1 = Clock.now()
    readers.stopAndJoin()
    val committedAtEnd = env.progress.committed
    val offered = sent - sentAtP0
    val processedAtEnd = env.chunks.iterator
      .filter { case (o, _) => o >= firstPaced && o <= committedAtEnd }.map(_._2.size.toLong).sum
    env.query.processAllAvailable()
    val pacedGc = Main.gcSeconds() - gc0
    val lastPaced = env.chunks.keys.max
    heap.sample()

    // drain phase: readers off, closed loop: the next fixed-size chunk is
    // queued as soon as the previous one is committed, a fixed number of times
    val chunk = cfg.i("chunk")
    val nChunks = cfg.i("chunks")
    val d0 = Clock.now()
    var lastOff = lastPaced
    val queued = ArrayBuffer.empty[Long]
    for (_ <- 1 to nChunks) {
      while (env.progress.committed < lastOff) {
        env.query.exception.foreach(e => throw e)
        Thread.sleep(1)
      }
      val now = Clock.now()
      queued += now
      lastOff = env.add(Seq.fill(chunk)(env.gen.next(now)))
    }
    env.query.processAllAvailable()
    val d1 = Clock.now()
    // a chunk's time runs from its queueing to the next one's (to the end of
    // the phase for the last)
    val chunkS = (queued :+ d1).sliding(2).map(w => (w(1) - w(0)) / 1e9).toSeq
    // the last batch's progress event can trail processAllAvailable
    val deadline = System.currentTimeMillis() + 5000
    while (env.progress.committed < lastOff && System.currentTimeMillis() < deadline) Thread.sleep(5)
    heap.sample()

    // latency: every record of a batch that passed the filter is emitted
    // when that batch's upsert returns
    val batches = env.progress.all
    def inRange(b: StreamingQueryProgress, lo: Long, hi: Long): Boolean = {
      val s = offset(b.sources.head.startOffset)
      s + 1 >= lo && s + 1 <= hi
    }
    val paced = batches.filter(b => inRange(b, firstPaced, lastPaced))
    val drain = batches.filter(b => inRange(b, lastPaced + 1, lastOff))
    val lat = paced.flatMap { b =>
      val emit = env.emitted.get(b.batchId)
      env.records(b).filter(r => r.tomb || r.cents >= 0).map(r => (r.created, (emit - r.created) / 1e6))
    }
    val latMs = lat.map(_._2)
    // the 99th percentile rests on the slowest one or two triggers; the
    // median over the phase's four quarters (by creation time) keeps one
    // slow spell of the machine from setting it
    val quarterP99 = (0 until 4).map { i =>
      val lo = p0 + (p1 - p0) * i / 4
      val hi = p0 + (p1 - p0) * (i + 1) / 4
      Stats.quantile(lat.collect { case (c, ms) if c >= lo && c < hi => ms }, 0.99)
    }
    val drainRecords = drain.map(_.numInputRows).sum
    val lookupMs = readers.latenciesMs(p0)

    // output check, outside the timed phases: the store must equal a
    // latest-by-key over exactly the generated records
    val expected = mutable.HashMap.empty[String, (Long, String)]
    env.chunks.valuesIterator.flatten.foreach { r =>
      if (r.tomb) expected(r.key) = (r.ord, null)
      else if (r.cents >= 0) {
        val (nation, seg) = env.custs(r.cust)
        expected(r.key) = (r.ord, s"${r.cust}|$nation|$seg|${r.cents * 97 / 100}")
      }
    }
    import spark.implicits._
    val got = env.registry.store(Store).select("key", "ord", "value")
      .as[(String, Long, String)].collect()
    val gotMap = got.map(g => g._1 -> (g._2, g._3)).toMap
    val storeBad = expected.count { case (k, v) => !gotMap.get(k).contains(v) } +
      gotMap.keys.count(k => !expected.contains(k))
    notes += "store_keys" -> s"expected=${expected.size} got=${gotMap.size} mismatched=$storeBad"
    notes += "setup_reps_s" -> setups.map(x => f"$x%.2f").mkString(" ")
    notes += "setup_laps_s" -> setupLaps.mkString(" ")
    notes += "phase_s" -> f"paced=${(p1 - p0) / 1e9}%.1f drain=${(d1 - d0) / 1e9}%.1f"
    notes += "lookups" -> lookupMs.size.toString
    notes += "latency_samples" -> latMs.size.toString
    notes += "paced_triggers" -> paced.size.toString
    notes += "drain" -> s"records=$drainRecords triggers=${drain.size}"
    notes += "drain_chunk_s" -> chunkS.map(x => f"$x%.2f").mkString(" ")
    notes += "ingest_p99_quarters_ms" -> quarterP99.map(x => f"$x%.0f").mkString(" ")
    readers.failedPaths.foreach(p => notes += "lookup_failed" -> p)
    val generated = env.gen.issued
    val attempted = generated + readers.sent.get()
    val failed = readers.failed.get() + storeBad

    val durMs = (b: StreamingQueryProgress, k: String) =>
      Option(b.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val e2e = Map(
      "setup_s" -> Stats.median(setups.toSeq),
      "wall_s" -> (d1 - d0) / 1e9,
      "query_geomean_s" -> Stats.geomean(paced.map(durMs(_, "triggerExecution") / 1e3)),
      "ingest_latency_p50_ms" -> Stats.quantile(latMs, 0.5),
      "ingest_latency_p99_ms" -> Stats.median(quarterP99),
      "lookup_p50_ms" -> Stats.quantile(lookupMs, 0.5),
      "lookup_p95_ms" -> Stats.quantile(lookupMs, 0.95),
      // median chunk, for the same reason as the quarters above
      "drain_rps" -> chunk / Stats.median(chunkS),
      "peak_heap_mb" -> heap.peakMb)

    val layers = mutable.LinkedHashMap.empty[String, Double]
    if (tr.on) {
      val js = engine.jobsIn(p0, p1)
      layers ++= SparkLayer.metrics(engine, js, p1 - p0, cfg.cores, 1)
      layers("spark.gc_s") = pacedGc
      layers("spark.failed_tasks") = engine.failedTasks.get().toDouble
      val trig = paced.map(durMs(_, "triggerExecution"))
      layers("streaming.triggers") = paced.size.toDouble
      layers("streaming.trigger_p50_ms") = Stats.quantile(trig, 0.5)
      layers("streaming.trigger_p99_ms") = Stats.quantile(trig, 0.99)
      layers("streaming.rows_per_trigger") = Stats.median(paced.map(_.numInputRows.toDouble))
      for ((k, n) <- Seq("latestOffset" -> "latest_offset_ms", "queryPlanning" -> "query_planning_ms",
          "addBatch" -> "add_batch_ms", "walCommit" -> "wal_commit_ms",
          "commitOffsets" -> "commit_offsets_ms"))
        layers(s"streaming.$n") = Stats.median(paced.map(durMs(_, k)))
      layers("streaming.backlog_rows") = (offered - processedAtEnd).toDouble
      layers("streaming.gen_late_ms") = Stats.quantile(lateMs.toSeq, 0.99)
      val ops = paced.flatMap(_.stateOperators.headOption)
      layers("state.commit_ms") = Stats.median(ops.map(_.commitTimeMs.toDouble))
      layers("state.rows_total") = ops.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0)
      layers("state.rows_updated") = Stats.median(ops.map(_.numRowsUpdated.toDouble))
      layers("state.memory_bytes") = ops.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0)
      for (m <- RocksMetrics)
        layers(s"state.$m") = Stats.median(ops.map(o =>
          Option(o.customMetrics.get(m)).map(_.doubleValue).getOrElse(0.0)))
      val upserts = tr.all.filter(s => s.name == "upsert" && s.start >= p0 && s.start < p1)
      layers("state.upsert_ms") = Stats.median(upserts.map(_.dur / 1e6))
      layers("state.snapshot_rows") = got.length.toDouble
      val pacedLookups = lookupMs.size.max(1)
      layers("state.lookup_jobs") = js.count(j => !j.stream && j.parent == 0L).toDouble / pacedLookups
      traceTriggers(tr, batches, engine)
    }
    env.stop()
    Outcome(e2e, layers.toMap, attempted, failed, notes.toSeq)
  }

  /** RocksDB state-store metrics reported per trigger (medians). */
  val RocksMetrics: Seq[String] = Seq(
    "rocksdbCommitWriteBatchLatency", "rocksdbCommitFlushLatency",
    "rocksdbCommitCompactLatency", "rocksdbCommitCheckpointLatency",
    "rocksdbGetCount", "rocksdbPutCount", "rocksdbSstFileSize", "rocksdbTotalBytesWritten")

  /** Trigger spans with their `durationMs` phases as children, the upsert
    * spans under their trigger, and engine jobs and stages under whichever
    * trigger or lookup they ran in.
    */
  private def traceTriggers(tr: Tracer, batches: Seq[StreamingQueryProgress],
      engine: EngineListener): Unit = {
    val trig = batches.map { b =>
      val start = Clock.fromEpochMs(java.time.Instant.parse(b.timestamp).toEpochMilli)
      val total = (Option(b.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)) * 1000000L
      val trace = s"trigger-${b.batchId}"
      val id = tr.record(0L, trace, "streaming", "trigger", start, start + total)
      var t = start
      for (ph <- Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")) {
        val d = Option(b.durationMs.get(ph)).map(_.longValue).getOrElse(0L) * 1000000L
        if (d > 0) { tr.record(id, trace, "streaming", ph, t, t + d); t += d }
      }
      (id, trace, start, start + total)
    }
    val lookups = tr.all.filter(_.name == "lookup")
    tr.relink("upsert", "trigger")
    for (j <- engine.jobs.values.asScala) {
      val (parent, trace) =
        if (j.stream) trig.find(x => j.start >= x._3 && j.start <= x._4).map(x => (x._1, x._2)).getOrElse((0L, "stream"))
        else lookups.find(l => j.start >= l.start && j.start <= l.end).map(l => (l.id, l.trace)).getOrElse((0L, "other"))
      Trace.jobSpans(tr, engine, j, parent, trace)
    }
  }
}
