package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The batch workloads: a fixed list of `SparkEntry.queries` over the
  * generated tables. A check pass writes every result for run.py to compare
  * with the DuckDB oracle; untimed rounds, then a fixed number of timed
  * rounds, run the same queries into the no-op sink.
  */
object Batch {
  val Tables: Seq[String] =
    "region nation customer supplier part orders lineitem events documents embeddings".split(" ").toSeq

  private def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def run(cfg: Cfg, tr: Tracer): Outcome = {
    val fns = graft.SparkEntry.queries
    val queries = cfg.list("queries")
    val unknown = queries.filterNot(fns.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val heap = new HeapProbe

    // set-up: session and table registration, repeated; the last one stays
    val setups = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (r <- 1 to cfg.i("setup_reps")) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = Main.session(cfg)
      Tables.foreach(t => graft.queries.Tables.t(spark, cfg.data, t).createOrReplaceTempView(t))
      setups += (if (r == 1) Main.sinceJvmStart() else (System.nanoTime() - t0) / 1e9)
    }
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val engine = new EngineListener
    val plans = new PlanListener
    if (tr.on) { sc.addSparkListener(engine); spark.listenerManager.register(plans) }
    def withSpan[T](id: Long)(body: => T): T =
      if (!tr.on) body else {
        sc.setLocalProperty(SpanProp.Key, id.toString)
        try body finally sc.setLocalProperty(SpanProp.Key, null)
      }

    var attempted = 0L
    var failed = 0L
    val notes = ArrayBuffer.empty[(String, String)]

    val phase = mutable.LinkedHashMap.empty[String, Double]
    var mark = Clock.now()
    def lap(name: String): Unit = { val t = Clock.now(); phase(name) = (t - mark) / 1e9; mark = t }
    phase("jvm_start_to_setup_end") = Main.sinceJvmStart()

    // check pass: results go to parquet for the oracle compare (run.py)
    val outDir = s"${cfg.work}/out"
    for (q <- queries) {
      attempted += 1
      try fns(q)(spark, cfg.data).write.mode("overwrite").parquet(s"$outDir/$q")
      catch { case e: Throwable =>
        failed += 1; notes += s"check_pass.$q" -> String.valueOf(e.getMessage).take(300)
      }
      release(spark)
    }
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => queries.contains(k) }
    val w = new java.io.PrintWriter(s"$outDir/oracle_sql.json", "UTF-8")
    try w.print(Json.obj(oracle.toSeq.map { case (k, v) => k -> Json.str(v) })) finally w.close()
    // once, after the check pass: the window runs a varying number of
    // queries, and Spark keeps per-execution records on the heap
    heap.sample()
    lap("check")

    // untimed rounds: the JIT compilers stay busy with the engine's hot code
    // for about three rounds; after that a round's time levels off
    for (_ <- 1 to cfg.i("warm_rounds"); q <- queries) {
      attempted += 1
      try fns(q)(spark, cfg.data).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        failed += 1; notes += s"warm.$q" -> String.valueOf(e.getMessage).take(300)
      }
      release(spark)
    }
    lap("warm")

    // timed window: a fixed number of rounds over the queries (run.py sizes
    // it from --seconds), so every run does the same work at the same point
    // of the JVM's warm-up; statistics are per-query medians over the rounds
    val spanQuery = mutable.Map.empty[Long, String]
    val walls = queries.map(_ -> ArrayBuffer.empty[Double]).toMap
    val planCounts = mutable.Map.empty[String, (Int, Int, Int)]
    val buildNs = new AtomicLong
    val gc0 = Main.gcSeconds()
    val win0 = Clock.now()
    val rounds = cfg.i("rounds")
    var runs = 0
    val roundJit = ArrayBuffer.empty[Double]
    while (runs < rounds * queries.size) {
      if (runs % queries.size == 0) roundJit += Main.jitSeconds()
      val q = queries(runs % queries.size)
      val trace = s"$q#${runs / queries.size}"
      runs += 1
      attempted += 1
      val t0 = Clock.now()
      try {
        tr.span(0L, trace, "queries", q) { qid =>
          val df = tr.span(qid, trace, "queries", "build") { bid =>
            spanQuery(bid) = q
            val b0 = Clock.now()
            val d = withSpan(bid)(fns(q)(spark, cfg.data))
            buildNs.addAndGet(Clock.now() - b0)
            d
          }
          if (tr.on) plans.clear()
          tr.span(qid, trace, "queries", "action") { aid =>
            spanQuery(aid) = q
            withSpan(aid)(df.write.format("noop").mode("overwrite").save())
          }
        }
        walls(q) += (Clock.now() - t0) / 1e9
        if (tr.on) plans.next().foreach(c =>
          planCounts(q) = (c.exchanges, c.broadcastJoins, c.sortMergeJoins))
      } catch { case e: Throwable =>
        failed += 1; notes += s"timed.$q" -> String.valueOf(e.getMessage).take(300)
      }
      release(spark)
    }
    val win1 = Clock.now()
    val gcS = Main.gcSeconds() - gc0
    lap("timed")

    // medians: a round that falls in one of the machine's slow spells, or
    // still carries JIT warm-up, moves a query's median less than its mean
    val med = queries.map(q => q -> Stats.median(walls(q).toSeq)).toMap
    val perQuery = queries.map(med)
    notes += "phase_s" -> phase.map { case (k, v) => f"$k=$v%.1f" }.mkString(" ")
    notes += "setup_reps_s" -> setups.map(x => f"$x%.2f").mkString(" ")
    notes += "rounds" -> rounds.toString
    notes += "round_jit_s" -> (roundJit :+ Main.jitSeconds()).sliding(2).map(w => f"${w(1) - w(0)}%.1f").mkString(" ")
    notes += "query_wall_s" -> queries.map(q => s"$q=" + walls(q).map(w => f"$w%.2f").mkString("/")).mkString(" ")

    // the latency and rate metrics of stream_serve have no batch meaning;
    // here they read the per-query latency (each query's median wall) and
    // the query rate of one round, so any speed-up moves them the right way
    // however a query splits its work into jobs
    val e2e = Map(
      "setup_s" -> Stats.median(setups.toSeq),
      "wall_s" -> perQuery.sum,
      "query_geomean_s" -> Stats.geomean(perQuery),
      "ingest_latency_p50_ms" -> Stats.quantile(perQuery, 0.5) * 1e3,
      "ingest_latency_p99_ms" -> Stats.quantile(perQuery, 0.99) * 1e3,
      "lookup_p50_ms" -> Stats.quantile(perQuery, 0.5) * 1e3,
      "lookup_p95_ms" -> Stats.quantile(perQuery, 0.95) * 1e3,
      "drain_rps" -> queries.size / perQuery.sum,
      "peak_heap_mb" -> heap.peakMb)

    val layers = mutable.LinkedHashMap.empty[String, Double]
    if (tr.on) {
      val js = engine.jobsIn(win0, win1)
      layers ++= SparkLayer.metrics(engine, js, win1 - win0, cfg.cores, rounds)
      layers("spark.gc_s") = gcS / rounds
      layers("spark.failed_tasks") = engine.failedTasks.get().toDouble
      layers("queries.build_s") = buildNs.get() / 1e9 / rounds
      val blocks = engine.blocks.toArray(Array.empty[(Long, Long)]).filter(b => b._1 >= win0 && b._1 < win1)
      layers("operators.checkpoint_blocks") = blocks.length.toDouble / rounds
      layers("operators.checkpoint_bytes") = blocks.map(_._2).sum.toDouble / rounds
      layers("plans.exchanges") = planCounts.values.map(_._1).sum.toDouble
      layers("plans.broadcast_joins") = planCounts.values.map(_._2).sum.toDouble
      layers("plans.sort_merge_joins") = planCounts.values.map(_._3).sum.toDouble
      val spansById = tr.all.map(s => s.id -> s).toMap
      for (q <- queries) {
        val qs = tr.all.filter(s => s.layer == "queries" && s.name == q && s.start >= win0)
        val gaps = qs.map { s =>
          val mine = js.filter(j => spanQuery.get(j.parent).contains(q) &&
            spansById.get(j.parent).exists(p => p.trace == s.trace))
          (s.dur - Stats.unionLen(mine.map(j => (j.start, math.min(j.end, s.end))))) / 1e9
        }
        layers(s"queries.$q.wall_s") = med(q)
        layers(s"queries.$q.jobs") = js.count(j => spanQuery.get(j.parent).contains(q)).toDouble / rounds
        layers(s"queries.$q.driver_gap_s") = Stats.median(gaps)
      }
      for (j <- engine.jobs.values.toArray(Array.empty[JobRec]))
        Trace.jobSpans(tr, engine, j, j.parent, spansById.get(j.parent).map(_.trace).getOrElse("other"))
    }
    spark.stop()
    Outcome(e2e, layers.toMap, attempted, failed, notes.toSeq)
  }
}
