package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.{KRecord, StreamingState, StreamingStateV2}

/** The transformWithState (Spark 4 arbitrary-state API) forms, run on the
  * RocksDB state store provider they require — semantics must match the
  * mapGroupsWithState forms in StreamingSpec.
  */
class StreamingStateV2Spec extends SparkSpec {
  import spark.implicits._
  implicit private lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val providerKey = "spark.sql.streaming.stateStore.providerClass"
  private val rocksProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private def withRocks[T](body: => T): T = {
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey, rocksProvider)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None    => spark.conf.unset(providerKey)
    }
  }

  private var nextSink = 0
  private def run(
      mem: MemoryStream[KRecord], out: org.apache.spark.sql.Dataset[KRecord])(
      batches: Seq[KRecord]*): String = withRocks {
    nextSink += 1
    val name = s"graft_tws_$nextSink"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Update()).start()
    try batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    name
  }

  /** Sink rows of `form` over `batches`, in a stable order. */
  private def outputs(form: Dataset[KRecord] => Dataset[KRecord])(
      batches: Seq[KRecord]*): Seq[KRecord] = {
    val mem = MemoryStream[KRecord]
    val name = run(mem, form(mem.toDS()))(batches: _*)
    spark.table(name).as[KRecord].collect().toSeq
      .sortBy(r => (r.key, r.ord, r.version, Option(r.value)))
  }

  test("mapGroupsWithState and transformWithState forms emit identical rows") {
    val latest = Seq(
      Seq(KRecord("a", 1, "a1"), KRecord("b", 1, "b1")),
      Seq(KRecord("a", 2, "a2"), KRecord("a", 0, "stale"), KRecord("c", 1, "c1")),
      // tombstone for b; a's equal-ord arrival keeps the stored record
      Seq(KRecord("b", 9, null), KRecord("a", 2, "a2-tie")),
      Seq(KRecord("b", 3, "b-after-delete")))
    val v1Latest = outputs(StreamingState.latestByKey)(latest: _*)
    assert(v1Latest.contains(KRecord("b", 9, null)))
    assert(v1Latest.count(_ == KRecord("a", 2, "a2")) === 2)
    assert(outputs(ds => StreamingStateV2.latestByKey(ds))(latest: _*) === v1Latest)

    val versioned = Seq(
      Seq(KRecord("k", 1, "v1", version = 5), KRecord("j", 1, "j1", version = 1)),
      // equal version ⇒ k keeps v1; lower version ⇒ j keeps j1
      Seq(KRecord("k", 2, "same-version", version = 5),
        KRecord("j", 2, "j-old", version = 0)),
      Seq(KRecord("k", 3, "v2", version = 6), KRecord("j", 3, null, version = 2)))
    val v1Versioned = outputs(StreamingState.versionedUpsert)(versioned: _*)
    assert(v1Versioned.filter(_.key == "k").map(_.value) === Seq("v1", "v1", "v2"))
    assert(outputs(StreamingStateV2.versionedUpsert)(versioned: _*) === v1Versioned)
  }

  test("transformWithState latestByKey: newest wins, tombstone deletes") {
    val mem = MemoryStream[KRecord]
    val name = run(mem, StreamingStateV2.latestByKey(mem.toDS()))(
      Seq(KRecord("a", 1, "a1"), KRecord("b", 1, "b1")),
      Seq(KRecord("a", 2, "a2"), KRecord("a", 0, "stale")),
      Seq(KRecord("b", 9, null))
    )
    val last = spark.table(name).as[KRecord].collect()
      .groupBy(_.key).map { case (k, rs) => k -> rs.maxBy(_.ord) }
    assert(last("a").value === "a2")
    assert(last("b").value === null)
  }

  test("transformWithState latestByKey honors store-enforced TTL") {
    // ProcessingTime mode runs no-data batches continuously, so
    // processAllAvailable never quiesces — poll the sink with a deadline
    // (same gotcha as ProcessingTimeTimeout, see StreamingSpec).
    val mem = MemoryStream[KRecord]
    withRocks {
      val q = StreamingStateV2.latestByKey(mem.toDS(),
          ttl = Some(java.time.Duration.ofMillis(300)))
        .writeStream.format("memory").queryName("graft_tws_ttl")
        .outputMode(OutputMode.Update()).start()
      try {
        def values = spark.table("graft_tws_ttl").as[KRecord].collect()
          .sortBy(_.ord).map(_.value).toSeq
        mem.addData(KRecord("a", 5, "v5"))
        val d1 = System.currentTimeMillis() + 60000
        while (values != Seq("v5") && System.currentTimeMillis() < d1)
          Thread.sleep(100)
        assert(values === Seq("v5"))
        Thread.sleep(1500) // let the state's TTL lapse
        // stale ord would lose to live state; it wins ⇒ state expired
        mem.addData(KRecord("a", 1, "v1"))
        val d2 = System.currentTimeMillis() + 60000
        while (values != Seq("v1", "v5") && System.currentTimeMillis() < d2)
          Thread.sleep(100)
        assert(values === Seq("v1", "v5"))
      } finally q.stop()
    }
  }

  test("snapshotEvery (punctuate): timer emits one snapshot per dirty key, then goes quiet") {
    import graft.streaming.StreamingStateV2.Snapshot
    val mem = MemoryStream[(String, Long, String)]
    withRocks {
      val q = StreamingStateV2.snapshotEvery(
          mem.toDS(), java.time.Duration.ofMillis(300))
        .writeStream.format("memory").queryName("graft_tws_snap")
        .outputMode(OutputMode.Append()).start()
      try {
        def snaps = spark.table("graft_tws_snap").as[Snapshot].collect().toSeq
        // three updates to k1 in one batch, before the timer fires →
        // ONE snapshot carrying the highest-seq value and the update count
        // (one addData call = one microbatch, so the counter can't be
        // split by an early timer); "latest" is decided by the seq field,
        // not row order, so the assertion is retry-deterministic
        mem.addData(("k1", 1L, "v1"), ("k1", 2L, "v2"), ("k1", 3L, "v3"), ("k2", 1L, "w1"))
        val d1 = System.currentTimeMillis() + 60000
        while (snaps.size < 2 && System.currentTimeMillis() < d1)
          Thread.sleep(100)
        val byKey = snaps.groupBy(_.key)
        assert(byKey("k1") === Seq(Snapshot("k1", "v3", 3)))
        assert(byKey("k2") === Seq(Snapshot("k2", "w1", 1)))
        // clean keys register no further timers: no new snapshots arrive
        Thread.sleep(1200)
        assert(snaps.size === 2, s"clean keys must stay quiet, got $snaps")
        // a new update re-arms the timer for that key only
        mem.addData(("k1", 4L, "v4"))
        val d2 = System.currentTimeMillis() + 60000
        while (snaps.size < 3 && System.currentTimeMillis() < d2)
          Thread.sleep(100)
        assert(snaps.count(_.key == "k1") === 2)
        assert(snaps.filter(_.key == "k1").map(_.value).toSet === Set("v3", "v4"))
      } finally q.stop()
    }
  }

  test("asOfEnrich: events see the table value as of their own timestamp") {
    import graft.streaming.StreamingStateV2.{AsOfInput, AsOfMatch}
    val mem = MemoryStream[AsOfInput]
    val out = withRocks {
      val q = StreamingStateV2.asOfEnrich(mem.toDS())
        .writeStream.format("memory").queryName("graft_tws_asof")
        .outputMode(OutputMode.Append()).start()
      try {
        mem.addData(
          AsOfInput("k", 10, "v10", isTable = true),
          AsOfInput("k", 20, "v20", isTable = true))
        q.processAllAvailable()
        mem.addData(
          AsOfInput("k", 15, "e15", isTable = false), // between versions ⇒ v10
          AsOfInput("k", 25, "e25", isTable = false), // after both ⇒ v20
          AsOfInput("k", 5, "e5", isTable = false))   // before any ⇒ none
        q.processAllAvailable()
        // a later version must not rewrite history for later events
        mem.addData(AsOfInput("k", 30, "v30", isTable = true))
        mem.addData(AsOfInput("k", 22, "e22", isTable = false)) // still v20
        q.processAllAvailable()
      } finally q.stop()
      spark.table("graft_tws_asof").as[AsOfMatch].collect()
        .map(m => m.ts -> m.asOf).toMap
    }
    assert(out === Map(15L -> Some("v10"), 25L -> Some("v20"),
      5L -> None, 22L -> Some("v20")))
  }

  test("asOfEnrich: same-ts table upsert in the same batch applies before the event") {
    import graft.streaming.StreamingStateV2.{AsOfInput, AsOfMatch}
    val mem = MemoryStream[AsOfInput]
    val out = withRocks {
      val q = StreamingStateV2.asOfEnrich(mem.toDS())
        .writeStream.format("memory").queryName("graft_tws_asof_tie")
        .outputMode(OutputMode.Append()).start()
      try {
        // event listed FIRST so iterator order alone would miss the
        // version; the (ts, table-before-event) sort must fix it
        mem.addData(
          AsOfInput("k", 10, "e10", isTable = false),
          AsOfInput("k", 10, "v10", isTable = true))
        q.processAllAvailable()
      } finally q.stop()
      spark.table("graft_tws_asof_tie").as[AsOfMatch].collect()
        .map(m => m.ts -> m.asOf).toMap
    }
    // matches the cross-batch rule: a version at ts T is visible to an
    // event at ts T (the probe is version.ts <= event.ts)
    assert(out === Map(10L -> Some("v10")))
  }

  test("asOfEnrich caps retained versions per key") {
    import graft.streaming.StreamingStateV2.{AsOfInput, AsOfMatch}
    val mem = MemoryStream[AsOfInput]
    val out = withRocks {
      val q = StreamingStateV2.asOfEnrich(mem.toDS(), retainVersions = 1)
        .writeStream.format("memory").queryName("graft_tws_asof_cap")
        .outputMode(OutputMode.Append()).start()
      try {
        mem.addData(
          AsOfInput("k", 10, "v10", isTable = true),
          AsOfInput("k", 20, "v20", isTable = true))
        q.processAllAvailable()
        mem.addData(AsOfInput("k", 15, "e15", isTable = false)) // v10 evicted
        q.processAllAvailable()
      } finally q.stop()
      spark.table("graft_tws_asof_cap").as[AsOfMatch].collect()
        .map(m => m.ts -> m.asOf).toMap
    }
    assert(out === Map(15L -> None))
  }

  test("asOfEnrich MapState survives a checkpointed restart") {
    import graft.streaming.StreamingStateV2.{AsOfInput, AsOfMatch}
    val dir = java.nio.file.Files.createTempDirectory("graft_tws_ckpt").toString
    val mem = MemoryStream[AsOfInput]
    def start() = StreamingStateV2.asOfEnrich(mem.toDS())
      .writeStream.format("parquet")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode(OutputMode.Append()).start()
    withRocks {
      // phase 1: load version history, then stop
      val q1 = start()
      try {
        mem.addData(AsOfInput("k", 10, "v10", isTable = true))
        q1.processAllAvailable()
      } finally q1.stop()
      // phase 2: restart from the checkpoint; an event must still see the
      // pre-restart version
      val q2 = start()
      try {
        mem.addData(AsOfInput("k", 15, "e15", isTable = false))
        q2.processAllAvailable()
      } finally q2.stop()
    }
    val out = spark.read.parquet(s"$dir/out").as[AsOfMatch].collect()
    assert(out.map(m => m.ts -> m.asOf).toMap === Map(15L -> Some("v10")))
  }

  test("transformWithState versionedUpsert: strict >, ties keep first-seen") {
    val mem = MemoryStream[KRecord]
    val name = run(mem, StreamingStateV2.versionedUpsert(mem.toDS()))(
      Seq(KRecord("k", 1, "v1", version = 5)),
      Seq(KRecord("k", 2, "same-version", version = 5)), // tie ⇒ keeps v1
      Seq(KRecord("k", 3, "v2", version = 6))
    )
    val rows = spark.table(name).as[KRecord].collect().sortBy(_.ord)
    assert(rows.map(_.value).toSeq === Seq("v1", "v1", "v2"))
  }
}
