package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{Ev, Streams}

/** SURVEY §5.3: MemoryStream → operator → memory sink, asserting the
  * streaming wrappers converge to the same result as the oracle-checked
  * batch forms on the same input (SIGMOD'18 incrementalization model). */
class StreamingParitySpec extends AnyFunSuite {
  import TestSpark._

  /** sf0.001 events as typed rows in arrival (event_id) order. */
  private lazy val allEvents: Seq[Ev] = {
    import spark.implicits._
    Streams.typed(ops.Tables.events(spark, sf))
      .orderBy("event_id").collect().toSeq
  }

  /** Pushes the watermark far past every fixture event (so pending
    * windows/timers flush) via a sentinel row; key -1 / a 'view' so no
    * pending state can exist for it. Callers filter `user_id >= 0`. */
  private def flushWatermark(input: MemoryStream[Ev],
      query: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val flushUs = allEvents.map(_.ts_us).max + 30L * 24 * 3600 * 1000000
    input.addData(Ev(-1L, -1L, new java.sql.Timestamp(flushUs / 1000),
      flushUs, "view", 0.0))
    query.processAllAvailable()
  }

  /** The fixture stream with bounded event-time disorder: sorted by
    * ts + a deterministic per-event jitter in [0, 10 min), so any two
    * events can invert (ties included) but no event arrives more than
    * 10 minutes late — inside a 30-minute watermark slack. */
  private def jittered: Seq[Ev] =
    allEvents.sortBy(e =>
      (e.ts_us + math.floorMod(e.event_id * 2654435761L, 600000000L),
        e.event_id))

  private def runStream[T](name: String)(build: MemoryStream[Ev] =>
      org.apache.spark.sql.Dataset[T]): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val ds = build(input)
    val query = ds.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    // three micro-batches in arrival order (in-order per key)
    val chunks = allEvents.grouped((allEvents.size + 2) / 3).toSeq
    chunks.foreach { c => input.addData(c); query.processAllAvailable() }
    query.stop()
    spark.table(name)
  }

  test("visitCounter stream == stream_stateful_counter batch") {
    val streamed = runStream("visits")(in => Streams.visitCounter(in.toDS()))
    val batch = q("stream_stateful_counter")
    assert(streamed.count() === batch.count())
    val diff = streamed
      .join(batch.withColumnRenamed("visit_kind", "b_kind")
          .withColumnRenamed("visit_no", "b_no"),
        Seq("event_id", "user_id"))
      .where(col("visit_kind") =!= col("b_kind") ||
        col("visit_no") =!= col("b_no"))
    assert(diff.count() === 0)
  }

  test("visitCounterTws (transformWithState + RocksDB) == classic " +
      "visitCounter == batch") {
    // transformWithState requires the RocksDB state store provider;
    // scope the provider switch to this test so every other streaming
    // test keeps the default HDFS-backed store
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try {
      val streamed = runStream("visits_tws")(in =>
        Streams.visitCounterTws(in.toDS()))
      val batch = q("stream_stateful_counter")
      assert(streamed.count() === batch.count())
      val diff = streamed
        .join(batch.withColumnRenamed("visit_kind", "b_kind")
            .withColumnRenamed("visit_no", "b_no"),
          Seq("event_id", "user_id"))
        .where(col("visit_kind") =!= col("b_kind") ||
          col("visit_no") =!= col("b_no"))
      assert(diff.count() === 0)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("visitCounterTwsTtl (per-state TTLConfig + RocksDB): a TTL'd " +
      "ValueState expires between micro-batches — the returning user " +
      "counts as new; a long TTL matches the untimed counter") {
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = spark.sqlContext
      def ev(id: Long, uid: Long, us: Long) =
        Ev(id, uid, new java.sql.Timestamp(us / 1000), us, "view", 0.0)
      def run(name: String, ttl: java.time.Duration,
          sleepMs: Long): Seq[(Long, String, Long)] = {
        val input = MemoryStream[Ev]
        // NO processAllAvailable here: in TimeMode.ProcessingTime the
        // stateful operator always reports work pending (a processing-
        // time timer/TTL can fire any instant), so the engine never
        // signals noNewData and processAllAvailable blocks FOREVER.
        // Poll the sink row count under a deadline instead, and
        // throttle the trigger so the perpetual empty batches (each a
        // 4-store RocksDB commit) don't busy-spin the suite.
        val query = Streams.visitCounterTwsTtl(input.toDS(), ttl)
          .writeStream.format("memory").queryName(name)
          .trigger(org.apache.spark.sql.streaming.Trigger
            .ProcessingTime("50 milliseconds"))
          .outputMode("append").start()
        def awaitRows(n: Long): Unit = {
          val deadline = System.nanoTime() + 120L * 1000L * 1000000L
          while (spark.table(name).count() < n) {
            query.exception.foreach(throw _)
            assert(System.nanoTime() < deadline,
              s"sink $name still below $n rows after 120 s")
            Thread.sleep(50)
          }
        }
        // user 42 visits in two separate micro-batches, sleepMs of
        // processing time apart (the TTL clock is processing time)
        input.addData(ev(1L, 42L, 1000000L))
        awaitRows(1)
        if (sleepMs > 0) Thread.sleep(sleepMs)
        input.addData(ev(2L, 42L, 2000000L))
        awaitRows(2)
        query.stop()
        spark.table(name).orderBy("event_id")
          .collect().map(r => (r.getAs[Long]("event_id"),
            r.getAs[String]("visit_kind"), r.getAs[Long]("visit_no")))
          .toSeq
      }
      // TTL 500 ms, 2.5 s between batches: the counter EXPIRED, so the
      // second visit is "new" with a reset count — the time-bounded
      // batch form (each visit its own TTL window) on this input
      assert(run("tws_ttl_expired", java.time.Duration.ofMillis(500),
        2500L) === Seq((1L, "new", 1L), (2L, "new", 1L)))
      // TTL 10 min, no sleep: nothing expires — identical to the
      // untimed counter's output on the same input
      assert(run("tws_ttl_kept", java.time.Duration.ofMinutes(10), 0L)
        === Seq((1L, "new", 1L), (2L, "returning", 2L)))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("TTL'd MapState and ListState expire between micro-batches " +
      "under RocksDB (round-15: the non-Value state shapes' TTL story); " +
      "long TTLs retain everything") {
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = spark.sqlContext
      def ev(id: Long, uid: Long, typ: String) =
        Ev(id, uid, new java.sql.Timestamp(id), id * 1000L, typ, 0.0)
      // same polling discipline as the ValueState TTL case: in
      // TimeMode.ProcessingTime the operator always reports work
      // pending, so processAllAvailable would block forever
      def poll[T](name: String, input: MemoryStream[Ev],
          query: org.apache.spark.sql.streaming.StreamingQuery,
          batches: Seq[(Seq[Ev], Long)]): Unit = {
        // start from the rows already sunk — a zero base would let the
        // wait satisfy itself on the pre-batch rows and assert early
        var want = spark.table(name).count()
        batches.foreach { case (evs, expectRows) =>
          input.addData(evs: _*)
          want += expectRows
          val deadline = System.nanoTime() + 120L * 1000L * 1000000L
          while (spark.table(name).count() < want) {
            query.exception.foreach(throw _)
            assert(System.nanoTime() < deadline,
              s"sink $name still below $want rows after 120 s")
            Thread.sleep(50)
          }
        }
        query.stop()
      }
      def start[T](name: String)(mk: MemoryStream[Ev] =>
          org.apache.spark.sql.Dataset[T]):
          (MemoryStream[Ev],
            org.apache.spark.sql.streaming.StreamingQuery) = {
        val input = MemoryStream[Ev]
        val query = mk(input).writeStream.format("memory")
          .queryName(name)
          .trigger(org.apache.spark.sql.streaming.Trigger
            .ProcessingTime("50 milliseconds"))
          .outputMode("append").start()
        (input, query)
      }
      // --- MapState TTL: an expired (user, type) entry re-admits the
      // type; batch 2 pairs the duplicate with a fresh type so the
      // kept-TTL run still lands a row to synchronize on
      def runDedup(name: String, ttl: java.time.Duration,
          sleepMs: Long, dupPasses: Boolean): Unit = {
        val (input, query) = start(name)(in =>
          Streams.dedupTwsTtl(in.toDS(), ttl))
        input.addData(ev(1L, 42L, "view"))
        val deadline = System.nanoTime() + 120L * 1000L * 1000000L
        while (spark.table(name).count() < 1) {
          query.exception.foreach(throw _)
          assert(System.nanoTime() < deadline, "first row never landed")
          Thread.sleep(50)
        }
        if (sleepMs > 0) Thread.sleep(sleepMs)
        poll(name, input, query,
          Seq((Seq(ev(2L, 42L, "view"), ev(3L, 42L, "click")),
            if (dupPasses) 2L else 1L)))
        val got = spark.table(name).orderBy("event_id")
          .collect().map(r => (r.getAs[String]("event_type"),
            r.getAs[Long]("event_id"))).toSeq
        if (dupPasses)
          assert(got === Seq(("view", 1L), ("view", 2L), ("click", 3L)),
            s"$name: expired view entry must re-admit the type")
        else
          assert(got === Seq(("view", 1L), ("click", 3L)),
            s"$name: live view entry must still dedup")
      }
      runDedup("map_ttl_expired", java.time.Duration.ofMillis(500),
        2500L, dupPasses = true)
      runDedup("map_ttl_kept", java.time.Duration.ofMinutes(10), 0L,
        dupPasses = false)
      // --- ListState TTL: elements expire INDIVIDUALLY, so the live
      // buffer count resets after the horizon and accumulates inside it
      def runBuf(name: String, ttl: java.time.Duration,
          sleepMs: Long): Seq[(Long, Long)] = {
        val (input, query) = start(name)(in =>
          Streams.recentBufferTws(in.toDS(), ttl))
        input.addData(ev(1L, 7L, "view"))
        val deadline = System.nanoTime() + 120L * 1000L * 1000000L
        while (spark.table(name).count() < 1) {
          query.exception.foreach(throw _)
          assert(System.nanoTime() < deadline, "first row never landed")
          Thread.sleep(50)
        }
        if (sleepMs > 0) Thread.sleep(sleepMs)
        poll(name, input, query, Seq((Seq(ev(2L, 7L, "view")), 1L)))
        spark.table(name).orderBy("event_id")
          .collect().map(r => (r.getAs[Long]("event_id"),
            r.getAs[Long]("buffered"))).toSeq
      }
      assert(runBuf("list_ttl_expired",
        java.time.Duration.ofMillis(500), 2500L)
        === Seq((1L, 1L), (2L, 1L)),
        "batch-1 element must have expired out of the list")
      assert(runBuf("list_ttl_kept",
        java.time.Duration.ofMinutes(10), 0L)
        === Seq((1L, 1L), (2L, 2L)),
        "long TTL must retain the batch-1 element")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("dedupTws (transformWithState MapState + RocksDB) == " +
      "stream_dedup_keys batch") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try {
      val streamed = runStream("dedup_tws")(in =>
        Streams.dedupTws(in.toDS()))
      val batch = q("stream_dedup_keys")
      assert(batch.count() > 0)
      assert(streamed.count() === batch.count())
      val cols = Seq("user_id", "event_type", "event_id", "ts_us").map(col)
      assert(streamed.select(cols: _*)
        .exceptAll(batch.select(cols: _*)).count() === 0)
      assert(batch.select(cols: _*)
        .exceptAll(streamed.select(cols: _*)).count() === 0)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("state store reader inspects transformWithState MapState — " +
      "the ops story for debugging 100 TB streaming state") {
    // Spark 4's spark.read.format("statestore") opens a checkpoint's
    // state offline — how an operator at scale answers "what does the
    // stream believe right now" without touching the running query.
    // Run the MapState dedup to a real checkpoint, then read the
    // "seen" map back and require it to EQUAL the kept rows the
    // stream emitted: per user, event_type → first event_id.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try {
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft_tws_sr").toString
      val input = MemoryStream[Ev]
      val query = Streams.dedupTws(input.toDS())
        .writeStream.format("memory").queryName("dedup_tws_sr")
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      val chunks = allEvents.grouped((allEvents.size + 2) / 3).toSeq
      chunks.foreach { c => input.addData(c); query.processAllAvailable() }
      query.stop()
      val state = spark.read.format("statestore")
        .option("stateVarName", "seen").load(ckpt)
      // grouping key / map key / map value arrive as single-field
      // structs for primitive encoders — unwrap by schema, not by
      // hardcoded inner names
      def scalar(c: String): org.apache.spark.sql.Column =
        state.schema(c).dataType match {
          case st: org.apache.spark.sql.types.StructType =>
            col(s"$c.${st.fields.head.name}")
          case _ => col(c)
        }
      val flat = state.select(
        scalar("key").cast("long").as("user_id"),
        scalar("user_map_key").cast("string").as("event_type"),
        scalar("user_map_value").cast("long").as("event_id"))
      val sink = spark.table("dedup_tws_sr")
        .select(col("user_id"), col("event_type"), col("event_id"))
      assert(sink.count() > 0)
      assert(flat.count() === sink.count(), state.schema.treeString)
      assert(flat.exceptAll(sink).count() === 0)
      assert(sink.exceptAll(flat).count() === 0)
      // and the ValueState of the visit counter reads back the same
      // way: one row per user with the final count the stream reached
      val ckpt2 = java.nio.file.Files
        .createTempDirectory("graft_tws_sr2").toString
      val input2 = MemoryStream[Ev]
      val q2 = Streams.visitCounterTws(input2.toDS())
        .writeStream.format("memory").queryName("visits_tws_sr")
        .option("checkpointLocation", ckpt2)
        .outputMode("append").start()
      chunks.foreach { c => input2.addData(c); q2.processAllAvailable() }
      q2.stop()
      val vstate = spark.read.format("statestore")
        .option("stateVarName", "count").load(ckpt2)
      def vscalar(c: String): org.apache.spark.sql.Column =
        vstate.schema(c).dataType match {
          case st: org.apache.spark.sql.types.StructType =>
            col(s"$c.${st.fields.head.name}")
          case _ => col(c)
        }
      val vflat = vstate.select(vscalar("key").cast("long").as("user_id"),
        vscalar("value").cast("long").as("n"))
      val expected = spark.table("visits_tws_sr")
        .groupBy("user_id").agg(max("visit_no").as("n"))
      assert(vflat.count() === expected.count(), vstate.schema.treeString)
      assert(vflat.exceptAll(expected).count() === 0)
      // the companion state-metadata source answers the prior ops
      // question — WHICH operators/stores live in this checkpoint and
      // over what batch range — without knowing the query's code
      val meta = spark.read.format("state-metadata").load(ckpt)
      val row = meta.select("operatorName", "stateStoreName",
        "numPartitions").collect()
      assert(row.nonEmpty, meta.schema.treeString)
      assert(row.exists(_.getString(0).contains("transformWithState")),
        row.mkString(";"))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("cepFunnel stream == stream_cep_pattern batch") {
    val streamed = runStream("funnel")(in => Streams.cepFunnel(in.toDS()))
    val batch = q("stream_cep_pattern")
    assert(streamed.count() === batch.count())
    val diff = streamed.join(batch,
      Seq("user_id", "view_us", "click_us", "purchase_us"), "full_outer")
      .where(col("user_id").isNull)
    assert(diff.count() === 0)
  }

  test("tumbling windows stream (complete mode) == batch form") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val agg = Streams.tumblingCounts(
      input.toDS().toDF()).drop("total") // counts compare exactly
    val query = agg.writeStream.format("memory").queryName("tumbling")
      .outputMode("complete").start()
    input.addData(allEvents)
    query.processAllAvailable()
    query.stop()
    val streamed = spark.table("tumbling")
      .select(unix_micros(col("w_start").cast("timestamp")).as("w_start_us"),
        col("event_type"), col("n"))
    val batch = q("stream_window_tumbling").drop("total")
    assert(streamed.count() === batch.count())
    assert(streamed.join(batch.withColumnRenamed("n", "b_n"),
        Seq("w_start_us", "event_type"))
      .where(col("n") =!= col("b_n")).count() === 0)
  }

  test("cumulate windows stream (complete mode) == batch form") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val agg = Streams.cumulateCounts(
      input.toDS().toDF()).drop("total") // counts compare exactly
    val query = agg.writeStream.format("memory").queryName("cumulate")
      .outputMode("complete").start()
    input.addData(allEvents)
    query.processAllAvailable()
    query.stop()
    val streamed = spark.table("cumulate")
    val batch = q("stream_window_cumulate").drop("total")
    assert(streamed.count() === batch.count())
    assert(streamed.join(batch.withColumnRenamed("n", "b_n"),
        Seq("w_start_us", "w_end_us"))
      .where(col("n") =!= col("b_n")).count() === 0)
    // cumulate semantics: within an hour, counts never decrease with
    // the mark
    val later = streamed.select(col("w_start_us").as("ws"),
      col("w_end_us").as("we"), col("n").as("later_n"))
    val nonMono = streamed.join(later,
      col("w_start_us") === col("ws") && col("w_end_us") < col("we") &&
        col("n") > col("later_n")).count()
    assert(nonMono === 0)
  }

  test("session windows stream (complete) == batch session count per user") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val agg = Streams.sessionAgg(input.toDS().toDF())
    val query = agg.writeStream.format("memory").queryName("sessions")
      .outputMode("complete").start()
    input.addData(allEvents)
    query.processAllAvailable()
    query.stop()
    val streamedPerUser = spark.table("sessions")
      .groupBy("user_id").agg(count(lit(1)).as("n_sess"),
        sum("n_events").as("n_ev"))
    val batchPerUser = q("stream_window_session")
      .groupBy("user_id").agg(count(lit(1)).as("b_sess"),
        sum("n_events").as("b_ev"))
    val diff = streamedPerUser.join(batchPerUser, "user_id")
      .where(col("n_sess") =!= col("b_sess") || col("n_ev") =!= col("b_ev"))
    assert(diff.count() === 0)
  }

  test("streaming dedup: watermarked form covers all pairs; global form exact") {
    // dropDuplicatesWithinWatermark only dedups inside the watermark
    // horizon (state evicts after it) — so it emits every distinct pair
    // at least once and never more than the raw stream.
    val streamed = runStream("dedup")(in =>
      Streams.dedupWithinWatermark(in.toDS().toDF()))
    val distinctPairs = q("dedup_exact").count()
    assert(streamed.select("user_id", "event_type").distinct().count() ===
      distinctPairs)
    assert(streamed.count() >= distinctPairs &&
      streamed.count() <= allEvents.size)
    // unbounded-state global dedup matches the batch form exactly
    val global = runStream("dedup_global")(in =>
      in.toDS().toDF().dropDuplicates("user_id", "event_type"))
    assert(global.count() === distinctPairs)
  }

  test("sliding windows stream (complete mode) == batch form") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val agg = Streams.slidingCounts(input.toDS().toDF()).drop("total")
    val query = agg.writeStream.format("memory").queryName("sliding")
      .outputMode("complete").start()
    input.addData(allEvents)
    query.processAllAvailable()
    query.stop()
    val streamed = spark.table("sliding")
      .select(unix_micros(col("w_start").cast("timestamp")).as("w_start_us"),
        col("n"))
    val batch = q("stream_window_sliding").drop("total")
    assert(streamed.count() === batch.count())
    assert(streamed.join(batch.withColumnRenamed("n", "b_n"), "w_start_us")
      .where(col("n") =!= col("b_n")).count() === 0)
  }

  test("watermark drops events later than the bound (append mode)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val us = 1000000L
    val base = 1704067200L * us // 2024-01-01 00:00 UTC
    def ev(id: Long, tUs: Long) =
      Ev(id, 1L, new java.sql.Timestamp(tUs / 1000L), tUs, "view", 1.0)
    val input = MemoryStream[Ev]
    val query = Streams.tumblingCounts(input.toDS().toDF())
      .writeStream.format("memory").queryName("late_drop")
      .outputMode("append").start()
    // 3 on-time events in hour H
    input.addData(ev(1, base), ev(2, base + 60 * us), ev(3, base + 120 * us))
    query.processAllAvailable()
    // far-future event pushes the watermark past H, finalizing the window
    input.addData(ev(4, base + 5L * 3600 * us)); query.processAllAvailable()
    // a late straggler in hour H — behind the watermark, must be dropped
    input.addData(ev(5, base + 300 * us)); query.processAllAvailable()
    // advance again so nothing is stuck
    input.addData(ev(6, base + 8L * 3600 * us)); query.processAllAvailable()
    query.stop()
    val hourH = spark.table("late_drop")
      .where(unix_micros(col("w_start").cast("timestamp")) === base)
    assert(hourH.count() === 1)
    assert(hourH.first().getAs[Long]("n") === 3) // the straggler is absent
  }

  test("stream-stream interval join == batch join_interval") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val joined = Streams.intervalJoin(input.toDS().toDF())
    val query = joined.writeStream.format("memory").queryName("ivjoin")
      .outputMode("append").start()
    allEvents.grouped((allEvents.size + 2) / 3)
      .foreach { c => input.addData(c); query.processAllAvailable() }
    // watermark flush so every in-range pair is emitted
    flushWatermark(input, query)
    query.stop()
    val streamed = spark.table("ivjoin")
      .where(col("view_id") =!= -1L) // drop any sentinel self-artifacts
    val batch = q("join_interval")
    assert(streamed.count() === batch.count())
    assert(streamed.join(batch, Seq("view_id", "click_id", "user_id"))
      .count() === batch.count())
  }

  test("stream-stream LEFT OUTER interval join == batch " +
      "join_interval_left (null row only after watermark closes)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val joined = Streams.intervalJoinOuter(input.toDS().toDF())
    val query = joined.writeStream.format("memory").queryName("ivjoin_l")
      .outputMode("append").start()
    allEvents.grouped((allEvents.size + 2) / 3)
      .foreach { c => input.addData(c); query.processAllAvailable() }
    // the null rows for trailing views only emit once the watermark
    // passes their window bound — and the GLOBAL watermark is the MIN
    // across both inputs, so the view-typed flush sentinel alone
    // leaves the click side (and with it the last unclicked views)
    // unflushed: push a click sentinel too (same -1 key; the sentinel
    // pair's join row carries view_id -1 and is filtered below)
    flushWatermark(input, query)
    val flushUs = allEvents.map(_.ts_us).max + 31L * 24 * 3600 * 1000000
    input.addData(Ev(-2L, -1L, new java.sql.Timestamp(flushUs / 1000),
      flushUs, "click", 0.0))
    query.processAllAvailable()
    query.stop()
    val streamed = spark.table("ivjoin_l")
      .where(col("view_id") =!= -1L)
      .select(col("view_id"),
        coalesce(col("click_id"), lit(-1L)).as("click_id"),
        col("user_id"))
    val batch = q("join_interval_left")
    assert(streamed.count() === batch.count())
    assert(streamed.join(batch, Seq("view_id", "click_id", "user_id"))
      .count() === batch.count())
    // the outer semantics actually exercised: some views go unclicked
    assert(streamed.where(col("click_id") === -1L).count() > 0)
  }

  test("stream-stream window join == batch join_windowed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val joined = Streams.windowJoin(input.toDS().toDF())
    val query = joined.writeStream.format("memory").queryName("wjoin")
      .outputMode("append").start()
    allEvents.grouped((allEvents.size + 2) / 3)
      .foreach { c => input.addData(c); query.processAllAvailable() }
    // watermark flush so the last window closes and emits
    flushWatermark(input, query)
    query.stop()
    val streamed = spark.table("wjoin").where(col("view_id") =!= -1L)
      .select(col("user_id"), ops.Tables.ep(col("w")).as("w_start_us"),
        col("view_id"), col("click_id"))
    val batch = q("join_windowed")
    assert(streamed.count() === batch.count())
    assert(streamed.join(batch,
      Seq("user_id", "w_start_us", "view_id", "click_id")).count() ===
      batch.count())
  }

  test("visitCounterTtl: state expires and a returning user counts as new") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val us = 1000000L
    def ev(id: Long, uid: Long, tUs: Long) =
      Ev(id, uid, new java.sql.Timestamp(tUs / 1000L), tUs, "view", 1.0)
    val input = MemoryStream[Ev]
    val counted = Streams.visitCounterTtl(
      input.toDS().withWatermark("ts", "0 seconds").as[Ev],
      ttlMs = 60L * 60 * 1000) // 1 hour TTL
    val query = counted.writeStream.format("memory").queryName("ttl_visits")
      .outputMode("append").start()
    val base = 1704067200L * us // 2024-01-01, clear of the epoch-0 watermark
    // batch 1: user 1 -> "new"
    input.addData(ev(1, 1L, base)); query.processAllAvailable()
    // batch 2: user 2 far in the future -> advances watermark past TTL
    input.addData(ev(2, 2L, base + 10L * 3600 * us)); query.processAllAvailable()
    // batch 3: user 1 returns after expiry -> "new" again
    input.addData(ev(3, 1L, base + 11L * 3600 * us)); query.processAllAvailable()
    query.stop()
    val rows = spark.table("ttl_visits")
      .orderBy("event_id")
      .collect().map(r => (r.getAs[Long]("event_id"), r.getAs[String]("visit_kind")))
    assert(rows.toSeq === Seq((1L, "new"), (2L, "new"), (3L, "new")))
  }

  test("visitCounterTtl survives a key whose events are older than wm - ttl") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val us = 1000000L
    def ev(id: Long, uid: Long, tUs: Long) =
      Ev(id, uid, new java.sql.Timestamp(tUs / 1000L), tUs, "view", 1.0)
    val input = MemoryStream[Ev]
    val counted = Streams.visitCounterTtl(
      input.toDS().withWatermark("ts", "0 seconds").as[Ev],
      ttlMs = 60L * 60 * 1000) // 1 hour TTL
    val query = counted.writeStream.format("memory").queryName("ttl_late")
      .outputMode("append").start()
    val base = 1704067200L * us
    // batch 1 pushes the watermark to base + 10h
    input.addData(ev(1, 1L, base + 10L * 3600 * us)); query.processAllAvailable()
    // batch 2: user 2's NEWEST event is base + 1h — far behind
    // watermark - ttl. Unclamped setTimeoutTimestamp(last + ttl) would
    // throw (timestamp <= watermark) and kill the query.
    input.addData(ev(2, 2L, base + 1L * 3600 * us)); query.processAllAvailable()
    // batch 3: proves the query is still alive and processing
    input.addData(ev(3, 3L, base + 12L * 3600 * us)); query.processAllAvailable()
    assert(query.exception.isEmpty)
    query.stop()
    val ids = spark.table("ttl_late").select("event_id")
      .collect().map(_.getLong(0)).toSet
    assert(ids.contains(1L) && ids.contains(3L))
  }

  test("visitCounterTtl without expiry matches the untimed counter") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    // TTL far larger than the 30-day fixture span: nothing expires
    val counted = Streams.visitCounterTtl(
      input.toDS().withWatermark("ts", "10 minutes").as[Ev],
      ttlMs = 365L * 24 * 3600 * 1000)
    val query = counted.writeStream.format("memory").queryName("ttl_full")
      .outputMode("append").start()
    allEvents.grouped((allEvents.size + 2) / 3)
      .foreach { c => input.addData(c); query.processAllAvailable() }
    query.stop()
    val streamed = spark.table("ttl_full")
    val batch = q("stream_stateful_counter")
    assert(streamed.count() === batch.count())
    assert(streamed.join(batch.withColumnRenamed("visit_no", "b_no"),
        Seq("event_id", "user_id"))
      .where(col("visit_no") =!= col("b_no")).count() === 0)
  }

  test("cepFunnelWithin stream == stream_cep_timeout batch (complete + timeout)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val funneled = Streams.cepFunnelWithin(
      input.toDS().withWatermark("ts", "10 minutes").as[Ev],
      withinMs = 72L * 3600 * 1000) // within(72 hours), matching the batch op
    val query = funneled.writeStream.format("memory").queryName("cep_within")
      .outputMode("append").start()
    // EVENT-TIME-ordered feed: the timer proof (no deadline passes the
    // watermark before a qualifying event arrives) needs arrival ≈ ts
    // order, which is also what the batch form converges to.
    val ordered = allEvents.sortBy(e => (e.ts_us, e.event_id))
    ordered.grouped((ordered.size + 2) / 3)
      .foreach { c => input.addData(c); query.processAllAvailable() }
    // flush sentinel: pushes the watermark past every pending deadline so
    // all timed-out partial matches emit
    flushWatermark(input, query)
    query.stop()
    val streamed = spark.table("cep_within").where(col("user_id") >= 0)
    val batch = q("stream_cep_timeout")
    assert(streamed.count() === batch.count())
    val diff = streamed.join(batch,
      Seq("user_id", "status", "stage", "view_us", "click_us", "purchase_us"),
      "full_outer")
      .where(col("user_id").isNull)
    assert(diff.count() === 0)
    // both sides of the side-output union are present
    assert(streamed.where(col("status") === "complete").count() > 0)
    assert(streamed.where(col("status") === "timeout").count() > 0)
  }

  test("cepMatches stream == cep_pattern_match batch (quantified V+ P)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val query = Streams.cepMatches(
        input.toDS().withWatermark("ts", "30 minutes").as[Ev]).writeStream
      .format("memory").queryName("cep_quant").outputMode("append").start()
    // OUT-OF-ORDER feed inside the watermark slack: per-event jitter
    // inverts neighbors (ties included) across 7 micro-batches — the
    // reorder buffer must restore (ts, event_id) order before matching
    val ordered = jittered
    ordered.grouped((ordered.size + 6) / 7)
      .foreach { c => input.addData(c); query.processAllAvailable() }
    // flush sentinel drains every key's trailing reorder buffer
    flushWatermark(input, query)
    query.stop()
    val cols = Seq("user_id", "start_us", "end_us", "n_views",
      "views_total", "purchase_value").map(col)
    val streamed = spark.table("cep_quant")
      .where(col("user_id") >= 0).select(cols: _*)
    val batch = q("cep_pattern_match").select(cols: _*)
    // exact bag equality, measures included (cents-exact dsum mirror)
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("cepTimes stream == cep_pattern_times batch (bounded V{2,4} P)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val query = Streams.cepTimes(
        input.toDS().withWatermark("ts", "30 minutes").as[Ev]).writeStream
      .format("memory").queryName("cep_times").outputMode("append").start()
    val ordered = jittered
    ordered.grouped((ordered.size + 6) / 7)
      .foreach { c => input.addData(c); query.processAllAvailable() }
    flushWatermark(input, query)
    query.stop()
    val cols = Seq("user_id", "start_us", "end_us", "n_views",
      "views_total", "purchase_value").map(col)
    val streamed = spark.table("cep_times")
      .where(col("user_id") >= 0).select(cols: _*)
    val batch = q("cep_pattern_times").select(cols: _*)
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("cepOptional stream == cep_pattern_optional batch (V+ C? P)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val query = Streams.cepOptional(
        input.toDS().withWatermark("ts", "30 minutes").as[Ev]).writeStream
      .format("memory").queryName("cep_opt").outputMode("append").start()
    val ordered = jittered
    ordered.grouped((ordered.size + 6) / 7)
      .foreach { c => input.addData(c); query.processAllAvailable() }
    flushWatermark(input, query)
    query.stop()
    val cols = Seq("user_id", "start_us", "end_us", "n_views",
      "views_total", "via_click", "purchase_value").map(col)
    val streamed = spark.table("cep_opt")
      .where(col("user_id") >= 0).select(cols: _*)
    val batch = q("cep_pattern_optional").select(cols: _*)
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("cepAbsence stream == cep_absence_timeout batch (per-event timers)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val query = Streams.cepAbsence(
      input.toDS().withWatermark("ts", "30 minutes").as[Ev],
      timeoutUs = 86400000000L).writeStream
      .format("memory").queryName("cep_absence").outputMode("append").start()
    // OUT-OF-ORDER feed inside the slack (see cepMatches test): a
    // purchase can now arrive before its earlier-timestamped click —
    // the reorder buffer must still resolve that click silently
    val ordered = jittered
    ordered.grouped((ordered.size + 6) / 7)
      .foreach { c => input.addData(c); query.processAllAvailable() }
    // flush sentinel: pushes the watermark past every pending deadline
    // so trailing unresolved clicks emit (it is a 'view' — no pending)
    flushWatermark(input, query)
    query.stop()
    val streamed = spark.table("cep_absence")
      .where(col("user_id") >= 0)
      .select("user_id", "event_id", "click_us")
    val batch = q("cep_absence_timeout")
      .select("user_id", "event_id", "click_us")
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("absenceTws (transformWithState timers + RocksDB) == " +
      "cep_absence_timeout batch under jittered replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[Ev]
      val query = Streams.absenceTws(
        input.toDS().withWatermark("ts", "30 minutes").as[Ev],
        timeoutUs = 86400000000L).writeStream
        .format("memory").queryName("absence_tws")
        .outputMode("append").start()
      val ordered = jittered
      ordered.grouped((ordered.size + 6) / 7)
        .foreach { c => input.addData(c); query.processAllAvailable() }
      flushWatermark(input, query)
      query.stop()
      val streamed = spark.table("absence_tws")
        .where(col("user_id") >= 0)
        .select("user_id", "event_id", "click_us")
      val batch = q("cep_absence_timeout")
        .select("user_id", "event_id", "click_us")
      assert(batch.count() > 0)
      assert(streamed.count() === batch.count())
      assert(streamed.exceptAll(batch).count() === 0)
      assert(batch.exceptAll(streamed).count() === 0)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("cepFollowed stream == cep_followed_within batch (emit on " +
      "purchase arrival with the gap)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val query = Streams.cepFollowed(
      input.toDS().withWatermark("ts", "30 minutes").as[Ev],
      timeoutUs = 86400000000L).writeStream
      .format("memory").queryName("cep_followed").outputMode("append")
      .start()
    // same jittered out-of-order replay as the cepAbsence test: a
    // purchase arriving before its earlier-timestamped click must still
    // claim it through the reorder buffer
    val ordered = jittered
    ordered.grouped((ordered.size + 6) / 7)
      .foreach { c => input.addData(c); query.processAllAvailable() }
    // flush sentinel: trailing pending clicks must NOT emit here — an
    // unresolved click past its deadline belongs to the absence stream
    flushWatermark(input, query)
    query.stop()
    val cols = Seq("user_id", "event_id", "click_us",
      "next_purchase_us", "gap_us").map(col)
    val streamed = spark.table("cep_followed")
      .where(col("user_id") >= 0).select(cols: _*)
    val batch = q("cep_followed_within").select(cols: _*)
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("cepNotNext stream == cep_pattern_not_next batch minus its " +
      "vacuous end-of-corpus rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val query = Streams.cepNotNext(
      input.toDS().withWatermark("ts", "30 minutes").as[Ev]).writeStream
      .format("memory").queryName("cep_not_next").outputMode("append")
      .start()
    val ordered = jittered
    ordered.grouped((ordered.size + 6) / 7)
      .foreach { c => input.addData(c); query.processAllAvailable() }
    flushWatermark(input, query)
    query.stop()
    val cols = Seq("user_id", "event_id", "view_us", "followed_by").map(col)
    // the flush sentinel rides a negative user and is filtered on the
    // streamed side; 'none' rows exist only at end of CORPUS — an
    // unbounded stream (and Flink's NFA) can never decide them, so the
    // batch side drops them for the comparison
    val streamed = spark.table("cep_not_next")
      .where(col("user_id") >= 0).select(cols: _*)
    val batch = q("cep_pattern_not_next")
      .where(col("followed_by") =!= "none").select(cols: _*)
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("cepIterative stream == cep_iterative_condition batch under " +
      "jittered replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val query = Streams.cepIterative(
      input.toDS().withWatermark("ts", "30 minutes").as[Ev]).writeStream
      .format("memory").queryName("cep_iter").outputMode("append")
      .start()
    val ordered = jittered
    ordered.grouped((ordered.size + 6) / 7)
      .foreach { c => input.addData(c); query.processAllAvailable() }
    flushWatermark(input, query)
    query.stop()
    val cols = Seq("user_id", "run_start_us", "cross_us", "n_events",
      "total").map(col)
    val streamed = spark.table("cep_iter")
      .where(col("user_id") >= 0).select(cols: _*)
    val batch = q("cep_iterative_condition").select(cols: _*)
    assert(batch.count() > 0)
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("cepUntil stream == cep_pattern_until batch under jittered " +
      "replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val query = Streams.cepUntil(
      input.toDS().withWatermark("ts", "30 minutes").as[Ev]).writeStream
      .format("memory").queryName("cep_until").outputMode("append")
      .start()
    val ordered = jittered
    ordered.grouped((ordered.size + 6) / 7)
      .foreach { c => input.addData(c); query.processAllAvailable() }
    flushWatermark(input, query)
    query.stop()
    val cols = Seq("user_id", "start_us", "end_us", "n_views",
      "views_total", "purchase_value").map(col)
    val streamed = spark.table("cep_until")
      .where(col("user_id") >= 0).select(cols: _*)
    val batch = q("cep_pattern_until").select(cols: _*)
    assert(batch.count() > 0)
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("cepUntil golden: a <=90 view TIED on timestamp with a >90 view " +
      "is outside the suffix (strict ts_us > last_high_us, both engines)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000000000L
    def ev(id: Long, uid: Long, tUs: Long, typ: String, v: Double) =
      Ev(id, uid, new java.sql.Timestamp(tUs / 1000), tUs, typ, v)
    val t0 = base
    val evs = Seq(
      // user 1: >90 view and a tied <=90 view, then purchase → the tie
      // is excluded, suffix empty, NO hit
      ev(1, 1, t0, "view", 95.0),
      ev(2, 1, t0, "view", 10.0),
      ev(3, 1, t0 + 1000000, "purchase", 50.0),
      // user 2: <=90, then a >90 and a TIED <=90 at t0+1s (excluded),
      // then a later view (suffix) and the purchase → hit over ONLY
      // the strictly-later view
      ev(4, 2, t0, "view", 10.0),
      ev(5, 2, t0 + 1000000, "view", 95.0),
      ev(6, 2, t0 + 1000000, "view", 12.0),
      ev(7, 2, t0 + 2000000, "view", 20.0),
      ev(8, 2, t0 + 3000000, "purchase", 30.0))
    val input = MemoryStream[Ev]
    val query = Streams.cepUntil(
      input.toDS().withWatermark("ts", "30 minutes").as[Ev]).writeStream
      .format("memory").queryName("cep_until_tie").outputMode("append")
      .start()
    input.addData(evs)
    query.processAllAvailable()
    val flushUs = t0 + 40L * 60 * 1000000
    input.addData(Ev(-1L, -1L, new java.sql.Timestamp(flushUs / 1000),
      flushUs, "view", 0.0))
    query.processAllAvailable()
    query.stop()
    val hits = spark.table("cep_until_tie").where(col("user_id") >= 0)
      .collect()
    assert(hits.length === 1)
    val h = hits.head
    assert(h.getAs[Long]("user_id") === 2L)
    assert(h.getAs[Long]("start_us") === t0 + 2000000)
    assert(h.getAs[Long]("end_us") === t0 + 3000000)
    assert(h.getAs[Long]("n_views") === 1L)
    assert(h.getAs[Double]("views_total") === 20.0)
    assert(h.getAs[Double]("purchase_value") === 30.0)
  }

  test("overAggregate stream == batch running window under jittered " +
      "replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val query = Streams.overAggregate(
      input.toDS().withWatermark("ts", "30 minutes").as[Ev]).writeStream
      .format("memory").queryName("over_agg").outputMode("append")
      .start()
    val ordered = jittered
    ordered.grouped((ordered.size + 6) / 7)
      .foreach { c => input.addData(c); query.processAllAvailable() }
    flushWatermark(input, query)
    query.stop()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val batch = ops.Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"),
        ops.Tables.ep(col("ts")).as("ts_us"), col("value"))
      .withColumn("run_cnt", count(lit(1)).over(w))
      .withColumn("run_sum", round(sum(col("value")
        .cast(ops.Tables.dec)).over(w).cast("double"), 2))
      .drop("value")
    val cols = Seq("user_id", "event_id", "ts_us", "run_cnt", "run_sum")
      .map(col)
    val streamed = spark.table("over_agg")
      .where(col("user_id") >= 0).select(cols: _*)
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch.select(cols: _*)).count() === 0)
    assert(batch.select(cols: _*).exceptAll(streamed).count() === 0)
  }

  test("enrichDim stream == batch broadcast left join (lookup misses kept)") {
    import spark.implicits._
    // restrict the dim so the lookup-miss path actually occurs (every
    // fixture user otherwise has a customer row)
    val dim = ops.Tables.t(spark, sf, "customer")
      .where(col("c_custkey") < 8)
      .select(col("c_custkey").as("user_id"),
        col("c_mktsegment").as("segment"))
    val streamed = runStream("enriched")(in =>
      Streams.enrichDim(in.toDS().toDF(), dim, "user_id")
        .select(col("event_id"), col("user_id"), col("segment"))
        .as[(Long, Long, String)])
    val batch = Streams.enrichDim(
        ops.Tables.events(spark, sf), dim, "user_id")
      .select(col("event_id"), col("user_id"), col("segment"))
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).count() === 0)
    // the miss path exists and is preserved (left join, not inner)
    assert(streamed.where(col("segment").isNull).count() > 0)
  }

  test("broadcastRules: full replay == fn_rules_apply batch; swap " +
      "changes subsequent batches only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("bc_rules").toString
    val rulesPath = s"$dir/rules"
    try {
      // v1 = the canonical snapshot fn_rules_apply embeds
      ops.Fns.defaultRules(spark).write.mode("overwrite").parquet(rulesPath)
      val input = MemoryStream[Ev]
      val query = Streams.broadcastRulesToSink(input.toDF(), rulesPath,
        s"$dir/out", s"$dir/ck")
      // first two thirds under v1, last third after a LIVE swap to v2
      // (view rule added, high-value threshold dropped to 10)
      val chunks = allEvents.grouped((allEvents.size + 2) / 3).toSeq
      chunks.take(2).foreach { c =>
        input.addData(c); query.processAllAvailable()
      }
      Seq((1L, "purchase", 10.0, "high_value"),
        (2L, "purchase", 0.0, "any_purchase"),
        (3L, "click", 0.0, "click_track"),
        (4L, "error", 0.0, "error_alert"),
        (5L, "view", 0.0, "view_track"))
        .toDF("rule_id", "event_type", "min_value", "tag")
        .write.mode("overwrite").parquet(rulesPath)
      input.addData(chunks(2)); query.processAllAvailable()
      query.stop()
      val out = spark.read.parquet(s"$dir/out").persist()
      val cut = chunks.take(2).flatten.map(_.event_id).max
      // batches 0-1 match the batch-form oracle key exactly on their slice
      val batch = q("fn_rules_apply").where(col("event_id") <= cut)
      val streamedV1 = out.where(col("batch_id") <= 1)
        .select("event_id", "rule_id")
      assert(streamedV1.count() === batch.count())
      assert(streamedV1.join(batch.select("event_id", "rule_id"),
        Seq("event_id", "rule_id"), "full_outer")
        .where(col("event_id").isNull).count() === 0)
      // the swap is visible ONLY from batch 2 on: no view hit before it,
      // view hits after (the fixture stream has views in every chunk)
      assert(out.where(col("batch_id") <= 1 && col("tag") === "view_track")
        .count() === 0)
      assert(out.where(col("batch_id") === 2 && col("tag") === "view_track")
        .count() > 0)
      out.unpersist(blocking = false)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(dir))
  }

  test("dedupKeys stream == stream_dedup_keys batch") {
    // horizon wider than the 30-day fixture span -> no key state expires
    // mid-replay, so the converged stream equals the global batch dedup.
    // dedupKeys keeps the first-ARRIVED row per key, and WITHIN one
    // micro-batch the survivor after the keyed shuffle is not guaranteed
    // to be the lowest event_id — so the feed makes first-arrival
    // provably the min-event_id row: batch 1 carries exactly each key's
    // min-event_id event (keys all distinct -> no intra-batch tie), and
    // every later duplicate arrives in batch 2 against existing state.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val firstPerKey = allEvents.groupBy(e => (e.user_id, e.event_type))
      .values.map(_.minBy(_.event_id)).toSeq
    val firstIds = firstPerKey.map(_.event_id).toSet
    val rest = allEvents.filterNot(e => firstIds.contains(e.event_id))
    val input = MemoryStream[Ev]
    val ds = Streams.dedupKeys(input.toDS().toDF(), "90 days")
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts_us"))
      .as[(Long, String, Long, Long)]
    val query = ds.writeStream.format("memory").queryName("dedup_keys")
      .outputMode("append").start()
    Seq(firstPerKey, rest).foreach { c =>
      input.addData(c); query.processAllAvailable()
    }
    query.stop()
    val streamed = spark.table("dedup_keys")
    val batch = q("stream_dedup_keys")
      .select("user_id", "event_type", "event_id", "ts_us")
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("routeLate: late rows land in the side sink, on-time rows aggregate") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val us = 1000000L
    val base = 1704067200L * us // 2024-01-01 00:00 UTC (on the hour)
    def ev(id: Long, tUs: Long) =
      Ev(id, 1L, new java.sql.Timestamp(tUs / 1000L), tUs, "view", 1.0)
    val dir = java.nio.file.Files.createTempDirectory("graft_late").toString
    val input = MemoryStream[Ev]
    val query = Streams.routeLate(input.toDS().toDF(),
      latenessMs = 10L * 60 * 1000, s"$dir/ontime", s"$dir/late", s"$dir/ckpt")
    // batch 1: two on-time rows in hour H
    input.addData(ev(1, base), ev(2, base + 60 * us))
    query.processAllAvailable()
    // batch 2: jump +5h — advances the tracked watermark far past hour H
    input.addData(ev(3, base + 5L * 3600 * us)); query.processAllAvailable()
    // batch 3: a straggler in hour H (behind watermark -> LATE) + on-time
    input.addData(ev(4, base + 120 * us), ev(5, base + 6L * 3600 * us))
    query.processAllAvailable()
    query.stop()
    val late = spark.read.parquet(s"$dir/late")
    assert(late.select("event_id").collect().map(_.getLong(0)).toSet ===
      Set(4L))
    // the late row carries the watermark it was judged against
    assert(late.first().getAs[Long]("wm_us") ===
      base + 5L * 3600 * us - 10L * 60 * us)
    val onTime = spark.read.parquet(s"$dir/ontime")
    assert(onTime.select("event_id").collect().map(_.getLong(0)).toSet ===
      Set(1L, 2L, 3L, 5L))
    // on-time sink aggregates to the converged hourly counts (what the
    // batch tumbling form computes over the same on-time subset)
    val agg = onTime
      .groupBy(window(col("ts"), "1 hour").getField("start").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("w").cast("timestamp")), col("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(agg === Set((base, 2L), (base + 5L * 3600 * us, 1L),
      (base + 6L * 3600 * us, 1L)))
  }

  test("routeLate: restored watermark routes a straggler late AFTER a restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val us = 1000000L
    val base = 1704067200L * us // 2024-01-01 00:00 UTC
    def ev(id: Long, tUs: Long) =
      Ev(id, 1L, new java.sql.Timestamp(tUs / 1000L), tUs, "view", 1.0)
    val dir = java.nio.file.Files.createTempDirectory("graft_late_rs").toString
    def start(input: MemoryStream[Ev]) =
      Streams.routeLate(input.toDS().toDF(), latenessMs = 10L * 60 * 1000,
        s"$dir/ontime", s"$dir/late", s"$dir/ckpt")
    val input = MemoryStream[Ev]
    // run 1: hour-H rows, then a +5h jump that advances the watermark
    val q1 = start(input)
    input.addData(ev(1, base), ev(2, base + 60 * us))
    q1.processAllAvailable()
    input.addData(ev(3, base + 5L * 3600 * us))
    q1.processAllAvailable()
    q1.stop()
    // run 2: a FRESH query instance (driver-restart analog — its
    // in-memory AtomicLong starts empty) fed an hour-H straggler. The
    // pre-fix behavior waved it through as on-time; the restored
    // watermark must route it late.
    val q2 = start(input)
    input.addData(ev(4, base + 120 * us))
    q2.processAllAvailable()
    q2.stop()
    val late = spark.read.parquet(s"$dir/late")
    assert(late.select("event_id").collect().map(_.getLong(0)).toSet ===
      Set(4L))
    // judged against exactly the pre-crash watermark, not a fresh one
    assert(late.first().getAs[Long]("wm_us") ===
      base + 5L * 3600 * us - 10L * 60 * us)
    val onTime = spark.read.parquet(s"$dir/ontime")
    assert(onTime.select("event_id").collect().map(_.getLong(0)).toSet ===
      Set(1L, 2L, 3L))
  }

  test("routeLate: a fresh checkpoint refuses sinks owned by another run") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val us = 1000000L
    val base = 1704067200L * us
    def ev(id: Long, tUs: Long) =
      Ev(id, 1L, new java.sql.Timestamp(tUs / 1000L), tUs, "view", 1.0)
    val dir = java.nio.file.Files.createTempDirectory("graft_late_fk").toString
    def start(input: MemoryStream[Ev], ckpt: String) =
      Streams.routeLate(input.toDS().toDF(), latenessMs = 10L * 60 * 1000,
        s"$dir/ontime", s"$dir/late", ckpt)
    val in1 = MemoryStream[Ev]
    val q1 = start(in1, s"$dir/ckpt1")
    in1.addData(ev(1, base)); q1.processAllAvailable(); q1.stop()
    // a NEW checkpoint over the same sinks: its batch ids restart at 0,
    // so run 1's output would leak through the `batch_id < batchId`
    // replay filter and seed the watermark from foreign data — the
    // sink identity marker must fail SYNCHRONOUSLY, before the query
    // even starts (a query that never receives a batch still refuses)
    val in2 = MemoryStream[Ev]
    val e = intercept[IllegalArgumentException] { start(in2, s"$dir/ckpt2") }
    assert(e.getMessage.contains("belongs to checkpoint"),
      s"expected the sink-identity failure, got: ${e.getMessage}")
  }

  test("routeLate: a wiped-and-reused checkpoint PATH refuses the old sinks") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val us = 1000000L
    val base = 1704067200L * us
    def ev(id: Long, tUs: Long) =
      Ev(id, 1L, new java.sql.Timestamp(tUs / 1000L), tUs, "view", 1.0)
    val dir = java.nio.file.Files.createTempDirectory("graft_late_wp").toString
    def start(input: MemoryStream[Ev]) =
      Streams.routeLate(input.toDS().toDF(), latenessMs = 10L * 60 * 1000,
        s"$dir/ontime", s"$dir/late", s"$dir/ckpt")
    val in1 = MemoryStream[Ev]
    val q1 = start(in1)
    in1.addData(ev(1, base)); q1.processAllAvailable(); q1.stop()
    // wipe the checkpoint dir but NOT the sinks, then restart at the
    // SAME path: batch ids restart at 0, so the old incarnation's rows
    // would slip the replay filter. A path-keyed marker (the round-7
    // scheme) passes this check wrongly; the per-incarnation nonce —
    // destroyed with the checkpoint — must mint a fresh identity and
    // refuse the old incarnation's markered sinks.
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(); ()
    }
    rm(new java.io.File(s"$dir/ckpt"))
    val in2 = MemoryStream[Ev]
    val e = intercept[IllegalArgumentException] { start(in2) }
    assert(e.getMessage.contains("belongs to checkpoint"),
      s"expected the sink-identity failure, got: ${e.getMessage}")
  }

  test("incremental dedup stream: streamed verdicts equal the batch op's") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // the same retained/new cut the batch op derives internally
    val cut = docs.agg(floor(max(col("doc_id")) * 0.9)).first().getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("graft_incd").toString
    docs.where(col("doc_id") <= cut)
      .write.mode("overwrite").parquet(s"$dir/retained/documents.parquet")
    // parity precondition the wrapper documents: no shingle's df crosses
    // the cap over the UNION corpus, so retained-only + shard-local
    // capping (stream) equals union capping (batch)
    val unionIdx = ops.LlmExtra.cappedShingleIndexOf(spark,
      docs.select("doc_id", "source", "text"))
    assert(unionIdx.groupBy("source", "h").count()
      .where(col("count") > ops.LlmExtra.ShingleDfCap).count() === 0)
    // stream the new shard in two micro-batches (arrival order)
    val newDocs = docs.where(col("doc_id") > cut)
      .select(col("doc_id").as[Long], col("source").as[String],
        col("text").as[String]).collect().sortBy(_._1).toSeq
    assert(newDocs.nonEmpty)
    val input = MemoryStream[(Long, String, String)]
    val query = Streams.incrementalDedupStream(
      input.toDS().toDF("doc_id", "source", "text"),
      s"$dir/retained", s"$dir/artifacts", s"$dir/out", s"$dir/ckpt")
    newDocs.grouped(math.max((newDocs.size + 1) / 2, 1)).foreach { c =>
      input.addData(c); query.processAllAvailable()
    }
    query.stop()
    val streamed = spark.read.parquet(s"$dir/out")
      .select("doc_id", "action", "match_id", "jac")
    val batch = q("llm_dedup_incremental")
      .select("doc_id", "action", "match_id", "jac")
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
    ops.OpCache.release(spark)
  }

  test("curation gate stream: streamed admit verdicts equal the batch ops'") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft_cur").toString
    // the same benchmark slice the batch op derives internally
    docs.where(col("doc_id") % 17 === 0)
      .write.mode("overwrite").parquet(s"$dir/bench/documents.parquet")
    val newDocs = docs.where(col("doc_id") % 17 =!= 0)
      .select(col("doc_id").as[Long], col("source").as[String],
        col("text").as[String]).collect().sortBy(_._1).toSeq
    assert(newDocs.nonEmpty)
    val input = MemoryStream[(Long, String, String)]
    val query = Streams.curationGateStream(
      input.toDS().toDF("doc_id", "source", "text"),
      s"$dir/bench", s"$dir/artifacts", s"$dir/out", s"$dir/ckpt")
    newDocs.grouped(math.max((newDocs.size + 1) / 2, 1)).foreach { c =>
      input.addData(c); query.processAllAvailable()
    }
    query.stop()
    val streamed = spark.read.parquet(s"$dir/out")
      .select("doc_id", "keep", "contaminated", "admit")
    val expected = q("llm_repetition_filter").select("doc_id", "keep")
      .join(q("llm_decontaminate").select("doc_id", "contaminated"),
        Seq("doc_id")) // inner join drops the benchmark slice itself
      .select(col("doc_id"), col("keep"), col("contaminated"),
        (col("keep") && !col("contaminated")).as("admit"))
    assert(streamed.count() === expected.count())
    assert(streamed.exceptAll(expected).count() === 0)
    assert(expected.exceptAll(streamed).count() === 0)
    // the gate must actually gate on this fixture: both failure modes
    // and the admit path all occur
    assert(streamed.where(col("admit")).count() > 0)
    assert(streamed.where(col("contaminated")).count() > 0)
    ops.OpCache.release(spark)
  }

  test("curation gate: a rewritten benchmark corpus is NOT served from " +
      "a stale artifact") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_curb").toString
    val textA = "alpha beta gamma delta epsilon zeta eta theta"
    val textB = "one two three four five six seven eight nine"
    def writeBench(text: String): Unit =
      Seq((0L, "s", text)).toDF("doc_id", "source", "text")
        .write.mode("overwrite").parquet(s"$dir/bench/documents.parquet")
    def runOnce(tag: String): Map[Long, Boolean] = {
      val input = MemoryStream[(Long, String, String)]
      val q = Streams.curationGateStream(
        input.toDS().toDF("doc_id", "source", "text"),
        s"$dir/bench", s"$dir/artifacts", s"$dir/out_$tag",
        s"$dir/ckpt_$tag")
      input.addData(Seq((100L, "s", textB)))
      q.processAllAvailable(); q.stop()
      spark.read.parquet(s"$dir/out_$tag").collect()
        .map(r => r.getLong(0) -> r.getBoolean(2)).toMap // contaminated
    }
    writeBench(textA)
    assert(runOnce("a")(100L) === false) // textB shares nothing with A
    writeBench(textB) // rewrite under the SAME dir and artifactDir
    assert(runOnce("b")(100L) === true) // a stale artifact would say false
  }

  test("artifact pruning spares another corpus's live snapshot on a " +
      "shared artifact root") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_share").toString
    Seq((0L, "s", "retained corpus words for the shared root check"))
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/retained/documents.parquet")
    Seq((1L, "s", "benchmark corpus words for the shared root check"))
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/bench/documents.parquet")
    val snapA = ops.LlmExtra.docsSnapshot(s"$dir/retained")
    // stream 1: incremental dedup builds its retained-index snapshot
    val in1 = MemoryStream[(Long, String, String)]
    val q1 = Streams.incrementalDedupStream(
      in1.toDS().toDF("doc_id", "source", "text"),
      s"$dir/retained", s"$dir/artifacts", s"$dir/out1", s"$dir/ckpt1")
    in1.addData(Seq((100L, "s", "an arriving shard document")))
    q1.processAllAvailable(); q1.stop()
    assert(new java.io.File(
      s"$dir/artifacts/$snapA/retained_index.parquet/_SUCCESS").isFile)
    // stream 2: curation gate for a DIFFERENT corpus on the SAME root —
    // its build must not prune stream 1's live snapshot
    val in2 = MemoryStream[(Long, String, String)]
    val q2 = Streams.curationGateStream(
      in2.toDS().toDF("doc_id", "source", "text"),
      s"$dir/bench", s"$dir/artifacts", s"$dir/out2", s"$dir/ckpt2")
    in2.addData(Seq((101L, "s", "another arriving document")))
    q2.processAllAvailable(); q2.stop()
    assert(new java.io.File(
      s"$dir/artifacts/$snapA/retained_index.parquet/_SUCCESS").isFile,
      "curation gate's artifact build pruned the dedup stream's snapshot")
  }

  test("incremental dedup stream: a rewritten retained corpus is NOT " +
      "served from a stale index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_incr").toString
    val shard = "every token of this arriving shard document is distinctive"
    def writeRetained(text: String): Unit =
      Seq((0L, "s", text)).toDF("doc_id", "source", "text")
        .write.mode("overwrite").parquet(s"$dir/retained/documents.parquet")
    def runOnce(tag: String): Map[Long, String] = {
      val input = MemoryStream[(Long, String, String)]
      val q = Streams.incrementalDedupStream(
        input.toDS().toDF("doc_id", "source", "text"),
        s"$dir/retained", s"$dir/artifacts", s"$dir/out_$tag",
        s"$dir/ckpt_$tag")
      input.addData(Seq((100L, "s", shard)))
      q.processAllAvailable(); q.stop()
      spark.read.parquet(s"$dir/out_$tag").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap // action
    }
    writeRetained("wholly unrelated retained words nothing shared here at all")
    assert(runOnce("a")(100L) === "keep")
    writeRetained(shard) // now an exact dup lives in the retained corpus
    assert(runOnce("b")(100L) === "drop") // stale index would still keep
  }

  test("routeLate: wiping the SINKS but keeping the checkpoint is " +
      "refused, not a silent watermark reset") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_rlw").toString
    val base = 1704067200L * 1000000L
    def ev(id: Long, tUs: Long) =
      Ev(id, 1L, new java.sql.Timestamp(tUs / 1000L), tUs, "view", 1.0)
    def start(in: MemoryStream[Ev]) = Streams.routeLate(
      in.toDS().toDF(), 60000L, s"$dir/on", s"$dir/late", s"$dir/ckpt")
    val in1 = MemoryStream[Ev]
    val q1 = start(in1)
    in1.addData(ev(1, base)); q1.processAllAvailable(); q1.stop()
    // wipe BOTH sink dirs (markers die with them) but keep the checkpoint
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(); ()
    }
    rm(new java.io.File(s"$dir/on")); rm(new java.io.File(s"$dir/late"))
    val in2 = MemoryStream[Ev]
    val e = intercept[IllegalArgumentException] { start(in2) }
    assert(e.getMessage.contains("wiped while the checkpoint survived"),
      s"expected the wiped-sink refusal, got: ${e.getMessage}")
  }

  test("checkpoint recovery: visit numbering continues across a restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val input = MemoryStream[Ev]
    val counted = Streams.visitCounter(input.toDS())
    def start() = counted.writeStream.format("parquet")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append").start()
    // run 1: first half of the stream, then a clean stop
    val q1 = start()
    val half = (allEvents.size + 1) / 2
    input.addData(allEvents.take(half)); q1.processAllAvailable(); q1.stop()
    // run 2: restart FROM THE CHECKPOINT with more data queued — keyed
    // state (per-user counters) must reload, not reset
    input.addData(allEvents.drop(half))
    val q2 = start()
    q2.processAllAvailable(); q2.stop()
    val got = spark.read.parquet(s"$dir/out")
    val batch = q("stream_stateful_counter")
    // exactly-once across the restart: no dropped rows, no replays
    assert(got.count() === batch.count())
    assert(got.select("event_id").distinct().count() === batch.count())
    // numbering continued from recovered state (a reset would renumber
    // the second half from 1)
    val diff = got.join(batch.withColumnRenamed("visit_no", "b_no")
        .withColumnRenamed("visit_kind", "b_kind"),
      Seq("event_id", "user_id"))
      .where(col("visit_no") =!= col("b_no") ||
        col("visit_kind") =!= col("b_kind"))
    assert(diff.count() === 0)
  }

  test("fileStreamIngest: directory-tail source streams files end-to-end") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_files").toString
    val srcDir = s"$dir/in"
    new java.io.File(srcDir).mkdirs()
    // batch-write the fixture events as JSON lines, one file per chunk
    val ev = ops.Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("event_type"), col("value"))
    val total = ev.count()
    ev.coalesce(2).write.mode("overwrite").json(srcDir)
    val stream = Streams.fileStreamIngest(spark, srcDir,
      maxFilesPerTrigger = 1)
    assert(stream.isStreaming)
    val query = stream
      .writeStream.format("memory").queryName("file_ingest")
      .outputMode("append").start()
    query.processAllAvailable()
    query.stop()
    val got = spark.table("file_ingest")
    assert(got.count() === total)
    // declared schema means typed columns, and the rows round-trip
    assert(got.schema("event_id").dataType.typeName === "long")
    assert(got.select(sum(col("event_id"))).first().getLong(0) ===
      ev.select(sum(col("event_id"))).first().getLong(0))
  }

  test("foreachBatch upsert sink converges to batch latest-image") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert").toString
    val input = MemoryStream[Ev]
    val query = Streams.upsertLatestToParquet(
      input.toDS().toDF(), s"$dir/state", s"$dir/ckpt")
    allEvents.grouped((allEvents.size + 2) / 3)
      .foreach { c => input.addData(c); query.processAllAvailable() }
    query.stop()
    val got = spark.read.parquet(s"$dir/state")
      .select(col("user_id"), col("event_id"),
        ops.Tables.ep(col("ts")).as("ts_us"))
    val want = q("stream_upsert_latest").select("user_id", "event_id", "ts_us")
    assert(got.count() === want.count())
    assert(got.join(want, Seq("user_id", "event_id", "ts_us")).count() ===
      want.count())
  }

  test("cepFunnelWithin keeps no state for keys that never start the " +
      "pattern") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = 1704067200L * 1000000L
    def ev(id: Long, uid: Long, kind: String) = Ev(id, uid,
      new java.sql.Timestamp((base + id * 1000000L) / 1000L),
      base + id * 1000000L, kind, 1.0)
    val input = MemoryStream[Ev]
    val out = Streams.cepFunnelWithin(
      input.toDS().withWatermark("ts", "10 minutes").as[Ev],
      withinMs = 600000L)
    val q = out.writeStream.format("memory").queryName("cep_state0")
      .outputMode("append").start()
    // 50 users who only click (never start the NFA) + 1 who views
    input.addData((1L to 50L).map(i => ev(i, i, "click")) :+
      ev(100L, 100L, "view"))
    q.processAllAvailable()
    val stateRows = q.recentProgress.flatMap(_.stateOperators)
      .map(_.numRowsTotal).lastOption.getOrElse(-1L)
    q.stop()
    // only the view user holds state; 50 stage-0 keys were removed
    assert(stateRows >= 0 && stateRows <= 1,
      s"expected <=1 state row, got $stateRows")
  }

  test("upsert sink: state survives a crash between the swap renames") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_upcr").toString
    val statePath = s"$dir/state"
    def ev(id: Long, uid: Long) = Ev(id, uid,
      new java.sql.Timestamp(1704067200000L + id * 1000),
      (1704067200000L + id * 1000) * 1000L, "view", 1.0)
    def run(ckpt: String, evs: Seq[Ev]): Unit = {
      val input = MemoryStream[Ev]
      val q = Streams.upsertLatestToParquet(
        input.toDS().toDF(), statePath, s"$dir/$ckpt")
      input.addData(evs); q.processAllAvailable(); q.stop()
    }
    run("ck1", Seq(ev(1, 100), ev(2, 200)))
    // simulate dying between current->prev and next->current: the
    // current table is gone, only the prev fallback remains
    assert(new java.io.File(statePath).renameTo(
      new java.io.File(statePath + ".prev")))
    run("ck2", Seq(ev(3, 300)))
    val users = spark.read.parquet(statePath)
      .select("user_id").collect().map(_.getLong(0)).toSet
    // pre-crash users merged from the fallback, not silently dropped
    assert(users === Set(100L, 200L, 300L))
  }

  test("changelog sink: incremental +I/+U/-D merge == cdc_ingest batch " +
      "op, and the emitted retract log reconstructs the image") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_chlog").toString
    val input = MemoryStream[Ev]
    val query = Streams.changelogLatestImage(
      input.toDS().toDF(), s"$dir/state", s"$dir/chg", s"$dir/ckpt")
    val chunks = allEvents.grouped((allEvents.size + 2) / 3).toSeq
    chunks.foreach { c => input.addData(c); query.processAllAvailable() }
    query.stop()
    // 1) state parity: tombstone-filtered image == the batch CDC op
    val got = Streams.visibleImage(spark, s"$dir/state")
      .select("user_id", "op", "event_id", "ts_us")
    val want = q("cdc_ingest").select("user_id", "op", "event_id", "ts_us")
    assert(got.count() === want.count())
    assert(got.join(want, Seq("user_id", "op", "event_id", "ts_us"))
      .count() === want.count())
    // 2) changelog reconstruction: applying +I/+U (upsert) and -D
    // (delete) per batch in order rebuilds the final visible image;
    // every -U retracts the exact image a prior batch inserted
    val img = scala.collection.mutable.Map.empty[Long, (Long, Long)]
    for (b <- chunks.indices) {
      // retracts (-U/-D) must apply before inserts (+I/+U) per key:
      // '-' sorts after '+', so chg DESC gives the retract-first order
      val rows = spark.read.parquet(s"$dir/chg/batch_id=$b")
        .orderBy(col("user_id"), col("chg").desc).collect()
      rows.foreach { r =>
        val (uid, chg) = (r.getLong(0), r.getString(1))
        val v = (r.getLong(2), r.getLong(3))
        chg match {
          case "+I" =>
            assert(!img.contains(uid), s"+I for existing key $uid"); img(uid) = v
          case "+U" => img(uid) = v
          case "-U" =>
            assert(img(uid) === v, s"-U retracts a row never inserted: $uid")
          case "-D" =>
            assert(img(uid) === v); img.remove(uid); ()
        }
      }
    }
    val finalImg = got.collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(img.toMap === finalImg)
  }

  test("changelog sink: a delete tombstone blocks older late updates " +
      "but not newer ones") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_tomb").toString
    def ev(id: Long, uid: Long, tsUs: Long, kind: String) = Ev(id, uid,
      new java.sql.Timestamp(tsUs / 1000L), tsUs, kind, 1.0)
    val base = 1704067200L * 1000000L
    val input = MemoryStream[Ev]
    val q0 = Streams.changelogLatestImage(
      input.toDS().toDF(), s"$dir/state", s"$dir/chg", s"$dir/ckpt")
    // batch 1: user 7 deleted at t+10
    input.addData(Seq(ev(2, 7, base + 10000000L, "error")))
    q0.processAllAvailable()
    // batch 2: a LATE update older than the delete — must stay dead
    input.addData(Seq(ev(1, 7, base + 5000000L, "click")))
    q0.processAllAvailable()
    assert(Streams.visibleImage(spark, s"$dir/state").count() === 0,
      "late pre-delete update resurrected a deleted key")
    // batch 3: a genuinely newer update — must resurrect
    input.addData(Seq(ev(3, 7, base + 20000000L, "click")))
    q0.processAllAvailable()
    q0.stop()
    val rows = Streams.visibleImage(spark, s"$dir/state").collect()
    assert(rows.length === 1 && rows.head.getAs[Long]("event_id") === 3L)
  }

  test("upsert sink: recovery promotes the fallback before any " +
      "destructive step (second-crash safety)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_upcr2").toString
    val statePath = s"$dir/state"
    def ev(id: Long, uid: Long) = Ev(id, uid,
      new java.sql.Timestamp(1704067200000L + id * 1000),
      (1704067200000L + id * 1000) * 1000L, "view", 1.0)
    def run(ckpt: String, evs: Seq[Ev]): Unit = {
      val input = MemoryStream[Ev]
      val q = Streams.upsertLatestToParquet(
        input.toDS().toDF(), statePath, s"$dir/$ckpt")
      input.addData(evs); q.processAllAvailable(); q.stop()
    }
    run("ck1", Seq(ev(1, 100), ev(2, 200)))
    // crash window from the round-8 review: current renamed to prev AND
    // the crashed attempt's .next still on disk. The old code deleted
    // prev before promoting anything — a second crash right after that
    // delete stranded all state under .next, which recovery never read.
    // The fix promotes prev->current FIRST, so prev's content is safe at
    // the canonical path before any delete can run, and the stale .next
    // is simply overwritten by the replayed batch.
    assert(new java.io.File(statePath).renameTo(
      new java.io.File(statePath + ".prev")))
    val staleNext = new java.io.File(statePath + ".next")
    staleNext.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(staleNext, "garbage").toPath, Array[Byte](1, 2, 3))
    run("ck2", Seq(ev(3, 300)))
    val users = spark.read.parquet(statePath)
      .select("user_id").collect().map(_.getLong(0)).toSet
    assert(users === Set(100L, 200L, 300L))
    // post-swap hygiene: the fallback was consumed, not left dangling
    assert(!new java.io.File(statePath + ".prev").exists())
  }

  test("snapshotMergeStream: micro-batches land as manifest merge " +
      "commits converging to the batch upsert image; a replayed batch " +
      "id commits NOTHING") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files
      .createTempDirectory("snap_stream").toString
    val ck = java.nio.file.Files
      .createTempDirectory("snap_stream_ck").toString
    try {
      val input = MemoryStream[Ev]
      val query = Streams.snapshotMergeStream(input.toDF(), root, ck,
        "user_id", appId = "parity", retain = 4)(ops.Scans.upsertMerge)
      val chunks = allEvents.grouped((allEvents.size + 2) / 3).toSeq
      chunks.foreach { c => input.addData(c); query.processAllAvailable() }
      query.stop()
      import graft.streaming.SnapshotTable
      // the table converged to the batch latest image over ALL events
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id")
        .orderBy(col("ts").desc, col("event_id").desc)
      val expected = allEvents.toDF()
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1).drop("rn")
      val got = SnapshotTable.read(spark, root).get
      assert(got.count() === expected.count())
      assert(got.exceptAll(expected).count() === 0)
      assert(expected.exceptAll(got).count() === 0)
      // one merge commit per micro-batch, each manifest-backed; the
      // replay guard knows the last landed batch id
      val versions = SnapshotTable.committedVersions(spark, root)
      assert(versions.size === chunks.size)
      val last = SnapshotTable.lastCommittedBatch(spark, root, "parity")
      assert(last === Some(chunks.size - 1L))
      // crash-replay: the checkpoint lost batch N but the table has it —
      // re-delivering the SAME batch id must commit nothing (the
      // foreachBatch body is the seam, called directly)
      val replay = chunks.last.toDF()
      val committed = Streams.snapshotMergeBatch(root, "user_id",
        "parity", retain = 4)(ops.Scans.upsertMerge)(
        replay, chunks.size - 1L)
      assert(!committed, "replayed batch id must be skipped")
      assert(SnapshotTable.committedVersions(spark, root) === versions)
      // ... while the NEXT batch id commits
      val advanced = Streams.snapshotMergeBatch(root, "user_id",
        "parity", retain = 4)(ops.Scans.upsertMerge)(
        replay, chunks.size.toLong)
      assert(advanced)
      assert(SnapshotTable.committedVersions(spark, root).size ===
        versions.size + 1)
      // idempotent content: replaying already-absorbed rows as a new
      // batch id cannot change the image
      val after = SnapshotTable.read(spark, root).get
      assert(after.exceptAll(expected).count() === 0)
      assert(expected.exceptAll(after).count() === 0)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(root))
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(ck))
    }
  }

  /** A 3-version merge chain over the fixture events (the
    * cdf-chain shape: seed latest image, then two localized quarter
    * merges) for the table-source parity tests. */
  private def buildCdfChain(root: String): Seq[Long] = {
    import spark.implicits._
    import graft.streaming.SnapshotTable
    val ev = allEvents.toDF()
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ts"), col("value"))
    val uCap = allEvents.map(_.user_id).max / 4
    SnapshotTable.commitWithStats(spark, root, "user_id", retain = 4)(
      _ => SnapshotTable.clusterBy(
        ops.Scans.upsertMerge(None,
          ev.where(pmod(col("event_id"), lit(2)) === 0)),
        "user_id", 4))
    SnapshotTable.commitMerge(spark, root,
      ev.where(pmod(col("event_id"), lit(2)) === 1 &&
        col("user_id") <= uCap), "user_id",
      retain = 4)(ops.Scans.upsertMerge)
    SnapshotTable.commitMerge(spark, root,
      ev.where(pmod(col("event_id"), lit(2)) === 1 &&
        col("user_id") > uCap && col("user_id") <= 2 * uCap), "user_id",
      retain = 4)(ops.Scans.upsertMerge)
    SnapshotTable.committedVersions(spark, root)
  }

  private def boardRows(path: String): Seq[(Long, Long, BigDecimal)] =
    spark.read.parquet(path)
      .orderBy("version").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), BigDecimal(r.getDecimal(2))))

  test("tableChangeStream: the version-tailing source's streamed fold " +
      "reproduces the batch changelog fold bit-for-bit across a " +
      "3-version chain WITH a crash/restart mid-chain") {
    import graft.streaming.SnapshotTable
    val root = java.nio.file.Files
      .createTempDirectory("tbl_src").toString
    val stateDir = java.nio.file.Files
      .createTempDirectory("tbl_src_state").toString
    val ck = java.nio.file.Files
      .createTempDirectory("tbl_src_ck").toString
    try {
      val vs = buildCdfChain(root)
      assert(vs.size === 3)
      // the DIRECT batch fold (table_cdf_consume's algebra through the
      // same shared init/fold code)
      val direct = {
        var b = ops.Scans.cdfBoardInit(spark)(
          SnapshotTable.readVersion(spark, root, vs(0)))
        (0 to 1).foreach { i =>
          b = ops.Scans.cdfBoardFold(spark)(b,
            SnapshotTable.readChanges(spark, root, vs(i), vs(i + 1),
              "user_id"))
        }
        b.orderBy("version").collect().toSeq
          .map(r => (r.getLong(0), r.getLong(1),
            BigDecimal(r.getDecimal(2))))
      }
      assert(direct.size === 3)
      // streamed, with a CRASH mid-chain: consume the bootstrap and ONE
      // transition, then "die" (nothing in memory survives a step — the
      // watermark and board on disk are the whole state)
      val state = s"$stateDir/board"
      assert(Streams.tableChangeStep(spark, root, "user_id", state)(
        ops.Scans.cdfBoardInit(spark))(ops.Scans.cdfBoardFold(spark)))
      assert(Streams.tableChangeStep(spark, root, "user_id", state)(
        ops.Scans.cdfBoardInit(spark))(ops.Scans.cdfBoardFold(spark)))
      assert(boardRows(state).size === 2, "mid-chain state: 2 rows")
      // restart as the LIVE rate-driven streaming query — it must
      // resume from the on-disk watermark (never re-bootstrap) and
      // drain only the remaining transition
      val query = Streams.tableChangeStream(spark, root, "user_id",
        state, ck)(ops.Scans.cdfBoardInit(spark))(
        ops.Scans.cdfBoardFold(spark))
      // poll the WATERMARK sidecar (a cheap text read that never races
      // the swap the way a parquet read of the rotating board would)
      def consumed: Long =
        try {
          val f = new java.io.File(s"$state/_graft_consumed_v")
          if (f.isFile)
            new String(java.nio.file.Files.readAllBytes(f.toPath),
              "UTF-8").trim.toLong
          else -1L
        } catch { case _: java.io.IOException => -1L }
      val deadline = System.nanoTime() + 60L * 1000 * 1000000
      while (consumed < vs(2) && System.nanoTime() < deadline)
        Thread.sleep(200)
      query.stop()
      assert(consumed === vs(2), "stream never caught up to v3")
      assert(boardRows(state) === direct,
        "streamed board must equal the batch fold bit-for-bit")
      // caught up: further steps consume nothing and change nothing
      assert(!Streams.tableChangeStep(spark, root, "user_id", state)(
        ops.Scans.cdfBoardInit(spark))(ops.Scans.cdfBoardFold(spark)))
      assert(boardRows(state) === direct)
    } finally {
      Seq(root, stateDir, ck).foreach(d =>
        org.apache.commons.io.FileUtils.deleteDirectory(
          new java.io.File(d)))
    }
  }

  test("tableChangeStep over a MERGE-ON-READ (deletion-vector) " +
      "transition folds identically to the batch changelog — the " +
      "subscription contract survives MOR commits") {
    import graft.streaming.SnapshotTable
    val root = java.nio.file.Files
      .createTempDirectory("tbl_src_dv").toString
    val stateDir = java.nio.file.Files
      .createTempDirectory("tbl_src_dv_state").toString
    try {
      val ev = ops.Tables.events(spark, sf)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("ts"), col("value"))
      val uCap = allEvents.map(_.user_id).max / 4
      SnapshotTable.commitWithStats(spark, root, "user_id", retain = 4)(
        _ => SnapshotTable.clusterBy(
          ops.Scans.upsertMerge(None,
            ev.where(pmod(col("event_id"), lit(2)) === 0)),
          "user_id", 4))
      SnapshotTable.commitMerge(spark, root,
        ev.where(pmod(col("event_id"), lit(2)) === 1 &&
          col("user_id") <= uCap), "user_id",
        retain = 4)(ops.Scans.upsertMerge)
      // the LAST transition is merge-on-read: tombstones, not rewrites
      SnapshotTable.commitMergeDV(spark, root,
        ev.where(pmod(col("event_id"), lit(2)) === 1 &&
          col("user_id") > uCap && col("user_id") <= 2 * uCap),
        "user_id", retain = 4)(ops.Scans.upsertMerge)
      val vs = SnapshotTable.committedVersions(spark, root)
      assert(vs.size === 3)
      val direct = {
        var b = ops.Scans.cdfBoardInit(spark)(
          SnapshotTable.readVersion(spark, root, vs(0)))
        (0 to 1).foreach { i =>
          b = ops.Scans.cdfBoardFold(spark)(b,
            SnapshotTable.readChanges(spark, root, vs(i), vs(i + 1),
              "user_id"))
        }
        b.orderBy("version").collect().toSeq
          .map(r => (r.getLong(0), r.getLong(1),
            BigDecimal(r.getDecimal(2))))
      }
      val state = s"$stateDir/board"
      while (Streams.tableChangeStep(spark, root, "user_id", state)(
        ops.Scans.cdfBoardInit(spark))(ops.Scans.cdfBoardFold(spark))) ()
      assert(boardRows(state) === direct,
        "streamed fold over the DV transition must equal the batch fold")
    } finally {
      Seq(root, stateDir).foreach(d =>
        org.apache.commons.io.FileUtils.deleteDirectory(
          new java.io.File(d)))
    }
  }

  test("BRONZE->SILVER->GOLD: tableMirrorStep chains a silver table " +
      "off the bronze chain exactly-once (dest txn log IS the " +
      "watermark), deletes tombstone through, and the gold board " +
      "subscribed to SILVER equals its direct fold") {
    import graft.streaming.SnapshotTable
    val bronze = java.nio.file.Files
      .createTempDirectory("lake_bronze").toString
    val silver = java.nio.file.Files
      .createTempDirectory("lake_silver").toString
    val goldDir = java.nio.file.Files
      .createTempDirectory("lake_gold").toString
    try {
      // bronze: the shared 3-version upsert chain PLUS a 4th
      // transition that point-DELETES the two smallest users via
      // merge-on-read (resolve emits nothing)
      val vsUp = buildCdfChain(bronze)
      val victims = SnapshotTable.read(spark, bronze).get
        .select("user_id").distinct().orderBy("user_id").limit(2)
        .collect().map(_.getLong(0)).toSeq
      SnapshotTable.commitMergeDV(spark, bronze,
        SnapshotTable.read(spark, bronze).get
          .where(col("user_id").isin(victims: _*)),
        "user_id", retain = 5)((_, _) =>
        SnapshotTable.read(spark, bronze).get.limit(0))
      val vs = SnapshotTable.committedVersions(spark, bronze)
      assert(vs.size === 4)
      // silver mirrors bronze: bootstrap + 3 transitions
      var steps = 0
      while (graft.streaming.Streams.tableMirrorStep(spark, bronze,
        silver, "user_id", "mirror-app")) steps += 1
      assert(steps === 4, s"bootstrap + 3 transitions, got $steps")
      // image parity, including the deletes
      def imageOf(root: String) = SnapshotTable.read(spark, root).get
        .select(col("user_id"), col("event_id"),
          round(col("value"), 2).as("value"))
        .orderBy("user_id").collect().toSeq
      assert(imageOf(silver) === imageOf(bronze))
      assert(SnapshotTable.read(spark, silver).get
        .where(col("user_id").isin(victims: _*)).count() === 0,
        "deleted users must tombstone through the mirror")
      // exactly-once: replaying the step applies nothing, no version
      val silverVs = SnapshotTable.committedVersions(spark, silver)
      assert(!graft.streaming.Streams.tableMirrorStep(spark, bronze,
        silver, "user_id", "mirror-app"))
      assert(SnapshotTable.committedVersions(spark, silver) === silverVs)
      // GOLD: a board subscribed to the SILVER table (the layered
      // flow: ingest -> mirrored table -> serving board), equal to the
      // direct batch fold over silver's own versions
      val gold = s"$goldDir/board"
      while (graft.streaming.Streams.tableChangeStep(spark, silver,
        "user_id", gold)(ops.Scans.cdfBoardInit(spark))(
        ops.Scans.cdfBoardFold(spark))) ()
      val direct = {
        var b = ops.Scans.cdfBoardInit(spark)(
          SnapshotTable.readVersion(spark, silver, silverVs.head))
        silverVs.sliding(2).filter(_.size == 2).foreach { case Seq(a, c) =>
          b = ops.Scans.cdfBoardFold(spark)(b,
            SnapshotTable.readChanges(spark, silver, a, c, "user_id"))
        }
        b.orderBy("version").collect().toSeq
          .map(r => (r.getLong(0), r.getLong(1),
            BigDecimal(r.getDecimal(2))))
      }
      assert(boardRows(gold) === direct,
        "gold board over silver must equal the direct fold")
      // and the board's last row reflects the deletes: n_users dropped
      // by exactly |victims| vs the pre-delete row
      val rows = boardRows(gold)
      assert(rows.last._2 === rows(rows.size - 2)._2 - victims.size)
    } finally {
      Seq(bronze, silver, goldDir).foreach(d =>
        org.apache.commons.io.FileUtils.deleteDirectory(
          new java.io.File(d)))
    }
  }

  test("tableMirrorStream (live): drains existing transitions, picks " +
      "up a commit landing WHILE running, and the dest txn log tracks " +
      "the source head") {
    import graft.streaming.SnapshotTable
    val bronze = java.nio.file.Files
      .createTempDirectory("live_bronze").toString
    val silver = java.nio.file.Files
      .createTempDirectory("live_silver").toString
    val ck = java.nio.file.Files
      .createTempDirectory("live_mirror_ck").toString
    try {
      val vs = buildCdfChain(bronze)
      val query = graft.streaming.Streams.tableMirrorStream(spark,
        bronze, silver, "user_id", "live-mirror", ck)
      def token: Long = SnapshotTable
        .lastCommittedBatch(spark, silver, "live-mirror").getOrElse(-1L)
      def await(v: Long): Unit = {
        val deadline = System.nanoTime() + 60L * 1000 * 1000000
        while (token < v && System.nanoTime() < deadline)
          Thread.sleep(200)
        assert(token === v, s"mirror never reached v$v (at $token)")
      }
      await(vs.last)
      // a NEW bronze transition lands while the mirror is live: merge
      // the odd events of the THIRD user quarter
      val ev = ops.Tables.events(spark, sf)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("ts"), col("value"))
      val uCap = allEvents.map(_.user_id).max / 4
      SnapshotTable.commitMerge(spark, bronze,
        ev.where(pmod(col("event_id"), lit(2)) === 1 &&
          col("user_id") > 2 * uCap && col("user_id") <= 3 * uCap),
        "user_id", retain = 5)(ops.Scans.upsertMerge)
      val v4 = SnapshotTable.latestVersion(spark, bronze).get
      await(v4)
      query.stop()
      def imageOf(root: String) = SnapshotTable.read(spark, root).get
        .select(col("user_id"), col("event_id"),
          round(col("value"), 2).as("value"))
        .orderBy("user_id").collect().toSeq
      assert(imageOf(silver) === imageOf(bronze))
    } finally {
      Seq(bronze, silver, ck).foreach(d =>
        org.apache.commons.io.FileUtils.deleteDirectory(
          new java.io.File(d)))
    }
  }

  test("tableChangeStep replay determinism: re-running a transition " +
      "from a copied pre-step state lands on the identical board (the " +
      "crash-between-fold-and-advance redo is exact)") {
    import graft.streaming.SnapshotTable
    val root = java.nio.file.Files
      .createTempDirectory("tbl_src2").toString
    val stateDir = java.nio.file.Files
      .createTempDirectory("tbl_src2_state").toString
    try {
      buildCdfChain(root)
      val state = s"$stateDir/board"
      def step(p: String): Boolean =
        Streams.tableChangeStep(spark, root, "user_id", p)(
          ops.Scans.cdfBoardInit(spark))(ops.Scans.cdfBoardFold(spark))
      assert(step(state)); assert(step(state))
      // copy the mid-chain state aside = the pre-crash disk image
      val copy = s"$stateDir/board_copy"
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(state), new java.io.File(copy))
      while (step(state)) ()
      while (step(copy)) ()
      assert(boardRows(copy) === boardRows(state))
    } finally {
      Seq(root, stateDir).foreach(d =>
        org.apache.commons.io.FileUtils.deleteDirectory(
          new java.io.File(d)))
    }
  }

  test("tableChangeStep fails LOUDLY when the consumed version was " +
      "vacuumed out from under the consumer (retain must cover lag — " +
      "never a silent re-bootstrap)") {
    import graft.streaming.SnapshotTable
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("tbl_src3").toString
    val stateDir = java.nio.file.Files
      .createTempDirectory("tbl_src3_state").toString
    try {
      SnapshotTable.commitAppend(spark, root,
        Seq((1L, "a")).toDF("k", "v"), retain = 4)
      val state = s"$stateDir/board"
      // bootstrap pins the consumer at v0
      assert(Streams.tableChangeStep(spark, root, "k", state)(
        img => img.groupBy().count())((b, _) => b))
      // two more commits with retain=1 vacuum v0 away
      SnapshotTable.commitAppend(spark, root,
        Seq((2L, "b")).toDF("k", "v"), retain = 1)
      SnapshotTable.commitAppend(spark, root,
        Seq((3L, "c")).toDF("k", "v"), retain = 1)
      val e = intercept[IllegalArgumentException] {
        Streams.tableChangeStep(spark, root, "k", state)(
          img => img.groupBy().count())((b, _) => b)
      }
      assert(e.getMessage.contains("no longer retained"))
    } finally {
      Seq(root, stateDir).foreach(d =>
        org.apache.commons.io.FileUtils.deleteDirectory(
          new java.io.File(d)))
    }
  }

  test("snapshotMergeStream restart across the at-least-once window: " +
      "the checkpoint lost batch 0's commit marker AFTER the table " +
      "commit landed — the restarted query REPLAYS batch 0 through " +
      "foreachBatch and the txn guard commits nothing twice") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files
      .createTempDirectory("snap_restart").toString
    val ck = java.nio.file.Files
      .createTempDirectory("snap_restart_ck").toString
    try {
      import graft.streaming.SnapshotTable
      val chunks = allEvents.grouped((allEvents.size + 1) / 2).toSeq
      val input = MemoryStream[Ev]
      val q1 = Streams.snapshotMergeStream(input.toDF(), root, ck,
        "user_id", appId = "restart", retain = 4)(ops.Scans.upsertMerge)
      input.addData(chunks(0)); q1.processAllAvailable(); q1.stop()
      val v1 = SnapshotTable.committedVersions(spark, root)
      assert(v1.size === 1)
      // simulate the crash window: the table commit landed but the
      // CHECKPOINT's batch-commit marker did not — on restart,
      // Structured Streaming genuinely re-runs batch 0
      val marker = new java.io.File(s"$ck/commits/0")
      assert(marker.isFile, "checkpoint layout changed?")
      assert(marker.delete())
      // the local-FS checksum sidecar must go with it, or the replayed
      // batch can't rewrite its marker (a real crash loses both)
      new java.io.File(s"$ck/commits/.0.crc").delete()
      val q2 = Streams.snapshotMergeStream(input.toDF(), root, ck,
        "user_id", appId = "restart", retain = 4)(ops.Scans.upsertMerge)
      q2.processAllAvailable() // replays batch 0 -> guard must skip
      assert(SnapshotTable.committedVersions(spark, root) === v1,
        "replayed batch 0 must not commit a second version")
      input.addData(chunks(1)); q2.processAllAvailable(); q2.stop()
      assert(SnapshotTable.committedVersions(spark, root).size === 2)
      assert(SnapshotTable.lastCommittedBatch(spark, root, "restart")
        === Some(1L))
      // the image is exact despite the replay
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id")
        .orderBy(col("ts").desc, col("event_id").desc)
      val expected = allEvents.toDF()
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1).drop("rn")
      val got = SnapshotTable.read(spark, root).get
      assert(got.exceptAll(expected).count() === 0)
      assert(expected.exceptAll(got).count() === 0)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(root))
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(ck))
    }
  }

  test("rateEvents: the live rate source's schema and value domains") {
    val q = Streams.rateEvents(spark, rowsPerSecond = 100)
      .writeStream.format("memory").queryName("rate_events").start()
    val out = spark.table("rate_events")
    try {
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (out.count() < 50 && System.nanoTime() < deadline)
        Thread.sleep(100)
    } finally q.stop()
    assert(out.count() >= 50)
    assert(out.schema.map(f => (f.name, f.dataType.simpleString)) == Seq(
      "event_id" -> "bigint", "user_id" -> "bigint", "ts" -> "timestamp",
      "ts_us" -> "bigint", "event_type" -> "string", "value" -> "double"))
    assert(out.where(col("user_id") < 0 || col("user_id") >= 50).isEmpty)
    assert(out.select("event_type").distinct().collect().map(_.getString(0))
      .toSet == Set("view", "click", "purchase", "signup", "error"))
  }
}
