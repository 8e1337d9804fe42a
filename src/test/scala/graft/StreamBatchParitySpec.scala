package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.functions._
import graft.streaming.StreamOps

/** Batch/stream agreement on the REAL events table (SURVEY §7.7 #4): the
  * oracle-checked batch form of stream_tumbling and the true readStream
  * pipeline (file source → watermark → window agg → complete-mode sink)
  * must produce identical rows at sf0.001 — same ns-timestamp bridge, same
  * epoch-aligned windows, same decimal-exact sums.
  */
class StreamBatchParitySpec extends SparkTestBase {

  test("stream_tumbling batch equivalent == true streaming result on events") {
    Tables.ensureConfs(spark) // nanosAsLong for the ts[ns] parquet
    val sfDir = "/root/testdata/sf0.001"

    val batch = SparkEntry.queries("stream_tumbling")(spark, sfDir)
    val batchRows = rowsOf(batch)

    // file-source stream over the same parquet (copied into a stream dir)
    val streamDir = Files.createTempDirectory("graft_parity").toString
    Files.copy(
      Paths.get(s"$sfDir/events.parquet"),
      Paths.get(s"$streamDir/events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val events = spark.readStream.schema(schema).parquet(streamDir)
      .withColumn("ts_us", Tables.tsUsExpr(schema("ts").dataType))
      .withColumn("tsm", timestamp_micros(col("ts_us")))
    val q = StreamOps.tumbling(events, "tsm", "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("parity").outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamRows = rowsOf(spark.table("parity"))
      assert(streamRows.size == batchRows.size,
        s"row counts differ: stream ${streamRows.size} vs batch ${batchRows.size}")
      assert(streamRows == batchRows)
    } finally q.stop()
  }

  test("stream_dedup batch equivalent == true streaming dedup on events") {
    Tables.ensureConfs(spark)
    val sfDir = "/root/testdata/sf0.001"

    val batchRows = rowsOf(SparkEntry.queries("stream_dedup")(spark, sfDir))

    val streamDir = Files.createTempDirectory("graft_parity_dedup").toString
    Files.copy(
      Paths.get(s"$sfDir/events.parquet"),
      Paths.get(s"$streamDir/events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val events = spark.readStream.schema(schema).parquet(streamDir)
      .withColumn("ts_us", Tables.tsUsExpr(schema("ts").dataType))
      .withColumn("tsm", timestamp_micros(col("ts_us")))
      .withColumn("minute_us", expr("(ts_us div 60000000) * 60000000"))
    // delay longer than the fixture's time span: nothing is late, so the
    // streaming key set equals the batch DISTINCT exactly.
    val dedup = StreamOps
      .dedupStream(events, "tsm", "3650 days", Seq("user_id", "event_type", "minute_us"))
      .select("user_id", "event_type", "minute_us")
    val q = dedup.writeStream.format("memory").queryName("parity_dedup")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamRows = rowsOf(spark.table("parity_dedup"))
      assert(streamRows.size == batchRows.size,
        s"row counts differ: stream ${streamRows.size} vs batch ${batchRows.size}")
      assert(streamRows == batchRows)
    } finally q.stop()
  }

  test("stream_session_native batch == true streaming session_window on events") {
    Tables.ensureConfs(spark)
    val sfDir = "/root/testdata/sf0.001"

    val batchRows = rowsOf(SparkEntry.queries("stream_session_native")(spark, sfDir))

    val streamDir = Files.createTempDirectory("graft_parity_session").toString
    Files.copy(
      Paths.get(s"$sfDir/events.parquet"),
      Paths.get(s"$streamDir/events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val events = spark.readStream.schema(schema).parquet(streamDir)
      .withColumn("ts_us", Tables.tsUsExpr(schema("ts").dataType))
      .withColumn("tsm", timestamp_micros(col("ts_us")))
    // The NATIVE session-window operator running as a genuine stateful
    // stream: state-store session merging per (user, window). Session
    // aggregations reject update mode (windows merge, so an "updated row"
    // has no stable key); complete mode emits the full merged state, which
    // after the single micro-batch equals the batch result row for row —
    // the same operator plan, incremental execution.
    val sessions = events
      .withWatermark("tsm", "10 minutes")
      .groupBy(col("user_id"),
        session_window(col("tsm"),
          s"${graft.queries.StreamingQueries.GapUs} microseconds").as("w"))
      .agg(count(lit(1)).cast("long").as("n_events"))
      .select(col("user_id"),
        expr("unix_micros(w.start)").as("session_start_us"),
        expr("unix_micros(w.end)").as("session_end_us"),
        col("n_events"))
    val q = sessions.writeStream.format("memory").queryName("parity_session")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamRows = rowsOf(spark.table("parity_session"))
      assert(streamRows.size == batchRows.size,
        s"row counts differ: stream ${streamRows.size} vs batch ${batchRows.size}")
      assert(streamRows == batchRows)
    } finally q.stop()
  }

  test("stream_distinct_users: streaming (window, user) dedup state == batch exact distinct") {
    Tables.ensureConfs(spark)
    val sfDir = "/root/testdata/sf0.001"

    // batch truth: (window_start_us, n_users) from the declared query
    val batchUsers = rowsOf(SparkEntry.queries("stream_distinct_users")(spark, sfDir)
      .select("window_start_us", "n_users"))

    val streamDir = Files.createTempDirectory("graft_parity_users").toString
    Files.copy(
      Paths.get(s"$sfDir/events.parquet"),
      Paths.get(s"$streamDir/events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val hourUs = 3600L * 1000000L
    val events = spark.readStream.schema(schema).parquet(streamDir)
      .withColumn("ts_us", Tables.tsUsExpr(schema("ts").dataType))
      .withColumn("tsm", timestamp_micros(col("ts_us")))
      .withColumn("window_start_us", expr(s"(ts_us div $hourUs) * $hourUs"))
    // COUNT DISTINCT is not incrementally maintainable: the streaming form
    // is watermark-bounded dedup state on (user, window) — emit the live
    // key set, count it per window downstream (here: batch over the sink,
    // isolating the stateful component under test).
    val dedup = StreamOps
      .dedupStream(events, "tsm", "3650 days", Seq("user_id", "window_start_us"))
      .select("user_id", "window_start_us")
    val q = dedup.writeStream.format("memory").queryName("parity_users")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamUsers = rowsOf(spark.table("parity_users")
        .groupBy("window_start_us")
        .agg(count(lit(1)).cast("long").as("n_users")))
      assert(streamUsers == batchUsers,
        s"stream ${streamUsers.take(3)} vs batch ${batchUsers.take(3)}")
    } finally q.stop()
  }

  test("stream_join_outer: streaming left-outer interval join == batch after a watermark flush") {
    Tables.ensureConfs(spark)
    val sfDir = "/root/testdata/sf0.001"

    val batchRows = rowsOf(SparkEntry.queries("stream_join_outer")(spark, sfDir))

    // stream dir = the real events + one far-future flush event per side:
    // outer NULL rows only emit once the watermark passes a view's window,
    // so without the flush every tail view would be silently withheld —
    // exactly the caveat this test exists to demonstrate.
    val streamDir = Files.createTempDirectory("graft_outer_parity").toString
    Files.copy(
      Paths.get(s"$sfDir/events.parquet"),
      Paths.get(s"$streamDir/events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val batchEvents = spark.read.parquet(s"$sfDir/events.parquet")
    val schema = batchEvents.schema
    val maxUs = Tables.events(spark, sfDir)
      .agg(max(col("ts_us"))).collect().head.getLong(0)
    val flushUs = maxUs + 86400L * 1000000L
    spark.range(2).select(
        (col("id") * -1 - 1).as("event_id"),
        expr(s"CAST(timestamp_micros(${flushUs}L) AS ${schema("ts").dataType.sql})")
          .as("ts"),
        lit(-999L).as("user_id"),
        when(col("id") === 0, "view").otherwise("click").as("event_type"),
        lit(0.0).as("value"), lit("{}").as("props"))
      .write.mode("append").parquet(streamDir)

    val events = spark.readStream.schema(schema).parquet(streamDir)
      .withColumn("ts_us", Tables.tsUsExpr(schema("ts").dataType))
      .withColumn("tsm", timestamp_micros(col("ts_us")))
    def side(tpe: String, idAs: String, tsAs: String) = events
      .filter(col("event_type") === tpe)
      .select(col("event_id").as(idAs), col("user_id"), col("tsm"),
        col("ts_us").as(tsAs))
    val v = side("view", "view_id", "t_view_us")
      .withColumnRenamed("tsm", "v_tsm")
    val c = side("click", "click_id", "t_click_us")
      .withColumnRenamed("tsm", "c_tsm")
    val joined = StreamOps.intervalJoin(
        v, c, keyCol = "user_id", leftTs = "v_tsm", rightTs = "c_tsm",
        lowerUs = 0L, upperUs = 600000000L, delay = "10 minutes",
        joinType = "leftOuter")
      // project BEFORE the sink: the join carries user_id on both sides
      .select(col("l.user_id").as("user_id"), col("view_id"), col("t_view_us"),
        col("click_id"), (col("t_click_us") - col("t_view_us")).as("delta_us"))
    val q = joined.writeStream.format("memory").queryName("outer_parity")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamRows = rowsOf(spark.table("outer_parity")
        .filter(col("view_id") >= 0)) // drop the flush sentinel's own row
      assert(streamRows.size == batchRows.size,
        s"row counts differ: stream ${streamRows.size} vs batch ${batchRows.size}")
      assert(streamRows == batchRows)
    } finally q.stop()
  }

  test("funnelWithState: stateful streaming funnel == batch events_funnel exactly") {
    Tables.ensureConfs(spark)
    val sfDir = "/root/testdata/sf0.001"
    val batchRows = rowsOf(SparkEntry.queries("events_funnel")(spark, sfDir))

    val streamDir = Files.createTempDirectory("graft_funnel_parity").toString
    Files.copy(
      Paths.get(s"$sfDir/events.parquet"),
      Paths.get(s"$streamDir/events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val maxUs = Tables.events(spark, sfDir)
      .agg(max(col("ts_us"))).collect().head.getLong(0)
    // flush: a purchase from a never-viewing user — advances the watermark
    // past every real event (firing every timeout) and emits no row itself
    spark.range(1).select(
        lit(-1L).as("event_id"),
        expr(s"CAST(timestamp_micros(${maxUs + 86400L * 1000000L}L) " +
          s"AS ${schema("ts").dataType.sql})").as("ts"),
        lit(-999L).as("user_id"), lit("purchase").as("event_type"),
        lit(0.0).as("value"), lit("{}").as("props"))
      .write.mode("append").parquet(streamDir)

    val events = spark.readStream.schema(schema).parquet(streamDir)
      .withColumn("ts_us", Tables.tsUsExpr(schema("ts").dataType))
      .withColumn("tsm", timestamp_micros(col("ts_us")))
    val q = StreamOps.funnelWithState(events, "tsm", "10 minutes")
      .writeStream.format("memory").queryName("funnel_parity")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamRows = rowsOf(spark.table("funnel_parity"))
      assert(streamRows.size == batchRows.size,
        s"row counts differ: stream ${streamRows.size} vs batch ${batchRows.size}")
      assert(streamRows == batchRows)
    } finally q.stop()
  }

  test("txnLogSink: true streaming foreachBatch lands every row exactly once; replay is a no-op") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.sources.TxnLog
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val table = Files.createTempDirectory("graft_txnsink").resolve("t").toString
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("id", "v")
      .writeStream
      .foreachBatch(StreamOps.txnLogSink(table))
      .option("checkpointLocation",
        Files.createTempDirectory("graft_txnsink_ckpt").toString)
      .start()
    try {
      in.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      in.addData((3L, "c"))
      q.processAllAvailable()
      assert(rowsOf(TxnLog.read(spark, table)) == Seq("1|a", "2|b", "3|c"))
      // each micro-batch is its own commit: version == last batch id
      assert(TxnLog.latestVersion(table) == 1)
      // crash-replay simulation: Spark re-invokes the sink with an
      // already-committed batch id — must be a structural no-op
      StreamOps.txnLogSink(table)(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), 0L)
      assert(rowsOf(TxnLog.read(spark, table)) == Seq("1|a", "2|b", "3|c"))
      assert(TxnLog.latestVersion(table) == 1)
      // time travel reproduces the prefix of the stream
      assert(rowsOf(TxnLog.read(spark, table, Some(0))) == Seq("1|a", "2|b"))
    } finally q.stop()
  }

  test("scd2Sink: true streaming snapshot feed maintains the SCD2 history exactly once (r12)") {
    // Snapshot files arrive one per micro-batch (maxFilesPerTrigger=1,
    // mtime-ordered); the sink must leave the TxnLog table equal to the
    // full SCD2 rebuild of the snapshot stack, with one table version per
    // batch and replay a structural no-op.
    import graft.sources.TxnLog
    import graft.operators.Differ
    import java.nio.file.attribute.FileTime
    import spark.implicits._
    val snaps = Seq(
      Seq((1L, 10.0), (2L, 20.0)),                 // v0
      Seq((1L, 11.0), (3L, 30.0)),                 // v1: C(1), D(2), I(3)
      Seq((1L, 11.0), (2L, 25.0), (3L, 30.0)))     // v2: N(1), re-I(2), N(3)
      .map(_.toDF("k", "v"))
    val streamDir = Files.createTempDirectory("graft_scd2sink_feed")
    snaps.zipWithIndex.foreach { case (df, i) =>
      val tmp = Files.createTempDirectory("graft_scd2sink_tmp")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      import scala.jdk.CollectionConverters._
      val src = Files.list(tmp).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val dst = streamDir.resolve(f"v$i%03d.parquet")
      Files.move(src, dst)
      Files.setLastModifiedTime(dst, FileTime.fromMillis(1000000L + i * 60000L))
    }
    val table = Files.createTempDirectory("graft_scd2sink").resolve("dim").toString
    val q = spark.readStream.schema(snaps.head.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(streamDir.toString)
      .writeStream
      .foreachBatch(StreamOps.scd2Sink(table, Seq("k")))
      .option("checkpointLocation",
        Files.createTempDirectory("graft_scd2sink_ckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      val streamed = rowsOf(TxnLog.read(spark, table)
        .select("k", "v", "valid_from", "valid_to"))
      val stack = snaps.zipWithIndex.map { case (df, i) =>
        df.select(col("k"), lit(i.toLong).as("version"), col("v")) }
        .reduce(_ unionByName _)
      val rebuilt = rowsOf(Differ.scd2(stack, Seq("k"), "version", Seq("v"), maxVersion = 2)
        .select("k", "v", "valid_from", "valid_to"))
      assert(streamed == rebuilt, s"streamed=$streamed rebuilt=$rebuilt")
      assert(TxnLog.latestVersion(table) == 2)
      // crash-replay: re-invoking an already-committed batch id is a no-op
      StreamOps.scd2Sink(table, Seq("k"))(snaps(1), 1L)
      assert(rowsOf(TxnLog.read(spark, table)
        .select("k", "v", "valid_from", "valid_to")) == rebuilt)
      assert(TxnLog.latestVersion(table) == 2)
    } finally q.stop()
  }

  test("alertWithState: streamed hysteresis episodes == batch LOCF-window episodes") {
    Tables.ensureConfs(spark)
    val sfDir = "/root/testdata/sf0.001"
    val batchRows = rowsOf(
      SparkEntry.queries("events_alert_hysteresis")(spark, sfDir)
        .select("user_id", "t_start_us", "t_end_us", "n_events", "peak_value"))

    val streamDir = Files.createTempDirectory("graft_parity_alert").toString
    Files.copy(
      Paths.get(s"$sfDir/events.parquet"),
      Paths.get(s"$streamDir/events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    // flush sentinel: far-future event from a synthetic user at a value
    // inside the dead band (cannot open an episode) — advances the
    // watermark past every real event so every timeout fires; the batch
    // side never sees it (different parquet dir)
    val maxUs = Tables.events(spark, sfDir)
      .agg(max(col("ts_us"))).collect().head.getLong(0)
    spark.range(1).select(
        lit(-1L).as("event_id"),
        expr(s"CAST(timestamp_micros(${maxUs + 86400L * 1000000L}L) " +
          s"AS ${schema("ts").dataType.sql})").as("ts"),
        lit(-999L).as("user_id"), lit("view").as("event_type"),
        lit(80.0).as("value"), lit("{}").as("props"))
      .write.mode("append").parquet(streamDir)
    val events = spark.readStream.schema(schema).parquet(streamDir)
      .withColumn("ts_us", Tables.tsUsExpr(schema("ts").dataType))
      .withColumn("tsm", timestamp_micros(col("ts_us")))
    val q = StreamOps.alertWithState(events, "tsm", "10 minutes")
      .writeStream.format("memory").queryName("parity_alert")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamRows = rowsOf(spark.table("parity_alert")
        .select("user_id", "t_start_us", "t_end_us", "n_events", "peak_value"))
      assert(streamRows.size == batchRows.size,
        s"episode counts differ: stream ${streamRows.size} vs batch ${batchRows.size}")
      assert(streamRows == batchRows)
    } finally q.stop()
  }

  test("stream_hll: streamed sketch estimate == batch sketch, bit-identical") {
    Tables.ensureConfs(spark)
    val sfDir = "/root/testdata/sf0.001"
    val batchRows = rowsOf(
      SparkEntry.queries("stream_hll")(spark, sfDir)
        .select("window_start_us", "n_est"))

    val streamDir = Files.createTempDirectory("graft_parity_hll").toString
    Files.copy(
      Paths.get(s"$sfDir/events.parquet"),
      Paths.get(s"$streamDir/events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val events = spark.readStream.schema(schema).parquet(streamDir)
      .withColumn("ts_us", Tables.tsUsExpr(schema("ts").dataType))
      .withColumn("tsm", timestamp_micros(col("ts_us")))
    val q = StreamOps.hllDistinct(events, "tsm", "1 hour", "10 minutes", "user_id")
      .writeStream.format("memory").queryName("parity_hll")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamRows = rowsOf(spark.table("parity_hll"))
      assert(streamRows == batchRows,
        s"streamed HLL must merge to the same registers as batch:\n" +
          s"stream=${streamRows.take(3)} batch=${batchRows.take(3)}")
    } finally q.stop()
  }

  test("Misra–Gries candidates: streamed complete-mode agg ⊇ batch heavy hitters") {
    // the MG summary is mergeable, so the same aggregate runs unchanged in
    // a complete-mode streaming agg: per-micro-batch partial states merge
    // into the store and the final candidate set still carries the
    // deterministic > N/(k+1) guarantee — the streaming twin of
    // agg_heavy_hitters' pass 1.
    Tables.ensureConfs(spark)
    import spark.implicits._
    val sfDir = "/root/testdata/sf0.001"
    val tokens = Tables.table(spark, sfDir, "documents")
      .select(explode(graft.operators.TextOps.tokens(col("text"))).as("token"))
    val n = tokens.count()
    val exact = tokens.groupBy("token").agg(count(lit(1)).as("c"))
      .filter(col("c") * 65 > n)  // > N/(k+1), the guaranteed-survivor set
      .select("token").as[String].collect().toSet

    val streamDir = Files.createTempDirectory("graft_parity_mg").toString
    Files.copy(
      Paths.get(s"$sfDir/documents.parquet"),
      Paths.get(s"$streamDir/documents.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val schema = spark.read.parquet(s"$sfDir/documents.parquet").schema
    val q = spark.readStream.schema(schema).parquet(streamDir)
      .select(explode(graft.operators.TextOps.tokens(col("text"))).as("token"))
      .agg(graft.functions.MisraGries.agg(col("token"), 64).as("cands"))
      .writeStream.format("memory").queryName("parity_mg")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val cands = spark.table("parity_mg")
        .select(explode(col("cands"))).as[String].collect().toSet
      assert(cands.size <= 64)
      assert(exact.subsetOf(cands),
        s"streamed MG summary lost guaranteed heavy hitters: ${exact -- cands}")
    } finally q.stop()
  }

  test("stream_diff batch equivalent == true streaming diff-vs-static (r11)") {
    // The declared key and the readStream pipeline share ONE body
    // (Differ.diffVsStatic — a stateless stream-static left-outer join),
    // so the streamed I/C/N feed must equal the batch frame row for row.
    // The arriving side is the diff_right fixture materialized to parquet
    // and replayed through a file-source stream; the snapshot is the
    // static left (orders).
    Tables.ensureConfs(spark)
    val sfDir = "/root/testdata/sf0.001"
    val batchRows = rowsOf(SparkEntry.queries("stream_diff")(spark, sfDir))

    val streamDir = Files.createTempDirectory("graft_parity_diff").toString
    val rightBatch = graft.queries.DiffQueries.right(spark, sfDir)
    rightBatch.write.mode("overwrite").parquet(streamDir)
    val arriving = spark.readStream.schema(rightBatch.schema).parquet(streamDir)
    val snapshot = graft.queries.DiffQueries.left(spark, sfDir)
    val q = StreamOps.diffStream(arriving, snapshot, Seq("o_orderkey"))
      .writeStream.format("memory").queryName("parity_diff")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamRows = rowsOf(spark.table("parity_diff"))
      assert(streamRows.size == batchRows.size,
        s"row counts differ: stream ${streamRows.size} vs batch ${batchRows.size}")
      assert(streamRows == batchRows)
    } finally q.stop()
  }

  test("stream_diff_summary batch equivalent == complete-mode streaming census (r11)") {
    // The running I/C/N census: a complete-mode aggregate over the
    // stateless stream-static join. After the stream drains, the emitted
    // table must equal the batch census exactly — state is 3 counters.
    Tables.ensureConfs(spark)
    val sfDir = "/root/testdata/sf0.001"
    val batchRows = rowsOf(SparkEntry.queries("stream_diff_summary")(spark, sfDir))

    val streamDir = Files.createTempDirectory("graft_parity_diffsum").toString
    val rightBatch = graft.queries.DiffQueries.right(spark, sfDir)
    rightBatch.write.mode("overwrite").parquet(streamDir)
    val arriving = spark.readStream.schema(rightBatch.schema).parquet(streamDir)
    val snapshot = graft.queries.DiffQueries.left(spark, sfDir)
    val q = StreamOps.diffStreamSummary(arriving, snapshot, Seq("o_orderkey"))
      .writeStream.format("memory").queryName("parity_diffsum")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamRows = rowsOf(spark.table("parity_diffsum"))
      assert(streamRows == batchRows,
        s"census mismatch: stream=$streamRows batch=$batchRows")
    } finally q.stop()
  }

  test("stream_dedup_delta: true readStream novel-fingerprint feed == batch set (r12)") {
    // One body (StreamOps.dedupDeltaStream) serves the oracle-checked
    // batch key and the readStream pipeline: stateless stream-static anti
    // join vs the historical fingerprint set, then in-stream dedup. At
    // sha grain the output is a SET, so parity is deterministic
    // regardless of arrival order.
    Tables.ensureConfs(spark)
    val sfDir = "/root/testdata/sf0.001"
    val batchRows = rowsOf(SparkEntry.queries("stream_dedup_delta")(spark, sfDir))
    assert(batchRows.nonEmpty, "fixture must produce novel fingerprints")

    val docs = Tables.cachedTable(spark, sfDir, "documents")
    val arrBatch = docs.filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 3000000L).as("arr_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") % 23 === 0)
        .select((col("doc_id") + 2000000L).as("arr_id"),
          concat(col("text"), lit(" zzfresh")).as("text")))
    val hist = docs.select(sha2(col("text").cast("binary"), 256).as("h")).distinct()

    val streamDir = Files.createTempDirectory("graft_deddelta_parity").toString
    arrBatch.write.mode("overwrite").parquet(streamDir)
    val arriving = spark.readStream.schema(arrBatch.schema).parquet(streamDir)
    val q = StreamOps.dedupDeltaStream(arriving, "text", hist)
      .writeStream.format("memory").queryName("deddelta_parity")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamRows = rowsOf(spark.table("deddelta_parity"))
      assert(streamRows == batchRows,
        s"novel-fingerprint sets differ: stream ${streamRows.size} vs batch ${batchRows.size}")
    } finally q.stop()
  }

  test("stream_diff_complete: watermark-closed windowed diff emits I/C/N AND D == batch (r12)") {
    // The r11 gap: append streams cannot assert absence, so stream_diff
    // omits D. The windowed variant CAN — when the watermark closes a
    // window, snapshot keys silent in it are certified per-window
    // deletions. This pins the stateful streaming form
    // (flatMapGroupsWithState keyed by window, event-time timeout at
    // window end) row-for-row against the oracle-checked batch key,
    // INCLUDING the D rows, which exist only via the watermark flush.
    Tables.ensureConfs(spark)
    val sfDir = "/root/testdata/sf0.001"
    val DayUs = 86400000000L
    val batchRows = rowsOf(SparkEntry.queries("stream_diff_complete")(spark, sfDir))
    assert(batchRows.exists(_.contains("|D|")),
      "fixture must exercise D rows or the pin is vacuous")

    // Snapshot = day-1 per-user counts minus user_id%7==0, exactly the
    // batch fixture's rule.
    val ev = Tables.events(spark, sfDir)
      .withColumn("ws", col("ts_us") - pmod(col("ts_us"), lit(DayUs)))
    val ws0 = ev.agg(min("ws")).collect().head.getLong(0)
    val snapMap = ev.filter(col("ws") === ws0 && col("user_id") % 7 =!= 0)
      .groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val streamDir = Files.createTempDirectory("graft_windiff_parity").toString
    Files.copy(
      Paths.get(s"$sfDir/events.parquet"),
      Paths.get(s"$streamDir/events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val maxUs = Tables.events(spark, sfDir)
      .agg(max(col("ts_us"))).collect().head.getLong(0)
    // Far-future flush sentinel: advances the watermark past every real
    // window's end so ALL observed windows close and emit. Its own window
    // never closes, so the sentinel contributes no output row.
    spark.range(1).select(
        lit(-1L).as("event_id"),
        expr(s"CAST(timestamp_micros(${maxUs + 86400L * 1000000L}L) " +
          s"AS ${schema("ts").dataType.sql})").as("ts"),
        lit(-999L).as("user_id"), lit("view").as("event_type"),
        lit(0.0).as("value"), lit("{}").as("props"))
      .write.mode("append").parquet(streamDir)

    val arriving = spark.readStream.schema(schema).parquet(streamDir)
      .withColumn("ts_us", Tables.tsUsExpr(schema("ts").dataType))
      .withColumn("tsm", timestamp_micros(col("ts_us")))
      .filter(col("ts_us") >= ws0 + DayUs) // diff windows = after day 1
    val q = StreamOps.diffStreamComplete(
        arriving, "tsm", DayUs, "10 minutes", snapMap, "user_id")
      .toDF("window_start_us", "user_id", "diff_status", "left_n", "right_n")
      .writeStream.format("memory").queryName("windiff_parity")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamRows = rowsOf(spark.table("windiff_parity"))
      assert(streamRows.size == batchRows.size,
        s"row counts differ: stream ${streamRows.size} vs batch ${batchRows.size}")
      assert(streamRows == batchRows)
    } finally q.stop()
  }

  test("stream_diff_stream: two LIVE feeds reconciled == batch, incl. watermark-flushed D rows (r13)") {
    // The last member of the diff family: stream-vs-STREAM. Both feeds ride
    // one watermark (tagged union), one flatMapGroupsWithState keyed by
    // (window, key) emits I/C/N/D as the horizon passes each window end.
    // Pinned row-for-row against the oracle-checked batch key — D rows
    // exist only because the watermark closed the window on BOTH feeds.
    Tables.ensureConfs(spark)
    val sfDir = "/root/testdata/sf0.001"
    val DayUs = 86400000000L
    val batchDf = SparkEntry.queries("stream_diff_stream")(spark, sfDir)
    val batchRows = rowsOf(batchDf)
    assert(batchRows.exists(_.contains("|D|")),
      "fixture must exercise D rows or the pin is vacuous")
    // The r14 digest must be load-bearing: the planted %7==3 event_type
    // reversal produces C groups whose count AND max agree — the
    // compensating-drift case a (count, max) census certifies N for.
    assert(batchDf.filter(col("diff_status") === "C" &&
        col("left_n") === col("right_n") &&
        col("left_max") <=> col("right_max")).limit(1).count() == 1L,
      "fixture must carry a digest-only C group (same count, same max) " +
        "or the content-digest pin is vacuous")

    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val maxUs = Tables.events(spark, sfDir)
      .agg(max(col("ts_us"))).collect().head.getLong(0)
    // Far-future flush sentinel in BOTH feeds (+2 days: comfortably past
    // every real window end even when maxUs sits just after a boundary);
    // its own (window, -999) group never closes, so it emits nothing.
    def sentinel = spark.range(1).select(
      lit(-1L).as("event_id"),
      expr(s"CAST(timestamp_micros(${maxUs + 2 * 86400L * 1000000L}L) " +
        s"AS ${schema("ts").dataType.sql})").as("ts"),
      lit(-999L).as("user_id"), lit("view").as("event_type"),
      lit(0.0).as("value"), lit("{}").as("props"))

    val lDir = Files.createTempDirectory("graft_ssdiff_l").toString
    Files.copy(Paths.get(s"$sfDir/events.parquet"),
      Paths.get(s"$lDir/events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    sentinel.write.mode("append").parquet(lDir)

    // Right feed = the batch fixture's perturbation, materialized
    // (incl. the r14 %7==3 event_type reversal — the digest-only C).
    val rDir = Files.createTempDirectory("graft_ssdiff_r").toString
    val ev = Tables.events(spark, sfDir).drop("ts_us")
    ev.filter(col("user_id") % 11 =!= 0)
      .withColumn("value",
        when(col("user_id") % 5 === 0, col("value") + 1.0).otherwise(col("value")))
      .withColumn("event_type",
        when(col("user_id") % 7 === 3, reverse(col("event_type")))
          .otherwise(col("event_type")))
      .unionByName(ev.filter(col("user_id") % 13 === 0)
        .withColumn("user_id", col("user_id") + 100000L))
      .write.mode("overwrite").parquet(rDir)
    sentinel.write.mode("append").parquet(rDir)

    def feed(dir: String) = spark.readStream.schema(schema).parquet(dir)
      .withColumn("ts_us", Tables.tsUsExpr(schema("ts").dataType))
      .withColumn("tsm", timestamp_micros(col("ts_us")))
    val q = StreamOps.diffStreamStream(feed(lDir), feed(rDir),
        "tsm", "user_id", Seq("value", "event_type"), DayUs, "10 minutes")
      .toDF("window_start_us", "user_id", "diff_status",
        "left_n", "right_n", "left_max", "right_max",
        "left_digest", "right_digest")
      .writeStream.format("memory").queryName("ssdiff_parity")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamRows = rowsOf(spark.table("ssdiff_parity"))
      assert(streamRows.size == batchRows.size,
        s"row counts differ: stream ${streamRows.size} vs batch ${batchRows.size}")
      assert(streamRows == batchRows)
    } finally q.stop()
  }

  test("stream_diff_values: latest-value stream-stream diff == batch, incl. D rows (r13)") {
    // The CDC last-write-wins sibling: same dual-feed harness as
    // stream_diff_stream, but the verdict compares each side's FINAL
    // (greatest (ts, value)) observation instead of the traffic census.
    Tables.ensureConfs(spark)
    val sfDir = "/root/testdata/sf0.001"
    val DayUs = 86400000000L
    val batchRows = rowsOf(SparkEntry.queries("stream_diff_values")(spark, sfDir))
    assert(batchRows.exists(_.contains("|D|")),
      "fixture must exercise D rows or the pin is vacuous")

    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val maxUs = Tables.events(spark, sfDir)
      .agg(max(col("ts_us"))).collect().head.getLong(0)
    def sentinel = spark.range(1).select(
      lit(-1L).as("event_id"),
      expr(s"CAST(timestamp_micros(${maxUs + 2 * 86400L * 1000000L}L) " +
        s"AS ${schema("ts").dataType.sql})").as("ts"),
      lit(-999L).as("user_id"), lit("view").as("event_type"),
      lit(0.0).as("value"), lit("{}").as("props"))

    val lDir = Files.createTempDirectory("graft_ssv_l").toString
    Files.copy(Paths.get(s"$sfDir/events.parquet"),
      Paths.get(s"$lDir/events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    sentinel.write.mode("append").parquet(lDir)
    val rDir = Files.createTempDirectory("graft_ssv_r").toString
    val ev = Tables.events(spark, sfDir).drop("ts_us")
    ev.filter(col("user_id") % 11 =!= 0)
      .withColumn("value",
        when(col("user_id") % 5 === 0, col("value") + 1.0).otherwise(col("value")))
      .unionByName(ev.filter(col("user_id") % 13 === 0)
        .withColumn("user_id", col("user_id") + 100000L))
      .write.mode("overwrite").parquet(rDir)
    sentinel.write.mode("append").parquet(rDir)

    def feed(dir: String) = spark.readStream.schema(schema).parquet(dir)
      .withColumn("ts_us", Tables.tsUsExpr(schema("ts").dataType))
      .withColumn("tsm", timestamp_micros(col("ts_us")))
    val q = StreamOps.diffStreamStreamLatest(feed(lDir), feed(rDir),
        "tsm", "user_id", Seq("value", "event_id"), DayUs, "10 minutes")
      .toDF("window_start_us", "user_id", "diff_status", "left_values", "right_values")
      .writeStream.format("memory").queryName("ssv_parity")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // flatten the payload tuples to the batch key's scalar columns
      val streamRows = rowsOf(spark.table("ssv_parity")
        .select(col("window_start_us"), col("user_id"), col("diff_status"),
          element_at(col("left_values"), 1).as("left_value"),
          element_at(col("right_values"), 1).as("right_value"),
          element_at(col("left_values"), 2).as("left_eid"),
          element_at(col("right_values"), 2).as("right_eid")))
      assert(streamRows.size == batchRows.size,
        s"row counts differ: stream ${streamRows.size} vs batch ${batchRows.size}")
      assert(streamRows == batchRows)
    } finally q.stop()
  }

  test("diffStreamStream: NULL values, NULL keys, NaN maxes — batch census semantics exactly (r13 review fix)") {
    // Three divergence classes the review caught: a NULL value must fold
    // like batch max() (skipped; the row still counts) instead of killing
    // the query at the encoder; a NULL key must emit the SAME unpairable
    // D + I rows the batch plain-`=` full-outer produces; NaN-vs-NaN maxes
    // must read N (Spark <=>), not C (primitive !=).
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val W = 1000000L // 1 s windows
    val lIn = MemoryStream[(Long, Option[Long], Option[Double])]
    val rIn = MemoryStream[(Long, Option[Long], Option[Double])]
    def feed(in: MemoryStream[(Long, Option[Long], Option[Double])]) =
      in.toDF().toDF("t_us", "k", "v")
        .select(timestamp_micros(col("t_us")).as("ts"), col("k"), col("v"))
    val q = StreamOps.diffStreamStream(feed(lIn), feed(rIn),
        "ts", "k", "v", W, "0 seconds")
      .toDF("ws", "k", "st", "ln", "rn", "lm", "rm", "ld", "rd")
      .writeStream.format("memory").queryName("ssdiff_edge")
      .outputMode("append").start()
    try {
      lIn.addData((100L, Some(1L), Some(Double.NaN)),
        (300L, Some(2L), None), (400L, None, Some(5.0)))
      rIn.addData((200L, Some(1L), Some(Double.NaN)),
        (500L, None, Some(5.0)))
      // flush sentinels on BOTH feeds push the shared watermark past the
      // real window; their own far-future group never closes
      lIn.addData((10000000000L, Some(-999L), Some(0.0)))
      rIn.addData((10000000000L, Some(-999L), Some(0.0)))
      q.processAllAvailable()
      // digest columns projected away here: their cross-engine value is
      // pinned by the DuckDB oracle + the big parity test above; this
      // test pins the count/max/key/NaN SEMANTICS.
      val got = rowsOf(spark.table("ssdiff_edge")
        .select("ws", "k", "st", "ln", "rn", "lm", "rm"))
      val want = Seq(
        "0|1|N|1|1|NaN|NaN",   // NaN == NaN under <=>
        "0|2|D|1|␀|␀|␀",       // NULL value: counted, max stays NULL
        "0|␀|D|1|␀|5.0|␀",     // null key, left side — unpairable
        "0|␀|I|␀|1|␀|5.0").sorted // null key, right side — unpairable
      assert(got == want, s"got=$got")
    } finally q.stop()
  }

  test("stream-stream diffs refuse non-integral key columns at construction (r13 ADVICE)") {
    // A silent cast of a string key to long would NULL every key and
    // collapse all traffic into the two unpairable null-key groups —
    // garbage D/I rows with no error.
    import spark.implicits._
    val f = Seq((java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "k1", 1.0))
      .toDF("ts", "k", "v")
    val e = intercept[IllegalArgumentException](
      StreamOps.diffStreamStream(f, f, "ts", "k", "v", 1000000L, "0 seconds"))
    assert(e.getMessage.contains("integral") && e.getMessage.contains("diffStreamStream"),
      e.getMessage)
    val e2 = intercept[IllegalArgumentException](
      StreamOps.diffStreamStreamLatest(f, f, "ts", "k", "v", 1000000L, "0 seconds"))
    assert(e2.getMessage.contains("integral") &&
      e2.getMessage.contains("diffStreamStreamLatest"), e2.getMessage)
    // and the latest form refuses a non-numeric payload column loudly
    val e3 = intercept[IllegalArgumentException](
      StreamOps.diffStreamStreamLatest(
        f.withColumn("k", lit(1L)), f.withColumn("k", lit(1L)),
        "ts", "k", Seq("v", "ts"), 1000000L, "0 seconds"))
    assert(e3.getMessage.contains("non-numeric"), e3.getMessage)
  }

  test("diffStreamStream: compensating sub-max drift reads C via the content digest (r14)") {
    // The r13 verdict's planted case: {1, 5} vs {2, 5} in one window —
    // same count (2), same max (5.0). A (count, max) census certifies N
    // for exactly this replica divergence; the order-independent payload
    // digest must read C.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val W = 1000000L
    val lIn = MemoryStream[(Long, Option[Long], Option[Double])]
    val rIn = MemoryStream[(Long, Option[Long], Option[Double])]
    def feed(in: MemoryStream[(Long, Option[Long], Option[Double])]) =
      in.toDF().toDF("t_us", "k", "v")
        .select(timestamp_micros(col("t_us")).as("ts"), col("k"), col("v"))
    val q = StreamOps.diffStreamStream(feed(lIn), feed(rIn),
        "ts", "k", "v", W, "0 seconds")
      .toDF("ws", "k", "st", "ln", "rn", "lm", "rm", "ld", "rd")
      .writeStream.format("memory").queryName("ssdiff_comp")
      .outputMode("append").start()
    try {
      lIn.addData((100L, Some(1L), Some(1.0)), (200L, Some(1L), Some(5.0)),
        (300L, Some(2L), Some(7.0)))
      rIn.addData((110L, Some(1L), Some(2.0)), (210L, Some(1L), Some(5.0)),
        (310L, Some(2L), Some(7.0)))
      lIn.addData((10000000000L, Some(-999L), Some(0.0)))
      rIn.addData((10000000000L, Some(-999L), Some(0.0)))
      q.processAllAvailable()
      val got = rowsOf(spark.table("ssdiff_comp")
        .select("ws", "k", "st", "ln", "rn", "lm", "rm"))
      val want = Seq(
        "0|1|C|2|2|5.0|5.0",  // the compensating case: digest-only C
        "0|2|N|1|1|7.0|7.0").sorted
      assert(got == want, s"got=$got")
      // and the digests themselves: equal for the N group, drifted for C
      val dig = spark.table("ssdiff_comp").select("k", "ld", "rd").collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
      assert(dig(2L)._1 == dig(2L)._2, s"N group digests must match: ${dig(2L)}")
      assert(dig(1L)._1 != dig(1L)._2, s"C group digests must drift: ${dig(1L)}")
    } finally q.stop()
  }

  test("diffStreamStream: a lagging feed holds the horizon open — per-feed watermarks, MIN policy (r14)") {
    // r13 ADVICE (high): a single post-union watermark advances on the
    // MAX event time across feeds, so a feed lagging more than `delay`
    // had its rows dropped as late and its keys mis-certified D. With
    // per-feed watermarks the engine takes the MIN: until the lagging
    // feed catches up, NOTHING closes.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val W = 1000000L
    val lIn = MemoryStream[(Long, Option[Long], Option[Double])]
    val rIn = MemoryStream[(Long, Option[Long], Option[Double])]
    def feed(in: MemoryStream[(Long, Option[Long], Option[Double])]) =
      in.toDF().toDF("t_us", "k", "v")
        .select(timestamp_micros(col("t_us")).as("ts"), col("k"), col("v"))
    val q = StreamOps.diffStreamStream(feed(lIn), feed(rIn),
        "ts", "k", "v", W, "0 seconds")
      .toDF("ws", "k", "st", "ln", "rn", "lm", "rm", "ld", "rd")
      .writeStream.format("memory").queryName("ssdiff_lag")
      .outputMode("append").start()
    try {
      // both feeds carry window-0 traffic; only LEFT races ahead
      lIn.addData((100L, Some(1L), Some(1.0)))
      rIn.addData((150L, Some(1L), Some(1.0)))
      lIn.addData((10000000000L, Some(-999L), Some(0.0)))
      q.processAllAvailable()
      // left's watermark is far-future, right's is ~0 → global MIN holds
      // window 0 open: nothing may emit (the broken form emitted here and
      // then dropped right's later rows as late)
      assert(spark.table("ssdiff_lag").count() == 0L,
        "window closed while one feed lagged — watermark is not MIN across feeds")
      // the lagging feed delivers MORE window-0 traffic, then catches up
      rIn.addData((400L, Some(2L), Some(9.0)))
      rIn.addData((10000000000L, Some(-999L), Some(0.0)))
      q.processAllAvailable()
      val got = rowsOf(spark.table("ssdiff_lag")
        .select("ws", "k", "st", "ln", "rn", "lm", "rm"))
      val want = Seq(
        "0|1|N|1|1|1.0|1.0",
        "0|2|I|␀|1|␀|9.0").sorted // the row the broken form dropped as late
      assert(got == want, s"got=$got")
    } finally q.stop()
  }

  test("diffStreamStream parity holds under the RocksDB state store; state metrics surface (r14)") {
    // The 100 TB state-store axis (r13 verdict ask #6): the default
    // HDFS-backed in-memory provider caps state at executor heap; the
    // RocksDB provider spills to local disk, which is what an operator of
    // a long-horizon stream-stream diff actually deploys. Same query,
    // same rows; stateOperators metrics must report the group count.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val W = 1000000L
      val lIn = MemoryStream[(Long, Option[Long], Option[Double])]
      val rIn = MemoryStream[(Long, Option[Long], Option[Double])]
      def feed(in: MemoryStream[(Long, Option[Long], Option[Double])]) =
        in.toDF().toDF("t_us", "k", "v")
          .select(timestamp_micros(col("t_us")).as("ts"), col("k"), col("v"))
      val q = StreamOps.diffStreamStream(feed(lIn), feed(rIn),
          "ts", "k", "v", W, "0 seconds")
        .toDF("ws", "k", "st", "ln", "rn", "lm", "rm", "ld", "rd")
        .writeStream.format("memory").queryName("ssdiff_rocks")
        .outputMode("append").start()
      try {
        lIn.addData((100L, Some(1L), Some(1.0)), (200L, Some(2L), Some(3.0)))
        rIn.addData((150L, Some(1L), Some(1.0)), (250L, Some(3L), Some(4.0)))
        q.processAllAvailable()
        // state while windows are open: 4 groups (keys 1,2,3 + nothing
        // null) — measured from the engine's own progress metrics
        val open = q.lastProgress.stateOperators
        assert(open.nonEmpty && open.head.numRowsTotal == 3L,
          s"expected 3 open (window,key) state rows, got " +
            s"${open.map(_.numRowsTotal).mkString(",")}")
        lIn.addData((10000000000L, Some(-999L), Some(0.0)))
        rIn.addData((10000000000L, Some(-999L), Some(0.0)))
        q.processAllAvailable()
        val got = rowsOf(spark.table("ssdiff_rocks")
          .select("ws", "k", "st", "ln", "rn", "lm", "rm"))
        val want = Seq(
          "0|1|N|1|1|1.0|1.0",
          "0|2|D|1|␀|3.0|␀",
          "0|3|I|␀|1|␀|4.0").sorted
        assert(got == want, s"got=$got")
        // memory/bytes metric present (RocksDB reports memoryUsedBytes);
        // printed so the scaladoc's measured-state-size claim is
        // reproducible from this test's output
        val so = q.lastProgress.stateOperators.head
        info(s"[rocksdb-state] numRowsTotal=${so.numRowsTotal} " +
          s"memoryUsedBytes=${so.memoryUsedBytes} " +
          s"custom=${so.customMetrics}")
        assert(so.memoryUsedBytes >= 0L)
      } finally q.stop()
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("scd2Sink: checkpoint loss fails loudly; true replay stays a verified no-op (r13)") {
    // latest >= batchId has two causes: idempotent replay (fine) and
    // checkpoint loss (batch ids restart at 0 against a table at version
    // N — silently swallowing those batches would drop real snapshots).
    // The sink now PROVES which one it is by diffing the arriving snapshot
    // against the committed version's current rows.
    import graft.sources.TxnLog
    import spark.implicits._
    val table = Files.createTempDirectory("graft_scd2loss").resolve("dim").toString
    val s0 = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
    val s1 = Seq((1L, 11.0), (3L, 30.0)).toDF("k", "v")
    StreamOps.scd2Sink(table, Seq("k"))(s0, 0L)
    StreamOps.scd2Sink(table, Seq("k"))(s1, 1L)
    // true replays of both committed ids: verified no-ops
    StreamOps.scd2Sink(table, Seq("k"))(s1, 1L)
    StreamOps.scd2Sink(table, Seq("k"))(s0, 0L)
    assert(TxnLog.latestVersion(table) == 1)
    // checkpoint loss: a restarted stream's batch 0 carries a DIFFERENT
    // snapshot — must throw naming the condition, not swallow it
    val rogue = Seq((9L, 99.0)).toDF("k", "v")
    val e = intercept[IllegalArgumentException](
      StreamOps.scd2Sink(table, Seq("k"))(rogue, 0L))
    assert(e.getMessage.contains("checkpoint loss"), e.getMessage.take(300))
    // and the table is untouched by the refused batch
    assert(TxnLog.latestVersion(table) == 1)
  }

  /** Shared dual-feed fixture dirs for the r15 composite-key parity
    * tests: both sides WRITTEN from the loaded events frame (so the ts
    * dtype is uniform across dirs), event_type NULLed on user%17==3 on
    * BOTH feeds (the null-key-part class), right feed additionally
    * perturbed exactly like the stream_diff_stream_multi oracle fixture.
    */
  private def multiKeyFixtureDirs(): (String, String) = {
    Tables.ensureConfs(spark)
    val sfDir = "/root/testdata/sf0.001"
    val ev0 = Tables.events(spark, sfDir).drop("ts_us")
    val ev = ev0.withColumn("event_type",
      when(col("user_id") % 17 === 3, lit(null).cast("string"))
        .otherwise(col("event_type")))
    val lDir = Files.createTempDirectory("graft_ssk_l").toString
    ev.write.mode("overwrite").parquet(lDir)
    val rDir = Files.createTempDirectory("graft_ssk_r").toString
    ev.filter(col("user_id") % 11 =!= 0)
      .withColumn("value",
        when(col("user_id") % 5 === 0, col("value") + 1.0).otherwise(col("value")))
      .withColumn("event_type",
        when(col("user_id") % 13 === 0, concat(col("event_type"), lit("_x")))
          .otherwise(col("event_type")))
      .write.mode("overwrite").parquet(rDir)
    // far-future flush sentinel in BOTH feeds; its own (window, -999,
    // view) group never closes, so it emits nothing
    val schema = spark.read.parquet(lDir).schema
    val maxUs = Tables.events(spark, sfDir)
      .agg(max(col("ts_us"))).collect().head.getLong(0)
    def sentinel = spark.range(1).select(
      lit(-1L).as("event_id"),
      expr(s"CAST(timestamp_micros(${maxUs + 2 * 86400L * 1000000L}L) " +
        s"AS ${schema("ts").dataType.sql})").as("ts"),
      lit(-999L).as("user_id"), lit("view").as("event_type"),
      lit(0.0).as("value"), lit("{}").as("props"))
    sentinel.write.mode("append").parquet(lDir)
    sentinel.write.mode("append").parquet(rDir)
    (lDir, rDir)
  }

  private def keyedFeed(dir: String) = {
    val schema = spark.read.parquet(dir).schema
    spark.readStream.schema(schema).parquet(dir)
      .withColumn("ts_us", Tables.tsUsExpr(schema("ts").dataType))
      .withColumn("tsm", timestamp_micros(col("ts_us")))
  }

  test("diffStreamStreamKeyed: composite (long, string) keys == batch, incl. D rows and null key parts (r15)") {
    // The r14 verdict's #1 ask made live: two feeds keyed on the
    // (user_id, event_type) TUPLE — a string key column admitted natively
    // — reconciled by the same fold the single-key oracle key runs.
    // Pinned row-for-row against the oracle-checked batch key, including
    // the watermark-flushed D rows, the %13 string re-key (traffic moving
    // BETWEEN composite identities), and the %17 null-key-part side-split.
    val DayUs = 86400000000L
    val sfDir = "/root/testdata/sf0.001"
    val batchDf = SparkEntry.queries("stream_diff_stream_multi")(spark, sfDir)
    val batchRows = rowsOf(batchDf)
    assert(batchRows.exists(_.contains("|D|")),
      "fixture must exercise D rows or the pin is vacuous")
    // null key parts must exist AND side-split (both a D and an I row)
    assert(batchDf.filter(col("event_type").isNull &&
        col("diff_status") === "D").limit(1).count() == 1L &&
      batchDf.filter(col("event_type").isNull &&
        col("diff_status") === "I").limit(1).count() == 1L,
      "fixture must carry side-split null-key-part D and I rows")

    val (lDir, rDir) = multiKeyFixtureDirs()
    val q = StreamOps.diffStreamStreamKeyed(keyedFeed(lDir), keyedFeed(rDir),
        "tsm", Seq("user_id", "event_type"), Seq("value"), DayUs, "10 minutes")
      .writeStream.format("memory").queryName("ssk_parity")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamRows = rowsOf(spark.table("ssk_parity"))
      assert(streamRows.size == batchRows.size,
        s"row counts differ: stream ${streamRows.size} vs batch ${batchRows.size}")
      assert(streamRows == batchRows)
    } finally q.stop()
  }

  test("diffStreamStreamLatestKeyed: composite-key last-write-wins == batch (r15)") {
    // The values sibling on the same composite fixture: per closed
    // (window, user, type) group each side's latest (ts, value, event_id)
    // observation, verdict per column — stream == the oracle-checked
    // batch key row-for-row.
    val DayUs = 86400000000L
    val sfDir = "/root/testdata/sf0.001"
    val batchRows = rowsOf(SparkEntry.queries("stream_diff_values_multi")(spark, sfDir))
    assert(batchRows.exists(_.contains("|D|")),
      "fixture must exercise D rows or the pin is vacuous")
    val (lDir, rDir) = multiKeyFixtureDirs()
    val q = StreamOps.diffStreamStreamLatestKeyed(keyedFeed(lDir), keyedFeed(rDir),
        "tsm", Seq("user_id", "event_type"), Seq("value", "event_id"),
        DayUs, "10 minutes")
      .writeStream.format("memory").queryName("ssvk_parity")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamRows = rowsOf(spark.table("ssvk_parity"))
      assert(streamRows.size == batchRows.size,
        s"row counts differ: stream ${streamRows.size} vs batch ${batchRows.size}")
      assert(streamRows == batchRows)
    } finally q.stop()
  }

  test("diffStreamStreamLatestAny: string-payload last-write-wins == batch; string-only drift reads C (r15)") {
    // The r14 verdict's #3 ask made live: the latest-value verdict over
    // an arbitrary-type payload — (value, event_type) with a STRING
    // column — compared on the canonical payload string. The load-bearing
    // class: %7==3 reverses event_type with value untouched; a
    // doubles-only verdict reads N there, the canonical payload reads C.
    Tables.ensureConfs(spark)
    val DayUs = 86400000000L
    val sfDir = "/root/testdata/sf0.001"
    val batchDf = SparkEntry.queries("stream_diff_values_any")(spark, sfDir)
    val batchRows = rowsOf(batchDf)
    assert(batchRows.exists(_.contains("|D|")),
      "fixture must exercise D rows or the pin is vacuous")
    assert(batchDf.filter(col("diff_status") === "C" &&
        col("left_value") <=> col("right_value")).limit(1).count() == 1L,
      "fixture must carry a string-only C row (equal display doubles) " +
        "or the canonical-payload pin is vacuous")

    val ev0 = Tables.events(spark, sfDir).drop("ts_us")
    val lDir = Files.createTempDirectory("graft_ssa_l").toString
    ev0.write.mode("overwrite").parquet(lDir)
    val rDir = Files.createTempDirectory("graft_ssa_r").toString
    ev0.filter(col("user_id") % 11 =!= 0)
      .withColumn("value",
        when(col("user_id") % 5 === 0, col("value") + 1.0).otherwise(col("value")))
      .withColumn("event_type",
        when(col("user_id") % 7 === 3, reverse(col("event_type")))
          .otherwise(col("event_type")))
      .unionByName(ev0.filter(col("user_id") % 13 === 0)
        .withColumn("user_id", col("user_id") + 100000L))
      .write.mode("overwrite").parquet(rDir)
    val schema = spark.read.parquet(lDir).schema
    val maxUs = Tables.events(spark, sfDir)
      .agg(max(col("ts_us"))).collect().head.getLong(0)
    def sentinel = spark.range(1).select(
      lit(-1L).as("event_id"),
      expr(s"CAST(timestamp_micros(${maxUs + 2 * 86400L * 1000000L}L) " +
        s"AS ${schema("ts").dataType.sql})").as("ts"),
      lit(-999L).as("user_id"), lit("view").as("event_type"),
      lit(0.0).as("value"), lit("{}").as("props"))
    sentinel.write.mode("append").parquet(lDir)
    sentinel.write.mode("append").parquet(rDir)

    val q = StreamOps.diffStreamStreamLatestAny(keyedFeed(lDir), keyedFeed(rDir),
        "tsm", Seq("user_id"), Seq("value", "event_type"), DayUs, "10 minutes")
      .writeStream.format("memory").queryName("ssa_parity")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamRows = rowsOf(spark.table("ssa_parity"))
      assert(streamRows.size == batchRows.size,
        s"row counts differ: stream ${streamRows.size} vs batch ${batchRows.size}")
      assert(streamRows == batchRows)
    } finally q.stop()
  }

  test("streaming diffs fail LOUDLY on a NULL event time, naming the column (r15 review)") {
    // A null timestamp nulls the window assignment, which previously died
    // as an opaque encoder NPE mid-stream; the batch twins CLASSIFY
    // null-ts rows, but a stream can never close a null window — the
    // honest behavior is a named failure on the first such row.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Option[Long], Long, Option[Double])]
    val feed = in.toDF().toDF("t_us", "k", "v")
      .select(timestamp_micros(col("t_us")).as("ts"), col("k"), col("v"))
    val q = StreamOps.diffStreamStreamKeyed(feed, feed, "ts", Seq("k"), Seq("v"),
        1000000L, "0 seconds")
      .writeStream.format("memory").queryName("ss_nullts")
      .outputMode("append").start()
    try {
      in.addData((None, 1L, Some(1.0)))
      val e = intercept[Exception](q.processAllAvailable())
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x =>
          Option(x.getMessage).toSeq ++ messages(x.getCause))
      assert(messages(e).exists(m => m.contains("NULL event time") && m.contains("ts")),
        messages(e).mkString(" | ").take(500))
    } finally q.stop()
  }

  test("keyed stream-stream census admits TIMESTAMP keys; stream == batch with restored values (r15)") {
    // The remaining common CDC identity type: keys canonicalize as epoch
    // micros (`=` on timestamps IS micros equality) and restore to real
    // TIMESTAMP columns on output — live and batch twins must agree
    // row-for-row including the D/I rows and the rendered key values.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val W = 1000000L
    val lRows = Seq((100L, 42000000L, Some(1.0)), (200L, 42000000L, Some(2.0)),
      (300L, 77000000L, Some(5.0)))
    val rRows = Seq((150L, 42000000L, Some(1.0)), (250L, 42000000L, Some(2.0)),
      (350L, 99000000L, Some(6.0)))
    def frame(rows: Seq[(Long, Long, Option[Double])]) =
      rows.toDF("t_us", "kt_us", "v")
        .select(col("t_us").as("ts_us"),
          timestamp_micros(col("kt_us")).as("kt"), col("v"))
    val batchRows = rowsOf(StreamOps.diffStreamStreamBatchKeyed(
      frame(lRows), frame(rRows), "ts_us", Seq("kt"), Seq("v"), W))
    assert(batchRows.exists(_.contains("|D|")) && batchRows.exists(_.contains("|I|")),
      s"fixture must exercise D and I rows: $batchRows")

    val lIn = MemoryStream[(Long, Long, Option[Double])]
    val rIn = MemoryStream[(Long, Long, Option[Double])]
    def feed(in: MemoryStream[(Long, Long, Option[Double])]) =
      in.toDF().toDF("t_us", "kt_us", "v")
        .select(timestamp_micros(col("t_us")).as("ts"),
          timestamp_micros(col("kt_us")).as("kt"), col("v"))
    val q = StreamOps.diffStreamStreamKeyed(feed(lIn), feed(rIn),
        "ts", Seq("kt"), Seq("v"), W, "0 seconds")
      .writeStream.format("memory").queryName("sskt_parity")
      .outputMode("append").start()
    try {
      lIn.addData(lRows: _*)
      rIn.addData(rRows: _*)
      lIn.addData((10000000000L, 1L, Some(0.0)))
      rIn.addData((10000000000L, 1L, Some(0.0)))
      q.processAllAvailable()
      val got = rowsOf(spark.table("sskt_parity"))
      assert(got == batchRows, s"got=$got\nwant=$batchRows")
    } finally q.stop()
  }

  test("keyed stream-stream forms refuse double keys, dtype-skewed keys, and reserved names (r15)") {
    // The keyed family's loud-contract trio: a DOUBLE key breaks `=`
    // itself (NaN never pairs under SQL `=` but WOULD pair as the
    // canonical string 'NaN'); a cross-feed key dtype skew would pair
    // rows the batch `=` join refuses at analysis; a key named like a
    // fixed output column would silently shadow it.
    import spark.implicits._
    val f = Seq((java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.5, 1.0))
      .toDF("ts", "k", "v")
    val e = intercept[IllegalArgumentException](
      StreamOps.diffStreamStreamKeyed(f, f, "ts", Seq("k"), Seq("v"),
        1000000L, "0 seconds"))
    assert(e.getMessage.contains("DOUBLE") &&
      e.getMessage.contains("diffStreamStreamKeyed"), e.getMessage)
    val g = f.withColumn("k", lit(1L))
    val gSkew = f.withColumn("k", lit("1"))
    val e2 = intercept[IllegalArgumentException](
      StreamOps.diffStreamStreamLatestAny(g, gSkew, "ts", Seq("k"), Seq("v"),
        1000000L, "0 seconds"))
    assert(e2.getMessage.contains("differs in type"), e2.getMessage)
    val h = g.withColumnRenamed("v", "diff_status").withColumn("v", lit(2.0))
    val e3 = intercept[IllegalArgumentException](
      StreamOps.diffStreamStreamKeyed(h, h, "ts", Seq("diff_status"), Seq("v"),
        1000000L, "0 seconds"))
    assert(e3.getMessage.contains("collide"), e3.getMessage)
    // a key named like a left_<col>/right_<col> display column would
    // silently duplicate an output name in the latest forms (r15 review)
    val j = g.withColumnRenamed("k", "left_v")
    val e4 = intercept[IllegalArgumentException](
      StreamOps.diffStreamStreamLatestKeyed(j, j, "ts", Seq("left_v"), Seq("v"),
        1000000L, "0 seconds"))
    assert(e4.getMessage.contains("display"), e4.getMessage)
    // a value column named `payload` would display as left_payload /
    // right_payload, the any-type forms' fixed output columns: both forms
    // refuse it instead of emitting the names twice
    val p = g.withColumn("payload", lit(2.0))
    val e5 = intercept[IllegalArgumentException](
      StreamOps.diffStreamStreamLatestAny(p, p, "ts", Seq("k"), Seq("v", "payload"),
        1000000L, "0 seconds"))
    assert(e5.getMessage.contains("collide") &&
      e5.getMessage.contains("diffStreamStreamLatestAny"), e5.getMessage)
    val pb = p.withColumn("ts_us", lit(0L))
    val e6 = intercept[IllegalArgumentException](
      StreamOps.diffStreamStreamLatestAnyBatch(pb, pb, "ts_us", Seq("k"),
        Seq("v", "payload"), 1000000L))
    assert(e6.getMessage.contains("collide") &&
      e6.getMessage.contains("diffStreamStreamLatestAnyBatch"), e6.getMessage)
  }
}
