package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.EventStream

/** Streaming extension: drive the file stream synchronously on testdata. */
class StreamingSpec extends SparkSpec {

  private lazy val streamDir: String = {
    val dir = Files.createTempDirectory("graft_stream")
    Files.copy(Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    dir.toString
  }

  test("windowed type counts over the stream match the batch aggregate") {
    val events = EventStream.readEvents(spark, streamDir)
    val agg = EventStream.windowedTypeCounts(events, window = "24 hours")
    val q = agg.writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("win_counts").start()
    try {
      q.processAllAvailable()
      val total = spark.sql("SELECT SUM(n) FROM win_counts").head().getLong(0)
      assert(total == 1000) // sf0.001 events row count
      val types = spark.sql("SELECT COUNT(DISTINCT event_type) FROM win_counts")
        .head().getLong(0)
      assert(types == 5)
    } finally q.stop()
  }

  test("stream-stream interval join equals the batch join") {
    def run(df: org.apache.spark.sql.DataFrame) =
      EventStream.streamingIntervalJoin(df, "user_id", "ts", "event_type",
        "event_id", leftType = "view", rightType = "purchase",
        withinSec = 6 * 3600)
    val q = run(EventStream.readEvents(spark, streamDir))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("ivj_stream").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT key, l_id, r_id FROM ivj_stream")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val batch = run(graft.core.Tables.load(spark, sf, "events"))
        .select("key", "l_id", "r_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == batch && got.nonEmpty)
    } finally q.stop()
  }

  test("streaming PSI equals the batch psi contrib sum; drift alarm fires on shift") {
    import org.apache.spark.sql.functions._
    val batchEv = graft.core.Tables.load(spark, sf, "events")
    val cut = to_timestamp(lit("2024-01-16 00:00:00"))
    val ref = batchEv.filter(col("ts") < cut)
    val refCounts = graft.stats.Planners
      .histogram(ref, "value", 0.0, 500.0, 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val refVec = (0 until 10).map(b => refCounts.getOrElse(b.toLong, 0L))
    // one huge window covers the whole slice, so the stream's final
    // emission is the full-slice PSI
    val out = EventStream.streamingPsi(spark,
      EventStream.readEvents(spark, streamDir)
        .filter(col("ts") >= cut),
      "value", "ts", refVec, lo = 0.0, hi = 500.0, nBins = 10,
      windowSec = 365L * 24 * 3600)
    val q = out.writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("psi_stream").start()
    try {
      q.processAllAvailable()
      // update mode re-emits per batch: the row with the max count is final
      val rows = spark.sql(
        "SELECT window_start_us, n_events, psi FROM psi_stream")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val fin = rows.maxBy(_._2)
      val batchPsi = graft.ops.Profile.psi(ref,
          batchEv.filter(col("ts") >= cut), "value", 0.0, 500.0, 10)
        .agg(sum(col("contrib"))).head().getDouble(0)
      assert(math.abs(fin._3 - batchPsi) < 1e-6,
        s"stream ${fin._3} vs batch $batchPsi")
      assert(fin._2 == batchEv.filter(col("ts") >= cut &&
        col("value").isNotNull).count())
      // identical-distribution sanity: a stream measured against its OWN
      // histogram is (near) zero; a shifted one alarms
      val curCounts = graft.stats.Planners
        .histogram(batchEv.filter(col("ts") >= cut), "value", 0.0, 500.0, 10)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val curVec = (0 until 10).map(b => curCounts.getOrElse(b.toLong, 0L))
      val self = EventStream.streamingPsi(spark,
        EventStream.readEvents(spark, streamDir).filter(col("ts") >= cut),
        "value", "ts", curVec, 0.0, 500.0, 10, 365L * 24 * 3600)
      val q2 = self.writeStream.outputMode(OutputMode.Update())
        .format("memory").queryName("psi_self").start()
      try {
        q2.processAllAvailable()
        val sp = spark.sql("SELECT n_events, psi FROM psi_self")
          .collect().map(r => (r.getLong(0), r.getDouble(1))).maxBy(_._1)._2
        assert(sp < 1e-4, s"self-PSI should be ~0, got $sp")
        assert(fin._3 > sp, "drifted slice must score above the self baseline")
      } finally q2.stop()
    } finally q.stop()
  }

  test("streaming EWMA equals the batch fold bit-for-bit") {
    val out = EventStream.streamingEwma(spark,
      EventStream.readEvents(spark, streamDir),
      "user_id", "ts", "value", "event_id", alpha = 0.25, window = 10)
    val q = out.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("ewma_stream").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT user_id, event_id, ewma FROM ewma_stream")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val batch = graft.ops.Temporal.ewma(
          graft.core.Tables.load(spark, sf, "events"),
          Seq("user_id"), "ts", "value", alpha = 0.25, window = 10,
          tiebreak = Seq("event_id"), idCols = Seq("event_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // exact double equality: same fold, same dyadic literals, same order
      assert(got == batch && got.size == 1000)
    } finally q.stop()
  }

  test("streaming changepoints equal the batch operator bit-for-bit, each center emitted once") {
    val out = EventStream.streamingChangepoints(spark,
      EventStream.readEvents(spark, streamDir),
      "user_id", "ts", "value", "event_id", w = 5, threshold = 1.0)
    val q = out.writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("cp_stream").start()
    try {
      q.processAllAvailable()
      def od(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
        if (r.isNullAt(i)) None else Some(r.getDouble(i))
      val got = spark.sql("""SELECT key, event_id, mean_before, mean_after,
          score, flat_shift, is_changepoint FROM cp_stream""")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), od(r, 4), r.getBoolean(5), r.getBoolean(6)))
      // emitted-horizon guarantee: every center appears exactly once
      assert(got.map(t => (t._1, t._2)).distinct.length == got.length,
        "a center was re-emitted across batches")
      val batch = graft.ops.Temporal.meanShiftChangepoints(
          graft.core.Tables.load(spark, sf, "events"),
          Seq("user_id"), "ts", "value", w = 5, threshold = 1.0,
          tiebreak = Seq("event_id"))
        .collect().map(r => (r.getLong(0).toString, r.getLong(2),
          r.getDouble(3), r.getDouble(4), od(r, 5), r.getBoolean(6),
          r.getBoolean(7))).toSet
      assert(got.toSet == batch && got.nonEmpty,
        s"stream/batch mismatch: ${(got.toSet -- batch).take(3)} vs ${(batch -- got.toSet).take(3)}")
      assert(batch.exists(_._7), "fixture must flag at least one changepoint")
    } finally q.stop()
  }

  test("streaming changepoints across real micro-batches: centers complete at boundaries, no re-emission, parity holds") {
    import org.apache.spark.sql.functions._
    val ev = graft.core.Tables.load(spark, sf, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
    // three time slices; per key the arrival order respects time order
    val Array(t1, t2) = ev.selectExpr("CAST(ts AS DOUBLE)")
      .stat.approxQuantile("ts", Array(0.33, 0.66), 0.0)
    val dir = Files.createTempDirectory("graft_cp_batches")
    def writeSlice(name: String, pred: org.apache.spark.sql.Column): Unit = {
      val stage = Files.createTempDirectory("graft_cp_stage")
      ev.filter(pred).coalesce(1).write.parquet(s"$stage/out")
      val part = Files.list(Paths.get(s"$stage/out")).toArray.map(_.toString)
        .find(_.endsWith(".parquet")).get
      Files.copy(Paths.get(part), dir.resolve(s"$name.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val tsd = col("ts").cast("double")
    val stream = spark.readStream
      .schema("event_id LONG, ts TIMESTAMP, user_id LONG, value DOUBLE")
      .parquet(dir.toString)
    writeSlice("b1", tsd < t1)
    val q = EventStream.streamingChangepoints(spark, stream,
        "user_id", "ts", "value", "event_id", w = 5, threshold = 1.0)
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("cp_batches").start()
    try {
      q.processAllAvailable()
      writeSlice("b2", tsd >= t1 && tsd < t2)
      q.processAllAvailable()
      writeSlice("b3", tsd >= t2)
      q.processAllAvailable()
      def od(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
        if (r.isNullAt(i)) None else Some(r.getDouble(i))
      val got = spark.sql("""SELECT key, event_id, mean_before, mean_after,
          score, flat_shift, is_changepoint FROM cp_batches""")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), od(r, 4), r.getBoolean(5), r.getBoolean(6)))
      assert(got.map(t => (t._1, t._2)).distinct.length == got.length,
        "a center was re-emitted across micro-batches")
      val batch = graft.ops.Temporal.meanShiftChangepoints(ev,
          Seq("user_id"), "ts", "value", w = 5, threshold = 1.0,
          tiebreak = Seq("event_id"))
        .collect().map(r => (r.getLong(0).toString, r.getLong(2),
          r.getDouble(3), r.getDouble(4), od(r, 5), r.getBoolean(6),
          r.getBoolean(7))).toSet
      assert(got.toSet == batch && got.nonEmpty,
        "multi-batch emissions must equal the batch operator")
    } finally q.stop()
  }

  test("streaming Mann-Kendall final state equals the batch operator bit-for-bit") {
    val out = EventStream.streamingMannKendall(spark,
      EventStream.readEvents(spark, streamDir),
      "user_id", "ts", "value", "event_id", window = 10)
    val q = out.writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("mk_stream").start()
    try {
      q.processAllAvailable()
      def od(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
        if (r.isNullAt(i)) None else Some(r.getDouble(i))
      // update mode re-emits per batch: max n per key is final
      val fin = spark.sql(
          "SELECT key, n, s, var_s, z, sen_slope FROM mk_stream")
        .collect().map(r => (r.getString(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          od(r, 3), od(r, 4), od(r, 5)))
        .groupBy(_._1).map { case (k, v) => k -> v.maxBy(_._2) }
      val batch = graft.ops.Temporal.mannKendall(
          graft.core.Tables.load(spark, sf, "events"),
          Seq("user_id"), "ts", "value", window = 10,
          tiebreak = Seq("event_id"))
        .collect().map(r => r.getLong(0).toString -> ((r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          od(r, 3), od(r, 4), od(r, 5)))).toMap
      assert(fin.keySet == batch.keySet && fin.nonEmpty)
      fin.foreach { case (k, (_, n, s, v, z, sen)) =>
        assert((n, s, v, z, sen) == batch(k), s"key $k")
      }
    } finally q.stop()
  }

  test("streaming seasonal anomalies equal the batch operator row for row") {
    val batchEv = graft.core.Tables.load(spark, sf, "events")
    // threshold low enough that the fixture actually flags something
    val thr = 1.5
    val prof = graft.ops.Temporal.seasonalProfile(batchEv, "ts", "value")
    def tup(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), Option(r.get(2)).map(_.toString).orNull,
        r.getBoolean(3))
    val out = EventStream.streamingSeasonalAnomalies(
      EventStream.readEvents(spark, streamDir), "ts", "value", prof,
      threshold = thr, idCols = Seq("event_id"))
      .select("event_id", "season", "z", "is_anomaly")
    val q = out.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("seasonal_stream").start()
    try {
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT event_id, season, z, is_anomaly FROM seasonal_stream")
        .collect().map(tup).toSet
      val batch = graft.ops.Temporal.seasonalAnomalies(batchEv, "ts", "value",
          threshold = thr, idCols = Seq("event_id"))
        .select("event_id", "season", "z", "is_anomaly")
        .collect().map(tup).toSet
      assert(got == batch && got.nonEmpty, "stream/batch parity")
      assert(batch.exists(_._4), "fixture must flag at least one anomaly")
    } finally q.stop()
  }

  test("streaming winsorize against frozen bounds equals the batch clamp") {
    import graft.stats.Planners
    val batchEv = graft.core.Tables.load(spark, sf, "events")
    val bounds = Planners.winsorizeFit(batchEv, Seq("event_type"), "value",
      0.05, 0.95)
    val out = EventStream.streamingWinsorize(
      EventStream.readEvents(spark, streamDir), bounds,
      Seq("event_type"), "value", idCols = Seq("event_id"))
    val q = out.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("wins_stream").start()
    try {
      q.processAllAvailable()
      def tup(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getBoolean(3))
      val got = spark.sql(
        "SELECT event_id, value, value_w, clipped FROM wins_stream")
        .collect().map(tup).toSet
      val batch = Planners.winsorizeApply(batchEv, bounds,
          Seq("event_type"), "value", idCols = Seq("event_id"))
        .select("event_id", "value", "value_w", "clipped")
        .collect().map(tup).toSet
      assert(got == batch && got.nonEmpty, "stream/batch parity")
      assert(batch.exists(_._4), "fixture must clip at least one row")
    } finally q.stop()
  }

  test("session windows over the stream match the batch session_window rows") {
    val stream = EventStream.sessionStats(
      EventStream.readEvents(spark, streamDir), gap = "6 hours")
    val q = stream.writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("sess_stats").start()
    try {
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT user_id, session_start, session_end, n_events FROM sess_stats")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1),
          r.getTimestamp(2), r.getLong(3))).toSet
      val batch = EventStream.sessionStats(
          graft.core.Tables.load(spark, sf, "events"), gap = "6 hours")
        .select("user_id", "session_start", "session_end", "n_events")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1),
          r.getTimestamp(2), r.getLong(3))).toSet
      assert(got == batch && got.nonEmpty)
      // sessions partition the events: counts add up to the table size
      assert(got.toSeq.map(_._4).sum == 1000)
    } finally q.stop()
  }

  test("streaming as-of enrichment (packed lookup) matches the batch as-of join") {
    import org.apache.spark.sql.functions._
    val batchEv = graft.core.Tables.load(spark, sf, "events")
    // static dimension history: each user's signup events as state changes
    val dim = batchEv.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts").as("sts"),
        col("event_id").as("state_id"), col("value").as("state_val"))
    def project(df: org.apache.spark.sql.DataFrame) =
      df.select("event_id", "asof_ts", "state_id")
    val leftCols = Seq("event_id", "user_id", "ts")
    val stream = graft.ops.Temporal.asofLookupJoin(
      EventStream.readEvents(spark, streamDir).select(leftCols.map(col): _*),
      dim, "user_id", "user_id", "ts", "sts", Seq("state_id", "state_val"),
      rightTiebreak = Seq("state_id"))
    val q = project(stream).writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("asof_stream").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT event_id, asof_ts, state_id FROM asof_stream")
        .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSet
      val want = project(graft.ops.Temporal.asofJoin(
          batchEv.select(leftCols.map(col): _*), dim,
          "user_id", "user_id", "ts", "sts", Seq("state_id", "state_val"),
          rightTiebreak = Seq("state_id")))
        .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSet
      assert(got == want && got.size == 1000)
      assert(got.exists(_._3.isDefined) && got.exists(_._3.isEmpty))
    } finally q.stop()
  }

  test("streaming downsample keeps the same per-bucket survivors as batch") {
    import org.apache.spark.sql.functions._
    val q = EventStream.streamingDownsample(
        EventStream.readEvents(spark, streamDir), bucket = "6 hours")
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("ds_stream").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT event_id FROM ds_stream")
        .collect().map(_.getLong(0)).toSet
      val batch = graft.ops.Temporal.downsample(
          graft.core.Tables.load(spark, sf, "events")
            .select(col("event_id"), col("user_id"), col("ts"), col("value")),
          Seq("user_id"), "ts", bucketSec = 21600L, tiebreak = Seq("event_id"))
        .select("event_id").collect().map(_.getLong(0)).toSet
      assert(got == batch && got.nonEmpty)
    } finally q.stop()
  }

  test("streaming SCD-2 emits exactly the batch closed intervals") {
    import org.apache.spark.sql.functions._
    val q = EventStream.streamingScd2(spark,
        EventStream.readEvents(spark, streamDir), "user_id", "ts", "event_type")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("scd2_stream").start()
    try {
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT key, attr, valid_from_us, valid_to_us FROM scd2_stream")
        .collect().map(r => (r.getLong(0), r.getString(1),
          r.getLong(2), r.getLong(3))).toSet
      // batch twin ordered by (ts, attr) to mirror the stream's tie order
      val batch = graft.ops.Temporal.scd2(
          graft.core.Tables.load(spark, sf, "events")
            .select(col("user_id"), col("ts"), col("event_type")),
          Seq("user_id"), "ts", tiebreak = Seq("event_type"),
          attrCols = Seq("event_type"))
        .filter(col("valid_to").isNotNull)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("valid_from")), unix_micros(col("valid_to")))
        .collect().map(r => (r.getLong(0), r.getString(1),
          r.getLong(2), r.getLong(3))).toSet
      assert(got == batch && got.nonEmpty)
    } finally q.stop()
  }

  test("streaming funnel step hits equal the batch nested-min chain") {
    import org.apache.spark.sql.functions._
    val steps = Seq("signup", "click", "purchase")
    val q = EventStream.streamingFunnel(spark,
        EventStream.readEvents(spark, streamDir), "user_id", "ts",
        "event_type", steps)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("funnel_stream").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT key, step, ts_us FROM funnel_stream")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val batch = graft.ops.Temporal.funnel(
          graft.core.Tables.load(spark, sf, "events"),
          Seq("user_id"), "ts", "event_type", steps)
        .select(col("user_id") +:
          steps.indices.map(i => unix_micros(col(s"step${i + 1}_ts"))): _*)
      val want = batch.collect().flatMap { r =>
        steps.indices.flatMap { i =>
          if (r.isNullAt(i + 1)) None
          else Some((r.getLong(0), i, r.getLong(i + 1)))
        }
      }.toSet
      assert(got == want && got.nonEmpty)
    } finally q.stop()
  }

  test("streaming quota: single-batch admissions equal the batch quota sample") {
    val dir = Files.createTempDirectory("graft_quota_stream")
    Files.copy(Paths.get(s"$sf/documents.parquet"),
      dir.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val docsStream = spark.readStream
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .parquet(dir.toString)
    val q = EventStream.streamingQuotaSample(spark, docsStream,
        "source", "doc_id", quota = 5)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("quota_stream").start()
    try {
      q.processAllAvailable()
      val admitted = spark.sql(
        "SELECT doc_id FROM quota_stream WHERE admitted")
        .collect().map(_.getLong(0)).toSet
      val batch = graft.ops.Text.quotaSample(
          graft.core.Tables.load(spark, sf, "documents"),
          Seq("source"), "doc_id", quota = 5)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(admitted == batch && admitted.nonEmpty)
      // caps respected per group over the whole stream
      val perGroup = spark.sql(
        "SELECT group, COUNT(*) FROM quota_stream WHERE admitted GROUP BY group")
        .collect().map(_.getLong(1))
      assert(perGroup.forall(_ <= 5))
    } finally q.stop()
  }

  test("streaming exact dedup matches the batch groups on the documents stream") {
    val dir = Files.createTempDirectory("graft_docs_stream")
    Files.copy(Paths.get(s"$sf/documents.parquet"),
      dir.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val docsStream = spark.readStream
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .parquet(dir.toString)
    val dec = EventStream.streamingExactDedup(spark, docsStream, "text", "doc_id")
    val q = dec.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("dedup_stream").start()
    try {
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM dedup_stream").collect()
      val batch = graft.ops.Dedup.exactGroups(
        graft.core.Tables.load(spark, sf, "documents"), "text", "doc_id").collect()
      // every doc decided exactly once; kept count = number of batch groups
      assert(rows.length == batch.map(_.getLong(2)).sum)
      assert(rows.count(_.getBoolean(2)) == batch.length)
      // per content hash, all members point at ONE canonical id that is a
      // member of that hash's group
      val byHash = rows.groupBy(_.getString(1))
      assert(byHash.forall { case (_, rs) => rs.map(_.getLong(3)).distinct.length == 1 })
      val batchGroups = batch.map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(byHash.keySet == batchGroups.keySet)
    } finally q.stop()
  }

  test("streaming chunk + pack emit batch-identical rows on the documents stream") {
    val dir = Files.createTempDirectory("graft_docs_chunk")
    Files.copy(Paths.get(s"$sf/documents.parquet"),
      dir.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val docsStream = spark.readStream
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .parquet(dir.toString)
    // chunk is stateless; pack continues per-doc numbering via state
    val chunks = EventStream.streamingChunk(docsStream, "text", "doc_id",
      chunkTokens = 40, overlap = 8)
    val packs = EventStream.streamingPackChunks(spark, chunks, "doc_id",
      maxTokens = 96)
    val qc = chunks.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("chunk_stream").start()
    val qp = packs.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("pack_stream").start()
    try {
      qc.processAllAvailable(); qp.processAllAvailable()
      val docs = graft.core.Tables.load(spark, sf, "documents")
      val batchChunks = graft.ops.Text.chunk(docs, "text", "doc_id",
        chunkTokens = 40, overlap = 8)
      val batchPacks = graft.ops.Text.packChunks(batchChunks, "doc_id", 96)
      def canon(rows: Array[org.apache.spark.sql.Row]) =
        rows.map(_.toSeq).toSet
      assert(canon(spark.sql("SELECT * FROM chunk_stream").collect()) ==
        canon(batchChunks.collect()))
      // a doc's chunks arrive in one batch -> pack output is batch-identical
      assert(canon(spark.sql("SELECT * FROM pack_stream").collect()) ==
        canon(batchPacks.collect()))
    } finally { qc.stop(); qp.stop() }
  }

  test("streaming corpus mixing: stateless operator emits batch-identical copies") {
    // mixCorpus is one projection + explode with content-derived copy
    // counts — it applies to a streaming DataFrame unchanged, and the
    // mixture is partition/batch-invariant because nothing is RNG-driven
    val dir = Files.createTempDirectory("graft_docs_mix")
    Files.copy(Paths.get(s"$sf/documents.parquet"),
      dir.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val docsStream = spark.readStream
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .parquet(dir.toString)
    val weights = Map("src0" -> 0.0, "src1" -> 0.25, "src2" -> 2.5)
    val mixed = graft.ops.Text.mixCorpus(docsStream, "doc_id", "source", weights)
      .select("doc_id", "source", "copy")
    val q = mixed.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("mix_stream").start()
    try {
      q.processAllAvailable()
      val batch = graft.ops.Text.mixCorpus(
        graft.core.Tables.load(spark, sf, "documents"), "doc_id", "source", weights)
        .select("doc_id", "source", "copy")
      assert(spark.sql("SELECT * FROM mix_stream").collect().map(_.toSeq).toSet ==
        batch.collect().map(_.toSeq).toSet)
    } finally q.stop()
  }

  test("streaming blocklist + truncation: shuffle-free projections run stream-legal, batch-identical") {
    val dir = Files.createTempDirectory("graft_docs_gate")
    Files.copy(Paths.get(s"$sf/documents.parquet"),
      dir.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val docsStream = spark.readStream
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .parquet(dir.toString)
    import org.apache.spark.sql.functions.{col, concat, lit}
    def gate(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Text.truncateMiddle(
        graft.ops.Urls.blocklistFlag(
          df.withColumn("host", concat(col("source"), lit(".example.org"))),
          "host", Seq("src1.example.org", "src3.example.org"))
          .filter(!col("blocked")),
        "text", "doc_id", headTokens = 6, tailTokens = 3)
    val q = gate(docsStream).writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("gate_stream").start()
    try {
      q.processAllAvailable()
      val batch = gate(graft.core.Tables.load(spark, sf, "documents"))
      assert(spark.sql("SELECT * FROM gate_stream").collect().map(_.toSeq).toSet ==
        batch.collect().map(_.toSeq).toSet)
      assert(batch.count() > 0)
    } finally q.stop()
  }

  test("streaming pack: chunks split across batches keep monotone pack numbering") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_chunk_batches")
    def writeBatch(name: String, rows: Seq[(Long, Long, Long, String)]): Unit = {
      // stage then move the part file into the stream dir root (the file
      // source does not recurse into subdirectories)
      val stage = Files.createTempDirectory("graft_chunk_stage")
      rows.toDF("doc_id", "chunk_idx", "n_tokens", "chunk_text")
        .coalesce(1).write.parquet(s"$stage/out")
      val part = Files.list(Paths.get(s"$stage/out")).toArray.map(_.toString)
        .find(_.endsWith(".parquet")).get
      Files.copy(Paths.get(part), dir.resolve(s"$name.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    // batch 1: doc 1 chunks 0-1 (one full pack of 8 + nothing open? no:
    // 4+4 = 8 <= 8 stays one OPEN pack, flushed at batch end)
    writeBatch("b1", Seq((1L, 0L, 4L, "a b c d"), (1L, 1L, 4L, "e f g h")))
    val stream = spark.readStream
      .schema("doc_id LONG, chunk_idx LONG, n_tokens LONG, chunk_text STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString)
    val q = EventStream.streamingPackChunks(spark, stream, "doc_id", maxTokens = 8)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("pack_batches").start()
    try {
      q.processAllAvailable()
      // batch 2: two more chunks -> must land in pack_idx 1 (not merge into 0)
      writeBatch("b2", Seq((1L, 2L, 2L, "i j"), (1L, 3L, 2L, "k l")))
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM pack_batches ORDER BY pack_idx").collect()
        .map(r => (r.getLong(1), r.getLong(3), r.getString(4)))
      assert(rows.toSeq == Seq((0L, 8L, "a b c d e f g h"), (1L, 4L, "i j k l")))
    } finally q.stop()
  }

  test("streaming minhash near-dup agrees with the batch fast-path candidates") {
    val dir = Files.createTempDirectory("graft_docs_stream2")
    Files.copy(Paths.get(s"$sf/documents.parquet"),
      dir.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val docsStream = spark.readStream
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .parquet(dir.toString)
    // low tau: the spec pins CANDIDATE parity with the batch fast-hash
    // family (same xxhash64 sigs and band keys => same collisions)
    val near = EventStream.streamingMinhashDedup(spark, docsStream,
      "text", "doc_id", n = 3, k = 16, bands = 4, tau = 0.05)
    val q = near.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("near_stream").start()
    try {
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM near_stream").collect()
      val streamPairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
      // batch candidate set under the SAME family: pairs sharing any band
      // key (before exact-Jaccard verification). Rebuild it from the batch
      // operator's own signature + band-key construction.
      val docs = graft.core.Tables.load(spark, sf, "documents")
      val verified = graft.ops.Dedup.minhashLshPairs(docs, "text", "doc_id",
          3, 16, 4, 0.4, fastHash = true)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // every batch-verified near-dup pair must surface on the stream
      // (collision is deterministic given the shared family; the stream's
      // jhat >= 0.05 keeps any pair with J >= ~0.4)
      assert(verified.subsetOf(streamPairs),
        s"missing on stream: ${verified -- streamPairs}")
      // exact duplicates estimate jhat = 1.0 exactly
      val exactDups = graft.ops.Dedup.exactGroups(docs, "text", "doc_id")
        .collect().filter(_.getLong(2) > 1)
      if (exactDups.nonEmpty)
        assert(rows.exists(r => r.getDouble(3) == 1.0),
          "an exact duplicate pair must estimate jhat = 1.0")
      // pair ordering invariant + bounded band ids
      assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
      assert(rows.forall(r => r.getInt(2) >= 0 && r.getInt(2) < 4))
    } finally q.stop()
  }

  test("streaming minhash: bucket cap freezes degenerate boilerplate buckets") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    // 6 identical docs: all collide in every band; cap 3 => membership stops
    // at 3 per bucket, so pairs per band = C(3,2) = 3, not C(6,2) = 15
    val near = EventStream.streamingMinhashDedup(spark,
      mem.toDF().toDF("doc_id", "text"), "text", "doc_id",
      n = 2, k = 8, bands = 2, tau = 0.5, maxBucket = 3)
    val q = near.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("near_capped").start()
    try {
      mem.addData((1 to 6).map(i => (i.toLong, "all rights reserved here")): _*)
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM near_capped").collect()
      val perBand = rows.groupBy(_.getInt(2)).view.mapValues(_.length).toMap
      assert(perBand.values.forall(_ == 3), s"cap must bind: $perBand")
      assert(rows.forall(_.getDouble(3) == 1.0))
    } finally q.stop()
  }

  test("streaming dedup state TTL evicts idle keys; duplicates re-canonicalize") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val dec = EventStream.streamingExactDedup(spark,
      mem.toDF().toDF("doc_id", "text"), "text", "doc_id",
      stateTtl = Some("50 milliseconds"))
    val q = dec.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("dedup_ttl").start()
    // NOTE: processAllAvailable() is unreliable while a processing-time
    // timer is pending (the engine keeps scheduling timeout batches), so
    // drive the assertions by polling the sink with a deadline instead
    def awaitRows(n: Long): Unit = {
      val deadline = System.nanoTime + 30L * 1000000000L
      while (spark.sql("SELECT * FROM dedup_ttl").count() < n &&
        System.nanoTime < deadline) Thread.sleep(25)
      assert(spark.sql("SELECT * FROM dedup_ttl").count() >= n,
        s"sink never reached $n rows")
    }
    try {
      mem.addData((1L, "same content"))
      awaitRows(1)
      Thread.sleep(300) // let the 50 ms TTL expire and the timeout batch run
      mem.addData((3L, "same content")) // duplicate of the EVICTED doc 1
      awaitRows(2)
      // doc 1's state was evicted, so doc 3 re-enters as a fresh canonical
      // (keep=true pointing at itself) instead of keep=false -> 1
      val r3 = spark.sql("SELECT keep, keep_id FROM dedup_ttl WHERE doc_id = 3").head()
      assert(r3.getBoolean(0) && r3.getLong(1) == 3L,
        s"evicted hash must re-canonicalize: $r3")
    } finally q.stop()
  }

  test("streaming embedding-cosine near-dup matches the batch banded pairs") {
    val dir = Files.createTempDirectory("graft_vecs_stream")
    Files.copy(Paths.get(s"$sf/embeddings.parquet"),
      dir.resolve("embeddings.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val vecsStream = spark.readStream
      .schema("vec_id LONG, embedding ARRAY<FLOAT>, label LONG")
      .parquet(dir.toString)
    val near = EventStream.streamingCosineDedup(spark, vecsStream,
      "vec_id", "embedding", tau = 0.3)
    val q = near.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("vec_near_stream").start()
    try {
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM vec_near_stream").collect()
      val streamPairs = rows.map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3)))
        .toMap // per-band repeats carry the same cosine
      val batch = graft.ops.Vectors.cosineDupPairs(
          graft.core.Tables.load(spark, sf, "embeddings"),
          "vec_id", "embedding", tau = 0.3, bucketed = true)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      // same plane family + no bucket at the cap => identical pair sets,
      // identical exact-cosine verdicts
      assert(streamPairs.keySet == batch.keySet,
        s"stream-only=${(streamPairs.keySet -- batch.keySet).take(3)} " +
        s"batch-only=${(batch.keySet -- streamPairs.keySet).take(3)}")
      streamPairs.foreach { case (pair, c) =>
        assert(math.abs(c - batch(pair)) < 1e-9, s"$pair: $c vs ${batch(pair)}")
      }
    } finally q.stop()
  }

  test("streaming phash near-dup equals the batch banded scan exactly") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_docs_phash_stream")
    Files.copy(Paths.get(s"$sf/documents.parquet"),
      dir.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val docsStream = spark.readStream
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .parquet(dir.toString)
    val near = EventStream.streamingPhashDedup(spark,
      graft.ops.Multimodal.withBinaryPayload(docsStream, "text"),
      "doc_id", maxDist = 3)
    val q = near.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("phash_stream").start()
    try {
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM phash_stream").collect()
      val streamPairs = rows.map(r => ((r.getLong(0), r.getLong(1)), r.getLong(3)))
        .toMap // per-band repeats carry the same hamming distance
      val docs = graft.core.Tables.load(spark, sf, "documents")
      val batch = graft.ops.Multimodal.phashNearDup(
          graft.ops.Multimodal.perceptualHash(spark,
            graft.ops.Multimodal.withBinaryPayload(docs, "text"), "doc_id"),
          "doc_id", maxDist = 3)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
      // same hash, same band structure, nothing at the cap => identical
      // pair sets with identical exact distances (pigeonhole both sides)
      assert(streamPairs == batch,
        s"stream-only=${(streamPairs.keySet -- batch.keySet).take(3)} " +
        s"batch-only=${(batch.keySet -- streamPairs.keySet).take(3)}")
      assert(rows.forall(r => r.getInt(2) >= 0 && r.getInt(2) < 4))
    } finally q.stop()
  }

  test("stream-static packed ANN equals batch single-probe lshTopK") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_annq_stream")
    Files.copy(Paths.get(s"$sf/embeddings.parquet"),
      dir.resolve("embeddings.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val e = graft.core.Tables.load(spark, sf, "embeddings")
    val index = graft.ops.Vectors.packedIndex(
      e.filter(col("vec_id") >= 20).select(col("vec_id").as("cid"), col("embedding")))
    val qStream = spark.readStream
      .schema("vec_id LONG, embedding ARRAY<FLOAT>, label LONG")
      .parquet(dir.toString)
      .filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding"))
    val res = graft.ops.Vectors.packedTopK(qStream, index, k = 3)
    val q = res.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("ann_stream").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT qid, cid, cos, rnk FROM ann_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
      val want = graft.ops.Vectors.lshTopK(
          e.filter(col("vec_id") < 20).select(col("vec_id").as("qid"), col("embedding")),
          e.filter(col("vec_id") >= 20).select(col("vec_id").as("cid"), col("embedding")),
          k = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .toSet
      assert(got.nonEmpty && got == want,
        s"stream-only=${(got -- want).take(3)} batch-only=${(want -- got).take(3)}")
    } finally q.stop()
  }

  test("streaming featurization emits batch-identical wide rows (config grid)") {
    import org.apache.spark.sql.functions._
    import graft.core.{ColumnRoles, Tables}
    import graft.prep.{CasprFeaturizer, FeaturizerConfig}
    import graft.queries.Catalog.{HistoryDays, PredTs}
    val batchEv = Tables.load(spark, sf, "events")
    val input = batchEv.withColumn("pred_date", to_timestamp(lit(PredTs)))
    val roles = ColumnRoles(
      tgtId = Seq("user_id"), activityDate = "ts", predictionDate = "pred_date",
      catCols = Seq("event_type"), contCols = Seq("value"),
      seqCols = Seq("event_type", "value", "ts"), nonSeqCols = Nil,
      dateCols = Seq("ts"))
    val predTs = java.sql.Timestamp.from(
      java.time.Instant.parse(PredTs.replace(" ", "T") + "Z"))
    // default axes AND the other side of every config axis
    // (left-pad, z-score, absolute dates)
    val grid = Seq(
      ("feat_default", FeaturizerConfig(roles, seqLen = 5,
        historyDays = HistoryDays, tiebreak = Seq("event_id"))),
      ("feat_leftz", FeaturizerConfig(roles, seqLen = 5,
        historyDays = HistoryDays, leftPad = true, normMode = "z_score",
        dateMode = "absolute", tiebreak = Seq("event_id"))))
    for ((sink, cfg) <- grid) {
      // fit the featurizer in batch (the reference fit/transform discipline)
      val model = CasprFeaturizer.fit(input, cfg)
      val batchWide = model.transform(input)
      val cols = batchWide.columns.sorted.toSeq
      val stream = EventStream.streamingFeaturize(spark,
        EventStream.readEvents(spark, streamDir), model, predTs)
      val q = stream.writeStream.outputMode(OutputMode.Update())
        .format("memory").queryName(sink).start()
      try {
        q.processAllAvailable()
        def canon(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
          df.select(cols.map { c =>
            if (df.schema(c).dataType == org.apache.spark.sql.types.DoubleType)
              round(col(c), 9) else col(c)
          }: _*).collect().map(_.toSeq.toIndexedSeq).toSeq
            .sortBy(_.mkString("|"))
        val streamRows = canon(spark.table(sink))
        val batchRows = canon(batchWide)
        assert(streamRows.size == batchRows.size,
          s"$sink row count: stream=${streamRows.size} batch=${batchRows.size}")
        assert(streamRows == batchRows, s"$sink rows diverge")
      } finally q.stop()
    }
  }

  test("streaming inference: featurize -> scorer emits batch-identical embeddings") {
    import org.apache.spark.sql.functions._
    import graft.core.{ColumnRoles, Tables}
    import graft.prep.{CasprFeaturizer, FeaturizerConfig}
    import graft.queries.Catalog.{HistoryDays, PredTs}
    val batchEv = Tables.load(spark, sf, "events")
    val input = batchEv.withColumn("pred_date", to_timestamp(lit(PredTs)))
    val roles = ColumnRoles(
      tgtId = Seq("user_id"), activityDate = "ts", predictionDate = "pred_date",
      catCols = Seq("event_type"), contCols = Seq("value"),
      seqCols = Seq("event_type", "value", "ts"), nonSeqCols = Nil,
      dateCols = Seq("ts"))
    val cfg = FeaturizerConfig(roles, seqLen = 5, historyDays = HistoryDays,
      tiebreak = Seq("event_id"))
    val model = CasprFeaturizer.fit(input, cfg)
    val vocab = (model.encodings("event_type").mapping.count() + 1)
    val scorer = graft.ml.CasprScorer.forWide(
      graft.nn.AeConfig(dModel = 8, heads = 2, layers = 1, pf = 8, seqLen = 5,
        vocabSizes = Seq(vocab.toInt), nCont = 2),
      "user_id", seqCat = Seq("event_type"), seqCont = Seq("value", "ts_days"))
    // the scorer is a projection + mapPartitions with broadcast weights, so
    // the SAME model object transforms the batch wide frame and the
    // streaming featurized frame — end-to-end streaming inference
    val batchEmb = scorer.transform(model.transform(input))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val predTs = java.sql.Timestamp.from(
      java.time.Instant.parse(PredTs.replace(" ", "T") + "Z"))
    val streamWide = EventStream.streamingFeaturize(spark,
      EventStream.readEvents(spark, streamDir), model, predTs)
    val q = scorer.transform(streamWide)
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("stream_emb").start()
    try {
      q.processAllAvailable()
      val streamEmb = spark.table("stream_emb")
        .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
      assert(streamEmb.keySet == batchEmb.keySet)
      assert(streamEmb.forall { case (id, e) => e == batchEmb(id) },
        "streaming embeddings diverge from batch")
    } finally q.stop()
  }

  test("stateful latest-N sequences: bounded per-entity state, newest first") {
    val events = EventStream.readEvents(spark, streamDir)
    val seqs = EventStream.latestNSequences(spark, events, n = 5)
    val q = seqs.writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("user_seqs").start()
    try {
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM user_seqs").collect()
      assert(rows.length == 15) // one state row per user at sf0.001
      assert(rows.forall(_.getInt(1) == 5)) // every user has >= 5 events
      assert(rows.forall(r => r.getSeq[String](2).size == 5))
    } finally q.stop()
  }

  test("objective transforms (FIM, span corruption, winnowing) are stateless: streaming equals batch") {
    import graft.ops.Text
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft_obj_stream")
    Files.copy(Paths.get(s"$sf/documents.parquet"),
      dir.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val docsStream = spark.readStream
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .parquet(dir.toString)
    val sFim = Text.fimTransform(docsStream, "text", "doc_id", rate = 0.5)
    val sSpan = Text.spanCorrupt(docsStream, "text", "doc_id")
    val sWin = Text.winnowFingerprints(docsStream, "text", "doc_id")
    // sentence-boundary chunking folds inside the row -> stream-legal too
    def seeded(df: org.apache.spark.sql.DataFrame) = df.withColumn("text",
      regexp_replace(col("text"), "((\\S+\\s+){6}\\S+)\\s+", "$1. "))
    val sSent = Text.chunkSentences(seeded(docsStream), "text", "doc_id", 16)
    val q1 = sFim.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("fim_stream").start()
    val q2 = sSpan.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("span_stream").start()
    val q3 = sWin.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("win_stream").start()
    val q4 = sSent.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("sent_stream").start()
    try {
      q1.processAllAvailable(); q2.processAllAvailable()
      q3.processAllAvailable(); q4.processAllAvailable()
      val batch = graft.core.Tables.load(spark, sf, "documents")
      def key(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq.toList).toSet
      assert(key(spark.table("fim_stream")) ==
        key(Text.fimTransform(batch, "text", "doc_id", rate = 0.5)))
      assert(key(spark.table("span_stream")) ==
        key(Text.spanCorrupt(batch, "text", "doc_id")))
      assert(key(spark.table("win_stream")) ==
        key(Text.winnowFingerprints(batch, "text", "doc_id")))
      assert(key(spark.table("sent_stream")) ==
        key(Text.chunkSentences(seeded(batch), "text", "doc_id", 16)))
      assert(spark.table("fim_stream").count() > 0)
      assert(spark.table("sent_stream").count() > 0)
    } finally { q1.stop(); q2.stop(); q3.stop(); q4.stop() }
  }

  test("subword tokenizers are stateless projections: streaming equals batch") {
    val dir = Files.createTempDirectory("graft_tok_stream")
    Files.copy(Paths.get(s"$sf/documents.parquet"),
      dir.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val docsStream = spark.readStream
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .parquet(dir.toString)
    val sWp = graft.ops.WordPiece.tokenize(docsStream, "text", "doc_id",
      graft.ops.WordPiece.FixedEnglishVocab)
    val sUlm = graft.ops.Unigram.tokenize(docsStream, "text", "doc_id",
      graft.ops.Unigram.FixedEnglishPieces)
    val q1 = sWp.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("wp_stream").start()
    val q2 = sUlm.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("ulm_stream").start()
    try {
      q1.processAllAvailable(); q2.processAllAvailable()
      val batch = graft.core.Tables.load(spark, sf, "documents")
      def key(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq.toList).toSet
      assert(key(spark.table("wp_stream")) ==
        key(graft.ops.WordPiece.tokenize(batch, "text", "doc_id",
          graft.ops.WordPiece.FixedEnglishVocab)))
      assert(key(spark.table("ulm_stream")) ==
        key(graft.ops.Unigram.tokenize(batch, "text", "doc_id",
          graft.ops.Unigram.FixedEnglishPieces)))
      assert(spark.table("wp_stream").count() > 0)
    } finally { q1.stop(); q2.stop() }
  }

  test("streaming WARC ingest and mojibake/script gates equal their batch twins") {
    import org.apache.spark.sql.functions._
    // write a WARC archive from the fixture, then ingest it as a STREAM
    val batchDocs = graft.core.Tables.load(spark, sf, "documents")
      .withColumn("text", // seed artifacts + scripts so the gates fire
        when(col("doc_id") % 3 === 0, concat(col("text"), lit(" donâ€™t Ã©lite")))
          .when(col("doc_id") % 5 === 0, concat(col("text"), lit(" привет 你好")))
          .otherwise(col("text")))
    val warcDir = Files.createTempDirectory("graft_warc_stream").toString
    graft.sources.Warc.write(batchDocs, "doc_id", "text",
      concat(lit("http://x/"), col("doc_id")), warcDir)
    val streamed = graft.sources.Warc.readStream(spark, warcDir)
    // chain the new curation gates onto the streamed records
    val withId = (df: org.apache.spark.sql.DataFrame) => df.select(
      regexp_extract(col("record_id"), "urn:graft:(\\d+)", 1)
        .cast("long").as("doc_id"), col("body"))
    val sChain = graft.ops.Text.scriptProfile(
      graft.ops.Text.fixMojibake(withId(streamed), "body", "doc_id")
        .withColumnRenamed("fixed_text", "body2"),
      "body2", "doc_id")
    val q = sChain.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("warc_chain_stream").start()
    try {
      q.processAllAvailable()
      val bChain = graft.ops.Text.scriptProfile(
        graft.ops.Text.fixMojibake(
          withId(graft.sources.Warc.read(spark, warcDir)), "body", "doc_id")
          .withColumnRenamed("fixed_text", "body2"),
        "body2", "doc_id")
      def key(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq.toList).toSet
      assert(key(spark.table("warc_chain_stream")) == key(bChain))
      // the seeds actually exercised both gates
      val rows = spark.table("warc_chain_stream")
      assert(rows.filter(col("n_cyrillic") > 0).count() > 0)
      assert(rows.count() == batchDocs.count())
    } finally { q.stop() }
  }

  test("readability and compression gates are stateless: streaming equals batch") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft_gate_stream")
    Files.copy(Paths.get(s"$sf/documents.parquet"),
      dir.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val docsStream = spark.readStream
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .parquet(dir.toString)
    def seeded(df: org.apache.spark.sql.DataFrame) = df.withColumn("text",
      regexp_replace(col("text"), "((\\S+\\s+){6}\\S+)\\s+", "$1. "))
    val sRead = graft.ops.Text.readability(seeded(docsStream), "text", "doc_id")
    val sComp = graft.ops.Text.compressionSignal(docsStream, "text", "doc_id")
    val q1 = sRead.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("read_stream").start()
    val q2 = sComp.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("comp_stream").start()
    try {
      q1.processAllAvailable(); q2.processAllAvailable()
      val batch = graft.core.Tables.load(spark, sf, "documents")
      def key(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq.toList).toSet
      assert(key(spark.table("read_stream")) ==
        key(graft.ops.Text.readability(seeded(batch), "text", "doc_id")))
      assert(key(spark.table("comp_stream")) ==
        key(graft.ops.Text.compressionSignal(batch, "text", "doc_id")))
      assert(spark.table("read_stream").count() > 0)
    } finally { q1.stop(); q2.stop() }
  }

  test("curation chain (strip -> scrub -> normalize -> gate) is stateless: streaming equals batch") {
    import graft.ops.Text
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft_cur_stream")
    Files.copy(Paths.get(s"$sf/documents.parquet"),
      dir.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    def chain(df: org.apache.spark.sql.DataFrame) = {
      // page chrome first: the in-row main-content cut is stream-legal too
      val paged = df.withColumn("page",
        concat(lit("<nav><a href=\"/\">Home page</a> <a href=\"/b\">About page</a></nav><div>"),
          col("text"), lit("</div>")))
      val mc = Text.extractMainContent(paged, "page", "doc_id")
      val html = mc.withColumn("html",
        concat(lit("<p>"), col("main_text"), lit("</p><!-- x --><b>&amp;fin</b>")))
      val stripped = Text.stripMarkup(html, "html", "doc_id")
      val scrubbed = Text.scrubPii(stripped, "clean_text", "doc_id")
      val normed = Text.normalizeText(scrubbed, "clean_text", "doc_id")
      // the repetition gate is a stateless narrow projection too —
      // streaming-legal in the same chain, text carried through (no join)
      val gated = Text.gopherRepetition(normed, "clean_text", "doc_id",
          carry = Seq("clean_text"))
        .filter(col("keep"))
      Text.qualityScore(gated, "clean_text", "doc_id", carry = Seq("clean_text"))
        .filter(col("stop_ratio") >= 0.05)
    }
    val docsStream = spark.readStream
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .parquet(dir.toString)
    val q = chain(docsStream).writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("cur_stream").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT doc_id, clean_text FROM cur_stream")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val want = chain(graft.core.Tables.load(spark, sf, "documents"))
        .select("doc_id", "clean_text")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == want && got.nonEmpty)
    } finally q.stop()
  }

  test("streaming paragraph Bloom cut: append-legal, equals the batch form") {
    import graft.ops.Dedup
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft_para_stream")
    Files.copy(Paths.get(s"$sf/documents.parquet"),
      dir.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val batchDocs = graft.core.Tables.load(spark, sf, "documents")
    // seed a known boilerplate paragraph so the sketch has real hits
    def seeded(df: org.apache.spark.sql.DataFrame) = df.withColumn("text",
      concat(col("text"),
        when(col("doc_id") % 3 === 0, lit("\n\nshared boilerplate para"))
          .otherwise(lit(""))))
    val index = Dedup.paragraphHashIndex(
      seeded(batchDocs).filter(col("doc_id") < 100), "text")
    val docsStream = spark.readStream
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .parquet(dir.toString)
    val q = Dedup.dropKnownParagraphsBloom(seeded(docsStream), "text", "doc_id",
        index, expectedItems = 4096, fpp = 0.001)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("para_stream").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT doc_id, clean_text, n_dropped FROM para_stream")
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
      val want = Dedup.dropKnownParagraphsBloom(seeded(batchDocs), "text", "doc_id",
          index, expectedItems = 4096, fpp = 0.001)
        .select("doc_id", "clean_text", "n_dropped")
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
      assert(got == want && got.nonEmpty)
      // the seeded boilerplate is actually cut on streamed docs >= 100
      assert(got.exists { case (id, (_, d)) => id >= 100 && d > 0 })
    } finally q.stop()
  }

  test("streaming chunk Bloom cut: append-legal, equals the batch form") {
    import graft.ops.Dedup
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft_chunk_stream")
    Files.copy(Paths.get(s"$sf/documents.parquet"),
      dir.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val batchDocs = graft.core.Tables.load(spark, sf, "documents")
    // a long seeded boilerplate block so interior chunks hit the sketch
    val boiler = " subscribe to our newsletter for updates and offers." +
      " this website uses cookies to improve your experience. all rights" +
      " reserved by the publisher of this content. terms of service apply."
    def seeded(df: org.apache.spark.sql.DataFrame) = df.withColumn("text",
      concat(col("text"),
        when(col("doc_id") % 3 === 0, lit(boiler)).otherwise(lit(""))))
    val index = Dedup.contentChunkHashIndex(
      seeded(batchDocs).filter(col("doc_id") < 100), "text")
    val docsStream = spark.readStream
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .parquet(dir.toString)
    val q = Dedup.dropKnownChunksBloom(seeded(docsStream), "text", "doc_id",
        index, expectedItems = 4096, fpp = 0.001)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("chunk_stream").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT doc_id, clean_text, n_dropped FROM chunk_stream")
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
      val want = Dedup.dropKnownChunksBloom(seeded(batchDocs), "text", "doc_id",
          index, expectedItems = 4096, fpp = 0.001)
        .select("doc_id", "clean_text", "n_dropped")
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
      assert(got == want && got.nonEmpty)
      // seeded boilerplate chunks are actually cut on streamed docs >= 100
      assert(got.exists { case (id, (_, d)) => id >= 100 && id % 3 == 0 && d > 0 })
    } finally q.stop()
  }

  test("streaming expectations: per-window verdicts equal the batch twin") {
    import graft.ops.Expect
    import org.apache.spark.sql.functions._
    val checks = Seq[Expect.Check](
      Expect.Complete("value", 0.99),
      Expect.Unique(Seq("event_id")),
      Expect.InRange("value", 0, 500, 0.5),
      Expect.InSet("event_type", Seq("click", "view"), 0.6))
    val q = EventStream.streamingExpectations(
        EventStream.readEvents(spark, streamDir), "ts", "24 hours", checks)
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("exp_stream").start()
    try {
      q.processAllAvailable()
      val got = spark.sql(
          "SELECT window_start, check_name, value, passed FROM exp_stream")
        .collect().map(r => (r.getTimestamp(0), r.getString(1)) ->
          (Option(r.getAs[java.lang.Double]("value")), r.getBoolean(3))).toMap
      // batch twin: same window grain, same sketch-based unique
      val want = EventStream.streamingExpectations(
          graft.core.Tables.load(spark, sf, "events"), "ts", "24 hours", checks)
        .collect().map(r => (r.getTimestamp(0), r.getString(1)) ->
          (Option(r.getAs[java.lang.Double]("value")), r.getBoolean(6))).toMap
      assert(got == want && got.nonEmpty)
      // every window carries all four verdicts
      assert(got.keySet.map(_._1).forall(w =>
        got.keySet.count(_._1 == w) == 4))
    } finally q.stop()
  }

  test("streaming CDC apply: one batch emits the batch merge's non-carried rows plus tombstones") {
    import org.apache.spark.sql.functions._
    import graft.ops.Temporal
    val ev = graft.core.Tables.load(spark, sf, "events")
    val cut = to_timestamp(lit("2024-01-15 00:00:00"))
    val snapshot = ev.filter(col("ts") < cut)
      .select(col("user_id")).distinct().withColumn("balance", lit(-1.0))
    def chg(df: org.apache.spark.sql.DataFrame) = df.filter(col("ts") >= cut)
      .select(col("user_id"), col("ts"), col("event_id"),
        when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
        col("value").as("balance"))
    val q = EventStream.streamingCdcApply(spark,
        chg(EventStream.readEvents(spark, streamDir)), snapshot,
        "user_id", "ts", "op", "balance", "event_id")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("cdc_stream").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT key, v, origin FROM cdc_stream").collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getDouble(1)), r.getString(2)))
      val batch = Temporal.applyChangelog(snapshot, chg(ev), Seq("user_id"),
          "ts", "op", Seq("balance"), Seq("event_id"))
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
      val streamLive = got.filter(_._3 != "deleted")
        .map(t => (t._1, t._2.get, t._3)).toSet
      val batchLive = batch.filter(_._3 != "carried").toSet
      assert(streamLive == batchLive && streamLive.nonEmpty)
      // tombstoned keys are exactly the keys the batch merge dropped
      val dead = got.filter(_._3 == "deleted").map(_._1).toSet
      assert(dead.nonEmpty && dead.intersect(batch.map(_._1).toSet).isEmpty)
    } finally q.stop()
  }

  test("stream-static packed admission equals the batch admission verdicts") {
    import graft.ops.Dedup
    val dir = Files.createTempDirectory("graft_admit_stream")
    Files.copy(Paths.get(s"$sf/documents.parquet"),
      dir.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val all = graft.core.Tables.load(spark, sf, "documents")
    val corpus = all.filter(org.apache.spark.sql.functions.col("doc_id") % 10 =!= 0)
    val packed = Dedup.packedAdmitIndex(
      Dedup.minhashBandIndex(corpus, "text", "doc_id", 3, 16, 4, fastHash = true),
      "doc_id")
    // the packed index is static; the NEW batch arrives as a stream — the
    // very same operator call, now planned as stream-static left joins
    val docsStream = spark.readStream
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .parquet(dir.toString)
      .filter("doc_id % 10 = 0")
    val q = Dedup.admitNearDupsPacked(docsStream, packed, "text", "doc_id",
        3, 16, 4, 0.4, fastHash = true)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("admit_stream").start()
    try {
      q.processAllAvailable()
      def canon(rows: Array[org.apache.spark.sql.Row]) =
        rows.map(r => (r.getLong(0), r.getBoolean(1),
          if (r.isNullAt(2)) -1L else r.getLong(2),
          if (r.isNullAt(3)) -1.0 else r.getDouble(3))).toSet
      val got = canon(spark.sql("SELECT * FROM admit_stream").collect())
      val want = canon(Dedup.admitNearDupsPacked(
        all.filter(org.apache.spark.sql.functions.col("doc_id") % 10 === 0),
        packed, "text", "doc_id", 3, 16, 4, 0.4, fastHash = true).collect())
      assert(got == want && got.exists(_._2))
    } finally q.stop()
  }

  test("streaming BM25 serve over a saved index equals the batch run per query") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.ops.{Search, SearchIndex}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = graft.core.Tables.load(spark, sf, "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft-bm25-serve-").toString
    SearchIndex.fit(docs, "text", "doc_id").save(dir)
    val idx = SearchIndex.load(spark, dir)
    val queries = Seq(0 -> "hash join merge", 1 -> "vector scan window",
      2 -> "fast stream batch query")
    val sink = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Double)]()
    val mem = MemoryStream[(Int, String)]
    val q = EventStream.streamingBm25Serve(
      mem.toDF().toDF("query_id", "qtext"), idx, k = 5) { batch =>
      batch.collect().foreach(r =>
        sink.add((r.getInt(0), r.getLong(1), r.getDouble(2))))
    }
    try {
      // two separate micro-batches — per-batch independence is the contract
      mem.addData(queries.take(1): _*)
      q.processAllAvailable()
      mem.addData(queries.drop(1): _*)
      q.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val got = sink.asScala.toSet
      val want = Search.bm25TopKIdx(idx,
          queries.toDF("query_id", "qtext"), k = 5)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == want && got.nonEmpty,
        s"stream-served top-k must equal the batch run (${got.size} vs ${want.size})")
    } finally q.stop()
  }

  test("streaming Holt equals the batch fold per row") {
    val out = EventStream.streamingHolt(spark,
      EventStream.readEvents(spark, streamDir),
      "user_id", "ts", "value", "event_id",
      alpha = 0.3, gamma = 0.2, window = 8)
    val q = out.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("holt_stream").start()
    try {
      q.processAllAvailable()
      val got = spark.sql(
          "SELECT key, id, level, trend, forecast FROM holt_stream")
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
      val batch = graft.ops.Temporal.holtSmooth(
          graft.core.Tables.load(spark, sf, "events"),
          Seq("user_id"), "ts", "value", alpha = 0.3, gamma = 0.2,
          window = 8, tiebreak = Seq("event_id"), idCols = Seq("event_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
      assert(got.keySet == batch.keySet && got.size == 1000)
      // pre-rounding doubles are bit-identical (same fold); the two 6-dp
      // rounders may disagree only exactly ON a tie, so allow 1e-6
      got.foreach { case (k, (l, b, f)) =>
        val (bl, bb, bf) = batch(k)
        assert(math.abs(l - bl) <= 1e-6 && math.abs(b - bb) <= 1e-6 &&
          math.abs(f - bf) <= 1e-6, s"$k: ($l,$b,$f) vs ($bl,$bb,$bf)")
      }
    } finally q.stop()
  }

  test("streaming CUSUM final state matches the batch detector per key") {
    import org.apache.spark.sql.functions._
    val out = EventStream.streamingCusum(spark,
      EventStream.readEvents(spark, streamDir),
      "user_id", "ts", "value", "event_id",
      target = 50.0, slack = 10.0, h = 150.0)
    val q = out.writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("cusum_stream").start()
    try {
      q.processAllAvailable()
      // update mode re-emits per batch: max n_events per key is final
      val fin = spark.sql(
          "SELECT key, n_events, cusum_hi, cusum_lo, alarm FROM cusum_stream")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getBoolean(4)))
        .groupBy(_._1).map { case (k, v) => k -> v.maxBy(_._2) }
      val ev = graft.core.Tables.load(spark, sf, "events")
      // batch twin's LAST row per key (prefix-sum identity form)
      val lastIds = ev.groupBy(col("user_id"))
        .agg(max(struct(col("ts"), col("event_id"))).as("m"))
        .select(col("user_id"), col("m.event_id").as("event_id"))
      val batch = graft.ops.Temporal.cusum(ev, Seq("user_id"), "ts", "value",
          target = 50.0, slack = 10.0, h = 150.0,
          tiebreak = Seq("event_id"), idCols = Seq("event_id"))
        .join(lastIds, Seq("user_id", "event_id"))
        .collect().map(r => r.getLong(0).toString ->
          ((r.getDouble(2), r.getDouble(3), r.getBoolean(4)))).toMap
      assert(fin.keySet == batch.keySet && fin.nonEmpty)
      fin.foreach { case (k, (_, _, sh, sl, alarm)) =>
        val (bh, bl, balarm) = batch(k)
        // the stream folds the recurrence directly, the batch computes
        // the algebraically-equal prefix-sum form — identical up to FP
        // rounding order
        assert(math.abs(sh - bh) <= 1e-6 && math.abs(sl - bl) <= 1e-6,
          s"key $k: stream ($sh,$sl) vs batch ($bh,$bl)")
        if (math.abs(sh - 150.0) > 1e-3 && math.abs(sl - 150.0) > 1e-3)
          assert(alarm == balarm, s"key $k alarm mismatch")
      }
      assert(fin.values.map(_._2).sum ==
        ev.filter(col("value").isNotNull).count())
    } finally q.stop()
  }

  test("streaming Page-Hinkley final state matches the batch detector per key") {
    import org.apache.spark.sql.functions._
    val out = EventStream.streamingPageHinkley(spark,
      EventStream.readEvents(spark, streamDir),
      "user_id", "ts", "value", "event_id", delta = 2.0, lambda = 400.0)
    val q = out.writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("ph_stream").start()
    try {
      q.processAllAvailable()
      val fin = spark.sql(
          "SELECT key, n_events, run_mean, ph_stat, alarm FROM ph_stream")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getBoolean(4)))
        .groupBy(_._1).map { case (k, v) => k -> v.maxBy(_._2) }
      val ev = graft.core.Tables.load(spark, sf, "events")
      val lastIds = ev.filter(col("value").isNotNull)
        .groupBy(col("user_id"))
        .agg(max(struct(col("ts"), col("event_id"))).as("m"))
        .select(col("user_id"), col("m.event_id").as("event_id"))
      val batch = graft.ops.Temporal.pageHinkley(ev, Seq("user_id"), "ts",
          "value", delta = 2.0, lambda = 400.0,
          tiebreak = Seq("event_id"), idCols = Seq("event_id"))
        .join(lastIds, Seq("user_id", "event_id"))
        .collect().map(r => r.getLong(0).toString ->
          ((r.getDouble(2), r.getDouble(3), r.getBoolean(4)))).toMap
      assert(fin.keySet == batch.keySet && fin.nonEmpty)
      fin.foreach { case (k, (_, _, m, ph, alarm)) =>
        val (bm, bph, balarm) = batch(k)
        // the state fold mirrors the batch prefix-sum identity term for
        // term (sA - sB, left-folded), so only the two 6-dp rounders on
        // an exact tie can differ
        assert(math.abs(m - bm) <= 1e-6 && math.abs(ph - bph) <= 1e-6,
          s"key $k: stream ($m,$ph) vs batch ($bm,$bph)")
        if (math.abs(ph - 400.0) > 1e-3) assert(alarm == balarm)
      }
    } finally q.stop()
  }

  test("streaming Durbin-Watson final state equals the batch statistic bit-for-bit") {
    import org.apache.spark.sql.functions._
    val out = EventStream.streamingDurbinWatson(spark,
      EventStream.readEvents(spark, streamDir)
        .withColumn("cents", round(col("value") * 100).cast("long")),
      "user_id", "ts", "cents", "event_id", minN = 8)
    val q = out.writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("dw_stream").start()
    try {
      q.processAllAvailable()
      val fin = spark.sql("SELECT key, n_events, dw FROM dw_stream")
        .collect().map(r => (r.getString(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2))))
        .groupBy(_._1).map { case (k, v) => k -> v.maxBy(_._2) }
      val batch = graft.ops.Temporal.durbinWatson(
          graft.core.Tables.load(spark, sf, "events")
            .withColumn("cents", round(col("value") * 100).cast("long")),
          Seq("user_id"), "ts", "cents", tiebreak = Seq("event_id"),
          minN = 8)
        .collect().map(r => r.getLong(0).toString ->
          ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))))
        .toMap
      assert(fin.keySet == batch.keySet && fin.nonEmpty)
      // integer state + the identical double chain: EXACT equality,
      // no tolerance
      fin.foreach { case (k, (_, n, dw)) =>
        val (bn, bdw) = batch(k)
        assert(n == bn && dw == bdw,
          s"key $k: stream ($n,$dw) vs batch ($bn,$bdw)")
      }
    } finally q.stop()
  }

  test("streaming nearest-centroid serve equals the batch classifier row for row") {
    import org.apache.spark.sql.functions._
    import graft.ops.Vectors
    val emb = graft.core.Tables.load(spark, sf, "embeddings")
    val fit = Vectors.centroidFit(emb.filter(col("vec_id") % 5 =!= 0),
      "embedding", "label")
    // the frozen fit collects to labels x dim — the bounded artifact
    val cents = fit.collect().map(r =>
      r.getAs[Number](0).longValue -> r.getSeq[Double](1)).toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft_emb_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/embeddings.parquet"),
      dir.resolve("embeddings.parquet"))
    val stream = spark.readStream.schema(emb.schema)
      .parquet(dir.toString).filter(col("vec_id") % 5 === 0)
    val out = EventStream.streamingClassify(stream, cents,
      "vec_id", "embedding", labelCol = Some("label"))
    val q = out.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("classify_stream").start()
    try {
      q.processAllAvailable()
      def tup(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1),
        r.getLong(2), Option(r.get(3)).map(_.toString).orNull)
      val got = spark.sql(
        "SELECT vec_id, label, predicted, cos FROM classify_stream")
        .collect().map(tup).toSet
      val batch = Vectors.centroidApply(emb.filter(col("vec_id") % 5 === 0),
          fit, "vec_id", "embedding", "label")
        .collect().map(tup).toSet
      assert(got == batch && got.nonEmpty, "stream/batch parity")
    } finally q.stop()
  }

  test("streaming SPRT matches the batch test per key; decisions freeze") {
    import org.apache.spark.sql.functions._
    val ev = EventStream.readEvents(spark, streamDir)
      .withColumn("x", col("value") > 50.0)
    val out = EventStream.streamingSprt(spark, ev,
      "event_type", "ts", "x", "event_id", p0 = 0.4, p1 = 0.5)
    val q = out.writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("sprt_stream").start()
    try {
      q.processAllAvailable()
      val fin = spark.sql(
          "SELECT key, n_total, n_decision, llr, decision FROM sprt_stream")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getString(4)))
        .groupBy(_._1).map { case (k, v) => k -> v.maxBy(_._2) }
      val batch = graft.ops.Experiment.sprt(
          graft.core.Tables.load(spark, sf, "events")
            .withColumn("x", col("value") > 50.0),
          Seq("event_type"), "ts", "x", p0 = 0.4, p1 = 0.5,
          tiebreak = Seq("event_id"))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getString(4))))
        .toMap
      assert(fin.keySet == batch.keySet && fin.nonEmpty)
      // integer counts x shared literals: bit-for-bit, including rounding
      fin.foreach { case (k, (_, n, nd, llr, dec)) =>
        val (bn, bnd, bllr, bdec) = batch(k)
        assert(n == bn && nd == bnd && llr == bllr && dec == bdec,
          s"key $k: stream ($n,$nd,$llr,$dec) vs batch ($bn,$bnd,$bllr,$bdec)")
      }
    } finally q.stop()
  }

  test("streaming mSPRT matches the batch first-crossing rows per key") {
    import org.apache.spark.sql.functions._
    val ev = EventStream.readEvents(spark, streamDir)
    val out = EventStream.streamingMsprt(spark, ev,
      "event_type", "ts", "value", "event_id",
      mu0 = 50.0, sigma = 29.0, tau = 5.0, alpha = 0.05)
    val q = out.writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("msprt_stream").start()
    try {
      q.processAllAvailable()
      val fin = spark.sql("SELECT key, n_total, n_decision, log_lambda, " +
          "p_always_valid, decision FROM msprt_stream")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4), r.getString(5)))
        .groupBy(_._1).map { case (k, v) => k -> v.maxBy(_._2) }
      val batch = graft.ops.Experiment.msprt(
          graft.core.Tables.load(spark, sf, "events"),
          Seq("event_type"), "ts", "value",
          mu0 = 50.0, sigma = 29.0, tau = 5.0, alpha = 0.05,
          tiebreak = Seq("event_id"))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
            r.getString(5))))
        .toMap
      assert(fin.keySet == batch.keySet && fin.nonEmpty)
      // the fold replays the batch window's in-order double accumulation
      // and both sides share one JVM's libm — bit-for-bit incl. rounding
      fin.foreach { case (k, (_, n, nd, ll, p, dec)) =>
        val (bn, bnd, bll, bp, bdec) = batch(k)
        assert(n == bn && nd == bnd && ll == bll && p == bp && dec == bdec,
          s"key $k: stream ($n,$nd,$ll,$p,$dec) vs batch ($bn,$bnd,$bll,$bp,$bdec)")
      }
    } finally q.stop()
  }

  test("streaming mSPRT: split micro-batches equal the one-batch fold; decision freezes") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // one key, strictly increasing ts; mean shifts +20 after i=30 so the
    // running max crosses ln(1/alpha) mid-stream and the decision freezes
    val evs = (1 to 60).map(i =>
      ("k", 1700000000000000L + i * 1000000L, i.toLong,
        if (i <= 30) 50.0 else 90.0 + (i % 3)))
    def run(data: Seq[Seq[(String, Long, Long, Double)]], name: String) = {
      val mem = MemoryStream[(String, Long, Long, Double)]
      val df = mem.toDF().toDF("k", "ts_us", "event_id", "v")
        .select(col("k"), expr("timestamp_micros(ts_us)").as("ts"),
          col("event_id"), col("v"))
      val q = EventStream.streamingMsprt(spark, df,
          "k", "ts", "v", "event_id",
          mu0 = 50.0, sigma = 29.0, tau = 5.0, alpha = 0.05)
        .writeStream.outputMode(OutputMode.Update())
        .format("memory").queryName(name).start()
      try {
        data.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
        spark.sql(s"SELECT n_total, n_decision, log_lambda, " +
            s"p_always_valid, decision FROM $name " +
            "ORDER BY n_total DESC LIMIT 1")
          .collect().head
      } finally q.stop()
    }
    val one = run(Seq(evs), "msprt_one")
    val split = run(Seq(evs.take(17), evs.slice(17, 40), evs.drop(40)),
      "msprt_split")
    assert(one == split, s"one-batch $one vs split $split")
    assert(one.getString(4) == "reject" && one.getLong(0) == 60 &&
      one.getLong(1) < 60, s"decision should freeze mid-stream: $one")
    // and the frozen row equals the batch operator's first-crossing row
    val batchDf = evs.toDF("k", "ts_us", "event_id", "v")
      .select(col("k"), expr("timestamp_micros(ts_us)").as("ts"),
        col("event_id"), col("v"))
    val b = graft.ops.Experiment.msprt(batchDf, Seq("k"), "ts", "v",
      mu0 = 50.0, sigma = 29.0, tau = 5.0, alpha = 0.05,
      tiebreak = Seq("event_id")).collect().head
    assert(b.getLong(2) == one.getLong(1) &&
      b.getDouble(3) == one.getDouble(2) && b.getString(5) == "reject",
      s"batch crossing $b vs stream $one")
  }

  test("streaming sequential SRM: split micro-batches equal the batch monitor bit-for-bit; alarm freezes at the ramp flip") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // 40 alternating assignments (declared 50/50 holds), then 60 rows of
    // pure 'a' — the ExperimentSpec srmSequential fixture, streamed
    val evs = (1 to 100).map(i =>
      ((if (i <= 40) (if (i % 2 == 0) "a" else "b") else "a"),
        1700000000000000L + i * 1000000L, i.toLong))
    def run(data: Seq[Seq[(String, Long, Long)]], name: String) = {
      val mem = MemoryStream[(String, Long, Long)]
      val df = mem.toDF().toDF("arm", "ts_us", "event_id")
        .select(col("arm"), expr("timestamp_micros(ts_us)").as("ts"),
          col("event_id"))
      val q = EventStream.streamingSrmSequential(spark, df,
          "arm", "ts", "event_id", Seq("a" -> 0.5, "b" -> 0.5), tau = 0.5)
        .writeStream.outputMode(OutputMode.Update())
        .format("memory").queryName(name).start()
      try {
        data.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
        spark.sql(s"SELECT arm, share, n_total, n_decision, log_lambda, " +
            s"p_always_valid, decision FROM $name")
          .collect()
          .map(r => (r.getString(0), r.getDouble(1), r.getLong(2),
            r.getLong(3), r.getDouble(4), r.getDouble(5), r.getString(6)))
          .groupBy(_._1).map { case (k, v) => k -> v.maxBy(_._3) }
      } finally q.stop()
    }
    val one = run(Seq(evs), "srmseq_one")
    val split = run(Seq(evs.take(13), evs.slice(13, 55), evs.drop(55)),
      "srmseq_split")
    assert(one == split, s"one-batch $one vs split $split")
    val batch = graft.ops.Experiment.srmSequential(
        evs.toDF("arm", "ts_us", "event_id")
          .select(col("arm"), expr("timestamp_micros(ts_us)").as("ts"),
            col("event_id")),
        "arm", "ts", Seq("a" -> 0.5, "b" -> 0.5), tau = 0.5,
        tiebreak = Seq("event_id")).collect()
      .map(r => r.getString(0) -> ((r.getString(0), r.getDouble(1),
        r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5),
        r.getString(6)))).toMap
    assert(one.keySet == batch.keySet && one.size == 2)
    one.foreach { case (k, row) =>
      assert(row == batch(k), s"arm $k: stream $row vs batch ${batch(k)}")
    }
    assert(one("a")._7 == "reject" && one("a")._4 > 40 && one("a")._4 < 100,
      s"alarm must freeze mid-stream after the flip: ${one("a")}")
  }

  test("streaming Page-Hinkley: split micro-batches equal the one-batch fold") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // one key, strictly increasing ts, a drifting series crossing lambda
    val evs = (1 to 60).map(i =>
      ("k", 1700000000000000L + i * 1000000L, i.toLong,
        if (i <= 30) 10.0 else 10.0 + i))
    def run(data: Seq[Seq[(String, Long, Long, Double)]], name: String) = {
      val mem = MemoryStream[(String, Long, Long, Double)]
      val df = mem.toDF().toDF("k", "ts_us", "event_id", "v")
        .select(col("k"), expr("timestamp_micros(ts_us)").as("ts"),
          col("event_id"), col("v"))
      val q = EventStream.streamingPageHinkley(spark, df,
          "k", "ts", "v", "event_id", delta = 0.5, lambda = 50.0)
        .writeStream.outputMode(OutputMode.Update())
        .format("memory").queryName(name).start()
      try {
        data.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
        spark.sql(s"SELECT n_events, run_mean, ph_stat, alarm FROM $name " +
            "ORDER BY n_events DESC LIMIT 1")
          .collect().head
      } finally q.stop()
    }
    val whole = run(Seq(evs), "ph_one")
    val split = run(Seq(evs.take(13), evs.slice(13, 40), evs.drop(40)), "ph_three")
    // identical left fold regardless of batch boundaries: bit-for-bit
    assert(whole.getLong(0) == 60 && split.getLong(0) == 60)
    assert(whole.getDouble(1) == split.getDouble(1))
    assert(whole.getDouble(2) == split.getDouble(2))
    assert(whole.getBoolean(3) && split.getBoolean(3))
  }

  test("replayEval is stream-legal as-is: stream-static policy join + one agg equals the batch row") {
    import org.apache.spark.sql.functions._
    // the batch operator's shape (broadcast ctx-grain policy join into a
    // single aggregate) is ALREADY a legal streaming plan in Complete
    // mode — no twin needed; this pins that contract
    val cut = lit("2024-01-16 00:00:00").cast("timestamp")
    def derive(df: org.apache.spark.sql.DataFrame) = df
      .filter(col("value").isNotNull)
      .withColumn("ctx", col("user_id") % 10)
      .withColumn("armL",
        conv(substring(md5(col("event_id").cast("string")), 1, 4), 16, 10)
          .cast("long") % 4)
    val batchEv = derive(graft.core.Tables.load(spark, sf, "events"))
    val policy = graft.ops.Experiment.greedyPolicy(
      batchEv.filter(col("ts") < cut), "ctx", "armL", "value")
    val out = graft.ops.Experiment.replayEval(
      derive(EventStream.readEvents(spark, streamDir))
        .filter(col("ts") >= cut),
      "ctx", "armL", "value", policy)
    val q = out.writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("replay_stream").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("""SELECT n_logged, n_matched, match_rate,
          reward_policy, reward_logged FROM replay_stream""").collect()
      assert(got.length == 1)
      val batch = graft.ops.Experiment.replayEval(
        batchEv.filter(col("ts") >= cut), "ctx", "armL", "value", policy)
        .collect().head
      assert(got.head == batch, s"${got.head} vs $batch")
    } finally q.stop()
  }

  test("drReplay is stream-legal as-is: policy + model ride stream-static broadcasts into one agg") {
    import org.apache.spark.sql.functions._
    // same contract as the replayEval case: the batch shape (two
    // ctx-grain broadcast joins + a single aggregate) is already a
    // legal streaming plan in Complete mode — no twin needed
    val cut = lit("2024-01-16 00:00:00").cast("timestamp")
    def derive(df: org.apache.spark.sql.DataFrame) = df
      .filter(col("value").isNotNull)
      .withColumn("ctx", col("user_id") % 10)
      .withColumn("armL",
        conv(substring(md5(col("event_id").cast("string")), 1, 4), 16, 10)
          .cast("long") % 4)
      .withColumn("prop", lit(0.25))
    val batchEv = derive(graft.core.Tables.load(spark, sf, "events"))
    val pre = batchEv.filter(col("ts") < cut)
    val policy = graft.ops.Experiment.greedyPolicy(pre, "ctx", "armL", "value")
    val model = pre.groupBy(col("ctx"), col("armL").as("arm"))
      .agg(sum(round(col("value") * 1e6).cast("long")).as("__s"),
        count(lit(1)).as("__n"))
      .select(col("ctx"), col("arm"),
        (col("__s").cast("double") / col("__n") / 1e6).as("mu"))
    val out = graft.ops.Experiment.drReplay(
      derive(EventStream.readEvents(spark, streamDir))
        .filter(col("ts") >= cut),
      "ctx", "armL", "value", "prop", policy, model)
    val q = out.writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("dr_stream").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("""SELECT n_logged, n_matched, match_rate,
          value_model, value_dr, se FROM dr_stream""").collect()
      assert(got.length == 1)
      val batch = graft.ops.Experiment.drReplay(
        batchEv.filter(col("ts") >= cut), "ctx", "armL", "value", "prop",
        policy, model).collect().head
      assert(got.head == batch, s"${got.head} vs $batch")
    } finally q.stop()
  }

  test("streaming markov score equals the batch handoff scorer against a frozen model") {
    import org.apache.spark.sql.functions._
    val ev = graft.core.Tables.load(spark, sf, "events")
    val cut = lit("2024-01-16 00:00:00").cast("timestamp")
    val model = graft.ops.Temporal.markovTransitions(
      ev.filter(col("ts") < cut), Seq("user_id"), "ts", "event_type",
      Seq("event_id"))
    val out = EventStream.streamingMarkovScore(spark,
      EventStream.readEvents(spark, streamDir)
        .filter(col("ts") >= cut),
      "user_id", "ts", "event_type", "event_id", model, minP = 0.19)
    val q = out.writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("mks_stream").start()
    try {
      q.processAllAvailable()
      def od(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
        if (r.isNullAt(i)) None else Some(r.getDouble(i))
      val got = spark.sql("""SELECT key, ts_us, tb, from_state, to_state,
          p, is_improbable FROM mks_stream""").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getString(3), r.getString(4), od(r, 5), r.getBoolean(6))).toSet
      val batch = graft.ops.Temporal.markovScoreHandoffs(
          ev.filter(col("ts") >= cut), Seq("user_id"), "ts", "event_type",
          model, minP = 0.19, tiebreak = Seq("event_id"))
        .select(col("user_id").cast("string"), unix_micros(col("ts")),
          col("event_id"), col("from_state"), col("to_state"), col("p"),
          col("is_improbable"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getString(3), r.getString(4), od(r, 5), r.getBoolean(6))).toSet
      assert(got == batch && got.nonEmpty,
        s"${(got -- batch).take(3)} vs ${(batch -- got).take(3)}")
      // the fixture must exercise both verdicts
      assert(got.exists(_._7) && got.exists(!_._7))
    } finally q.stop()
    // null-state events OCCUPY the handoff slot (the batch lead-window
    // semantics): (a, null, b) emits NOTHING, (b, a) then emits
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, Long, Long, Option[String])]
    val df = mem.toDF().toDF("k", "ts_us", "event_id", "s")
      .select(col("k"), expr("timestamp_micros(ts_us)").as("ts"),
        col("event_id"), col("s"))
    val q2 = EventStream.streamingMarkovScore(spark, df, "k", "ts", "s",
        "event_id", model.limit(0), minP = 0.5)
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("mks_nulls").start()
    try {
      mem.addData(("k", 1L, 1L, Some("a")), ("k", 2L, 2L, None),
        ("k", 3L, 3L, Some("b")), ("k", 4L, 4L, Some("a")))
      q2.processAllAvailable()
      val rows = spark.sql(
          "SELECT from_state, to_state FROM mks_nulls").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      // a->null and null->b are dropped; only b->a survives
      assert(rows == Set(("b", "a")), s"got $rows")
    } finally q2.stop()
  }

  test("streaming gap report emits exactly the batch violations; gaps straddle batches") {
    import org.apache.spark.sql.functions._
    val out = EventStream.streamingGapReport(spark,
      EventStream.readEvents(spark, streamDir),
      "user_id", "ts", "event_id", toleranceSec = 172800L)
    val q = out.writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("gap_stream").start()
    try {
      q.processAllAvailable()
      val got = spark.sql(
          "SELECT key, prev_ts_us, ts_us, gap_sec FROM gap_stream")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      val batch = graft.ops.Temporal.gapReport(
          graft.core.Tables.load(spark, sf, "events"),
          Seq("user_id"), "ts", toleranceSec = 172800L,
          tiebreak = Seq("event_id"))
        .select(col("user_id").cast("string"), unix_micros(col("prev_ts")),
          unix_micros(col("ts")), col("gap_sec"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      assert(got == batch && got.nonEmpty,
        s"${(got -- batch).take(3)} vs ${(batch -- got).take(3)}")
    } finally q.stop()
    // a gap WHOSE ENDPOINTS land in different micro-batches still fires:
    // the one-pair state carries the previous timestamp across batches
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, Long, Long)]
    val df = mem.toDF().toDF("k", "ts_us", "event_id")
      .select(col("k"), expr("timestamp_micros(ts_us)").as("ts"),
        col("event_id"))
    val q2 = EventStream.streamingGapReport(spark, df, "k", "ts",
        "event_id", toleranceSec = 10L)
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("gap_split").start()
    try {
      mem.addData(("k", 1000000L, 1L), ("k", 5000000L, 2L))
      q2.processAllAvailable()
      mem.addData(("k", 20000000L, 3L)) // 15 s after batch-1's last
      q2.processAllAvailable()
      val rows = spark.sql(
          "SELECT prev_ts_us, ts_us, gap_sec FROM gap_split").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(rows == Set((5000000L, 20000000L, 15L)))
    } finally q2.stop()
  }

  test("streaming croston equals the batch operator at each key's final bucket") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val evs = Seq(("k", 1L, 0.0), ("k", 2L, 2.0), ("k", 3L, 0.0),
      ("k", 4L, 0.0), ("k", 5L, 3.0), ("k", 6L, 0.0),
      ("z", 1L, 0.0), ("z", 2L, 5.0))
    def run(data: Seq[Seq[(String, Long, Double)]], name: String) = {
      val mem = MemoryStream[(String, Long, Double)]
      val q = EventStream.streamingCroston(spark,
          mem.toDF().toDF("k", "b", "d"), "k", "b", "d",
          alpha = 0.5, window = 6)
        .writeStream.outputMode(OutputMode.Update())
        .format("memory").queryName(name).start()
      try {
        data.foreach { x => mem.addData(x: _*); q.processAllAvailable() }
        // Update mode re-emits per batch: max n_buckets per key is final
        spark.sql(s"""SELECT key, n_buckets, n_demands, z_hat, p_hat,
            forecast FROM $name""").collect()
          .groupBy(_.getString(0))
          .map { case (k, rows) => k -> rows.maxBy(_.getLong(1)) }
      } finally q.stop()
    }
    val whole = run(Seq(evs), "cr_one")
    val split = run(Seq(evs.take(3), evs.slice(3, 7), evs.drop(7)), "cr_three")
    val batch = graft.ops.Temporal.croston(evs.toDF("k", "b", "d"),
        Seq("k"), "b", "d", alpha = 0.5, window = 6, idCols = Seq("b"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r).toMap
    for ((k, fin) <- Seq("k" -> 6L, "z" -> 2L)) {
      val b = batch((k, fin))
      for (got <- Seq(whole(k), split(k))) {
        assert(got.getLong(2) == b.getAs[Long]("n_demands"), s"$k demands")
        assert(got.getDouble(3) == b.getAs[Double]("z_hat"), s"$k z")
        assert(got.getDouble(4) == b.getAs[Double]("p_hat"), s"$k p")
        assert(got.getDouble(5) == b.getAs[Double]("forecast"), s"$k f")
      }
    }
    // hand values: k sees demands 2@2, 3@5 -> z = p = 2.5, forecast 1
    assert(whole("k").getDouble(3) == 2.5 && whole("k").getDouble(4) == 2.5)
    assert(whole("z").getDouble(5) == 2.5) // z: one demand 5 at bucket 2

    // Syntetos–Boylan twin: same folds, forecast scaled by (1 − α/2)
    // in the batch operator's exact op order — parity stays bit-for-bit
    val memS = MemoryStream[(String, Long, Double)]
    val qS = EventStream.streamingCroston(spark,
        memS.toDF().toDF("k", "b", "d"), "k", "b", "d",
        alpha = 0.5, window = 6, sba = true)
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("cr_sba").start()
    val sbaGot = try {
      memS.addData(evs: _*); qS.processAllAvailable()
      spark.sql("""SELECT key, n_buckets, forecast FROM cr_sba""").collect()
        .groupBy(_.getString(0))
        .map { case (k, rows) => k -> rows.maxBy(_.getLong(1)) }
    } finally qS.stop()
    val sbaBatch = graft.ops.Temporal.croston(evs.toDF("k", "b", "d"),
        Seq("k"), "b", "d", alpha = 0.5, window = 6, idCols = Seq("b"),
        sba = true)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r).toMap
    for ((k, fin) <- Seq("k" -> 6L, "z" -> 2L))
      assert(sbaGot(k).getDouble(2) ==
        sbaBatch((k, fin)).getAs[Double]("forecast"), s"$k sba forecast")
    assert(sbaGot("k").getDouble(2) == 0.75) // 0.75 * 2.5 / 2.5
  }

  test("streaming attribution equals the batch operator across all credit models") {
    import org.apache.spark.sql.functions._
    val lb = Some(12 * 3600L); val hl = Some(3600L)
    val out = EventStream.streamingAttribution(spark,
      EventStream.readEvents(spark, streamDir),
      "user_id", "ts", "event_type", "purchase", "event_type", "event_id",
      lookbackSec = lb, halfLifeSec = hl)
    val q = out.writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("attr_stream").start()
    try {
      q.processAllAvailable()
      def toMap(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
        (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3),
          r.getLong(4)) -> ((r.getLong(5), r.getLong(6), r.getDouble(7),
          r.getDouble(8), r.getDouble(9), r.getDouble(10),
          r.getDouble(11)))).toMap
      val got = toMap(spark.sql(
        """SELECT key, conv_ts_us, channel, touch_ts_us, event_id,
          touch_rank, n_touches, credit_first, credit_last, credit_linear,
          credit_position, credit_time_decay FROM attr_stream""").collect())
      val batch = toMap(graft.ops.Temporal.attribution(
          graft.core.Tables.load(spark, sf, "events"),
          Seq("user_id"), "ts", "event_type", conversionType = "purchase",
          channelCol = "event_type", tiebreakCol = "event_id",
          lookbackSec = lb, halfLifeSec = hl)
        .select(col("user_id").cast("string"), unix_micros(col("conv_ts")),
          col("event_type"), unix_micros(col("touch_ts")), col("event_id"),
          col("touch_rank"), col("n_touches"), col("credit_first"),
          col("credit_last"), col("credit_linear"), col("credit_position"),
          col("credit_time_decay")).collect())
      assert(got.keySet == batch.keySet && got.nonEmpty,
        s"key sets differ: ${(got.keySet -- batch.keySet).take(3)} vs " +
          s"${(batch.keySet -- got.keySet).take(3)}")
      got.foreach { case (k, (rk, n, cf, cl, clin, cpos, cdec)) =>
        val (brk, bn, bcf, bcl, bclin, bcpos, bcdec) = batch(k)
        assert(rk == brk && n == bn && cf == bcf && cl == bcl, s"$k")
        // same arithmetic, same fold order; the two 6-dp rounders can
        // disagree only exactly ON a tie
        assert(math.abs(clin - bclin) <= 1e-6 &&
          math.abs(cpos - bcpos) <= 1e-6 &&
          math.abs(cdec - bcdec) <= 1e-6, s"$k: ($clin,$cpos,$cdec)")
      }
    } finally q.stop()
  }

  test("streaming attribution: split batches equal one batch; same-instant and lookback rules hold") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // A@1s B@2s conv@2s (same-instant B credits it) | C@3s D@8s
    // conv@10s lookback 5s (C expired, D kept) | E@11s stays pending.
    // The null-typed event at 1.5s must be DROPPED (batch ===/=!= are
    // null-unsafe on both sides) — if it leaked into the touch branch
    // it would credit conv@2s as a null channel and break the set below
    val evs = Seq(
      ("k", 1000000L, "A", 1L), ("k", 1500000L, null: String, 8L),
      ("k", 2000000L, "B", 2L),
      ("k", 2000000L, "P", 3L), ("k", 3000000L, "C", 4L),
      ("k", 8000000L, "D", 5L), ("k", 10000000L, "P", 6L),
      ("k", 11000000L, "E", 7L))
    def run(data: Seq[Seq[(String, Long, String, Long)]], name: String) = {
      val mem = MemoryStream[(String, Long, String, Long)]
      val df = mem.toDF().toDF("k", "ts_us", "typ", "event_id")
        .select(col("k"), expr("timestamp_micros(ts_us)").as("ts"),
          col("typ"), col("event_id"))
      val q = EventStream.streamingAttribution(spark, df,
          "k", "ts", "typ", "P", "typ", "event_id",
          lookbackSec = Some(5L))
        .writeStream.outputMode(OutputMode.Update())
        .format("memory").queryName(name).start()
      try {
        data.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
        spark.sql(s"SELECT channel, conv_ts_us, touch_rank, n_touches, " +
            s"credit_first, credit_last FROM $name")
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
            r.getLong(3), r.getDouble(4), r.getDouble(5))).toSet
      } finally q.stop()
    }
    val whole = run(Seq(evs), "attr_one")
    val split = run(Seq(evs.take(3), evs.slice(3, 5), evs.drop(5)),
      "attr_three")
    assert(whole == split)
    assert(whole == Set(
      ("A", 2000000L, 1L, 2L, 1.0, 0.0),
      ("B", 2000000L, 2L, 2L, 0.0, 1.0),  // same-instant touch credits
      ("D", 10000000L, 1L, 1L, 1.0, 1.0))) // C expired by lookback; E pending
  }
}
