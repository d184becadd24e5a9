package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.queries.Registry

/** Stream == batch equivalence on the same files, and exactly-once file
  * tracking across restarts (the reference's used_input_files semantics,
  * tanimoto.py:17-68, re-expressed as the file-source checkpoint).
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmpDir(prefix: String): Path =
    Files.createTempDirectory(prefix)

  /** Stage the sf dir's events into a stream input dir in the canonical
    * staged shape (ts µs-NTZ — a plain file copy for current fixtures,
    * a one-time rewrite for any other stored era).
    */
  private def stageEvents(dir: Path, from: String = TestSpark.Sf0001): Unit =
    Files.copy(Paths.get(EventsStream.canonicalEventsFile(spark, from)),
      dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)

  test("streaming tumbling-window agg equals the oracle-checked batch query e1") {
    val in = tmpDir("stream_in"); stageEvents(in)
    val ckpt = tmpDir("stream_ckpt")
    EventsStream.drainToMemory(
      EventsStream.tumblingAgg(EventsStream.readEvents(spark, in.toString)),
      "t_tumbling", ckpt.toString)
    val streamed = spark.table("t_tumbling")
      .orderBy("win_start", "event_type")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val batch = Registry.queries("e1_tumbling_window")(spark, TestSpark.Sf0001)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(streamed.toSeq == batch.toSeq)
  }

  test("streaming session windows equal the batch lag+running-sum sessionization e3") {
    val in = tmpDir("sess_in"); stageEvents(in)
    val ckpt = tmpDir("sess_ckpt")
    EventsStream.drainToMemory(
      EventsStream.sessionAgg(EventsStream.readEvents(spark, in.toString)),
      "t_sessions", ckpt.toString)
    val streamed = spark.table("t_sessions")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val batch = Registry.queries("e3_session_window")(spark, TestSpark.Sf0001)
      .select(col("user_id"), col("session_start"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch)
  }

  test("mapGroupsWithState running totals equal batch groupBy on drain") {
    val in = tmpDir("state_in"); stageEvents(in)
    val ckpt = tmpDir("state_ckpt")
    EventsStream.drainToMemory(
      EventsStream.runningUserTotals(spark,
        EventsStream.readEvents(spark, in.toString)),
      "t_totals", ckpt.toString, OutputMode.Update())
    // Update-mode memory sink may hold one row per state update; the
    // LAST row per user is the final state.
    val streamed = spark.table("t_totals")
      .groupBy("user_id").agg(max("n").as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.Tables.events(spark, TestSpark.Sf0001)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch)
  }

  test("flatMapGroupsWithState sessions survive micro-batch boundaries (multi-batch == single-batch)") {
    val in = tmpDir("fmgs_in"); val out = tmpDir("fmgs_out")
    val ckpt = tmpDir("fmgs_ckpt")
    // time-ordered arrival in three files + a sentinel, processed ONE
    // file per micro-batch: open sessions must park in state between
    // batches, merge with later arrivals, and emit via EventTimeTimeout
    // — the cross-batch path a single-batch drain never exercises
    val raw = graft.Tables.events(spark, TestSpark.Sf0001)
      .withColumn("us", unix_micros(col("ts")))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("event_id"),
        col("ts").cast(org.apache.spark.sql.types.TimestampNTZType).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
    val Array(q1, q2) = raw.stat.approxQuantile("us", Array(0.33, 0.66), 0.0)
    val slices = Seq(
      canon(raw.filter(col("us") <= q1.toLong)),
      canon(raw.filter(col("us") > q1.toLong && col("us") <= q2.toLong)),
      canon(raw.filter(col("us") > q2.toLong)))
    val maxUs = raw.agg(max("us")).head().getLong(0)
    import spark.implicits._
    val sentinel = Seq((-1L, maxUs + 4L * 3600L * 1000000L, -999L,
      "zz_sentinel", 0.0, ""))
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .select(col("event_id"),
        timestamp_micros(col("us"))
          .cast(org.apache.spark.sql.types.TimestampNTZType).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
    (slices :+ sentinel).zipWithIndex.foreach { case (df, i) =>
      val stage = tmpDir(s"fmgs_stage$i")
      df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = stage.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = in.resolve(f"part$i%02d.parquet")
      Files.copy(part.toPath, dst, StandardCopyOption.REPLACE_EXISTING)
      // deterministic per-batch arrival order for the file source
      dst.toFile.setLastModified(1000000L + i * 60000L)
    }
    val sess = EventsStream.sessionizeCustom(spark,
      EventsStream.readEvents(spark, in.toString, maxFilesPerTrigger = Some(1)))
    EventsStream.drainToParquet(sess, out.toString, ckpt.toString)
    val multi = spark.read.parquet(out.toString)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val single = Registry.queries("st7_custom_state_session")(spark, TestSpark.Sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(multi == single)
  }

  test("I3: foreachBatch upsert dedups redelivered rows (exactly-once fact)") {
    val in = tmpDir("ups_in"); val sink = tmpDir("ups_sink")
    stageEvents(in)
    val read = () => EventsStream.readEvents(spark, in.toString)
      .select("event_id", "event_type", "value")

    EventsStream.drainUpsert(read(), Seq("event_id"),
      sink.toString, tmpDir("ups_ckpt1").toString)
    val n1 = spark.read.parquet(sink.toString).count()
    assert(n1 == graft.Tables.events(spark, TestSpark.Sf0001).count())

    // the same file redelivered under a NEW name: the file source (fresh
    // checkpoint) reprocesses it, but the upsert anti-join drops every row
    Files.copy(Paths.get(EventsStream.canonicalEventsFile(spark, TestSpark.Sf0001)),
      in.resolve("events_redelivered.parquet"))
    EventsStream.drainUpsert(read(), Seq("event_id"),
      sink.toString, tmpDir("ups_ckpt2").toString)
    assert(spark.read.parquet(sink.toString).count() == n1)
  }

  test("I1: checkpoint makes file ingestion exactly-once across restarts") {
    val in = tmpDir("inc_in"); val ckpt = tmpDir("inc_ckpt")
    val sink = tmpDir("inc_sink")
    stageEvents(in)
    val passthrough = (d: String) =>
      EventsStream.readEvents(spark, d).select("event_id")
    def sinkCount(): Long = spark.read.parquet(sink.toString).count()

    EventsStream.drainToParquet(passthrough(in.toString), sink.toString, ckpt.toString)
    val n1 = sinkCount()
    val expected1 = graft.Tables.events(spark, TestSpark.Sf0001).count()
    assert(n1 == expected1)

    // Restart with the same checkpoint, no new files: nothing reprocessed.
    EventsStream.drainToParquet(passthrough(in.toString), sink.toString, ckpt.toString)
    assert(sinkCount() == n1)

    // A new file arrives: only its rows are appended.
    Files.copy(Paths.get(EventsStream.canonicalEventsFile(spark, TestSpark.Sf001)),
      in.resolve("events2.parquet"))
    EventsStream.drainToParquet(passthrough(in.toString), sink.toString, ckpt.toString)
    val expected2 = graft.Tables.events(spark, TestSpark.Sf001).count()
    assert(sinkCount() == n1 + expected2)
  }

  test("streaming dedup drops within-watermark redeliveries, once per event") {
    import scala.jdk.CollectionConverters._
    val in = tmpDir("dedup_in"); stageEvents(in)
    // redeliver a subset of the same events under a new file name
    val raw = spark.read.schema(EventsStream.rawSchema)
      .parquet(s"$in/events.parquet")
    val resend = tmpDir("dedup_resend")
    raw.filter(col("event_id") % 7 === 0).coalesce(1)
      .write.mode("overwrite").parquet(resend.toString)
    val part = Files.list(resend).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.copy(part, in.resolve("redelivered.parquet"))
    val ckpt = tmpDir("dedup_ckpt")
    EventsStream.drainToMemory(
      EventsStream.dedupStream(EventsStream.readEvents(spark, in.toString)),
      "t_dedup", ckpt.toString, OutputMode.Append())
    val ids = spark.table("t_dedup").select("event_id")
      .collect().map(_.getLong(0))
    assert(ids.length.toLong == raw.count()) // every event exactly once
    assert(ids.distinct.length == ids.length) // no duplicate survived
  }

  test("streaming KMV state equals the batch sketch state — and redelivery cannot move it") {
    // st8 runs with the events file delivered TWICE; the batch twin
    // sees it once. Equality of (n_kept, hk-derived estimate) proves
    // both stream==batch and duplicate-insensitivity in one assertion.
    val streamed = Registry.queries("st8_streaming_kmv")(
      spark, TestSpark.Sf0001)
      .select("grp", "n_kept", "est_distinct")
    val batch = graft.queries.Sketches.kmvState(
      graft.Tables.events(spark, TestSpark.Sf0001)
        .select(col("event_type").as("grp"), col("user_id").as("key")))
      .groupBy("grp").agg(count(lit(1)).as("n_kept"),
        max(when(col("rn") === graft.queries.Sketches.K, col("h"))).as("hk"))
      .select(col("grp"), col("n_kept"),
        round(when(col("n_kept") < graft.queries.Sketches.K,
          col("n_kept").cast("double"))
          .otherwise(lit((graft.queries.Sketches.K - 1).toDouble)
            * pow(lit(2.0), 60) / col("hk").cast("double")), 3)
          .as("est_distinct"))
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
    assert(streamed.count() > 0)
  }
  test("transformWithState totals == legacy mapGroupsWithState, single- and multi-batch") {
    import org.apache.spark.sql.functions.{max, struct}
    // single-batch v2 drain
    val in1 = tmpDir("tws_in1"); stageEvents(in1)
    EventsStream.withRocksDb(spark) {
      EventsStream.drainToMemory(
        EventsStream.runningUserTotalsTws(spark,
          EventsStream.readEvents(spark, in1.toString)),
        "t_tws_single", tmpDir("tws_ck1").toString, OutputMode.Update())
    }
    // multi-batch v2: three DISJOINT event_id slices, one file per
    // micro-batch — per-user state must carry across batches
    val in2 = tmpDir("tws_in2")
    val raw = graft.Tables.events(spark, TestSpark.Sf0001)
    (0 to 2).foreach { k =>
      val stage = tmpDir(s"tws_stage$k")
      raw.filter(col("event_id") % 3 === k)
        .select(col("event_id"),
          col("ts").cast(org.apache.spark.sql.types.TimestampNTZType).as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = stage.toFile.listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, in2.resolve(f"part$k%02d.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    EventsStream.withRocksDb(spark) {
      EventsStream.drainToMemory(
        EventsStream.runningUserTotalsTws(spark,
          EventsStream.readEvents(spark, in2.toString,
            maxFilesPerTrigger = Some(1))),
        "t_tws_multi", tmpDir("tws_ck2").toString, OutputMode.Update())
    }
    def finalState(table: String): Map[Long, (Long, Double)] =
      spark.table(table).groupBy("user_id")
        .agg(max(struct(col("n"), col("total"))).as("m"))
        .collect()
        .map(r => {
          val m = r.getStruct(1)
          (r.getLong(0), (m.getLong(0), m.getDouble(1)))
        }).toMap
    val single = finalState("t_tws_single")
    val multi = finalState("t_tws_multi")
    assert(single == multi, "v2 state diverges across micro-batch splits")
    // legacy API on the same file: counts must match exactly; legacy
    // totals accumulate doubles (order-dependent last-ulp), so compare
    // within tolerance rather than bitwise
    val in3 = tmpDir("tws_in3"); stageEvents(in3)
    EventsStream.drainToMemory(
      EventsStream.runningUserTotals(spark,
        EventsStream.readEvents(spark, in3.toString)),
      "t_tws_legacy", tmpDir("tws_ck3").toString, OutputMode.Update())
    val legacy = finalState("t_tws_legacy")
    assert(legacy.keySet == single.keySet)
    legacy.foreach { case (u, (n, t)) =>
      assert(single(u)._1 == n, s"user $u count differs")
      assert(math.abs(single(u)._2 - t) < 1e-6, s"user $u total differs")
    }
    assert(single.nonEmpty)
  }

  test("RocksDB state store backend reproduces the default provider's results exactly") {
    // On a cluster the state store is RocksDB (bounded executor memory,
    // incremental checkpointing) — the HDFS-backed default used
    // everywhere else in this suite is the local-mode convenience. The
    // backend must be a pure implementation detail: the same chained
    // dedup -> windowed-agg drain under the RocksDB provider has to
    // produce byte-identical results.
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    def drain(tag: String): Seq[(String, String, Long, Double)] = {
      val in = tmpDir(s"rocks_in_$tag"); stageEvents(in)
      val ckpt = tmpDir(s"rocks_ckpt_$tag")
      EventsStream.drainToMemory(
        EventsStream.tumblingAggOn(EventsStream.dedupStream(
          EventsStream.readEvents(spark, in.toString))),
        s"t_rocks_$tag", ckpt.toString, OutputMode.Append())
      spark.table(s"t_rocks_$tag").orderBy("win_start", "event_type")
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSeq
    }
    val default = drain("default")
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val rocks = drain("rocksdb")
      assert(rocks == default,
        s"RocksDB backend diverged: ${rocks.size} vs ${default.size} rows")
      assert(rocks.nonEmpty)
    } finally prev match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None    => spark.conf.unset(providerKey)
    }
  }

  /** Drop a watermark-advance sentinel (user_id −999, `hoursPast` hours
    * after the fixture's max event time) into a stream input dir.
    */
  private def stageSentinel(dir: Path, hoursPast: Long = 4,
      name: String = "z_sentinel.parquet"): Unit = {
    import spark.implicits._
    val maxUs = graft.Tables.events(spark, TestSpark.Sf0001)
      .agg(max(unix_micros(col("ts")))).head().getLong(0)
    val stage = tmpDir("sent_stage")
    Seq((-1L, maxUs + hoursPast * 3600L * 1000000L, -999L, "zz_sentinel", 0.0, ""))
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .select(col("event_id"),
        timestamp_micros(col("us"))
          .cast(org.apache.spark.sql.types.TimestampNTZType).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val f = stage.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.copy(f.toPath, dir.resolve(name), StandardCopyOption.REPLACE_EXISTING)
  }

  test("st13 timers: cross-batch eviction matches batch recomputation, and evicted keys never re-emit") {
    val in = tmpDir("t13_in"); stageEvents(in); stageSentinel(in)
    val ck = tmpDir("t13_ck")
    val out = tmpDir("t13_out")
    // maxFilesPerTrigger=1 forces the cross-batch path: events in batch
    // 0, sentinel in batch 1 (some timers fire mid-stream at the
    // pre-sentinel watermark), remaining timers in the final no-data
    // batch — eviction and timer re-arm both cross real batch seams.
    // Parquet sink (not memory): the second drain must RESUME the same
    // checkpoint, which the memory sink refuses.
    def drain(): Long = {
      EventsStream.withRocksDb(spark) {
        EventsStream.drainToParquet(
          EventsStream.inactivityReportTws(spark,
            EventsStream.readEvents(spark, in.toString,
              maxFilesPerTrigger = Some(1))),
          out.toString, ck.toString)
      }
      spark.read.parquet(out.toString).count()
    }
    val n1 = drain()
    val streamed = spark.read.parquet(out.toString)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    // independent batch recomputation of the eviction report
    val ev = graft.Tables.events(spark, TestSpark.Sf0001)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
    val agg = ev.groupBy("user_id")
      .agg(count(lit(1)).as("n"), countDistinct("event_type").as("n_types"))
    val expect = ev
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 5)
      .join(agg, "user_id")
      .select("user_id", "rk", "event_id", "n", "n_types")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(streamed == expect, s"report diverges: ${streamed.size} vs ${expect.size}")
    assert(n1 > 0)
    // resume the SAME checkpoint with only an even-later sentinel: every
    // key was evicted and cleared, so nothing may re-emit
    stageSentinel(in, hoursPast = 8, name = "z_sentinel2.parquet")
    val n2 = drain()
    assert(n2 == n1, s"evicted keys re-emitted ${n2 - n1} rows")
  }

  test("st15 near-dup pairs are micro-batch-slicing invariant and redelivery-stable") {
    def stageDocsSlice(dir: Path, name: String, pred: org.apache.spark.sql.Column): Unit = {
      val stage = tmpDir("t15_stage")
      graft.Tables.documents(spark, TestSpark.Sf0001).filter(pred)
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val f = stage.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.copy(f.toPath, dir.resolve(name), StandardCopyOption.REPLACE_EXISTING)
    }
    def drain(in: Path, tag: String, ck: Path, maxFiles: Option[Int]): Set[(Long, Long)] = {
      EventsStream.withRocksDb(spark) {
        EventsStream.drainToMemory(
          DocsStream.nearDupPairs(spark,
            DocsStream.readDocs(spark, in.toString, maxFiles)),
          s"t15_$tag", ck.toString, OutputMode.Update())
      }
      spark.table(s"t15_$tag").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    // single batch: the whole corpus in one file
    val in1 = tmpDir("t15_in1")
    stageDocsSlice(in1, "a.parquet", lit(true))
    val single = drain(in1, "single", tmpDir("t15_ck1"), None)
    assert(single.nonEmpty)
    // multi batch: three disjoint slices, one file per micro-batch —
    // bucket state must carry pairs across the seams
    val in2 = tmpDir("t15_in2")
    (0 to 2).foreach { k =>
      stageDocsSlice(in2, f"part$k%02d.parquet", col("doc_id") % 3 === k)
    }
    val multi = drain(in2, "multi", tmpDir("t15_ck2"), Some(1))
    assert(multi == single,
      s"pair set diverges across slicings: ${multi.size} vs ${single.size}")
    // redelivery: the whole corpus delivered TWICE (a.parquet +
    // b.parquet) — re-seen doc ids overwrite their own state entry,
    // never self-pair, and may re-emit known pairs, but the distinct
    // pair set cannot move
    stageDocsSlice(in1, "b.parquet", lit(true))
    val redelivered = drain(in1, "redel", tmpDir("t15_ck1b"), None)
    assert(redelivered == single, "redelivery moved the pair set")
  }

  test("st16 quality-gate totals: slicing invariant and equal to the " +
    "batch classifier rollup") {
    def stageDocsSlice(dir: Path, name: String,
        pred: org.apache.spark.sql.Column): Unit = {
      val stage = tmpDir("t16_stage")
      graft.Tables.documents(spark, TestSpark.Sf0001).filter(pred)
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val f = stage.toFile.listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(f.toPath, dir.resolve(name),
        StandardCopyOption.REPLACE_EXISTING)
    }
    def gate(in: Path, tag: String, ck: Path,
        maxFiles: Option[Int]): Set[(String, Long, Long, Long)] = {
      EventsStream.drainToMemory(
        DocsStream.qualityGateTotals(
          DocsStream.readDocs(spark, in.toString, maxFiles)),
        s"t16_$tag", ck.toString)
      spark.table(s"t16_$tag").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
    }
    val in1 = tmpDir("t16_in1")
    stageDocsSlice(in1, "a.parquet", org.apache.spark.sql.functions.lit(true))
    val single = gate(in1, "single", tmpDir("t16_ck1"), None)
    assert(single.nonEmpty)
    // three disjoint slices, one file per micro-batch: the streaming
    // aggregate's state must fold identically across the seams
    val in2 = tmpDir("t16_in2")
    (0 to 2).foreach { k =>
      stageDocsSlice(in2, f"part$k%02d.parquet",
        org.apache.spark.sql.functions.col("doc_id") % 3 === k)
    }
    val multi = gate(in2, "multi", tmpDir("t16_ck2"), Some(1))
    assert(multi == single, "totals diverge across slicings")
    // stream == batch: the same totals from the registered batch
    // classifier joined back to its documents
    import org.apache.spark.sql.functions._
    val batch = graft.queries.TextAnalysis.classifierScored(spark, TestSpark.Sf0001)
      .join(graft.Tables.documents(spark, TestSpark.Sf0001)
        .select("doc_id", "source"), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum((col("score") >= 0.5).cast("long")).as("n_kept"),
        sum(expr("CAST(round(score * 10000, 0) AS BIGINT)")).as("sx4"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(single == batch, "stream totals diverge from the batch rollup")
  }

  test("st14 TTL: state survives a restart inside the TTL and really expires past it") {
    // tiny fixture (3 users) so batch time is far below the short TTL
    def stageSmall(dir: Path, name: String): Unit = {
      val stage = tmpDir("t14_stage")
      graft.Tables.events(spark, TestSpark.Sf0001)
        .filter(col("user_id") < 3)
        .select(col("event_id"),
          col("ts").cast(org.apache.spark.sql.types.TimestampNTZType).as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val f = stage.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.copy(f.toPath, dir.resolve(name), StandardCopyOption.REPLACE_EXISTING)
    }
    val fileCounts = graft.Tables.events(spark, TestSpark.Sf0001)
      .filter(col("user_id") < 3)
      .groupBy("user_id", "event_type").count()
      .collect().map(r => ((r.getLong(0), r.getString(1)), r.getLong(2))).toMap
    assert(fileCounts.nonEmpty)
    // foreachBatch parquet-append sink: recoverable from the checkpoint
    // (the restart is the whole point here). The sink ACCUMULATES both
    // runs' update rows, so "max n per key" distinguishes the outcomes:
    // fileCounts if the redelivery counted from zero, 2× if state
    // survived.
    def drain(in: Path, out: Path, ttl: java.time.Duration, ck: Path)
        : Map[(Long, String), Long] = {
      EventsStream.withRocksDb(spark) {
        EventsStream.drainAppendParquetAndStop(
          EventsStream.ttlUserTypeCounts(spark,
            EventsStream.readEvents(spark, in.toString), ttl),
          out.toString, ck.toString, OutputMode.Update())
      }
      spark.read.parquet(out.toString).groupBy("user_id", "event_type")
        .agg(max("n").as("n"))
        .collect().map(r => ((r.getLong(0), r.getString(1)), r.getLong(2))).toMap
    }
    // control: TTL far beyond the run — state SURVIVES the stop/restart
    // (RocksDB checkpoint), so a redelivered copy doubles every count
    val inL = tmpDir("t14_in_l"); stageSmall(inL, "a.parquet")
    val ckL = tmpDir("t14_ck_l"); val outL = tmpDir("t14_out_l")
    assert(drain(inL, outL, java.time.Duration.ofHours(1), ckL) == fileCounts)
    stageSmall(inL, "b.parquet")
    assert(drain(inL, outL, java.time.Duration.ofHours(1), ckL) ==
      fileCounts.map { case (k, v) => k -> 2 * v },
      "long-TTL state did not survive the restart")
    // expiry: short TTL + a real clock wait — the same redelivery now
    // counts from zero because the state is GONE
    val inS = tmpDir("t14_in_s"); stageSmall(inS, "a.parquet")
    val ckS = tmpDir("t14_ck_s"); val outS = tmpDir("t14_out_s")
    assert(drain(inS, outS, java.time.Duration.ofSeconds(2), ckS) == fileCounts)
    Thread.sleep(6000)
    stageSmall(inS, "b.parquet")
    assert(drain(inS, outS, java.time.Duration.ofSeconds(2), ckS) == fileCounts,
      "short-TTL state outlived its TTL across the restart")
  }

  test("st17 appendBatch: same-tag replay replaces its own partitions and " +
    "leaves other tags' files byte-identical (mid-batch crash redelivery)") {
    val root = graft.Scratch.dir("stann_replay")
    try {
      val emb = graft.Tables.embeddings(spark, TestSpark.Sf001)
        .select(col("vec_id"), col("embedding"),
          expr("norm_f(embedding)").as("nrm"))
      graft.queries.SimilaritySearch.kmeansCents(emb)
        .write.mode("overwrite").parquet(s"$root/cent")
      val cands = emb.filter(col("vec_id") >= 10)
      graft.queries.AnnIndex.appendBatch(spark,
        cands.filter(col("vec_id") % 2 === 0), root, "b0")
      graft.queries.AnnIndex.appendBatch(spark,
        cands.filter(col("vec_id") % 2 === 1), root, "b1")
      def fileCensus(tag: String): Map[String, Long] = {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
        walk(new java.io.File(s"$root/vec/ingest=$tag"))
          .filter(_.getName.endsWith(".parquet"))
          .map(f => f.getPath -> f.lastModified()).toMap
      }
      val b0Before = fileCensus("b0")
      def serve() = graft.queries.AnnIndex.query(spark,
        emb.filter(col("vec_id") < 10), root, topK = 5, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getLong(3))).toSeq
      val before = serve()
      // the mid-batch-crash scenario: b1 is delivered AGAIN (same tag,
      // same content) — dynamic overwrite must replace, not duplicate
      graft.queries.AnnIndex.appendBatch(spark,
        cands.filter(col("vec_id") % 2 === 1), root, "b1")
      assert(serve() == before, "same-tag replay changed the served results")
      assert(fileCensus("b0") == b0Before,
        "replaying b1 touched b0's partitions")
      // and the index really holds exactly one copy of every candidate
      val n = spark.read.parquet(s"$root/vec").count()
      assert(n == cands.count(), s"index holds $n rows, want ${cands.count()}")
    } finally graft.Scratch.delete(root)
  }


  test("st18 TextIndex.appendBatch: same-tag replay replaces its own " +
    "partitions (postings AND stats), and streamed serve == batch build") {
    val root = graft.Scratch.dir("stbm25_replay")
    try {
      val docs = graft.Tables.documents(spark, TestSpark.Sf001)
        .select("doc_id", "text")
      graft.queries.TextIndex.appendBatch(spark,
        docs.filter(col("doc_id") % 2 === 0), root, "b0")
      graft.queries.TextIndex.appendBatch(spark,
        docs.filter(col("doc_id") % 2 === 1), root, "b1")
      def serve() = graft.queries.TextIndex.queryStreamed(spark, root, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
        .toSeq
      val before = serve()
      val statsBefore = spark.read.parquet(s"$root/statsp")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .sortBy(_._3).toSeq
      // mid-batch-crash redelivery: b1 arrives again with the same tag
      graft.queries.TextIndex.appendBatch(spark,
        docs.filter(col("doc_id") % 2 === 1), root, "b1")
      assert(serve() == before, "same-tag replay changed the served top-k")
      val statsAfter = spark.read.parquet(s"$root/statsp")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .sortBy(_._3).toSeq
      assert(statsAfter == statsBefore,
        "replay double-folded the per-ingest stats")
      // streamed maintenance is indistinguishable from a batch build
      val batchRoot = graft.Scratch.dir("stbm25_batch")
      try {
        graft.queries.TextIndex.build(spark, docs, batchRoot)
        val batch = graft.queries.TextIndex.query(spark, batchRoot, 10)
          .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
          .toSeq
        assert(before == batch, "streamed index serves differently from batch")
      } finally graft.Scratch.delete(batchRoot)
    } finally graft.Scratch.delete(root)
  }

  test("st21 KnnGraphIndex: crash-redelivered update recomputes from the " +
    "same parent (facts and edges row-stable), and the chained head " +
    "equals the from-scratch graph") {
    val root = graft.Scratch.dir("stknng_replay")
    try {
      val emb = graft.Tables.embeddings(spark, TestSpark.Sf0001)
        .select("vec_id", "embedding")
      graft.queries.KnnGraphIndex.bootstrap(spark,
        emb.filter(col("vec_id") % 3 === 0), root, "boot", s"$root/v0")
      def edgeRows(dir: String): Seq[(Long, Long, Long, Double)] =
        spark.read.parquet(dir).collect()
          .map(r => (r.getAs[Long]("src"), r.getAs[Long]("rk"),
            r.getAs[Long]("dst"), r.getAs[Double]("cos")))
          .sortBy(t => (t._1, t._2)).toSeq
      graft.queries.KnnGraphIndex.update(spark,
        emb.filter(col("vec_id") % 3 === 1), root, "b1",
        s"$root/v0", s"$root/b1")
      val b1Once = edgeRows(s"$root/b1")
      graft.queries.KnnGraphIndex.update(spark,
        emb.filter(col("vec_id") % 3 === 2), root, "b2",
        s"$root/b1", s"$root/b2")
      val headOnce = edgeRows(s"$root/b2")
      val factsOnce = (spark.read.parquet(s"$root/vec").count(),
        spark.read.parquet(s"$root/post").count())
      // mid-batch-crash redelivery: b1 arrives again — same parent v0,
      // tagged facts replace their own partitions, edges overwrite
      graft.queries.KnnGraphIndex.update(spark,
        emb.filter(col("vec_id") % 3 === 1), root, "b1",
        s"$root/v0", s"$root/b1")
      assert(edgeRows(s"$root/b1") == b1Once,
        "replaying b1 changed its own edge version")
      assert((spark.read.parquet(s"$root/vec").count(),
        spark.read.parquet(s"$root/post").count()) == factsOnce,
        "replaying b1 duplicated vec/post facts")
      assert(edgeRows(s"$root/b2") == headOnce,
        "replaying b1 perturbed the downstream head")
      // incremental == from-scratch: the chained head is row-for-row
      // a one-shot bootstrap's graph over the full corpus at the same
      // pinned family (banding is per-vector deterministic + top-k
      // folds associatively)
      val scratchRoot = graft.Scratch.dir("stknng_scratch")
      try {
        graft.queries.KnnGraphIndex.bootstrap(spark, emb, scratchRoot,
          "all", s"$scratchRoot/v0")
        assert(headOnce == edgeRows(s"$scratchRoot/v0"),
          "streamed graph diverged from the from-scratch build")
      } finally graft.Scratch.delete(scratchRoot)
    } finally graft.Scratch.delete(root)
  }

  test("st21 KnnGraphIndex: a vec_id redelivered in a LATER batch is " +
    "dropped (first arrival wins) — facts stay single-rowed, every " +
    "neighbor list keeps contiguous ranks, and the head equals the " +
    "from-scratch graph over the distinct corpus") {
    val root = graft.Scratch.dir("stknng_xbatch")
    try {
      val emb = graft.Tables.embeddings(spark, TestSpark.Sf0001)
        .select("vec_id", "embedding")
      graft.queries.KnnGraphIndex.bootstrap(spark,
        emb.filter(col("vec_id") % 3 === 0), root, "boot", s"$root/v0")
      graft.queries.KnnGraphIndex.update(spark,
        emb.filter(col("vec_id") % 3 === 1), root, "b1",
        s"$root/v0", s"$root/b1")
      // b2 carries its own third PLUS a duplicate slice of b1's ids —
      // the cross-batch at-least-once scenario the same-tag replay
      // guard does not cover
      graft.queries.KnnGraphIndex.update(spark,
        emb.filter(col("vec_id") % 3 === 2 || col("vec_id") % 9 === 1),
        root, "b2", s"$root/b1", s"$root/b2")
      val dupFacts = spark.read.parquet(s"$root/vec")
        .groupBy("vec_id").count().filter(col("count") > 1).count()
      assert(dupFacts == 0,
        "a cross-batch duplicate delivery landed the same vec_id under " +
          "two ingest partitions")
      def edgeRows(dir: String): Seq[(Long, Long, Long, Double)] =
        spark.read.parquet(dir).collect()
          .map(r => (r.getAs[Long]("src"), r.getAs[Long]("rk"),
            r.getAs[Long]("dst"), r.getAs[Double]("cos")))
          .sortBy(t => (t._1, t._2)).toSeq
      val head = edgeRows(s"$root/b2")
      head.groupBy(_._1).foreach { case (src, rows) =>
        assert(rows.map(_._2) == (1L to rows.length).toSeq,
          s"node $src's neighbor list has non-contiguous ranks — a " +
            "duplicate occupied a rank slot")
      }
      val scratchRoot = graft.Scratch.dir("stknng_xbatch_scratch")
      try {
        graft.queries.KnnGraphIndex.bootstrap(spark, emb, scratchRoot,
          "all", s"$scratchRoot/v0")
        assert(head == edgeRows(s"$scratchRoot/v0"),
          "duplicate-bearing stream diverged from the from-scratch " +
            "build over the distinct corpus")
      } finally graft.Scratch.delete(scratchRoot)
      // the tag-shape guards: a bootstrap tag that parses as a batch id
      // would be scoped OUT of earlier batches' candidate sets
      val badTagRoot = graft.Scratch.dir("stknng_badtag")
      try intercept[IllegalArgumentException] {
        graft.queries.KnnGraphIndex.bootstrap(spark, emb,
          badTagRoot, "b9", s"$root/unused")
      } finally graft.Scratch.delete(badTagRoot)
    } finally graft.Scratch.delete(root)
  }

  test("st21/VersionChain compaction: superseded edge versions fold " +
    "away — head rows identical, a post-horizon update chains on the " +
    "compacted head and equals the from-scratch graph, its replay is " +
    "unchanged, and pre-horizon replays are rejected") {
    val root = graft.Scratch.dir("stknng_compact")
    try {
      val emb = graft.Tables.embeddings(spark, TestSpark.Sf0001)
        .select("vec_id", "embedding")
      graft.queries.KnnGraphIndex.bootstrap(spark,
        emb.filter(col("vec_id") % 4 === 0), root, "boot", s"$root/v0")
      val chain = graft.queries.StateStore.VersionChain(
        root, "b", "v0", s"$root/v0")
      def edgeRows(dir: String): Seq[(Long, Long, Long, Double)] =
        spark.read.parquet(dir).collect()
          .map(r => (r.getAs[Long]("src"), r.getAs[Long]("rk"),
            r.getAs[Long]("dst"), r.getAs[Double]("cos")))
          .sortBy(t => (t._1, t._2)).toSeq
      graft.queries.KnnGraphIndex.update(spark,
        emb.filter(col("vec_id") % 4 === 1), root, "b1",
        chain.parentPathFor(1), chain.dirFor(1))
      graft.queries.KnnGraphIndex.update(spark,
        emb.filter(col("vec_id") % 4 === 2), root, "b2",
        chain.parentPathFor(2), chain.dirFor(2))
      val headBefore = edgeRows(chain.headPath)
      chain.compact(keepLast = 1) // keeps b2; horizon 2
      assert(chain.versions().toSet == Set("v0", "b2"),
        "compaction must fold exactly the superseded versions")
      assert(edgeRows(chain.headPath) == headBefore,
        "compaction moved or changed the serving head")
      // the edge-list versions are SELF-CONTAINED, so the next batch
      // chains directly on the compacted head
      graft.queries.KnnGraphIndex.update(spark,
        emb.filter(col("vec_id") % 4 === 3), root, "b3",
        chain.parentPathFor(3), chain.dirFor(3))
      val b3Once = edgeRows(chain.dirFor(3))
      // crash-redelivery of the post-horizon batch: same parent, same rows
      graft.queries.KnnGraphIndex.update(spark,
        emb.filter(col("vec_id") % 4 === 3), root, "b3",
        chain.parentPathFor(3), chain.dirFor(3))
      assert(edgeRows(chain.dirFor(3)) == b3Once,
        "post-horizon replay changed its version on a compacted chain")
      val scratchRoot = graft.Scratch.dir("stknng_compact_scratch")
      try {
        graft.queries.KnnGraphIndex.bootstrap(spark, emb, scratchRoot,
          "all", s"$scratchRoot/v0")
        assert(edgeRows(chain.headPath) == edgeRows(s"$scratchRoot/v0"),
          "compacted-chain head diverged from the from-scratch build")
      } finally graft.Scratch.delete(scratchRoot)
      for (id <- Seq(1L, 2L)) {
        val e = intercept[IllegalArgumentException](chain.parentFor(id))
        assert(e.getMessage.contains("compaction horizon"),
          s"pre-horizon replay of batch $id must be rejected by name")
      }
    } finally graft.Scratch.delete(root)
  }

  test("st20/VersionChain compaction: the LSM lineage folds into a " +
    "self-contained maintenance version FIRST (DedupIndex.compact), " +
    "then superseded dirs drop — head signatures identical and fully " +
    "readable, the next update equals the from-scratch build, " +
    "pre-horizon replays rejected") {
    val root = graft.Scratch.dir("stdidx_compact")
    try {
      val docs = graft.Tables.documents(spark, TestSpark.Sf0001)
        .select("doc_id", "text")
      graft.queries.DedupIndex.bootstrap(spark,
        docs.filter(col("doc_id") % 4 === 0), s"$root/v0")
      val chain = graft.queries.StateStore.VersionChain(
        root, "b", "v0", s"$root/v0")
      def sigRows(dir: String): Seq[String] =
        spark.read.parquet(s"$dir/sig")
          .select(col("doc_id") +: col("n") +:
            (0 until 8).map(i => col(s"m$i")): _*)
          .orderBy("doc_id").collect().map(_.toString).toSeq
      graft.queries.DedupIndex.update(spark,
        docs.filter(col("doc_id") % 4 === 1),
        chain.parentPathFor(1), chain.dirFor(1))
      graft.queries.DedupIndex.update(spark,
        docs.filter(col("doc_id") % 4 === 2),
        chain.parentPathFor(2), chain.dirFor(2))
      val sigBefore = sigRows(chain.headPath)
      // st20's versions are NOT self-contained — meta.rawDirs/dfDirs
      // reach into earlier version dirs — so the lifecycle is fold
      // first (the dedup_index_compact precedent), drop dirs second
      graft.queries.DedupIndex.compact(spark, chain.headPath,
        chain.dirFor(3))
      chain.compact(keepLast = 1) // keeps the folded b3; horizon 3
      assert(chain.versions().toSet == Set("v0", "b3"))
      assert(sigRows(chain.headPath) == sigBefore,
        "folding + compaction changed the serving signatures")
      // the folded head must be readable WITHOUT the dropped dirs —
      // df/raw lineage now lives entirely inside b3
      assert(graft.queries.DedupIndex.dfAll(spark, chain.headPath)
        .count() > 0, "folded head's df lineage is not self-contained")
      graft.queries.DedupIndex.update(spark,
        docs.filter(col("doc_id") % 4 === 3),
        chain.parentPathFor(4), chain.dirFor(4))
      val scratchRoot = graft.Scratch.dir("stdidx_compact_scratch")
      try {
        graft.queries.DedupIndex.bootstrap(spark, docs, scratchRoot)
        assert(sigRows(chain.headPath) == sigRows(scratchRoot),
          "compacted-chain head diverged from the from-scratch index")
      } finally graft.Scratch.delete(scratchRoot)
      val e = intercept[IllegalArgumentException](chain.parentFor(3))
      assert(e.getMessage.contains("compaction horizon"),
        "the folded version's own replay needs a dropped parent and " +
          "must be rejected by name")
    } finally graft.Scratch.delete(root)
  }

  test("st19 reservoir sample: slicing invariant, redelivery-idempotent, " +
    "and equal to the batch sample") {
    def stageDocsSlice(dir: Path, name: String,
        pred: org.apache.spark.sql.Column): Unit = {
      val stage = tmpDir("t19_stage")
      graft.Tables.documents(spark, TestSpark.Sf0001).filter(pred)
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val f = stage.toFile.listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(f.toPath, dir.resolve(name),
        StandardCopyOption.REPLACE_EXISTING)
    }
    def sample(in: Path, tag: String, ck: Path,
        maxFiles: Option[Int]): Seq[(Long, Long)] = {
      EventsStream.drainToMemory(
        DocsStream.reservoirCandidates(spark,
          DocsStream.readDocs(spark, in.toString, maxFiles)),
        s"t19_$tag", ck.toString, OutputMode.Update())
      val last = spark.table(s"t19_$tag").collect()
        .groupBy(_.getInt(0)).values.map(_.maxBy(_.getLong(1))).toSeq
      last.flatMap(_.getSeq[org.apache.spark.sql.Row](2)
        .map(e => (e.getLong(0), e.getLong(1))))
        .sorted.take(DocsStream.RsvK).map { case (draw, id) => (id, draw) }
    }
    val in1 = tmpDir("t19_in1")
    stageDocsSlice(in1, "a.parquet", org.apache.spark.sql.functions.lit(true))
    val single = sample(in1, "single", tmpDir("t19_ck1"), None)
    assert(single.size == DocsStream.RsvK)
    // three disjoint slices, one file per micro-batch: min-k state
    // must carry candidates across the seams
    val in2 = tmpDir("t19_in2")
    (0 to 2).foreach { k =>
      stageDocsSlice(in2, f"part$k%02d.parquet",
        org.apache.spark.sql.functions.col("doc_id") % 3 === k)
    }
    val multi = sample(in2, "multi", tmpDir("t19_ck2"), Some(1))
    assert(multi == single, "sample diverges across slicings")
    // redelivery: whole corpus twice — dedup-by-id makes the fold
    // idempotent, the sample cannot move
    stageDocsSlice(in1, "b.parquet", org.apache.spark.sql.functions.lit(true))
    val redelivered = sample(in1, "redel", tmpDir("t19_ck1b"), None)
    assert(redelivered == single, "redelivery moved the sample")
    // and the streamed sample IS the batch sample
    val batch = graft.queries.Registry.queries("curation_reservoir_sample")(
      spark, TestSpark.Sf0001).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("draw"))).toSeq
    assert(single == batch, "streamed sample differs from batch operator")
  }

}
