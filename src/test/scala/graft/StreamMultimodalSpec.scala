package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

import graft.core._
import graft.multimodal.Multimodal
import graft.streaming.StreamOps

class StreamMultimodalSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  test("collection doubles as a streaming source; windowed agg equals batch") {
    val root = SparkTestSession.tmp("graft-stream")
    val df = Seq(
      (1L, "2024-01-01 10:05:00", 1.0), (2L, "2024-01-01 10:45:00", 2.0),
      (3L, "2024-01-01 11:05:00", 4.0), (4L, "2024-01-02 10:05:00", 8.0),
    ).toDF("id", "ts", "v").withColumn("ts", col("ts").cast("timestamp"))
    val c = Collection.create(spark, root, df.schema, "ts", DatePartitioning("ts", "D"))
    c.insert(df)

    val got = StreamOps.windowedAggOnce(spark, c, "ts", "1 hour") { g =>
      g.agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
    }.select(col("w.start").cast("string"), col("n"), col("sv"))
      .orderBy("n", "sv")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set(
      ("2024-01-01 10:00:00", 2L, 3.0),
      ("2024-01-01 11:00:00", 1L, 4.0),
      ("2024-01-02 10:00:00", 1L, 8.0)))
  }

  test("windowedTopK: closed windows only, tie order, per-key k bound (r10e)") {
    val root = SparkTestSession.tmp("graft-stream-topk")
    val df = Seq(
      // hour 10, key "a": 4 events — only the 3 best may emit; the 5.0
      // tie must resolve to the LOWER id first (TopKAgg order)
      (1L, "2024-01-01 10:05:00", "a", 5.0), (2L, "2024-01-01 10:10:00", "a", 5.0),
      (3L, "2024-01-01 10:20:00", "a", 9.0), (4L, "2024-01-01 10:30:00", "a", 1.0),
      // hour 10, key "b": 1 event — ranks are per (window, key)
      (5L, "2024-01-01 10:40:00", "b", 7.0),
      // hour 11: the FINAL window (max ts lives here) must NOT emit
      (6L, "2024-01-01 11:05:00", "a", 99.0),
    ).toDF("id", "ts", "k", "v").withColumn("ts", col("ts").cast("timestamp"))
    val c = Collection.create(spark, root, df.schema, "ts", DatePartitioning("ts", "D"))
    c.insert(df)
    val got = StreamOps.windowedTopK(spark, c, "ts", "1 hour",
        Seq("k"), col("v"), col("id"), k = 3)
      .select(col("w.start").cast("string").as("w"), col("k"),
        col("rank"), col("id"), col("score"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2),
        r.getLong(3), r.getDouble(4))).toSet
    assert(got == Set(
      ("2024-01-01 10:00:00", "a", 1, 3L, 9.0),
      ("2024-01-01 10:00:00", "a", 2, 1L, 5.0), // tie: id 1 before id 2
      ("2024-01-01 10:00:00", "a", 3, 2L, 5.0), // id 4 (1.0) cut by k=3
      ("2024-01-01 10:00:00", "b", 1, 5L, 7.0),
    ), s"got $got")
  }

  test("streaming reads are manifest-consistent: orphans and retained replaced files invisible") {
    // r2 verdict #1: a directory-listing stream ingests (a) files of a
    // writer that crashed before its manifest commit and (b) with
    // retainGenerations > 0, the pre-replace copies kept for time travel.
    // The manifest-driven source must see exactly the committed snapshot.
    val root = SparkTestSession.tmp("graft-stream-man")
    val mk = (vals: Seq[(Long, String, Double)]) => vals
      .toDF("id", "ts", "v").withColumn("ts", col("ts").cast("timestamp"))
    val df = mk(Seq((1L, "2024-01-01 10:05:00", 1.0), (2L, "2024-01-01 10:45:00", 2.0),
                    (3L, "2024-01-02 10:05:00", 4.0)))
    val c = Collection.create(spark, root, df.schema, "ts",
      DatePartitioning("ts", "D"), retainGenerations = 1)
    c.insert(df)
    // replace day 1 wholesale: old day-1 files stay on disk (retention)
    c.insert(mk(Seq((5L, "2024-01-01 10:10:00", 16.0))), MergeStrategy.Replace)
    // crash a writer mid-insert: orphan files, no manifest commit
    CrashAtPublish(root)(c.insert(mk(Seq((9L, "2024-01-03 10:00:00", 64.0)))))

    // the trap exists: the directory tree holds MORE parquet than the
    // committed snapshot (retained day-1 copy + the orphan)
    val onDisk = java.nio.file.Files.walk(java.nio.file.Paths.get(root)).iterator().asScala
      .count(p => p.toString.endsWith(".parquet") && !p.toString.contains("_manifest"))
    val committed = c.query().inputFiles.length
    assert(onDisk > committed, s"trap missing: disk=$onDisk committed=$committed")
    assert(c.partitions().size == 2)
    val batch = c.query().agg(count(lit(1)), sum(col("v"))).collect().head
    assert(batch.getLong(0) == 2 && batch.getDouble(1) == 20.0)

    val streamed = StreamOps.windowedAggOnce(spark, c, "ts", "1 hour") { g =>
      g.agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
    }.agg(sum(col("n")), sum(col("sv"))).collect().head
    assert(streamed.getLong(0) == 2, s"streamed ${streamed.getLong(0)} rows, want 2 (committed only)")
    assert(streamed.getDouble(1) == 20.0, "stream saw orphan or retained rows")
  }

  test("streaming source ingests each commit exactly once as generation offsets advance") {
    import org.apache.spark.sql.streaming.OutputMode
    val root = SparkTestSession.tmp("graft-stream-inc")
    val mk = (vals: Seq[(Long, String, Double)]) => vals
      .toDF("id", "ts", "v").withColumn("ts", col("ts").cast("timestamp"))
    val df = mk(Seq((1L, "2024-01-01 10:00:00", 1.0)))
    val c = Collection.create(spark, root, df.schema, "ts", DatePartitioning("ts", "D"))
    c.insert(df)
    val name = "graft_inc_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = StreamOps.readStream(spark, c)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      assert(spark.table(name).count() == 1)
      c.insert(mk(Seq((2L, "2024-01-05 10:00:00", 2.0), (3L, "2024-01-06 10:00:00", 4.0))),
        MergeStrategy.Concat)
      q.processAllAvailable()
      val ids = spark.table(name).select("id").collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L), s"each commit must stream exactly once, got $ids")
      // a metadata-only commit (schema evolution) adds NO files: the
      // stream must advance through the empty generation without error
      c.addVariable("w", org.apache.spark.sql.types.DoubleType)
      q.processAllAvailable()
      assert(spark.table(name).count() == 3)
      c.insert(mk(Seq((4L, "2024-01-07 10:00:00", 8.0))), MergeStrategy.Concat)
      q.processAllAvailable()
      assert(spark.table(name).count() == 4, "commit after empty generation must stream")
    } finally q.stop()
  }

  test("a compaction rewrite does not re-deliver already-streamed rows") {
    import org.apache.spark.sql.streaming.OutputMode
    val root = SparkTestSession.tmp("graft-stream-compact")
    val mk = (vals: Seq[(Long, String, Double)]) => vals
      .toDF("id", "ts", "v").withColumn("ts", col("ts").cast("timestamp"))
    val df = mk(Seq((1L, "2024-01-01 10:00:00", 1.0)))
    val c = Collection.create(spark, root, df.schema, "ts",
      DatePartitioning("ts", "D"), retainGenerations = 4)
    c.insert(df)
    // fragment the partition with appends
    (2L to 4L).foreach(i =>
      c.insert(mk(Seq((i, "2024-01-01 11:00:00", i.toDouble))), MergeStrategy.Concat))
    val name = "graft_cmp_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = StreamOps.readStream(spark, c)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      assert(spark.table(name).count() == 4)
      // a pure rewrite: same rows, fresh files — the marker + unchanged
      // row totals must keep the next batch EMPTY
      c.compact()
      assert(c.manifestAt(c.generation).rewrites.nonEmpty,
        "compact must mark its commit")
      q.processAllAvailable()
      val ids = spark.table(name).select("id").collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L, 4L),
        s"compaction re-delivered already-streamed rows: $ids")
      // data committed AFTER the compaction still streams normally
      c.insert(mk(Seq((5L, "2024-01-02 10:00:00", 5.0))), MergeStrategy.Concat)
      q.processAllAvailable()
      assert(spark.table(name).select("id").collect().map(_.getLong(0)).sorted.toSeq
        == (1L to 5L), "post-compaction commit lost")
      // SOUNDNESS: a count-preserving UPDATE sharing the batch window
      // with a compaction is a MIXED range — the rewrite skip must
      // disable and the updated values must reach the stream (the
      // rewrite-only skip could otherwise hide them forever)
      c.update(d => d.withColumn("v", col("v") + 100.0))
      c.compact()
      q.processAllAvailable()
      val vs = spark.table(name).select("v").collect().map(_.getDouble(0))
      assert(vs.count(_ >= 100.0) >= 5,
        s"updated rows must be delivered despite the in-range compaction, got ${vs.sorted.toSeq}")
    } finally q.stop()
  }

  test("maxGenerationsPerBatch paces backfill: bounded commits per micro-batch, nothing lost") {
    import org.apache.spark.sql.streaming.OutputMode
    val root = SparkTestSession.tmp("graft-stream-pace")
    val mk = (id: Long) => Seq((id, s"2024-01-0$id 10:00:00", id.toDouble))
      .toDF("id", "ts", "v").withColumn("ts", col("ts").cast("timestamp"))
    val c = Collection.create(spark, root, mk(1).schema, "ts", DatePartitioning("ts", "D"))
    (1L to 5L).foreach(i => c.insert(mk(i), MergeStrategy.Concat)) // gens 1..5
    val name = "graft_pace_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = StreamOps.readStream(spark, c, Map("maxGenerationsPerBatch" -> "2"))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      // everything arrived...
      val ids = spark.table(name).select("id").collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == (1L to 5L), s"paced backfill lost or duplicated rows: $ids")
      // ...and no micro-batch spanned more than 2 generations
      val ends = q.recentProgress.toSeq
        .flatMap(p => p.sources.headOption.flatMap(s => Option(s.endOffset)))
        .map(_.trim.toLong).distinct.sorted
      assert(ends.nonEmpty)
      val steps = (0L +: ends).zip(ends).map { case (a, b) => b - a }
      assert(steps.forall(_ <= 2L), s"a batch exceeded the generation cap: offsets $ends")
      assert(ends.last == 5L)
      assert(ends.head == 2L, s"first batch must stop at generation 2, got ${ends.head}")
    } finally q.stop()
  }

  test("paced backfill over a replace-bearing history clamps to a readable snapshot") {
    import org.apache.spark.sql.streaming.OutputMode
    // retainGenerations=0 GCs replaced files immediately: the paced
    // first batch must NOT schedule the snapshot AT generation 1 (its
    // file was replaced by the gen-3 upsert and no longer exists) — it
    // clamps forward to the newest removal commit and streams from there
    val root = SparkTestSession.tmp("graft-stream-pace-gc")
    val mk = (id: Long, day: Int, v: Double) => Seq((id, f"2024-01-$day%02d 10:00:00", v))
      .toDF("id", "ts", "v").withColumn("ts", col("ts").cast("timestamp"))
    val c = Collection.create(spark, root, mk(1, 1, 1.0).schema, "ts",
      DatePartitioning("ts", "D"))
    c.insert(mk(1L, 1, 1.0), MergeStrategy.Concat)            // gen 1: day 1
    c.insert(mk(2L, 5, 2.0), MergeStrategy.Concat)            // gen 2: day 5
    c.insert(mk(1L, 1, 9.0), MergeStrategy.Upsert()) // gen 3: REPLACES day 1's file
    val name = "graft_pace_gc_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = StreamOps.readStream(spark, c, Map("maxGenerationsPerBatch" -> "1"))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      // without the clamp the first batch throws FileNotFound on the
      // GC'd gen-1 file; with it, the stream is the head snapshot
      val got = spark.table(name).select("id", "v").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
      assert(got == Seq((1L, 9.0), (2L, 2.0)), s"clamped backfill mismatch: $got")
      val ends = q.recentProgress.toSeq
        .flatMap(p => p.sources.headOption.flatMap(s => Option(s.endOffset)))
        .map(_.trim.toLong).distinct.sorted
      assert(ends.head == 3L,
        s"first paced offset must clamp to the newest removal commit, got ${ends.head}")
    } finally q.stop()
  }

  test("streaming source restarts from a checkpoint: offsets deserialize, no re-ingestion") {
    import org.apache.spark.sql.streaming.OutputMode
    val root = SparkTestSession.tmp("graft-stream-ckpt")
    val ckpt = SparkTestSession.tmp("graft-ckpt")
    val mk = (vals: Seq[(Long, String, Double)]) => vals
      .toDF("id", "ts", "v").withColumn("ts", col("ts").cast("timestamp"))
    val df = mk(Seq((1L, "2024-01-01 10:00:00", 1.0)))
    val c = Collection.create(spark, root, df.schema, "ts", DatePartitioning("ts", "D"))
    c.insert(df)
    val sinkDir = SparkTestSession.tmp("graft-sink")
    def start() = StreamOps.readStream(spark, c)
      .writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt)
      .format("parquet").option("path", sinkDir)
      .start()
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.read.parquet(sinkDir).count() == 1)
    // new commit while the stream is DOWN; restart resumes from the
    // serialized generation offset and ingests only the delta
    c.insert(mk(Seq((2L, "2024-01-05 10:00:00", 2.0))), MergeStrategy.Concat)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val ids = spark.read.parquet(sinkDir).select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L), s"restart must not re-ingest or skip, got $ids")
  }

  test("streaming ingestion sink: exactly-once micro-batch commits, replays skipped") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = SparkTestSession.tmp("graft-ingest")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, ts TIMESTAMP, v DOUBLE")
    val c = Collection.create(spark, root, schema, "ts", DatePartitioning("ts", "D"))
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val in = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val ckpt = SparkTestSession.tmp("graft-ingest-ckpt")
    val q = StreamOps.insertStream(
      in.toDF().toDF("id", "ts", "v"), c, "ingest-events", ckpt)
    try {
      in.addData((1L, ts("2024-01-01 10:00:00"), 1.0), (2L, ts("2024-01-02 10:00:00"), 2.0))
      q.processAllAvailable()
      assert(c.query().count() == 2)
      in.addData((3L, ts("2024-01-03 10:00:00"), 4.0))
      q.processAllAvailable()
      assert(c.query().orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    } finally q.stop()
    // high-water mark committed atomically with the data
    val hwm = c.streamHighWaterMark("ingest-events")
    assert(hwm.exists(_ >= 1L), s"missing stream high-water mark, got $hwm")
    // a foreachBatch REPLAY of an already-committed batch is a no-op
    val replay = Seq((99L, "2024-01-09 10:00:00", 9.0))
      .toDF("id", "ts", "v").withColumn("ts", col("ts").cast("timestamp"))
    assert(c.insertStreamBatch("ingest-events", hwm.get, replay).isEmpty)
    assert(c.query().count() == 3, "replayed batch must not double-insert")
    // a NEW batch id still commits
    assert(c.insertStreamBatch("ingest-events", hwm.get + 1, replay).nonEmpty)
    assert(c.query().count() == 4)
    // and the collection keeps working as a streaming SOURCE: the
    // ingested data streams back out manifest-consistently
    val n = StreamOps.windowedAggOnce(spark, c, "ts", "1 day") { g =>
      g.agg(count(lit(1)).as("n"))
    }.agg(sum(col("n"))).collect().head.getLong(0)
    assert(n == 4)
  }

  test("append-mode windowed agg with watermark emits finalized windows") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, Double)]
    val name = "graft_wm_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = in.toDF().toDF("ts", "v")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(name).start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    try {
      in.addData((ts("2024-01-01 10:05:00"), 1.0), (ts("2024-01-01 10:45:00"), 2.0))
      q.processAllAvailable()
      // watermark still inside hour 10 -> nothing finalized yet
      assert(spark.table(name).count() == 0)
      // event far past hour 10 advances the watermark; hour-10 window closes
      in.addData((ts("2024-01-01 12:30:00"), 4.0))
      q.processAllAvailable()
      in.addData((ts("2024-01-01 14:00:00"), 8.0))
      q.processAllAvailable()
      val rows = spark.table(name)
        .select(col("window.start").cast("string"), col("n"), col("sv"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(rows.contains(("2024-01-01 10:00:00", 2L, 3.0)))
    } finally q.stop()
  }

  test("streaming dedup drops in-window duplicates with bounded state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(String, java.sql.Timestamp)]
    val name = "graft_dedup_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = StreamOps.dedupStream(
        in.toDF().toDF("text", "ts"), Seq("text"), "ts", "10 minutes")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(name).start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    try {
      in.addData(("a", ts("2024-01-01 10:00:00")), ("a", ts("2024-01-01 10:01:00")),
                 ("b", ts("2024-01-01 10:02:00")))
      q.processAllAvailable()
      in.addData(("a", ts("2024-01-01 10:03:00"))) // still a duplicate in-window
      q.processAllAvailable()
      val texts = spark.table(name).select("text").collect().map(_.getString(0)).sorted.toSeq
      assert(texts == Seq("a", "b"), s"expected one row per key, got $texts")
    } finally q.stop()
  }

  test("stream-stream interval join: every in-span pair once, out-of-span never") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val clicks = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val views = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val name = "graft_sjoin_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val joined = StreamOps.intervalJoin(
      clicks.toDF().toDF("user_id", "click_id", "click_ts"),
      views.toDF().toDF("user_id", "view_id", "view_ts"),
      Seq("user_id"), "click_ts", "view_ts", "1 hour")
    val q = joined.select("click_id", "view_id")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(name).start()
    try {
      // user 1: click 10 -> views at +30m (in) and +90m (out);
      // user 2's view at +10m must not cross users; a view BEFORE the
      // click must not match (the range is one-sided)
      clicks.addData((1L, 10L, ts("2024-01-01 10:00:00")),
                     (2L, 20L, ts("2024-01-01 10:00:00")))
      views.addData((1L, 100L, ts("2024-01-01 10:30:00")),
                    (1L, 101L, ts("2024-01-01 11:30:00")),
                    (1L, 102L, ts("2024-01-01 09:30:00")),
                    (2L, 200L, ts("2024-01-01 10:10:00")))
      q.processAllAvailable()
      // late-arriving second click still pairs with the already-seen view
      // (the right side's state held it)
      clicks.addData((2L, 21L, ts("2024-01-01 10:05:00")))
      q.processAllAvailable()
      val got = spark.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(got == Seq((10L, 100L), (20L, 200L), (21L, 200L)), s"got $got")
      // streaming inner join == the batch join of the same inputs
      val bc = Seq((1L, 10L, ts("2024-01-01 10:00:00")),
                   (2L, 20L, ts("2024-01-01 10:00:00")),
                   (2L, 21L, ts("2024-01-01 10:05:00")))
        .toDF("user_id", "click_id", "click_ts")
      val bv = Seq((1L, 100L, ts("2024-01-01 10:30:00")),
                   (1L, 101L, ts("2024-01-01 11:30:00")),
                   (1L, 102L, ts("2024-01-01 09:30:00")),
                   (2L, 200L, ts("2024-01-01 10:10:00")))
        .toDF("user_id", "view_id", "view_ts")
      val batch = bc.join(bv, bc("user_id") === bv("user_id") &&
          bv("view_ts") >= bc("click_ts") &&
          bv("view_ts") <= bc("click_ts") + org.apache.spark.sql.functions.expr("INTERVAL 1 hour"))
        .select("click_id", "view_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(got == batch, s"stream $got != batch $batch")
    } finally q.stop()
  }

  test("intervalJoin property: random arrival orders always equal the batch join") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // with a watermark delay covering the whole data span nothing is
    // ever late, so the streaming inner join must equal the batch join
    // for EVERY arrival order — out-of-order, interleaved, or bursty
    val rnd = new scala.util.Random(0x51eaL)
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 ${10 + m / 60}%02d:${m % 60}%02d:00")
    for (iter <- 1 to 3) {
      val left = (1 to 15 + rnd.nextInt(10))
        .map(i => (rnd.nextInt(4).toLong, 1000L + i, ts(rnd.nextInt(240))))
      val right = (1 to 15 + rnd.nextInt(10))
        .map(i => (rnd.nextInt(4).toLong, 2000L + i, ts(rnd.nextInt(240))))
      val ls = MemoryStream[(Long, Long, java.sql.Timestamp)]
      val rs = MemoryStream[(Long, Long, java.sql.Timestamp)]
      val name = s"graft_sjprop_${iter}_" + java.util.UUID.randomUUID().toString.take(8)
      val q = StreamOps.intervalJoin(
          ls.toDF().toDF("k", "lid", "lts"), rs.toDF().toDF("k", "rid", "rts"),
          Seq("k"), "lts", "rts", "1 hour", watermarkDelay = "30 days")
        .select("lid", "rid")
        .writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName(name).start()
      try {
        // shuffled arrival in random interleaved chunks
        var lRem = rnd.shuffle(left); var rRem = rnd.shuffle(right)
        while (lRem.nonEmpty || rRem.nonEmpty) {
          if (lRem.nonEmpty) {
            val n = 1 + rnd.nextInt(math.min(8, lRem.size))
            ls.addData(lRem.take(n)); lRem = lRem.drop(n)
          }
          if (rRem.nonEmpty) {
            val n = 1 + rnd.nextInt(math.min(8, rRem.size))
            rs.addData(rRem.take(n)); rRem = rRem.drop(n)
          }
          if (rnd.nextBoolean()) q.processAllAvailable()
        }
        q.processAllAvailable()
        val got = spark.table(name).collect()
          .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
        val lb = left.toDF("k", "lid", "lts")
        val rb = right.toDF("k", "rid", "rts")
        val want = lb.join(rb, lb("k") === rb("k") &&
            rb("rts") >= lb("lts") &&
            rb("rts") <= lb("lts") + org.apache.spark.sql.functions.expr("INTERVAL 1 hour"))
          .select("lid", "rid").collect()
          .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
        assert(got == want, s"iter $iter: stream ${got.size} pairs != batch ${want.size}")
      } finally q.stop()
    }
  }

  test("stateful streaming sessionization matches batch sessionize") {
    import StreamOps._
    val evs = Seq(
      SessionEvent(1L, 0L), SessionEvent(1L, 1000L), SessionEvent(1L, 100000L),
      SessionEvent(2L, 50L))
    // gap 10ms=10000us -> user 1 has sessions [0,1000] then [100000]
    val ds = evs.toDS()
    // run through the stateful operator in a single micro-batch equivalent
    val out = sessionize(ds, gapMicros = 10000L)
    // in batch mode flatMapGroupsWithState only emits CLOSED sessions;
    // user1's first session closes when the 100000 event arrives
    val rows = out.collect().toSet
    assert(rows == Set(SessionOut(1L, 0L, 2)))
  }

  test("streamArrays: per-batch partition array records track the manifest diffs") {
    val root = SparkTestSession.tmp("graft-stream-arrays")
    val mk = (vals: Seq[(Long, String, Double)]) => vals
      .toDF("id", "ts", "v").withColumn("ts", col("ts").cast("timestamp"))
    val b1 = mk(Seq((1L, "2024-01-01 10:00:00", 1.0), (2L, "2024-01-01 09:00:00", 2.0),
                    (3L, "2024-01-02 10:00:00", 3.0)))
    val c = Collection.create(spark, root, b1.schema, "ts", DatePartitioning("ts", "D"))
    c.insert(b1)
    def recsOf(df: org.apache.spark.sql.DataFrame): Seq[(Int, Long, Seq[Long], Seq[Double])] =
      df.select("day", "n", "id", "v").collect().map(r =>
        (r.getInt(0), r.getLong(1), r.getSeq[Long](2), r.getSeq[Double](3))).toSeq.sortBy(_._1)
    val seen = scala.collection.mutable.ArrayBuffer.empty[Seq[(Int, Long, Seq[Long], Seq[Double])]]
    val q = StreamOps.streamArrays(spark, c,
      "qa_" + java.util.UUID.randomUUID().toString.replace("-", ""),
      SparkTestSession.tmp("graft-qa-ckpt"), variables = Seq("id", "v")) { (recs, _) =>
      val r = recsOf(recs)
      if (r.nonEmpty) seen.synchronized { seen += r }
    }
    try {
      q.processAllAvailable()
      // first batch = the whole snapshot; records equal batch queryArrays
      assert(seen.size == 1)
      assert(seen(0) == recsOf(c.queryArrays(variables = Seq("id", "v"))))
      assert(seen(0) == Seq((1, 2L, Seq(2L, 1L), Seq(2.0, 1.0)),
                            (2, 1L, Seq(3L), Seq(3.0))))
      // incremental: an append into day 2 plus a fresh day 3 emits
      // records for exactly the inserted rows, not the partition totals
      c.insert(mk(Seq((4L, "2024-01-02 08:00:00", 4.0), (5L, "2024-01-03 10:00:00", 5.0))),
        MergeStrategy.Concat)
      q.processAllAvailable()
      assert(seen.size == 2, s"expected one more non-empty batch, got ${seen.size}")
      assert(seen(1) == Seq((2, 1L, Seq(4L), Seq(4.0)),
                            (3, 1L, Seq(5L), Seq(5.0))))
    } finally q.stop()

    // a FRESH filtered stream consolidates: first batch packs the full
    // (pruned) snapshot per partition — day 2 holds both commits' rows
    val seen2 = scala.collection.mutable.ArrayBuffer.empty[Seq[(Int, Long, Seq[Long], Seq[Double])]]
    val q2 = StreamOps.streamArrays(spark, c,
      "qa2_" + java.util.UUID.randomUUID().toString.replace("-", ""),
      SparkTestSession.tmp("graft-qa2-ckpt"), filters = "day == 2",
      variables = Seq("id", "v")) { (recs, _) =>
      val r = recsOf(recs)
      if (r.nonEmpty) seen2.synchronized { seen2 += r }
    }
    try {
      q2.processAllAvailable()
      assert(seen2.size == 1)
      assert(seen2(0) == Seq((2, 2L, Seq(4L, 3L), Seq(4.0, 3.0))))
    } finally q2.stop()
  }

  test("PPM decode/features/resize are real: hand-built fixture round-trips") {
    import Multimodal.PpmCodec
    // 2x2 image: red, green / blue, white
    val rgb = Array[Byte](
      255.toByte, 0, 0,   0, 255.toByte, 0,
      0, 0, 255.toByte,   255.toByte, 255.toByte, 255.toByte)
    val ppm = PpmCodec.encode(2, 2, rgb)
    val (w, h, back) = PpmCodec.decode(ppm)
    assert(w == 2 && h == 2 && back.toSeq == rgb.toSeq)
    // whole-image mean over 1 tile: mean R = (255+0+0+255)/4/255, etc.
    val f = PpmCodec.meanRgbTiles(ppm, 1, 1)
    assert(f.length == 3)
    assert(math.abs(f(0) - 0.5) < 1e-6 && math.abs(f(1) - 0.5) < 1e-6 && math.abs(f(2) - 0.5) < 1e-6)
    // 2x2 tiles = identity per pixel
    val f4 = PpmCodec.meanRgbTiles(ppm, 2, 2)
    assert(f4.toSeq == Seq(1f, 0f, 0f,  0f, 1f, 0f,  0f, 0f, 1f,  1f, 1f, 1f))
    // nearest-neighbor upscale 2x2 -> 4x4 keeps each quadrant's color
    val (w2, h2, big) = PpmCodec.decode(PpmCodec.resize(ppm, 4, 4))
    assert(w2 == 4 && h2 == 4)
    assert((big(0) & 0xff) == 255 && (big(1) & 0xff) == 0)          // top-left red
    assert((big((3 * 4 + 3) * 3) & 0xff) == 255 &&
           (big((3 * 4 + 3) * 3 + 2) & 0xff) == 255)                // bottom-right white
    // comment headers parse too
    val withComment = ("P6\n# a comment\n2 2\n255\n").getBytes("US-ASCII") ++ rgb
    assert(PpmCodec.decode(withComment)._3.toSeq == rgb.toSeq)
  }

  test("WAV PCM16 decode and RMS features are real: synthetic RIFF fixture") {
    import Multimodal.WavCodec
    // build a minimal RIFF/WAVE: fmt chunk (PCM, mono, 8kHz, 16-bit) +
    // data = 100 samples of silence then 100 samples of full-scale square
    val samples = Array.fill[Short](100)(0) ++ Array.fill[Short](100)(32767)
    val bb = java.nio.ByteBuffer.allocate(44 + samples.length * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes); bb.putInt(36 + samples.length * 2); bb.put("WAVE".getBytes)
    bb.put("fmt ".getBytes); bb.putInt(16)
    bb.putShort(1); bb.putShort(1); bb.putInt(8000); bb.putInt(16000); bb.putShort(2); bb.putShort(16)
    bb.put("data".getBytes); bb.putInt(samples.length * 2)
    samples.foreach(bb.putShort)
    val wav = bb.array()
    val (rate, got) = WavCodec.decodePcm16(wav)
    assert(rate == 8000 && got.length == 200 && got(0) == 0 && got(150) == 32767)
    val rms = WavCodec.rmsWindows(wav, 2)
    assert(rms(0) < 0.001f, s"silent half should have ~0 RMS, got ${rms(0)}")
    assert(rms(1) > 0.99f, s"full-scale half should have ~1 RMS, got ${rms(1)}")
  }

  test("extractFeatures routes ppm/wav through the real codecs inside the batch pipeline") {
    import Multimodal._
    val rgb = Array[Byte](255.toByte, 0, 0,  255.toByte, 0, 0,
                          255.toByte, 0, 0,  255.toByte, 0, 0) // all red 2x2
    val media = Seq(
      Media(1L, PpmCodec.encode(2, 2, rgb), 2, 2, "ppm"),
      Media(2L, "not-an-image".getBytes, 0, 0, "mp4")) // true video -> stub
    val feats = extractFeatures(media.toDS().repartition(2), dims = 3)
      .collect().sortBy(_.id)
    assert(feats(0).features.toSeq == Seq(1f, 0f, 0f)) // real decode: pure red
    assert(feats(1).features.length == 3)              // stub path still works
    val resized = resizeImages(media.toDS(), 4, 4).collect().sortBy(_.id)
    assert(resized(0).width == 4 && PpmCodec.decode(resized(0).media)._1 == 4)
    assert(resized(1).media.toSeq == media(1).media.toSeq) // video untouched
  }

  test("JPEG/PNG/GIF decode via the JDK imageio codec is real") {
    import Multimodal._
    // quadrant image: red, green / blue, white
    val rgb = Array[Byte](
      255.toByte, 0, 0,   0, 255.toByte, 0,
      0, 0, 255.toByte,   255.toByte, 255.toByte, 255.toByte)

    // PNG is lossless: decode returns the exact raster, features match PPM's
    val png = ImageIoCodec.encode(2, 2, rgb, "png")
    assert(png.take(4).toSeq == Seq(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte))
    val (w, h, back) = ImageIoCodec.decodeRgb(png)
    assert(w == 2 && h == 2 && back.toSeq == rgb.toSeq)
    assert(ImageIoCodec.meanRgbTiles(png, 2, 2).toSeq ==
           PpmCodec.meanRgbTiles(PpmCodec.encode(2, 2, rgb), 2, 2).toSeq)

    // JPEG is lossy: a solid-red 8x8 must still decode to ~pure red
    val red64 = Array.fill(64)(Array[Byte](255.toByte, 0, 0)).flatten
    val jpg = ImageIoCodec.encode(8, 8, red64, "jpg")
    assert(jpg.take(2).toSeq == Seq(0xff.toByte, 0xd8.toByte)) // SOI marker
    val f = ImageIoCodec.meanRgbTiles(jpg, 1, 1)
    assert(f(0) > 0.9f && f(1) < 0.2f && f(2) < 0.2f, s"jpeg decode off: ${f.toSeq}")

    // in-pipeline: a real PNG payload flows through extract/resize batches
    val media = Seq(Media(1L, png, 2, 2, "png"), Media(2L, jpg, 8, 8, "jpeg"))
    val feats = extractFeatures(media.toDS(), dims = 3).collect().sortBy(_.id)
    assert(math.abs(feats(0).features(0) - 0.5f) < 1e-6)     // png mean R exact
    assert(feats(1).features(0) > 0.9f)                      // jpeg mean R ~1
    val rs = resizeImages(media.toDS(), 4, 4).collect().sortBy(_.id)
    assert(rs.forall(_.width == 4))
    val (rw, _, rr) = ImageIoCodec.decodeRgb(rs(0).media)    // re-encoded as png
    assert(rw == 4 && (rr(0) & 0xff) == 255)                 // top-left still red

    // animated GIF: REAL multi-frame sampling (stride 2 of 4 frames)
    val colors = Seq(0xff0000, 0x00ff00, 0x0000ff, 0xffffff)
    val gifOut = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(gifOut)
    val wr = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    wr.setOutput(ios)
    wr.prepareWriteSequence(null)
    colors.foreach { c =>
      val img = new java.awt.image.BufferedImage(3, 3, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 3; x <- 0 until 3) img.setRGB(x, y, c)
      wr.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
    }
    wr.endWriteSequence(); wr.dispose(); ios.close()
    val frames = sampleFrames(
      Seq(Media(3L, gifOut.toByteArray, 3, 3, "gif")).toDS(), stride = 2).collect()
    assert(frames(0).frames.size == 2, s"want frames 0 and 2, got ${frames(0).frames.size}")
    val (_, _, f0) = ImageIoCodec.decodeRgb(frames(0).frames(0))
    val (_, _, f2) = ImageIoCodec.decodeRgb(frames(0).frames(1))
    assert((f0(0) & 0xff) == 255 && (f0(1) & 0xff) == 0)  // frame 0 red
    assert((f2(2) & 0xff) == 255 && (f2(0) & 0xff) == 0)  // frame 2 blue
  }

  test("optimized GIF delta frames composite onto the canvas before sampling") {
    import Multimodal.ImageIoCodec
    import java.awt.image.BufferedImage
    // frame 0: full 4x4 red; frame 1: a 2x2 green DELTA at offset (2,2)
    // — what GIF optimizers emit. A non-compositing sampler returns the
    // bare 2x2 sub-rect for frame 1; a viewer (and this codec) shows the
    // full 4x4 canvas with green only in the bottom-right quadrant.
    val wr = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val gifOut = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(gifOut)
    wr.setOutput(ios)
    wr.prepareWriteSequence(null)
    def write(img: BufferedImage, x: Int, y: Int): Unit = {
      val meta = wr.getDefaultImageMetadata(
        new javax.imageio.ImageTypeSpecifier(img), wr.getDefaultWriteParam)
      val fmt = "javax_imageio_gif_image_1.0"
      val tree = meta.getAsTree(fmt).asInstanceOf[org.w3c.dom.Element]
      val kids = tree.getChildNodes
      val desc = (0 until kids.getLength).map(kids.item).collectFirst {
        case e: org.w3c.dom.Element if e.getNodeName == "ImageDescriptor" => e
      }.get
      desc.setAttribute("imageLeftPosition", x.toString)
      desc.setAttribute("imageTopPosition", y.toString)
      meta.setFromTree(fmt, tree)
      wr.writeToSequence(new javax.imageio.IIOImage(img, null, meta), null)
    }
    val full = new BufferedImage(4, 4, BufferedImage.TYPE_INT_RGB)
    for (py <- 0 until 4; px <- 0 until 4) full.setRGB(px, py, 0xff0000)
    val delta = new BufferedImage(2, 2, BufferedImage.TYPE_INT_RGB)
    for (py <- 0 until 2; px <- 0 until 2) delta.setRGB(px, py, 0x00ff00)
    write(full, 0, 0)
    write(delta, 2, 2)
    wr.endWriteSequence(); wr.dispose(); ios.close()

    val samples = ImageIoCodec.sampleFrames(gifOut.toByteArray, stride = 1)
    assert(samples.size == 2)
    val (w1, h1, rgb1) = ImageIoCodec.decodeRgb(samples(1))
    assert(w1 == 4 && h1 == 4,
      s"frame 1 must be the composed 4x4 canvas, got ${w1}x$h1")
    def px(x: Int, y: Int) = ((rgb1((y * 4 + x) * 3) & 0xff),
      (rgb1((y * 4 + x) * 3 + 1) & 0xff))
    assert(px(0, 0) == (255, 0), "top-left stays red from frame 0")
    assert(px(1, 1) == (255, 0))
    assert(px(2, 2) == (0, 255), "delta rect is green")
    assert(px(3, 3) == (0, 255))

    // stride is validated at entry, not mid-decode
    intercept[IllegalArgumentException](
      ImageIoCodec.sampleFrames(gifOut.toByteArray, stride = 0))
  }

  test("MJPEG-in-AVI is a REAL video tier: container round-trip, sampling, features, transcode (r14)") {
    import Multimodal._
    // three solid 8x8 frames: red, green, blue, as real JPEGs
    def solid(r: Int, g: Int, b: Int): Array[Byte] = ImageIoCodec.encode(8, 8,
      Array.fill(64)(Array(r.toByte, g.toByte, b.toByte)).flatten, "jpg")
    val jpegs = Seq(solid(255, 0, 0), solid(0, 255, 0), solid(0, 0, 255))
    val avi = AviMjpegCodec.encode(jpegs, 8, 8, fps = 10)

    // container round-trip: RIFF/AVI magic, frames come back byte-exact
    assert(avi.take(4).map(_.toChar).mkString == "RIFF" &&
           avi.slice(8, 12).map(_.toChar).mkString == "AVI ")
    val back = AviMjpegCodec.frames(avi)
    assert(back.size == 3 && back.zip(jpegs).forall { case (a, b) => a.sameElements(b) },
      "movi chunk walk must return the exact JPEG payloads in order")

    // stride sampling keeps frames 0 and 2; each decodes to its color
    val sampled = AviMjpegCodec.sampleFrames(avi, stride = 2)
    assert(sampled.size == 2)
    val (_, _, p0) = ImageIoCodec.decodeRgb(sampled(0))
    val (_, _, p2) = ImageIoCodec.decodeRgb(sampled(1))
    assert((p0(0) & 0xff) > 230 && (p2(2) & 0xff) > 230, "frame 0 red, frame 2 blue")

    // whole-clip features: mean over R/G/B frames ~ (1/3, 1/3, 1/3)
    val f = AviMjpegCodec.meanRgbTiles(avi, 1, 1)
    assert(f.forall(v => math.abs(v - 1f / 3) < 0.05), s"clip mean off: ${f.toSeq}")

    // transcode: resize rebuilds a parseable AVI of 4x4 JPEG frames
    val small = AviMjpegCodec.resize(avi, 4, 4)
    val smallFrames = AviMjpegCodec.frames(small)
    assert(smallFrames.size == 3 &&
      smallFrames.forall(fr => ImageIoCodec.decodeRgb(fr)._1 == 4))

    // the batch pipeline routes 'avi' through the REAL codec
    val media = Seq(Media(1L, avi, 8, 8, "avi"),
                    Media(2L, "not-video".getBytes, 0, 0, "h264")) // refused tier -> stub
    val feats = extractFeatures(media.toDS().repartition(2), dims = 3)
      .collect().sortBy(_.id)
    assert(math.abs(feats(0).features(0) - 1f / 3) < 0.05)
    val fr = sampleFrames(media.toDS(), stride = 2).collect().sortBy(_.id)
    assert(fr(0).frames.size == 2 &&
      (fr(0).frames(0)(0) & 0xff) == 0xff && (fr(0).frames(0)(1) & 0xff) == 0xd8,
      "pipeline AVI frames are real JPEGs")
    val rs = resizeImages(media.toDS(), 4, 4).collect().sortBy(_.id)
    assert(rs(0).width == 4 && AviMjpegCodec.frames(rs(0).media).size == 3)
    assert(rs(1).media.toSeq == media(1).media.toSeq, "refused tier untouched")

    // a non-MJPEG payload inside a video chunk refuses loudly
    val fake = AviMjpegCodec.encode(jpegs, 8, 8)
    val corrupted = fake.clone()
    // flip the SOI marker of the first frame's payload
    val idx = {
      val first = jpegs.head
      // find the first frame payload (search for its leading bytes)
      fake.indexOfSlice(first)
    }
    corrupted(idx) = 0
    intercept[IllegalArgumentException](AviMjpegCodec.frames(corrupted))
  }

  test("multimodal stub pipeline: features and frames are deterministic batch ops") {
    val media = (1L to 200L).map(i =>
      Multimodal.Media(i, s"media-payload-$i-${"x" * (i % 37).toInt}".getBytes, 64 + i.toInt, 48, if (i % 2 == 0) "mp4" else "h264"))
    val ds = media.toDS().repartition(4)

    val feats = Multimodal.extractFeatures(ds, dims = 8).collect()
    assert(feats.length == 200 && feats.forall(_.features.length == 8))
    // deterministic: same input -> same features
    val again = Multimodal.extractFeatures(ds, dims = 8).collect()
    assert(feats.sortBy(_.id).zip(again.sortBy(_.id))
      .forall { case (a, b) => a.features.sameElements(b.features) })

    val frames = Multimodal.sampleFrames(ds.limit(10), stride = 2).collect()
    assert(frames.forall(_.frames.nonEmpty))

    val table = ds.toDF()
    val pruned = Multimodal.filterByMeta(table, minWidth = 100, format = "mp4")
    assert(pruned.count() == media.count(m => m.width >= 100 && m.format == "mp4"))
    assert(pruned.count() > 0)
  }

  test("perceptual audio dedup: resampled/re-gained copies collapse, distinct clips survive") {
    import Multimodal.{Media, WavCodec}
    // synthesize PCM16 WAVs: a loud/soft alternating envelope (winNum ->
    // amplitude), rendered at different sample rates and gains
    def wav(rate: Int, seconds: Double, gain: Double, pattern: Int => Double): Array[Byte] = {
      val n = (rate * seconds).toInt
      val samples = Array.tabulate[Short](n) { i =>
        val win = i * 80 / n // 80 envelope cells over the clip
        val amp = pattern(win) * gain
        ((if (i % 2 == 0) amp else -amp) * 32767).toShort
      }
      val bb = java.nio.ByteBuffer.allocate(44 + samples.length * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes); bb.putInt(36 + samples.length * 2); bb.put("WAVE".getBytes)
      bb.put("fmt ".getBytes); bb.putInt(16)
      bb.putShort(1); bb.putShort(1); bb.putInt(rate); bb.putInt(rate * 2); bb.putShort(2); bb.putShort(16)
      bb.put("data".getBytes); bb.putInt(samples.length * 2)
      samples.foreach(bb.putShort)
      bb.array()
    }
    val rises = (w: Int) => 0.1 + 0.8 * ((w % 8) / 8.0)      // sawtooth envelope
    val falls = (w: Int) => 0.9 - 0.8 * ((w % 8) / 8.0)      // inverted structure
    val base      = wav(8000, 2.0, 1.0, rises)
    val resampled = wav(11025, 2.0, 1.0, rises)  // same clip, other rate
    val quiet     = wav(8000, 2.0, 0.35, rises)  // same clip, lower gain
    val other     = wav(8000, 2.0, 1.0, falls)

    def eh(b: Array[Byte]) = WavCodec.eHash64(b)
    assert(java.lang.Long.bitCount(eh(base) ^ eh(resampled)) <= 6,
      s"resampling must stay within the hamming budget: ${java.lang.Long.bitCount(eh(base) ^ eh(resampled))}")
    assert(java.lang.Long.bitCount(eh(base) ^ eh(quiet)) <= 6,
      s"gain change must stay within the hamming budget: ${java.lang.Long.bitCount(eh(base) ^ eh(quiet))}")
    assert(java.lang.Long.bitCount(eh(base) ^ eh(other)) > 20,
      s"distinct envelope must be far: ${java.lang.Long.bitCount(eh(base) ^ eh(other))}")

    val ds = Seq(
      Media(1L, base, 0, 0, "wav"),
      Media(2L, resampled, 0, 0, "wav"),
      Media(3L, quiet, 0, 0, "wav"),
      Media(4L, other, 0, 0, "wav"),
      Media(5L, Array[Byte](9, 9), 0, 0, "mp4")). // non-audio: ignored
      toDS()
    val pairs = Multimodal.nearDuplicateAudio(ds, maxHamming = 6)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)),
      s"the duplicate trio must pair up: $pairs")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L),
      s"the inverted clip must not pair: $pairs")
    val kept = Multimodal.dedupAudio(ds, maxHamming = 6)
      .collect().map(_.id).sorted.toSeq
    assert(kept == Seq(1L, 4L, 5L), s"survivors: $kept")
  }

  test("perceptual image dedup: resized/re-encoded copies collapse, distinct images survive") {
    import Multimodal.{Media, PpmCodec}
    // a 64x64 right-to-left gradient (adjacent-column contrast
    // everywhere), its 32x32 downscale (same structure, different
    // bytes), an exact copy, and a checkerboard (distinct structure)
    def img(w: Int, h: Int, f: (Int, Int) => Int): Array[Byte] =
      Array.tabulate(w * h * 3) { i =>
        val p = i / 3
        f(p % w, p / w).toByte
      }
    val base = PpmCodec.encode(64, 64, img(64, 64, (x, _) => 255 - x * 255 / 63))
    val small = PpmCodec.resize(base, 32, 32)
    val vert = PpmCodec.encode(64, 64,
      img(64, 64, (x, y) => ((x / 8 + y / 8) % 2) * 255))

    // the hash itself is scale-stable and structure-sensitive
    def dh(b: Array[Byte]) = PpmCodec.dHash(b)
    assert(java.lang.Long.bitCount(dh(base) ^ dh(small)) <= 6,
      s"downscale must stay within the hamming budget: ${java.lang.Long.bitCount(dh(base) ^ dh(small))}")
    assert(java.lang.Long.bitCount(dh(base) ^ dh(vert)) > 20,
      s"distinct structure must be far: ${java.lang.Long.bitCount(dh(base) ^ dh(vert))}")

    val ds = Seq(
      Media(1L, base, 64, 64, "ppm"),
      Media(2L, small, 32, 32, "ppm"),
      Media(3L, base, 64, 64, "ppm"),   // exact copy
      Media(4L, vert, 64, 64, "ppm"),
      Media(5L, Array[Byte](1, 2, 3), 0, 0, "mp4")). // non-image: ignored
      toDS()
    val pairs = Multimodal.nearDuplicateImages(ds, maxHamming = 6)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)),
      s"the duplicate trio must pair up: $pairs")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L),
      s"the vertical gradient must not pair: $pairs")

    val kept = Multimodal.dedupImages(ds, maxHamming = 6)
      .collect().map(_.id).sorted.toSeq
    assert(kept == Seq(1L, 4L, 5L), s"survivors: $kept")
  }

  test("enrichStatic: stream-static broadcast join equals batch; unsafe shapes refuse (r10c)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("k", "tier")
    val in = MemoryStream[(Long, Double)]
    in.addData((1L, 10.0), (2L, 20.0), (3L, 30.0))
    val stream = in.toDF().toDF("user", "v")

    val inner = StreamOps.enrichStatic(stream, dim, col("user") === col("k"))
    // the dim side carries the broadcast hint into every micro-batch
    assert(inner.queryExecution.analyzed.toString.contains("ResolvedHint"))
    val q = inner.writeStream.format("memory").queryName("enrich_inner")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("enrich_inner").select("user", "tier", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(got == Set((1L, "gold", 10.0), (2L, "silver", 20.0)),
      s"inner join must drop the unmatched stream row: $got")

    // left_outer keeps the unmatched stream row with a null dim side
    val left = StreamOps.enrichStatic(stream, dim, col("user") === col("k"), "left_outer")
    val q2 = left.writeStream.format("memory").queryName("enrich_left")
      .outputMode("append").start()
    try q2.processAllAvailable() finally q2.stop()
    val gotLeft = spark.table("enrich_left").select("user", "tier").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    assert(gotLeft == Set((1L, Some("gold")), (2L, Some("silver")), (3L, None)))

    // refusals: append-unsafe join type, swapped sides
    intercept[IllegalArgumentException](
      StreamOps.enrichStatic(stream, dim, col("user") === col("k"), "right_outer"))
    intercept[IllegalArgumentException](
      StreamOps.enrichStatic(dim, dim, col("k") === col("k")))
  }

  test("upsertStream: version-ordered LWW across batches, stale rows refused, axis re-homes (r10d)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = SparkTestSession.tmp("graft-upsert")
    def ts(day: Int): Long = // 2024-01-<day> 10:00:00 UTC in micros
      (java.time.LocalDate.of(2024, 1, day).toEpochDay * 86400L + 36000L) * 1000000L
    val in = MemoryStream[(Long, Long, Double)]
    val stream = in.toDF().toDF("id", "ts_us", "v")
      .select(col("id"), timestamp_micros(col("ts_us")).as("ts"), col("v"))
    val c = Collection.create(spark, root, stream.schema, "ts",
      DatePartitioning("ts", "D"))
    val q = StreamOps.upsertStream(stream, c, Seq("id"),
      struct(col("ts")), "upsert-test", root + "-ckpt")
    def state(): Map[Long, (Long, Double)] =
      c.query().select(col("id"), unix_micros(col("ts")), col("v"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    try {
      // batch 1: two keys; key 1 appears twice IN the batch — the
      // higher version must win intra-batch
      in.addData((1L, ts(2), 10.0), (1L, ts(1), 9.0), (2L, ts(1), 20.0))
      q.processAllAvailable()
      assert(state() == Map(1L -> ((ts(2), 10.0)), 2L -> ((ts(1), 20.0))))
      // batch 2: a STALE update for key 1 (older version — must be
      // refused), a newer version for key 2 (axis moves day 1 -> 3),
      // and a brand-new key 3
      in.addData((1L, ts(1), 99.0), (2L, ts(3), 21.0), (3L, ts(1), 30.0))
      q.processAllAvailable()
      assert(state() == Map(
        1L -> ((ts(2), 10.0)), 2L -> ((ts(3), 21.0)), 3L -> ((ts(1), 30.0))))
      // the re-homed key-2 row lives in the day-3 partition now
      val parts = c.query("ts >= '2024-01-03'").select("id").collect().map(_.getLong(0))
      assert(parts.toSeq == Seq(2L), s"day-3 partition holds: ${parts.toSeq}")
      // exactly-once: the batch marks advanced with the merges
      assert(c.streamHighWaterMark("upsert-test").exists(_ >= 1L))
    } finally q.stop()
    // restart from the checkpoint: no new data, no state change
    val q2 = StreamOps.upsertStream(stream, c, Seq("id"),
      struct(col("ts")), "upsert-test", root + "-ckpt")
    try {
      q2.processAllAvailable()
      assert(state().size == 3)
    } finally q2.stop()
  }

  test("asofJoinStream: watermark finalization, out-of-order rights, timeout wake, late-row drop (r10d)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = 1700000000000000L
    def t(sec: Long) = base + sec * 1000000L
    val inL = MemoryStream[(Long, Long, Long, Double)] // key, id, ts_us, v
    val inR = MemoryStream[(Long, Long, Double)]       // key, ts_us, v
    def shapeL = inL.toDF().toDF("key", "id", "ts_us", "v")
      .select(col("key"), col("id"), timestamp_micros(col("ts_us")).as("ts"), col("v"))
    def shapeR = inR.toDF().toDF("key", "ts_us", "v")
      .select(col("key"), timestamp_micros(col("ts_us")).as("ts"), col("v"))
    // the 20 s delay is the out-of-orderness bound: rights may trail
    // lefts across micro-batches by up to 20 s of event time without
    // being dropped by Spark's stateful-operator late-row filter
    val out = StreamOps.asofJoinStream(shapeL, shapeR,
      "key", "ts", "id", "v", "20 seconds")
    val name = "asof_stream_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    def rows() = spark.table(name)
      .select("id", "asof_ts_us", "asof_v").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).sortBy(_._1).toSeq
    try {
      // batch 1: left at t15 arrives BEFORE the right at t10 does
      inL.addData((1L, 1L, t(15), 100.0)); q.processAllAvailable()
      assert(rows().isEmpty, "nothing finalizes before the watermark moves")
      // batch 2: the matching right arrives OUT-OF-ORDER (t10 < t15 but
      // within the 20 s bound, so it is admitted) plus a later right and
      // a later left; wm after = t25-20 = t5 — still nothing finalized
      inR.addData((1L, t(10), 1.0), (1L, t(20), 2.0))
      inL.addData((1L, 2L, t(25), 200.0)); q.processAllAvailable()
      assert(rows().isEmpty, "watermark t5 has passed no left yet")
      // batch 3: a left at t100 pushes wm to t80, past both pending
      // lefts: t15 finalizes against the out-of-order t10 right (NOT
      // the later t20 one), t25 against t20 — exactly once each
      inL.addData((1L, 99L, t(100), 0.0)); q.processAllAvailable()
      assert(rows() == Seq((1L, Some(t(10)), Some(1.0)),
                           (2L, Some(t(20)), Some(2.0))))
      // timeout wake: data on ANOTHER key advances the watermark to
      // t280; key 1 receives nothing but its pending t100 left must
      // emit via the event-time timeout, matching the floor right t20
      // (the one sub-watermark right the pruning keeps alive)
      inL.addData((2L, 50L, t(300), 0.0)); q.processAllAvailable()
      val afterTimeout = rows()
      assert(afterTimeout.find(_._1 == 99L).contains((99L, Some(t(20)), Some(2.0))),
        s"pending left must emit on timeout without key data: $afterTimeout")
      // late-row contract: a left far below the watermark is DROPPED by
      // Spark's input filter before the state function sees it — it
      // never emits, the same contract as Spark's stream-stream joins
      inL.addData((1L, 97L, t(5), 0.0)); q.processAllAvailable()
      inL.addData((2L, 51L, t(400), 0.0)); q.processAllAvailable()
      assert(!rows().exists(_._1 == 97L), "late left must be dropped, not joined")
    } finally q.stop()
  }

  test("asofJoinStream property: random interleaved arrival equals the batch as-of (r10e)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the watermark delay covers the whole data span, so no arrival
    // order can drop a row as late; far-future sentinel rights then
    // push the watermark past every left — the finalized output must be
    // the batch argmax-(ts, v) right at-or-before each left, per key,
    // for EVERY random interleaving
    val rnd = new scala.util.Random(0xa50fL)
    val base = 1700000000000000L
    def t(min: Int) = base + min * 60000000L
    for (iter <- 1 to 3) {
      // a coarse minute grid over few keys FORCES timestamp ties
      val lefts = (1 to 12 + rnd.nextInt(8)).map(i =>
        (rnd.nextInt(3).toLong, 100L + i, t(rnd.nextInt(40)), i * 1.0))
      val rights = (1 to 12 + rnd.nextInt(8)).map(i =>
        (rnd.nextInt(3).toLong, t(rnd.nextInt(40)), i * 10.0))
      val inL = MemoryStream[(Long, Long, Long, Double)] // key, id, ts_us, v
      val inR = MemoryStream[(Long, Long, Double)]       // key, ts_us, v
      def shapeL = inL.toDF().toDF("key", "id", "ts_us", "v")
        .select(col("key"), col("id"), timestamp_micros(col("ts_us")).as("ts"), col("v"))
      def shapeR = inR.toDF().toDF("key", "ts_us", "v")
        .select(col("key"), timestamp_micros(col("ts_us")).as("ts"), col("v"))
      val out = StreamOps.asofJoinStream(shapeL, shapeR,
        "key", "ts", "id", "v", "1 hour")
      val name = s"asof_prop_${iter}_" + java.util.UUID.randomUUID().toString.take(8)
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        var lRem = rnd.shuffle(lefts); var rRem = rnd.shuffle(rights)
        while (lRem.nonEmpty || rRem.nonEmpty) {
          if (lRem.nonEmpty) {
            val n = 1 + rnd.nextInt(math.min(6, lRem.size))
            inL.addData(lRem.take(n)); lRem = lRem.drop(n)
          }
          if (rRem.nonEmpty) {
            val n = 1 + rnd.nextInt(math.min(6, rRem.size))
            inR.addData(rRem.take(n)); rRem = rRem.drop(n)
          }
          if (rnd.nextBoolean()) q.processAllAvailable()
        }
        q.processAllAvailable()
        // sentinels: two watermark pushes past every left + the delay,
        // on every key (unmatchable: they postdate every left)
        for (d <- Seq(5000, 5100)) {
          inR.addData((0L until 3L).map(k => (k, t(d), 0.0)): _*)
          q.processAllAvailable()
        }
        val got = spark.table(name).collect().map { r =>
          (r.getLong(1), (if (r.isNullAt(4)) None else Some(r.getLong(4)),
            if (r.isNullAt(5)) None else Some(r.getDouble(5))))
        }.toMap
        val want = lefts.map { case (k, id, lts, _) =>
          val m = rights.filter(r => r._1 == k && r._2 <= lts)
            .sortBy(r => (r._2, r._3)).lastOption
          (id, (m.map(_._2), m.map(_._3)))
        }.toMap
        assert(got == want,
          s"iter $iter: diff=${(want.toSet -- got.toSet) ++ (got.toSet -- want.toSet)}")
      } finally q.stop()
    }
  }

  test("upsertStream property: random batch orders converge to the global version argmax (r10d)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(41)
    // unique (id, version) pairs so LWW is total; versions deliberately
    // SHUFFLED across batches so later batches often carry older
    // versions — the stale-refusal path does real work
    val rows = rnd.shuffle((for (id <- 0L until 8L; ver <- 0L until 12L)
      yield (id, ver, id * 1000.0 + ver)).toList)
    val batches = rows.grouped(24).toList
    val expect = rows.groupBy(_._1).map { case (id, rs) => id -> rs.maxBy(_._2) }
    val root = SparkTestSession.tmp("graft-upsert-prop")
    val in = MemoryStream[(Long, Long, Double)]
    val stream = in.toDF().toDF("id", "ver", "v")
      .select(col("id"), timestamp_micros(col("ver") * 86400000000L + 1700000000000000L).as("ts"),
        col("ver"), col("v"))
    val c = Collection.create(spark, root, stream.schema, "ts",
      DatePartitioning("ts", "D"))
    val q = StreamOps.upsertStream(stream, c, Seq("id"),
      col("ver"), "upsert-prop", root + "-ckpt")
    try {
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
    } finally q.stop()
    val got = c.query().select("id", "ver", "v").collect()
      .map(r => r.getLong(0) -> ((r.getLong(0), r.getLong(1), r.getDouble(2)))).toMap
    assert(got == expect,
      s"final state must be the per-key version argmax independent of batching")
  }
}
