package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, timestamp_micros}

import graft.core.{Collection, DatePartitioning, MergeStrategy}

/** write_mix: repeated maintenance cycles on a daily-partitioned event
  * collection with deletion vectors enabled. One cycle is one round:
  *
  *  1. append a new day;
  *  1. a late-data `TimeSeries` merge into the day before;
  *  1. a `mergeInto` correction batch (updates and new events);
  *  1. `deleteWhere`, then `updateWhere`;
  *  1. SQL DELETE or MERGE through the catalog, alternating;
  *  1. every third cycle from the first, `compact` of the recent days
  *     and `vacuum`;
  *  1. a `replicateChanges` consumer catch-up into a replica.
  *
  * `retainGenerations` covers more than one cycle, so the change feed
  * can still read the files a cycle rewrote. A client-side model applies
  * every successful operation; at the end the source must match the
  * model and the replica must match the source. */
final class WriteMix extends Workload {
  private val InitialDays = 20
  private val RowsPerDay = 500
  private val Users = 2000L
  private val LateRows = 20
  private val Corrections = 40
  private val NewInMerge = 10
  private val SqlMergeRows = 20
  private val CompactEvery = 3
  private val Retain = 16
  /** First event id of rows that are not part of a generated day. */
  private val FreshIds = 1L << 40

  private var ev: Events = _
  private var root: String = _
  private var src: Collection = _
  private var mirror: Mirror = _
  private var model: mutable.LongMap[Event] = _
  private var nextDay = 0
  private var nextId = FreshIds
  /** User rows committed by recorded operations, by whether the round
    * was traced. */
  private val ingested = mutable.Map(false -> 0L, true -> 0L)

  def setup(h: Harness): Unit = {
    val spark = h.spark
    ev = Events(h.seed, RowsPerDay, Users)
    root = s"${h.dir}/warehouse/bench/events_w"
    src = Collection.create(spark, root, Events.Schema, "ts", DatePartitioning("ts", "D"),
      overwrite = true, attrs = Map(Collection.DvEnabledAttr -> "true"),
      retainGenerations = Retain, statsColumns = Seq("event_id"),
      bloomColumns = Seq("user_id"), bloomNdv = Map("user_id" -> Users))
    h.step("write_mix insert") { src.insert(ev.frame(spark, 0, InitialDays)) }
    model = mutable.LongMap.empty
    for (d <- 0 until InitialDays; i <- 0 until RowsPerDay) {
      val e = ev.event(d, i)
      model(e.event_id) = e
    }
    val replica = Collection.create(spark, s"${h.dir}/replica", Events.Schema, "ts",
      DatePartitioning("ts", "D"), overwrite = true, statsColumns = Seq("event_id"))
    mirror = new Mirror(src, replica, Seq("event_id"), s"${h.dir}/cdc-checkpoint")
    h.step("write_mix replica seed") { mirror.catchUp(h) }
    nextDay = InitialDays
    nextId = FreshIds
  }

  private def frame(spark: SparkSession, rows: Seq[Event]): DataFrame = {
    import spark.implicits._
    rows.toDF().select(timestamp_micros(col("ts")).as("ts"), col("event_id"),
      col("user_id"), col("etype"), col("v"))
  }

  /** A new event at `ts` with the next fresh id. */
  private def fresh(ts: Long): Event = {
    val id = nextId
    nextId += 1
    Event(ts, id, Gen.below(ev.seed, 40, id, Users),
      Events.Types(Gen.below(ev.seed, 41, id, Events.Types.length).toInt),
      Gen.below(ev.seed, 42, id, 100000) / 100.0)
  }

  private def ingest(h: Harness, n: Int): Unit =
    if (h.recording) ingested(h.tracer.enabled) += n

  /** One committing call, timed as an operation of the `commit` group. */
  private def commit(h: Harness, kind: String, layer: String, rows: Int)(body: => Unit): Boolean = {
    val before = if (h.tracer.enabled) h.untimed(Host.dataFiles(root)) else Set.empty[String]
    val ok = h.op(kind, "commit") {
      h.span(layer, kind) {
        body
        h.attr("rows", rows)
      }
    }.isDefined
    if (ok && h.tracer.enabled)
      h.tracer.spans.reverseIterator.find(s => s.parent >= 0 && s.label == kind)
        .foreach(_.attrs("files_added") = h.untimed((Host.dataFiles(root) -- before).size))
    ok
  }

  def round(h: Harness, i: Int): Unit = {
    val spark = h.spark
    val seed = ev.seed
    val k = i.toLong + 1

    // 1. a new day
    val day = nextDay
    val rows = (0 until RowsPerDay).map(ev.event(day, _))
    if (commit(h, "insert.Replace", "core.write", rows.size) { src.insert(ev.frame(spark, day, day + 1)) }) {
      rows.foreach(e => model(e.event_id) = e)
      ingest(h, rows.size)
    }
    nextDay += 1

    // 2. late data for one hour of the day before: TimeSeries drops the
    // stored rows inside the batch's time window and adds the batch
    val lateDay = day - 1
    val hourStart = ev.dayStartUs(lateDay) + Gen.below(seed, 43, k, 24) * 3600L * 1000000L
    val late = (0 until LateRows).map { j =>
      fresh(hourStart + Gen.below(seed, 44, k * 1000 + j, 3600L * 1000000L))
    }
    val (lo, hi) = (late.map(_.ts).min, late.map(_.ts).max)
    if (commit(h, "insert.TimeSeries", "core.write", late.size) {
        src.insert(frame(spark, late), MergeStrategy.TimeSeries) }) {
      model.filterInPlace { case (_, e) => !(e.ts >= lo && e.ts <= hi) }
      late.foreach(e => model(e.event_id) = e)
      ingest(h, late.size)
    }

    // 3. corrections: new values for stored events of recent days, plus
    // events that arrived late
    val recent = (math.max(0, day - 6) to day)
    val corrected = (0 until Corrections).flatMap { j =>
      val d = recent(Gen.below(seed, 45, k * 1000 + j, recent.size).toInt)
      model.get(d.toLong * RowsPerDay + Gen.below(seed, 46, k * 1000 + j, RowsPerDay))
    }.distinct.map(e => e.copy(v = e.v + 0.5))
    val added = (0 until NewInMerge).map { j =>
      fresh(ev.dayStartUs(day) + Gen.below(seed, 47, k * 1000 + j, Events.DayUs))
    }
    val batch = corrected ++ added
    if (commit(h, "mergeInto", "core.write", batch.size) {
        src.mergeInto(frame(spark, batch), Seq("event_id")) }) {
      batch.foreach(e => model(e.event_id) = e)
      ingest(h, batch.size)
    }

    // 4. a user's events deleted, another user's events updated
    val u1 = Gen.below(seed, 48, k, Users)
    if (commit(h, "deleteWhere", "core.write", model.values.count(_.user_id == u1)) {
        src.deleteWhere(s"user_id == $u1") })
      model.filterInPlace { case (_, e) => e.user_id != u1 }
    val u2 = Gen.below(seed, 49, k, Users)
    if (commit(h, "updateWhere", "core.write", model.values.count(_.user_id == u2)) {
        src.updateWhere(s"user_id == $u2", Map("v" -> "v + 1.0")) })
      model.mapValuesInPlace { case (_, e) => if (e.user_id == u2) e.copy(v = e.v + 1.0) else e }

    // 5. SQL through the catalog
    val table = s"${Main.Catalog}.bench.events_w"
    if (k % 2 == 0) {
      val u3 = Gen.below(seed, 50, k, Users)
      if (commit(h, "sql.delete", "sources.dml", model.values.count(_.user_id == u3)) {
          spark.sql(s"DELETE FROM $table WHERE user_id = $u3").collect() })
        model.filterInPlace { case (_, e) => e.user_id != u3 }
    } else {
      val ups = (0 until SqlMergeRows / 2).flatMap { j =>
        model.get(day.toLong * RowsPerDay + Gen.below(seed, 51, k * 1000 + j, RowsPerDay))
      }.distinct.map(e => e.copy(v = e.v + 2.0))
      val ins = (0 until SqlMergeRows / 2).map { j =>
        fresh(ev.dayStartUs(day) + Gen.below(seed, 52, k * 1000 + j, Events.DayUs))
      }
      val merged = ups ++ ins
      frame(spark, merged).createOrReplaceTempView("graftbench_merge_src")
      if (commit(h, "sql.merge", "sources.dml", merged.size) {
          spark.sql(s"""MERGE INTO $table t USING graftbench_merge_src s
                        ON t.event_id = s.event_id
                        WHEN MATCHED THEN UPDATE SET *
                        WHEN NOT MATCHED THEN INSERT *""").collect() }) {
        merged.foreach(e => model(e.event_id) = e)
        ingest(h, merged.size)
      }
    }

    // 6. periodic compaction of the recent days, then vacuum of what
    // retention no longer covers
    if (k % CompactEvery == 1) {
      val days = (math.max(0, day - 2) to day).map(d => s"(${Events.partitionFilter(d)})")
      commit(h, "compact", "core.write", 0) {
        src.compact(days.mkString(" or "))
        src.vacuum(graceMs = 0L)
      }
    }

    // 7. the change-feed consumer catches up
    h.op("cdc_catchup", "cdc_catchup") { h.span("streaming", "replicateChanges") { mirror.catchUp(h) } }
  }

  def finish(h: Harness): Unit = {
    val live = src.countRows()
    h.check(live == model.size, s"write_mix live rows: graft $live, op log ${model.size}")
    val (missing, extra) = mirror.differences()
    h.check(missing == 0 && extra == 0,
      s"write_mix replica differs from source: $missing rows missing, $extra extra")
    val got = src.query().selectExpr("count(*)", s"coalesce(sum(${Events.RowHashSql}), 0)", "sum(v)").head()
    val want = ReadResult(model.size, model.values.map(e => Events.rowHash(e.event_id, e.user_id)).sum,
      model.values.map(_.v).sum)
    h.check(ReadResult(got.getLong(0), got.getLong(1), got.getDouble(2)).matches(want),
      s"write_mix source checksum differs from the op log: $got vs $want")
  }

  def storage(h: Harness): (Long, Long) = (Host.duBytes(root), src.countRows())

  def extraMetrics(traced: Boolean, seconds: Double): Seq[(String, Double, String, Int)] =
    Seq(("ingest_rows_per_s", ingested(traced) / math.max(seconds, 1e-9), "rows/s",
      ingested(traced).toInt))
}
