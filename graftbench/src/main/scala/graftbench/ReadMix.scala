package graftbench

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.core.{Collection, DatePartitioning}

/** read_mix: read-only operations over a seeded daily-partitioned event
  * collection with zone maps on the time axis and `event_id`, a bloom
  * filter on `user_id`, and deletion vectors applied at set-up. Reads
  * favour recent days. Half go through one long-lived handle, which is
  * the cache-fit case; the rest open a fresh handle or go through SQL,
  * which opens one per statement, and so take the cache-miss path.
  *
  * Every read is checked against a client-side oracle over the generated
  * rows, and set-up checks the whole collection against plain Spark over
  * the same generated rows. */
final class ReadMix extends Workload {
  private val Days = 48
  private val RowsPerDay = 1000
  private val Users = 10000L
  private val DeletedUsers = 30

  private var ev: Events = _
  private var root: String = _
  private var hot: Collection = _
  // oracle state, indexed by event_id
  private var userOf: Array[Long] = _
  private var typeOf: Array[Int] = _
  private var vOf: Array[Double] = _
  private var live: Array[Boolean] = _
  private var byUser: Map[Long, Array[Int]] = _
  /** The users bloom lookups pick from: those with the typical number of
    * events (48000 events over 10000 users), so that the number of files
    * a lookup reads, and with it its cost, does not depend on which user
    * the seed draws. */
  private var lookupUsers: Array[Long] = _
  private val LookupUserEvents = 5
  private var deleted: Set[Long] = _
  private var firsts: Set[Long] = _

  def setup(h: Harness): Unit = {
    val spark = h.spark
    ev = Events(h.seed, RowsPerDay, Users)
    root = s"${h.dir}/warehouse/bench/events"
    val c = Collection.create(spark, root, Events.Schema, "ts",
      DatePartitioning("ts", "D"), overwrite = true,
      attrs = Map(Collection.DvEnabledAttr -> "true"),
      statsColumns = Seq("event_id"), bloomColumns = Seq("user_id"),
      bloomNdv = Map("user_id" -> Users))
    h.step("read_mix insert") { c.insert(ev.frame(spark, 0, Days)) }
    deleted = (0 until DeletedUsers).map(k => Gen.below(h.seed, 10, k, Users)).toSet
    // the first event of every data file, from the parquet footers: the
    // delete below then gives every file a deletion vector, whatever
    // way the insert split the days into files (see probeMixedDvScan)
    firsts = h.step("read_mix list files") {
      val conf = spark.sparkContext.hadoopConfiguration
      Host.dataFiles(root).map { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(s"$root/$f"), conf))
        try r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
          .filter(_.getPath.toDotString == "event_id")
          .map(_.getStatistics.genericGetMin.asInstanceOf[java.lang.Long].longValue).min
        finally r.close()
      }
    }
    h.step("read_mix delete") {
      c.deleteWhere(s"user_id in (${deleted.toSeq.sorted.mkString(", ")}) or " +
        s"event_id in (${firsts.toSeq.sorted.mkString(", ")})")
    }

    val n = Days * RowsPerDay
    userOf = new Array[Long](n); typeOf = new Array[Int](n)
    vOf = new Array[Double](n); live = new Array[Boolean](n)
    var id = 0
    while (id < n) {
      val e = ev.event(id / RowsPerDay, id % RowsPerDay)
      userOf(id) = e.user_id
      typeOf(id) = Events.Types.indexOf(e.etype)
      vOf(id) = e.v
      live(id) = !deleted.contains(e.user_id) && !firsts.contains(e.event_id)
      id += 1
    }
    byUser = (0 until n).groupBy(i => userOf(i)).map { case (u, ids) => u -> ids.toArray }
    lookupUsers = byUser.collect { case (u, ids) if ids.length == LookupUserEvents => u }
      .toArray.sorted

    hot = Collection.open(spark, root)
  }

  /** Reads are short next to the one-off cost of their first runs in a
    * JVM (class loading, code generation, JIT), which set-up does not
    * pay for them. Over 12 rounds in one JVM on a 4-core host, rounds
    * took 5.8, 5.8, 5.0, then 4.7-5.3 s. Two warm-up rounds are what
    * the time budget of a run leaves room for. */
  override def warmupRounds: Int = 2

  /** The whole collection against plain Spark over the generated rows. */
  override def checkFixture(h: Harness): Unit = {
    val plain = aggregate(ev.frame(h.spark, 0, Days)
      .where(!col("user_id").isin(deleted.toSeq: _*) && !col("event_id").isin(firsts.toSeq: _*)))
    val stored = aggregate(hot.query())
    h.check(stored.matches(plain), s"read_mix fixture: graft $stored vs plain Spark $plain")
    h.check(oracleRange(0, Days * RowsPerDay).matches(plain),
      "read_mix oracle disagrees with plain Spark")
  }

  private def aggregate(df: DataFrame): ReadResult = {
    val r = df.agg(count(lit(1)), coalesce(sum(expr(Events.RowHashSql)), lit(0L)),
      coalesce(sum(col("v")), lit(0.0))).head()
    ReadResult(r.getLong(0), r.getLong(1), r.getDouble(2))
  }

  private def collected(rows: Array[Row]): ReadResult =
    ReadResult(rows.length,
      rows.map(r => Events.rowHash(r.getLong(0), r.getLong(1))).sum,
      rows.map(_.getDouble(2)).sum)

  private def oracleIds(ids: Iterator[Int]): ReadResult = {
    var rows = 0L; var hash = 0L; var sv = 0.0
    ids.filter(live).foreach { i =>
      rows += 1; hash += Events.rowHash(i, userOf(i)); sv += vOf(i)
    }
    ReadResult(rows, hash, sv)
  }
  private def oracleRange(from: Int, until: Int): ReadResult =
    oracleIds(Iterator.range(math.max(0, from), math.min(until, Days * RowsPerDay)))

  /** What each skip layer kept for `filter`, counted outside the timed
    * operation. */
  private def pruning(h: Harness, filter: String): Unit =
    if (h.tracer.enabled) h.untimed {
      val p = hot.explainPruning(filter)
      h.ratio("core.plan.subtrees_kept_ratio", p.subtreesKept, p.subtreesTotal)
      h.ratio("core.plan.partitions_kept_ratio", p.partitionsKept, p.partitionsTotal)
      h.ratio("core.plan.files_after_stats_ratio", p.filesAfterStats, p.filesListed)
      h.ratio("core.plan.files_after_bloom_ratio", p.filesAfterBloom, p.filesAfterStats)
    }

  /** A filtered read through a graft handle: frame build, then the scan. */
  private def graftRead(h: Harness, c: Collection, label: String, filter: String,
                        point: Boolean): ReadResult = {
    val df = h.span("core.plan", "query") { c.query(filter) }
    h.span("sources.scan", label) {
      val r =
        if (point) collected(df.select("event_id", "user_id", "v").collect())
        else aggregate(df)
      h.attr("rows", r.rows.toDouble)
      r
    }
  }

  private def fresh(h: Harness): Collection =
    h.span("core.plan", "open") { Collection.open(h.spark, root) }

  def round(h: Harness, i: Int): Unit = {
    val seed = h.seed
    val k = i.toLong
    def day(stream: Long) = Gen.recentDay(seed, stream, k, Days)
    def user(stream: Long) = lookupUsers(Gen.below(seed, stream, k, lookupUsers.length).toInt)
    def expect(what: String, got: Option[ReadResult], want: => ReadResult): Unit =
      got.foreach(g => h.check(g.matches(want), s"read_mix $what: got $g, oracle $want"))

    // partition-point lookup: one event by its day's partition key
    val d1 = day(20)
    val e1 = d1 * RowsPerDay + Gen.below(seed, 21, k, RowsPerDay).toInt
    val f1 = s"${Events.partitionFilter(d1)} and event_id == $e1"
    expect(s"point_partition $f1",
      h.op("point_partition", "point_read") { graftRead(h, hot, "point_partition", f1, point = true) },
      oracleIds(Iterator(e1)))
    pruning(h, f1)

    // bloom point lookup: one user's events over every day
    val f2 = s"user_id == ${user(22)}"
    expect(s"point_bloom $f2",
      h.op("point_bloom", "point_read") { graftRead(h, hot, "point_bloom", f2, point = true) },
      oracleIds(byUser.getOrElse(user(22), Array.empty[Int]).iterator))
    pruning(h, f2)

    // partition row count answered from manifest metadata
    val d3 = day(23)
    val got3 = h.op("count_meta", "point_read") {
      h.span("core.plan", "count") { hot.countRows(Events.partitionFilter(d3)) }
    }
    got3.foreach(g => h.check(g == oracleRange(d3 * RowsPerDay, (d3 + 1) * RowsPerDay).rows,
      s"read_mix count_meta day $d3: got $g"))

    // axis range: the week ending on a recent day
    val d4 = day(24)
    val f4 = axisRange(d4 - 6, d4 + 1)
    expect(s"axis_range $f4",
      h.op("axis_range", "scan_read") { graftRead(h, hot, "axis_range", f4, point = false) },
      oracleRange((d4 - 6) * RowsPerDay, (d4 + 1) * RowsPerDay))
    pruning(h, f4)

    // zone-map range on event_id, three days wide, not aligned to days
    val lo5 = Gen.below(seed, 25, k, (Days - 3).toLong * RowsPerDay).toInt
    val f5 = s"event_id >= $lo5 and event_id < ${lo5 + 3 * RowsPerDay}"
    expect(s"zonemap_range $f5",
      h.op("zonemap_range", "scan_read") { graftRead(h, hot, "zonemap_range", f5, point = false) },
      oracleRange(lo5, lo5 + 3 * RowsPerDay))
    pruning(h, f5)

    // projected full aggregate
    val got6 = h.op("full_aggregate", "scan_read") {
      val df = h.span("core.plan", "query") { hot.query(variables = Seq("etype", "v")) }
      h.span("sources.scan", "full_aggregate") {
        val rs = df.groupBy("etype").agg(count(lit(1)), sum(col("v"))).collect()
          .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
        h.attr("rows", rs.values.map(_._1).sum.toDouble)
        rs
      }
    }
    got6.foreach { g =>
      val want = Events.Types.indices.map { t =>
        var n = 0L; var sv = 0.0
        var id = 0
        while (id < live.length) {
          if (live(id) && typeOf(id) == t) { n += 1; sv += vOf(id) }
          id += 1
        }
        Events.Types(t) -> (n, sv)
      }.filter(_._2._1 > 0).toMap
      h.check(g.keySet == want.keySet && want.forall { case (t, (n, sv)) =>
        g(t)._1 == n && math.abs(g(t)._2 - sv) <= 1e-6 * math.max(1.0, sv) },
        s"read_mix full_aggregate: got $g, oracle $want")
    }

    // the same point and range shapes through a fresh handle
    val u7 = user(27)
    expect(s"point_bloom_fresh user $u7",
      h.op("point_bloom_fresh", "point_read") {
        graftRead(h, fresh(h), "point_bloom_fresh", s"user_id == $u7", point = true)
      },
      oracleIds(byUser.getOrElse(u7, Array.empty[Int]).iterator))
    val d8 = day(28)
    expect(s"axis_range_fresh day $d8",
      h.op("axis_range_fresh", "scan_read") {
        graftRead(h, fresh(h), "axis_range_fresh", axisRange(d8 - 2, d8 + 1), point = false)
      },
      oracleRange((d8 - 2) * RowsPerDay, (d8 + 1) * RowsPerDay))

    // SQL: the DataFrame source, then a catalog table
    val u9 = user(29)
    expect(s"sql_format user $u9",
      h.op("sql_format", "sql_read") {
        h.span("sources.scan", "sql_format") {
          val r = aggregate(h.spark.read.format("graft").load(root).where(col("user_id") === u9))
          h.attr("rows", r.rows.toDouble)
          r
        }
      },
      oracleIds(byUser.getOrElse(u9, Array.empty[Int]).iterator))
    val d10 = day(30)
    val (lo10, hi10) = (ev.dayStartUs(d10 - 2), ev.dayStartUs(d10 + 1))
    expect(s"sql_catalog day $d10",
      h.op("sql_catalog", "sql_read") {
        h.span("sources.scan", "sql_catalog") {
          val r = aggregate(h.spark.sql(
            s"SELECT * FROM ${Main.Catalog}.bench.events WHERE ts >= TIMESTAMP'" +
              s"${Events.tsLiteral(lo10)}' AND ts < TIMESTAMP'${Events.tsLiteral(hi10)}'"))
          h.attr("rows", r.rows.toDouble)
          r
        }
      },
      oracleRange((d10 - 2) * RowsPerDay, (d10 + 1) * RowsPerDay))
  }

  private def axisRange(fromDay: Int, untilDay: Int): String =
    s"ts >= '${Events.tsLiteral(ev.dayStartUs(math.max(0, fromDay)))}' and " +
      s"ts < '${Events.tsLiteral(ev.dayStartUs(untilDay))}'"

  def finish(h: Harness): Unit = {
    h.check(hot.countRows() == live.count(identity), "read_mix live row count")
    probeMixedDvScan(h)
  }

  /** Open defect 2 (see NOTES.md): a native scan over files with and
    * without a deletion vector fails. Set-up gives every file of the
    * fixture a deletion vector, so the timed reads never mix them; this
    * probe mixes them on a two-day collection, after the timed loop, and
    * reports whether the defect still reproduces. */
  private def probeMixedDvScan(h: Harness): Unit = {
    val probeRoot = s"${h.dir}/probe-mixed-dv"
    val c = Collection.create(h.spark, probeRoot, Events.Schema, "ts",
      DatePartitioning("ts", "D"), overwrite = true,
      attrs = Map(Collection.DvEnabledAttr -> "true"))
    c.insert(ev.frame(h.spark, 0, 2))
    c.deleteWhere(s"event_id == ${RowsPerDay / 2}")
    val outcome =
      try {
        aggregate(h.spark.read.format("graft").load(probeRoot))
        "not reproduced"
      } catch { case NonFatal(e) => s"reproduced: ${e.getMessage}".take(200) }
    h.defects("mixed_dv_scan") = outcome
  }

  def storage(h: Harness): (Long, Long) = (Host.duBytes(root), hot.countRows())

  def extraMetrics(traced: Boolean, seconds: Double): Seq[(String, Double, String, Int)] = Nil
}
