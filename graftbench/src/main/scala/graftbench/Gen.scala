package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, timestamp_micros}
import org.apache.spark.sql.types._

/** Stateless seeded randomness: every value is a hash of (seed, stream,
  * index), so Spark tasks and the client-side oracles regenerate the same
  * inputs without sharing state. */
object Gen {
  private def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def hash(seed: Long, stream: Long, i: Long): Long =
    mix(mix(seed * 0x632BE59BD9B4E019L + stream) + i)
  def uniform(seed: Long, stream: Long, i: Long): Double =
    (hash(seed, stream, i) >>> 11) * (1.0 / (1L << 53))
  def below(seed: Long, stream: Long, i: Long, n: Long): Long =
    java.lang.Long.remainderUnsigned(hash(seed, stream, i), n)
  /** A day index in [0, days) that favours recent days: the density
    * rises as the cube of recency. */
  def recentDay(seed: Long, stream: Long, i: Long, days: Int): Int = {
    val u = uniform(seed, stream, i)
    days - 1 - math.min(days - 1, math.floor(days * u * u * u).toInt)
  }
}

/** One event row. `ts` is epoch microseconds. */
final case class Event(ts: Long, event_id: Long, user_id: Long, etype: String, v: Double)

/** The event stream read_mix and write_mix store: `rowsPerDay` events a
  * day, `event_id = day * rowsPerDay + i` in time order, user ids drawn
  * from `users`, and `v` with two decimals. */
final case class Events(seed: Long, rowsPerDay: Int, users: Long) {
  import Events._

  def dayStartUs(day: Int): Long = Epoch + day.toLong * DayUs

  def event(day: Int, i: Int): Event = {
    val id = day.toLong * rowsPerDay + i
    Event(dayStartUs(day) + i.toLong * (DayUs / rowsPerDay), id,
      Gen.below(seed, 1, id, users), Types(Gen.below(seed, 2, id, Types.length).toInt),
      Gen.below(seed, 3, id, 100000) / 100.0)
  }

  /** Days [from, until) as a DataFrame, generated inside Spark tasks. */
  def frame(spark: SparkSession, from: Int, until: Int): DataFrame = {
    import spark.implicits._
    val self = this
    spark.range(from.toLong * rowsPerDay, until.toLong * rowsPerDay,
        1, math.max(1, spark.sparkContext.defaultParallelism))
      .as[Long]
      .map(id => self.event((id / self.rowsPerDay).toInt, (id % self.rowsPerDay).toInt))
      .toDF()
      .select(timestamp_micros(col("ts")).as("ts"), col("event_id"), col("user_id"),
        col("etype"), col("v"))
  }
}

object Events {
  /** 2024-01-01T00:00:00Z. */
  val Epoch: Long = 1704067200L * 1000000L
  val DayUs: Long = 86400L * 1000000L
  val Types: Array[String] = Array("click", "view", "purchase", "share")
  val Schema: StructType = StructType(Seq(
    StructField("ts", TimestampType), StructField("event_id", LongType),
    StructField("user_id", LongType), StructField("etype", StringType),
    StructField("v", DoubleType)))

  def ymd(day: Int): (Int, Int, Int) = {
    val d = java.time.LocalDate.of(2024, 1, 1).plusDays(day.toLong)
    (d.getYear, d.getMonthValue, d.getDayOfMonth)
  }
  /** The graft filter selecting one day's partition by its key. */
  def partitionFilter(day: Int): String = {
    val (y, m, d) = ymd(day)
    s"year == $y and month == $m and day == $d"
  }
  def tsLiteral(us: Long): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochSecond(us / 1000000L))

  /** Order-independent checksum of a row set: a sum of one integer per
    * row, small enough that Spark's ANSI long sum cannot overflow. */
  def rowHash(eventId: Long, userId: Long): Long =
    java.lang.Math.floorMod(eventId * 1000003L + userId, 2147483647L)
  val RowHashSql = "pmod(event_id * 1000003 + user_id, 2147483647)"
}

/** Result of one read, reduced to what the oracle can recompute. */
final case class ReadResult(rows: Long, hash: Long, sumV: Double) {
  def matches(o: ReadResult): Boolean =
    rows == o.rows && hash == o.hash &&
      math.abs(sumV - o.sumV) <= 1e-6 * math.max(1.0, math.abs(o.sumV))
}
