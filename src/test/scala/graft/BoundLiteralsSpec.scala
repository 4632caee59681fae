package graft

import java.sql.{Date, Timestamp}
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.time.temporal.ChronoUnit

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Literal => CatalystLiteral}
import org.apache.spark.sql.execution.{ColumnarToRowExec, FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Collection, DatePartitioning}
import graft.plans.BoundLiteral

/** Classes Spark's code generator compiled while `f` ran, read off the
  * JVM-wide compile-time histogram (suites run one at a time). */
object CodegenProbe {
  def compiles(f: => Any): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    f
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }
}

/** Graft reads bind their residual filter's constants as code
  * parameters ([[graft.plans.BoundLiterals]]): a read that differs from
  * the last one only in its constants compiles nothing, returns what
  * plain Spark returns, and plans, pushes and prints as before. */
class BoundLiteralsSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = {
    val s = SparkTestSession.spark
    s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft.warehouse", CatalogSpec.warehouse)
    s
  }

  private val Schema = StructType(Seq(
    StructField("ts", TimestampType), StructField("id", LongType),
    StructField("k", IntegerType), StructField("v", DoubleType),
    StructField("d", DateType)))
  private val Rows = 400
  private val T0 = LocalDateTime.of(2024, 3, 1, 0, 0).toEpochSecond(ZoneOffset.UTC) * 1000000L
  private val DayUs = 86400L * 1000000L

  private def instant(us: Long): Instant = Instant.EPOCH.plus(us, ChronoUnit.MICROS)
  private def tsOf(us: Long): Timestamp = Timestamp.from(instant(us))
  /** `us` as a UTC timestamp literal, the session zone. */
  private def tsText(us: Long): String =
    DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
      .format(LocalDateTime.ofInstant(instant(us), ZoneOffset.UTC))

  /** Row `i`: one every 15 minutes and 7 micros from T0 (four days and
    * a bit), so every day partition spans several write tasks. */
  private def row(i: Int): Row = {
    val us = T0 + i * (15L * 60 * 1000000 + 7)
    Row(tsOf(us), i.toLong, i % 37, i * 0.25,
      Date.valueOf(LocalDate.ofInstant(instant(us), ZoneOffset.UTC)))
  }

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), Schema)

  /** Creates `graft.bound.<name>`; with `dv`, every tenth row is deleted
    * through a deletion vector, which lands on every file. */
  private def collection(name: String, rows: Seq[Row], dv: Boolean): Collection = {
    val c = Collection.create(spark, s"${CatalogSpec.warehouse}/bound/$name", Schema, "ts",
      DatePartitioning("ts", "D"), overwrite = true,
      attrs = if (dv) Map(Collection.DvEnabledAttr -> "true") else Map.empty,
      statsColumns = Seq("id"))
    c.insert(frame(rows))
    if (dv) c.deleteWhere(s"id in (${rows.map(_.getLong(1)).filter(_ % 10 == 0).mkString(", ")})")
    c
  }

  private lazy val plain = collection("plain", (0 until Rows).map(row), dv = false)
  private lazy val withDv = collection("dv", (0 until Rows).map(row), dv = true)

  private def finalPlan(df: DataFrame): SparkPlan = {
    df.collect()
    stripAQEPlan(df.queryExecution.executedPlan)
  }
  private def filters(df: DataFrame): Seq[FilterExec] =
    collect(finalPlan(df)) { case f: FilterExec => f }
  private def bound(df: DataFrame): Seq[BoundLiteral] =
    filters(df).flatMap(_.condition.collect { case b: BoundLiteral => b })

  /** The three read faces over table `name`, each filtered to rows with
    * `id` in [lo, lo + 60), `v` >= `vMin` and `ts` at or after day `day`,
    * then read twice: as rows (no shuffle) and as an aggregate (a
    * shuffle, so the adaptive path). */
  private def faces(c: Collection, name: String): Seq[(String, (Long, Double, Int) => Unit)] = {
    val root = s"${CatalogSpec.warehouse}/bound/$name"
    def dayStart(day: Int) = tsText(T0 + day * DayUs)
    def run(df: DataFrame): Unit = {
      df.select("id", "v").collect()
      df.agg(count(lit(1)), sum("v")).collect()
    }
    Seq(
      "Collection.query" -> ((lo: Long, vMin: Double, day: Int) => run(c.query(
        s"id >= $lo and id < ${lo + 60} and v >= $vMin and ts >= '${dayStart(day)}'"))),
      "format(graft).load" -> ((lo: Long, vMin: Double, day: Int) => run(
        spark.read.format("graft").load(root).where(col("id") >= lo && col("id") < lo + 60 &&
          col("v") >= vMin && col("ts") >= lit(tsOf(T0 + day * DayUs))))),
      "catalog SQL" -> ((lo: Long, vMin: Double, day: Int) => run(spark.sql(
        s"SELECT * FROM graft.bound.$name WHERE id >= $lo AND id < ${lo + 60} " +
          s"AND v >= $vMin AND ts >= TIMESTAMP'${dayStart(day)}'"))))
  }

  test("a read that differs only in its filter constants compiles nothing") {
    for ((c, name) <- Seq(plain -> "plain", withDv -> "dv");
         (face, read) <- faces(c, name)) {
      read(40L, 11.5, 0)
      val again = CodegenProbe.compiles(read(170L, 47.25, 1))
      assert(again == 0, s"$face over $name compiled $again classes for new constants")
    }
    // the two collections are the two scan shapes: columnar without
    // deletion vectors, row-based with them
    def columnar(df: DataFrame) =
      collect(finalPlan(df)) { case c: ColumnarToRowExec => c }.nonEmpty
    for (face <- Seq((n: String) => spark.table(s"graft.bound.$n"),
                     (n: String) => Collection.open(spark,
                       s"${CatalogSpec.warehouse}/bound/$n").query())) {
      assert(columnar(face("plain").where(col("id") > 3)))
      assert(!columnar(face("dv").where(col("id") > 3)))
    }
  }

  test("bound constants read exactly what plain Spark reads") {
    val edge = Seq(
      Row(tsOf(T0), Long.MinValue, Int.MinValue, Double.NaN, Date.valueOf("1970-01-01")),
      Row(tsOf(T0 + 1000), Long.MaxValue, Int.MaxValue, -0.0, Date.valueOf("2024-03-01")),
      Row(tsOf(T0 + 2000), -1L, -1, 0.0, Date.valueOf("2024-02-29")),
      Row(tsOf(T0 + 3000), 0L, 0, Double.NegativeInfinity, Date.valueOf("1900-01-01")),
      Row(tsOf(T0 + 4000), 1L, 1, Double.PositiveInfinity, Date.valueOf("2100-12-31")))
    val rows = (0 until 120).map(row) ++ edge
    val c = collection("edges", rows, dv = true)
    val reference = frame(rows)
    val t5 = row(5).getTimestamp(0)
    val t90 = row(90).getTimestamp(0)
    val march2 = Date.valueOf("2024-03-02")
    val tenIds = Seq(Long.MinValue, Long.MaxValue, -1L, 0L, 3L, 17L, 44L, 45L, 99L, 1000L)
    val predicates: Seq[Column] = Seq(
      col("id") === Long.MinValue, col("id") > Long.MinValue, col("id") <=> Long.MaxValue,
      col("id") < -1L, col("id") >= 99L,
      col("k") === Int.MinValue, col("k") <= -1, col("k") > 30, col("k") <=> 0,
      col("v") === Double.NaN, col("v") >= Double.NaN, col("v") < Double.NaN,
      col("v") === -0.0, col("v") > -0.0, col("v") <= 0.0, col("v") < -0.0,
      col("v") === Double.PositiveInfinity, col("v") > Double.NegativeInfinity, col("v") > 12.75,
      col("d") === march2, col("d") < Date.valueOf("1970-01-02"), col("d") >= march2,
      col("ts") === t5, col("ts") > t5, col("ts") <= t90, col("ts") <=> t90,
      col("id").isin(tenIds: _*), col("k").isin(-1, 0, 5, 36, Int.MaxValue),
      col("v").isin(Double.NaN, -0.0, 2.5, Double.PositiveInfinity),
      col("d").isin(march2, Date.valueOf("2100-12-31")),
      col("ts").isin(t5, t90, tsOf(T0 + 3000)))
    def ids(df: DataFrame): Seq[Long] = df.select("id").collect().map(_.getLong(0)).sorted.toSeq
    val deleted = rows.map(_.getLong(1)).filter(_ % 10 == 0).toSet
    for (p <- predicates) {
      val want = ids(reference.where(p)).filterNot(deleted)
      for ((face, df) <- Seq(
             "Collection.query" -> c.query().where(p),
             "format(graft).load" -> spark.read.format("graft")
               .load(s"${CatalogSpec.warehouse}/bound/edges").where(p))) {
        assert(ids(df) == want, s"$face where $p")
        assert(bound(df).nonEmpty, s"$face where $p: no constant was bound")
      }
    }
  }

  test("bound constants keep pushdown, pruning counts and plan text") {
    val root = s"${CatalogSpec.warehouse}/bound/plain"

    // the scans' pushed filters carry the real values
    val native = spark.read.format("graft").load(root).where(col("id") === 123L)
    finalPlan(native)
    val pushedAst = ScanPlans.graftScans(native).map(_.report.pushedAst.toString)
    assert(pushedAst.size == 1 && pushedAst.head.contains("Lit(123)"), pushedAst)
    val manifest = plain.query("id == 123")
    val pushed = collect(finalPlan(manifest)) { case f: FileSourceScanExec => f }
      .map(_.metadata("PushedFilters"))
    assert(pushed.size == 1 && pushed.head.contains("EqualTo(id,123)"), pushed)
    assert(manifest.collect().map(_.getAs[Long]("id")).toSeq == Seq(123L))

    // pruning is decided before the rule runs: the zone maps keep the
    // one file holding id 123, and the native scan plans that file
    val p = plain.explainPruning("id == 123")
    assert(p.partitionsTotal == 5 && p.partitionsKept == 5 && p.filesAfterStats == 1, p)
    assert(ScanPlans.graftScans(native).map(_.report.plannedFiles) == Seq(p.filesAfterBloom))

    // the executed plan prints a bound constant as its literal
    for (df <- Seq(native, manifest)) {
      val plan = finalPlan(df)
      val fs = collect(plan) { case f: FilterExec => f }
      assert(fs.exists(_.condition.exists(_.isInstanceOf[BoundLiteral])))
      for (f <- fs) {
        val asLiterals = f.condition.transform {
          case b: BoundLiteral => CatalystLiteral(b.value, b.dataType)
        }
        assert(f.condition.toString == asLiterals.toString)
        assert(f.condition.sql == asLiterals.sql)
      }
      assert(plan.toString.contains("= 123)"), plan.toString)
    }
    for ((v, t) <- Seq[(Any, DataType)]((7, IntegerType), (-7L, LongType), (Double.NaN, DoubleType),
           (-0.0, DoubleType), (1.5f, FloatType), (3.toShort, ShortType), (4.toByte, ByteType),
           (19783, DateType), (T0 + 7, TimestampType), (T0 + 7, TimestampNTZType))) {
      assert(BoundLiteral(v, t).toString == CatalystLiteral(v, t).toString)
      assert(BoundLiteral(v, t).sql == CatalystLiteral(v, t).sql)
      assert(BoundLiteral(v, t) == BoundLiteral(v, t))
    }

    // scoped to graft: a filter over any other relation keeps its literals
    val range = spark.range(100).toDF().where(col("id") === 7L)
    val conds = filters(range).map(_.condition)
    assert(conds.nonEmpty && conds.forall(_.collect { case b: BoundLiteral => b }.isEmpty))
    assert(conds.exists(_.collect { case l: CatalystLiteral => l }.nonEmpty))
  }
}
