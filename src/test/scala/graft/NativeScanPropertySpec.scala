package graft

import org.scalatest.funsuite.AnyFunSuite

/** Property fuzz for the native DSv2 batch scan (r9b): random filter
  * trees over partition components and data columns, random
  * projections, random LIMITs — every shape must return row-identical
  * results under the native scan and the DataFrame face, a stock V1
  * parquet `FileSourceScanExec` over the same manifest
  * ([[ScanPlans.dataFrameView]]). Seeded: failures reproduce. */
class NativeScanPropertySpec extends AnyFunSuite {
  lazy val spark = {
    val s = SparkTestSession.spark
    s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft.warehouse", CatalogSpec.warehouse)
    GraftExtensions.register(s)
    s
  }

  private def sql(q: String) = spark.sql(q)

  private lazy val setup: Unit = {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.nsp")
    sql("""CREATE TABLE graft.nsp.fz (ts TIMESTAMP, user_id BIGINT, v DOUBLE, tag STRING)
           PARTITIONED BY (days(ts)) TBLPROPERTIES ('statsColumns'='user_id')""")
    val rnd = new scala.util.Random(7)
    val rows = (1 to 400).map { i =>
      val day = 1 + rnd.nextInt(9)
      val hh = f"${rnd.nextInt(24)}%02d"
      val tag = if (rnd.nextInt(10) == 0) "NULL" else s"'t${rnd.nextInt(5)}'"
      s"(TIMESTAMP'2024-02-0$day $hh:13:00', ${rnd.nextInt(50)}, ${rnd.nextInt(1000) / 100.0}, $tag)"
    }
    sql(s"INSERT INTO graft.nsp.fz VALUES ${rows.mkString(", ")}")
    ScanPlans.dataFrameView(spark, s"${CatalogSpec.warehouse}/nsp/fz", "nsp_fz_df")
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def randPredicate(rnd: scala.util.Random, depth: Int): String = {
    def leaf(): String = rnd.nextInt(8) match {
      case 0 => s"day = ${1 + rnd.nextInt(10)}"
      case 1 => s"day >= ${1 + rnd.nextInt(10)}"
      case 2 => s"day BETWEEN ${1 + rnd.nextInt(5)} AND ${4 + rnd.nextInt(6)}"
      case 3 => s"user_id = ${rnd.nextInt(60)}"
      case 4 => s"v > ${rnd.nextInt(1000) / 100.0}"
      case 5 => s"tag = 't${rnd.nextInt(6)}'"
      case 6 => "tag IS NULL"
      case 7 => s"ts >= TIMESTAMP'2024-02-0${1 + rnd.nextInt(9)} 00:00:00'"
    }
    if (depth == 0 || rnd.nextInt(3) == 0) leaf()
    else rnd.nextInt(3) match {
      case 0 => s"(${randPredicate(rnd, depth - 1)} AND ${randPredicate(rnd, depth - 1)})"
      case 1 => s"(${randPredicate(rnd, depth - 1)} OR ${randPredicate(rnd, depth - 1)})"
      case 2 => s"NOT (${randPredicate(rnd, depth - 1)})"
    }
  }

  test("64 random predicate/projection shapes: native rows == V1 rows") {
    setup
    val rnd = new scala.util.Random(2024)
    val projections = Seq("*", "user_id, v", "v", "day, user_id", "tag, v",
      "year, month, day, user_id", "ts, tag")
    for (i <- 1 to 64) {
      val proj = projections(rnd.nextInt(projections.length))
      val pred = randPredicate(rnd, 2)
      val q = s"SELECT $proj FROM graft.nsp.fz WHERE $pred"
      // the view's SELECT * would add the derived partition columns
      val refProj = if (proj == "*") "ts, user_id, v, tag" else proj
      val graftDf = sql(q)
      val refDf = sql(s"SELECT $refProj FROM nsp_fz_df WHERE $pred")
      val native = rowsOf(graftDf)
      val v1 = rowsOf(refDf)
      assert(native == v1,
        s"shape $i diverged\n  query: $q\n  native=${native.size} v1=${v1.size}")
      // never native against native: the reference scans through the
      // file source, and wherever it scans, the graft read is BatchScan
      assert(ScanPlans.batchScans(refDf) == 0, s"shape $i: reference planned a BatchScan")
      assert(ScanPlans.fileScans(graftDf) == 0, s"shape $i: graft read planned a FileScan")
      assert(ScanPlans.fileScans(refDf) == 0 || ScanPlans.batchScans(graftDf) == 1,
        s"shape $i: graft read must plan BatchScan\n  query: $q")
    }
  }

  test("LIMIT shapes and aggregates stay correct under the native scan") {
    setup
    val rnd = new scala.util.Random(99)
    for (_ <- 1 to 8) {
      val n = 1 + rnd.nextInt(50)
      assert(sql(s"SELECT * FROM graft.nsp.fz LIMIT $n").collect().length == n)
    }
    val agg = "SELECT day, count(*) AS c, min(user_id) AS lo, max(user_id) AS hi " +
      "FROM graft.nsp.fz GROUP BY day"
    val graftDf = sql(agg)
    val refDf = sql(agg.replace("graft.nsp.fz", "nsp_fz_df"))
    assert(rowsOf(graftDf) == rowsOf(refDf))
    assert(ScanPlans.answeredFromMetadata(graftDf),
      s"the grouped aggregate answers from metadata:\n${graftDf.queryExecution.executedPlan}")
    assert(ScanPlans.fileScans(refDf) == 1 && ScanPlans.batchScans(refDf) == 0)
  }
}
