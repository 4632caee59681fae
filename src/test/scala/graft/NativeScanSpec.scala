package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Collection, FilterExpr}

/** The NATIVE DSv2 batch scan (round 9): catalog reads plan
  * `BatchScanExec` over Spark's vectorized parquet reader with
  * manifest-planned file sets — unlocking runtime (join-driven) file
  * pruning and storage-partitioned joins — while staying row-identical
  * on every query shape to the DataFrame face, a stock parquet
  * `FileSourceScanExec` over the same manifest ([[ScanPlans.dataFrameView]]). */
class NativeScanSpec extends AnyFunSuite {
  lazy val spark = {
    val s = SparkTestSession.spark
    s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft.warehouse", CatalogSpec.warehouse)
    GraftExtensions.register(s)
    s
  }

  private def sql(q: String) = spark.sql(q)

  private def withConf[T](kvs: (String, String)*)(f: => T): T = {
    val olds = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** The concrete (post-AQE if adaptive) physical plan. */
  private def finalPlan(df: DataFrame) = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p                        => p
    }
  }

  private lazy val setup: Unit = {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.nsc")
    sql("""CREATE TABLE graft.nsc.events (ts TIMESTAMP, user_id BIGINT, v DOUBLE)
           PARTITIONED BY (days(ts)) TBLPROPERTIES ('statsColumns'='user_id')""")
    sql("""INSERT INTO graft.nsc.events VALUES
           (TIMESTAMP'2024-01-01 08:00:00', 1, 1.0),
           (TIMESTAMP'2024-01-01 09:00:00', 2, 2.0),
           (TIMESTAMP'2024-01-02 08:00:00', 3, 3.0),
           (TIMESTAMP'2024-01-02 10:00:00', 1, 3.5),
           (TIMESTAMP'2024-01-03 08:00:00', 1, 4.0)""")
  }

  test("native catalog reads plan BatchScan and match the V1 bridge on every shape") {
    setup
    ScanPlans.dataFrameView(spark, s"${CatalogSpec.warehouse}/nsc/events", "nsc_events_df")
    val shapes = Seq(
      "SELECT ts, user_id, v FROM $t",
      "SELECT v FROM $t WHERE user_id = 1",
      "SELECT user_id, v FROM $t WHERE day = 2",
      "SELECT day, user_id FROM $t WHERE day >= 2 AND v < 4.0",
      "SELECT ts, v FROM $t WHERE ts >= TIMESTAMP'2024-01-02 00:00:00'",
      "SELECT v FROM $t WHERE user_id = 1 OR v > 2.5",
      "SELECT year, month, day, v FROM $t",
      "SELECT count(*) AS c FROM $t WHERE v IS NOT NULL")
    for (shape <- shapes) {
      val q = sql(shape.replace("$t", "graft.nsc.events"))
      val ref = sql(shape.replace("$t", "nsc_events_df"))
      assert(rowsOf(q) == rowsOf(ref), s"native != DataFrame face for: $shape")
      assert(ScanPlans.batchScans(q) == 1 && ScanPlans.fileScans(q) == 0,
        s"the catalog read must plan BatchScanExec: $shape")
      assert(ScanPlans.batchScans(ref) == 0 && ScanPlans.fileScans(ref) == 1,
        s"the reference must plan the DataFrame face's FileSourceScanExec: $shape")
    }
    assert(rowsOf(sql("SELECT * FROM graft.nsc.events")) ==
      rowsOf(sql("SELECT ts, user_id, v FROM nsc_events_df")))
  }

  test("claimed partition-only filters leave no engine re-filter; data filters stay residual") {
    setup
    val claimed = finalPlan(sql("SELECT user_id FROM graft.nsc.events WHERE day = 2"))
    assert(claimed.collect { case f: FilterExec => f }.isEmpty,
      s"partition-exact filter must be claimed by pruning alone:\n$claimed")
    assert(rowsOf(sql("SELECT user_id FROM graft.nsc.events WHERE day = 2")) ==
      Seq("[1]", "[3]"))

    val residual = finalPlan(sql("SELECT user_id FROM graft.nsc.events WHERE v > 3.0"))
    assert(residual.collect { case f: FilterExec => f }.nonEmpty,
      "data-column filters must be re-applied by the engine (vectorized), not in-scan")
  }

  test("metadata-only aggregates stay metadata under native mode") {
    setup
    // unfiltered + partition-filtered COUNT answer from the manifest (no scan job)
    val counted = sql("SELECT count(*) FROM graft.nsc.events WHERE day = 1")
    assert(ScanPlans.answeredFromMetadata(counted),
      s"filtered COUNT must stay metadata-only:\n${counted.queryExecution.executedPlan}")
    assert(sql("SELECT count(*) FROM graft.nsc.events WHERE day = 1")
      .collect().head.getLong(0) == 2L)
    assert(sql("SELECT day, count(*) AS c FROM graft.nsc.events GROUP BY day ORDER BY day")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq ==
      Seq((1, 2L), (2, 2L), (3, 1L)))
  }

  test("runtime filtering: a broadcast join on the partition key re-prunes the file list") {
    setup
    import spark.implicits._
    // the dim must be a REAL scan with a surviving selective filter — a
    // literal local relation constant-folds and DPP has nothing to prune on
    val dimPath = java.nio.file.Files.createTempDirectory("nsc-dim").toString
    Seq((1, "y"), (2, "x"), (3, "y")).toDF("day_key", "flag")
      .write.mode("overwrite").parquet(dimPath)
    spark.read.parquet(dimPath).createOrReplaceTempView("nsc_dim")
    val df = sql("""SELECT e.user_id, e.v FROM graft.nsc.events e
                    JOIN nsc_dim d ON e.day = d.day_key WHERE d.flag = 'x'""")
    assert(rowsOf(df) == Seq("[1,3.5]", "[3,3.0]"))
    val Seq(scan) = ScanPlans.graftScans(df).map(_.report)
    assert(scan.runtimeAst != FilterExpr.True,
      "the dim side's key values must reach the scan as a runtime filter")
    // r10 pin: the runtime filter must have SHRUNK the planned file set,
    // not merely arrived — the executed DPP scan plans strictly fewer
    // files than the unfiltered read of the same snapshot
    val pruned = scan.plannedFiles
    val total = { // all partitions, for comparison
      val all = sql("SELECT v FROM graft.nsc.events")
      all.collect()
      ScanPlans.graftScans(all).map(_.report.plannedFiles).sum
    }
    assert(total >= 3)
    assert(pruned >= 1 && pruned < total,
      s"DPP must prune the file list: planned $pruned of $total files")
  }

  test("storage-partitioned join: co-partitioned tables join with zero shuffles") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.nsc")
    sql("CREATE TABLE graft.nsc.spj_a (cargo BIGINT, v DOUBLE) PARTITIONED BY (cargo)")
    sql("CREATE TABLE graft.nsc.spj_b (cargo BIGINT, w DOUBLE) PARTITIONED BY (cargo)")
    sql("INSERT INTO graft.nsc.spj_a VALUES (1, 1.0), (1, 1.5), (2, 2.0), (3, 3.0)")
    sql("INSERT INTO graft.nsc.spj_b VALUES (1, 10.0), (2, 20.0), (4, 40.0)")
    withConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val df = sql("""SELECT a.cargo, a.v, b.w FROM graft.nsc.spj_a a
                      JOIN graft.nsc.spj_b b ON a.cargo = b.cargo""")
      val plan = df.queryExecution.executedPlan
      assert(plan.collect { case s: ShuffleExchangeExec => s }.isEmpty,
        s"co-partitioned graft tables must storage-partition-join:\n$plan")
      assert(rowsOf(df) == Seq("[1,1.0,10.0]", "[1,1.5,10.0]", "[2,2.0,20.0]"))
    }
  }

  test("AS-OF scan statistics answer at the pinned snapshot, metadata-only") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.nsc")
    sql("CREATE TABLE graft.nsc.stats_t (cargo BIGINT, v DOUBLE) PARTITIONED BY (cargo)")
    sql("INSERT INTO graft.nsc.stats_t VALUES (1, 1.0)")
    sql("INSERT INTO graft.nsc.stats_t VALUES (2, 2.0), (3, 3.0), (4, 4.0), (5, 5.0)")

    def scanStats(q: String) = sql(q).queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.stats
    }.head

    val head = scanStats("SELECT * FROM graft.nsc.stats_t")
    assert(head.rowCount.contains(BigInt(5)),
      s"head scan must advertise the manifest row rollup: ${head.rowCount}")

    // a VERSION AS OF read of the 1-row snapshot must NOT advertise the
    // head's 5 rows next to the pinned selection's bytes — numRows and
    // sizeInBytes answer at the SAME snapshot
    val pinned = scanStats("SELECT * FROM graft.nsc.stats_t VERSION AS OF 1")
    assert(pinned.rowCount.contains(BigInt(1)),
      s"AS-OF stats must answer at the pinned snapshot: ${pinned.rowCount}")
    assert(pinned.sizeInBytes < head.sizeInBytes,
      s"pinned selection bytes (${pinned.sizeInBytes}) must be below the " +
      s"head's (${head.sizeInBytes})")
  }

  test("VERSION AS OF, LIMIT, empty match, and fills stay correct") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.nsc")
    sql("CREATE TABLE graft.nsc.tt (cargo BIGINT, v DOUBLE) PARTITIONED BY (cargo)")
    sql("INSERT INTO graft.nsc.tt VALUES (1, 1.0)")
    sql("INSERT INTO graft.nsc.tt VALUES (2, 2.0)")
    assert(rowsOf(sql("SELECT * FROM graft.nsc.tt VERSION AS OF 1")) == Seq("[1,1.0]"))
    assert(rowsOf(sql("SELECT * FROM graft.nsc.tt")) == Seq("[1,1.0]", "[2,2.0]"))
    assert(sql("SELECT * FROM graft.nsc.tt LIMIT 1").collect().length == 1)
    assert(sql("SELECT * FROM graft.nsc.tt WHERE cargo = 99").collect().isEmpty)

    // a fill-bearing column reads natively, coalesced with its fill —
    // and the DataFrame face agrees on the filled values
    val root = s"${CatalogSpec.warehouse}/nsc/tt"
    val c = Collection.open(spark, root)
    c.addVariable("q", org.apache.spark.sql.types.DoubleType, fill = Some("-1.0"))
    sql("INSERT INTO graft.nsc.tt VALUES (3, 3.0, 30.0)")
    val filled = sql("SELECT cargo, q FROM graft.nsc.tt")
    val got = rowsOf(filled)
    ScanPlans.dataFrameView(spark, root, "nsc_tt_df")
    assert(got == rowsOf(sql("SELECT cargo, q FROM nsc_tt_df")))
    assert(got == Seq("[1,-1.0]", "[2,-1.0]", "[3,30.0]"))
    assert(ScanPlans.batchScans(filled) == 1, "fill-bearing reads plan the native scan")
    assert(ScanPlans.batchScans(sql("SELECT cargo, v FROM graft.nsc.tt")) == 1)
  }

  test("fill and rename pushdown trap: null row groups read as the fill; renamed stats prune") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.nsc")
    sql("""CREATE TABLE graft.nsc.trap (cargo BIGINT, user_id BIGINT, v DOUBLE)
           PARTITIONED BY (cargo) TBLPROPERTIES ('statsColumns'='user_id')""")
    sql("INSERT INTO graft.nsc.trap VALUES (1, 10, 1.0), (2, 20, 2.0)")
    val root = s"${CatalogSpec.warehouse}/nsc/trap"
    val c = Collection.open(spark, root)
    c.addVariable("q", org.apache.spark.sql.types.DoubleType, fill = Some("-1.0"))
    // a NEW file whose q is physically NULL in every row: its row group
    // holds only nulls, which a pushed parquet filter `q = -1.0` would
    // skip although the rows read as the fill
    sql("INSERT INTO graft.nsc.trap VALUES (3, 30, 3.0, NULL), (3, 31, 3.5, 7.0)")
    sql("INSERT INTO graft.nsc.trap VALUES (4, 40, 4.0, NULL)")
    val trap = sql("SELECT cargo, user_id, q FROM graft.nsc.trap WHERE q = -1.0")
    assert(rowsOf(trap) == Seq("[1,10,-1.0]", "[2,20,-1.0]", "[3,30,-1.0]", "[4,40,-1.0]"),
      "the filled rows of the old and the new files must all match")
    assert(ScanPlans.batchScans(trap) == 1, "the filtered fill read plans the native scan")

    // a renamed STATS column filtered by its new name: the zone maps
    // (keyed by the physical name) still prune, the rows still match
    c.renameVariable("user_id", "uid")
    val rep = c.explainPruning("uid == 30")
    assert(rep.filesAfterStats < rep.filesListed,
      s"the renamed stats column must still prune: $rep")
    val renamed = sql("SELECT cargo, uid, q FROM graft.nsc.trap WHERE uid = 30 OR uid = 40")
    assert(rowsOf(renamed) == Seq("[3,30,-1.0]", "[4,40,-1.0]"))
    assert(ScanPlans.batchScans(renamed) == 1, "the renamed read plans the native scan")
    assert(ScanPlans.graftScans(renamed).map(_.report.plannedFiles).sum < c.query().inputFiles.length,
      "the renamed filter prunes the native scan's files")
  }
}

