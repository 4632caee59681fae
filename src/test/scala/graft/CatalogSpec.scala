package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Collection, FilterExpr}

/** The graft DataSource-V2 catalog (round 9): `graft.<ns>.<table>`
  * identifiers resolve to warehouse-rooted collections and the whole
  * SQL DDL/DML surface — CREATE/ALTER/DROP TABLE, INSERT, DELETE FROM,
  * VERSION/TIMESTAMP AS OF, metadata-only aggregate pushdown — runs
  * against them with no registration step. */
class CatalogSpec extends AnyFunSuite {
  lazy val spark = {
    val s = SparkTestSession.spark
    s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft.warehouse", CatalogSpec.warehouse)
    GraftExtensions.register(s)
    s
  }
  import spark.implicits._

  private def sql(q: String) = spark.sql(q)

  private def mkEvents(tbl: String): Unit = {
    sql(s"""CREATE TABLE $tbl (ts TIMESTAMP, user_id BIGINT, v DOUBLE)
            PARTITIONED BY (days(ts))
            TBLPROPERTIES ('statsColumns'='user_id', 'owner.team'='search')""")
    sql(s"""INSERT INTO $tbl VALUES
            (TIMESTAMP'2024-01-01 08:00:00', 1, 1.0),
            (TIMESTAMP'2024-01-01 09:00:00', 2, 2.0),
            (TIMESTAMP'2024-01-02 08:00:00', 3, 3.0),
            (TIMESTAMP'2024-01-03 08:00:00', 1, 4.0)""")
  }

  test("CREATE TABLE + INSERT + SELECT round-trips through the catalog") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.db1")
    mkEvents("graft.db1.events")

    val rows = sql("SELECT user_id, v FROM graft.db1.events ORDER BY v")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rows == Seq((1L, 1.0), (2L, 2.0), (3L, 3.0), (1L, 4.0)))

    // it is a real collection in the warehouse
    val c = Collection.open(spark, s"${CatalogSpec.warehouse}/db1/events", readOnly = true)
    assert(c.statsColumns == Seq("user_id"))
    assert(c.attrs.get("owner.team").contains("search"))

    // SHOW TABLES sees it
    val shown = sql("SHOW TABLES IN graft.db1").collect().map(_.getString(1)).toSeq
    assert(shown.contains("events"))

    // filters push into the skip stack
    val filtered = sql("SELECT v FROM graft.db1.events WHERE user_id = 1")
    val got = filtered.collect().map(_.getDouble(0)).sorted.toSeq
    assert(got == Seq(1.0, 4.0))
    assert(ScanPlans.graftScans(filtered).map(_.report.pushedAst) != Seq(FilterExpr.True),
      "catalog scans must push filters into the skip stack")

    // derived partition components are METADATA columns: queryable +
    // pruning, but never demanded by INSERT
    val jan2 = sql("SELECT user_id FROM graft.db1.events WHERE day = 2")
      .collect().map(_.getLong(0)).toSeq
    assert(jan2 == Seq(3L))
    assert(!sql("SELECT * FROM graft.db1.events").columns.contains("day"),
      "metadata columns stay out of SELECT *")
  }

  test("CTAS and CREATE OR REPLACE TABLE AS SELECT land as real collections") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.ctas")
    sql("CREATE TABLE graft.ctas.src (cargo BIGINT, v DOUBLE) PARTITIONED BY (cargo)")
    sql("INSERT INTO graft.ctas.src VALUES (1, 1.0), (2, 2.0)")
    sql("""CREATE TABLE graft.ctas.dst PARTITIONED BY (cargo) AS
           SELECT cargo, v * 10 AS v FROM graft.ctas.src""")
    assert(sql("SELECT * FROM graft.ctas.dst").collect().map(_.toString).sorted.toSeq ==
      Seq("[1,10.0]", "[2,20.0]"))
    // the CTAS result is a full graft collection: partitioned, versioned
    val c = Collection.open(spark, s"${CatalogSpec.warehouse}/ctas/dst", readOnly = true)
    assert(c.partitioning.axis == Seq("cargo"))
    sql("""CREATE OR REPLACE TABLE graft.ctas.dst PARTITIONED BY (cargo) AS
           SELECT cargo, v * 100 AS v FROM graft.ctas.src""")
    assert(sql("SELECT * FROM graft.ctas.dst").collect().map(_.toString).sorted.toSeq ==
      Seq("[1,100.0]", "[2,200.0]"))
  }

  test("INSERT OVERWRITE: static truncates; dynamic replaces touched partitions (native, r10)") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.db2")
    mkEvents("graft.db2.ow")

    // dynamic SQL overwrite runs natively: only day 1 (the partition
    // the incoming row lands in) is replaced, days 2 and 3 survive
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      val dyn = sql("""INSERT OVERWRITE graft.db2.ow VALUES
             (TIMESTAMP'2024-01-01 10:00:00', 9, 90.0)""")
      assert(!dyn.queryExecution.executedPlan.toString.contains("ExecV1"),
        "dynamic overwrite must run on the native BatchWrite")
      val afterDyn = sql("SELECT user_id FROM graft.db2.ow ORDER BY user_id")
        .collect().map(_.getLong(0)).toSeq
      assert(afterDyn == Seq(1L, 3L, 9L), s"dynamic overwrite kept other days: $afterDyn")
      // the V1 writer path delivers the same semantics on the same table
      import spark.implicits._
      val day1 = Seq((java.sql.Timestamp.valueOf("2024-01-01 11:00:00"), 8L, 80.0))
        .toDF("ts", "user_id", "v")
      day1.write.format("graft").mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .save(s"${CatalogSpec.warehouse}/db2/ow")
      val afterV1 = sql("SELECT user_id FROM graft.db2.ow ORDER BY user_id")
        .collect().map(_.getLong(0)).toSeq
      assert(afterV1 == Seq(1L, 3L, 8L), s"V1 dynamic overwrite diverged: $afterV1")
    } finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")

    // static: the whole table is replaced
    sql("""INSERT OVERWRITE graft.db2.ow VALUES
           (TIMESTAMP'2024-02-01 00:00:00', 7, 70.0)""")
    val afterStatic = sql("SELECT user_id, v FROM graft.db2.ow")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(afterStatic == Seq((7L, 70.0)))
  }

  test("DELETE FROM: exact translations run file-granular; inexact row-levels; no-WHERE truncates") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.db3")
    mkEvents("graft.db3.del")

    sql("DELETE FROM graft.db3.del WHERE user_id = 1 AND day >= 2")
    val left = sql("SELECT user_id FROM graft.db3.del ORDER BY user_id")
      .collect().map(_.getLong(0)).toSeq
    assert(left == Seq(1L, 2L, 3L), s"only the (user_id=1, day>=2) row deletes: $left")

    // a predicate outside the exact-translation domain (v+1 > 2 has no
    // FilterExpr form) takes GraftDmlRule's row-level fallback — exact
    // row semantics, not the pushed metadata path (pre-r8 this refused)
    sql("DELETE FROM graft.db3.del WHERE v + 1 > 2")
    val kept = sql("SELECT v FROM graft.db3.del").collect().map(_.getDouble(0)).toSeq
    assert(kept == Seq(1.0), s"v+1>2 deletes v in {2.0, 3.0} row-exactly: $kept")

    sql("DELETE FROM graft.db3.del")
    assert(sql("SELECT count(*) FROM graft.db3.del").collect().head.getLong(0) == 0)
  }

  test("VERSION AS OF (generation + tag) and TIMESTAMP AS OF") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.db4")
    mkEvents("graft.db4.tt")
    val root = s"${CatalogSpec.warehouse}/db4/tt"
    val c = Collection.open(spark, root)
    val g1 = c.generation
    c.tag("v1")
    val tAfterG1 = System.currentTimeMillis()

    Thread.sleep(20)
    sql("INSERT INTO graft.db4.tt VALUES (TIMESTAMP'2024-03-01 00:00:00', 42, 420.0)")

    assert(sql("SELECT count(*) FROM graft.db4.tt").collect().head.getLong(0) == 5)
    assert(sql(s"SELECT count(*) FROM graft.db4.tt VERSION AS OF $g1")
      .collect().head.getLong(0) == 4)
    assert(sql("SELECT count(*) FROM graft.db4.tt VERSION AS OF 'v1'")
      .collect().head.getLong(0) == 4)
    val ts = new java.sql.Timestamp(tAfterG1).toString
    assert(sql(s"SELECT count(*) FROM graft.db4.tt TIMESTAMP AS OF '$ts'")
      .collect().head.getLong(0) == 4)

    // time-travel tables are immutable
    val e = intercept[Exception] {
      sql(s"DELETE FROM graft.db4.tt VERSION AS OF $g1 WHERE user_id = 1")
    }
    assert(e.getMessage != null)
  }

  test("COUNT(*)/MIN/MAX push down to manifest metadata — zero data files opened") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.db5")
    mkEvents("graft.db5.agg")

    val q = sql("SELECT count(*), min(ts), max(ts), min(user_id), max(user_id) FROM graft.db5.agg")
    // the metadata answer is the plan's only leaf: a local scan of its
    // rows, no parquet scan of either kind and no re-aggregation
    assert(ScanPlans.answeredFromMetadata(q),
      s"aggregate must answer from metadata; got plan:\n${q.queryExecution.executedPlan}")
    val r = q.collect().head
    assert(r.getLong(0) == 4)
    assert(r.getTimestamp(1).toInstant == java.time.Instant.parse("2024-01-01T08:00:00Z"))
    assert(r.getTimestamp(2).toInstant == java.time.Instant.parse("2024-01-03T08:00:00Z"))
    assert(r.getLong(3) == 1 && r.getLong(4) == 3)

    // a WHERE clause disables the metadata path and still answers right
    val q2 = sql("SELECT count(*) FROM graft.db5.agg WHERE user_id = 1")
    assert(q2.queryExecution.executedPlan.toString.contains("HashAggregate"))
    assert(q2.collect().head.getLong(0) == 2)

    // an aggregate over a non-stats column falls back to the scan
    val q3 = sql("SELECT min(v) FROM graft.db5.agg")
    assert(q3.queryExecution.executedPlan.toString.contains("HashAggregate"))
    assert(q3.collect().head.getDouble(0) == 1.0)

    // r10b: aggregates under VERSION AS OF answer from the PINNED
    // manifest — counts from its recorded rows, MIN/MAX from its own
    // per-file zone maps — still metadata-only (the time-travel audit
    // shape), and at the SNAPSHOT's values, not the head's
    sql("INSERT INTO graft.db5.agg VALUES " +
      "(TIMESTAMP'2024-01-04 08:00:00', 9, 9.0)")
    val gens = sql("SELECT max(generation) FROM graft.db5.agg.history")
      .collect().head.getLong(0)
    val q4 = sql(s"SELECT count(*), max(user_id) FROM graft.db5.agg " +
      s"VERSION AS OF ${gens - 1}")
    assert(ScanPlans.answeredFromMetadata(q4),
      s"pinned aggregates must stay metadata-only:\n${q4.queryExecution.executedPlan}")
    val r4 = q4.collect().head
    assert(r4.getLong(0) == 4 && r4.getLong(1) == 3,
      s"pinned count/max must answer at the snapshot, not the head: $r4")
    val head = sql("SELECT count(*), max(user_id) FROM graft.db5.agg").collect().head
    assert(head.getLong(0) == 5 && head.getLong(1) == 9)
  }

  test("FILTERED COUNT(*) answers from partition metadata; exact predicates drop the engine Filter") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.db10")
    mkEvents("graft.db10.fcnt")

    // partition-aligned exact predicate: per-partition recorded rows
    // answer the count — and MIN/MAX answer from the merged per-file
    // zone maps of exactly the matching partitions — O(shards), zero
    // data files
    val q = sql("SELECT count(*), min(ts), max(user_id) FROM graft.db10.fcnt WHERE day <= 2")
    assert(ScanPlans.answeredFromMetadata(q),
      s"filtered count must answer from metadata:\n${q.queryExecution.executedPlan}")
    val r0 = q.collect().head
    assert(r0.getLong(0) == 3)
    assert(r0.getTimestamp(1).toInstant == java.time.Instant.parse("2024-01-01T08:00:00Z"))
    assert(r0.getLong(2) == 3)

    // exact DATA-column predicate: the engine re-applies it vectorized
    // above the columnar scan (the stock parquet residual contract —
    // parquet row-group pruning still sees the filter)
    val q2 = sql("SELECT user_id, v FROM graft.db10.fcnt WHERE user_id = 1 AND day >= 2")
    assert(q2.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq == Seq((1L, 4.0)))
    assert(q2.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FilterExec => f
    }.nonEmpty, "a data-column predicate stays a post-scan Filter")

    // a filter metadata can't count (data column) still refuses the
    // aggregate — but the exact in-scan filter keeps the result right
    val q3 = sql("SELECT count(*) FROM graft.db10.fcnt WHERE user_id = 1")
    assert(q3.queryExecution.executedPlan.toString.contains("HashAggregate"))
    assert(q3.collect().head.getLong(0) == 2)

    // GROUP BY a partition component answers from the manifest too:
    // one row per group from the per-partition recorded counts
    val q5 = sql(
      "SELECT day, count(*) AS n FROM graft.db10.fcnt GROUP BY day ORDER BY day")
    assert(ScanPlans.answeredFromMetadata(q5),
      s"grouped count must answer from metadata:\n${q5.queryExecution.executedPlan}")
    assert(q5.collect().map(r => (r.getInt(0), r.getLong(1))).toSeq ==
      Seq((1, 2L), (2, 1L), (3, 1L)))
    // composed with a partition-aligned filter
    val q6 = sql("SELECT day, count(*) AS n FROM graft.db10.fcnt " +
      "WHERE day >= 2 GROUP BY day ORDER BY day")
    assert(!q6.queryExecution.executedPlan.toString.contains("HashAggregate"))
    assert(q6.collect().map(r => (r.getInt(0), r.getLong(1))).toSeq ==
      Seq((2, 1L), (3, 1L)))
    // per-group MIN/MAX merge exactly the group's per-file zone maps
    val q6b = sql("SELECT day, count(*) AS n, min(user_id) AS lo, max(user_id) AS hi " +
      "FROM graft.db10.fcnt GROUP BY day ORDER BY day")
    assert(!q6b.queryExecution.executedPlan.toString.contains("HashAggregate"),
      "grouped count+bounds must answer completely from metadata")
    assert(q6b.collect().map(r =>
      (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq ==
      Seq((1, 2L, 1L, 2L), (2, 1L, 3L, 3L), (3, 1L, 1L, 1L)))
    // a non-stats column's bound refuses the metadata path, stays right
    val q6c = sql("SELECT day, min(v) AS lo FROM graft.db10.fcnt GROUP BY day ORDER BY day")
    assert(q6c.queryExecution.executedPlan.toString.contains("HashAggregate"))
    assert(q6c.collect().map(r => (r.getInt(0), r.getDouble(1))).toSeq ==
      Seq((1, 1.0), (2, 3.0), (3, 4.0)))
    // a DATA-column group key falls back to the scan and stays right
    val q7 = sql("SELECT user_id, count(*) AS n FROM graft.db10.fcnt " +
      "GROUP BY user_id ORDER BY user_id")
    assert(q7.queryExecution.executedPlan.toString.contains("HashAggregate"))
    assert(q7.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 2L), (2L, 1L), (3L, 1L)))

    // unfiltered LIMIT schedules files only until recorded rows cover
    // it — one file of the three partitions, not the collection
    val limited = sql("SELECT * FROM graft.db10.fcnt LIMIT 1")
    assert(limited.collect().length == 1, "the budgeted file set is a superset of n rows")
    val c10 = Collection.open(spark, s"${CatalogSpec.warehouse}/db10/fcnt",
      readOnly = true)
    assert(ScanPlans.graftScans(limited).map(_.report.plannedFiles).sum <
      c10.query().inputFiles.length,
      "the LIMIT file budget must schedule fewer files than the full scan")
    // filtered LIMIT refuses the file budget and stays correct
    assert(sql("SELECT * FROM graft.db10.fcnt WHERE day >= 2 LIMIT 2").count() == 2)
  }

  test("ALTER TABLE ADD/DROP CONSTRAINT: SQL CHECK constraints hit the manifest registry") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.db12")
    mkEvents("graft.db12.ck")
    sql("ALTER TABLE graft.db12.ck ADD CONSTRAINT v_pos CHECK (v > 0)")
    val c = Collection.open(spark, s"${CatalogSpec.warehouse}/db12/ck")
    assert(c.constraints.get("v_pos").exists(_.contains("v > 0")))
    // enforced inside the write job, whichever surface writes
    val e = intercept[Exception] {
      sql("INSERT INTO graft.db12.ck VALUES (TIMESTAMP'2024-01-05 00:00:00', 9, -1.0)")
    }
    assert(e.getMessage != null)
    assert(sql("SELECT count(*) FROM graft.db12.ck").collect().head.getLong(0) == 4,
      "a constraint-violating SQL INSERT must not land")
    sql("ALTER TABLE graft.db12.ck DROP CONSTRAINT v_pos")
    assert(c.constraints.isEmpty)
    sql("INSERT INTO graft.db12.ck VALUES (TIMESTAMP'2024-01-05 00:00:00', 9, -1.0)")
    assert(sql("SELECT count(*) FROM graft.db12.ck").collect().head.getLong(0) == 5)
  }

  test("metadata tables: history/partitions/files/tags/branches are plain SQL") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.db11")
    mkEvents("graft.db11.meta")
    val c = Collection.open(spark, s"${CatalogSpec.warehouse}/db11/meta")
    c.tag("v1")
    c.branch("dev")

    val hist = sql(
      "SELECT generation, operation FROM graft.db11.meta.history ORDER BY generation")
      .collect()
    assert(hist.nonEmpty && hist.exists(_.getString(1) == "insert"),
      s"history must list the insert commit: ${hist.mkString(", ")}")
    // the rows are a local scan planned from the manifest, not a V1 scan
    val histDf = sql("SELECT * FROM graft.db11.meta.history")
    histDf.collect()
    val histPlan = histDf.queryExecution.executedPlan
    assert(ScanPlans.localScans(histDf) == 1 && histPlan.collect {
      case r: org.apache.spark.sql.execution.RowDataSourceScanExec => r }.isEmpty,
      s"history must plan a LocalTableScanExec and no V1 scan:\n$histPlan")
    val parts = sql("SELECT partition, n_files, n_rows FROM graft.db11.meta.partitions")
      .collect()
    assert(parts.length == 3, s"three day partitions: ${parts.mkString(", ")}")
    assert(parts.map(_.getLong(2)).sum == 4)
    val files = sql("SELECT count(*) AS n, sum(n_rows) AS r FROM graft.db11.meta.files")
      .collect().head
    assert(files.getLong(1) == 4, s"file inventory rows must sum to the table: $files")
    val tags = sql("SELECT tag, generation FROM graft.db11.meta.tags")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(tags == Seq(("v1", c.generation)))
    val branches = sql("SELECT branch FROM graft.db11.meta.branches")
      .collect().map(_.getString(0)).toSeq
    assert(branches == Seq("dev"))
    // a bogus suffix on a real collection still refuses
    val e = intercept[Exception](sql("SELECT * FROM graft.db11.meta.bogus").collect())
    assert(e.getMessage != null)
  }

  test("ALTER TABLE ADD/DROP COLUMN ride the schema-evolution path") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.db6")
    mkEvents("graft.db6.evo")
    sql("ALTER TABLE graft.db6.evo ADD COLUMN score DOUBLE")
    assert(sql("SELECT score FROM graft.db6.evo").collect().forall(_.isNullAt(0)))
    sql("""INSERT INTO graft.db6.evo VALUES
           (TIMESTAMP'2024-01-05 00:00:00', 5, 5.0, 0.5)""")
    assert(sql("SELECT score FROM graft.db6.evo WHERE user_id = 5")
      .collect().head.getDouble(0) == 0.5)
    sql("ALTER TABLE graft.db6.evo DROP COLUMN v")
    assert(!sql("SELECT * FROM graft.db6.evo").columns.contains("v"))
  }

  test("identity and chunk(n, col) partitionings; hash bucket refuses") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.db7")
    sql("""CREATE TABLE graft.db7.seq (k STRING, n BIGINT)
           PARTITIONED BY (k) TBLPROPERTIES ('axis'='k')""")
    sql("INSERT INTO graft.db7.seq VALUES ('a', 1), ('b', 2), ('a', 3)")
    assert(sql("SELECT sum(n) FROM graft.db7.seq WHERE k = 'a'")
      .collect().head.getLong(0) == 4)

    sql("""CREATE TABLE graft.db7.chunked (vid BIGINT, x DOUBLE)
           PARTITIONED BY (chunk(100, vid))""")
    sql("INSERT INTO graft.db7.chunked VALUES (5, 1.0), (105, 2.0), (205, 3.0)")
    assert(sql("SELECT sum(x) FROM graft.db7.chunked WHERE vid >= 100 AND vid < 200")
      .collect().head.getDouble(0) == 2.0)
    val c = Collection.open(spark, s"${CatalogSpec.warehouse}/db7/chunked", readOnly = true)
    assert(c.partitioning.name == "grouped-sequence")

    val e = intercept[Exception] {
      sql("""CREATE TABLE graft.db7.bucketed (vid BIGINT, x DOUBLE)
             PARTITIONED BY (bucket(16, vid))""")
    }
    assert(e.getMessage.toLowerCase.contains("chunk"),
      s"bucket must refuse with guidance: ${e.getMessage}")
  }

  test("DROP TABLE, RENAME, and namespace lifecycle") {
    sql("CREATE NAMESPACE graft.db8")
    assert(sql("SHOW NAMESPACES IN graft").collect().map(_.getString(0)).contains("db8"))
    sql("""CREATE TABLE graft.db8.t (ts TIMESTAMP, x BIGINT) PARTITIONED BY (days(ts))""")
    sql("INSERT INTO graft.db8.t VALUES (TIMESTAMP'2024-01-01 00:00:00', 1)")

    sql("ALTER TABLE graft.db8.t RENAME TO graft.db8.t2")
    assert(sql("SELECT count(*) FROM graft.db8.t2").collect().head.getLong(0) == 1)
    assert(!spark.catalog.tableExists("graft.db8.t"))

    sql("DROP TABLE graft.db8.t2")
    assert(!spark.catalog.tableExists("graft.db8.t2"))
    sql("DROP NAMESPACE graft.db8")
    assert(!sql("SHOW NAMESPACES IN graft").collect().map(_.getString(0)).contains("db8"))
  }

  test("catalog scans report exact manifest statistics (CBO broadcast input)") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.db9")
    mkEvents("graft.db9.stats")
    val bytes = Collection.open(spark, s"${CatalogSpec.warehouse}/db9/stats",
      readOnly = true).sizeOnDisk()
    assert(bytes.exists(_ > 0))
    val rel = sql("SELECT * FROM graft.db9.stats")
    val stats = rel.queryExecution.optimizedPlan.stats
    assert(stats.sizeInBytes == BigInt(bytes.get),
      s"optimizer must see the manifest byte rollup: ${stats.sizeInBytes} vs $bytes\n" +
        s"optimized: ${rel.queryExecution.optimizedPlan}")
  }
}

object CatalogSpec {
  lazy val warehouse: String =
    java.nio.file.Files.createTempDirectory("graft-cat-wh").toString
}
