package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Collection

/** r10 native DSv2 batch write: `INSERT INTO graft.db.t` runs as a real
  * `AppendData` — executor tasks write final parquet files directly
  * (zero renames), `commit()` publishes one atomic manifest generation —
  * with row-identical results to [[Collection.insert]] (CHECK-constrained
  * tables and tables with renamed columns write natively too). */
class NativeWriteSpec extends AnyFunSuite {
  lazy val spark = {
    val s = SparkTestSession.spark
    s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft.warehouse", CatalogSpec.warehouse)
    GraftExtensions.register(s)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.nw")
    s
  }

  private def sql(q: String) = spark.sql(q)

  private def srcView(n: Int, name: String): Unit =
    spark.range(n).selectExpr(
      "timestampadd(HOUR, CAST(id * 5 AS INT), TIMESTAMP'2024-01-01 00:00:00') AS ts",
      "id AS user_id", "id * 1.5 AS v").createOrReplaceTempView(name)

  test("INSERT INTO plans a native AppendData and matches the V1 bridge row-for-row") {
    srcView(2000, "nw_src")
    sql("CREATE TABLE graft.nw.native_t (ts TIMESTAMP, user_id BIGINT, v DOUBLE) PARTITIONED BY (months(ts))")
    sql("CREATE TABLE graft.nw.v1_t (ts TIMESTAMP, user_id BIGINT, v DOUBLE) PARTITIONED BY (months(ts))")
    val cV1 = Collection.open(spark, s"${CatalogSpec.warehouse}/nw/v1_t")

    val ins = sql("INSERT INTO graft.nw.native_t SELECT * FROM nw_src")
    val plan = ins.queryExecution.executedPlan.toString
    assert(plan.contains("AppendData") && !plan.contains("AppendDataExecV1"),
      s"expected a native AppendData plan:\n$plan")

    // the reference: Collection.insert of the frame cast to the table
    // schema, as the analyzer casts the query (v is a decimal)
    cV1.insert(sql("SELECT ts, user_id, CAST(v AS DOUBLE) AS v FROM nw_src"),
      graft.core.MergeStrategy.Concat)

    val a = sql("SELECT * FROM graft.nw.native_t ORDER BY ts, user_id")
      .collect().map(_.toString).toSeq
    val b = sql("SELECT * FROM graft.nw.v1_t ORDER BY ts, user_id")
      .collect().map(_.toString).toSeq
    assert(a.size == 2000 && a == b,
      "native and V1 writes must produce row-identical tables")

    // both paths feed the same manifest machinery: recorded per-file
    // rows/stats make metadata COUNT and zone-map pruning work
    assert(sql("SELECT COUNT(*) FROM graft.nw.native_t").collect().head.getLong(0) == 2000)
    val cNat = Collection.open(spark, s"${CatalogSpec.warehouse}/nw/native_t", readOnly = true)
    assert(cNat.partitions() == cV1.partitions(),
      "native writes must land in the same Hive partition layout")
    // zone maps recorded: an axis-range read prunes below the full file set
    val all = cNat.query().inputFiles.length
    val pruned = cNat.query("ts >= '2024-12-25 00:00:00'").inputFiles.length
    assert(pruned > 0 && pruned < all,
      s"native-written files must carry prunable zone maps ($pruned vs $all)")
  }

  test("a second INSERT appends atomically; INSERT OVERWRITE truncates to the new snapshot") {
    srcView(100, "nw_src2")
    // retention keeps replaced files for the time-travel check below
    // (retainGenerations=0 would GC them at the overwrite commit)
    sql("""CREATE TABLE graft.nw.life_t (ts TIMESTAMP, user_id BIGINT, v DOUBLE)
           PARTITIONED BY (months(ts)) TBLPROPERTIES ('retainGenerations'='5')""")
    sql("INSERT INTO graft.nw.life_t SELECT * FROM nw_src2")
    sql("INSERT INTO graft.nw.life_t SELECT timestampadd(HOUR, CAST(id AS INT), TIMESTAMP'2024-01-01 00:00:00'), id + 1000, 0.5 FROM range(50)")
    assert(sql("SELECT COUNT(*) FROM graft.nw.life_t").collect().head.getLong(0) == 150)
    // generation per commit, CDC-visible like any other writer
    val c = Collection.open(spark, s"${CatalogSpec.warehouse}/nw/life_t", readOnly = true)
    assert(c.generation >= 2, "each INSERT must commit one generation")

    val ow = sql("INSERT OVERWRITE graft.nw.life_t SELECT TIMESTAMP'2030-06-01 00:00:00', 7, 7.0 FROM range(3)")
    val owPlan = ow.queryExecution.executedPlan.toString
    assert(!owPlan.contains("ExecV1"), s"overwrite must run natively too:\n$owPlan")
    val left = sql("SELECT DISTINCT user_id FROM graft.nw.life_t").collect().map(_.getLong(0)).toSeq
    assert(left == Seq(7L), "truncate-overwrite must replace every pre-existing partition")
    // the pre-overwrite snapshot stays time-travelable
    val gens = Collection.open(spark, s"${CatalogSpec.warehouse}/nw/life_t", readOnly = true).generations()
    assert(sql(s"SELECT COUNT(*) FROM graft.nw.life_t VERSION AS OF ${gens(gens.length - 2)}")
      .collect().head.getLong(0) == 150)
  }

  test("CHECK constraints enforce IN the native tasks (r10b) — no V1 fallback") {
    sql("CREATE TABLE graft.nw.con_t (ts TIMESTAMP, user_id BIGINT, v DOUBLE) PARTITIONED BY (days(ts))")
    val w = Collection.open(spark, s"${CatalogSpec.warehouse}/nw/con_t")
    w.addConstraint("v_pos", "v >= 0")

    val ins = sql("INSERT INTO graft.nw.con_t SELECT TIMESTAMP'2024-01-01 00:00:00', 1, 2.0")
    assert(!ins.queryExecution.executedPlan.toString.contains("ExecV1"),
      "a CHECK-constrained table must stay on the native write")
    assert(sql("SELECT COUNT(*) FROM graft.nw.con_t").collect().head.getLong(0) == 1)
    // ANSI NULL passes — the V1 guard's coalesce(.., true) semantics
    sql("INSERT INTO graft.nw.con_t SELECT TIMESTAMP'2024-01-03 00:00:00', 3, CAST(NULL AS DOUBLE)")
    assert(sql("SELECT COUNT(*) FROM graft.nw.con_t").collect().head.getLong(0) == 2)
    val err = intercept[Exception](
      sql("INSERT INTO graft.nw.con_t SELECT TIMESTAMP'2024-01-02 00:00:00', 2, -5.0"))
    def messages(t: Throwable): String =
      if (t == null) "" else t.getMessage + "\n" + messages(t.getCause)
    assert(messages(err).contains("v_pos"),
      s"the failure must name the constraint: ${messages(err)}")
    assert(sql("SELECT COUNT(*) FROM graft.nw.con_t").collect().head.getLong(0) == 2,
      "a violating insert must not commit")
    // dynamic overwrite now works on constrained tables (it used to
    // refuse at analysis on the V1-fallback path)
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try sql("INSERT OVERWRITE graft.nw.con_t SELECT TIMESTAMP'2024-01-01 00:00:00', 9, 9.0")
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None    => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    val users = sql("SELECT user_id FROM graft.nw.con_t ORDER BY user_id")
      .collect().map(_.getLong(0)).toSeq
    assert(users == Seq(3L, 9L),
      s"dynamic overwrite must replace only the touched day partition: $users")
  }

  test("Collection.insert stores a column of another type as INSERT INTO would, or refuses it unwritten") {
    val root = SparkTestSession.tmp("nw-conform")
    val c = Collection.create(spark, root,
      org.apache.spark.sql.types.StructType.fromDDL("ts TIMESTAMP, user_id BIGINT, v DOUBLE"),
      "ts", graft.core.DatePartitioning("ts", "D"))
    val src = spark.range(60).selectExpr(
      "timestampadd(HOUR, CAST(id AS INT), TIMESTAMP'2024-01-01 00:00:00') AS ts",
      "CAST(id AS INT) AS user_id", "CAST(id * 1.5 AS DECIMAL(10, 1)) AS v")
    c.insert(src)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.selectExpr("user_id", "v").orderBy("user_id").collect().map(_.toString).toSeq
    assert(rows(c.query()) == rows(src.selectExpr("CAST(user_id AS BIGINT) AS user_id",
      "CAST(v AS DOUBLE) AS v")))

    def tree(): Set[String] = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try walk.iterator().asScala.map(_.toString).toSet finally walk.close()
    }
    val (gen, before) = (c.generation, tree())
    val strings = src.selectExpr("ts", "user_id", "CAST(v AS STRING) AS v")
    for (write <- Seq(() => c.insert(strings), () => c.overwrite(strings))) {
      val e = intercept[IllegalArgumentException](write())
      assert(e.getMessage.contains("'v' of type STRING") && e.getMessage.contains("DOUBLE"),
        e.getMessage)
    }
    assert(c.generation == gen && tree() == before, "a refused write must leave the root as it was")
  }

  test("INSERT INTO ... REPLACE WHERE: partition-aligned overwrite-by-expression (r10)") {
    sql("""CREATE TABLE graft.nw.rw_t (grp BIGINT, pos BIGINT, v DOUBLE)
           PARTITIONED BY (grp) TBLPROPERTIES ('axis'='pos')""")
    sql("""INSERT INTO graft.nw.rw_t VALUES
           (1, 1, 1.0), (1, 2, 1.5), (2, 3, 2.0), (2, 4, 2.5), (3, 5, 3.0)""")
    val genBefore = Collection.open(spark,
      s"${CatalogSpec.warehouse}/nw/rw_t", readOnly = true).generation

    val rw = sql("""INSERT INTO graft.nw.rw_t REPLACE WHERE grp = 2
                    SELECT 2L, 99L, 9.9 UNION ALL SELECT 2L, 100L, 9.8""")
    assert(!rw.queryExecution.executedPlan.toString.contains("ExecV1"))
    val got = sql("SELECT grp, pos, v FROM graft.nw.rw_t ORDER BY pos")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq((1L, 1L, 1.0), (1L, 2L, 1.5), (3L, 5L, 3.0),
      (2L, 99L, 9.9), (2L, 100L, 9.8)),
      s"REPLACE WHERE must replace exactly the grp=2 partition: $got")
    // one atomic generation for the whole delete+insert
    val c = Collection.open(spark, s"${CatalogSpec.warehouse}/nw/rw_t", readOnly = true)
    assert(c.generation == genBefore + 1, "replace-where is ONE commit")

    // a data-column predicate cannot be partition-decided — loud refusal
    val err = intercept[Exception](
      sql("INSERT INTO graft.nw.rw_t REPLACE WHERE v > 2.0 SELECT 9L, 9L, 0.0"))
    assert(err.getMessage != null)
    assert(sql("SELECT COUNT(*) FROM graft.nw.rw_t").collect().head.getLong(0) == 5,
      "a refused replace-where must not mutate anything")
    // new rows may land OUTSIDE the replaced partitions (ANSI overwrite
    // semantics: delete matching, insert all new rows)
    sql("INSERT INTO graft.nw.rw_t REPLACE WHERE grp = 3 SELECT 4L, 200L, 4.0")
    val after = sql("SELECT grp FROM graft.nw.rw_t ORDER BY grp")
      .collect().map(_.getLong(0)).toSeq
    assert(after == Seq(1L, 1L, 2L, 2L, 4L), s"got $after")
  }

  test("REPLACE WHERE under a null partition key: SQL three-valued logic, not a refusal") {
    sql("""CREATE TABLE graft.nw.rwn_t (grp BIGINT, pos BIGINT, v DOUBLE)
           PARTITIONED BY (grp) TBLPROPERTIES ('axis'='pos')""")
    sql("""INSERT INTO graft.nw.rwn_t VALUES
           (1, 1, 1.0), (2, 2, 2.0), (CAST(NULL AS BIGINT), 3, 3.0)""")

    // `grp = 1` on the null-keyed partition is UNKNOWN for every row —
    // definitively NOT selected, so the partition is KEPT, not refused
    sql("INSERT INTO graft.nw.rwn_t REPLACE WHERE grp = 1 SELECT 1L, 10L, 1.1")
    val kept = sql("SELECT pos FROM graft.nw.rwn_t ORDER BY pos")
      .collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(2L, 3L, 10L),
      s"null-keyed partition must survive an unrelated REPLACE WHERE: $kept")

    // `grp IS NULL` selects every row of exactly that partition
    sql("INSERT INTO graft.nw.rwn_t REPLACE WHERE grp IS NULL " +
      "SELECT CAST(NULL AS BIGINT), 20L, 0.3")
    val afterNull = sql("SELECT grp, pos FROM graft.nw.rwn_t ORDER BY pos")
      .collect().map(r => (if (r.isNullAt(0)) -1L else r.getLong(0), r.getLong(1))).toSeq
    assert(afterNull == Seq((2L, 2L), (1L, 10L), (-1L, 20L)),
      s"IS NULL must replace exactly the null partition: $afterNull")

    // a negation around the null key stays three-valued: NOT(grp = 9)
    // is UNKNOWN on the null partition (kept), TRUE elsewhere (replaced)
    sql("INSERT INTO graft.nw.rwn_t REPLACE WHERE NOT (grp = 9) SELECT 5L, 30L, 5.0")
    val afterNot = sql("SELECT grp, pos FROM graft.nw.rwn_t ORDER BY pos")
      .collect().map(r => (if (r.isNullAt(0)) -1L else r.getLong(0), r.getLong(1))).toSeq
    assert(afterNot == Seq((-1L, 20L), (5L, 30L)),
      s"NOT(grp = 9) must keep ONLY the null partition: $afterNot")
  }

  test("timestamp and decimal identity keys: REPLACE WHERE refuses; dynamic overwrite, reads and DELETE decide by value") {
    def dynamic(q: String): Unit = {
      val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try sql(q)
      finally prev match {
        case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None    => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
    }
    def positions(t: String): Seq[Long] =
      sql(s"SELECT pos FROM $t ORDER BY pos").collect().map(_.getLong(0)).toSeq

    // Spark names these directories '2023-12-31 23:59:59' and
    // '2024-01-01 10:00:00.5'; REPLACE WHERE decides partitions only
    // over integral, string and date keys
    sql("""CREATE TABLE graft.nw.tsk_t (e TIMESTAMP, pos BIGINT, v DOUBLE)
           PARTITIONED BY (e) TBLPROPERTIES ('axis'='pos')""")
    sql("""INSERT INTO graft.nw.tsk_t VALUES
           (TIMESTAMP'2023-12-31 23:59:59', 1, 1.0),
           (TIMESTAMP'2024-01-01 10:00:00.5', 2, 2.0),
           (TIMESTAMP'2024-01-01 10:00:00.5', 3, 3.0)""")
    for (pred <- Seq("e = TIMESTAMP'2023-12-31 23:59:59'",
                     "e > TIMESTAMP'2024-01-01 00:00:00'")) {
      intercept[Exception](sql(
        s"INSERT INTO graft.nw.tsk_t REPLACE WHERE $pred SELECT TIMESTAMP'2023-12-31 23:59:59', 7L, 7.0"))
      assert(positions("graft.nw.tsk_t") == Seq(1L, 2L, 3L),
        s"a refused REPLACE WHERE ($pred) must not write anything")
    }
    dynamic("INSERT OVERWRITE graft.nw.tsk_t SELECT TIMESTAMP'2024-01-01 10:00:00.5', 9L, 9.0")
    assert(positions("graft.nw.tsk_t") == Seq(1L, 9L),
      "dynamic overwrite must replace exactly the 10:00:00.5 partition")
    assert(sql("SELECT pos FROM graft.nw.tsk_t WHERE e = TIMESTAMP'2024-01-01 10:00:00.5'")
      .collect().map(_.getLong(0)).toSeq == Seq(9L))
    // reads decide these partitions by time, not by string: the filter,
    // the metadata count, the grouped count and a DELETE all see them
    assert(sql("SELECT count(*) FROM graft.nw.tsk_t WHERE e > TIMESTAMP'2024-01-01 00:00:00'")
      .collect().head.getLong(0) == 1)
    val groups = sql("SELECT CAST(e AS STRING), count(*) FROM graft.nw.tsk_t GROUP BY e")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(groups == Set(("2023-12-31 23:59:59", 1L), ("2024-01-01 10:00:00.5", 1L)), s"$groups")
    assert(Collection.open(spark, s"${CatalogSpec.warehouse}/nw/tsk_t", readOnly = true)
      .query("e == '2024-01-01 10:00:00.500'").count() == 1)
    sql("DELETE FROM graft.nw.tsk_t WHERE e = TIMESTAMP'2023-12-31 23:59:59'")
    assert(positions("graft.nw.tsk_t") == Seq(9L))

    sql("""CREATE TABLE graft.nw.deck_t (d DECIMAL(10,2), pos BIGINT, v DOUBLE)
           PARTITIONED BY (d) TBLPROPERTIES ('axis'='pos')""")
    sql("""INSERT INTO graft.nw.deck_t VALUES
           (1.50BD, 1, 1.0), (1.50BD, 2, 2.0), (-3.10BD, 3, 3.0)""")
    intercept[Exception](sql(
      "INSERT INTO graft.nw.deck_t REPLACE WHERE d = 1.50BD SELECT 1.50BD, 7L, 7.0"))
    assert(positions("graft.nw.deck_t") == Seq(1L, 2L, 3L))
    dynamic("INSERT OVERWRITE graft.nw.deck_t SELECT 1.50BD, 9L, 9.0")
    assert(positions("graft.nw.deck_t") == Seq(3L, 9L),
      "dynamic overwrite must replace exactly the 1.50 partition")
    assert(sql("SELECT pos FROM graft.nw.deck_t WHERE d = 1.5").collect().map(_.getLong(0)).toSeq
      == Seq(9L))
    val dGroups = sql("SELECT CAST(d AS STRING), count(*) FROM graft.nw.deck_t GROUP BY d")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(dGroups == Set(("1.50", 1L), ("-3.10", 1L)), s"$dGroups")
  }

  test("capabilities() is IO-free after first probe and never throws on a stale handle") {
    import org.apache.spark.sql.connector.catalog.TableCapability
    val root = s"${CatalogSpec.warehouse}/nw/caps_t"
    val df = spark.range(3).selectExpr(
      "timestampadd(HOUR, CAST(id AS INT), TIMESTAMP'2024-01-01 00:00:00') AS ts",
      "id AS v")
    val c = graft.core.Collection.create(spark, root, df.schema, "ts",
      graft.core.DatePartitioning("ts", "D"), catalogEnabled = true)
    c.insert(df)

    // a handle whose collection was concurrently REPARTITIONED: analysis
    // of a plain SELECT probes capabilities() — it must not throw, and
    // advertises the same native set as any catalog table
    val table = new graft.sources.GraftTable(spark, root, "graft.nw.caps_t", None)
    table.schema() // force the handle open BEFORE the concurrent repartition
    graft.core.Collection.open(spark, root)
      .changePartitioning(graft.core.DatePartitioning("ts", "h"))
    val caps = table.capabilities()
    assert(caps == java.util.Set.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.STREAMING_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER, TableCapability.OVERWRITE_DYNAMIC),
      s"a stale handle must advertise the constant native set, not throw: $caps")
    // an INSERT into that table plans natively and lands under the new
    // hourly layout
    val ins = sql("""INSERT INTO graft.nw.caps_t VALUES
      (TIMESTAMP'2024-01-01 03:00:00', 3), (TIMESTAMP'2024-01-01 04:00:00', 4)""")
    val plan = ins.queryExecution.executedPlan.toString
    assert(plan.contains("GraftNativeWrite") && !plan.contains("ExecV1"), plan)
    val after = graft.core.Collection.open(spark, root, readOnly = true)
    assert(after.query().select("v").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(0L, 1L, 2L, 3L, 4L))
    assert(after.partitions().size == 5, s"hourly partitions: ${after.partitions()}")
  }

  test("identity (sequence) partition keys: Hive escaping and null sentinel round-trip") {
    sql("""CREATE TABLE graft.nw.seq_t (k STRING, pos BIGINT, payload DOUBLE)
           PARTITIONED BY (k) TBLPROPERTIES ('axis'='pos')""")
    spark.sql("""SELECT * FROM VALUES
        ('plain', 1L, 1.0), ('a=b/c d', 2L, 2.0), ('pct%25', 3L, 3.0),
        (CAST(NULL AS STRING), 4L, 4.0), ('plain', 5L, 5.0)
        AS t(k, pos, payload)""").createOrReplaceTempView("nw_seq_src")
    val ins = sql("INSERT INTO graft.nw.seq_t SELECT * FROM nw_seq_src")
    assert(!ins.queryExecution.executedPlan.toString.contains("ExecV1"),
      "string identity keys are native-writable")
    val back = sql("SELECT k, pos, payload FROM graft.nw.seq_t ORDER BY pos")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(back == Seq(("plain", 1L, 1.0), ("a=b/c d", 2L, 2.0), ("pct%25", 3L, 3.0),
      (null, 4L, 4.0), ("plain", 5L, 5.0)),
      s"escaped/null partition values must round-trip exactly: $back")
    // and a filter on the identity key still prunes to its directory
    assert(sql("SELECT COUNT(*) FROM graft.nw.seq_t WHERE k = 'a=b/c d'")
      .collect().head.getLong(0) == 1)
  }
}
