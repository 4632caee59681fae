package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Collection

/** SQL DML triangle over graft tables (GraftDmlRule): UPDATE, MERGE
  * INTO, and the row-level DELETE fallback, on both SQL faces — the
  * DSv2 catalog (`graftdml.dml.t`) and V1 `USING graft` tables. Spark only
  * rewrites these statements for SupportsRowLevelOperations tables; the
  * post-hoc rule lowers them onto the file-granular copy-on-write
  * engine paths instead. */
class SqlDmlSpec extends AnyFunSuite {

  lazy val spark = {
    val s = SparkTestSession.spark
    s.conf.set("spark.sql.catalog.graftdml", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graftdml.warehouse", SqlDmlSpec.warehouse)
    s
  }

  private def sql(q: String) = spark.sql(q)

  private var n = 0
  /** Fresh catalog table (days(ts) partitioning, one file per day). */
  private def mkTable(): String = {
    n += 1
    val tbl = s"graftdml.dml.t$n"
    sql("CREATE NAMESPACE IF NOT EXISTS graftdml.dml")
    sql(s"""CREATE TABLE $tbl (ts TIMESTAMP, user_id BIGINT, etype STRING, v DOUBLE)
            PARTITIONED BY (days(ts))""")
    sql(s"""INSERT INTO $tbl VALUES
            (TIMESTAMP'2024-01-01 08:00:00', 1, 'click', 1.0),
            (TIMESTAMP'2024-01-01 09:00:00', 2, 'view',  2.0),
            (TIMESTAMP'2024-01-02 08:00:00', 3, 'click', 3.0),
            (TIMESTAMP'2024-01-02 09:00:00', 4, 'view',  4.0),
            (TIMESTAMP'2024-01-03 08:00:00', 5, 'click', 5.0)""")
    tbl
  }

  private def rows(tbl: String): Seq[(Long, String, Double)] =
    sql(s"SELECT user_id, etype, v FROM $tbl ORDER BY user_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq

  test("SQL UPDATE: row-exact predicate, expression assignments") {
    val tbl = mkTable()
    val res = sql(s"UPDATE $tbl SET v = v * 10, etype = concat(etype, '!') " +
      s"WHERE etype = 'click' AND user_id >= 3")
    assert(res.collect().map(_.getInt(0)).toSeq.head >= 1) // files_rewritten
    assert(rows(tbl) == Seq(
      (1L, "click", 1.0), (2L, "view", 2.0), (3L, "click!", 30.0),
      (4L, "view", 4.0), (5L, "click!", 50.0)))
  }

  test("SQL UPDATE without WHERE touches every row") {
    val tbl = mkTable()
    sql(s"UPDATE $tbl SET v = 0.5")
    assert(rows(tbl).forall(_._3 == 0.5))
  }

  test("SQL UPDATE is file-granular: translatable conjuncts prune the rewrite") {
    val tbl = mkTable()
    def files(day: Int): Int = {
      val dir = java.nio.file.Paths.get(SqlDmlSpec.warehouse,
        "dml", tbl.split("\\.").last, "year=2024", "month=1", s"day=$day")
      java.nio.file.Files.list(dir).filter(_.toString.endsWith(".parquet")).count().toInt
    }
    val (d2, total) = (files(2), files(1) + files(2) + files(3))
    assert(total > d2, "need untouched partitions for the assertion to bite")
    // pmod() is outside the pushdown domain; day = 2 (a METADATA column)
    // still prunes — only jan-2's files rewrite
    val res = sql(s"UPDATE $tbl SET v = -v WHERE day = 2 AND pmod(user_id, 2) = 1")
    assert(res.collect().head.getInt(0) == d2,
      "exactly the day=2 files must rewrite (derived-column conjunct prunes)")
    assert(rows(tbl).map(_._3) == Seq(1.0, 2.0, -3.0, 4.0, 5.0))
  }

  test("SQL UPDATE refusals are loud: scalar in SET, axis/partition assignment") {
    val tbl = mkTable()
    // UNCORRELATED SCALAR in the CONDITION lowers (r11b): evaluated once,
    // spliced as a typed literal — rows above the average zero out
    sql(s"UPDATE $tbl SET v = 0 WHERE v > (SELECT avg(v) FROM $tbl)")
    assert(rows(tbl).map(_._3) == Seq(1.0, 2.0, 3.0, 0.0, 0.0))
    // an EMPTY scalar is NULL: the predicate is UNKNOWN, nothing updates
    sql(s"UPDATE $tbl SET v = -1 WHERE v > (SELECT v FROM $tbl WHERE user_id > 1000)")
    assert(rows(tbl).map(_._3) == Seq(1.0, 2.0, 3.0, 0.0, 0.0))
    // r12: UNCORRELATED SCALAR in SET lowers too — evaluated once,
    // spliced as a typed literal into the assignment
    sql(s"UPDATE $tbl SET v = (SELECT max(v) FROM $tbl) WHERE user_id = 1")
    assert(rows(tbl).map(_._3) == Seq(3.0, 2.0, 3.0, 0.0, 0.0),
      "SET scalar = the pre-statement max(v)")
    // an EMPTY scalar in SET assigns NULL (SQL), not an error
    sql(s"UPDATE $tbl SET v = (SELECT v FROM $tbl WHERE user_id > 1000) WHERE user_id = 2")
    assert(sql(s"SELECT count(*) FROM $tbl WHERE v IS NULL")
      .collect()(0).getLong(0) == 1L,
      "empty scalar assigns NULL to the one matched row")
    val e2 = intercept[Exception] {
      sql(s"UPDATE $tbl SET ts = TIMESTAMP'2030-01-01 00:00:00'")
    }
    assert(e2.getMessage.contains("axis") || e2.getMessage.contains("partition"))
  }

  test("SQL DELETE/UPDATE with uncorrelated IN (SELECT ...) lowers exactly (r11)") {
    val tbl = mkTable()
    // dimension table driving the subquery
    sql(s"""CREATE TABLE graftdml.dml.dim_users (user_id BIGINT, flagged BOOLEAN)
            PARTITIONED BY (chunk(4, user_id))""")
    sql(s"""INSERT INTO graftdml.dml.dim_users VALUES
            (1, true), (3, true), (4, false), (99, true)""")
    try {
      sql(s"DELETE FROM $tbl WHERE user_id IN " +
        "(SELECT user_id FROM graftdml.dml.dim_users WHERE flagged)")
      assert(rows(tbl) == Seq((2L, "view", 2.0), (4L, "view", 4.0), (5L, "click", 5.0)))
      // UPDATE through the same lowering, NOT IN flavor: the flag's
      // three-valued shape survives the enclosing NOT
      sql(s"UPDATE $tbl SET v = v + 100 WHERE user_id NOT IN " +
        "(SELECT user_id FROM graftdml.dml.dim_users WHERE NOT flagged)")
      assert(rows(tbl) == Seq((2L, "view", 102.0), (4L, "view", 4.0), (5L, "click", 105.0)))
      // subquery result holding a NULL: NOT IN selects NOTHING (UNKNOWN
      // everywhere except matches, which are FALSE) — the classic trap,
      // exactly SQL
      sql(s"INSERT INTO graftdml.dml.dim_users VALUES (CAST(NULL AS BIGINT), false)")
      sql(s"UPDATE $tbl SET v = -1 WHERE user_id NOT IN " +
        "(SELECT user_id FROM graftdml.dml.dim_users WHERE NOT flagged)")
      assert(rows(tbl) == Seq((2L, "view", 102.0), (4L, "view", 4.0), (5L, "click", 105.0)),
        "NOT IN over a null-bearing subquery must select no row")
      // empty subquery: IN = FALSE (delete nothing), NOT IN = TRUE
      sql(s"DELETE FROM $tbl WHERE user_id IN " +
        "(SELECT user_id FROM graftdml.dml.dim_users WHERE user_id > 1000)")
      assert(rows(tbl).size == 3)
      // uncorrelated EXISTS folds to a constant
      sql(s"DELETE FROM $tbl WHERE v < 0 OR NOT EXISTS " +
        "(SELECT 1 FROM graftdml.dml.dim_users)")
      assert(rows(tbl).size == 3)
    } finally sql("DROP TABLE IF EXISTS graftdml.dml.dim_users")
  }

  test("SQL DELETE/UPDATE with equality-correlated IN: per-group three-valued semantics (r11b)") {
    val tbl = mkTable()
    // (user_id -> score) pairs: user 1 matching, user 2 group holds a
    // NULL score, user 3 group exists but no match, user 5 NO group
    sql(s"""CREATE TABLE graftdml.dml.dim_in (user_id BIGINT, score DOUBLE)
            PARTITIONED BY (chunk(4, user_id))""")
    sql(s"""INSERT INTO graftdml.dml.dim_in VALUES
            (1, 1.0), (2, 2.0), (2, CAST(NULL AS DOUBLE)), (3, 99.0), (4, 4.0)""")
    try {
      // v IN (SELECT score WHERE d.user_id = t.user_id): TRUE for users
      // 1 and 4 (v matches a group pair); user 2 (v=2.0) also matches
      sql(s"DELETE FROM $tbl t WHERE t.v IN " +
        s"(SELECT d.score FROM graftdml.dml.dim_in d WHERE d.user_id = t.user_id)")
      assert(rows(tbl) == Seq((3L, "click", 3.0), (5L, "click", 5.0)))
      // correlated NOT IN: user 3's group = {99.0}, no match, no null ->
      // flag FALSE -> NOT IN TRUE (updates); user 5 has NO group ->
      // flag FALSE -> updates; a user-2-shaped null group would be NULL
      sql(s"UPDATE $tbl t SET v = v + 100 WHERE t.v NOT IN " +
        s"(SELECT d.score FROM graftdml.dml.dim_in d WHERE d.user_id = t.user_id)")
      assert(rows(tbl) == Seq((3L, "click", 103.0), (5L, "click", 105.0)))
      // the per-group null trap: re-insert user 2 rows and probe a value
      // its null-bearing group does not match -> NULL -> no delete
      sql(s"INSERT INTO $tbl VALUES (TIMESTAMP'2024-01-01 09:30:00', 2, 'probe', 7.0)")
      sql(s"DELETE FROM $tbl t WHERE t.v IN " +
        s"(SELECT d.score FROM graftdml.dml.dim_in d WHERE d.user_id = t.user_id)")
      assert(rows(tbl).exists(r => r._1 == 2L && r._3 == 7.0),
        "a null-bearing group without a match must yield NULL, keeping the row")
      // r12b: scalar correlated LOWERS — per-key max joins back; rows
      // with no group compare against NULL (UNKNOWN keeps)
      val before = rows(tbl).map(_._1)
      sql(s"DELETE FROM $tbl t WHERE t.v > (SELECT max(d.score) FROM " +
        s"graftdml.dml.dim_in d WHERE d.user_id = t.user_id)")
      // state before: (2,'probe',7.0), (3,103.0), (5,105.0). max per
      // key: u2=2.0, u3=99.0; u5 has NO group -> NULL -> kept.
      assert(rows(tbl).map(_._1) == Seq(5L),
        s"per-key max comparison deletes 2 and 3, keeps groupless 5 (before: $before)")
      // the count bug: an empty group counts 0, not NULL
      sql(s"UPDATE $tbl t SET v = -1 WHERE (SELECT count(*) FROM " +
        s"graftdml.dml.dim_in d WHERE d.user_id = t.user_id AND d.score > 1000) = 0")
      assert(rows(tbl).map(_._3) == Seq(-1.0),
        "count over an empty correlated group must be 0 (the COUNT bug), not NULL")
    } finally sql("DROP TABLE IF EXISTS graftdml.dml.dim_in")
  }

  test("correlated scalar: arithmetic, grouped, HAVING shapes lower exactly (r13)") {
    sql("CREATE NAMESPACE IF NOT EXISTS graftdml.dml")
    sql(s"""CREATE TABLE IF NOT EXISTS graftdml.dml.dim_sc (user_id BIGINT, grp STRING, score DOUBLE)
            PARTITIONED BY (chunk(4, user_id))""")
    sql(s"""INSERT INTO graftdml.dml.dim_sc VALUES
            (1, 'a', 10.0), (1, 'a', 20.0),
            (2, 'a', 1.0), (2, 'b', 2.0),
            (3, 'a', 50.0)""")
    try {
      // OUTER arithmetic around the subquery: 1 + count. Groups: u1=2,
      // u2=2, u3=1; empty keys count 0 -> 1+0 = 1.
      val t1 = mkTable()
      sql(s"DELETE FROM $t1 t WHERE t.v >= 1 + (SELECT count(*) FROM " +
        "graftdml.dml.dim_sc d WHERE d.user_id = t.user_id)")
      // v: u1=1<3, u2=2<3, u3=3>=2? 1+count(u3)=2, v=3>=2 deletes;
      // u4: 1+0=1, v=4>=1 deletes; u5: v=5>=1 deletes
      assert(rows(t1).map(_._1) == Seq(1L, 2L),
        s"outer arithmetic with the count default: ${rows(t1).map(_._1)}")
      // INNER arithmetic over the aggregate: empty key -> 2*NULL+1 =
      // NULL -> UNKNOWN keeps; u3: 2*50+1=101 > v -> deletes
      val t2 = mkTable()
      sql(s"DELETE FROM $t2 t WHERE (SELECT 2 * max(d.score) + 1 FROM " +
        "graftdml.dml.dim_sc d WHERE d.user_id = t.user_id) > t.v")
      assert(rows(t2).map(_._1) == Seq(4L, 5L),
        s"inner arithmetic, NULL on empty keys: ${rows(t2).map(_._1)}")
      // count propagated THROUGH the expression: empty key -> 0*2+1 = 1
      val t3 = mkTable()
      sql(s"UPDATE $t3 t SET v = -1 WHERE (SELECT count(*) * 2 + 1 FROM " +
        "graftdml.dml.dim_sc d WHERE d.user_id = t.user_id AND d.score > 900) = 1")
      assert(rows(t3).forall(_._3 == -1.0),
        "count-bug default must propagate through the arithmetic (0*2+1 = 1)")
      // GROUPED: at most one group per key (the 'a'-only slice) lowers
      // exactly; empty keys and no-group keys are NULL
      val t4 = mkTable()
      sql(s"DELETE FROM $t4 t WHERE t.v < (SELECT sum(d.score) FROM " +
        "graftdml.dml.dim_sc d WHERE d.user_id = t.user_id AND d.grp = 'a' " +
        "GROUP BY d.grp) / 10")
      // group 'a' sums: u1=30 -> 3.0 > v=1 deletes; u2=1 -> 0.1 < 2
      // keeps; u3=50 -> 5.0 > 3 deletes; u4/u5: no group -> NULL keeps
      assert(rows(t4).map(_._1) == Seq(2L, 4L, 5L),
        s"plain grouped single-group keys: ${rows(t4).map(_._1)}")
      // >1 groups per key is the SQL cardinality runtime error
      val t5 = mkTable()
      val err = intercept[Exception] {
        sql(s"DELETE FROM $t5 t WHERE t.v < (SELECT sum(d.score) FROM " +
          "graftdml.dml.dim_sc d WHERE d.user_id = t.user_id GROUP BY d.grp)")
      }
      assert(err.getMessage != null &&
        (err.getMessage.contains("more than one row") ||
          Option(err.getCause).exists(_.getMessage.contains("more than one row"))),
        s"multi-group key must raise the scalar cardinality error, got: $err")
      // grouped + HAVING narrowing to one group per key lowers exactly
      val t6 = mkTable()
      sql(s"DELETE FROM $t6 t WHERE t.v <= (SELECT max(d.score) FROM " +
        "graftdml.dml.dim_sc d WHERE d.user_id = t.user_id " +
        "GROUP BY d.grp HAVING count(*) > 1) / 10")
      // only u1's group (a, n=2) survives having: max=20 -> 2.0; v=1 <= 2
      // deletes u1; everyone else: no surviving group -> NULL -> kept
      assert(rows(t6).map(_._1) == Seq(2L, 3L, 4L, 5L),
        s"grouped+HAVING: ${rows(t6).map(_._1)}")
      // ungrouped + HAVING: a having-rejected key is NULL (empty result),
      // NOT the empty-input default — the pathological count shape
      val t7 = mkTable()
      sql(s"UPDATE $t7 t SET v = -1 WHERE (SELECT count(*) FROM " +
        "graftdml.dml.dim_sc d WHERE d.user_id = t.user_id HAVING count(*) = 0) = 0")
      // keys 1-3 have rows: having(count=0) rejects -> NULL -> UNKNOWN
      // keeps; keys 4,5 empty: ungrouped row (count=0) passes -> 0 = 0
      assert(rows(t7).map(r => (r._1, r._3)).filter(_._2 == -1.0).map(_._1) == Seq(4L, 5L),
        s"having-rejected keys must be NULL, empty keys pass the empty row: ${rows(t7)}")
      // correlated scalar in a SET VALUE rides the same lowering: the
      // per-key expression assigns, groupless keys assign the
      // empty-input value (NULL for max-arithmetic, 0-propagated for
      // count shapes)
      val t9 = mkTable()
      sql(s"UPDATE $t9 t SET v = (SELECT 2 * max(d.score) + 1 FROM " +
        "graftdml.dml.dim_sc d WHERE d.user_id = t.user_id)")
      val vals = sql(s"SELECT user_id, v FROM $t9 ORDER BY user_id").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
      assert(vals(1L) == Some(41.0) && vals(3L) == Some(101.0) &&
        vals(4L).isEmpty && vals(5L).isEmpty,
        s"correlated arithmetic scalar in SET: $vals")
      // ungrouped + HAVING over a non-count aggregate
      val t8 = mkTable()
      sql(s"DELETE FROM $t8 t WHERE (SELECT sum(d.score) FROM " +
        "graftdml.dml.dim_sc d WHERE d.user_id = t.user_id HAVING count(*) > 1) > t.v")
      // u1: sum=30 (2 rows, passes) > 1 deletes; u2: sum=3 (2 rows) > 2
      // deletes; u3: 1 row, rejected -> NULL keeps; u4/u5 empty -> NULL
      assert(rows(t8).map(_._1) == Seq(3L, 4L, 5L),
        s"ungrouped HAVING: ${rows(t8).map(_._1)}")
    } finally sql("DROP TABLE IF EXISTS graftdml.dml.dim_sc")
  }

  test("SQL DELETE/UPDATE with equality-correlated EXISTS decorrelates exactly (r11b)") {
    val tbl = mkTable()
    sql(s"""CREATE TABLE graftdml.dml.dim_corr (user_id BIGINT, flagged BOOLEAN)
            PARTITIONED BY (chunk(4, user_id))""")
    sql(s"""INSERT INTO graftdml.dml.dim_corr VALUES
            (1, true), (3, true), (4, false), (99, true), (CAST(NULL AS BIGINT), true)""")
    try {
      // EXISTS with an extra uncorrelated conjunct: only flagged users
      // delete; the NULL dim key never equates (and a NULL outer key
      // would land FALSE, not UNKNOWN — EXISTS is two-valued)
      sql(s"DELETE FROM $tbl t WHERE EXISTS (SELECT 1 FROM graftdml.dml.dim_corr d " +
        "WHERE d.user_id = t.user_id AND d.flagged)")
      assert(rows(tbl) == Seq((2L, "view", 2.0), (4L, "view", 4.0), (5L, "click", 5.0)))
      // NOT EXISTS rides the enclosing boolean structure for free
      sql(s"UPDATE $tbl t SET v = v + 100 WHERE NOT EXISTS " +
        s"(SELECT 1 FROM graftdml.dml.dim_corr d WHERE d.user_id = t.user_id)")
      assert(rows(tbl) == Seq((2L, "view", 102.0), (4L, "view", 4.0), (5L, "click", 105.0)))
      // reversed equality sides + expression on the inner side
      sql(s"DELETE FROM $tbl t WHERE EXISTS (SELECT 1 FROM graftdml.dml.dim_corr d " +
        "WHERE t.user_id = d.user_id + 1 AND NOT d.flagged)")
      assert(rows(tbl) == Seq((2L, "view", 102.0), (4L, "view", 4.0))) // 5 = 4+1 deleted
      // HAVING-correlated equality decorrelates too (the key set is the
      // per-group aggregate): delete rows whose user_id is some group's max
      sql(s"DELETE FROM $tbl t WHERE EXISTS (SELECT 1 FROM graftdml.dml.dim_corr d " +
        "GROUP BY d.flagged HAVING max(d.user_id) = t.user_id)")
      assert(rows(tbl) == Seq((2L, "view", 102.0))) // max(flagged)=99, max(!flagged)=4
      // non-equality correlation refuses loudly
      val e1 = intercept[UnsupportedOperationException] {
        sql(s"DELETE FROM $tbl t WHERE EXISTS (SELECT 1 FROM graftdml.dml.dim_corr d " +
          "WHERE d.user_id < t.user_id)")
      }
      assert(e1.getMessage.contains("correlated EXISTS"))
      // OR-nested correlation refuses loudly (not a top-level conjunct)
      val e2 = intercept[UnsupportedOperationException] {
        sql(s"DELETE FROM $tbl t WHERE EXISTS (SELECT 1 FROM graftdml.dml.dim_corr d " +
          "WHERE d.user_id = t.user_id OR d.flagged)")
      }
      assert(e2.getMessage.contains("correlated"))
    } finally sql("DROP TABLE IF EXISTS graftdml.dml.dim_corr")
  }

  test("SQL DELETE with a predicate outside the exact domain row-levels") {
    val tbl = mkTable()
    // LIKE translates to a V1 filter but has no exact FilterExpr form —
    // the native SupportsDeleteV2 path refuses, the fallback deletes
    // row-exactly
    sql(s"DELETE FROM $tbl WHERE etype LIKE 'cl%' AND v < 4")
    assert(rows(tbl) == Seq((2L, "view", 2.0), (4L, "view", 4.0), (5L, "click", 5.0)))
  }

  test("SQL MERGE: UPDATE SET * + INSERT * (upsert)") {
    val tbl = mkTable()
    sql("""SELECT TIMESTAMP'2024-01-02 08:00:00' AS ts, CAST(3 AS BIGINT) AS user_id,
             'merged' AS etype, 33.0 AS v
           UNION ALL
           SELECT TIMESTAMP'2024-01-04 10:00:00', CAST(9 AS BIGINT), 'new', 9.0""")
      .createOrReplaceTempView("dml_src_upsert")
    sql(s"""MERGE INTO $tbl t USING dml_src_upsert s ON t.user_id = s.user_id
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *""")
    assert(rows(tbl) == Seq(
      (1L, "click", 1.0), (2L, "view", 2.0), (3L, "merged", 33.0),
      (4L, "view", 4.0), (5L, "click", 5.0), (9L, "new", 9.0)))
  }

  test("SQL MERGE: gated explicit SET referencing both sides; no insert clause") {
    val tbl = mkTable()
    sql("""SELECT TIMESTAMP'2024-01-01 08:00:00' AS ts, CAST(1 AS BIGINT) AS user_id,
             'x' AS etype, 100.0 AS v
           UNION ALL
           SELECT TIMESTAMP'2024-01-02 09:00:00', CAST(4 AS BIGINT), 'x', 1.0
           UNION ALL
           SELECT TIMESTAMP'2024-01-04 10:00:00', CAST(7 AS BIGINT), 'x', 7.0""")
      .createOrReplaceTempView("dml_src_gate")
    sql(s"""MERGE INTO $tbl t USING dml_src_gate s ON t.user_id = s.user_id
            WHEN MATCHED AND s.v > 50 THEN UPDATE SET v = t.v + s.v""")
    // user 1 gated in (1+100); user 4 gated out; user 7 unmatched, no insert
    assert(rows(tbl).map(r => (r._1, r._3)) ==
      Seq((1L, 101.0), (2L, 2.0), (3L, 3.0), (4L, 4.0), (5L, 5.0)))
  }

  test("SQL MERGE: conditional DELETE and insert-only merge") {
    val tbl = mkTable()
    sql("""SELECT TIMESTAMP'2024-01-01 08:00:00' AS ts, CAST(1 AS BIGINT) AS user_id,
             'd' AS etype, -1.0 AS v
           UNION ALL
           SELECT TIMESTAMP'2024-01-02 08:00:00', CAST(3 AS BIGINT), 'd', 10.0"""
      ).createOrReplaceTempView("dml_src_del")
    sql(s"""MERGE INTO $tbl t USING dml_src_del s ON t.user_id = s.user_id
            WHEN MATCHED AND s.v < 0 THEN DELETE""")
    assert(rows(tbl).map(_._1) == Seq(2L, 3L, 4L, 5L)) // only user 1 deleted

    sql("""SELECT TIMESTAMP'2024-01-05 08:00:00' AS ts, CAST(8 AS BIGINT) AS user_id,
             'ins' AS etype, 8.0 AS v""").createOrReplaceTempView("dml_src_ins")
    sql(s"""MERGE INTO $tbl t USING dml_src_ins s ON t.user_id = s.user_id
            WHEN NOT MATCHED THEN INSERT *""")
    assert(rows(tbl).map(_._1) == Seq(2L, 3L, 4L, 5L, 8L))
  }

  test("SQL MERGE: NOT MATCHED BY SOURCE DELETE makes merge a full sync") {
    val tbl = mkTable()
    sql("""SELECT TIMESTAMP'2024-01-01 08:00:00' AS ts, CAST(1 AS BIGINT) AS user_id,
             'sync' AS etype, 11.0 AS v
           UNION ALL
           SELECT TIMESTAMP'2024-01-04 10:00:00', CAST(9 AS BIGINT), 'sync', 9.0""")
      .createOrReplaceTempView("dml_src_sync")
    sql(s"""MERGE INTO $tbl t USING dml_src_sync s ON t.user_id = s.user_id
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *
            WHEN NOT MATCHED BY SOURCE THEN DELETE""")
    // target becomes exactly the source
    assert(rows(tbl) == Seq((1L, "sync", 11.0), (9L, "sync", 9.0)))
  }

  test("SQL MERGE: conditional NOT MATCHED BY SOURCE UPDATE marks stale rows") {
    val tbl = mkTable()
    sql("""SELECT TIMESTAMP'2024-01-02 08:00:00' AS ts, CAST(3 AS BIGINT) AS user_id,
             'fresh' AS etype, 3.5 AS v""").createOrReplaceTempView("dml_src_stale")
    sql(s"""MERGE INTO $tbl t USING dml_src_stale s ON t.user_id = s.user_id
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED BY SOURCE AND t.v < 3 THEN UPDATE SET etype = 'stale'""")
    assert(rows(tbl) == Seq(
      (1L, "stale", 1.0), (2L, "stale", 2.0), (3L, "fresh", 3.5),
      (4L, "view", 4.0), (5L, "click", 5.0)))
  }

  test("SQL MERGE: conditional INSERT gates the insert leg (r11b)") {
    val tbl = mkTable()
    // users 3 (matched) and 7, 8 (unmatched; only 8 passes the gate)
    sql("""SELECT TIMESTAMP'2024-01-02 08:00:00' AS ts, CAST(3 AS BIGINT) AS user_id,
             'm' AS etype, 30.0 AS v
           UNION ALL
           SELECT TIMESTAMP'2024-01-05 08:00:00', CAST(7 AS BIGINT), 'n', -7.0
           UNION ALL
           SELECT TIMESTAMP'2024-01-05 09:00:00', CAST(8 AS BIGINT), 'n', 8.0""")
      .createOrReplaceTempView("dml_src_ci")
    sql(s"""MERGE INTO $tbl t USING dml_src_ci s ON t.user_id = s.user_id
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED AND s.v > 0 THEN INSERT *""")
    assert(rows(tbl) == Seq(
      (1L, "click", 1.0), (2L, "view", 2.0), (3L, "m", 30.0),
      (4L, "view", 4.0), (5L, "click", 5.0), (8L, "n", 8.0)),
      "matched row updates regardless of the insert gate; only user 8 inserts")
    // a NULL gate skips (SQL), and target references refuse loudly
    sql(s"""MERGE INTO $tbl t USING dml_src_ci s ON t.user_id = s.user_id
            WHEN NOT MATCHED AND s.etype = 'missing' THEN INSERT *""")
    assert(rows(tbl).size == 6, "an unsatisfied gate inserts nothing")
    val eT = intercept[Exception] {
      sql(s"""MERGE INTO $tbl t USING dml_src_ci s ON t.user_id = s.user_id
              WHEN NOT MATCHED AND t.v > 0 THEN INSERT *""")
    }
    assert(eT.getMessage.toLowerCase.contains("source") ||
      eT.getMessage.contains("resolve") || eT.getMessage.contains("t.v"))
  }

  test("SQL MERGE refusals: non-equi ON; explicit-column INSERT lowers (r12)") {
    val tbl = mkTable()
    sql("""SELECT TIMESTAMP'2024-01-05 08:00:00' AS ts, CAST(8 AS BIGINT) AS user_id,
             'z' AS etype, 8.0 AS v""").createOrReplaceTempView("dml_src_bad")
    val e1 = intercept[UnsupportedOperationException] {
      sql(s"""MERGE INTO $tbl t USING dml_src_bad s ON t.user_id >= s.user_id
              WHEN MATCHED THEN DELETE""")
    }
    assert(e1.getMessage.contains("key equalities"))
    // r12: `INSERT (cols) VALUES (exprs)` is supported — assigned
    // columns take the expressions, unassigned (etype here... none)
    sql(s"""MERGE INTO $tbl t USING dml_src_bad s ON t.user_id = s.user_id
            WHEN NOT MATCHED AND s.v > 0 THEN INSERT (ts, user_id, etype, v)
            VALUES (s.ts, s.user_id, 'x', s.v * 3)""")
    assert(rows(tbl).filter(_._1 == 8L) == Seq((8L, "x", 24.0)),
      "explicit-column conditional insert lands the projected row")
  }

  test("MERGE conditional UPDATE SET *: whole-row replace for gate-true matches only (r12)") {
    val tbl = mkTable()
    // source rows differ from the target in BOTH etype and v — SET *
    // must replace the whole row where the gate holds and carry the rest
    sql("""SELECT TIMESTAMP'2024-01-01 08:00:00' AS ts, CAST(1 AS BIGINT) AS user_id,
             'repl' AS etype, 100.0 AS v
           UNION ALL
           SELECT TIMESTAMP'2024-01-01 09:00:00' AS ts, CAST(2 AS BIGINT) AS user_id,
             'repl' AS etype, 200.0 AS v""").createOrReplaceTempView("dml_src_cu")
    sql(s"""MERGE INTO $tbl t USING dml_src_cu s ON t.user_id = s.user_id
            WHEN MATCHED AND s.v > 150.0 THEN UPDATE SET *""")
    assert(rows(tbl).take(2) == Seq((1L, "click", 1.0), (2L, "repl", 200.0)),
      "only the gate-true match replaces, and it replaces the WHOLE row")
    // NULL gate carries (SQL): no row has etype NULL here, but a gate
    // that evaluates NULL must behave as not-satisfied
    sql(s"""MERGE INTO $tbl t USING dml_src_cu s ON t.user_id = s.user_id
            WHEN MATCHED AND CAST(NULL AS BOOLEAN) THEN UPDATE SET *""")
    assert(rows(tbl).take(2) == Seq((1L, "click", 1.0), (2L, "repl", 200.0)),
      "a NULL gate must carry every matched row")
  }

  test("2-column tuple IN lowers with exact three-valued semantics (r12b)") {
    sql("""SELECT * FROM VALUES (CAST(1 AS BIGINT), 'click'),
             (CAST(3 AS BIGINT), 'click'), (CAST(NULL AS BIGINT), 'view')
           AS t(u, e)""").createOrReplaceTempView("dml_pairs")
    // positive IN: only full matches delete; rows compatible with the
    // null-u pair are UNKNOWN, which DELETE keeps
    val tbl = mkTable()
    sql(s"DELETE FROM $tbl WHERE (user_id, etype) IN (SELECT u, e FROM dml_pairs)")
    assert(rows(tbl).map(_._1) == Seq(2L, 4L, 5L))
    // NOT IN null trap: UNKNOWN keeps, so only rows incompatible with
    // EVERY pair (user 5: 'click' matches no null-row's 'view') delete
    val tbl2 = mkTable()
    sql(s"DELETE FROM $tbl2 WHERE (user_id, etype) NOT IN (SELECT u, e FROM dml_pairs)")
    assert(rows(tbl2).map(_._1) == Seq(1L, 2L, 3L, 4L),
      "UNKNOWN must keep under NOT IN — the classic null trap")
    // NULL probe component: UNKNOWN unless no pair is compatible
    sql(s"UPDATE $tbl2 SET v = -1 WHERE (nullif(user_id, 2), etype) IN (SELECT u, e FROM dml_pairs)")
    assert(rows(tbl2).map(r => (r._1, r._3)) ==
      Seq((1L, -1.0), (2L, 2.0), (3L, -1.0), (4L, 4.0)),
      "null probe stays UNKNOWN (compatible pair exists); full matches update")
    // empty subquery: IN is FALSE for every probe, NOT IN deletes all
    val tbl3 = mkTable()
    sql(s"DELETE FROM $tbl3 WHERE (user_id, etype) IN (SELECT u, e FROM dml_pairs WHERE u > 100)")
    assert(rows(tbl3).size == 5)
    sql(s"DELETE FROM $tbl3 WHERE (user_id, etype) NOT IN (SELECT u, e FROM dml_pairs WHERE u > 100)")
    assert(rows(tbl3).isEmpty)
    // 3+ column tuples keep the refusal
    val e = intercept[UnsupportedOperationException] {
      sql(s"DELETE FROM $tbl WHERE (user_id, etype, v) IN (SELECT u, e, 1.0 FROM dml_pairs)")
    }
    assert(e.getMessage.contains("wider than 2"))
  }

  test("MERGE gated SET * composes with DELETE, both orders, first-match-wins (r12b)") {
    val tbl = mkTable()
    // user 1: update gate true -> whole row; user 2: update gate false,
    // delete gate true -> removed; user 3: both false -> carries
    sql("""SELECT TIMESTAMP'2024-01-01 08:00:00' AS ts, CAST(1 AS BIGINT) AS user_id,
             'upd' AS etype, 100.0 AS v
           UNION ALL SELECT TIMESTAMP'2024-01-01 09:00:00', CAST(2 AS BIGINT), 'del', 0.0
           UNION ALL SELECT TIMESTAMP'2024-01-02 08:00:00', CAST(3 AS BIGINT), 'keep', -5.0
        """).createOrReplaceTempView("dml_src_ud")
    sql(s"""MERGE INTO $tbl t USING dml_src_ud s ON t.user_id = s.user_id
            WHEN MATCHED AND s.v > 50.0 THEN UPDATE SET *
            WHEN MATCHED AND s.etype = 'del' THEN DELETE""")
    assert(rows(tbl) == Seq((1L, "upd", 100.0), (3L, "click", 3.0),
      (4L, "view", 4.0), (5L, "click", 5.0)),
      "gate-true replaces whole row, second-action delete fires only below the first gate")
    // reverse order: DELETE first wins its gate; SET * takes the rest
    val tbl2 = mkTable()
    sql(s"""MERGE INTO $tbl2 t USING dml_src_ud s ON t.user_id = s.user_id
            WHEN MATCHED AND s.etype = 'del' THEN DELETE
            WHEN MATCHED THEN UPDATE SET *""")
    assert(rows(tbl2) == Seq((1L, "upd", 100.0), (3L, "keep", -5.0),
      (4L, "view", 4.0), (5L, "click", 5.0)),
      "delete-first wins its gate; remaining matches take the whole source row")
  }

  test("MERGE DELETE-first with a NULL gate falls through to the update leg (r13)") {
    // ANSI first-match-wins: an UNKNOWN first condition is NOT satisfied,
    // so the row must reach the second (unconditional) action — the gate
    // must negate the null-COALESCED delete condition, not NOT(cond)
    // (NULL -> NULL would wrongly carry the row unchanged).
    sql("""SELECT TIMESTAMP'2024-01-01 08:00:00' AS ts, CAST(1 AS BIGINT) AS user_id,
             'x' AS etype, CAST(NULL AS DOUBLE) AS v
           UNION ALL SELECT TIMESTAMP'2024-01-01 09:00:00', CAST(2 AS BIGINT), 'x', 99.0
           UNION ALL SELECT TIMESTAMP'2024-01-02 08:00:00', CAST(3 AS BIGINT), 'x', 7.0
        """).createOrReplaceTempView("dml_src_nullgate")
    // star shape: SET *
    val tbl = mkTable()
    sql(s"""MERGE INTO $tbl t USING dml_src_nullgate s ON t.user_id = s.user_id
            WHEN MATCHED AND s.v > 50.0 THEN DELETE
            WHEN MATCHED THEN UPDATE SET *""")
    val ids = sql(s"SELECT user_id FROM $tbl ORDER BY user_id")
      .collect().map(_.getLong(0)).toSeq
    assert(ids == Seq(1L, 3L, 4L, 5L),
      s"user 2 deletes; users 1 (NULL gate) and 3 fall through to UPDATE, got $ids")
    val u1 = sql(s"SELECT etype, v FROM $tbl WHERE user_id = 1").collect()(0)
    assert(u1.getString(0) == "x" && u1.isNullAt(1),
      "NULL delete gate must fall through to UPDATE SET * (whole source row)")
    // non-star shape: narrow SET through the UpdateCols path
    val tbl2 = mkTable()
    sql(s"""MERGE INTO $tbl2 t USING dml_src_nullgate s ON t.user_id = s.user_id
            WHEN MATCHED AND s.v > 50.0 THEN DELETE
            WHEN MATCHED THEN UPDATE SET etype = s.etype""")
    assert(rows(tbl2) == Seq((1L, "x", 1.0), (3L, "x", 3.0),
      (4L, "view", 4.0), (5L, "click", 5.0)),
      "non-star DELETE-first: NULL gate falls through to the narrow SET")
  }

  test("MERGE narrow SET must not star-collapse; explicit INSERT nulls unassigned (r12)") {
    val tbl = mkTable()
    // source row matches user_id=1 but differs in etype — a narrow
    // `SET v = s.v` must update ONLY v (the r12 isStarShape coverage
    // fix; collapsing to UpdateAll would smuggle etype='DIFFERENT' in)
    sql("""SELECT TIMESTAMP'2024-01-01 08:00:00' AS ts, CAST(1 AS BIGINT) AS user_id,
             'DIFFERENT' AS etype, 100.0 AS v
           UNION ALL
           SELECT TIMESTAMP'2024-01-06 08:00:00' AS ts, CAST(9 AS BIGINT) AS user_id,
             'newtype' AS etype, 9.0 AS v""").createOrReplaceTempView("dml_src_nrw")
    sql(s"""MERGE INTO $tbl t USING dml_src_nrw s ON t.user_id = s.user_id
            WHEN MATCHED THEN UPDATE SET v = s.v
            WHEN NOT MATCHED THEN INSERT (ts, user_id, v) VALUES (s.ts, s.user_id, s.v)""")
    assert(rows(tbl).filter(_._1 == 1L) == Seq((1L, "click", 100.0)),
      "narrow SET updates only the assigned column — etype stays 'click'")
    val ins = sql(s"SELECT etype, v FROM $tbl WHERE user_id = 9").collect()(0)
    assert(ins.isNullAt(0) && ins.getDouble(1) == 9.0,
      "unassigned INSERT column lands NULL")
  }

  test("V1 `USING graft` tables take the same DML surface") {
    import org.apache.spark.sql.functions._
    val ev = spark.range(6).select(
      expr("timestamp'2024-02-01 00:00:00' + make_interval(0,0,0,CAST(id AS INT),0,0,0)").as("ts"),
      col("id").as("k"), (col("id") * 1.0).as("v"))
    val root = SparkTestSession.tmp("sqldml-v1")
    val c = Collection.create(spark, root, ev.schema, "ts",
      graft.core.DatePartitioning("ts", "D"), overwrite = true)
    c.insert(ev)
    sql(s"CREATE TABLE dml_v1 USING graft OPTIONS (path '$root')")
    try {
      sql("UPDATE dml_v1 SET v = v + 0.5 WHERE pmod(k, 2) = 0")
      val got = sql("SELECT v FROM dml_v1 ORDER BY k").collect().map(_.getDouble(0)).toSeq
      assert(got == Seq(0.5, 1.0, 2.5, 3.0, 4.5, 5.0))
      // row-level DELETE fallback (k*2 is untranslatable)
      sql("DELETE FROM dml_v1 WHERE k * 2 >= 8")
      assert(sql("SELECT count(*) FROM dml_v1").collect().head.getLong(0) == 4L)
      // EXACTLY-translatable delete on the path face: Spark's native
      // SupportsDeleteV2 path
      sql("DELETE FROM dml_v1 WHERE k = 0")
      assert(sql("SELECT count(*) FROM dml_v1").collect().head.getLong(0) == 3L)
    } finally sql("DROP TABLE IF EXISTS dml_v1")
  }

  test("SQL UPDATE with only identity assignments is a legal no-op") {
    val tbl = mkTable()
    val before = rows(tbl)
    val res = sql(s"UPDATE $tbl SET v = v")
    assert(res.collect().head.getInt(0) == 0, "no-op must rewrite zero files")
    assert(rows(tbl) == before)
  }
}

object SqlDmlSpec {
  lazy val warehouse: String =
    java.nio.file.Files.createTempDirectory("graft-dml-wh").toString
}
