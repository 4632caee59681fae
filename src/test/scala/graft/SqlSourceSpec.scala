package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Collection, DatePartitioning, FilterExpr, MergeStrategy}
import graft.sources.SourceFilters

/** The `"graft"` batch format (round 6): plain `spark.read.format` /
  * temp-view SQL over a collection, with data-source filters pushed into
  * the FilterExpr skip stack; `df.write.format("graft")` inserts.
  */
class SqlSourceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def mk(vals: (Long, String, Long, Double)*) = vals
    .toDF("id", "ts", "k", "v").withColumn("ts", col("ts").cast("timestamp"))

  private def fresh(root: String, retain: Int = 0): Collection = {
    val c = Collection.create(spark, root, mk((1L, "x", 1L, 1.0)).schema, "ts",
      DatePartitioning("ts", "D"), statsColumns = Seq("id"),
      retainGenerations = retain)
    c.insert(mk(
      (1L, "2024-01-01 08:00:00", 0L, 1.0), (2L, "2024-01-01 09:00:00", 1L, 2.0),
      (3L, "2024-01-02 08:00:00", 2L, 3.0), (4L, "2024-01-03 08:00:00", 0L, 4.0)))
    c
  }

  test("format(graft) reads match query(); filters push into the skip stack") {
    val root = SparkTestSession.tmp("graft-sql-src")
    fresh(root)
    val df = spark.read.format("graft").load(root)

    // full read parity (data + partition columns exposed)
    assert(df.count() == 4)
    assert(df.columns.contains("day") && !df.columns.contains(Collection.RowIdCol))

    // filter + projection through SQL, with pushdown observed
    df.createOrReplaceTempView("graft_src_events")
    val filtered = spark.sql(
      "SELECT id, v FROM graft_src_events WHERE id >= 2 AND id < 4 AND day <= 2")
    val got = filtered.collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(got == Seq((2L, 2.0), (3L, 3.0)))
    assert(ScanPlans.graftScans(filtered).map(_.report.pushedAst) != Seq(FilterExpr.True),
      "the WHERE clause must reach the skip stack as a pushed AST")

    // unsupported filter shapes degrade to no pushdown, never wrongness
    val odd = df.where("v + 1.0 > 3.5").select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(odd == Seq(3L, 4L))

    // TIMESTAMP literals push down as session-zone wall-clock strings —
    // the axis-range case that drives the zone maps
    val tsDf = df.where("ts >= timestamp'2024-01-02 00:00:00'").select("id")
    val ts = tsDf.collect().map(_.getLong(0)).sorted.toSeq
    assert(ts == Seq(3L, 4L))
    val tsAst = ScanPlans.graftScans(tsDf).map(_.report.pushedAst)
    assert(tsAst.size == 1 && tsAst.head.toString.contains("2024-01-02"),
      s"timestamp filter must push: $tsAst")

    // the path face's scan reports a metadata size for join planning
    val size = df.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(size > 0 && size < 1000000, s"sizeInBytes must come from metadata, got $size")
  }

  test("path reads resolve through the DSv2 face: native BatchScan (r10)") {
    val root = SparkTestSession.tmp("graft-sql-native")
    fresh(root)
    val plan = spark.read.format("graft").load(root).where("id >= 2")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BatchScan"),
      s"a path read must plan the native vectorized BatchScan:\n$plan")
    // writes through the SAME format string stay on the V1 provider
    // (dynamic partition overwrite & friends): plan-level proof is the
    // V1 commands in the write-modes test; here assert the round trip
    mk((99L, "2024-01-05 08:00:00", 9L, 9.0)).write
      .format("graft").mode("append").save(root)
    assert(spark.read.format("graft").load(root).count() == 5)
  }

  test("a user-supplied .schema is accepted and ignored on both faces (pre-r10 contract)") {
    val root = SparkTestSession.tmp("graft-sql-uschema")
    val c = fresh(root)

    // batch: the DSv2 path face must not refuse a passed schema — the
    // manifest stays authoritative (the V1 sourceSchema contract)
    val bare = spark.read.format("graft").load(root)
    val withSchema = spark.read.format("graft").schema(c.readSchema).load(root)
    assert(withSchema.count() == 4 &&
      withSchema.schema.fieldNames.toSeq == bare.schema.fieldNames.toSeq)

    // streaming: `.schema(s)` reached the V1 source pre-r10 (which
    // ignored it); the TableProvider face must keep that working, with
    // the same schema the schemaless stream face serves
    val bareStream = spark.readStream.format("graft").option("root", root).load()
    val stream = spark.readStream.format("graft").schema(c.readSchema)
      .option("root", root).load()
    assert(stream.isStreaming &&
      stream.schema.fieldNames.toSeq == bareStream.schema.fieldNames.toSeq)
  }

  test("write modes: append concats; overwrite honors partitionOverwriteMode") {
    val root = SparkTestSession.tmp("graft-sql-write")
    fresh(root)
    mk((10L, "2024-01-04 08:00:00", 3L, 10.0)).write
      .format("graft").mode("append").save(root)
    val c = Collection.open(spark, root, readOnly = true)
    assert(c.query().count() == 5)

    // dynamic partition overwrite (writer option, Delta's shape): day 1
    // replaced, others untouched
    mk((20L, "2024-01-01 10:00:00", 9L, 20.0)).write
      .format("graft").mode("overwrite")
      .option("partitionOverwriteMode", "dynamic").save(root)
    val ids = Collection.open(spark, root, readOnly = true)
      .query().select("id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(3L, 4L, 10L, 20L), s"got $ids")

    // the session conf works too
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      mk((21L, "2024-01-01 11:00:00", 9L, 21.0)).write
        .format("graft").mode("overwrite").save(root)
      val ids2 = Collection.open(spark, root, readOnly = true)
        .query().select("id").as[Long].collect().sorted.toSeq
      assert(ids2 == Seq(3L, 4L, 10L, 21L), s"got $ids2")
    } finally spark.conf.unset("spark.sql.sources.partitionOverwriteMode")

    // default (STATIC): Spark's conventional path-source overwrite — the
    // whole collection truncated in ONE atomic commit
    mk((40L, "2024-01-06 08:00:00", 2L, 40.0)).write
      .format("graft").mode("overwrite").save(root)
    val ids3 = Collection.open(spark, root, readOnly = true)
      .query().select("id").as[Long].collect().sorted.toSeq
    assert(ids3 == Seq(40L), s"static overwrite must truncate, got $ids3")

    // ignore is a no-op; errorifexists refuses
    mk((30L, "2024-01-05 08:00:00", 1L, 30.0)).write
      .format("graft").mode("ignore").save(root)
    assert(Collection.open(spark, root, readOnly = true).query().count() == 1)
    intercept[Exception](mk((31L, "2024-01-05 09:00:00", 1L, 31.0)).write
      .format("graft").mode("errorifexists").save(root))
  }

  test("versionAsOf / timestampAsOf read options time-travel the format") {
    val root = SparkTestSession.tmp("graft-sql-asof")
    val c = fresh(root, retain = 4) // AS OF needs the old files on disk
    val g0 = c.generation
    val t0 = c.manifestAt(g0).committedAtMs.get
    c.deleteWhere("id == 1")

    assert(spark.read.format("graft").load(root).count() == 3)
    assert(spark.read.format("graft").option("versionAsOf", g0).load(root)
      .count() == 4, "versionAsOf must see the pre-delete snapshot")
    assert(spark.read.format("graft")
      .option("timestampAsOf", t0).load(root).count() == 4)
    // pushdown still applies on the pinned snapshot
    assert(spark.read.format("graft").option("versionAsOf", g0).load(root)
      .where("id >= 3").count() == 2)
    intercept[Exception](spark.read.format("graft")
      .option("versionAsOf", 999L).load(root).count())

    // tagAsOf (r8): the named-snapshot form of the same pin — and the
    // tag KEEPS the old files alive without a retention count
    c.tag("pre-delete", g0)
    assert(spark.read.format("graft").option("tagAsOf", "pre-delete").load(root)
      .count() == 4, "tagAsOf must read the tagged snapshot")
    intercept[Exception](spark.read.format("graft")
      .option("tagAsOf", "nope").load(root).count())
  }

  test("filter translation: strictness under Or/Not, conjunct dropping at top level") {
    import org.apache.spark.sql.sources._
    val known = Set("a", "b")
    def to(fs: Filter*) = SourceFilters.toAst(fs.toArray, known)
    // exact translations
    assert(to(EqualTo("a", 5)) ==
      FilterExpr.Cmp("==", FilterExpr.Name("a"), FilterExpr.Lit(5L)))
    assert(to(In("a", Array(1, 2))) == FilterExpr.In("a", Seq(1L, 2L), negated = false))
    // unknown column / unsupported literal drop at top level
    assert(to(EqualTo("zz", 5)) == FilterExpr.True)
    assert(to(EqualTo("a", BigDecimal(1))) == FilterExpr.True)
    // temporal literals render as the wall-clock strings the
    // mini-language parses (zone = UTC in this spec's call)
    assert(to(GreaterThanOrEqual("a",
        java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T08:00:00Z")))) ==
      FilterExpr.Cmp(">=", FilterExpr.Name("a"),
        FilterExpr.Lit("2024-01-01 08:00:00.000000")))
    // Or with one unconvertible side must drop ENTIRELY (no weakening)
    assert(to(Or(EqualTo("a", 5), EqualTo("zz", 1))) == FilterExpr.True)
    // Not of a convertible subtree converts; of an unconvertible one drops
    assert(to(Not(EqualTo("a", 5))) ==
      FilterExpr.Not(FilterExpr.Cmp("==", FilterExpr.Name("a"), FilterExpr.Lit(5L))))
    assert(to(Not(EqualTo("zz", 5))) == FilterExpr.True)
  }

  test("SQL INSERT INTO / INSERT OVERWRITE on a registered graft table") {
    val root = SparkTestSession.tmp("graft-sql-insert")
    fresh(root)
    val tbl = "graft_ins_" + java.util.UUID.randomUUID().toString.take(8).replace("-", "")
    spark.sql(s"CREATE TABLE $tbl USING graft OPTIONS (path '$root')")
    try {
      assert(spark.table(tbl).count() == 4)
      // positional projection over the relation's full schema (derived
      // partition cols included — their supplied values are recomputed,
      // not trusted: day says 25, the axis says day 4)
      val cols = spark.table(tbl).columns.map {
        case "id"  => "id + 100 AS id"
        case "ts"  => "ts + INTERVAL 1 DAY AS ts"
        case "day" => "25 AS day"
        case c     => c
      }.mkString(", ")
      spark.sql(s"INSERT INTO $tbl SELECT $cols FROM $tbl WHERE id = 3")
      val got = spark.sql(s"SELECT id, day FROM $tbl ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
      assert(got.map(_._1) == Seq(1L, 2L, 3L, 4L, 103L), s"got $got")
      assert(got.last._2 == 3, s"derived day must come from the axis (Jan 3), got $got")

      // INSERT OVERWRITE, static mode: one atomic truncating commit
      spark.sql(s"INSERT OVERWRITE $tbl SELECT ${spark.table(tbl).columns.mkString(", ")} " +
        s"FROM $tbl WHERE id >= 100")
      assert(spark.table(tbl).select("id").as[Long].collect().toSeq == Seq(103L))

      // time-travel tables refuse writes
      val pinned = new graft.sources.GraftTable(spark, root, "pinned", asOfGen = Some(1L),
        pathFace = true)
      val info = new org.apache.spark.sql.connector.write.LogicalWriteInfo {
        override def options() = org.apache.spark.sql.util.CaseInsensitiveStringMap.empty()
        override def queryId(): String = "pinned-write"
        override def schema() = pinned.schema()
      }
      val e = intercept[IllegalArgumentException](pinned.newWriteBuilder(info).build())
      assert(e.getMessage.contains("time-travel"), e.getMessage)
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("polarity-tracked weakening: And drops a conjunct under Or; Not flips the rule") {
    import org.apache.spark.sql.sources._
    val known = Set("a", "b")
    def to(fs: Filter*) = SourceFilters.toAst(fs.toArray, known)
    def cmp(op: String, n: String, v: Long) =
      FilterExpr.Cmp(op, FilterExpr.Name(n), FilterExpr.Lit(v))
    // positive polarity: (a<=1 AND f(zz)) OR b>=4 weakens to a<=1 OR b>=4
    // — the pruning the old exact-or-None translation lost entirely
    assert(to(Or(And(LessThanOrEqual("a", 1), EqualTo("zz", 0)),
                 GreaterThanOrEqual("b", 4))) ==
      FilterExpr.Or(cmp("<=", "a", 1L), cmp(">=", "b", 4L)))
    // negative polarity flips: NOT(a<=2 OR f(zz)) weakens to NOT(a<=2)
    assert(to(Not(Or(LessThanOrEqual("a", 2), EqualTo("zz", 0)))) ==
      FilterExpr.Not(cmp("<=", "a", 2L)))
    // ...but NOT(a>=3 AND f(zz)) must NOT weaken (dropping the conjunct
    // would STRENGTHEN the negation) — it drops entirely
    assert(to(Not(And(GreaterThanOrEqual("a", 3), EqualTo("zz", 0)))) ==
      FilterExpr.True)
    // double negation restores positive polarity: NOT(NOT(a<=1 AND f)) weakens
    assert(to(Not(Not(And(LessThanOrEqual("a", 1), EqualTo("zz", 0))))) ==
      FilterExpr.Not(FilterExpr.Not(cmp("<=", "a", 1L))))
  }

  test("polarity weakening end-to-end: mixed conjunction under Or still prunes files") {
    val root = SparkTestSession.tmp("graft-sql-polarity")
    val df = Seq(
      (1L, "2024-01-01 08:00:00", "alpha", 1.0), (2L, "2024-01-02 08:00:00", "beta", 2.0),
      (3L, "2024-01-03 08:00:00", "gamma", 3.0), (4L, "2024-01-04 08:00:00", "delta", 4.0))
      .toDF("id", "ts", "tag", "v").withColumn("ts", col("ts").cast("timestamp"))
    val c = Collection.create(spark, root, df.schema, "ts",
      DatePartitioning("ts", "D"), statsColumns = Seq("id"))
    c.insert(df)
    val src = spark.read.format("graft").load(root)

    // contains() IS a translatable source Filter (StringContains) — so
    // the whole disjunction reaches conv — but graft's mini-language
    // can't express it: positive polarity weakens the conjunction to
    // id <= 1 and the disjunction around it still prunes
    val weakened = src.where("(id <= 1 AND contains(tag, 'lp')) OR id >= 4").select("id")
    val got = weakened.collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(1L, 4L))
    val Seq(ast) = ScanPlans.graftScans(weakened).map(_.report.pushedAst)
    assert(ast == FilterExpr.Or(
      FilterExpr.Cmp("<=", FilterExpr.Name("id"), FilterExpr.Lit(1L)),
      FilterExpr.Cmp(">=", FilterExpr.Name("id"), FilterExpr.Lit(4L))),
      s"expected the weakened disjunction pushed, got $ast")
    // the weakened AST prunes: days 2 and 3 (ids 2,3) skip at the zone maps
    val rep = c.explainPruning("id <= 1 or id >= 4")
    assert(rep.filesAfterStats < rep.filesListed,
      s"the weakened predicate must still cut files: $rep")
    assert(rep.filesAfterStats == 2, s"expected only the two edge-day files: $rep")
  }

  test("readChangeFeed options: generation range, timestamp start, head default, refusals (r10d)") {
    val root = SparkTestSession.tmp("graft-sql-cdf")
    val c = fresh(root, retain = 4)
    val g0 = c.generation
    val t0 = System.currentTimeMillis()
    Thread.sleep(5)
    c.insert(mk((5L, "2024-01-04 08:00:00", 3L, 5.0)), MergeStrategy.Concat)
    val g1 = c.generation
    c.deleteWhere("id == 2")
    def feed(opts: (String, String)*) = {
      val r = spark.read.format("graft").option("readChangeFeed", "true")
      opts.foldLeft(r) { case (acc, (k, v)) => acc.option(k, v) }.load(root)
    }
    // explicit range: startingVersion is INCLUSIVE of its own commit
    // (Delta parity, r11) — starting AT g1 reads exactly g1's insert
    val mid = feed("startingVersion" -> g1.toString, "endingVersion" -> g1.toString)
      .select("id", "_change_type").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(mid.toSeq == Seq((5L, "insert")))
    // default ending = head: the delete shows too
    val toHead = feed("startingVersion" -> g1.toString)
      .select("id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(identity)
    assert(toHead.toSeq == Seq((2L, "delete"), (5L, "insert")))
    // inclusive start at the FIRST data commit (g0) backfills it too —
    // and because the feed is a SNAPSHOT diff, id 2's insert-then-delete
    // inside the range cancels: the net changes are the surviving rows
    val fromBirth = feed("startingVersion" -> g0.toString)
      .select("id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(identity)
    assert(fromBirth.toSeq == Seq((1L, "insert"),
      (3L, "insert"), (4L, "insert"), (5L, "insert")))
    // timestamp start resolves to the snapshot a reader at t0 saw (g0)
    val byTs = feed("startingTimestamp" -> t0.toString)
      .select("id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(identity)
    assert(byTs.toSeq == Seq((2L, "delete"), (5L, "insert")))
    // schema = table schema + _change_type, on the reader face
    assert(feed("startingVersion" -> g0.toString).schema.fieldNames.toSeq ==
      c.schema.fieldNames.toSeq :+ "_change_type")
    // refusals: no start; an uncommitted generation; mixing with AS OF
    intercept[IllegalArgumentException](feed().collect())
    intercept[Exception](
      feed("startingVersion" -> "999").collect())
    intercept[IllegalArgumentException](
      feed("startingVersion" -> g0.toString, "versionAsOf" -> g1.toString).collect())
  }
}
