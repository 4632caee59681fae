package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core._

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/c"
}

class FilterExprSpec extends AnyFunSuite {
  import FilterExpr._

  test("comparison grammar and eval") {
    val ast = parse("year == 2024 and month >= 3")
    assert(eval(ast, Map("year" -> 2024L, "month" -> 3L)))
    assert(!eval(ast, Map("year" -> 2024L, "month" -> 2L)))
    assert(!eval(ast, Map("year" -> 2023L, "month" -> 5L)))
  }

  test("in / not in / not / or") {
    val ast = parse("cycle in (1, 2) or not (pass == 3)")
    assert(eval(ast, Map("cycle" -> 2L, "pass" -> 3L)))
    assert(eval(ast, Map("cycle" -> 9L, "pass" -> 4L)))
    assert(!eval(ast, Map("cycle" -> 9L, "pass" -> 3L)))
    assert(eval(parse("name not in ('a','b')"), Map("name" -> "c")))
  }

  test("chained comparison") {
    val ast = parse("2023 < year <= 2025")
    assert(eval(ast, Map("year" -> 2024L)))
    assert(!eval(ast, Map("year" -> 2023L)))
    assert(eval(ast, Map("year" -> 2025L)))
    assert(!eval(ast, Map("year" -> 2026L)))
  }

  test("empty filter is a tautology; bad syntax raises") {
    assert(eval(parse(null), Map.empty))
    assert(eval(parse("  "), Map.empty))
    intercept[ParseException](parse("year ==="))
    intercept[ParseException](eval(parse("bogus == 1"), Map("year" -> 1L)))
  }
}

class CollectionSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private def mkEvents(): DataFrame =
    Seq(
      (1L, "2024-01-01 10:00:00", "a", 1.0),
      (2L, "2024-01-01 11:00:00", "b", 2.0),
      (3L, "2024-01-02 10:00:00", "a", 3.0),
      (4L, "2024-02-01 10:00:00", "c", 4.0),
    ).toDF("id", "ts", "kind", "v").withColumn("ts", col("ts").cast("timestamp"))

  test("create/open round-trip and insert/query") {
    val root = SparkTestSession.tmp("graft-coll")
    val df = mkEvents()
    val c = Collection.create(spark, root, df.schema, "ts",
      DatePartitioning("ts", "D"), catalogEnabled = true,
      attrs = Map("mission" -> "demo", "version" -> "1"))
    c.insert(df)

    val reopened = Collection.open(spark, root)
    assert(reopened.axis == "ts")
    assert(reopened.attrs == Map("mission" -> "demo", "version" -> "1"))
    assert(reopened.partitioning.axis == Seq("year", "month", "day"))
    val all = reopened.query()
    assert(all.count() == 4)
    assert(all.columns.toSeq == Seq("id", "ts", "kind", "v"))

    assert(reopened.partitions() ==
      Seq("year=2024/month=1/day=1", "year=2024/month=1/day=2", "year=2024/month=2/day=1"))
    assert(reopened.partitions("month == 2") == Seq("year=2024/month=2/day=1"))
    assert(reopened.query("day == 1 and month == 1").count() == 2)
  }

  test("replace insert overwrites only colliding partitions") {
    val root = SparkTestSession.tmp("graft-coll")
    val df = mkEvents()
    val c = Collection.create(spark, root, df.schema, "ts", DatePartitioning("ts", "D"))
    c.insert(df)
    // re-insert day 1 with different values -> day 2 and feb partitions untouched
    val repl = Seq((9L, "2024-01-01 12:00:00", "z", 9.0))
      .toDF("id", "ts", "kind", "v").withColumn("ts", col("ts").cast("timestamp"))
    c.insert(repl)
    val got = c.query().orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(3L, 4L, 9L))
  }

  test("merge concat / time_series / upsert") {
    val root = SparkTestSession.tmp("graft-coll")
    val df = mkEvents()
    val c = Collection.create(spark, root, df.schema, "ts", DatePartitioning("ts", "D"))
    c.insert(df)

    val extra = Seq((10L, "2024-01-01 10:30:00", "x", 10.0))
      .toDF("id", "ts", "kind", "v").withColumn("ts", col("ts").cast("timestamp"))
    c.insert(extra, MergeStrategy.Concat)
    assert(c.query("day == 1 and month == 1").count() == 3)

    // time_series: drops existing rows inside [10:30, 10:30] window only
    val root2 = SparkTestSession.tmp("graft-coll")
    val c2 = Collection.create(spark, root2, df.schema, "ts", DatePartitioning("ts", "D"))
    c2.insert(df)
    val win = Seq((11L, "2024-01-01 09:00:00", "w", 11.0), (12L, "2024-01-01 10:30:00", "w", 12.0))
      .toDF("id", "ts", "kind", "v").withColumn("ts", col("ts").cast("timestamp"))
    c2.insert(win, MergeStrategy.TimeSeries)
    // existing id=1 (10:00) falls inside [09:00,10:30] -> dropped; id=2 (11:00) kept
    assert(c2.query("day == 1 and month == 1").orderBy("id").collect().map(_.getLong(0)).toSeq
      == Seq(2L, 11L, 12L))

    // upsert exact: same axis value replaces the row
    val root3 = SparkTestSession.tmp("graft-coll")
    val c3 = Collection.create(spark, root3, df.schema, "ts", DatePartitioning("ts", "D"))
    c3.insert(df)
    val up = Seq((21L, "2024-01-01 10:00:00", "u", 21.0))
      .toDF("id", "ts", "kind", "v").withColumn("ts", col("ts").cast("timestamp"))
    c3.insert(up, MergeStrategy.Upsert(None))
    val ids3 = c3.query("day == 1 and month == 1").orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(ids3 == Seq(2L, 21L))

    // upsert with tolerance: 10:00:30 matches 10:00:00 within 60s
    val up2 = Seq((31L, "2024-01-01 10:00:30", "u", 31.0))
      .toDF("id", "ts", "kind", "v").withColumn("ts", col("ts").cast("timestamp"))
    c3.insert(up2, MergeStrategy.Upsert(Some(60L * 1000000)))
    val ids4 = c3.query("day == 1 and month == 1").orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(ids4 == Seq(2L, 31L))
  }

  test("custom merge callable (r12): user fn sees only colliding partitions, result round-trips") {
    val root = SparkTestSession.tmp("graft-coll-custom")
    val df = mkEvents()
    val c = Collection.create(spark, root, df.schema, "ts", DatePartitioning("ts", "D"))
    c.insert(df)
    val before = c.query().count()
    // the fn's return value is the WHOLE write (built-in contract: the
    // full incoming slice is the merge's right side) — a fn that keeps
    // only `existing` therefore discards the entire insert, including
    // rows aimed at brand-new partitions; untouched partitions pass
    var sawAxis: String = null
    var sawParts: Seq[String] = Nil
    val keepExisting = MergeStrategy.Custom { (existing, _, axis, partCols) =>
      sawAxis = axis; sawParts = partCols
      existing
    }
    val slice = Seq(
      (50L, "2024-01-01 10:05:00", "c", 50.0),   // collides with day 1
      (51L, "2024-03-01 10:05:00", "c", 51.0))   // a brand-new partition
      .toDF("id", "ts", "kind", "v").withColumn("ts", col("ts").cast("timestamp"))
    c.insert(slice, keepExisting)
    assert(sawAxis == "ts" && sawParts == Seq("year", "month", "day"),
      s"callable must receive the axis and partition columns, got $sawAxis/$sawParts")
    val ids = c.query().orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(!ids.contains(50L) && !ids.contains(51L),
      "a fn returning only `existing` discards the whole insert")
    assert(c.query().count() == before)
    // a pass-through fn lands everything, new partitions included
    c.insert(slice, MergeStrategy.Custom((ex, ins, _, _) => ex.unionByName(ins)))
    val ids2 = c.query().orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(ids2.contains(50L) && ids2.contains(51L),
      s"pass-through custom merge must land the slice, got $ids2")
    // and a custom keep-max-by-v merge actually merges
    val keepMax = MergeStrategy.Custom { (existing, inserted, _, partCols) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy((partCols.map(col) :+ col("id")): _*).orderBy(col("v").desc)
      existing.unionByName(inserted)
        .withColumn("_rn", row_number().over(w)).where(col("_rn") === 1).drop("_rn")
    }
    val up = Seq((1L, "2024-01-01 10:00:00", "up", 999.0))
      .toDF("id", "ts", "kind", "v").withColumn("ts", col("ts").cast("timestamp"))
    c.insert(up, keepMax)
    val v1 = c.query("day == 1 and month == 1").where(col("id") === 1L)
      .select("v").collect().map(_.getDouble(0)).toSeq
    assert(v1 == Seq(999.0), s"keep-max custom merge must pick the new row, got $v1")
  }

  test("drop partitions and catalog maintenance") {
    val root = SparkTestSession.tmp("graft-coll")
    val df = mkEvents()
    val c = Collection.create(spark, root, df.schema, "ts",
      DatePartitioning("ts", "D"), catalogEnabled = true)
    c.insert(df)
    val dropped = c.dropPartitions("month == 1")
    assert(dropped.size == 2)
    assert(c.query().count() == 1)
    assert(c.partitions() == Seq("year=2024/month=2/day=1"))
    assert(c.repairCatalog() == Seq("year=2024/month=2/day=1"))
  }

  test("map honors the variables whitelist (reference map(..., variables=))") {
    val root = SparkTestSession.tmp("graft-mapvars")
    val df = mkEvents()
    val c = Collection.create(spark, root, df.schema, "ts", DatePartitioning("ts", "D"))
    c.insert(df)
    val got = c.map(d => (d.columns.toSeq, d.count()), filters = "month == 1",
      variables = Seq("id", "v"))
    assert(got.nonEmpty)
    assert(got.forall { case (_, (cols, _)) => cols == Seq("id", "v") })
    assert(got.map(_._2._2).sum == 3)
  }

  test("repairCatalog bootstraps a lost manifest and advances taskBase past adopted ids") {
    // ADVICE r2: the documented recovery path threw 'no manifest' from
    // currentManifest(), and adopted orphan ids could collide with later
    // inserts. Repair must (a) run with _manifest/ gone, (b) bump taskBase
    // past the highest adopted task id.
    val root = SparkTestSession.tmp("graft-repair")
    val df = mkEvents()
    val c = Collection.create(spark, root, df.schema, "ts", DatePartitioning("ts", "D"))
    c.insert(df)
    val before = c.query().count()
    // lose the manifest directory wholesale
    val manDir = java.nio.file.Paths.get(root, Collection.ManifestDir)
    java.nio.file.Files.walk(manDir).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.delete(p))
    val c2 = Collection.open(spark, root)
    intercept[IllegalStateException](c2.query().count()) // no committed snapshot
    val repaired = c2.repairCatalog()
    assert(repaired.size == 3)
    assert(c2.query().count() == before)
    // a post-repair insert must never reuse a _zc_row id range
    val more = Seq((9L, "2024-01-01 17:00:00", "z", 9.0))
      .toDF("id", "ts", "kind", "v").withColumn("ts", col("ts").cast("timestamp"))
    c2.insert(more, MergeStrategy.Concat)
    val ids = c2.readRaw().select(Collection.RowIdCol).collect().map(_.getLong(0)).toSeq
    assert(ids.distinct.size == ids.size, s"duplicate row ids after repair+insert: $ids")
  }

  test("string-typed partition keys with numeric-looking values stay strings") {
    // ADVICE r2 / verdict #5: decodePath coerced any numeric-looking value
    // to Long, so string keys sorted numerically and string-literal
    // filters missed their partitions.
    val root = SparkTestSession.tmp("graft-strkey")
    val df = Seq(("10", 1L, 1.0), ("9", 2L, 2.0), ("100", 3L, 3.0))
      .toDF("k", "seq", "v")
    val c = Collection.create(spark, root, df.schema, "seq",
      SequencePartitioning(Seq("k"), "seq"))
    c.insert(df)
    // declared-type (string) sort order, not numeric
    assert(c.partitions() == Seq("k=10", "k=100", "k=9"))
    assert(c.partitions("k == '10'") == Seq("k=10"))
    assert(c.query("k == '9'").count() == 1)
    // merge collision detection sees the typed key: replace touches only k=9
    val up = Seq(("9", 5L, 9.0)).toDF("k", "seq", "v")
    c.insert(up, MergeStrategy.Replace)
    assert(c.query("k == '9'").collect().map(_.getDouble(2)).toSeq == Seq(9.0))
    assert(c.query().count() == 3)
  }

  test("open fails fast on a legacy pre-manifest format; migrate() upgrades it in place") {
    val root = SparkTestSession.tmp("graft-legacy")
    val df = mkEvents()
    val c0 = Collection.create(spark, root, df.schema, "ts", DatePartitioning("ts", "D"))
    c0.insert(df)
    // forge a format-1 tree: data files present, no manifest, old version stamp
    val manDir = java.nio.file.Paths.get(root, Collection.ManifestDir)
    java.nio.file.Files.walk(manDir).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.delete(p))
    val cfgPath = java.nio.file.Paths.get(root, Collection.ConfigFile)
    val cfg = new String(java.nio.file.Files.readAllBytes(cfgPath))
    java.nio.file.Files.write(cfgPath,
      cfg.replace(s""""formatVersion" : ${Collection.FormatVersion}""",
        """"formatVersion" : 1""").getBytes)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(root, s".${Collection.ConfigFile}.crc"))
    val e = intercept[IllegalStateException](Collection.open(spark, root))
    assert(e.getMessage.contains("legacy format 1"))
    // one-call migration: config restamped, manifest bootstrapped from disk
    val m = Collection.migrate(spark, root)
    assert(m.query().count() == 4)
    assert(Collection.open(spark, root).generation >= 1)
    // idempotent on an already-current tree
    assert(Collection.migrate(spark, root).query().count() == 4)
  }

  test("update rewrites only matching partitions") {
    val root = SparkTestSession.tmp("graft-coll")
    val df = mkEvents()
    val c = Collection.create(spark, root, df.schema, "ts", DatePartitioning("ts", "D"))
    c.insert(df)
    c.update(d => d.withColumn("v", col("v") * 10), filters = "month == 1")
    val got = c.query().orderBy("id").collect().map(_.getDouble(3)).toSeq
    assert(got == Seq(10.0, 20.0, 30.0, 4.0))
  }

  test("update rewrites only the matching partition directories on disk") {
    val root = SparkTestSession.tmp("graft-touch")
    val df = mkEvents()
    val c = Collection.create(spark, root, df.schema, "ts", DatePartitioning("ts", "D"))
    c.insert(df)
    def files(sub: String): Map[String, Long] = {
      val d = new java.io.File(s"$root/$sub")
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(d).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val febBefore = files("year=2024/month=2")
    Thread.sleep(1100) // mtime granularity
    c.update(d => d.withColumn("v", col("v") + 1), filters = "month == 1")
    val febAfter = files("year=2024/month=2")
    assert(febBefore == febAfter, "untouched partition was rewritten")
    assert(c.query("month == 2").collect().map(_.getDouble(3)).toSeq == Seq(4.0))
    assert(c.query("month == 1").count() == 3)
  }

  test("update with a variables projection preserves unloaded columns") {
    val root = SparkTestSession.tmp("graft-updvars")
    val df = mkEvents()
    val c = Collection.create(spark, root, df.schema, "ts", DatePartitioning("ts", "D"))
    c.insert(df)
    c.update(d => {
      // fn sees the partition cols + stable row key + requested variables
      assert(d.columns.toSet == Set("year", "month", "day", Collection.RowIdCol, "v"))
      d.withColumn("v", col("v") * 100)
    }, filters = "month == 1", variables = Seq("v"))
    val got = c.query().orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(2), r.getDouble(3))).toSeq
    assert(got == Seq((1L, "a", 100.0), (2L, "b", 200.0), (3L, "a", 300.0), (4L, "c", 4.0)))
  }

  test("projected update works under identity (sequence) partitioning") {
    // partition cols double as data cols here — the projection join must
    // not duplicate them
    val root = SparkTestSession.tmp("graft-sequpd")
    val df = Seq((1L, 10L, 1.0), (2L, 10L, 2.0), (3L, 20L, 3.0)).toDF("k", "cycle", "v")
    val c = Collection.create(spark, root, df.schema, "k",
      SequencePartitioning(Seq("cycle"), "k"))
    c.insert(df)
    c.update(d => d.withColumn("v", col("v") * 10), filters = "cycle == 10",
      variables = Seq("v"))
    val got = c.query().orderBy("k").collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(got == Seq((1L, 10.0), (2L, 20.0), (3L, 3.0)))
  }

  test("immutable dataset attaches to every read") {
    val root = SparkTestSession.tmp("graft-coll")
    val df = mkEvents()
    val c = Collection.create(spark, root, df.schema, "ts", DatePartitioning("ts", "D"))
    c.insert(df)
    c.writeImmutable(Seq(("sim", 7)).toDF("source", "version"))
    val q = c.query()
    assert(q.columns.toSeq == Seq("id", "ts", "kind", "v", "source", "version"))
    assert(q.select("version").distinct().collect().map(_.getInt(0)).toSeq == Seq(7))
  }

  test("sequence partitioning round-trips types") {
    val root = SparkTestSession.tmp("graft-seq")
    val df = Seq((1L, 10L, "x"), (2L, 10L, "y"), (3L, 20L, "z")).toDF("k", "cycle", "s")
    val c = Collection.create(spark, root, df.schema, "k",
      SequencePartitioning(Seq("cycle"), "k"))
    c.insert(df)
    val got = c.query("cycle == 10")
    assert(got.count() == 2)
    assert(got.schema("cycle").dataType == org.apache.spark.sql.types.LongType)
    assert(got.columns.toSeq == Seq("k", "cycle", "s"))
  }

  test("multi-variable sequence partitioning") {
    val root = SparkTestSession.tmp("graft-seq2")
    val df = Seq((1L, 1L, 10L), (2L, 1L, 20L), (3L, 2L, 10L)).toDF("k", "cycle", "pass")
    val c = graft.api.createCollection(spark, root, df.schema, "k",
      graft.api.sequence(Seq("cycle", "pass"), "k"))
    c.insert(df)
    assert(c.partitions() == Seq("cycle=1/pass=10", "cycle=1/pass=20", "cycle=2/pass=10"))
    assert(c.query("cycle == 1 and pass == 20").collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("upsert with tolerance on a numeric axis") {
    val root = SparkTestSession.tmp("graft-numax")
    val df = Seq((1L, 100L, "a"), (2L, 200L, "b")).toDF("id", "pos", "v")
    val c = Collection.create(spark, root, df.schema, "pos",
      GroupedSequencePartitioning(Seq("pos"), "pos", size = 1000))
    c.insert(df)
    // 103 is within tolerance 5 of 100 -> replaces id=1; 300 is new
    val up = Seq((9L, 103L, "z"), (10L, 300L, "w")).toDF("id", "pos", "v")
    c.insert(up, MergeStrategy.Upsert(Some(5L)))
    val got = c.query().orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(2L, 9L, 10L))
  }

  test("grouped sequence buckets the last variable") {
    val root = SparkTestSession.tmp("graft-gseq")
    val df = Seq((1L, 3L), (2L, 7L), (3L, 12L)).toDF("k", "pass")
    val c = Collection.create(spark, root, df.schema, "k",
      GroupedSequencePartitioning(Seq("pass"), "k", size = 10))
    c.insert(df)
    assert(c.partitions() == Seq("pass_group=0", "pass_group=10"))
    val got = c.query("pass_group == 0").orderBy("k")
    assert(got.collect().map(_.getLong(1)).toSeq == Seq(3L, 7L)) // original values kept
  }

  test("error surface mirrors the reference") {
    val root = SparkTestSession.tmp("graft-err")
    val df = mkEvents()
    // CollectionExistsError analogue
    Collection.create(spark, root, df.schema, "ts", DatePartitioning("ts", "D"))
    intercept[IllegalStateException](
      Collection.create(spark, root, df.schema, "ts", DatePartitioning("ts", "D")))
    // SchemaError analogue: axis not a column
    intercept[IllegalArgumentException](
      Collection.create(spark, root + "2", df.schema, "nope", DatePartitioning("nope", "D")))
    // CollectionNotFoundError analogue
    intercept[IllegalStateException](Collection.open(spark, root + "-missing"))
    // PartitionError analogue: insert without the partitioning variable
    val c = Collection.open(spark, root)
    intercept[org.apache.spark.sql.AnalysisException](
      c.insert(df.drop("ts")))
    // invalid resolution / partitioning params
    intercept[IllegalArgumentException](DatePartitioning("ts", "X"))
    intercept[IllegalArgumentException](GroupedSequencePartitioning(Seq("k"), "k", size = 1))
  }

  test("grouped sequence with leading exact keys") {
    val root = SparkTestSession.tmp("graft-gseq2")
    val df = Seq((1L, 1L, 3L), (2L, 1L, 17L), (3L, 2L, 3L)).toDF("k", "cycle", "pass")
    val c = Collection.create(spark, root, df.schema, "k",
      GroupedSequencePartitioning(Seq("cycle", "pass"), "k", size = 10))
    c.insert(df)
    assert(c.partitions() == Seq("cycle=1/pass_group=0", "cycle=1/pass_group=10", "cycle=2/pass_group=0"))
    assert(c.query("cycle == 1 and pass_group == 10").collect().map(_.getLong(0)).toSeq == Seq(2L))
    // original pass values survive in the data
    assert(c.query().orderBy("k").collect().map(_.getLong(2)).toSeq == Seq(3L, 17L, 3L))
  }

  test("read-only refuses mutation") {
    val root = SparkTestSession.tmp("graft-ro")
    val df = mkEvents()
    Collection.create(spark, root, df.schema, "ts", DatePartitioning("ts", "D")).insert(df)
    val ro = Collection.open(spark, root, readOnly = true)
    intercept[IllegalStateException](ro.insert(df))
    intercept[IllegalStateException](ro.dropPartitions())
  }

  test("crash between data write and manifest commit leaves readers on the old snapshot") {
    val root = SparkTestSession.tmp("graft-crash")
    val df = mkEvents()
    val c = Collection.create(spark, root, df.schema, "ts", DatePartitioning("ts", "D"))
    c.insert(df.where(col("id") <= 2))
    val genBefore = c.generation
    val before = c.query().orderBy("id").collect().map(_.getLong(0)).toSeq

    // the writer dies after appending its data files, before the commit
    CrashAtPublish(root)(c.insert(df.where(col("id") >= 3)))

    assert(c.generation == genBefore, "no manifest was committed")
    assert(c.query().orderBy("id").collect().map(_.getLong(0)).toSeq == before,
      "reader observed uncommitted files")
    assert(c.partitions() == Seq("year=2024/month=1/day=1"))

    // a committed insert into the SAME partitions must not adopt the
    // crash's orphan files (they would duplicate every row)
    c.insert(df.where(col("id") >= 3))
    assert(c.query().orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L),
      "crash orphans were adopted by a later commit")

    // vacuum still reclaims the orphans afterwards (graceMs=0: the
    // quiesced-single-writer mode — no other writer can be in flight)
    val orphans = c.vacuum(graceMs = 0)
    assert(orphans.nonEmpty)
    assert(c.vacuum(graceMs = 0).isEmpty)
    assert(c.query().orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
  }

  test("concat appends never read or rewrite existing files; row ids stay unique per partition") {
    val root = SparkTestSession.tmp("graft-append")
    val df = mkEvents()
    val c = Collection.create(spark, root, df.schema, "ts", DatePartitioning("ts", "D"))
    c.insert(df.where(col("id") === 1L))
    def day1Files(): Set[String] = {
      val d = new java.io.File(s"$root/year=2024/month=1/day=1")
      d.listFiles().filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    }
    val before = day1Files()
    c.insert(mkEvents().where(col("id") === 2L), MergeStrategy.Concat)
    assert(before.subsetOf(day1Files()), "concat rewrote an existing file")
    // row ids from the two separate commits must not collide within the partition
    val ids = c.readRaw().where(col("day") === 1)
      .select(Collection.RowIdCol).collect().map(_.getLong(0)).toSeq
    assert(ids.distinct.size == ids.size, s"row-id collision across commits: $ids")
  }

  test("projected update is safe across partitions written by different commits") {
    // ADVICE r1: row ids restart per write job; a variables-projected
    // update spanning multiple commits must not cross-match rows.
    val root = SparkTestSession.tmp("graft-updx")
    val df = mkEvents()
    val c = Collection.create(spark, root, df.schema, "ts", DatePartitioning("ts", "D"))
    c.insert(df.where(col("id") <= 2))        // commit 1: day 1
    c.insert(df.where(col("id") >= 3))        // commit 2: day 2 + feb
    c.update(d => d.withColumn("v", col("v") * 10), variables = Seq("v"))
    val got = c.query().orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq
    assert(got == Seq((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0)))
  }

  test("upsert tolerance matches across a partition boundary") {
    val root = SparkTestSession.tmp("graft-xday")
    val df = Seq(
      (1L, "2024-01-01 23:59:59.95", "a", 1.0),
      (2L, "2024-01-01 12:00:00", "b", 2.0),
    ).toDF("id", "ts", "kind", "v").withColumn("ts", col("ts").cast("timestamp"))
    val c = Collection.create(spark, root, df.schema, "ts", DatePartitioning("ts", "D"))
    c.insert(df)
    // 00:00:00.04 next day is 90ms after the existing 23:59:59.95 row
    val up = Seq((9L, "2024-01-02 00:00:00.04", "z", 9.0))
      .toDF("id", "ts", "kind", "v").withColumn("ts", col("ts").cast("timestamp"))
    c.insert(up, MergeStrategy.Upsert(Some(100000L))) // 100ms
    val got = c.query().orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(2L, 9L), "existing row at the partition edge was not replaced")
  }

  test("hive-escaped partition values round-trip (string keys with spaces and colons)") {
    val root = SparkTestSession.tmp("graft-esc")
    val df = Seq((1L, "a b:c", 1.0), (2L, "a b:c", 2.0), (3L, "plain", 3.0))
      .toDF("k", "tag", "v")
    val c = Collection.create(spark, root, df.schema, "k",
      SequencePartitioning(Seq("tag"), "k"))
    c.insert(df)
    assert(c.partitions().size == 2)
    // a non-replace merge into the escaped partition must MERGE, not
    // silently dynamic-overwrite it (r1 bug: raw string compare vs
    // escaped dir names never matched)
    val extra = Seq((4L, "a b:c", 4.0)).toDF("k", "tag", "v")
    c.insert(extra, MergeStrategy.Concat)
    assert(c.query("tag == 'a b:c'").count() == 3)
    assert(c.query().count() == 4)
  }

  test("schema evolution: addVariable fills old partitions, dropVariable projects away") {
    val root = SparkTestSession.tmp("graft-evo")
    val df = mkEvents()
    val c = Collection.create(spark, root, df.schema, "ts", DatePartitioning("ts", "D"))
    c.insert(df.where(col("id") <= 2))
    c.addVariable("score", org.apache.spark.sql.types.DoubleType, fill = Some("0.5"))
    assert(c.schema.fieldNames.toSeq == Seq("id", "ts", "kind", "v", "score"))
    // new partitions carry the column; old partitions read it as the fill
    val withScore = mkEvents().where(col("id") >= 3).withColumn("score", col("v") * 2)
    c.insert(withScore)
    val got = c.query().orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(4))).toSeq
    assert(got == Seq((1L, 0.5), (2L, 0.5), (3L, 6.0), (4L, 8.0)))
    // reopen sees the evolved schema (manifest wins over the create-time config)
    assert(Collection.open(spark, root).schema.fieldNames.contains("score"))

    c.dropVariable("kind")
    assert(c.query().columns.toSeq == Seq("id", "ts", "v", "score"))
    intercept[IllegalArgumentException](c.dropVariable("ts"))    // axis
    intercept[IllegalArgumentException](c.addVariable("year", org.apache.spark.sql.types.IntegerType))

    // refuse-to-open-newer: bump the stored format version
    val cfgPath = java.nio.file.Paths.get(root, Collection.ConfigFile)
    val cfg = new String(java.nio.file.Files.readAllBytes(cfgPath))
    java.nio.file.Files.write(cfgPath,
      cfg.replace(s""""formatVersion" : ${Collection.FormatVersion}""",
        s""""formatVersion" : ${Collection.FormatVersion + 1}""").getBytes)
    // drop the stale hadoop-local checksum shadowing the hand-edited file
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(root, s".${Collection.ConfigFile}.crc"))
    intercept[IllegalStateException](Collection.open(spark, root))
  }

  test("generation bumps on every write; views detect a stale overlay") {
    val root = SparkTestSession.tmp("graft-gen")
    val df = mkEvents()
    val c = Collection.create(spark, root, df.schema, "ts", DatePartitioning("ts", "D"))
    val g0 = c.generation
    c.insert(df)
    assert(c.generation == g0 + 1)

    val v = View.create(spark, SparkTestSession.tmp("graft-genview"), c)
    v.update(d => d.withColumn("vv", col("v") * 2))
    assert(v.query().count() == 4)

    // base rewrite -> overlay alignment can no longer be trusted
    c.update(d => d.withColumn("v", col("v") + 1), filters = "month == 1")
    intercept[IllegalStateException](v.query().collect())
    v.query(allowStale = true).collect() // forced
    v.update(d => d.withColumn("vv", col("v") * 2)) // refresh
    assert(v.query().count() == 4)
  }

  test("view partial update: filters= rewrites only matching overlay partitions, variables= preserved") {
    val root = SparkTestSession.tmp("graft-vpart")
    val df = mkEvents()
    val c = Collection.create(spark, root, df.schema, "ts", DatePartitioning("ts", "D"))
    c.insert(df)
    val v = View.create(spark, SparkTestSession.tmp("graft-vpartv"), c)
    v.update(d => d.withColumn("doubled", col("v") * 2).withColumn("neg", -col("v")))
    // recompute ONLY `doubled`, ONLY for january; `neg` must survive
    v.update(d => d.withColumn("doubled", col("v") * 100),
      filters = "month == 1", variables = Seq("doubled"))
    val got = v.query().orderBy("id")
      .collect().map(r => (r.getLong(0), r.getDouble(4), r.getDouble(5))).toSeq
    assert(got == Seq(
      (1L, 100.0, -1.0), (2L, 200.0, -2.0), (3L, 300.0, -3.0), (4L, 8.0, -4.0)))
    // adding a brand-new column requires a full update
    intercept[IllegalArgumentException](
      v.update(d => d.withColumn("fresh", lit(1)), filters = "month == 1"))
  }


  test("schema builder: dotted paths build nested groups that round-trip a collection") {
    import org.apache.spark.sql.types._
    val (schema, attrs) = new SchemaBuilder()
      .withVariable("id", LongType)
      .withVariable("ts", TimestampType)
      .withVariable("payload.ku.power", DoubleType)
      .withVariable("payload.ku.gain", DoubleType)
      .withVariable("payload.c.power", DoubleType)
      .withAttribute("mission", "demo")
      .build()
    assert(schema.fieldNames.toSeq == Seq("id", "ts", "payload"))
    val payload = schema("payload").dataType.asInstanceOf[StructType]
    assert(payload("ku").dataType.asInstanceOf[StructType].fieldNames.toSeq == Seq("power", "gain"))
    assert(attrs == Map("mission" -> "demo"))
    intercept[IllegalArgumentException](
      new SchemaBuilder().withVariable("x", LongType).withVariable("x.y", LongType))

    val root = SparkTestSession.tmp("graft-builder")
    val df = Seq((1L, "2024-01-01 10:00:00", 5.0, 1.0, 2.0))
      .toDF("id", "ts", "p", "g", "c")
      .select(col("id"), col("ts").cast("timestamp"),
        struct(struct(col("p").as("power"), col("g").as("gain")).as("ku"),
               struct(col("c").as("power")).as("c")).as("payload"))
    val coll = Collection.create(spark, root, schema, "ts",
      DatePartitioning("ts", "D"), attrs = attrs)
    coll.insert(df)
    val got = Collection.open(spark, root).query()
    assert(got.select("payload.ku.power").collect()(0).getDouble(0) == 5.0)
    assert(Collection.open(spark, root).attrs == attrs)
  }

  test("time travel: snapshotAt reads append history exactly as committed") {
    val root = SparkTestSession.tmp("graft-tt")
    val df = mkEvents()
    val c = Collection.create(spark, root, df.schema, "ts", DatePartitioning("ts", "D"))
    c.insert(df.where(col("id") <= 2))                       // gen 1
    c.insert(df.where(col("id") >= 3), MergeStrategy.Concat) // gen 2 (pure append)
    assert(c.generations() == Seq(0L, 1L, 2L))
    assert(c.snapshotAt(0).count() == 0)
    assert(c.snapshotAt(1).orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(c.snapshotAt(2).count() == 4)
    // a snapshot taken before a schema change keeps its own schema
    c.addVariable("extra", org.apache.spark.sql.types.IntegerType) // gen 3
    assert(!c.snapshotAt(2).columns.contains("extra"))
    assert(c.query().columns.contains("extra"))
    intercept[IllegalArgumentException](c.snapshotAt(99))

    // a REPLACE commit GCs the files it replaced: the pre-replace
    // snapshot fails loudly at scan time (documented limitation), and
    // the head keeps working
    val genBeforeReplace = c.generation
    c.insert(mkEvents().where(col("id") === 1L).withColumn("v", lit(99.0)))
    intercept[Exception](c.snapshotAt(genBeforeReplace).where(col("id") === 1L).count())
    assert(c.query().where(col("id") === 1L).select("v").collect()(0).getDouble(0) == 99.0)
  }

  test("retention window keeps replaced snapshots time-travelable until vacuum expires them") {
    val root = SparkTestSession.tmp("graft-retain")
    val df = mkEvents()
    val c = Collection.create(spark, root, df.schema, "ts",
      DatePartitioning("ts", "D"), retainGenerations = 2)
    c.insert(df.where(col("id") === 1L))                                  // gen 1
    c.insert(df.where(col("id") === 1L).withColumn("v", lit(50.0)))       // gen 2 replace
    c.insert(df.where(col("id") === 1L).withColumn("v", lit(99.0)))       // gen 3 replace
    // with retain=2 every replaced snapshot is still physically readable
    assert(c.snapshotAt(1).select("v").collect()(0).getDouble(0) == 1.0)
    assert(c.snapshotAt(2).select("v").collect()(0).getDouble(0) == 50.0)
    assert(c.query().select("v").collect()(0).getDouble(0) == 99.0)
    // vacuum keeps the newest retain+1 snapshots intact
    assert(c.vacuum(graceMs = 0).isEmpty)
    assert(c.snapshotAt(1).count() == 1)
    // one more replace pushes gen 1 out of the window; vacuum expires it
    c.insert(df.where(col("id") === 1L).withColumn("v", lit(7.0)))        // gen 4
    assert(c.vacuum(graceMs = 0).nonEmpty)
    intercept[Exception](c.snapshotAt(1).count())
    assert(c.snapshotAt(2).count() == 1, "retained snapshot was expired")
    // dropped partitions also defer their physical delete
    c.dropPartitions("day == 1 and month == 1")                           // gen 5
    assert(c.query().count() == 0)
    assert(c.snapshotAt(4).count() == 1, "drop deleted retained history")
    // reopen preserves the policy
    assert(Collection.open(spark, root).retainGenerations == 2)
  }

  test("compact collapses concat-append file accumulation atomically") {
    val root = SparkTestSession.tmp("graft-compact")
    val df = mkEvents().where(col("id") === 1L)
    val c = Collection.create(spark, root, df.schema, "ts", DatePartitioning("ts", "D"))
    c.insert(df)
    (2 to 5).foreach { i =>
      c.insert(mkEvents().where(col("id") === 1L).withColumn("id", lit(i.toLong)),
        MergeStrategy.Concat)
    }
    def day1Files(): Int = new java.io.File(s"$root/year=2024/month=1/day=1")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(day1Files() >= 5, "appends should have accumulated files")
    val before = c.query().orderBy("id").collect().map(_.getLong(0)).toSeq
    c.compact()
    assert(day1Files() < 5, "compact did not shrink the file count")
    assert(c.query().orderBy("id").collect().map(_.getLong(0)).toSeq == before)
    // row ids stay unique within the partition after the rewrite
    val ids = c.readRaw().select(Collection.RowIdCol).collect().map(_.getLong(0)).toSeq
    assert(ids.distinct.size == ids.size)
  }

  test("multi-row immutable dataset broadcast-joins on shared columns") {
    val root = SparkTestSession.tmp("graft-imm2")
    val df = mkEvents()
    val c = Collection.create(spark, root, df.schema, "ts", DatePartitioning("ts", "D"))
    c.insert(df)
    c.writeImmutable(Seq(("a", "alpha"), ("b", "beta"), ("c", "gamma")).toDF("kind", "kind_name"))
    val got = c.query().orderBy("id").collect().map(_.getString(4)).toSeq
    assert(got == Seq("alpha", "beta", "alpha", "gamma"))
  }

  test("queryArrays: one axis-ordered row-aligned record per partition; arraysToRows inverts it") {
    val root = SparkTestSession.tmp("graft-xarr")
    val df = mkEvents() // ids 1..4 over two days
    val c = Collection.create(spark, root, df.schema, "ts", DatePartitioning("ts", "D"))
    c.insert(df)
    val arr = c.queryArrays(null, Seq("id", "v"))
    val recs = arr.orderBy("day").collect()
    assert(recs.length == c.partitions().size, "one record per partition")
    recs.foreach { r =>
      val n = r.getLong(r.fieldIndex("n"))
      val ts = r.getSeq[java.sql.Timestamp](r.fieldIndex("ts"))
      val ids = r.getSeq[Long](r.fieldIndex("id"))
      val vs = r.getSeq[Double](r.fieldIndex("v"))
      assert(ts.length == n && ids.length == n && vs.length == n, "row-aligned arrays")
      assert(ts == ts.sortBy(_.getTime), "axis-ordered")
    }
    // round trip: explode back and compare against the plain query
    val back = Collection.arraysToRows(arr, Seq("ts", "id", "v"))
      .select("id", "ts", "v").orderBy("id").collect().toSeq
    val direct = c.query(variables = Seq("id", "ts", "v")).orderBy("id").collect().toSeq
    assert(back == direct, "arraysToRows(queryArrays(...)) must reproduce the rows")
    // filters prune before packing (Jan 1 and Feb 1 both have day == 1)
    assert(c.queryArrays("day == 1").count() == 2)
    assert(c.queryArrays("month == 1 and day == 1").count() == 1)
    // exactly ONE shuffle: the partition-key groupBy
    val exchanges = arr.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"array packing must shuffle exactly once, saw $exchanges")
    // un-orderable variables are rejected loudly, not mis-sorted
    val root2 = SparkTestSession.tmp("graft-xarr-map")
    val dfm = spark.range(2).selectExpr("id", "timestamp'2024-01-01 10:00:00' as ts",
      "map('k', id) as props")
    val cm = Collection.create(spark, root2, dfm.schema, "ts", DatePartitioning("ts", "D"))
    cm.insert(dfm)
    intercept[IllegalArgumentException](cm.queryArrays())
    assert(cm.queryArrays(variables = Seq("id")).count() == 1, "projection avoids the map")
  }

  test("fsck orphans equal vacuum's dry-run reclaim set; read-only handles may audit (r10e)") {
    val root = SparkTestSession.tmp("graft-fsck-vac")
    val df = mkEvents()
    val c = Collection.create(spark, root, df.schema, "ts",
      DatePartitioning("ts", "D"))
    c.insert(df)
    assert(c.fsck().clean && c.fsck().orphanFiles.isEmpty)
    // plant two strays in different partition dirs
    val parts = c.partitions().take(2)
    parts.zipWithIndex.foreach { case (p, i) =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$root/$p/part-stray-$i.parquet"),
        Array[Byte](1, 2, 3))
    }
    val orphans = c.fsck().orphanFiles.toSet
    assert(orphans.size == 2, s"both strays must be flagged: $orphans")
    // the report names exactly what vacuum (age-ungated) would reclaim
    val wouldReclaim = c.vacuum(graceMs = 0, dryRun = true).toSet
    assert(orphans == wouldReclaim, s"fsck $orphans != vacuum dryRun $wouldReclaim")
    // a read-only handle may audit (fsck never commits)
    val ro = Collection.open(spark, root, readOnly = true)
    assert(ro.fsck().orphanFiles.toSet == orphans)
    assert(c.generations() == ro.generations())
  }
}
