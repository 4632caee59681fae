package graft.core

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** COLUMN RENAME via name mapping (r11 — the last schema-evolution
  * verb): metadata-only, Iceberg's field-id indirection re-expressed
  * over names. The PHYSICAL name is pinned at add time (files, footer
  * stats, blooms all carry it forever); the manifest maps logical →
  * physical; time travel reads each snapshot under its own names. */
class RenameColumnSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def mk(lo: Long, hi: Long, day: Int) = (lo until hi)
    .map(i => (i, f"2024-01-$day%02d 08:00:00", i, i * 1.0))
    .toDF("id", "ts", "user_id", "value")
    .withColumn("ts", col("ts").cast("timestamp"))

  private def fresh(root: String): Collection = {
    val b = mk(0, 50, 1)
    val c = Collection.create(spark, root, b.schema, "ts",
      DatePartitioning("ts", "D"), statsColumns = Seq("user_id", "value"))
    c.insert(b, MergeStrategy.Concat)
    c.insert(mk(100, 150, 2), MergeStrategy.Concat)
    c
  }

  test("rename is metadata-only; both file generations read under the new name") {
    val root = SparkTestSession.tmp("graft-ren")
    val c = fresh(root)
    val filesBefore = c.currentManifest().files.toSet
    val g0 = c.generation

    c.renameVariable("value", "score")
    assert(c.currentManifest().files.toSet == filesBefore, "rename rewrote data files")
    assert(c.schema.fieldNames.toSeq == Seq("id", "ts", "user_id", "score"))
    assert(c.currentManifest().op.contains("rename-column"))

    // pre-rename files read under the new logical name
    val got = c.query("user_id == 7", Seq("id", "score"))
      .as[(Long, Double)].collect().toSeq
    assert(got == Seq((7L, 7.0)))

    // writes AFTER the rename land under the pinned PHYSICAL name —
    // a post-rename insert plus a full read spans both vintages
    val extra = mk(200, 210, 3).withColumnRenamed("value", "score")
    c.insert(extra, MergeStrategy.Concat)
    assert(c.query().count() == 110)
    assert(c.query().agg(sum(col("score"))).as[Double].collect()(0) ==
      (0L until 50L).sum + (100L until 150L).sum + (200L until 210L).sum)

    // TIME TRAVEL: the pre-rename snapshot reads under ITS OWN name
    val old = c.snapshotAt(g0)
    assert(old.columns.contains("value") && !old.columns.contains("score"))
    assert(old.count() == 100)

    // predicates under the new name still hit the skip layers (stats
    // are keyed by the PHYSICAL footer name; the lookup translates)
    val rep = c.explainPruning("score >= 100 and score < 150")
    assert(rep.filesAfterStats < rep.filesListed,
      s"renamed-column predicate must still prune: $rep")
    assert(c.query("score >= 100", Seq("id")).count() == 60)
    // and metadata bounds answer under the logical name
    assert(c.columnBounds("score").contains((0.0, 209.0)))
  }

  test("rename chain, rename-back identity, and refusals") {
    val root = SparkTestSession.tmp("graft-ren2")
    val c = fresh(root)
    c.renameVariable("value", "v2")
    c.renameVariable("v2", "v3")
    assert(c.query("v3 == 5", Seq("id")).count() == 1)
    // renaming back to the physical name leaves a clean (empty) mapping
    c.renameVariable("v3", "value")
    assert(c.currentManifest().renames.isEmpty)
    // refusals: axis / partitioning input / collisions / constraints
    intercept[IllegalArgumentException](c.renameVariable("ts", "t2"))
    intercept[IllegalArgumentException](c.renameVariable("value", "user_id"))
    intercept[IllegalArgumentException](c.renameVariable("nope", "x"))
    c.renameVariable("value", "score")
    // the physical name of a renamed column is reserved: neither a new
    // column nor another rename may shadow it
    intercept[IllegalArgumentException](
      c.addVariable("value", org.apache.spark.sql.types.DoubleType))
    intercept[IllegalArgumentException](c.renameVariable("user_id", "value"))
    c.addConstraint("pos", "score >= 0")
    intercept[IllegalStateException](c.renameVariable("score", "s2"))
    c.dropConstraint("pos")
    c.renameVariable("score", "s2")
    assert(c.query("s2 == 5", Seq("id")).count() == 1)
  }

  test("fills, drops, and the SQL face follow the rename") {
    val root = SparkTestSession.tmp("graft-ren3")
    val c = fresh(root)
    c.addVariable("w", org.apache.spark.sql.types.DoubleType, fill = Some("1.5"))
    c.renameVariable("w", "weight")
    // the fill follows the logical name: pre-add files read 1.5
    val got = c.query("user_id == 3", Seq("id", "weight"))
      .as[(Long, Double)].collect().toSeq
    assert(got == Seq((3L, 1.5)))
    // the V1 SQL face sees the renamed schema and reads both vintages
    val df = spark.read.format("graft").load(root)
    assert(df.columns.contains("weight"))
    assert(df.where("user_id >= 100").count() == 50)
    // a SQL INSERT into a renamed CATALOG table plans the native write
    // (the task writer names the file column physically), and its rows
    // read back under the new name
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", graft.CatalogSpec.warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ren")
    spark.sql("CREATE TABLE graft.ren.t (k BIGINT, value DOUBLE) PARTITIONED BY (k)")
    spark.sql("INSERT INTO graft.ren.t VALUES (1, 1.0)")
    Collection.open(spark, s"${graft.CatalogSpec.warehouse}/ren/t")
      .renameVariable("value", "score")
    val ins = spark.sql("INSERT INTO graft.ren.t VALUES (2, 2.0)")
    val insPlan = ins.queryExecution.executedPlan.toString
    assert(insPlan.contains("AppendData") && !insPlan.contains("ExecV1"),
      s"a renamed table writes natively:\n$insPlan")
    assert(spark.sql("SELECT k, score FROM graft.ren.t").as[(Long, Double)]
      .collect().sorted.toSeq == Seq((1L, 1.0), (2L, 2.0)))
    // dropping a renamed column retires its PHYSICAL name too
    c.renameVariable("value", "score")
    c.dropVariable("score")
    assert(c.currentManifest().droppedEver.contains("value"),
      "the physical name must join droppedEver")
  }

  test("a column renamed before the first insert is written under its physical name") {
    val root = SparkTestSession.tmp("graft-ren5")
    val b = mk(0, 10, 1)
    val c = Collection.create(spark, root, b.schema, "ts",
      DatePartitioning("ts", "D"), statsColumns = Seq("value"))
    c.renameVariable("value", "score")
    // the initial load (nothing to collide with) takes the same writer
    c.insert(b.withColumnRenamed("value", "score"), MergeStrategy.Concat)
    assert(c.query().agg(sum(col("score"))).as[Double].collect()(0) == (0L until 10L).sum)
    c.currentManifest().files.foreach { f =>
      val cols = spark.read.parquet(s"$root/$f").columns
      assert(cols.contains("value") && !cols.contains("score"), s"$f: ${cols.mkString(",")}")
    }
    assert(c.columnBounds("score").contains((0.0, 9.0)))
  }

  test("a concurrent rename conflicts a stale handle's commit") {
    val root = SparkTestSession.tmp("graft-ren4")
    val c1 = fresh(root)
    val c2 = Collection.open(spark, root)
    // c2 renames; c1's pinned-base commit must hit the schema-evolution
    // rebase conflict, never silently commit under the old schema
    c2.renameVariable("value", "score")
    val stale = c1.currentManifest() // deliberately re-read: head moved
    assert(stale.renames.nonEmpty, "open handles see the head")
    // a genuinely stale base (pre-rename) refuses in the rebase guard
    val pre = c1.manifestAt(c2.generation - 1)
    val e = intercept[java.util.ConcurrentModificationException] {
      c1.commitDelta(pre, Nil, Set("year=2024/month=1/day=1"), 0L)
    }
    assert(e.getMessage.contains("schema evolved"))
  }
}
