package graft.examples

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core._
import graft.sources.Tables

/** Round-6 lakehouse-operations tour: the plain-Spark DataSource surface,
  * CHECK constraints, commit history, TIMESTAMP AS OF, partition
  * evolution, and the vacuum dry run.
  *
  * Run: `sbt "runMain graft.examples.LakehouseOps"`.
  */
object LakehouseOps {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.extensions", "graft.GraftExtensions") // SQL DML
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val root = java.nio.file.Files.createTempDirectory("graft-lake").toString + "/events"
    val c = Collection.create(spark, root, ev.schema, axis = "ts",
      partitioning = DatePartitioning("ts", "D"),
      statsColumns = Seq("user_id"), retainGenerations = 8)

    // constraints guard every write job — even the initial load
    c.addConstraint("value_nonneg", "value >= 0")
    c.insert(ev)

    // the registered "graft" format: plain Spark SQL with skip-stack
    // pushdown (partition keys are first-class columns)
    spark.read.format("graft").load(root)
      .createOrReplaceTempView("events_lake")
    spark.sql("""SELECT event_type, count(*) AS n
                 FROM events_lake WHERE day <= 5 AND user_id = 3
                 GROUP BY event_type ORDER BY n DESC""").show()

    // SQL writes too: a registered table accepts INSERT INTO (derived
    // partition columns are recomputed from the axis, whatever you pass)
    spark.sql(s"CREATE TABLE events_tbl USING graft OPTIONS (path '$root')")
    spark.sql("""INSERT INTO events_tbl
                 SELECT event_id + 1000000, ts, user_id, event_type, value,
                        props, CAST(NULL AS INT), CAST(NULL AS INT), CAST(NULL AS INT)
                 FROM events_tbl WHERE event_id <= 3""")
    println(s"rows after SQL INSERT: ${spark.table("events_tbl").count()}")
    spark.sql("DROP TABLE events_tbl")

    // r8b: the FULL SQL DML triangle (GraftDmlRule lowers UPDATE/MERGE/
    // row-level DELETE onto the file-granular engine paths — requires
    // spark.sql.extensions=graft.GraftExtensions, set above)
    spark.sql(s"CREATE TABLE events_dml USING graft OPTIONS (path '$root')")
    spark.sql("""UPDATE events_dml SET value = value * 2
                 WHERE event_type = 'view' AND day <= 2""")
    spark.sql("DELETE FROM events_dml WHERE event_type LIKE 'err%' AND value < 0.1")
    // note: the path face exposes derived partition columns in its schema,
    // so SET */INSERT * expansion expects them in the source too (their
    // values are recomputed from the axis on write regardless)
    spark.table("events_dml").limit(2)
      .select((col("event_id") + 5000000).as("event_id"), col("ts"),
        col("user_id"), lit("merged").as("event_type"), col("value"), col("props"),
        col("year"), col("month"), col("day"))
      .createOrReplaceTempView("dml_src")
    spark.sql("""MERGE INTO events_dml t USING dml_src s ON t.event_id = s.event_id
                 WHEN MATCHED THEN UPDATE SET *
                 WHEN NOT MATCHED THEN INSERT *""")
    // filtered COUNT answers from partition metadata — zero data files
    spark.sql("SELECT count(*) AS first_week FROM events_dml WHERE day <= 7").show()
    spark.sql("DROP TABLE events_dml")

    // r8b: the DSv2 catalog face + Iceberg-style metadata tables
    spark.conf.set("spark.sql.catalog.lake", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.lake.warehouse",
      root.substring(0, root.lastIndexOf('/')))
    spark.sql("SELECT * FROM lake.events.history").show(truncate = false)
    spark.sql("""SELECT partition, n_files, n_rows, bytes
                 FROM lake.events.partitions ORDER BY partition LIMIT 5""").show(truncate = false)

    val t0 = System.currentTimeMillis()
    c.updateWhere("event_type == 'click' and day <= 3",
      Map("event_type" -> "'early_click'"))

    // commit ledger + time travel by wall clock
    c.describeHistory().show(truncate = false)
    println(s"rows before the update: ${c.snapshotAsOf(t0).count()}")

    // evolve the layout in place: day -> hour; old handles refuse
    val hourly = c.changePartitioning(DatePartitioning("ts", "h"))
    println(s"partitions now hour-keyed: ${hourly.partitions().take(3)}")

    // what would GC reclaim? (nothing is touched)
    println(s"vacuum dry run: ${hourly.vacuum(graceMs = 0L, dryRun = true).size} reclaimable file(s)")

    spark.stop()
  }
}
