package graft

import org.scalatest.funsuite.AnyFunSuite

/** `df.writeStream.toTable("graft.db.t")` (r10): the NATIVE DSv2
  * streaming sink on the catalog face — per-epoch executor parquet
  * writes + one atomic manifest generation carrying the
  * (streamName, epochId) high-water mark, the exactly-once contract of
  * the V1 path sink (GraftSink) without the Row bridge. Paired with
  * `readStream.table` (StreamTableSpec) this closes the catalog-native
  * streaming loop: table -> transform -> table, no format/path options.
  */
class StreamTableWriteSpec extends AnyFunSuite {
  lazy val spark = {
    val s = SparkTestSession.spark
    s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft.warehouse", CatalogSpec.warehouse)
    GraftExtensions.register(s)
    s
  }

  private def sql(q: String) = spark.sql(q)

  private def ckpt(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  test("toTable appends each micro-batch exactly once; the mark commits with the data") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.stw")
    sql("CREATE TABLE graft.stw.src (cargo BIGINT, v DOUBLE) PARTITIONED BY (cargo)")
    sql("CREATE TABLE graft.stw.out (cargo BIGINT, v DOUBLE) PARTITIONED BY (cargo)")
    sql("INSERT INTO graft.stw.src VALUES (1, 1.0), (2, 2.0)")

    val cp = ckpt("stw-append")
    def run(): Unit = {
      val q = spark.readStream.table("graft.stw.src")
        .writeStream.option("checkpointLocation", cp)
        .toTable("graft.stw.out")
      try q.processAllAvailable() finally q.stop()
    }
    run()
    def got: Seq[(Long, Double)] = sql("SELECT * FROM graft.stw.out")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    assert(got == Seq((1L, 1.0), (2L, 2.0)), s"first epoch = source snapshot: $got")

    // restart from the same checkpoint after new source commits: ONLY
    // the increment lands — offsets resume AND the sink's high-water
    // mark refuses any replayed epoch
    sql("INSERT INTO graft.stw.src VALUES (3, 3.0)")
    run()
    assert(got == Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)),
      s"restart must append only the new commit, once: $got")

    // the idempotence mark is IN the manifest, committed with the files
    val out = graft.core.Collection.open(spark,
      s"${CatalogSpec.warehouse}/stw/out", readOnly = true)
    assert(out.streamHighWaterMark(cp).nonEmpty,
      "the (streamName=checkpointLocation, epoch) mark must be committed " +
      "atomically with the batch")
  }

  test("a replayed epoch is skipped against the committed mark (at-least-once -> exactly-once)") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.stw")
    sql("CREATE TABLE graft.stw.rp (cargo BIGINT, v DOUBLE) PARTITIONED BY (cargo)")
    val root = s"${CatalogSpec.warehouse}/stw/rp"

    // drive the StreamingWrite directly with the SAME epoch twice — the
    // harness-level simulation of Spark replaying an epoch whose sink
    // commit landed but whose checkpoint commit-log record did not
    val table = new graft.sources.GraftTable(spark, root, "graft.stw.rp", None)
    val rowSchema = sql("SELECT * FROM graft.stw.rp").schema
    val info = new org.apache.spark.sql.connector.write.LogicalWriteInfo {
      override def options() = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("streamName", "replay-test"))
      override def queryId(): String = "qid-replay"
      override def schema() = rowSchema
    }
    val sw = table.newWriteBuilder(info).build()
      .toStreaming
    def writeEpoch(epochId: Long, rows: Seq[(Long, Double)]): Unit = {
      val f = sw.createStreamingWriterFactory(
        new org.apache.spark.sql.connector.write.PhysicalWriteInfo {
          override def numPartitions(): Int = 1
        })
      val w = f.createWriter(0, 0L, epochId)
      val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
        .create(rowSchema.fields.map(_.dataType))
      rows.foreach { case (k, v) =>
        w.write(proj(org.apache.spark.sql.catalyst.InternalRow(k, v)))
      }
      sw.commit(epochId, Array(w.commit()))
    }
    writeEpoch(0L, Seq((1L, 1.0)))
    writeEpoch(0L, Seq((1L, 1.0))) // the replay — must be skipped
    writeEpoch(1L, Seq((2L, 2.0)))
    val got = sql("SELECT * FROM graft.stw.rp").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    assert(got == Seq((1L, 1.0), (2L, 2.0)),
      s"epoch 0's replay must not land twice: $got")
    // the replay's orphan files were actively removed, not left to vacuum
    val c = graft.core.Collection.open(spark, root, readOnly = true)
    assert(c.streamHighWaterMark("replay-test").contains(1L))
  }

  test("Complete mode replaces the table every epoch (aggregate toTable)") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.stw")
    sql("CREATE TABLE graft.stw.csrc (cargo BIGINT, v DOUBLE) PARTITIONED BY (cargo)")
    sql("CREATE TABLE graft.stw.cagg (cargo BIGINT, n BIGINT) PARTITIONED BY (cargo)")
    sql("INSERT INTO graft.stw.csrc VALUES (1, 1.0), (1, 2.0), (2, 1.0)")

    val cp = ckpt("stw-complete")
    def run(): Unit = {
      val q = spark.readStream.table("graft.stw.csrc")
        .groupBy("cargo").count().withColumnRenamed("count", "n")
        .writeStream.outputMode("complete")
        .option("checkpointLocation", cp)
        .toTable("graft.stw.cagg")
      try q.processAllAvailable() finally q.stop()
    }
    run()
    def got: Seq[(Long, Long)] = sql("SELECT * FROM graft.stw.cagg")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == Seq((1L, 2L), (2L, 1L)), s"complete mode = full aggregate: $got")

    sql("INSERT INTO graft.stw.csrc VALUES (2, 3.0), (3, 3.0)")
    run()
    assert(got == Seq((1L, 2L), (2L, 2L), (3L, 1L)),
      s"each epoch must REPLACE the previous complete result, not append: $got")
  }

  test("the queryId mark fallback is stable across checkpoint restarts") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.stw")
    sql("CREATE TABLE graft.stw.qsrc (cargo BIGINT, v DOUBLE) PARTITIONED BY (cargo)")
    sql("CREATE TABLE graft.stw.qout (cargo BIGINT, v DOUBLE) PARTITIONED BY (cargo)")
    sql("INSERT INTO graft.stw.qsrc VALUES (1, 1.0)")
    // checkpoint via the CONF default (no checkpointLocation OPTION), so
    // the mark key falls through to info.queryId() — the exactly-once
    // contract then requires that id to survive a restart
    val cp = ckpt("stw-qid")
    val prev = spark.conf.getOption("spark.sql.streaming.checkpointLocation")
    spark.conf.set("spark.sql.streaming.checkpointLocation", cp)
    // the committed stream marks, as the output collection's manifest
    // records them
    def marks(): Map[String, Long] = graft.core.Collection.open(spark,
      s"${CatalogSpec.warehouse}/stw/qout", readOnly = true).streamMarks()
    def run(): Map[String, Long] = {
      val q = spark.readStream.table("graft.stw.qsrc")
        .writeStream.queryName("stw_qid_probe").toTable("graft.stw.qout")
      try q.processAllAvailable() finally q.stop()
      marks()
    }
    try {
      val first = run()
      sql("INSERT INTO graft.stw.qsrc VALUES (2, 2.0)")
      val second = run()
      assert(first.size == 1 && second.keySet == first.keySet,
        s"the queryId mark key must survive a checkpoint restart " +
        s"($first vs $second) — otherwise a replayed epoch could land twice")
      assert(second.head._2 > first.head._2,
        s"the restarted run's epoch must advance the same mark: $first -> $second")
      val got = sql("SELECT cargo FROM graft.stw.qout ORDER BY cargo")
        .collect().map(_.getLong(0)).toSeq
      assert(got == Seq(1L, 2L), s"exactly-once across the restart: $got")
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.checkpointLocation", v)
      case None    => spark.conf.unset("spark.sql.streaming.checkpointLocation")
    }
  }

  test("CHECK constraints stream too (r10b): enforced per epoch, violations kill the query uncommitted") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.stw")
    sql("CREATE TABLE graft.stw.gsrc (cargo BIGINT, v DOUBLE) PARTITIONED BY (cargo)")
    sql("CREATE TABLE graft.stw.guarded (cargo BIGINT, v DOUBLE) PARTITIONED BY (cargo)")
    graft.core.Collection.open(spark, s"${CatalogSpec.warehouse}/stw/guarded")
      .addConstraint("v_nonneg", "v >= 0")
    sql("INSERT INTO graft.stw.gsrc VALUES (1, 1.0), (2, 2.0)")

    val cp = ckpt("stw-guard")
    def run(): Unit = {
      val q = spark.readStream.table("graft.stw.gsrc")
        .writeStream.option("checkpointLocation", cp)
        .toTable("graft.stw.guarded")
      try q.processAllAvailable() finally q.stop()
    }
    run()
    assert(sql("SELECT count(*) FROM graft.stw.guarded").collect().head.getLong(0) == 2)

    // a violating epoch fails the query and commits NOTHING
    sql("INSERT INTO graft.stw.gsrc VALUES (3, -3.0), (4, 4.0)")
    val err = intercept[Exception](run())
    def messages(t: Throwable): String =
      if (t == null) "" else t.getMessage + "\n" + messages(t.getCause)
    assert(messages(err).contains("v_nonneg"),
      s"the stream failure must name the constraint: ${messages(err)}")
    assert(sql("SELECT count(*) FROM graft.stw.guarded").collect().head.getLong(0) == 2,
      "a violating epoch must not commit any of its rows")
  }

  test("toTable into a renamed table streams; a rename mid-run fails the next epoch; a restart streams on") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.stw")
    sql("CREATE TABLE graft.stw.rsrc (cargo BIGINT, v DOUBLE) PARTITIONED BY (cargo)")
    sql("CREATE TABLE graft.stw.rout (cargo BIGINT, v DOUBLE) PARTITIONED BY (cargo)")
    val outRoot = s"${CatalogSpec.warehouse}/stw/rout"
    graft.core.Collection.open(spark, outRoot).renameVariable("v", "score")
    sql("INSERT INTO graft.stw.rsrc VALUES (1, 1.0), (2, 2.0)")

    val cp = ckpt("stw-rename")
    def start(as: String) = spark.readStream.table("graft.stw.rsrc")
      .withColumnRenamed("v", as)
      .writeStream.option("checkpointLocation", cp)
      .toTable("graft.stw.rout")
    def got(col: String): Seq[(Long, Double)] = sql(s"SELECT cargo, $col FROM graft.stw.rout")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq

    val q1 = start("score")
    try q1.processAllAvailable() finally q1.stop()
    assert(got("score") == Seq((1L, 1.0), (2L, 2.0)), "rows read back under the new name")
    // the files carry the physical name
    val files = spark.read.parquet(outRoot + "/cargo=1").columns
    assert(files.contains("v") && !files.contains("score"), files.mkString(","))

    // a rename while the query runs refuses the next epoch, naming both
    // schemas, and commits nothing
    val q2 = start("score")
    val err = try {
      q2.processAllAvailable()
      graft.core.Collection.open(spark, outRoot).renameVariable("score", "weight")
      sql("INSERT INTO graft.stw.rsrc VALUES (3, 3.0)")
      intercept[Exception](q2.processAllAvailable())
    } finally q2.stop()
    def messages(t: Throwable): String =
      if (t == null) "" else t.getMessage + "\n" + messages(t.getCause)
    assert(messages(err).contains("cargo,score") && messages(err).contains("cargo,weight"),
      s"the refusal must name both schemas: ${messages(err)}")
    assert(got("weight") == Seq((1L, 1.0), (2L, 2.0)))

    // a restart against the current columns streams on, exactly once
    val q3 = start("weight")
    try q3.processAllAvailable() finally q3.stop()
    assert(got("weight") == Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)))
  }
}
