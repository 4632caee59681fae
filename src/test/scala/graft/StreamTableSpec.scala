package graft

import org.scalatest.funsuite.AnyFunSuite

/** `spark.readStream.table("graft.db.t")` (r9b): the DSv2 micro-batch
  * face — manifest-generation offsets, native parquet partitions, the
  * same pacing/diff/rewrite-skip engine as `format("graft")`. */
class StreamTableSpec extends AnyFunSuite {
  lazy val spark = {
    val s = SparkTestSession.spark
    s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft.warehouse", CatalogSpec.warehouse)
    GraftExtensions.register(s)
    s
  }

  private def sql(q: String) = spark.sql(q)

  test("readStream.table delivers the snapshot then per-commit increments, exactly once") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.strm")
    sql("CREATE TABLE graft.strm.ev (cargo BIGINT, v DOUBLE) PARTITIONED BY (cargo)")
    sql("INSERT INTO graft.strm.ev VALUES (1, 1.0), (2, 2.0)")

    val name = "strm_tbl_" + System.nanoTime()
    val q = spark.readStream.table("graft.strm.ev")
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("strm-ckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      def got: Seq[(Long, Double)] = spark.table(name)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
      assert(got == Seq((1L, 1.0), (2L, 2.0)), "first batch = starting snapshot")

      sql("INSERT INTO graft.strm.ev VALUES (3, 3.0)")
      q.processAllAvailable()
      assert(got == Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)), "a commit = one increment")

      // no new commits → no duplicate delivery
      q.processAllAvailable()
      assert(got.size == 3)
    } finally q.stop()
  }

  test("checkpoint restart resumes from the committed offset (no re-delivery)") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.strm")
    sql("CREATE TABLE graft.strm.ck (cargo BIGINT, v DOUBLE) PARTITIONED BY (cargo)")
    sql("INSERT INTO graft.strm.ck VALUES (1, 1.0)")
    // table -> graft-sink pipeline: the memory sink refuses checkpoint
    // recovery, the native sink is the real restartable shape anyway
    val ckpt = java.nio.file.Files.createTempDirectory("strm-ckpt2").toString
    val outRoot = SparkTestSession.tmp("strm-ck-out")
    graft.core.Collection.create(spark, outRoot,
      sql("SELECT * FROM graft.strm.ck").schema, "cargo",
      graft.core.SequencePartitioning(Seq("cargo"), "cargo"))
    def run(): Unit = {
      val q = spark.readStream.table("graft.strm.ck")
        .writeStream.format("graft").option("path", outRoot)
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    val out = graft.core.Collection.open(spark, outRoot, readOnly = true)
    assert(out.query().count() == 1)

    sql("INSERT INTO graft.strm.ck VALUES (2, 2.0)")
    run()
    val rows = out.query().collect().map(_.getLong(0)).sorted.toSeq
    assert(rows == Seq(1L, 2L), s"restart must deliver ONLY the new commit once, got $rows")
  }

  test("paced stream restarts at its committed offset — no re-delivery under maxGenerationsPerBatch") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.strm")
    sql("CREATE TABLE graft.strm.pace (cargo BIGINT, v DOUBLE) PARTITIONED BY (cargo)")
    for (i <- 1 to 3) sql(s"INSERT INTO graft.strm.pace VALUES ($i, $i.0)")
    val ckpt = java.nio.file.Files.createTempDirectory("strm-pace-ckpt").toString
    val outRoot = SparkTestSession.tmp("strm-pace-out")
    graft.core.Collection.create(spark, outRoot,
      sql("SELECT * FROM graft.strm.pace").schema, "cargo",
      graft.core.SequencePartitioning(Seq("cargo"), "cargo"))
    def run(): Unit = {
      val q = spark.readStream.option("maxGenerationsPerBatch", "1")
        .table("graft.strm.pace")
        .writeStream.format("graft").option("path", outRoot)
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    val out = graft.core.Collection.open(spark, outRoot, readOnly = true)
    assert(out.query().count() == 3)
    // restart after more commits: the pacing mark must re-seed from the
    // checkpoint, not regress to the start and re-deliver old generations
    sql("INSERT INTO graft.strm.pace VALUES (4, 4.0)")
    sql("INSERT INTO graft.strm.pace VALUES (5, 5.0)")
    run()
    val rows = out.query().collect().map(_.getLong(0)).sorted.toSeq
    assert(rows == Seq(1L, 2L, 3L, 4L, 5L),
      s"paced restart must deliver each row exactly once, got $rows")
  }

  test("Trigger.AvailableNow drains to the head and terminates") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.strm")
    sql("CREATE TABLE graft.strm.an (cargo BIGINT, v DOUBLE) PARTITIONED BY (cargo)")
    for (i <- 1 to 3) sql(s"INSERT INTO graft.strm.an VALUES ($i, $i.0)")
    val name = "strm_an_" + System.nanoTime()
    val q = spark.readStream
      .option("maxGenerationsPerBatch", "1") // several batches, one trigger
      .table("graft.strm.an")
      .writeStream.format("memory").queryName(name)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("strm-an-ckpt").toString)
      .start()
    assert(q.awaitTermination(120000), "AvailableNow must self-terminate")
    val rows = spark.table(name).collect().map(_.getLong(0)).sorted.toSeq
    assert(rows == Seq(1L, 2L, 3L), s"AvailableNow must drain every generation: $rows")
  }

  test("readStream.table streams a fill-bearing, renamed table by its logical names") {
    // fills and renames ride the micro-batch reader like the batch scan:
    // the delivered rows carry the fill under the column's logical name
    sql("CREATE NAMESPACE IF NOT EXISTS graft.strm")
    sql("CREATE TABLE graft.strm.evfill (cargo BIGINT, v DOUBLE) PARTITIONED BY (cargo)")
    sql("INSERT INTO graft.strm.evfill VALUES (1, 1.0)")
    val root = CatalogSpec.warehouse + "/strm/evfill"
    val c = graft.core.Collection.open(spark, root)
    c.addVariable("w", org.apache.spark.sql.types.DoubleType, fill = Some("0.5"))
    c.renameVariable("v", "value")
    val name = "strm_fill_" + System.nanoTime()
    val q = spark.readStream.table("graft.strm.evfill")
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("strm-ckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      def got: Seq[String] = spark.table(name).collect().map(_.toString).sorted.toSeq
      assert(spark.table(name).columns.toSeq == Seq("cargo", "value", "w"))
      assert(got == Seq("[1,1.0,0.5]"), "the pre-add file reads w as its fill")
      sql("INSERT INTO graft.strm.evfill VALUES (2, 2.0, NULL), (3, 3.0, 7.0)")
      q.processAllAvailable()
      assert(got == Seq("[1,1.0,0.5]", "[2,2.0,0.5]", "[3,3.0,7.0]"),
        "a NULL w reads as the fill; renamed values stream under the new name")
    } finally q.stop()
    assert(sql("SELECT * FROM graft.strm.evfill").count() == 3)
  }

  test("data-column filters refuse on the no-refilter streaming face") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.strm")
    sql("CREATE TABLE graft.strm.refuse (cargo BIGINT, v DOUBLE) PARTITIONED BY (cargo)")
    sql("INSERT INTO graft.strm.refuse VALUES (1, 0.5), (1, 2.0)")
    val q = spark.readStream.option("filters", "v > 1.0")
      .table("graft.strm.refuse")
      .writeStream.format("memory").queryName("strm_refuse_" + System.nanoTime())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("strm-refuse-ckpt").toString)
      .start()
    val e = intercept[Exception] { q.processAllAvailable() }
    q.stop()
    assert(e.getMessage.contains("PARTITION-EXACT") ||
      Option(e.getCause).exists(_.getMessage.contains("PARTITION-EXACT")),
      s"a data-column filter must refuse loudly, got: ${e.getMessage}")
  }

  test("options: filters prune batches; maxGenerationsPerBatch paces; AS OF refuses") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.strm")
    sql("CREATE TABLE graft.strm.opt (cargo BIGINT, v DOUBLE) PARTITIONED BY (cargo)")
    sql("INSERT INTO graft.strm.opt VALUES (1, 1.0), (2, 2.0)")
    sql("INSERT INTO graft.strm.opt VALUES (1, 1.5), (3, 3.0)")

    val name = "strm_opt_" + System.nanoTime()
    val q = spark.readStream
      .option("filters", "cargo == 1")
      .option("maxGenerationsPerBatch", "1")
      .table("graft.strm.opt")
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("strm-ckpt3").toString)
      .start()
    try {
      q.processAllAvailable()
      val rows = spark.table(name).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
      assert(rows == Seq((1L, 1.0), (1L, 1.5)),
        s"filter must prune to cargo==1 across paced batches, got $rows")
    } finally q.stop()

    val e = intercept[Exception] {
      spark.readStream.table("graft.strm.opt VERSION AS OF 1")
        .writeStream.format("memory").queryName("strm_asof_" + System.nanoTime()).start()
    }
    assert(e.getMessage != null)
  }

  test("maxFilesPerBatch (r12): one bulk commit streams as k bounded batches, restart resumes mid-split") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.strm")
    sql("CREATE TABLE graft.strm.fp (cargo BIGINT, v DOUBLE) PARTITIONED BY (cargo)")
    // ONE commit spread over 5 partitions = 5 files in a single generation
    sql("INSERT INTO graft.strm.fp VALUES (1,1.0), (2,2.0), (3,3.0), (4,4.0), (5,5.0)")

    val ckpt = java.nio.file.Files.createTempDirectory("strm-fp-ckpt").toString
    val outRoot = SparkTestSession.tmp("strm-fp-out")
    graft.core.Collection.create(spark, outRoot,
      sql("SELECT * FROM graft.strm.fp").schema, "cargo",
      graft.core.SequencePartitioning(Seq("cargo"), "cargo"))
    var batches = 0
    def run(): Unit = {
      val q = spark.readStream.option("maxFilesPerBatch", "2")
        .table("graft.strm.fp")
        .writeStream.format("graft").option("path", outRoot)
        .option("checkpointLocation", ckpt).start()
      try {
        q.processAllAvailable()
        batches += q.recentProgress.count(_.numInputRows > 0)
      } finally q.stop()
    }
    run()
    val out = graft.core.Collection.open(spark, outRoot, readOnly = true)
    assert(out.query().count() == 5)
    assert(batches >= 3, s"5 files / cap 2 must take >= 3 micro-batches, got $batches")
    // restart across another oversized commit: exactly-once, still paced
    sql("INSERT INTO graft.strm.fp VALUES (6,6.0), (7,7.0), (8,8.0)")
    run()
    val rows = out.query().collect().map(_.getLong(0)).sorted.toSeq
    assert(rows == (1L to 8L),
      s"file-paced restart must deliver every row exactly once, got $rows")
  }

  test("Trigger.AvailableNow drains a file-paced bulk commit to the head and terminates") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.strm")
    sql("CREATE TABLE graft.strm.fpan (cargo BIGINT, v DOUBLE) PARTITIONED BY (cargo)")
    sql("INSERT INTO graft.strm.fpan VALUES (1,1.0), (2,2.0), (3,3.0), (4,4.0)")
    val name = "strm_fpan_" + System.nanoTime()
    val q = spark.readStream
      .option("maxFilesPerBatch", "1") // several batches, one trigger
      .table("graft.strm.fpan")
      .writeStream.format("memory").queryName(name)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("strm-fpan-ckpt").toString)
      .start()
    assert(q.awaitTermination(120000), "AvailableNow must self-terminate")
    val rows = spark.table(name).collect().map(_.getLong(0)).sorted.toSeq
    assert(rows == (1L to 4L), s"paced drain must deliver everything once, got $rows")
  }

  test("startingGeneration + file caps on readStream.table paces from the base (r13)") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.strm")
    sql("CREATE TABLE graft.strm.sg (cargo BIGINT, v DOUBLE) PARTITIONED BY (cargo)")
    sql("INSERT INTO graft.strm.sg VALUES (1,1.0), (2,2.0)")          // gen 1
    sql("INSERT INTO graft.strm.sg VALUES (3,3.0), (4,4.0), (5,5.0)") // gen 2: 3 files
    val name = "strm_sg_" + System.nanoTime()
    val q = spark.readStream
      .option("startingGeneration", "1")
      .option("maxFilesPerBatch", "2")
      .table("graft.strm.sg")
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("strm-sg-ckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      val rows = spark.table(name).collect().map(_.getLong(0)).sorted.toSeq
      assert(rows == Seq(3L, 4L, 5L),
        s"only commits AFTER gen 1, no snapshot backfill, got $rows")
      val fed = q.recentProgress.filter(_.numInputRows > 0)
      assert(fed.length == 2, s"3 files / cap 2 = 2 micro-batches, got ${fed.length}")
    } finally q.stop()
  }
}
