package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The one physical write ([[GraftWriterFactory]]): tasks write final
  * uniquely-named files straight into the partition dirs, and the
  * commit's file set comes from task commit messages, never from
  * listing. The contract under test:
  *
  *  1. the committed manifest references EXACTLY the files the write job
  *     created (file-set contract — nothing adopted, nothing lost);
  *  2. rows and partition directory names equal plain Spark's
  *     `partitionBy` write of the same assigned frame;
  *  3. no `_stage` subtree is ever created;
  *  4. crash orphans (a file another writer abandoned in a partition
  *     dir) are never adopted by a commit, and [[Collection.vacuum]]
  *     still reclaims them;
  *  5. concurrent writers to the same collection commit both file sets
  *     without clobbering (unique names, no shared committer, no lock);
  *  6. a write changes no session or SparkContext conf: the codec level
  *     and INT64-micros timestamps ride the job's own conf.
  */
class WriteProtocolSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def events(n: Int, dayOff: Int = 0) =
    (0 until n).map(i => (i.toLong, f"2024-01-${(i % 5) + 1 + dayOff}%02d 10:00:00", i * 1.5))
      .toDF("id", "ts", "v").withColumn("ts", col("ts").cast("timestamp"))

  /** All data files under `root`, as root-relative paths. */
  private def dataFiles(root: String): Set[String] = {
    val fs = Collection.fileSystem(spark, root)
    val it = fs.listFiles(new Path(root), true)
    val out = Set.newBuilder[String]
    val rootUri = fs.makeQualified(new Path(root)).toUri.getPath.stripSuffix("/")
    while (it.hasNext) {
      val st = it.next()
      val p = st.getPath.toUri.getPath
      val rel = p.stripPrefix(rootUri).stripPrefix("/")
      if (rel.contains("=") && !rel.startsWith("_") && rel.endsWith(".parquet"))
        out += rel
    }
    out.result()
  }

  test("commit references exactly the files the job wrote; no _stage dir") {
    val root = SparkTestSession.tmp("graft-write")
    val df = events(200)
    val c = Collection.create(spark, root, df.schema, "ts", DatePartitioning("ts", "D"))
    c.insert(df)
    val fs = Collection.fileSystem(spark, root)
    assert(!fs.exists(new Path(s"$root/${Collection.StageDir}")),
      "a write must never create a staging dir")
    // file-set contract: manifest files == data files on disk, 1:1
    val man = c.currentManifest().files.toSet
    val onDisk = dataFiles(root)
    assert(man == onDisk, s"manifest=${man.size} disk=${onDisk.size}")
    assert(c.query().count() == 200)
  }

  test("rows and partition directories equal plain Spark's partitionBy write") {
    val df = events(300)
    val part = DatePartitioning("ts", "D")
    val root = SparkTestSession.tmp("graft-write-eq")
    val ref = SparkTestSession.tmp("graft-write-ref")
    val c = Collection.create(spark, root, df.schema, "ts", part)
    c.insert(df)
    part.assign(df).write.partitionBy(part.axis: _*).parquet(ref)
    def dirs(files: Set[String]) = files.map(f => f.substring(0, f.lastIndexOf('/')))
    assert(dirs(dataFiles(root)) == dirs(dataFiles(ref)))
    val got = Collection.open(spark, root).query().select("id", "ts", "v")
      .orderBy("id").collect().toSeq
    val want = spark.read.parquet(ref).select("id", "ts", "v").orderBy("id").collect().toSeq
    assert(got == want)
  }

  test("crash orphans are never adopted and vacuum reclaims them") {
    val root = SparkTestSession.tmp("graft-write-orphan")
    val df = events(50)
    val c = Collection.create(spark, root, df.schema, "ts", DatePartitioning("ts", "D"))
    c.insert(df)
    val before = c.query().count()
    // a crashed writer's leftover: a real parquet file in a partition
    // dir, never referenced by any manifest
    val fs = Collection.fileSystem(spark, root)
    val srcRel = dataFiles(root).head
    val orphanSrc = new Path(s"$root/$srcRel")
    val orphan = new Path(orphanSrc.getParent,
      "part-99999-deadbeef-a0.c000.snappy.parquet")
    val orphanRel = srcRel.split("/").dropRight(1).mkString("/") +
      "/" + orphan.getName
    org.apache.hadoop.fs.FileUtil.copy(fs, orphanSrc, fs, orphan, false,
      spark.sparkContext.hadoopConfiguration)
    // reads are manifest-governed: the orphan is invisible
    assert(c.query().count() == before)
    // a subsequent commit does not adopt it either
    c.insert(events(10), MergeStrategy.Concat)
    assert(!c.currentManifest().files.contains(orphanRel))
    // age the orphan out of the grace window, then vacuum reclaims it
    fs.setTimes(orphan, System.currentTimeMillis() - 24L * 3600 * 1000, -1)
    val reclaimed = c.vacuum(graceMs = 60000)
    assert(reclaimed.contains(orphanRel))
    assert(!fs.exists(orphan))
    assert(c.query().count() == before + 10)
  }

  test("concurrent writers commit disjoint file sets without clobbering") {
    val root = SparkTestSession.tmp("graft-write-conc")
    val df = events(20)
    val c = Collection.create(spark, root, df.schema, "ts", DatePartitioning("ts", "D"))
    c.insert(df)
    import java.util.concurrent.{CountDownLatch, Executors}
    val pool = Executors.newFixedThreadPool(2)
    val gate = new CountDownLatch(1)
    // disjoint day ranges: the race under test is the write path, not
    // the (separately spec'd) same-partition commit conflict
    def run(lo: Int, dayOff: Int): java.util.concurrent.Future[_] =
      pool.submit(new Runnable {
        def run(): Unit = {
          gate.await()
          Collection.open(spark, root).insert(events(20, dayOff)
            .withColumn("id", col("id") + lit(lo)))
        }
      })
    val (f1, f2) = (run(1000, 5), run(2000, 10))
    gate.countDown()
    f1.get(); f2.get(); pool.shutdown()
    assert(Collection.open(spark, root).query().count() == 60)
  }

  test("a cloud-cold insert changes no conf; ts is INT64 micros with stats") {
    val levelKey = "parquet.compression.codec.zstd.level"
    val tsKey = "spark.sql.parquet.outputTimestampType"
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val prevLevel = Option(hadoopConf.get(levelKey))
    val prevTs = spark.conf.getOption(tsKey)
    hadoopConf.unset(levelKey)
    spark.conf.set(tsKey, "INT96")
    try {
      val root = SparkTestSession.tmp("graft-write-conf")
      val df = events(40)
      val c = Collection.create(spark, root, df.schema, "ts",
        DatePartitioning("ts", "D"), profile = "cloud-cold")
      c.insert(df)
      assert(hadoopConf.get(levelKey) == null,
        s"the SparkContext's hadoop conf gained $levelKey=${hadoopConf.get(levelKey)}")
      assert(spark.conf.get(tsKey) == "INT96")
      val file = new Path(s"$root/${c.currentManifest().files.head}")
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, hadoopConf))
      try {
        val schema = reader.getFooter.getFileMetaData.getSchema
        val ts = schema.getType(schema.getFieldIndex("ts")).asPrimitiveType
        assert(ts.getPrimitiveTypeName ==
          org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64)
        assert(ts.getLogicalTypeAnnotation ==
          org.apache.parquet.schema.LogicalTypeAnnotation.timestampType(
            true, org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.MICROS))
        val chunk = reader.getFooter.getBlocks.get(0).getColumns.toArray
          .map(_.asInstanceOf[org.apache.parquet.hadoop.metadata.ColumnChunkMetaData])
          .find(_.getPath.toDotString == "ts").get
        assert(chunk.getCodec ==
          org.apache.parquet.hadoop.metadata.CompressionCodecName.ZSTD)
        assert(chunk.getStatistics.hasNonNullValue && chunk.getStatistics.genericGetMin != null)
      } finally reader.close()
      assert(c.query().count() == 40)
    } finally {
      prevLevel match {
        case Some(v) => hadoopConf.set(levelKey, v)
        case None    => hadoopConf.unset(levelKey)
      }
      prevTs match {
        case Some(v) => spark.conf.set(tsKey, v)
        case None    => spark.conf.unset(tsKey)
      }
    }
  }

  test("a write reports its bytes and rows to Spark's task output metrics") {
    val root = SparkTestSession.tmp("graft-write-metrics")
    val df = events(300)
    val c = Collection.create(spark, root, df.schema, "ts", DatePartitioning("ts", "D"))
    val bytes = new java.util.concurrent.atomic.AtomicLong
    val records = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach { m =>
          bytes.addAndGet(m.outputMetrics.bytesWritten)
          records.addAndGet(m.outputMetrics.recordsWritten)
        }
    }
    val sc = spark.sparkContext
    org.apache.spark.TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      c.insert(df)
      org.apache.spark.TestListenerBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    val fs = Collection.fileSystem(spark, root)
    val onDisk = dataFiles(root).toSeq.map(f => fs.getFileStatus(new Path(root, f)).getLen).sum
    assert(records.get == 300L, s"records written: ${records.get}")
    assert(bytes.get == onDisk, s"bytes written ${bytes.get} != $onDisk on disk")
  }
}
