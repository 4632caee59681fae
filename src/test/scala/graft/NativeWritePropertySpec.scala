package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Collection, DatePartitioning, GroupedSequencePartitioning,
  SequencePartitioning}

/** Property fuzz for the r10 NATIVE DSv2 batch write: across random
  * schemas, partitionings, and data (nulls everywhere, null axis rows,
  * empty strings in identity keys, arrays/structs/decimals/dates in
  * the payload, and identity keys of timestamp, boolean, decimal and
  * date type, and renamed columns), a native `INSERT INTO` and a
  * [[Collection.insert]] of the same rows must produce
  * collections with IDENTICAL query results, and both must lay out
  * exactly the Hive partition directories plain Spark's `partitionBy`
  * writes for the assigned rows — the write-side twin of
  * NativeScanPropertySpec's read fuzz. */
class NativeWritePropertySpec extends AnyFunSuite {
  lazy val spark = {
    val s = SparkTestSession.spark
    s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft.warehouse", CatalogSpec.warehouse)
    GraftExtensions.register(s)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.nwfuzz")
    s
  }

  private val payloadTypes: Vector[DataType] = Vector(
    DoubleType, StringType, BooleanType, DecimalType(10, 2), DateType,
    ArrayType(FloatType), StructType(Seq(
      StructField("x", LongType), StructField("y", StringType))))

  private def randValue(rng: scala.util.Random, dt: DataType): Any =
    if (rng.nextInt(5) == 0) null
    else dt match {
      case DoubleType  => math.round(rng.nextDouble() * 1e4) / 100.0
      case StringType  => Seq("alpha", "b c", "", "x=y/z", "päö").apply(rng.nextInt(5))
      case BooleanType => rng.nextBoolean()
      case _: DecimalType => new java.math.BigDecimal(rng.nextInt(100000))
        .movePointLeft(2)
      case DateType => java.sql.Date.valueOf(java.time.LocalDate
        .ofEpochDay(18000 + rng.nextInt(2000)))
      case ArrayType(FloatType, _) =>
        Array.fill(rng.nextInt(4))(rng.nextFloat())
      case _: StructType => Row(rng.nextLong() % 1000, s"s${rng.nextInt(9)}")
      case other => throw new IllegalStateException(other.toString)
    }

  private def mkCase(seed: Int): (StructType, String,
      graft.core.Partitioning, Seq[Row]) = {
    val rng = new scala.util.Random(seed)
    val nPayload = 1 + rng.nextInt(3)
    val payload = (0 until nPayload).map(i =>
      StructField(s"p$i", payloadTypes(rng.nextInt(payloadTypes.length))))
    rng.nextInt(3) match {
      case 0 => // date partitioning over a timestamp axis
        val res = Seq("Y", "M", "D", "h")(rng.nextInt(4))
        val schema = StructType(StructField("ts", TimestampType) +: payload)
        val rows = (1 to 200).map { i =>
          val ts = if (rng.nextInt(20) == 0) null
            else java.sql.Timestamp.from(java.time.Instant
              .parse("2024-01-01T00:00:00Z")
              .plusSeconds(rng.nextInt(120 * 24 * 3600).toLong))
          Row.fromSeq(ts +: payload.map(f => randValue(rng, f.dataType)))
        }
        (schema, "ts", DatePartitioning("ts", res), rows)
      case 1 => // identity (sequence) partitioning, long + optional string key
        val twoKeys = rng.nextBoolean()
        val keys = if (twoKeys)
          Seq(StructField("k", LongType), StructField("s", StringType))
        else Seq(StructField("k", LongType))
        val schema = StructType(keys ++ payload)
        val rows = (1 to 200).map { i =>
          val k: Any = if (rng.nextInt(25) == 0) null else rng.nextInt(5).toLong
          val s: Any = Seq("plain", "a=b/c d", "", null).apply(rng.nextInt(4))
          Row.fromSeq((if (twoKeys) Seq(k, s) else Seq(k)) ++
            payload.map(f => randValue(rng, f.dataType)))
        }
        (schema, "k", SequencePartitioning(keys.map(_.name), "k"), rows)
      case _ => // grouped sequence over a long axis
        val size = 2 + rng.nextInt(50)
        val schema = StructType(StructField("k", LongType) +: payload)
        val rows = (1 to 200).map { i =>
          val k: Any = if (rng.nextInt(25) == 0) null else (rng.nextInt(400) - 100).toLong
          Row.fromSeq(k +: payload.map(f => randValue(rng, f.dataType)))
        }
        (schema, "k", GroupedSequencePartitioning(Seq("k"), "k", size), rows)
    }
  }

  /** Exotic identity keys: each row's `e` takes one of a few values of
    * `dt` (or null), so partitions hold several rows. */
  private val exoticKeyTypes: Vector[DataType] =
    Vector(TimestampType, BooleanType, DecimalType(10, 2), DateType)

  private def exoticKey(rng: scala.util.Random, dt: DataType): Any =
    if (rng.nextInt(8) == 0) null
    else dt match {
      case TimestampType => java.sql.Timestamp.from(java.time.Instant.parse(Seq(
        "2024-01-01T10:00:00.500Z", "2024-03-05T00:00:00.123456Z",
        "2023-12-31T23:59:59Z", "2024-06-30T12:34:56.000001Z")(rng.nextInt(4))))
      case BooleanType => rng.nextBoolean()
      case _: DecimalType => Seq(new java.math.BigDecimal("-1.50"),
        new java.math.BigDecimal("0.00"), new java.math.BigDecimal("12345678.99"),
        new java.math.BigDecimal("3.10"))(rng.nextInt(4))
      case DateType => java.sql.Date.valueOf(Seq("2024-02-29", "1970-01-01",
        "2031-12-31")(rng.nextInt(3)))
      case other => throw new IllegalStateException(other.toString)
    }

  /** A [[SequencePartitioning]] over one exotic key `e` and a long axis. */
  private def mkExoticCase(seed: Int): (StructType, String,
      graft.core.Partitioning, Seq[Row]) = {
    val rng = new scala.util.Random(seed)
    val kt = exoticKeyTypes(seed % exoticKeyTypes.length)
    val payload = StructField("p0", payloadTypes(rng.nextInt(payloadTypes.length)))
    val schema = StructType(Seq(StructField("e", kt), StructField("seq", LongType), payload))
    val rows = (1 to 120).map { i =>
      Row(exoticKey(rng, kt), i.toLong, randValue(rng, payload.dataType))
    }
    (schema, "seq", SequencePartitioning(Seq("e"), "seq"), rows)
  }

  /** `root`'s parquet data files, with the partition directory
    * (root-relative) holding each. */
  private def dataFiles(root: String): Seq[(org.apache.hadoop.fs.Path, String)] = {
    val fs = Collection.fileSystem(spark, root)
    val base = fs.makeQualified(new org.apache.hadoop.fs.Path(root)).toUri.getPath
      .stripSuffix("/")
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(root), true)
    val out = Seq.newBuilder[(org.apache.hadoop.fs.Path, String)]
    while (it.hasNext) {
      val p = it.next().getPath
      val rel = p.getParent.toUri.getPath.stripPrefix(base).stripPrefix("/")
      if (p.getName.endsWith(".parquet") && !rel.startsWith("_")) out += p -> rel
    }
    out.result()
  }

  /** The partition directories (root-relative) holding `root`'s
    * parquet files. */
  private def dataDirs(root: String): Set[String] = dataFiles(root).map(_._2).toSet

  /** Write `rows` natively, through [[Collection.insert]], and with
    * plain Spark's `partitionBy`; assert the three layouts and the two
    * collections' rows agree. Returns plain Spark's layout. */
  private def checkCase(name: String, schema: StructType, axis: String,
                        part: graft.core.Partitioning, rows: Seq[Row]): String = {
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
    val cN = writeVia(native = true, s"n$name", schema, axis, part, df)
    val cV = writeVia(native = false, s"v$name", schema, axis, part, df)
    assert(cN.partitions() == cV.partitions(),
      s"$name: partition layouts diverged\n native=${cN.partitions()}\n v1=${cV.partitions()}")
    val ref = java.nio.file.Files.createTempDirectory("nw-fuzz-ref").toString + "/t"
    part.assign(df).write.partitionBy(part.axis: _*).parquet(ref)
    val want = dataDirs(ref)
    assert(dataDirs(cN.root) == want, s"$name: native dirs != plain Spark's\n" +
      s" native=${dataDirs(cN.root).toSeq.sorted}\n spark=${want.toSeq.sorted}")
    assert(dataDirs(cV.root) == want, s"$name: Collection.insert dirs != plain Spark's\n" +
      s" insert=${dataDirs(cV.root).toSeq.sorted}\n spark=${want.toSeq.sorted}")
    val a = cN.query().collect().map(_.toString).sorted.toSeq
    val b = cV.query().collect().map(_.toString).sorted.toSeq
    assert(a.length == rows.length, s"$name: native lost rows (${a.length})")
    assert(a == b, s"$name: row content diverged (first diff: ${
      a.zip(b).find { case (x, y) => x != y }})")
    ref
  }

  private def writeVia(native: Boolean, name: String, schema: StructType,
                       axis: String, part: graft.core.Partitioning,
                       df: DataFrame): Collection = {
    val root = s"${CatalogSpec.warehouse}/nwfuzz/$name"
    val c = Collection.create(spark, root, schema, axis, part, catalogEnabled = true)
    if (native) {
      df.createOrReplaceTempView("nw_fuzz_src")
      val ins = spark.sql(s"INSERT INTO graft.nwfuzz.$name SELECT * FROM nw_fuzz_src")
      val plan = ins.queryExecution.executedPlan.toString
      assert(!plan.contains("ExecV1"), s"expected native write:\n$plan")
    } else c.insert(df, graft.core.MergeStrategy.Concat)
    Collection.open(spark, root, readOnly = true)
  }

  test("seeded fuzz: native and V1 writes produce identical collections") {
    for (seed <- 1 to 12) {
      val (schema, axis, part, rows) = mkCase(seed)
      checkCase(seed.toString, schema, axis, part, rows)
    }
  }

  test("seeded fuzz: exotic identity keys lay out plain Spark's directories") {
    for (seed <- 101 to 108) {
      val (schema, axis, part, rows) = mkExoticCase(seed)
      val ref = checkCase(seed.toString, schema, axis, part, rows)
      // the catalog reads them natively, row-for-row with plain Spark
      // reading its own layout under the same schema
      val keySql = rows.map(_.get(0)).find(_ != null).get match {
        case t: java.sql.Timestamp   => s"TIMESTAMP'${t.toInstant}'"
        case d: java.sql.Date        => s"DATE'$d'"
        case b: java.math.BigDecimal => s"CAST('$b' AS ${schema("e").dataType.sql})"
        case other                   => other.toString
      }
      val plain = spark.read.schema(schema).parquet(ref).select("e", "seq", "p0")
      for (where <- Seq(None, Some(s"e = $keySql"))) {
        val got = spark.sql(s"SELECT * FROM graft.nwfuzz.n$seed" +
          where.fold("")(w => s" WHERE $w"))
        val want = where.fold(plain)(w => plain.where(w))
        val gotRows = got.collect().map(_.toString).sorted.toSeq
        assert(ScanPlans.batchScans(got) == 1,
          s"seed $seed, $where: exotic keys must read natively\n" +
            got.queryExecution.executedPlan)
        assert(gotRows.nonEmpty && gotRows == want.collect().map(_.toString).sorted.toSeq,
          s"seed $seed, $where: the catalog read differs from plain Spark's")
      }
      // the written keys decode back to the original values
      val got = Collection.open(spark, s"${CatalogSpec.warehouse}/nwfuzz/n$seed",
        readOnly = true).query().select("e", "seq").collect()
        .map(r => r.getLong(1) -> Option(r.get(0))).toMap
      rows.foreach { r =>
        assert(got(r.getLong(1)) == Option(r.get(0)), s"seed $seed: key of seq ${r.getLong(1)}")
      }
    }
  }

  /** A renamed-column collection: identity key `k` (also the axis), a
    * stats + bloom column `p0` renamed to `score`, and a random payload
    * `p1` renamed to `extra`, both renamed before the first write. */
  private def mkRenamedCase(seed: Int): (StructType, Seq[Row]) = {
    val rng = new scala.util.Random(seed)
    val payload = payloadTypes(rng.nextInt(payloadTypes.length))
    val schema = StructType(Seq(StructField("k", LongType), StructField("p0", LongType),
      StructField("p1", payload)))
    val rows = (1 to 200).map { _ =>
      val k: Any = if (rng.nextInt(25) == 0) null else rng.nextInt(5).toLong
      // even values only, so an odd probe inside the zone map is absent
      Row(k, 2L * rng.nextInt(1000), randValue(rng, payload))
    }
    (schema, rows)
  }

  test("seeded fuzz: renamed columns write natively under their physical names") {
    val renames = Seq("p0" -> "score", "p1" -> "extra")
    for (seed <- 201 to 204) {
      val (schema, rows) = mkRenamedCase(seed)
      val logical = StructType(schema.fields.map(f =>
        renames.toMap.get(f.name).fold(f)(n => f.copy(name = n))))
      val (nName, vName) = (s"nr$seed", s"vr$seed")
      val cs = Seq(nName, vName).map { n =>
        val c = Collection.create(spark, s"${CatalogSpec.warehouse}/nwfuzz/$n", schema, "k",
          SequencePartitioning(Seq("k"), "k"), catalogEnabled = true,
          statsColumns = Seq("p0"), bloomColumns = Seq("p0"))
        renames.foreach { case (o, n) => c.renameVariable(o, n) }
        c
      }
      val cV = cs(1)
      def frame(rs: Seq[Row]): DataFrame =
        spark.createDataFrame(spark.sparkContext.parallelize(rs, 4), logical)
      def sqlWrite(stmt: String, rs: Seq[Row]): Unit = {
        frame(rs).createOrReplaceTempView("nw_ren_src")
        val plan = spark.sql(stmt).queryExecution.executedPlan.toString
        assert(plan.contains("GraftNativeWrite") && !plan.contains("ExecV1"),
          s"seed $seed: expected a native write for $stmt:\n$plan")
      }
      def check(step: String): Unit = {
        val n = Collection.open(spark, cs.head.root, readOnly = true)
        val v = Collection.open(spark, cV.root, readOnly = true)
        assert(n.schema == logical && v.schema == logical)
        assert(dataDirs(n.root) == dataDirs(v.root),
          s"seed $seed, $step: partition directories diverged")
        val a = n.query().collect().map(_.toString).sorted.toSeq
        val b = v.query().collect().map(_.toString).sorted.toSeq
        assert(a.nonEmpty && a == b, s"seed $seed, $step: rows diverged")
      }
      val (first, rest) = rows.splitAt(120)
      // INSERT (the reference's initial load) ...
      sqlWrite(s"INSERT INTO graft.nwfuzz.$nName SELECT * FROM nw_ren_src", first)
      cV.insert(frame(first), graft.core.MergeStrategy.Concat)
      check("insert")
      // ... dynamic INSERT OVERWRITE of the partitions `rest` touches ...
      val touched = rest.filter(r => r.get(0) != null && r.getLong(0) <= 2)
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try sqlWrite(s"INSERT OVERWRITE graft.nwfuzz.$nName SELECT * FROM nw_ren_src", touched)
      finally spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      cV.insert(frame(touched), graft.core.MergeStrategy.Replace)
      check("dynamic overwrite")
      // ... and REPLACE WHERE on the integral key
      val k3 = rest.filter(r => r.get(0) == 3L)
      sqlWrite(s"INSERT INTO graft.nwfuzz.$nName REPLACE WHERE k = 3 SELECT * FROM nw_ren_src", k3)
      cV.insert(frame(k3), graft.core.MergeStrategy.Replace)
      check("replace where")

      // every native file carries the PHYSICAL names, p0 with min/max stats
      val conf = spark.sparkContext.hadoopConfiguration
      dataFiles(cs.head.root).map(_._1).foreach { file =>
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
        try {
          val names = reader.getFooter.getFileMetaData.getSchema.getFields.toArray
            .map(_.asInstanceOf[org.apache.parquet.schema.Type].getName).toSet
          assert(names("p0") && names("p1") && !names("score") && !names("extra"),
            s"seed $seed, $file: file columns $names")
          val p0 = reader.getFooter.getBlocks.get(0).getColumns.toArray
            .map(_.asInstanceOf[org.apache.parquet.hadoop.metadata.ColumnChunkMetaData])
            .find(_.getPath.toDotString == "p0").get
          assert(p0.getStatistics.hasNonNullValue && p0.getStatistics.genericGetMin != null,
            s"seed $seed, $file: p0 has no min/max")
        } finally reader.close()
      }
      // the renamed bloom column written through SQL prunes an absent
      // value the zone maps keep
      val rep = Collection.open(spark, cs.head.root, readOnly = true)
        .explainPruning("score == 1001")
      assert(rep.filesAfterStats > 0 && rep.filesAfterBloom < rep.filesAfterStats,
        s"seed $seed: a renamed bloom column must prune: $rep")
    }
  }
}
