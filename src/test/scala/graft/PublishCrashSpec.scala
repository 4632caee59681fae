package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Collection, DatePartitioning, MergeStrategy}

/** Crash at the publish of every kind of commit ([[CrashAtPublish]]):
  * the writer dies after its data, deletion-vector, shard and root tmp
  * files are written but before the generation is claimed. For each
  * operation the collection must still read its previous snapshot,
  * `vacuum(graceMs = 0)` must reclaim everything the crash left (the
  * tree returns to its pre-operation file set), `fsck()` must be clean,
  * and rerunning the operation must land exactly one generation with
  * the expected rows. */
class PublishCrashSpec extends AnyFunSuite {
  lazy val spark = {
    val s = SparkTestSession.spark
    s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft.warehouse", CatalogSpec.warehouse)
    GraftExtensions.register(s)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.crash")
    s
  }

  private def mk(vals: (Long, String, Double)*) = {
    val s = spark
    import s.implicits._
    vals.toDF("id", "ts", "v").withColumn("ts", col("ts").cast("timestamp"))
  }

  private val seed = Seq(
    (1L, "2024-01-01 10:00:00", 1.0), (2L, "2024-01-01 11:00:00", 2.0),
    (3L, "2024-01-02 10:00:00", 3.0), (4L, "2024-01-03 10:00:00", 4.0))
  private val seedRows = Seq((1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, 4.0))

  private def create(dv: Boolean = false): Collection = {
    val df = mk(seed: _*)
    Collection.create(spark, SparkTestSession.tmp("crash"), df.schema, "ts",
      DatePartitioning("ts", "D"),
      attrs = if (dv) Map(Collection.DvEnabledAttr -> "true") else Map.empty)
  }

  /** A collection holding the four seed rows. */
  private def seeded(dv: Boolean = false): Collection = {
    val c = create(dv)
    c.insert(mk(seed: _*))
    c
  }

  private def rows(c: Collection): Seq[(Long, Double)] =
    c.query().select("id", "v").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq

  /** Every file under `root` (checksum sidecars aside), root-relative. */
  private def files(root: String): Set[String] = {
    val base = java.nio.file.Paths.get(root)
    val walk = java.nio.file.Files.walk(base)
    try walk.iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
      .map(p => base.relativize(p).toString).toSet
    finally walk.close()
  }

  /** An operation under test: `prepare` builds its collection and returns
    * the operation, which must publish exactly one generation. */
  private case class Case(name: String, prepare: () => (Collection, () => Any),
                          expect: Seq[(Long, Double)])

  private val cases = Seq(
    Case("a first-load insert", () => {
      val c = create()
      (c, () => c.insert(mk(seed: _*)))
    }, seedRows),
    Case("a merge insert", () => {
      val c = seeded()
      (c, () => c.insert(mk((1L, "2024-01-01 10:00:00", 10.0)), MergeStrategy.Upsert()))
    }, Seq((1L, 10.0), (2L, 2.0), (3L, 3.0), (4L, 4.0))),
    Case("overwrite", () => {
      val c = seeded()
      (c, () => c.overwrite(mk((5L, "2024-01-05 10:00:00", 5.0))))
    }, Seq((5L, 5.0))),
    Case("a SQL INSERT (the native write)", () => {
      val t = "t_" + java.util.UUID.randomUUID().toString.replace("-", "")
      spark.sql(s"CREATE TABLE graft.crash.$t (id BIGINT, ts TIMESTAMP, v DOUBLE) " +
        "PARTITIONED BY (days(ts))")
      val c = Collection.open(spark, s"${CatalogSpec.warehouse}/crash/$t")
      c.insert(mk(seed: _*))
      (c, () => spark.sql(s"INSERT INTO graft.crash.$t " +
        "SELECT 5L, TIMESTAMP'2024-01-05 10:00:00', 5.0D"))
    }, seedRows :+ ((5L, 5.0))),
    Case("updateWhere with deletion vectors", () => {
      val c = seeded(dv = true)
      (c, () => c.updateWhere("id == 1", Map("v" -> "100.0")))
    }, Seq((1L, 100.0), (2L, 2.0), (3L, 3.0), (4L, 4.0))),
    Case("deleteWhere with deletion vectors", () => {
      val c = seeded(dv = true)
      (c, () => c.deleteWhere("id == 3"))
    }, Seq((1L, 1.0), (2L, 2.0), (4L, 4.0))),
    Case("mergeInto", () => {
      val c = seeded()
      (c, () => c.mergeInto(mk((2L, "2024-01-01 11:00:00", 20.0),
        (5L, "2024-01-05 10:00:00", 5.0)), on = Seq("id")))
    }, Seq((1L, 1.0), (2L, 20.0), (3L, 3.0), (4L, 4.0), (5L, 5.0))),
    Case("compact", () => {
      val c = seeded()
      c.insert(mk((5L, "2024-01-01 12:00:00", 5.0)), MergeStrategy.Concat) // day 1: two files
      (c, () => c.compact())
    }, seedRows :+ ((5L, 5.0))),
    Case("dropPartitions", () => {
      val c = seeded()
      (c, () => c.dropPartitions("day == 1"))
    }, Seq((3L, 3.0), (4L, 4.0))),
    Case("addVariable", () => {
      val c = seeded()
      (c, () => c.addVariable("w", DoubleType))
    }, seedRows),
    Case("restore", () => {
      val c = seeded()
      val g = c.generation
      c.insert(mk((5L, "2024-01-05 10:00:00", 5.0)), MergeStrategy.Concat)
      (c, () => c.restore(g))
    }, seedRows),
    Case("promoteBranch", () => {
      val c = seeded()
      val dev = c.branch("dev")
      dev.updateWhere("id == 2", Map("v" -> "22.0"))
      dev.insert(mk((6L, "2024-01-06 10:00:00", 6.0)), MergeStrategy.Concat)
      (c, () => c.promoteBranch("dev"))
    }, Seq((1L, 1.0), (2L, 22.0), (3L, 3.0), (4L, 4.0), (6L, 6.0))))

  for (k <- cases)
    test(s"a crash at the publish of ${k.name} keeps the old snapshot; vacuum reclaims it; a rerun lands") {
      val (c, op) = k.prepare()
      val gen0 = c.generation
      val rows0 = rows(c)
      val files0 = files(c.root)

      CrashAtPublish(c.root)(op())
      assert(c.generation == gen0, "no generation may land")
      assert(rows(c) == rows0, "readers must keep the previous snapshot")
      val reopened = Collection.open(spark, c.root, readOnly = true)
      assert(reopened.generation == gen0 && rows(reopened) == rows0,
        "a fresh handle must see the previous snapshot")

      c.vacuum(graceMs = 0L)
      val left = files(c.root) -- files0
      assert(left.isEmpty, s"vacuum left the crash's files behind: $left")
      assert(files0.forall(files(c.root).contains), "vacuum removed a live file")
      val rep = c.fsck()
      assert(rep.clean && rep.orphanFiles.isEmpty, s"fsck after vacuum: $rep")

      op()
      assert(c.generation == gen0 + 1, "the rerun must land one generation")
      assert(rows(c) == k.expect, s"rows after the rerun: ${rows(c)}")
      assert(c.fsck().clean)
    }
}
