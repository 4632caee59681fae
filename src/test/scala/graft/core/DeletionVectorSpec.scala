package graft.core

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** DELETION VECTORS (r11): row-level deletes whose cost is proportional
  * to DELETED ROWS, not rewritten files — the Delta-DV / Iceberg-v2
  * position-delete shape over graft's persisted row ids.
  *
  * Contracts under test: a DV delete touches ZERO data files; every
  * read face masks (query, SQL source, time travel, clones, CDC);
  * metadata counts stay exact and metadata MIN/MAX refuses; repeated
  * deletes union; per-file heavy deletes fall back to rewrite inside
  * the same commit; compaction materializes; fsck flags DV damage;
  * vacuum reclaims superseded DV files. */
class DeletionVectorSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def mk(lo: Long, hi: Long, day: Int, hour: String = "08") = (lo until hi)
    .map(i => (i, f"2024-01-$day%02d $hour:00:00", i, 1.0))
    .toDF("id", "ts", "user_id", "v")
    .withColumn("ts", col("ts").cast("timestamp"))

  /** DV-enabled collection: two day-partitions, the first day split in
    * two files with disjoint user_id ranges. */
  private def dvColl(root: String, retain: Int = 0): Collection = {
    val b1 = mk(0, 50, 1)
    val c = Collection.create(spark, root, b1.schema, "ts",
      DatePartitioning("ts", "D"), statsColumns = Seq("user_id"),
      attrs = Map(Collection.DvEnabledAttr -> "true"),
      retainGenerations = retain)
    c.insert(b1, MergeStrategy.Concat)
    c.insert(mk(100, 150, 1, "12"), MergeStrategy.Concat)
    c.insert(mk(200, 250, 2), MergeStrategy.Concat)
    c
  }

  test("DV delete: zero data files touched, every read face masks, counts exact") {
    val root = SparkTestSession.tmp("graft-dv-basic")
    val c = dvColl(root)
    val filesBefore = c.currentManifest().files.toSet

    val touched = c.deleteWhere("user_id >= 10 and user_id < 15")
    assert(touched.size == 1, s"one file holds ids 10..14: $touched")

    val man = c.currentManifest()
    // THE point: the data file set is unchanged — no rewrite happened
    assert(man.files.toSet == filesBefore, "a DV delete must not rewrite data files")
    // r12 (bounded-driver-rows): the victim scan aggregates per FILE on
    // the executors — the driver collect is one row per touched file,
    // never one row per victim
    assert(c.lastVictimScanDriverRows == touched.size,
      s"victim scan must collect one driver row per touched file, " +
        s"got ${c.lastVictimScanDriverRows} for ${touched.size} file(s)")
    assert(man.op.contains("delete"))
    val dvs = man.allDvs
    assert(dvs.keySet == touched.toSet && dvs.values.head.count == 5L)
    // the DV file exists under _dv/
    assert(dvs.values.head.path.startsWith("_dv/"))

    // Scala face
    assert(c.query().count() == 145)
    assert(c.query("user_id < 20", Seq("user_id")).as[Long].collect().sorted.toSeq ==
      ((0L until 10L) ++ (15L until 20L)))
    // metadata count: exact, zero data IO semantics (countRows subtracts)
    assert(c.countRows() == 145)
    assert(c.countRows("day == 1") == 95)
    // metadata MIN/MAX refuses over the DV'd snapshot (bounds may lie)
    assert(c.columnBounds("user_id").isEmpty)
    // SQL DataFrame face (native scan path applies the row mask)
    val sql = spark.read.format("graft").load(root)
    assert(sql.count() == 145)
    assert(sql.where("user_id >= 5 and user_id < 20").select("user_id")
      .as[Long].collect().sorted.toSeq == ((5L until 10L) ++ (15L until 20L)))

    // a second delete on the SAME file unions into a fresh section
    c.deleteWhere("user_id >= 15 and user_id < 18")
    val dvs2 = c.currentManifest().allDvs
    assert(dvs2.values.head.count == 8L, s"union of the two deletes: $dvs2")
    assert(dvs2.values.head.path != dvs.values.head.path, "copy-on-write section")
    assert(c.query().count() == 142)
    // idempotent re-delete: covered rows only -> no-op, no commit
    val genBefore = c.generation
    assert(c.deleteWhere("user_id == 16").isEmpty)
    assert(c.generation == genBefore)
  }

  test("native scans over files with and without a DV: format(\"graft\") and catalog SQL") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", graft.CatalogSpec.warehouse)
    val root = s"${graft.CatalogSpec.warehouse}/dvmix/events"
    val c = dvColl(root)
    assert(c.deleteWhere("user_id >= 10 and user_id < 15").size == 1)
    val man = c.currentManifest()
    assert(man.files.size == 3 && man.allDvs.size == 1,
      s"one of three files carries the DV: ${man.allDvs}")
    // every row has v = 1.0; no filter, so every scan mixes the DV'd
    // file with the two DV-free ones
    val live = ((0L until 50L) ++ (100L until 150L) ++ (200L until 250L))
      .filterNot(i => i >= 10 && i < 15)
    val want = Seq(live.size.toLong, live.sum, live.size.toDouble)
    val viaFormat = spark.read.format("graft").load(root)
      .agg(count(lit(1)), sum("user_id"), sum("v")).head()
    assert(viaFormat.toSeq == want)
    val viaSql = spark.sql(
      "SELECT count(*), sum(user_id), sum(v) FROM graft.dvmix.events").head()
    assert(viaSql.toSeq == want)
    val perDay = spark.sql(
      "SELECT day(ts) AS d, sum(v) FROM graft.dvmix.events GROUP BY day(ts) ORDER BY d")
      .collect().map(r => (r.getInt(0), r.getDouble(1))).toSeq
    assert(perDay == Seq((1, 95.0), (2, 50.0)))
  }

  test("a DV'd read over 33+ files plans from the manifest: no job, no anti-join, no broadcast") {
    val root = SparkTestSession.tmp("graft-dv-manifest-read")
    val days = 36
    // one file per day, ten users a day
    val data = (0L until days * 10L)
      .map(i => (i, java.time.LocalDate.of(2024, 1, 1).plusDays(i / 10).toString + " 08:00:00",
        i % 10, i.toDouble))
      .toDF("id", "ts", "user_id", "v")
      .withColumn("ts", col("ts").cast("timestamp"))
    val c = Collection.create(spark, root, data.schema, "ts",
      DatePartitioning("ts", "D"), statsColumns = Seq("user_id"),
      attrs = Map(Collection.DvEnabledAttr -> "true"))
    c.insert(data, MergeStrategy.Concat)
    c.deleteWhere("user_id < 2")
    val man = c.currentManifest()
    assert(man.files.size == days && man.allDvs.keySet == man.files.toSet,
      s"every one of $days files carries a DV: ${man.files.size} files, ${man.allDvs.size} DVs")

    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    val q =
      try {
        org.apache.spark.TestListenerBus.drain(sc)
        jobs.set(0)
        val built = c.query("user_id >= 1")
        org.apache.spark.TestListenerBus.drain(sc)
        assert(jobs.get == 0, s"building the read ran ${jobs.get} Spark job(s)")
        built
      } finally sc.removeSparkListener(listener)
    assert(q.inputFiles.length == days)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("LeftAnti") && !plan.contains("BroadcastExchange"), plan)

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "ts", "user_id", "v").collect().map(_.toSeq).sortBy(_.head.toString).toSeq
    assert(rows(q) == rows(data.where("user_id >= 2")))
    // projections without the row id still mask
    assert(q.select("v").collect().map(_.getDouble(0)).sorted.toSeq ==
      data.where("user_id >= 2").select("v").collect().map(_.getDouble(0)).sorted.toSeq)

    // a data file removed behind the manifest's back fails the read
    // with its path; it is never skipped
    val gone = new org.apache.hadoop.fs.Path(Collection.absOf(root, man.files.head))
    gone.getFileSystem(sc.hadoopConfiguration).delete(gone, false)
    val e = intercept[Exception](c.query().count())
    val messages = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString("\n")
    assert(messages.contains(gone.getName), messages)
  }

  test("DVs mask files whose partition paths need escaping, on every read face") {
    val root = SparkTestSession.tmp("graft-dv-escaped")
    val data = Seq("a b", "x:y", "p%q").zipWithIndex
      .flatMap { case (s, k) => (0L until 10L).map(i => (s, k * 10L + i)) }
      .toDF("s", "id")
    val c = Collection.create(spark, root, data.schema, "s",
      SequencePartitioning(Seq("s"), "s"), statsColumns = Seq("id"),
      attrs = Map(Collection.DvEnabledAttr -> "true"))
    c.insert(data, MergeStrategy.Concat)
    c.deleteWhere("id < 2 or (id >= 10 and id < 12) or (id >= 20 and id < 22)")
    assert(c.currentManifest().allDvs.size == 3, "each file keeps a DV, none is rewritten")
    val want = data.where("id % 10 >= 2").collect().map(_.toSeq).sortBy(_(1).toString).toSeq
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("s", "id").collect().map(_.toSeq).sortBy(_(1).toString).toSeq
    assert(rows(c.query()) == want)
    assert(rows(spark.read.format("graft").load(root)) == want)
  }

  test("map reads the snapshot: deletion vectors, renames and fills apply") {
    val root = SparkTestSession.tmp("graft-dv-map")
    val c = dvColl(root)
    c.deleteWhere("user_id >= 10 and user_id < 20")
    c.renameVariable("v", "w")
    c.addVariable("note", org.apache.spark.sql.types.StringType, Some("'none'"))
    val viaQuery = c.query().select("id", "w", "note").collect().map(_.toSeq).toSeq
    val viaMap = c.map(_.select("id", "w", "note").collect().map(_.toSeq).toSeq)
      .flatMap(_._2)
    assert(viaQuery.size == 140)
    assert(viaMap.sortBy(_.head.toString) == viaQuery.sortBy(_.head.toString))
    assert(viaMap.forall(r => r(1) == 1.0 && r(2) == "none"), viaMap.take(3))
  }

  test("per-file adaptive: heavy file rewrites, light file keeps a DV, one commit") {
    val root = SparkTestSession.tmp("graft-dv-adaptive")
    val c = dvColl(root)
    val man0 = c.currentManifest()
    val gen0 = c.generation
    // kills 40/50 rows of file A (80% > DvMaxFraction) and 5/50 of B
    val touched = c.deleteWhere("(user_id >= 0 and user_id < 40) or (user_id >= 100 and user_id < 105)")
    assert(c.generation == gen0 + 1, "one atomic commit")
    val man = c.currentManifest()
    assert(c.query().count() == 150 - 45)
    // the heavy file is gone (rewritten), the light one survives with a DV
    val dvs = man.allDvs
    assert(dvs.size == 1 && dvs.values.head.count == 5L,
      s"light file keeps a 5-row DV: $dvs")
    val survivors = man.files.toSet
    assert(dvs.keySet.forall(survivors.contains))
    val heavy = touched.filterNot(dvs.keySet)
    assert(heavy.nonEmpty && heavy.forall(f => !survivors.contains(f)),
      "the heavy file must have been replaced")
    assert(man0.files.toSet.intersect(survivors).size == survivors.size - 1,
      "exactly one new file (the heavy rewrite)")
  }

  test("DV update: old rows masked, updated copies appended, no in-place rewrite") {
    val root = SparkTestSession.tmp("graft-dv-upd")
    val c = dvColl(root)
    val filesBefore = c.currentManifest().files.toSet
    val touched = c.updateWhere("user_id >= 10 and user_id < 13", Map("v" -> "v + 41.0"))
    val man = c.currentManifest()
    assert(man.op.contains("update"))
    // old files all survive; the update only APPENDED the copies
    assert(filesBefore.subsetOf(man.files.toSet))
    assert(man.allDvs.values.map(_.count).sum == 3L)
    assert(c.query().count() == 150)
    val got = c.query("user_id >= 9 and user_id < 14", Seq("user_id", "v"))
      .as[(Long, Double)].collect().sortBy(_._1).toSeq
    assert(got == Seq((9L, 1.0), (10L, 42.0), (11L, 42.0), (12L, 42.0), (13L, 1.0)))
    assert(touched.nonEmpty)
  }

  test("CDC over DV commits: in-place deletes surface as delete rows, updates as delete+insert") {
    val root = SparkTestSession.tmp("graft-dv-cdc")
    val c = dvColl(root, retain = 4)
    val g0 = c.generation
    c.deleteWhere("user_id == 7")
    val g1 = c.generation
    val del = c.changes(g0, g1)
      .select("user_id", Collection.ChangeTypeCol)
      .as[(Long, String)].collect().toSeq
    assert(del == Seq((7L, "delete")), s"got $del")
    c.updateWhere("user_id == 8", Map("v" -> "9.0"))
    val g2 = c.generation
    val upd = c.changes(g1, g2)
      .select("user_id", "v", Collection.ChangeTypeCol)
      .as[(Long, Double, String)].collect().sortBy(_._3).toSeq
    assert(upd == Seq((8L, 9.0, "delete"), (8L, 9.0, "insert")) ||
           upd == Seq((8L, 1.0, "delete"), (8L, 9.0, "insert")), s"got $upd")
    // the full range composes: net = delete 7 (old v), delete 8 (old v), insert 8 (new v)
    val all = c.changes(g0, g2)
      .select("user_id", "v", Collection.ChangeTypeCol)
      .as[(Long, Double, String)].collect().sortBy(r => (r._1, r._3)).toSeq
    assert(all == Seq((7L, 1.0, "delete"), (8L, 1.0, "delete"), (8L, 9.0, "insert")),
      s"got $all")
  }

  test("time travel, restore and clones read each snapshot's own DV state") {
    val root = SparkTestSession.tmp("graft-dv-tt")
    val c = dvColl(root, retain = 4)
    val g0 = c.generation
    c.deleteWhere("user_id >= 100 and user_id < 120")
    assert(c.snapshotAt(g0).count() == 150, "pre-delete snapshot reads whole")
    assert(c.query().count() == 130)
    // a shallow clone of the DV'd head masks through external DV refs
    val cloneRoot = SparkTestSession.tmp("graft-dv-clone")
    Collection.cloneTo(spark, root, cloneRoot)
    assert(Collection.open(spark, cloneRoot).query().count() == 130)
    // restore to the pre-delete snapshot resurrects (by commit, not damage)
    c.restore(g0)
    assert(c.query().count() == 150)

    // one read over local and external refs, with DVs on both sides, a
    // renamed column, a fill-bearing column, and a Sequence-partitioned
    // key that is also a data column
    def gen(k: Long, lo: Long, hi: Long) =
      (lo until hi).map(i => (k, i, i * 0.5)).toDF("k", "id", "v")
    val base = (0L until 4L).map(k => gen(k, k * 100, k * 100 + 20)).reduce(_ union _)
    val src = Collection.create(spark, SparkTestSession.tmp("graft-dv-seq-src"),
      base.schema, "k", SequencePartitioning(Seq("k"), "k"), statsColumns = Seq("id"),
      attrs = Map(Collection.DvEnabledAttr -> "true"))
    src.insert(base, MergeStrategy.Concat)
    src.deleteWhere("id >= 100 and id < 105")
    val dst = src.cloneTo(SparkTestSession.tmp("graft-dv-seq-clone"))
    val local = gen(3L, 400, 420).union(gen(4L, 500, 520))
    dst.insert(local, MergeStrategy.Concat)
    // DVs on an external file (k=3 from the source) and a local one
    dst.deleteWhere("(id >= 300 and id < 303) or (id >= 410 and id < 412)")
    dst.renameVariable("v", "w")
    dst.addVariable("note", org.apache.spark.sql.types.StringType, Some("'old'"))
    val late = gen(5L, 600, 610).withColumnRenamed("v", "w").withColumn("note", lit("new"))
    dst.insert(late, MergeStrategy.Concat)
    val dvFiles = dst.currentManifest().allDvs.keySet
    assert(dvFiles.exists(Collection.baseOf(_).isDefined) &&
      dvFiles.exists(Collection.baseOf(_).isEmpty), s"DVs on both sides: $dvFiles")
    val deleted = (col("id") >= 100 && col("id") < 105) ||
      (col("id") >= 300 && col("id") < 303) || (col("id") >= 410 && col("id") < 412)
    val want = base.union(local).where(!deleted)
      .withColumnRenamed("v", "w").withColumn("note", lit("old"))
      .union(late)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "id", "w", "note").collect().map(_.toSeq).sortBy(_(1).toString).toSeq
    assert(rows(dst.query()) == rows(want))
    // partition filters prune inside the index: the scan does not
    // re-apply them
    assert(rows(dst.query().where("k = 3")) == rows(want.where("k = 3")))
    assert(rows(dst.query("k >= 4")) == rows(want.where("k >= 4")))
  }

  test("compaction materializes DVs; repairCatalog refuses while they exist") {
    val root = SparkTestSession.tmp("graft-dv-compact")
    val c = dvColl(root)
    c.deleteWhere("user_id >= 10 and user_id < 15")
    assert(c.currentManifest().allDvs.nonEmpty)
    val ex = intercept[IllegalStateException](c.repairCatalog())
    assert(ex.getMessage.contains("deletion vectors"))
    c.compact("day == 1")
    val man = c.currentManifest()
    assert(man.allDvs.isEmpty, "compaction must materialize the day-1 DV")
    assert(c.query().count() == 145)
    assert(c.countRows() == 145)
    // with no DVs left, metadata MIN/MAX answers again
    assert(c.columnBounds("user_id").contains((0L, 249L)))
  }

  test("compactPlan's DV trigger: a masked-heavy single-file partition qualifies and ranks first") {
    val root = SparkTestSession.tmp("graft-dv-plan")
    val c = dvColl(root) // day=1 holds two 50-row files; day=2 one 50-row file
    // mask 20 of day-2's 50 rows (40% — under the per-commit 50% rewrite
    // split, over the 30% reclaim default)
    c.deleteWhere("user_id >= 200 and user_id < 220")
    assert(c.currentManifest().allDvs.nonEmpty, "precondition: the delete must DV")
    val plan = c.compactPlan(maxBytes = 1L << 30)
    assert(plan.nonEmpty && plan.head.contains("day=2"),
      s"the DV-heavy single-file partition must rank first: $plan")
    assert(plan.exists(_.contains("day=1")),
      s"the fragmented day-1 partition still plans (after the DV-heavy one): $plan")
    // below the threshold the single-file partition does NOT qualify
    val strict = c.compactPlan(maxBytes = 1L << 30, dvReclaimFraction = 0.5)
    assert(!strict.exists(_.contains("day=2")),
      s"40% masked must not qualify at a 50% threshold: $strict")
    // compacting the plan materializes the DV and drops the dead rows
    c.compactPartitions(plan)
    assert(c.currentManifest().allDvs.isEmpty)
    assert(c.query().count() == 130 && c.countRows() == 130)
  }

  test("fsck flags DV damage; vacuum reclaims superseded DV files") {
    val root = SparkTestSession.tmp("graft-dv-fsck")
    val c = dvColl(root)
    c.deleteWhere("user_id == 3")
    val firstDv = c.currentManifest().allDvs.values.head.path
    c.deleteWhere("user_id == 4") // supersedes: fresh merged section
    assert(c.fsck(deep = true).clean)
    // the superseded DV file is unreferenced -> vacuum (no grace) reclaims it
    val reclaimed = c.vacuum(graceMs = 0L)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/$firstDv")),
      "superseded DV file must be reclaimed")
    val liveDv = c.currentManifest().allDvs.values.head.path
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/$liveDv")),
      "live DV file must survive vacuum")
    // damage the live DV -> fsck reports the class, clean = false
    val p = new org.apache.hadoop.fs.Path(s"$root/$liveDv")
    fs.delete(p, false)
    val rep = c.fsck()
    assert(rep.badDvFiles.nonEmpty && !rep.clean)
    assert(reclaimed != null)
  }

  test("DV merge: matched rows vector out, new versions + inserts append, one commit") {
    val root = SparkTestSession.tmp("graft-dv-merge")
    val c = dvColl(root)
    val filesBefore = c.currentManifest().files.toSet
    val gen0 = c.generation
    // source: updates ids 5..7 (matched), inserts ids 900..902 (unmatched)
    val src = ((5L until 8L) ++ (900L until 903L))
      .map(i => (i, "2024-01-01 08:00:00", i, -1.0 * i))
      .toDF("id", "ts", "user_id", "v")
      .withColumn("ts", col("ts").cast("timestamp"))
    val touched = c.mergeInto(src, on = Seq("id"))
    assert(c.generation == gen0 + 1, "one atomic commit")
    val man = c.currentManifest()
    assert(man.op.contains("merge"))
    // old files all survive (matched rows were VECTORED, not rewritten)
    assert(filesBefore.subsetOf(man.files.toSet), "DV merge must not rewrite files")
    assert(man.allDvs.values.map(_.count).sum == 3L, s"3 matched victims: ${man.allDvs}")
    assert(touched.nonEmpty)
    // row-level truth: updates took, inserts landed, everything else carried
    assert(c.query().count() == 153)
    val got = c.query("id >= 4 and id <= 8", Seq("id", "v"))
      .as[(Long, Double)].collect().sortBy(_._1).toSeq
    assert(got == Seq((4L, 1.0), (5L, -5.0), (6L, -6.0), (7L, -7.0), (8L, 1.0)))
    assert(c.query("id >= 900", Seq("v")).as[Double].collect().sorted.toSeq ==
      Seq(-902.0, -901.0, -900.0))
    // MERGE ... WHEN MATCHED DELETE through the same leg: pure-DV commit
    val del = ((900L until 903L)).map(i => (i, "2024-01-01 08:00:00", i, 0.0))
      .toDF("id", "ts", "user_id", "v").withColumn("ts", col("ts").cast("timestamp"))
    c.mergeInto(del, on = Seq("id"), whenMatched = WhenMatched.Delete,
      insertUnmatched = false)
    assert(c.query().count() == 150)
    assert(c.query("id >= 900").count() == 0)
    // equivalence against the classic rewrite on a non-DV twin
    val rootB = SparkTestSession.tmp("graft-dv-mergeB")
    val b1 = mk(0, 50, 1)
    val cB = Collection.create(spark, rootB, b1.schema, "ts",
      DatePartitioning("ts", "D"), statsColumns = Seq("user_id"))
    cB.insert(b1, MergeStrategy.Concat)
    cB.insert(mk(100, 150, 1, "12"), MergeStrategy.Concat)
    cB.insert(mk(200, 250, 2), MergeStrategy.Concat)
    cB.mergeInto(src, on = Seq("id"))
    cB.mergeInto(del, on = Seq("id"), whenMatched = WhenMatched.Delete,
      insertUnmatched = false)
    val a = c.query().select("id", "v").as[(Long, Double)].collect().sortBy(_._1).toSeq
    val b = cB.query().select("id", "v").as[(Long, Double)].collect().sortBy(_._1).toSeq
    assert(a == b && a.size == 150)
  }

  test("DV merge: conditional insert gates the anti-join leg") {
    val root = SparkTestSession.tmp("graft-dv-cins")
    val c = dvColl(root)
    val src = Seq(
      (5L, "2024-01-01 08:00:00", 5L, 99.0),    // matched: updates
      (900L, "2024-01-02 10:00:00", 900L, 1.0), // unmatched, gate passes
      (901L, "2024-01-02 10:00:00", 901L, -1.0) // unmatched, gate fails
    ).toDF("id", "ts", "user_id", "v").withColumn("ts", col("ts").cast("timestamp"))
    c.mergeInto(src, on = Seq("id"), WhenMatched.UpdateAll,
      insertUnmatched = true, insertGate = Some(col("s.v") > 0))
    val out = c.query().select("id", "v").as[(Long, Double)].collect().toMap
    assert(out(5L) == 99.0, "matched row must update regardless of the gate")
    assert(out.contains(900L) && !out.contains(901L),
      "only the gate-passing unmatched row inserts")
    assert(c.countRows() == 151)
  }

  test("DV merge: conditional UPDATE SET * vectors out only gate-true matches (r12)") {
    val root = SparkTestSession.tmp("graft-dv-cupd")
    val c = dvColl(root)
    val filesBefore = c.currentManifest().files.toSet
    val src = Seq(
      (5L, "2024-01-01 08:00:00", 500L, 99.0),  // matched, gate true -> whole-row
      (6L, "2024-01-01 08:00:00", 600L, -1.0)   // matched, gate false -> carries
    ).toDF("id", "ts", "user_id", "v").withColumn("ts", col("ts").cast("timestamp"))
    c.mergeInto(src, on = Seq("id"),
      WhenMatched.UpdateAllIf(col("s.v") > 0), insertUnmatched = false)
    val man = c.currentManifest()
    assert(filesBefore.subsetOf(man.files.toSet),
      "gated whole-row update must DV + append, never rewrite the old files")
    assert(man.allDvs.values.map(_.count).sum == 1L,
      "exactly the one gate-true match vectors out")
    val out = c.query().where(col("id").isin(5L, 6L))
      .select("id", "user_id", "v").as[(Long, Long, Double)]
      .collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(out(5L) == ((500L, 99.0)), "gate-true match takes the whole source row")
    assert(out(6L) == ((6L, 1.0)), "gate-false match carries unchanged")
    assert(c.countRows() == 150)
  }

  test("rewrite-vs-DV equivalence: identical visible rows either way") {
    val rootA = SparkTestSession.tmp("graft-dv-eqA")
    val rootB = SparkTestSession.tmp("graft-dv-eqB")
    val cA = dvColl(rootA)
    // same content, DV disabled -> classic rewrite path
    val b1 = mk(0, 50, 1)
    val cB = Collection.create(spark, rootB, b1.schema, "ts",
      DatePartitioning("ts", "D"), statsColumns = Seq("user_id"))
    cB.insert(b1, MergeStrategy.Concat)
    cB.insert(mk(100, 150, 1, "12"), MergeStrategy.Concat)
    cB.insert(mk(200, 250, 2), MergeStrategy.Concat)
    for (c <- Seq(cA, cB)) {
      c.deleteWhere("user_id in (3, 17, 29, 104, 131, 149) and day == 1")
      c.updateWhere("user_id >= 200 and user_id < 210", Map("v" -> "v * 2"))
    }
    val a = cA.query().select("id", "user_id", "v").as[(Long, Long, Double)]
      .collect().sortBy(_._1).toSeq
    val b = cB.query().select("id", "user_id", "v").as[(Long, Long, Double)]
      .collect().sortBy(_._1).toSeq
    assert(a == b && a.nonEmpty)
    // and the DV side really vectored (day-1 delete was light everywhere)
    assert(cA.currentManifest().allDvs.nonEmpty)
  }

  test("victim scan refuses when an augment answers differently across its two passes (r14)") {
    // the DV victim scan runs a count pass then an id pass — two
    // separate jobs. An `augment` over MUTABLE external state (the
    // SQL-DML subquery hook) can change between them; a mismatch must
    // fall back to the single-evaluation rewrite path, never silently
    // drop victims. The barrier seam swaps the augment's source between
    // the passes; the rewrite leg then evaluates ONCE, post-swap.
    val root = SparkTestSession.tmp("graft-dv-twopass")
    val c = dvColl(root)
    @volatile var flagged: Seq[Long] = Seq(10L, 11L, 12L)
    val augment = (df: org.apache.spark.sql.DataFrame) => {
      val flags = flagged.toDF("fid").withColumn("_zc_hit", lit(1))
      df.join(broadcast(flags), df("user_id") === col("fid"), "left")
        .drop("fid")
    }
    c.victimPassBarrier = () => { flagged = Seq(10L, 11L) } // pass 2 differs
    try {
      val touched = c.deleteWhereCols(col("_zc_hit") === 1, FilterExpr.True, augment)
      assert(c.lastVictimPassMismatch,
        "a cross-pass disagreement must trip the consistency check")
      assert(touched.nonEmpty, "the rewrite fallback still commits the delete")
      // the rewrite leg evaluated cond/augment once, AFTER the swap:
      // exactly users 10 and 11 are gone
      val users = c.query().select("user_id").as[Long].collect().toSet
      assert(!users.contains(10L) && !users.contains(11L) && users.contains(12L),
        s"single post-swap evaluation must decide the delete: ${users.toSeq.sorted.take(20)}")
      // and no deletion vector landed — this commit took the rewrite path
      assert(c.currentManifest().allDvs.isEmpty,
        "the mismatch fallback must not mix in a DV from the disagreeing scan")
    } finally c.victimPassBarrier = () => ()

    // control: a stable augment takes the DV path and leaves the flag down
    flagged = Seq(12L)
    val touched2 = c.deleteWhereCols(col("_zc_hit") === 1, FilterExpr.True, augment)
    assert(!c.lastVictimPassMismatch && touched2.nonEmpty)
    assert(c.currentManifest().allDvs.nonEmpty, "stable augment -> DV delete")
    assert(!c.query().select("user_id").as[Long].collect().contains(12L))
  }
}
