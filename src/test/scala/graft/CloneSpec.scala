package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Collection, DatePartitioning, MergeStrategy, RebaseResolve}

/** SHALLOW CLONE + TAGS + BRANCHES (round 8).
  *
  * A clone's head references the source's physical files (`base::rel`
  * external refs) without copying a byte; the clone is independently
  * writable, rewrites DROP references instead of deleting source files,
  * and every skip layer (zone maps, blooms, generation pruning) carries
  * over. Tags pin generations against GC; branches are in-tree clones.
  * Reference: Icechunk branch/tag sessions (store/icechunk_store.py:
  * 112-145); Delta SHALLOW CLONE semantics for the durability contract.
  */
class CloneSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def mk(vals: (Long, String, Double)*) = vals
    .toDF("id", "ts", "v").withColumn("ts", col("ts").cast("timestamp"))

  private def fresh(root: String, retain: Int = 0): Collection = {
    val df = mk(
      (1L, "2024-01-01 10:00:00", 1.0), (2L, "2024-01-01 11:00:00", 2.0),
      (3L, "2024-01-02 10:00:00", 3.0), (4L, "2024-01-03 10:00:00", 4.0))
    val c = Collection.create(spark, root, df.schema, "ts",
      DatePartitioning("ts", "D"), statsColumns = Seq("id"),
      bloomColumns = Seq("id"), retainGenerations = retain)
    c.insert(df)
    c
  }

  private def rows(c: Collection): Seq[(Long, Double)] =
    c.query().select("id", "v").collect().map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq

  private def localParquets(root: String): Seq[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val d = new java.io.File(root)
    if (!d.exists()) Nil
    else walk(d).map(_.getPath).filter(p => p.endsWith(".parquet") && !p.contains("/_"))
  }

  test("clone reads the source's data with zero copied files") {
    val srcRoot = SparkTestSession.tmp("clone-src")
    val dstRoot = SparkTestSession.tmp("clone-dst")
    val src = fresh(srcRoot)
    val dst = src.cloneTo(dstRoot)

    assert(rows(dst) == rows(src), "clone must read identically to the source")
    assert(localParquets(dstRoot).isEmpty,
      s"shallow clone must copy no data files, found: ${localParquets(dstRoot)}")
    assert(dst.isExternalClone)
    assert(!src.isExternalClone)
    // generation number carries over so per-file gens / columnSince
    // ordering stays sound across the boundary
    assert(dst.generation == src.generation)
    // filtered reads prune through the carried zone maps
    val filtered = dst.query("ts >= '2024-01-03'").select("id")
      .collect().map(_.getLong(0)).toSeq
    assert(filtered == Seq(4L))
  }

  test("clone point is a snapshot: later source writes are invisible to the clone") {
    val src = fresh(SparkTestSession.tmp("clone-snap-src"))
    val dst = src.cloneTo(SparkTestSession.tmp("clone-snap-dst"))
    src.insert(mk((9L, "2024-01-09 10:00:00", 9.0)), MergeStrategy.Concat)
    assert(rows(dst).map(_._1) == Seq(1L, 2L, 3L, 4L))
    assert(rows(src).map(_._1) == Seq(1L, 2L, 3L, 4L, 9L))
  }

  test("writes to the clone never touch the source") {
    val srcRoot = SparkTestSession.tmp("clone-w-src")
    val src = fresh(srcRoot)
    val before = localParquets(srcRoot).sorted
    val srcGen = src.generation
    val dst = src.cloneTo(SparkTestSession.tmp("clone-w-dst"))

    // append a fresh partition AND rewrite an existing one
    dst.insert(mk((5L, "2024-01-04 10:00:00", 5.0)), MergeStrategy.Concat)
    dst.updateWhere("id == 2", Map("v" -> "v + 10.0"))
    dst.deleteWhere("id == 3")

    assert(rows(dst) == Seq((1L, 1.0), (2L, 12.0), (4L, 4.0), (5L, 5.0)),
      s"clone mutations must compose: ${rows(dst)}")
    assert(rows(src) == Seq((1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, 4.0)),
      "source rows must be untouched")
    assert(localParquets(srcRoot).sorted == before,
      "the source's physical file set must be byte-for-byte untouched")
    assert(src.generation == srcGen, "the source's manifest line must not advance")
    // the rewrite dropped external refs for the touched partitions; the
    // untouched partitions still reference the source
    assert(dst.isExternalClone, "untouched partitions still reference the source")
  }

  test("compact materializes the clone locally; source files survive") {
    val srcRoot = SparkTestSession.tmp("clone-c-src")
    val src = fresh(srcRoot)
    val dst = src.cloneTo(SparkTestSession.tmp("clone-c-dst"))
    val before = localParquets(srcRoot).sorted
    dst.compact()
    assert(!dst.isExternalClone, "compaction rewrites every partition locally")
    assert(rows(dst) == rows(src))
    assert(localParquets(srcRoot).sorted == before, "source files must survive the clone's compact")
    // once materialized, the clone is fully self-contained: deleting the
    // source does not affect it
    val fs = new Path(srcRoot).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(srcRoot), true)
    assert(rows(dst).map(_._1) == Seq(1L, 2L, 3L, 4L))
  }

  test("vacuum on the clone reclaims only clone-written files") {
    val srcRoot = SparkTestSession.tmp("clone-v-src")
    val src = fresh(srcRoot)
    val dst = src.cloneTo(SparkTestSession.tmp("clone-v-dst"))
    val before = localParquets(srcRoot).sorted
    dst.updateWhere("id == 1", Map("v" -> "0.5"))
    val reclaimed = dst.vacuum(graceMs = 0L)
    assert(localParquets(srcRoot).sorted == before,
      s"vacuum on a clone must never delete source files (reclaimed: $reclaimed)")
    assert(rows(dst).contains((1L, 0.5)))
    assert(rows(src).contains((1L, 1.0)))
  }

  test("fsck resolves external refs; a vacuumed-away source file is reported missing") {
    val srcRoot = SparkTestSession.tmp("clone-f-src")
    val src = fresh(srcRoot)
    val dst = src.cloneTo(SparkTestSession.tmp("clone-f-dst"))
    val ok = dst.fsck()
    assert(ok.missingFiles.isEmpty, s"fresh clone must fsck clean: ${ok.missingFiles}")
    // simulate the source reclaiming a file the clone still references
    val victim = localParquets(srcRoot).head
    new java.io.File(victim).delete()
    val broken = dst.fsck()
    assert(broken.missingFiles.size == 1,
      s"fsck must detect the vacuumed-away base file: ${broken.missingFiles}")
    assert(broken.missingFiles.head.contains(Collection.ExtSep))
  }

  test("clone of a clone references the ORIGINAL tree (bases never chain)") {
    val srcRoot = SparkTestSession.tmp("clone-cc-src")
    val midRoot = SparkTestSession.tmp("clone-cc-mid")
    val src = fresh(srcRoot)
    val mid = src.cloneTo(midRoot)
    val leaf = mid.cloneTo(SparkTestSession.tmp("clone-cc-leaf"))
    // dropping the INTERMEDIATE clone must not break the leaf: every
    // external ref resolves to whichever tree physically holds the file
    val fs = new Path(midRoot).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(midRoot), true)
    assert(rows(leaf) == rows(src))
    assert(leaf.fsck().missingFiles.isEmpty)
  }

  test("repairCatalog refuses on a clone instead of dropping external refs") {
    val src = fresh(SparkTestSession.tmp("clone-r-src"))
    val dst = src.cloneTo(SparkTestSession.tmp("clone-r-dst"))
    val e = intercept[IllegalStateException](dst.repairCatalog())
    assert(e.getMessage.contains("shallow clone"))
  }

  test("schema evolution on the clone stays sound across the boundary") {
    val src = fresh(SparkTestSession.tmp("clone-e-src"))
    val dst = src.cloneTo(SparkTestSession.tmp("clone-e-dst"))
    dst.addVariable("w", org.apache.spark.sql.types.DoubleType)
    dst.insert(Seq((7L, "2024-01-07 10:00:00", 7.0, 77.0))
      .toDF("id", "ts", "v", "w").withColumn("ts", col("ts").cast("timestamp")),
      MergeStrategy.Concat)
    val got = dst.query().select("id", "w").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1.0 else r.getDouble(1))).sorted.toSeq
    assert(got == Seq((1L, -1.0), (2L, -1.0), (3L, -1.0), (4L, -1.0), (7L, 77.0)),
      s"pre-clone files must read the evolved column as null, new files carry it: $got")
    // the source schema is untouched
    assert(!src.schema.fieldNames.contains("w"))
  }

  test("tags pin generations against commit-time GC and vacuum") {
    // each commit replaces day 1's file; retainGenerations = 0 would GC
    // it at commit — with the tag, the tagged snapshot must stay whole
    val ops: Seq[(String, Collection => Unit)] = Seq(
      "updateWhere" -> (_.updateWhere("id == 1", Map("v" -> "100.0"))),
      "dropPartitions" -> (_.dropPartitions("day == 1")),
      "expirePartitions" -> (_.expirePartitions("2024-01-02 00:00:00")))
    for ((opName, op) <- ops) {
      val root = SparkTestSession.tmp("tag-pin")
      val c = fresh(root) // retainGenerations = 0: immediate GC on rewrite
      c.tag("v1")
      assert(c.tags() == Map("v1" -> c.generation))
      val taggedGen = c.generation

      op(c)
      // without the tag, the replaced file would be GC'd at commit;
      // with it, the tagged snapshot must stay fully readable
      val v1 = c.snapshotAtTag("v1").select("id", "v").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
      assert(v1 == Seq((1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, 4.0)),
        s"$opName: tagged snapshot must survive the commit: $v1")
      assert(c.vacuum(graceMs = 0L).isEmpty,
        s"$opName: vacuum must not reclaim a tagged generation's files")

      // dropping the tag releases the pin
      c.deleteTag(name = "v1")
      assert(c.tags().isEmpty)
      val reclaimed = c.vacuum(graceMs = 0L)
      assert(reclaimed.nonEmpty, s"$opName: after deleteTag the old file becomes reclaimable")
      intercept[Exception] { c.snapshotAt(taggedGen).collect() }
    }
  }

  test("tag API contract: immutability, names, unknown lookups") {
    val c = fresh(SparkTestSession.tmp("tag-api"))
    c.tag("release-1.0")
    intercept[IllegalStateException](c.tag("release-1.0"))
    intercept[IllegalArgumentException](c.tag("bad/name"))
    intercept[IllegalArgumentException](c.deleteTag("nope"))
    intercept[IllegalArgumentException](c.snapshotAtTag("nope"))
    assert(c.snapshotAtTag("release-1.0").count() == 4L)
  }

  test("branches: in-tree clones, invisible to the parent's walk") {
    val root = SparkTestSession.tmp("branch")
    val c = fresh(root)
    val dev = c.branch("dev")
    dev.insert(mk((8L, "2024-01-08 10:00:00", 8.0)), MergeStrategy.Concat)
    dev.updateWhere("id == 1", Map("v" -> "-1.0"))

    assert(c.branches() == Seq("dev"))
    assert(rows(c).map(_._1) == Seq(1L, 2L, 3L, 4L), "parent rows unchanged")
    assert(rows(c.openBranch("dev", readOnly = true)).map(_._1) == Seq(1L, 2L, 3L, 4L, 8L))

    // the parent's integrity layers must not see the branch's files
    val rep = c.fsck()
    assert(rep.missingFiles.isEmpty && rep.orphanFiles.isEmpty,
      s"branch files must be invisible to the parent: $rep")
    assert(c.vacuum(graceMs = 0L).isEmpty)
    assert(rows(c.openBranch("dev", readOnly = true)).contains((1L, -1.0)),
      "parent vacuum must not damage the branch")

    c.dropBranch("dev")
    assert(c.branches().isEmpty)
    intercept[IllegalArgumentException](c.dropBranch("dev"))
    assert(rows(c).map(_._1) == Seq(1L, 2L, 3L, 4L), "dropBranch only removes branch-owned state")
  }

  test("materialize localizes every external ref; the clone survives the source") {
    val srcRoot = SparkTestSession.tmp("mat-src")
    val dstRoot = SparkTestSession.tmp("mat-dst")
    val src = fresh(srcRoot)
    val dst = src.cloneTo(dstRoot)
    // mixed state: one partition rewritten locally, the rest external
    dst.updateWhere("id == 1", Map("v" -> "1.5"))
    val localized = dst.materialize()
    assert(localized.nonEmpty, "the untouched partitions were external and must localize")
    assert(!dst.isExternalClone, "after materialize no external refs remain")
    assert(localParquets(dstRoot).nonEmpty)
    // content-preserving commit, rewrite-marked for tailing streams
    val hist = dst.describeHistory().orderBy(col("generation").desc).limit(1)
      .select("operation", "rewritten_partitions").collect().head
    assert(hist.getString(0) == "materialize" && hist.getInt(1) > 0)
    // the source can now disappear entirely
    val fs = new Path(srcRoot).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(srcRoot), true)
    assert(rows(dst) == Seq((1L, 1.5), (2L, 2.0), (3L, 3.0), (4L, 4.0)))
    assert(dst.fsck().clean)
    // skip layers carried through the re-key: still pruning
    val rep = dst.explainPruning("id == 4")
    assert(rep.filesAfterBloom < rep.filesListed, s"must still skip: $rep")
    // nothing to reclaim: every copied file is live
    assert(dst.vacuum(graceMs = 0L).isEmpty)
    // idempotent: a second call is a no-op with no commit
    val gen = dst.generation
    assert(dst.materialize().isEmpty && dst.generation == gen)
  }

  test("promoteBranch applies the branch's exact row diff to the parent") {
    val c = fresh(SparkTestSession.tmp("promote"))
    val dev = c.branch("dev")
    dev.updateWhere("id == 2", Map("v" -> "22.0"))
    dev.deleteWhere("id == 3")
    dev.insert(mk((6L, "2024-01-06 10:00:00", 6.0)), MergeStrategy.Concat)
    val touched = c.promoteBranch("dev")
    assert(touched.nonEmpty)
    assert(rows(c) == Seq((1L, 1.0), (2L, 22.0), (4L, 4.0), (6L, 6.0)),
      s"parent must equal the branch after promotion: ${rows(c)}")
    assert(rows(c) == rows(c.openBranch("dev", readOnly = true)))
    val hist = c.describeHistory().orderBy(col("generation").desc).limit(1)
      .select("operation").collect().head.getString(0)
    assert(hist == "promote")
    c.dropBranch("dev")
  }

  test("parent rewrites and vacuum pin a live branch's fork-point files") {
    // each parent commit replaces day 1's file, which the branch still
    // references at its fork point (retainGenerations=0: immediate GC —
    // without the branch pin this deletes the file out from under it)
    val ops: Seq[(String, Collection => Unit)] = Seq(
      "updateWhere" -> (_.updateWhere("id == 1", Map("v" -> "100.0"))),
      "dropPartitions" -> (_.dropPartitions("day == 1")))
    for ((opName, op) <- ops) {
      val c = fresh(SparkTestSession.tmp("branch-pin"))
      c.branch("dev")
      op(c)
      assert(rows(c.openBranch("dev", readOnly = true)) ==
        Seq((1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, 4.0)),
        s"$opName: the branch must keep reading its fork-point state")
      // vacuum honors the same pin and the orphan report agrees
      assert(c.vacuum(graceMs = 0L).isEmpty, opName)
      assert(c.fsck().orphanFiles.isEmpty, opName)
      assert(rows(c.openBranch("dev", readOnly = true)).contains((1L, 1.0)), opName)
      // dropping the branch releases the pin
      c.dropBranch("dev")
      assert(c.vacuum(graceMs = 0L).nonEmpty,
        s"$opName: after dropBranch the fork-point file becomes reclaimable")
    }
  }

  test("fast-forward promote adopts the branch state: DVs survive dropBranch, " +
       "change feed exact, metadata counts carry, vacuum/fsck clean (r15)") {
    val root = SparkTestSession.tmp("ff-promote")
    val df = mk(
      (1L, "2024-01-01 10:00:00", 1.0), (2L, "2024-01-01 11:00:00", 2.0),
      (3L, "2024-01-02 10:00:00", 3.0), (4L, "2024-01-03 10:00:00", 4.0))
    // DV-enabled parent: the branch's deleteWhere writes a deletion
    // vector under the BRANCH tree; fast-forward must adopt the payload
    // into the parent tree or dropBranch would sever it
    val c = Collection.create(spark, root, df.schema, "ts",
      DatePartitioning("ts", "D"), statsColumns = Seq("id"),
      attrs = Map(Collection.DvEnabledAttr -> "true"))
    c.insert(df)
    val g0 = c.generation
    val dev = c.branch("dev")
    dev.updateWhere("id == 2", Map("v" -> "22.0")) // partition rewrite
    dev.deleteWhere("id == 3")                     // DV on a fork file
    dev.insert(mk((6L, "2024-01-06 10:00:00", 6.0)), MergeStrategy.Concat)
    val touched = c.promoteBranch("dev")
    assert(touched.nonEmpty)
    assert(c.generation == g0 + 1, "promote must publish exactly one generation")
    val hist = c.describeHistory().orderBy(col("generation").desc).limit(1)
      .select("operation").collect().head.getString(0)
    assert(hist == "promote")
    val expect = Seq((1L, 1.0), (2L, 22.0), (4L, 4.0), (6L, 6.0))
    assert(rows(c) == expect, s"parent must equal the branch head: ${rows(c)}")
    // the branch stays readable after promotion (the documented contract)
    assert(rows(c.openBranch("dev", readOnly = true)) == expect)
    // change feed across the promote commit = exactly the net branch diff
    val diff = c.changes(g0, c.generation)
      .select(col("_change_type"), col("id"), col("v")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(diff == Seq(("delete", 2L, 2.0), ("delete", 3L, 3.0),
      ("insert", 2L, 22.0), ("insert", 6L, 6.0)),
      s"net change feed across the promote: $diff")
    // metadata-only count carries the adopted rowTotals/dvCounts
    assert(c.countRows() == 4L)
    // drop the branch, reclaim: the adopted copies (incl. the DV
    // payload) must be independent of the branch tree
    c.dropBranch("dev")
    c.vacuum(graceMs = 0L)
    assert(rows(Collection.open(spark, root, readOnly = true)) == expect,
      "adopted state must survive dropBranch + vacuum")
    assert(c.countRows() == 4L)
    val rep = c.fsck(deep = true)
    assert(rep.missingFiles.isEmpty && rep.orphanFiles.isEmpty,
      s"fsck after FF promote + dropBranch + vacuum: $rep")
    // skip layers carried by re-key: an id-filtered query still prunes
    assert(c.query("id == 6").select("v").collect().map(_.getDouble(0)).toSeq
      == Seq(6.0))
  }

  test("promoteBranch contract: fast-forward check, empty branch, schema drift") {
    val c = fresh(SparkTestSession.tmp("promote-c"))
    val dev = c.branch("dev")
    assert(c.promoteBranch("dev").isEmpty, "an uncommitted branch promotes to nothing")

    dev.deleteWhere("id == 4")
    // parent advances past the fork point -> refuse ...
    c.insert(mk((7L, "2024-01-07 10:00:00", 7.0)), MergeStrategy.Concat)
    val e = intercept[IllegalArgumentException](c.promoteBranch("dev"))
    assert(e.getMessage.contains("fork point"))
    // ... unless explicitly allowed: diff applies onto the CURRENT state
    c.promoteBranch("dev", allowDiverged = true)
    assert(rows(c).map(_._1) == Seq(1L, 2L, 3L, 7L), s"got ${rows(c)}")

    // schema drift refuses
    val dev2 = c.branch("dev2")
    dev2.addVariable("extra", org.apache.spark.sql.types.DoubleType)
    dev2.updateWhere("id == 1", Map("v" -> "0.0"))
    val e2 = intercept[IllegalArgumentException](c.promoteBranch("dev2"))
    assert(e2.getMessage.contains("schema"))
  }

  test("promote racing a parent insert: linearizable — both land or a loud conflict") {
    // promote pins its read snapshot like every read-modify-write
    // commit: a parent insert landing between promote's fast-forward
    // check and its publish either rebases cleanly (disjoint
    // partitions) or surfaces as ConcurrentModificationException —
    // never a silent erase of either side's rows.
    val root = SparkTestSession.tmp("promote-race")
    val c = fresh(root)
    val dev = c.branch("dev")
    dev.updateWhere("id == 2", Map("v" -> "22.0"))
    val writer = Collection.open(spark, root)

    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val errs = new Array[Option[Throwable]](2)
    val t1 = new Thread(() => {
      barrier.await()
      errs(0) = try { c.promoteBranch("dev"); None } catch { case e: Throwable => Some(e) }
    })
    val t2 = new Thread(() => {
      barrier.await()
      errs(1) = try {
        writer.insert(mk((8L, "2024-01-08 10:00:00", 8.0)), MergeStrategy.Concat); None
      } catch { case e: Throwable => Some(e) }
    })
    t1.start(); t2.start(); t1.join(); t2.join()
    errs.flatten.foreach(e => assert(
      e.isInstanceOf[java.util.ConcurrentModificationException] ||
        e.getMessage.contains("fork point"),
      s"only a loud conflict/fork-point refusal may fail, got $e"))
    val finalRows = rows(Collection.open(spark, root, readOnly = true))
    val promoted = errs(0).isEmpty
    val inserted = errs(1).isEmpty
    val expect =
      (if (promoted) Seq((1L, 1.0), (2L, 22.0), (3L, 3.0), (4L, 4.0))
       else Seq((1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, 4.0))) ++
      (if (inserted) Seq((8L, 8.0)) else Nil)
    assert(finalRows == expect.sorted,
      s"final state must reflect exactly the successful commits " +
      s"(promoted=$promoted inserted=$inserted): $finalRows")
    assert(promoted || inserted, "at least one writer must succeed")
  }

  test("promote law: branch-then-promote equals applying the mutations directly") {
    // For any mutation sequence M: promote(branch.M) must leave the
    // parent in exactly the state M(parent) would have — the algebraic
    // contract that makes a branch a safe staging area. Checked over
    // several mutation programs including rewrites, deletes, appends,
    // and their compositions on overlapping partitions.
    val programs: Seq[(String, Collection => Unit)] = Seq(
      "update-only" -> (h => h.updateWhere("id <= 2", Map("v" -> "v * 10.0"))),
      "delete-then-append" -> { h =>
        h.deleteWhere("id == 1")
        h.insert(mk((7L, "2024-01-01 12:00:00", 7.0)), MergeStrategy.Concat)
      },
      "compose-same-partition" -> { h =>
        h.updateWhere("id == 2", Map("v" -> "v + 1.0"))
        h.updateWhere("id == 2", Map("v" -> "v * 3.0"))
        h.deleteWhere("id == 4")
      },
      "drop-partition-via-rows" -> { h =>
        h.deleteWhere("id == 3") // day=2 becomes empty and disappears
        h.insert(mk((9L, "2024-01-02 09:00:00", 9.0)), MergeStrategy.Concat)
      })
    for ((name, prog) <- programs) {
      val branched = fresh(SparkTestSession.tmp(s"law-b-$name"))
      val direct = fresh(SparkTestSession.tmp(s"law-d-$name"))
      val dev = branched.branch("work")
      prog(dev)
      branched.promoteBranch("work")
      prog(direct)
      assert(rows(branched) == rows(direct),
        s"program '$name': promoted ${rows(branched)} != direct ${rows(direct)}")
    }
  }

  test("rebaseBranch: disjoint-key divergence applies; shared keys conflict loudly") {
    // retention keeps the fork-point files readable for the parent's
    // own diff (the documented rebase requirement)
    val c = fresh(SparkTestSession.tmp("rebase"), retain = 4)
    val dev = c.branch("dev")
    dev.updateWhere("id == 2", Map("v" -> "22.0"))
    // parent diverges on a DIFFERENT key
    c.updateWhere("id == 4", Map("v" -> "44.0"))
    intercept[IllegalArgumentException](c.promoteBranch("dev")) // fast-forward refuses
    val touched = c.rebaseBranch("dev", Seq("id"))
    assert(touched.nonEmpty)
    assert(rows(c) == Seq((1L, 1.0), (2L, 22.0), (3L, 3.0), (4L, 44.0)),
      s"rebase must preserve BOTH sides' edits: ${rows(c)}")
    val hist = c.describeHistory().orderBy(col("generation").desc).limit(1)
      .select("operation").collect().head.getString(0)
    assert(hist == "rebase")

    // shared-key divergence: both touch id==1 -> loud conflict, parent unchanged
    val c2 = fresh(SparkTestSession.tmp("rebase-c"), retain = 4)
    val dev2 = c2.branch("dev")
    dev2.updateWhere("id == 1", Map("v" -> "-1.0"))
    c2.updateWhere("id == 1", Map("v" -> "100.0"))
    val before = rows(c2)
    val e = intercept[IllegalStateException](c2.rebaseBranch("dev", Seq("id")))
    assert(e.getMessage.contains("rebase conflict") && e.getMessage.contains("[1]"),
      s"conflict message must name the key: ${e.getMessage}")
    assert(rows(c2) == before, "a refused rebase must not commit anything")

    // conflict RESOLUTION policies (git vocabulary, row-granular):
    // both sides touch id==1, branch alone touches id==2, parent alone
    // touches id==4 — disjoint edits must survive under EITHER policy
    def diverged(tag: String): Collection = {
      val cc = fresh(SparkTestSession.tmp(s"rebase-$tag"), retain = 4)
      val dd = cc.branch("dev")
      dd.updateWhere("id == 1", Map("v" -> "-1.0"))
      dd.updateWhere("id == 2", Map("v" -> "22.0"))
      cc.updateWhere("id == 1", Map("v" -> "100.0"))
      cc.updateWhere("id == 4", Map("v" -> "44.0"))
      cc
    }
    val co = diverged("ours")
    co.rebaseBranch("dev", Seq("id"), RebaseResolve.Ours)
    assert(rows(co) == Seq((1L, 100.0), (2L, 22.0), (3L, 3.0), (4L, 44.0)),
      s"Ours: parent keeps id=1, branch's disjoint id=2 applies: ${rows(co)}")
    val ct = diverged("theirs")
    ct.rebaseBranch("dev", Seq("id"), RebaseResolve.Theirs)
    assert(rows(ct) == Seq((1L, -1.0), (2L, 22.0), (3L, 3.0), (4L, 44.0)),
      s"Theirs: branch wins id=1, parent's disjoint id=4 survives: ${rows(ct)}")

    // not diverged: rebase degrades to a plain fast-forward promote
    val c3 = fresh(SparkTestSession.tmp("rebase-ff"))
    val dev3 = c3.branch("dev")
    dev3.deleteWhere("id == 3")
    c3.rebaseBranch("dev", Seq("id"))
    assert(rows(c3).map(_._1) == Seq(1L, 2L, 4L))
  }

  test("clone AS OF a generation / tag forks the past snapshot") {
    val c = fresh(SparkTestSession.tmp("clone-asof"), retain = 4)
    c.tag("v1")
    c.insert(mk((9L, "2024-01-09 10:00:00", 9.0)), MergeStrategy.Concat)
    val atTag = c.cloneTo(SparkTestSession.tmp("clone-asof-tag"), asOfTag = "v1")
    assert(rows(atTag).map(_._1) == Seq(1L, 2L, 3L, 4L),
      "the tag clone must not see the later insert")
    val atHead = c.cloneTo(SparkTestSession.tmp("clone-asof-head"))
    assert(rows(atHead).map(_._1) == Seq(1L, 2L, 3L, 4L, 9L))
    val dev = c.branch("old", asOfTag = "v1")
    assert(rows(dev).map(_._1) == Seq(1L, 2L, 3L, 4L))
    intercept[IllegalArgumentException](
      c.cloneTo(SparkTestSession.tmp("clone-asof-x"), asOfTag = "nope"))
  }

  test("bloom + zone-map skip layers prune through external refs") {
    val src = fresh(SparkTestSession.tmp("clone-p-src"))
    val dst = src.cloneTo(SparkTestSession.tmp("clone-p-dst"))
    // id is a bloom + stats column: the prune report must still skip
    // non-matching files on the CLONE (stats were carried, blooms open
    // the source's footers through the external refs)
    val rep = dst.explainPruning("id == 4")
    assert(rep.filesAfterBloom < rep.filesListed,
      s"clone must keep skipping files: $rep")
    val got = dst.query("id == 4").select("id").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(4L))
  }
}
