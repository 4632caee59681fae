package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{CrashAtPublish, SparkTestSession}

/** The commit protocol's optimistic-concurrency guard: a writer whose
  * target generation was claimed by someone else between its head read
  * and its commit must CONFLICT, never overwrite (the Icechunk
  * commit-conflict model). The race window is internal to a mutation, so
  * this spec drives the package-private commit directly. */
class ManifestConflictSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("committing an already-claimed generation raises a conflict and leaves it untouched") {
    val root = SparkTestSession.tmp("graft-conflict")
    val df = Seq((1L, "2024-01-01 10:00:00", 1.0))
      .toDF("id", "ts", "v").withColumn("ts", col("ts").cast("timestamp"))
    val c = Collection.create(spark, root, df.schema, "ts", DatePartitioning("ts", "D"))
    c.insert(df) // head = generation 1

    val fs = Collection.fileSystem(spark, root)
    val dir = new Path(s"$root/${Collection.ManifestDir}")
    val head = c.currentManifest()
    val losing = head.withShards(head.taskBase, Nil) // same generation as the head
    val ex = intercept[java.util.ConcurrentModificationException] {
      Collection.writeManifest(fs, dir, losing) // generation already committed
    }
    assert(ex.getMessage.contains("another writer"))
    // the original commit is intact: full read still sees the data
    assert(c.query().count() == 1)
    assert(c.currentManifest().files.nonEmpty)
  }

  test("disjoint-partition conflicts rebase automatically; overlapping ones surface") {
    val root = SparkTestSession.tmp("graft-rebase")
    val df = Seq((0L, 1L, 1.0), (1L, 2L, 2.0)).toDF("a", "seq", "v")
    val c = Collection.create(spark, root, df.schema, "seq",
      SequencePartitioning(Seq("a"), "seq"))
    c.insert(df) // gen 1: partitions a=0, a=1
    val stale = c.currentManifest()

    // writer B gets as far as its physical write (partition a=2)...
    CrashAtPublish(root)(c.insert(Seq((2L, 3L, 3.0)).toDF("a", "seq", "v")))
    val fs = Collection.fileSystem(spark, root)
    val bFiles = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/a=2")).toSeq
      .filter(st => Collection.isDataFile(st.getPath.getName))
      .map(st => s"a=2/${st.getPath.getName}")
    assert(bFiles.nonEmpty)

    // ...while writer A commits first (partition a=3 -> gen 2)
    c.insert(Seq((3L, 4L, 4.0)).toDF("a", "seq", "v"), MergeStrategy.Concat)
    assert(c.generation == stale.generation + 1)

    // B's commit from the STALE base targets the claimed generation,
    // conflicts, and rebases onto A's head — disjoint partitions, so it
    // lands as generation 3 with BOTH writers' data visible
    c.publish(Collection.Commit("write", stale, added = bFiles, taskBump = 1L))
    assert(c.generation == stale.generation + 2)
    assert(c.query().count() == 4)
    assert(c.query("a == 2").count() == 1)
    assert(c.query("a == 3").count() == 1)
    assert(c.partitions() == Seq("a=0", "a=1", "a=2", "a=3"))

    // an OVERLAPPING delta from the same stale base must refuse to
    // rebase: a=3 was touched by A's winning commit
    val aFiles = c.currentManifest().files.filter(_.startsWith("a=3/"))
    val ex = intercept[java.util.ConcurrentModificationException] {
      c.publish(Collection.Commit("write", stale, added = aFiles, taskBump = 1L))
    }
    assert(ex.getMessage.contains("both writers touched"), ex.getMessage)
    // and a concurrent schema evolution blocks any rebase
    c.addVariable("w", org.apache.spark.sql.types.DoubleType, fill = Some("0.0"))
    val ex2 = intercept[java.util.ConcurrentModificationException] {
      c.publish(Collection.Commit("write", stale, added = bFiles, taskBump = 1L))
    }
    assert(ex2.getMessage.contains("schema evolved"), ex2.getMessage)
  }

  test("a first-load insert that loses its publish race leaves no data file behind") {
    val root = SparkTestSession.tmp("graft-first-load-race")
    val df = Seq((0L, 1L, 1.0), (1L, 2L, 2.0)).toDF("a", "seq", "v")
    val c = Collection.create(spark, root, df.schema, "seq",
      SequencePartitioning(Seq("a"), "seq"))
    val fs = Collection.fileSystem(spark, root)
    val dir = fs.makeQualified(new Path(s"$root/${Collection.ManifestDir}")).toString + "/"
    // every claim of this root's next generation is lost, as if another
    // writer always got there first; other targets publish as usual
    Collection.registerCommitArbiter("file", new Collection.CommitArbiter {
      def publish(f: org.apache.hadoop.fs.FileSystem, tmp: Path, tgt: Path): Boolean =
        if (f.makeQualified(tgt).toString.startsWith(dir)) {
          try f.delete(tmp, false) catch { case _: Exception => () }
          false
        } else Collection.UnsafeSingleWriterArbiter.publish(f, tmp, tgt)
    })
    try intercept[java.util.ConcurrentModificationException](c.insert(df))
    finally Collection.unregisterCommitArbiter("file")
    val it = fs.listFiles(new Path(root), true)
    val left = Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath)
      .filter(p => Collection.isDataFile(p.getName)).toSeq
    assert(left.isEmpty, s"the losing insert left its files: $left")
    assert(c.generation == 0L)
  }

  test("TRULY concurrent same-generation writers: exactly one publish wins") {
    // the exists()+rename commit had a TOCTOU hole: two writers racing
    // the same generation could both pass the pre-check and both
    // "succeed" on an overwriting rename, silently losing one commit.
    // The publish is now an exclusive atomic primitive (link(2) on local
    // filesystems); race two barrier-synchronized writers repeatedly and
    // require exactly one winner each round, with the committed content
    // being the winner's.
    val root = SparkTestSession.tmp("graft-race")
    val df = Seq((0L, 1L, 1.0)).toDF("a", "seq", "v")
    val c = Collection.create(spark, root, df.schema, "seq",
      SequencePartitioning(Seq("a"), "seq"))
    c.insert(df)
    val fs = Collection.fileSystem(spark, root)
    val dir = new Path(s"$root/${Collection.ManifestDir}")
    val head = c.currentManifest()

    for (round <- 1 to 25) {
      val gen = head.generation + round
      val tags = Seq("A", "B")
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val outcome = new Array[Option[Throwable]](2)
      val threads = tags.zipWithIndex.map { case (tag, i) =>
        new Thread(() => {
          val m = head.withMeta(fills = Map("winner" -> tag)).stamped(gen, None)
          barrier.await()
          outcome(i) =
            try { Collection.writeManifest(fs, dir, m); None }
            catch { case e: Throwable => Some(e) }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())

      val winners = outcome.zipWithIndex.collect { case (None, i) => i }
      assert(winners.length == 1,
        s"round $round: want exactly 1 winner, got ${winners.length} " +
        s"(${outcome.map(_.map(_.getClass.getSimpleName)).mkString(", ")})")
      val loser = outcome(1 - winners.head).get
      assert(loser.isInstanceOf[java.util.ConcurrentModificationException],
        s"round $round: loser must conflict, threw $loser")
      // committed bytes are the winner's, fully intact
      val committed = Collection.readManifest(fs, dir, gen)
      assert(committed.fills.get("winner").contains(tags(winners.head)),
        s"round $round: committed content is not the winner's")
      // no stray tmp survives a decided race
      val tmps = fs.listStatus(dir).toSeq.map(_.getPath.getName)
        .filter(n => n.startsWith(f"manifest-$gen%012d.") && n.endsWith(".tmp"))
      assert(tmps.isEmpty, s"round $round: orphan tmps $tmps")
    }
  }

  test("object-store commit safety: overwrite-on-rename filesystems refuse, a CAS arbiter restores exclusion") {
    // an S3-shaped filesystem: rename silently REPLACES the destination
    // (no atomic no-overwrite primitive), reported under its own scheme
    class MockS3Fs extends org.apache.hadoop.fs.RawLocalFileSystem {
      override def getUri: java.net.URI = java.net.URI.create("mocks3:///")
      override def rename(src: Path, dst: Path): Boolean = {
        if (exists(dst)) delete(dst, true)
        super.rename(src, dst)
      }
    }
    val fs = new MockS3Fs
    fs.initialize(java.net.URI.create("mocks3:///"), spark.sparkContext.hadoopConfiguration)
    val dir = new Path(SparkTestSession.tmp("graft-mocks3"))
    fs.mkdirs(dir)
    def mkTmp(tag: String): Path = {
      val p = new Path(dir, s"m.$tag.tmp")
      val out = fs.create(p, true); out.write(tag.getBytes("UTF-8")); out.close()
      p
    }
    val target = new Path(dir, "manifest-000000000001.json")

    // 1. WITHOUT an arbiter: loud refusal, nothing published
    val ex = intercept[UnsupportedOperationException] {
      Collection.publishExclusive(fs, mkTmp("a"), target)
    }
    assert(ex.getMessage.contains("mocks3") &&
           ex.getMessage.contains("registerCommitArbiter"), ex.getMessage)
    assert(!fs.exists(target))

    // 2. a conditional-PUT-shaped arbiter (atomic claim table keyed by
    // target, the If-None-Match model): racing publishes -> ONE winner
    val claims = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    Collection.registerCommitArbiter("mocks3", new Collection.CommitArbiter {
      def publish(f: org.apache.hadoop.fs.FileSystem, tmp: Path, tgt: Path): Boolean =
        if (claims.add(tgt.toString)) f.rename(tmp, tgt)
        else { try f.delete(tmp, false) catch { case _: Exception => () }; false }
    })
    try {
      for (round <- 1 to 20) {
        val tgt = new Path(dir, f"manifest-${100 + round}%012d.json")
        val tmps = Seq(mkTmp(s"A$round"), mkTmp(s"B$round"))
        val barrier = new java.util.concurrent.CyclicBarrier(2)
        val won = new Array[Boolean](2)
        val threads = tmps.zipWithIndex.map { case (t, i) =>
          new Thread(() => {
            barrier.await()
            won(i) = Collection.publishExclusive(fs, t, tgt)
          })
        }
        threads.foreach(_.start()); threads.foreach(_.join())
        assert(won.count(identity) == 1,
          s"round $round: want exactly one winner, got ${won.toSeq}")
        assert(fs.exists(tgt))
      }
    } finally Collection.unregisterCommitArbiter("mocks3")

    // 3. the explicit single-writer declaration works sequentially and
    // still reports an already-claimed target as lost
    Collection.registerCommitArbiter("mocks3", Collection.UnsafeSingleWriterArbiter)
    try {
      val tgt = new Path(dir, "manifest-000000000999.json")
      assert(Collection.publishExclusive(fs, mkTmp("s1"), tgt))
      assert(!Collection.publishExclusive(fs, mkTmp("s2"), tgt),
        "second publish of a claimed generation must report loss")
    } finally Collection.unregisterCommitArbiter("mocks3")
  }

  test("concurrent END-TO-END inserts to disjoint partitions: both land, loser rebases") {
    // full-path race: two handles, two threads, each running insert()
    // through its own task write and publish. The hard-link claim
    // decides each generation; the loser must rebase (disjoint
    // partitions) and BOTH commits' rows must be visible.
    val root = SparkTestSession.tmp("graft-race-e2e")
    val seed = Seq((0L, 1L, 1.0)).toDF("a", "seq", "v")
    val c = Collection.create(spark, root, seed.schema, "seq",
      SequencePartitioning(Seq("a"), "seq"))
    c.insert(seed)
    val handles = Seq(Collection.open(spark, root), Collection.open(spark, root))

    for (round <- 1 to 5) {
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val errs = new Array[Option[Throwable]](2)
      val threads = handles.zipWithIndex.map { case (h, i) =>
        new Thread(() => {
          val a = 10L * round + i // writer-unique partition value
          val df = Seq((a, a * 100L, a.toDouble)).toDF("a", "seq", "v")
          barrier.await()
          errs(i) =
            try { h.insert(df, MergeStrategy.Concat); None }
            catch { case e: Throwable => Some(e) }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      assert(errs.forall(_.isEmpty),
        s"round $round: disjoint-partition writers must both succeed, got " +
        errs.flatten.map(_.toString).mkString("; "))
      val fresh = Collection.open(spark, root)
      assert(fresh.query(s"a == ${10 * round}").count() == 1, s"round $round: writer 0 lost")
      assert(fresh.query(s"a == ${10 * round + 1}").count() == 1, s"round $round: writer 1 lost")
    }
    // every round advanced the generation twice — nothing was absorbed
    assert(Collection.open(spark, root).generation == 1L + 10L)
  }

  test("racing update() rewrites of the SAME partition never silently lose an increment") {
    // the lost-update hole: a rewrite whose read resolved against an
    // older snapshot than its commit base silently erased any commit
    // landing in between. With the base PINNED to the read snapshot, a
    // racing commit forces the rebaseGuard conflict instead: across
    // rounds, final state must equal initial + (number of SUCCESSFUL
    // updates) — a loud ConcurrentModificationException is the only
    // permitted failure mode.
    val root = SparkTestSession.tmp("graft-race-update")
    val df = (0L until 8L).map(i => (i, 0L, 1L, 0.0)).toDF("id", "g", "seq", "v")
    val c = Collection.create(spark, root, df.schema, "seq",
      SequencePartitioning(Seq("g"), "seq"))
    c.insert(df) // constant g: ONE partition — every update overlaps every other
    val handles = Seq(Collection.open(spark, root), Collection.open(spark, root))

    var expected = 0L
    for (round <- 1 to 4) {
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val errs = new Array[Option[Throwable]](2)
      val threads = handles.zipWithIndex.map { case (h, i) =>
        new Thread(() => {
          barrier.await()
          errs(i) =
            try { h.update(d => d.withColumn("v", col("v") + lit(1.0))); None }
            catch { case e: Throwable => Some(e) }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      errs.flatten.foreach { e =>
        assert(e.isInstanceOf[java.util.ConcurrentModificationException],
          s"round $round: only a loud conflict may fail an update, got $e")
      }
      expected += errs.count(_.isEmpty)
      val vs = Collection.open(spark, root).query()
        .select("v").collect().map(_.getDouble(0)).distinct.toSeq
      assert(vs == Seq(expected.toDouble),
        s"round $round: want every v == $expected (silent lost update?), got $vs")
    }
    assert(expected >= 4, "at least one update per round must succeed")
  }

  test("deleteWhere racing a Concat insert into the same partition never loses rows silently") {
    // deleteWhere's commit is pinned to its read snapshot and drops
    // FILES; an insert landing in the same partition between the read
    // and the publish must force a conflict (one side retries), never a
    // silent disappearance of the inserted rows.
    val root = SparkTestSession.tmp("graft-race-delete")
    val df = (0L until 8L).map(i => (i, 0L, 1L, i.toDouble)).toDF("id", "g", "seq", "v")
    val c = Collection.create(spark, root, df.schema, "seq",
      SequencePartitioning(Seq("g"), "seq"))
    c.insert(df) // one partition (g=0)
    val h1 = Collection.open(spark, root)
    val h2 = Collection.open(spark, root)

    var inserted = 0L
    var deleted = false
    for (round <- 1 to 3 if !deleted) {
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val errs = new Array[Option[Throwable]](2)
      val nextId = 100L * round
      val t1 = new Thread(() => {
        barrier.await()
        errs(0) =
          try { h1.deleteWhere("v >= 0.0 and v <= 3.0"); None }
          catch { case e: Throwable => Some(e) }
      })
      val t2 = new Thread(() => {
        barrier.await()
        errs(1) =
          try {
            h2.insert(Seq((nextId, 0L, 1L, -1.0)).toDF("id", "g", "seq", "v"),
              MergeStrategy.Concat)
            None
          } catch { case e: Throwable => Some(e) }
      })
      t1.start(); t2.start(); t1.join(); t2.join()
      errs.flatten.foreach { e =>
        assert(e.isInstanceOf[java.util.ConcurrentModificationException],
          s"round $round: only a loud conflict may fail, got $e")
      }
      if (errs(0).isEmpty) deleted = true
      if (errs(1).isEmpty) inserted += 1
      // invariant after every round: the id-0..3 rows exist iff no
      // delete succeeded yet, and EVERY successful insert's row exists
      val ids = Collection.open(spark, root).query()
        .select("id").collect().map(_.getLong(0)).toSet
      assert((0L until 4L).forall(i => ids.contains(i) != deleted),
        s"round $round: delete state inconsistent (deleted=$deleted): $ids")
      val insertedIds = (1 to round).map(100L * _).filter(r => ids.contains(r))
      assert(insertedIds.size == inserted,
        s"round $round: racing insert rows lost — want $inserted of ${(1 to round).map(100L * _)}, see $ids")
    }
    assert(deleted || inserted > 0, "nothing ever succeeded")
  }
}
