package graft.core

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{CrashAtPublish, SparkTestSession}

/** The sharded manifest (r2 verdict #2): the root manifest holds the
  * partition table (O(partitions)); per-subtree FILE lists live in
  * content-addressed shard files and load lazily. At 10^7 files a cold
  * partition-filtered query must parse one shard, not a multi-GB list.
  */
class ManifestShardSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("10^4 files / 10^3 partitions: pruned reads open only the touched shards") {
    val root = SparkTestSession.tmp("graft-shard")
    // 42 x 24 = 1008 partitions under a two-level sequence key: shard
    // subtree = a=<i> (42 shards of 24 partitions each)
    val mk = () => spark.range(10080)
      .select(
        (col("id") / 240).cast("long").as("a"),
        ((col("id") / 10) % 24).cast("long").as("b"),
        col("id").as("seq"),
        (col("id") % 100).cast("double").as("v"))
    val df = mk()
    val c = Collection.create(spark, root, df.schema, "seq",
      SequencePartitioning(Seq("a", "b"), "seq"))
    for (_ <- 1 to 10) c.insert(mk(), MergeStrategy.Concat)

    assert(c.partitions().size == 1008)
    val man = c.currentManifest()
    assert(man.shards.size == 42)
    assert(man.files.size >= 10000, s"only ${man.files.size} files")

    // fresh open: nothing loaded yet
    val c2 = Collection.open(spark, root, readOnly = true)
    val man2 = c2.currentManifest()
    assert(man2.loadedShardCount == 0)

    // partition listing is served from the ROOT manifest alone
    assert(c2.partitions("a == 7").size == 24)
    assert(man2.loadedShardCount == 0, "listing must not open shard files")

    // a partition-filtered query opens exactly ONE shard of 42
    val got = c2.query("a == 7 and b == 3")
    assert(man2.loadedShardCount == 1,
      s"pruned query loaded ${man2.loadedShardCount} shards, want 1")
    assert(got.count() == 100) // 10 rows per partition x 10 concat inserts

    // prefix-level filter: all 24 partitions of one subtree, still 1 shard
    assert(c2.query("a == 3").count() == 2400)
    assert(man2.loadedShardCount == 2)

    // a full scan does load everything
    assert(c2.query().count() == 100800)
    assert(man2.loadedShardCount == 42)
  }

  test("commits rewrite only the touched subtree's shard; the rest carry over by name") {
    val root = SparkTestSession.tmp("graft-shard-delta")
    val df = Seq((0L, 0L, 1L, 1.0), (0L, 1L, 2L, 2.0), (1L, 0L, 3L, 3.0), (2L, 5L, 4L, 4.0))
      .toDF("a", "b", "seq", "v")
    val c = Collection.create(spark, root, df.schema, "seq",
      SequencePartitioning(Seq("a", "b"), "seq"))
    c.insert(df)
    val g1 = c.generation
    val before = c.currentManifest().shards.map(e => e.prefix -> e.file).toMap
    assert(before.keySet == Set("a=0", "a=1", "a=2"))

    // touch ONE partition in subtree a=1
    c.insert(Seq((1L, 0L, 9L, 9.0)).toDF("a", "b", "seq", "v"), MergeStrategy.Concat)
    val after = c.currentManifest().shards.map(e => e.prefix -> e.file).toMap
    assert(after("a=0") == before("a=0"), "untouched shard must carry over by name")
    assert(after("a=2") == before("a=2"))
    assert(after("a=1") != before("a=1"), "touched shard must re-address")

    // metadata-only commits (schema evolution) touch no shard at all
    c.addVariable("w", org.apache.spark.sql.types.DoubleType, fill = Some("0.0"))
    val evolved = c.currentManifest().shards.map(e => e.prefix -> e.file).toMap
    assert(evolved == after)

    // time travel still reads the first snapshot exactly (old shards live)
    assert(c.snapshotAt(g1).count() == 4)

    // dropping a subtree's partitions removes its entries; others carry over
    c.dropPartitions("a == 2")
    val dropped = c.currentManifest().shards.map(e => e.prefix -> e.file).toMap
    assert(!dropped.contains("a=2") && dropped("a=0") == before("a=0"))
  }

  test("legacy inline-files manifests (pre-shard format) still read") {
    val root = SparkTestSession.tmp("graft-legacy-man")
    val df = Seq((0L, 1L, 1.0), (1L, 2L, 2.0)).toDF("a", "seq", "v")
    val c = Collection.create(spark, root, df.schema, "seq",
      SequencePartitioning(Seq("a"), "seq"))
    c.insert(df)
    val man = c.currentManifest()
    // hand-write the NEXT generation in the old single-JSON shape
    val doc = new java.util.LinkedHashMap[String, Object]()
    doc.put("generation", java.lang.Long.valueOf(man.generation + 1))
    doc.put("taskBase", java.lang.Long.valueOf(man.taskBase))
    doc.put("schema", c.schema.toDDL)
    doc.put("fills", new java.util.LinkedHashMap[String, Object]())
    doc.put("files", new java.util.ArrayList[Object](
      scala.jdk.CollectionConverters.SeqHasAsJava(man.files.map(_.asInstanceOf[Object])).asJava))
    val fs = Collection.fileSystem(spark, root)
    Collection.writeJson(fs, new org.apache.hadoop.fs.Path(
      f"$root/${Collection.ManifestDir}/manifest-${man.generation + 1}%012d.json"), doc)
    val c2 = Collection.open(spark, root, readOnly = true)
    assert(c2.generation == man.generation + 1)
    assert(c2.query().count() == 2)
    assert(c2.partitions() == Seq("a=0", "a=1"))
    assert(c2.query("a == 1").count() == 1) // pruned path over inline shards
  }

  test("commits over a legacy inline-files manifest materialize carried-over shards") {
    val root = SparkTestSession.tmp("graft-legacy-commit")
    val df = Seq((0L, 1L, 1.0), (1L, 2L, 2.0), (2L, 3L, 3.0)).toDF("a", "seq", "v")
    val c = Collection.create(spark, root, df.schema, "seq",
      SequencePartitioning(Seq("a"), "seq"))
    c.insert(df)
    val man = c.currentManifest()
    // rewrite the NEXT generation in the old single-JSON shape (no shard
    // files exist on disk for it — the lists are inline)
    val doc = new java.util.LinkedHashMap[String, Object]()
    doc.put("generation", java.lang.Long.valueOf(man.generation + 1))
    doc.put("taskBase", java.lang.Long.valueOf(man.taskBase))
    doc.put("schema", c.schema.toDDL)
    doc.put("fills", new java.util.LinkedHashMap[String, Object]())
    doc.put("files", new java.util.ArrayList[Object](
      scala.jdk.CollectionConverters.SeqHasAsJava(man.files.map(_.asInstanceOf[Object])).asJava))
    val fs = Collection.fileSystem(spark, root)
    Collection.writeJson(fs, new org.apache.hadoop.fs.Path(
      f"$root/${Collection.ManifestDir}/manifest-${man.generation + 1}%012d.json"), doc)

    // a WRITABLE handle commits on top of the legacy snapshot, touching
    // only subtree a=1 — a=0 and a=2 carry over by (synthetic) name
    val w = Collection.open(spark, root)
    w.insert(Seq((1L, 9L, 9.0)).toDF("a", "seq", "v"), MergeStrategy.Concat)
    // same handle: rebuilt subtree resolves through the disk fallback,
    // carried-over subtrees through the in-memory inline lists
    assert(w.query().count() == 4)
    assert(w.query("a == 1").count() == 2)

    // a FRESH handle knows nothing of the inline lists: every shard the
    // new root references — including the carried-over a=0 / a=2 —
    // must exist as a real file
    val c2 = Collection.open(spark, root, readOnly = true)
    assert(c2.generation == man.generation + 2)
    assert(c2.query().count() == 4, "carried-over legacy shard unresolvable from a fresh handle")
    assert(c2.query("a == 0").count() == 1)
    assert(c2.query("a == 2").count() == 1)
  }

  test("vacuum grace window protects a concurrent writer's in-flight files") {
    val root = SparkTestSession.tmp("graft-vac-grace")
    val df = Seq((0L, 1L, 1.0)).toDF("a", "seq", "v")
    val c = Collection.create(spark, root, df.schema, "seq",
      SequencePartitioning(Seq("a"), "seq"))
    c.insert(df)
    // another writer mid-commit: data + shard files written, root rename
    // not yet executed (a crash at the publish stops exactly there)
    CrashAtPublish(root)(c.insert(Seq((5L, 7L, 7.0)).toDF("a", "seq", "v")))
    val fs = Collection.fileSystem(spark, root)
    def orphans(): Seq[org.apache.hadoop.fs.Path] = {
      val live = c.currentManifest().files.toSet
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(root), true)
      val buf = Seq.newBuilder[org.apache.hadoop.fs.Path]
      while (it.hasNext) {
        val st = it.next()
        val rel = st.getPath.toString.stripPrefix(fs.makeQualified(
          new org.apache.hadoop.fs.Path(root)).toString).stripPrefix("/")
        if (Collection.isDataFile(st.getPath.getName) && !live.contains(rel))
          buf += st.getPath
      }
      buf.result()
    }
    val inFlight = orphans()
    assert(inFlight.nonEmpty)

    // default grace: fresh unreferenced files are presumed in-flight
    assert(c.vacuum().isEmpty, "vacuum deleted a file inside the grace window")
    assert(inFlight.forall(fs.exists))

    // age the files past the window (newest root must also be newer than
    // them, which it is — it was committed after nothing)
    val old = System.currentTimeMillis() - Collection.DefaultVacuumGraceMs - 60000L
    inFlight.foreach(p => fs.setTimes(p, old, -1))
    assert(c.vacuum().nonEmpty, "aged orphans must be reclaimed")
    assert(inFlight.forall(p => !fs.exists(p)))
    assert(c.query().count() == 1)
  }

  test("vacuum reclaims shard files no committed root references") {
    val root = SparkTestSession.tmp("graft-shard-vac")
    val df = Seq((0L, 1L, 1.0)).toDF("a", "seq", "v")
    val c = Collection.create(spark, root, df.schema, "seq",
      SequencePartitioning(Seq("a"), "seq"))
    c.insert(df)
    // plant an orphan shard (a commit that died before its root rename)
    val fs = Collection.fileSystem(spark, root)
    val orphan = new org.apache.hadoop.fs.Path(
      s"$root/${Collection.ManifestDir}/${Collection.ShardDir}/shard-deadbeef.json")
    Collection.writeJson(fs, orphan, new java.util.LinkedHashMap[String, Object]())
    assert(fs.exists(orphan))
    c.vacuum(graceMs = 0)
    assert(!fs.exists(orphan), "unreferenced shard file must be vacuumed")
    // referenced shards survive and the collection still reads
    assert(c.query().count() == 1)
  }
}
