package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Round-5 skip layers beyond the axis zone maps:
  *
  *  - multi-column zone maps: declared HOT data columns record per-file
  *    footer [min,max] in the shard stats; equality/range filters on
  *    them skip files before scheduling (Iceberg column-metrics shape);
  *  - bloom-filter skipping: declared columns write parquet footer
  *    bloom filters; equality/IN predicates drop files whose blooms
  *    prove every pinned value absent — the case zone maps can't catch
  *    (uniformly spread high-cardinality values);
  *  - streaming pushdown: the graft source's `filters` option prunes
  *    each micro-batch's manifest-diff file set the same three ways;
  *  - size-triggered auto-compaction: touched partitions exceeding the
  *    configured file count are rewritten in a follow-up atomic commit.
  */
class ColumnSkipSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Rows with user ids correlated to the axis hour, so each Concat
    * insert lands in files with a tight, disjoint user_id range. */
  private def mkUsers(rows: Seq[(Long, String, Long, Double)]) = rows
    .toDF("id", "ts", "user_id", "v").withColumn("ts", col("ts").cast("timestamp"))

  test("multi-column zone maps: a user_id filter skips files by recorded data-column stats") {
    val root = SparkTestSession.tmp("graft-colzone")
    val b1 = mkUsers((0L until 50L).map(i => (i, "2024-01-01 08:00:00", i, 1.0)))
    val c = Collection.create(spark, root, b1.schema, "ts",
      DatePartitioning("ts", "D"), statsColumns = Seq("user_id", "v"))
    c.insert(b1, MergeStrategy.Concat)                                            // ids 0-49
    c.insert(mkUsers((100L until 150L).map(i => (i, "2024-01-01 12:00:00", i, 2.0))),
      MergeStrategy.Concat)                                                       // ids 100-149
    c.insert(mkUsers((200L until 250L).map(i => (i, "2024-01-01 16:00:00", i, 3.0))),
      MergeStrategy.Concat)                                                       // ids 200-249

    val man = c.currentManifest()
    val stats = man.statsForFiles(man.files)
    assert(stats.size == man.files.size, "every file must carry zone maps")
    assert(stats.values.forall(_.contains("user_id")),
      "declared stats column must be recorded alongside the axis")
    def expect(lo: Long, hi: Long): Int = stats.count { case (_, byCol) =>
      val st = byCol("user_id"); st.lo.toLong <= hi && st.hi.toLong >= lo
    }

    // equality: exactly the files whose user_id interval covers 120
    val q = c.query("user_id == 120")
    assert(q.inputFiles.length == expect(120, 120),
      s"want ${expect(120, 120)} files, scanned ${q.inputFiles.length}")
    assert(q.inputFiles.length < man.files.size, "nothing was pruned")
    assert(q.select("id").collect().map(_.getLong(0)).toSeq == Seq(120L))

    // range: spans two of the three inserts
    val qr = c.query("user_id >= 140 and user_id < 220")
    assert(qr.inputFiles.length == expect(140, 219))
    assert(qr.inputFiles.length < man.files.size)
    assert(qr.count() == 30) // 140-149 and 200-219

    // composing with an axis filter intersects per-column intervals
    val qa = c.query("ts >= '2024-01-01 15:00:00' and user_id >= 100")
    assert(qa.count() == 50) // only the 16:00 insert
    assert(qa.inputFiles.length < man.files.size)

    // correctness: pruned result == full scan + same predicate
    val all = c.query().where(col("user_id") >= 140 && col("user_id") < 220)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(qr.select("id").collect().map(_.getLong(0)).sorted.toSeq == all)

    // fractional literals prune DOUBLE stats columns (v = 1.0/2.0/3.0
    // per insert; 2.5 falls between the second and third)
    val qv = c.query("v >= 2.5")
    assert(qv.count() == 50)
    assert(qv.inputFiles.length < man.files.size, "v stats must prune")

    // time travel prunes with the SNAPSHOT's own stats
    val qs = c.snapshotAt(c.generation, "user_id == 120")
    assert(qs.inputFiles.length == expect(120, 120),
      s"snapshot read must prune files, scanned ${qs.inputFiles.length}")
    assert(qs.select("id").collect().map(_.getLong(0)).toSeq == Seq(120L))

    // the dry-run report mirrors what the real scan did
    val rep = c.explainPruning("user_id == 120")
    assert(rep.filesAfterBloom == q.inputFiles.length, rep.toString)
    assert(rep.filesAfterStats < rep.filesListed, rep.toString)
    val repAll = c.explainPruning()
    assert(repAll.filesAfterBloom == man.files.size)
  }

  test("legacy axis-only shard stats parse under the sentinel and still prune the axis") {
    val root = SparkTestSession.tmp("graft-legacy-shard")
    val fs = Collection.fileSystem(spark, root)
    val dir = new Path(root)
    // hand-write the pre-multi-column shape: "stats": {file: [lo, hi]}
    val doc = new java.util.LinkedHashMap[String, Object]()
    val files = new java.util.ArrayList[Object](); files.add("a=1/part-0.parquet")
    doc.put("files", files)
    val sm = new java.util.LinkedHashMap[String, Object]()
    val iv = new java.util.ArrayList[Object](); iv.add("10"); iv.add("20")
    sm.put("a=1/part-0.parquet", iv)
    doc.put("stats", sm)
    Collection.writeJson(fs, new Path(dir, "legacy-shard.json"), doc)

    val sd = Collection.readShard(fs, dir, "legacy-shard.json")
    assert(sd.files == Seq("a=1/part-0.parquet"))
    assert(sd.stats("a=1/part-0.parquet") ==
      Map(Collection.LegacyAxisKey -> Collection.ColStat("10", "20")),
      "legacy single-interval stats must surface under the axis sentinel")
  }

  test("bloom skipping: equality and IN drop files whose blooms prove the values absent") {
    val root = SparkTestSession.tmp("graft-bloom")
    // values SPREAD across the full range in every insert: zone maps on
    // user_id would keep everything — only the bloom can discriminate
    val mod = (r: Long, n: Long) => (0L until n).map(i => i * 3 + r)
    val b1 = mkUsers(mod(0, 200).map(u => (u, "2024-01-01 08:00:00", u, 1.0)))
    val c = Collection.create(spark, root, b1.schema, "ts",
      DatePartitioning("ts", "D"), bloomColumns = Seq("user_id"),
      bloomNdv = Map("user_id" -> 1000L))
    assert(Collection.open(spark, root).bloomNdv == Map("user_id" -> 1000L),
      "expected-NDV sizing must round-trip through the config")
    intercept[IllegalArgumentException](Collection.create(spark, root + "-bad",
      b1.schema, "ts", DatePartitioning("ts", "D"), bloomNdv = Map("v" -> 10L)))
    c.insert(b1, MergeStrategy.Concat)                                      // u ≡ 0 (mod 3)
    c.insert(mkUsers(mod(1, 200).map(u => (u, "2024-01-01 12:00:00", u, 2.0))),
      MergeStrategy.Concat)                                                 // u ≡ 1 (mod 3)
    c.insert(mkUsers(mod(2, 200).map(u => (u, "2024-01-01 16:00:00", u, 3.0))),
      MergeStrategy.Concat)                                                 // u ≡ 2 (mod 3)
    val total = c.currentManifest().files.size

    // 300 ≡ 0 (mod 3): only the first insert's files may survive
    val q = c.query("user_id == 300")
    assert(q.inputFiles.length < total,
      s"bloom should prune: scanned ${q.inputFiles.length}/$total files")
    assert(q.select("id").collect().map(_.getLong(0)).toSeq == Seq(300L))

    // IN keeps a file iff it may contain ANY of the pinned values
    val qi = c.query("user_id in (301, 302)") // ≡ 1 and ≡ 2 (mod 3)
    assert(qi.inputFiles.length < total)
    assert(qi.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(301L, 302L))

    // a value present nowhere: every file is bloom-provably absent
    val q0 = c.query("user_id == 599") // 599 ≡ 2 — in range of insert 3? max is 2+199*3=599
    assert(q0.count() == 1)
    val qq = c.query("user_id == 601") // beyond every insert
    assert(qq.count() == 0)

    // correctness under OR (both branches pin -> union of value sets)
    val qo = c.query("user_id == 300 or user_id == 301")
    assert(qo.count() == 2)
    // a non-pinning disjunct disables bloom pruning but not correctness
    val qn = c.query("user_id == 300 or v >= 3")
    assert(qn.count() == 1 + 200)

    // bitset cache: a repeated point lookup answers every bloom check
    // from the per-file bitsets cached by the lookups above — ZERO new
    // footer opens — and still scans the same files with the same result
    def ids(q: org.apache.spark.sql.DataFrame) =
      q.select("id").collect().map(_.getLong(0)).sorted.toSeq
    val before = Collection.bloomFooterOpens.get()
    val qr = c.query("user_id == 300")
    assert(ids(qr) == Seq(300L))
    assert(qr.inputFiles.sorted.toSeq == q.inputFiles.sorted.toSeq)
    assert(Collection.bloomFooterOpens.get() == before,
      s"repeated lookup re-opened ${Collection.bloomFooterOpens.get() - before} footers")
    // a NEW value over files already probed hashes against the cached
    // bitsets: still zero opens
    assert(ids(c.query("user_id == 303")) == Seq(303L))
    assert(ids(c.query("user_id in (304, 602)")) == Seq(304L))
    assert(Collection.bloomFooterOpens.get() == before,
      "a new value over probed files must not re-read their footers")
    // the cache is per file, not per handle: a fresh open opens zero too
    val fresh = Collection.open(spark, root)
    assert(ids(fresh.query("user_id == 305")) == Seq(305L))
    assert(Collection.bloomFooterOpens.get() == before,
      "a fresh handle over probed files must not re-read their footers")
    // compaction writes NEW files: the next lookup opens exactly those
    val filesBefore = c.currentManifest().files.toSet
    c.compact()
    val rewritten = c.currentManifest().files.toSet -- filesBefore
    assert(rewritten.nonEmpty, "compaction must rewrite the fragmented day")
    val beforeCompacted = Collection.bloomFooterOpens.get()
    assert(ids(c.query("user_id == 306")) == Seq(306L))
    assert(Collection.bloomFooterOpens.get() - beforeCompacted == rewritten.size,
      s"want ${rewritten.size} opens (the rewritten files), got " +
        s"${Collection.bloomFooterOpens.get() - beforeCompacted}")

    // soundness inputs, each of which must KEEP the file:
    //  (1) a bloom column absent from some files' row groups: `tag` is
    //      dropped, a day is written without it, and addVariable brings
    //      it back — that day's files hold no chunk to prove anything;
    //  (2) a literal that does not hash into the physical type:
    //      3000000000 fits no INT32, so no `bucket` bloom can refute it.
    val sroot = SparkTestSession.tmp("graft-bloom-sound")
    def tagged(day: Int, lo: Long) = (lo until lo + 30L)
      .map(i => (i, f"2024-01-$day%02d 08:00:00", i.toInt, s"t$i"))
      .toDF("id", "ts", "bucket", "tag").withColumn("ts", col("ts").cast("timestamp"))
    val t = Collection.create(spark, sroot, tagged(1, 0L).schema, "ts",
      DatePartitioning("ts", "D"), bloomColumns = Seq("bucket", "tag"),
      bloomNdv = Map("bucket" -> 100L, "tag" -> 100L))
    t.insert(tagged(1, 0L), MergeStrategy.Concat)
    t.dropVariable("tag")
    val day1 = t.currentManifest().files.toSet
    t.insert(tagged(2, 100L).drop("tag"), MergeStrategy.Concat)
    val untagged = t.currentManifest().files.toSet -- day1
    t.addVariable("tag", org.apache.spark.sql.types.StringType)
    t.insert(tagged(3, 200L), MergeStrategy.Concat)
    val all = t.currentManifest().files.toSet
    def scanned(q: org.apache.spark.sql.DataFrame) =
      q.inputFiles.map(f => all.find(rel => f.endsWith(rel)).get).toSet
    val qt = t.query("tag == 't205'")
    assert(ids(qt) == Seq(205L))
    assert(untagged.subsetOf(scanned(qt)),
      s"files without the column must be kept: ${untagged -- scanned(qt)}")
    assert((day1 -- scanned(qt)).nonEmpty, "day 1's tag blooms must still prune")
    // `bucket` is the INT32 id (distinct values, so parquet writes
    // plain pages and a bloom): 50 is refuted everywhere, 3000000000
    // nowhere. The bloom layer's verdict is read from explainPruning:
    // Spark itself folds an out-of-range INT comparison to false, so
    // the scan's own file list would hide it.
    def afterBloom(f: String) = t.explainPruning(f).filesAfterBloom
    assert(afterBloom("bucket == 50") == 0 && ids(t.query("bucket == 50")).isEmpty)
    for (f <- Seq("bucket == 3000000000", "bucket in (50, 3000000000)")) {
      assert(afterBloom(f) == all.size, f)
      assert(ids(t.query(f)).isEmpty, f)
    }
    assert(afterBloom("bucket in (3, 3000000000)") == all.size)
    assert(ids(t.query("bucket in (3, 3000000000)")) == Seq(3L))
  }

  test("concurrent bloom lookups match plain Spark on the driver and the Spark-job paths") {
    // 8 threads, distinct values, half present and half absent, against
    // one shared handle; the blooms are uncached when the threads start
    def check(days: Int, label: String): Unit = {
      val rows = (0 until days * 10).map { i =>
        val ts = java.time.LocalDate.of(2024, 1, 1).plusDays(i / 10) + " 08:00:00"
        (i.toLong, ts, i * 7L, 1.0)
      }
      val src = mkUsers(rows)
      val root = SparkTestSession.tmp(s"graft-bloom-conc-$label")
      val c = Collection.create(spark, root, src.schema, "ts",
        DatePartitioning("ts", "D"), bloomColumns = Seq("user_id"),
        bloomNdv = Map("user_id" -> 100L))
      c.insert(src, MergeStrategy.Concat)
      val files = c.currentManifest().files.size
      assert(if (days > 64) files > 64 else files <= 64, s"$label: $files files")
      // thread t: present p (some row's user_id), absent p + 3
      val lookups = (0 until 8).map { t =>
        val p = ((t * 37 + 5) % (days * 10)) * 7L
        if (t % 2 == 0) Seq(s"user_id == $p", s"user_id == ${p + 3}")
        else Seq(s"user_id in ($p, ${p + 3})", s"user_id in (${p + 3}, ${p + 10 * days * 7})")
      }
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      val start = new java.util.concurrent.CountDownLatch(1)
      try {
        val futures = lookups.map(fs => pool.submit(new java.util.concurrent.Callable[Seq[Seq[Long]]] {
          def call(): Seq[Seq[Long]] = {
            start.await()
            fs.map(f => c.query(f).select("id").collect().map(_.getLong(0)).sorted.toSeq)
          }
        }))
        start.countDown()
        lookups.zip(futures).foreach { case (fs, fut) =>
          val got = fut.get(300, java.util.concurrent.TimeUnit.SECONDS)
          fs.zip(got).foreach { case (f, g) =>
            val want = src.where(f).select("id").collect().map(_.getLong(0)).sorted.toSeq
            assert(g == want, s"$label: $f gave $g, plain Spark $want")
          }
        }
      } finally pool.shutdownNow()
      // every absent value is refuted by the blooms
      assert(c.query(lookups.head(1)).inputFiles.length < files)
    }
    check(days = 12, "driver")
    check(days = 70, "job")
  }

  test("is null / is not null: zero-null files prune for IS NULL; negations stay sound") {
    val root = SparkTestSession.tmp("graft-nullzone")
    def mk(rows: Seq[(Long, String, Option[Long], Double)]) = rows
      .toDF("id", "ts", "user_id", "v").withColumn("ts", col("ts").cast("timestamp"))
    val dense = mk((0L until 50L).map(i => (i, "2024-01-01 08:00:00", Some(i), 1.0)))
    val c = Collection.create(spark, root, dense.schema, "ts",
      DatePartitioning("ts", "D"), statsColumns = Seq("user_id"))
    c.insert(dense, MergeStrategy.Concat) // zero nulls
    c.insert(mk((100L until 150L).map(i =>
      (i, "2024-01-01 12:00:00", if (i % 2 == 0) None else Some(i), 2.0))),
      MergeStrategy.Concat)               // half null
    val man = c.currentManifest()
    val stats = man.statsForFiles(man.files)
    assert(stats.values.forall(_.get("user_id").exists(_.nulls.isDefined)),
      "null counts must be recorded with the zone maps")
    val zeroNullFiles = stats.count(_._2("user_id").nulls.contains(0L))
    assert(zeroNullFiles > 0, "the dense batch must record zero nulls")

    // IS NULL skips every zero-null file before scheduling
    val q = c.query("user_id is null")
    assert(q.inputFiles.length == man.files.size - zeroNullFiles,
      s"want ${man.files.size - zeroNullFiles} files, scanned ${q.inputFiles.length}")
    assert(q.count() == 25)

    // negation must NOT prune files that contain nulls ('not (user_id is
    // not null)' == 'user_id is null' — the Some(true) soundness trap)
    val qn = c.query("not (user_id is not null)")
    assert(qn.count() == 25)
    assert(qn.inputFiles.length == q.inputFiles.length)

    // IS NOT NULL keeps everything (every file has non-null rows) but
    // composes with intervals: the range kills the dense batch's files
    val qr = c.query("user_id is not null and user_id >= 100")
    assert(qr.count() == 25)
    assert(qr.inputFiles.length < man.files.size)

    // driver-side partition eval and Catalyst agree through query()
    val all = c.query().where(col("user_id").isNull)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(q.select("id").collect().map(_.getLong(0)).sorted.toSeq == all)
  }

  test("root rollup: axis filters skip whole subtrees with NO shard IO on non-monotonic partitionings") {
    val root = SparkTestSession.tmp("graft-rollup")
    // two-level identity partitioning (a/b): no monotonic axis
    // derivation exists, so before the rollup an axis filter had to load
    // EVERY shard to enumerate candidate files
    val df = Seq((1L, 1L, 1L, 1.0)).toDF("a", "b", "seq", "v")
    val c = Collection.create(spark, root, df.schema, "seq",
      SequencePartitioning(Seq("a", "b"), "seq"))
    def batch(a: Long, lo: Long) =
      (lo until lo + 60L).map(i => (a, i % 3, i, i.toDouble)).toDF("a", "b", "seq", "v")
    c.insert(batch(1, 0), MergeStrategy.Concat)      // subtree a=1: seq 0-59
    c.insert(batch(2, 1000), MergeStrategy.Concat)   // subtree a=2: seq 1000-1059

    val c2 = Collection.open(spark, root, readOnly = true)
    val man = c2.currentManifest()
    assert(man.shards.size == 2)
    assert(man.shards.forall(_.rollup.contains("seq")),
      "every rebuilt subtree must carry an axis rollup")
    assert(man.loadedShardCount == 0)

    val q = c2.query("seq >= 1000")
    assert(q.select("a").distinct().collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(man.loadedShardCount == 1,
      s"rollup must keep subtree a=1 unloaded, loaded ${man.loadedShardCount}")

    // rollup survives rebuilds (upsert rewrites the touched subtree)
    c.insert(Seq((2L, 0L, 1005L, 0.0)).toDF("a", "b", "seq", "v"), MergeStrategy.Upsert())
    val man2 = Collection.open(spark, root, readOnly = true).currentManifest()
    assert(man2.shards.forall(_.rollup.contains("seq")))
    assert(c.query("seq == 1005").select("v").collect().map(_.getDouble(0)).toSeq == Seq(0.0))
  }

  test("countRows: metadata-only counts — O(root) unfiltered, matching shards for key filters") {
    val root = SparkTestSession.tmp("graft-count")
    val mk = (day: Int, n: Int, base: Long) => mkUsers(
      (0 until n).map(i => (base + i, f"2024-01-$day%02d 10:00:00", base + i, 1.0)))
    val c = Collection.create(spark, root, mk(1, 1, 0).schema, "ts",
      DatePartitioning("ts", "D"))
    c.insert(mk(1, 30, 0), MergeStrategy.Concat)
    c.insert(mk(15, 70, 100), MergeStrategy.Concat)
    c.insert(mk(15, 5, 500), MergeStrategy.Concat)

    val c2 = Collection.open(spark, root, readOnly = true)
    val man = c2.currentManifest()
    assert(man.loadedShardCount == 0)
    assert(c2.countRows() == 105L)
    assert(man.loadedShardCount == 0, "unfiltered count must be root-only")
    assert(c2.countRows("day == 15") == 75L)
    assert(c2.countRows("day == 15") == c2.query("day == 15").count())
    // a data-column filter falls back to a (pruned) scan — still exact
    assert(c2.countRows("ts >= '2024-01-10 00:00:00'") == 75L)
    assert(c2.countRows("user_id >= 100") == 75L)
  }

  test("columnBounds + backfillStats: metadata bounds, and the legacy-tree upgrade path") {
    val root = SparkTestSession.tmp("graft-backfill")
    val b = mkUsers((0L until 40L).map(i => (i, f"2024-01-${1 + (i % 2) * 10}%02d 10:00:00", i, 1.0)))
    val c = Collection.create(spark, root, b.schema, "ts",
      DatePartitioning("ts", "D"), statsColumns = Seq("user_id"))
    c.insert(b)

    // metadata bounds: unfiltered from rollups, filtered from shard stats
    assert(c.columnBounds("user_id").contains((0L, 39L)))
    assert(c.columnBounds("user_id", "day == 1").exists {
      case (lo: Long, hi: Long) => lo == 0L && hi == 38L })
    assert(c.columnBounds("v").isEmpty, "non-stats columns answer None")
    assert(c.columnBounds("user_id", "user_id >= 3").isEmpty,
      "data-column filters are not partition-decidable")

    // wipe the stats by rebuilding the manifest from disk (repairCatalog
    // adopts files with NO stats — the legacy shape)
    c.repairCatalog()
    val bare = c.currentManifest()
    assert(bare.statsForFiles(bare.files).isEmpty, "repair must start statless")
    assert(c.columnBounds("user_id").isEmpty)

    // backfill: footer reads only, one metadata commit, everything returns
    val n = c.backfillStats()
    assert(n == bare.files.size, s"all $n files backfilled")
    assert(c.columnBounds("user_id").contains((0L, 39L)))
    assert(c.countRows() == 40L)
    val man = c.currentManifest()
    assert(man.statsForFiles(man.files).size == man.files.size)
    assert(c.backfillStats() == 0, "second backfill is a no-op")
    // and the data never moved
    assert(c.query().count() == 40L)
  }

  test("backfillStats preserves per-file commit generations (schema-generation pruning survives)") {
    val root = SparkTestSession.tmp("graft-backfill-gens")
    val b = mkUsers((0L until 20L).map(i => (i, "2024-01-01 10:00:00", i, 1.0)))
    val c = Collection.create(spark, root, b.schema, "ts", DatePartitioning("ts", "D"))
    c.insert(b, MergeStrategy.Concat)
    val man = c.currentManifest()
    val gensBefore = man.gensForFiles(man.files)
    assert(gensBefore.size == man.files.size, "inserts must record commit generations")

    // simulate a stats-less shard era that still carries gens: rewrite
    // every shard without stats/rows, keeping the gens map
    val fs = Collection.fileSystem(spark, root)
    val mdir = new Path(s"$root/${Collection.ManifestDir}")
    val stripped = man.shards.map { e =>
      val d = man.shardData(e)
      val name = Collection.shardName(d.files, Map.empty, Map.empty, d.gens)
      Collection.writeShardIfAbsent(fs, mdir, name, d.files,
        Map.empty, Map.empty, d.gens)
      e.copy(file = name, rollup = Map.empty, rowTotal = None)
    }
    Collection.writeManifest(fs, mdir,
      man.withShards(man.taskBase, stripped).stamped(man.generation + 1, None))

    val c2 = Collection.open(spark, root)
    assert(c2.backfillStats() == man.files.size, "all files need backfill")
    val after = c2.currentManifest()
    assert(after.statsForFiles(after.files).size == after.files.size)
    assert(after.gensForFiles(after.files) == gensBefore,
      "backfill must carry the gens map through the shard rebuild")
  }

  test("schema-generation pruning: files predating addVariable skip for filters on the new column") {
    val root = SparkTestSession.tmp("graft-schemagen")
    val old = mkUsers((0L until 20L).map(i => (i, "2024-01-01 10:00:00", i, 1.0)))
    val c = Collection.create(spark, root, old.schema, "ts", DatePartitioning("ts", "D"))
    c.insert(old, MergeStrategy.Concat)        // generation 1: no 'w' yet
    c.addVariable("w", org.apache.spark.sql.types.LongType) // generation 2
    val withW = mkUsers((100L until 120L).map(i => (i, "2024-01-01 14:00:00", i, 2.0)))
      .withColumn("w", col("id") * 10)
    c.insert(withW, MergeStrategy.Concat)      // generation 3: carries w
    val man = c.currentManifest()
    val total = man.files.size

    // comparisons on w can't match pre-evolution files: they never load
    val q = c.query("w >= 1000")
    assert(q.inputFiles.length < total,
      s"schema-generation pruning must skip old files, scanned ${q.inputFiles.length}/$total")
    assert(q.count() == 20)
    // 'w is not null' likewise; 'w is null' keeps the old files
    assert(c.query("w is not null").inputFiles.length < total)
    assert(c.query("w is not null").count() == 20)
    assert(c.query("w is null").count() == 20)
    // negation stays sound: NOT(w == 5) is NULL on old files — not matched
    assert(c.query("not (w == 1050)").count() == 19)
    // composing with row-dependent predicates still prunes
    val qc = c.query("w >= 1000 and day == 1")
    assert(qc.inputFiles.length < total && qc.count() == 20)

    // a FILL makes old rows read as the fill value — pruning must NOT apply
    c.addVariable("z", org.apache.spark.sql.types.LongType, fill = Some("7"))
    assert(c.query("z == 7").count() == 40, "fill-backed column reads the fill everywhere")

    // correctness: pruned == unpruned with the same predicate
    val all = c.query().where(col("w") >= 1000)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(q.select("id").collect().map(_.getLong(0)).sorted.toSeq == all)
  }

  test("schema-generation pruning stays sound after dropVariable + addVariable of the same name") {
    val root = SparkTestSession.tmp("graft-schemagen-readd")
    val base = mkUsers((0L until 10L).map(i => (i, "2024-01-01 10:00:00", i, 1.0)))
    val c = Collection.create(spark, root, base.schema, "ts", DatePartitioning("ts", "D"))
    c.insert(base, MergeStrategy.Concat)
    // add w, write files that PHYSICALLY carry w values, then drop it
    c.addVariable("w", org.apache.spark.sql.types.LongType)
    c.insert(mkUsers((100L until 110L).map(i => (i, "2024-01-02 10:00:00", i, 2.0)))
      .withColumn("w", col("id") * 10), MergeStrategy.Concat)
    c.dropVariable("w")
    assert(!c.query().columns.contains("w"))
    // re-add the SAME name: dropVariable rewrote no files, so the middle
    // insert's files still hold the old values and a by-name read
    // surfaces them — the all-null proof must NOT apply to this column
    c.addVariable("w", org.apache.spark.sql.types.LongType)
    assert(!c.currentManifest().columnSince.contains("w"),
      "re-added dropped name must not regain a columnSince entry")
    val pruned = c.query("w == 1050").select("id").collect().map(_.getLong(0)).toSeq
    val full = c.query().where(col("w") === 1050)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(pruned == full, s"pruned=$pruned full=$full")
    assert(pruned == Seq(105L), "old physical values must resurface, not be skipped")
    // the conservatism is permanent: survives reopen and a further cycle
    val c2 = Collection.open(spark, root)
    assert(c2.query("w == 1050").count() == 1)
    c2.dropVariable("w"); c2.addVariable("w", org.apache.spark.sql.types.LongType)
    assert(!c2.currentManifest().columnSince.contains("w"))
    assert(c2.query("w == 1050").count() == 1)
    // an UNRELATED fresh name still earns generation pruning
    c2.addVariable("w2", org.apache.spark.sql.types.LongType)
    assert(c2.currentManifest().columnSince.contains("w2"))
  }

  test("compactPlan fills a byte budget most-fragmented-first; compactPartitions rewrites exactly the plan") {
    val root = SparkTestSession.tmp("graft-compactplan")
    val mk = (day: Int, id: Long) =>
      mkUsers(Seq((id, f"2024-01-$day%02d 10:00:00", id, 1.0)))
    val c = Collection.create(spark, root, mk(1, 0L).schema, "ts",
      DatePartitioning("ts", "D"))
    // day 1: 4 files, day 2: 3 files, day 3: 1 file
    (0L until 4L).foreach(i => c.insert(mk(1, i), MergeStrategy.Concat))
    (10L until 13L).foreach(i => c.insert(mk(2, i), MergeStrategy.Concat))
    c.insert(mk(3, 20L), MergeStrategy.Concat)
    val fs = Collection.fileSystem(spark, root)
    val man = c.currentManifest()
    def bytesOf(p: String): Long = man.filesForPartitions(Set(p))
      .map(f => fs.getFileStatus(new Path(s"$root/$f")).getLen).sum
    val (d1, d2) = ("year=2024/month=1/day=1", "year=2024/month=1/day=2")
    assert(man.filesForPartitions(Set(d1)).size == 4)

    // budget fits only the worst offender
    assert(c.compactPlan(bytesOf(d1)) == Seq(d1))
    // bigger budget adds the runner-up; the single-file partition never ranks
    assert(c.compactPlan(bytesOf(d1) + bytesOf(d2)) == Seq(d1, d2))
    // the greedy pass SKIPS a too-big head and still takes a fitting tail
    assert(c.compactPlan(bytesOf(d2)) == Seq(d2))
    // a budget below every candidate chooses nothing
    assert(c.compactPlan(10L) == Nil)

    // coldestFirst: a FRESHER, more fragmented partition leads the
    // default ranking but yields to older partitions in a maintenance
    // window (axis-max ascending from the shard zone maps)
    val d4 = "year=2024/month=1/day=4"
    (30L until 35L).foreach(i => c.insert(mk(4, i), MergeStrategy.Concat))
    val man3 = c.currentManifest()
    def bytes3(p: String): Long = man3.filesForPartitions(Set(p))
      .map(f => fs.getFileStatus(new Path(s"$root/$f")).getLen).sum
    val big = bytes3(d1) + bytes3(d2) + bytes3(d4)
    assert(c.compactPlan(big) == Seq(d4, d1, d2), "default: most fragmented first")
    assert(c.compactPlan(big, coldestFirst = true) == Seq(d1, d2, d4),
      "coldestFirst: oldest axis max first, the hot fresh partition last")

    // execute: exactly the planned partition rewrites, content preserved
    val before = c.query().orderBy("id").collect().toSeq
    val done = c.compactPartitions(Seq(d1, "year=2024/month=1/day=99"))
    assert(done == Seq(d1), "unknown paths are ignored")
    val man2 = c.currentManifest()
    assert(man2.filesForPartitions(Set(d1)).size < 4, "day 1 must be rewritten")
    assert(man2.filesForPartitions(Set(d2)).toSet ==
      man.filesForPartitions(Set(d2)).toSet, "unplanned partitions untouched")
    assert(man2.rewrites == Set(d1), "budgeted compaction marks its commit")
    assert(c.query().orderBy("id").collect().toSeq == before, "content must not change")
  }

  test("z-ordered compaction: per-file zone maps tighten in BOTH clustered dimensions at once") {
    val root = SparkTestSession.tmp("graft-zorder")
    // 8 fragmented inserts, EACH spanning the full user_id and v domains
    // (decorrelated) — pre-compaction no single-column filter skips
    val mk = (r: Long) => mkUsers((0L until 128L).map { i =>
      val u = i * 8 + r
      (u, "2024-01-01 10:00:00", u, ((u * 7919) % 1024).toDouble)
    })
    val c = Collection.create(spark, root, mk(0).schema, "ts",
      DatePartitioning("ts", "D"), statsColumns = Seq("user_id", "v"))
    (0L until 8L).foreach(r => c.insert(mk(r), MergeStrategy.Concat))
    val total = c.currentManifest().files.size
    assert(total >= 8)
    assert(c.query("user_id >= 768").inputFiles.length == total,
      "pre-compaction: spread user_id defeats zone maps")
    assert(c.query("v >= 768").inputFiles.length == total,
      "pre-compaction: spread v defeats zone maps")
    val before = c.query().orderBy("id").collect().toSeq

    val done = c.compactPartitions(c.partitions(), clusterBy = Seq("user_id", "v"))
    assert(done.nonEmpty)
    val total2 = c.currentManifest().files.size
    assert(total2 >= 4, s"z rewrite should fan out over range partitions, got $total2 file(s)")
    val qu = c.query("user_id >= 768")
    val qv = c.query("v >= 768")
    assert(qu.inputFiles.length < total2,
      s"user_id filter must skip z-clustered files: ${qu.inputFiles.length}/$total2")
    assert(qv.inputFiles.length < total2,
      s"v filter must skip z-clustered files: ${qv.inputFiles.length}/$total2")
    // correctness: identical rows, both through the skip path and in full
    assert(qu.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      before.map(_.getLong(0)).filter(_ >= 768).sorted)
    assert(c.query().orderBy("id").collect().toSeq == before)
    // a non-numeric cluster column routes through the hash bucket (no
    // range locality, but equal values cluster) — still a valid rewrite
    val done2 = c.compactPartitions(c.partitions(), clusterBy = Seq("ts", "user_id"))
    assert(done2.nonEmpty && c.query().orderBy("id").collect().toSeq == before)
    intercept[IllegalArgumentException](
      c.compactPartitions(c.partitions(), clusterBy = Seq("nope")))
  }

  test("describePartitions: one metadata row per partition with files/rows/axis bounds") {
    val root = SparkTestSession.tmp("graft-describe")
    val c = Collection.create(spark, root,
      mkUsers(Seq((1L, "2024-01-01 10:00:00", 1L, 1.0))).schema, "ts",
      DatePartitioning("ts", "D"))
    c.insert(mkUsers((0L until 30L).map(i => (i, "2024-01-01 10:00:00", i, 1.0))),
      MergeStrategy.Concat)
    c.insert(mkUsers((100L until 110L).map(i => (i, "2024-01-05 12:00:00", i, 1.0))),
      MergeStrategy.Concat)
    val d = c.describePartitions().orderBy("partition").collect()
    assert(d.length == 2)
    assert(d.map(_.getString(0)).toSeq ==
      Seq("year=2024/month=1/day=1", "year=2024/month=1/day=5"))
    assert(d(0).getLong(2) == 30L && d(1).getLong(2) == 10L)
    assert(d.forall(r => r.getInt(1) >= 1))
    // recorded bytes per partition (r8) are present and positive
    assert(d.forall(r => r.getLong(3) > 0L))
    // axis bounds are epoch-micros strings covering the inserted instants
    val day1Lo = d(0).getString(4).toLong
    val day1Hi = d(0).getString(5).toLong
    val t = java.time.Instant.parse("2024-01-01T10:00:00Z").getEpochSecond * 1000000L
    assert(day1Lo == t && day1Hi == t)
  }

  test("auto-compaction: touched partitions over the file threshold rewrite in a follow-up commit") {
    val mk = (i: Long) => mkUsers(Seq((i, "2024-01-01 10:00:00", i, i.toDouble)))

    // control: without the policy, Concat appends accumulate files
    val r0 = SparkTestSession.tmp("graft-nocompact")
    val c0 = Collection.create(spark, r0, mk(0).schema, "ts", DatePartitioning("ts", "D"))
    (1L to 5L).foreach(i => c0.insert(mk(i), MergeStrategy.Concat))
    assert(c0.currentManifest().files.size >= 5, "control must fragment")

    val root = SparkTestSession.tmp("graft-autocompact")
    val c = Collection.create(spark, root, mk(0).schema, "ts",
      DatePartitioning("ts", "D"), autoCompactFiles = 3)
    (1L to 5L).foreach(i => c.insert(mk(i), MergeStrategy.Concat))
    val man = c.currentManifest()
    assert(man.files.size <= 3,
      s"auto-compaction must bound the partition at 3 files, have ${man.files.size}")
    // nothing lost, nothing duplicated
    assert(c.query().select("id").collect().map(_.getLong(0)).sorted.toSeq == (1L to 5L))
    // compacted files carry fresh zone maps
    assert(man.statsForFiles(man.files).size == man.files.size)
    // time travel: the pre-compaction snapshot remains committed history
    assert(c.generations().size > 6, "compaction must be its own commit")
  }

  test("streaming reads prune COLUMNS through the substituted batch plan (no pushdown option needed)") {
    import org.apache.spark.sql.streaming.OutputMode
    import graft.streaming.StreamOps
    val root = SparkTestSession.tmp("graft-stream-prune")
    val df = mkUsers(Seq((1L, "2024-01-01 10:00:00", 7L, 1.0)))
    val c = Collection.create(spark, root, df.schema, "ts", DatePartitioning("ts", "D"))
    c.insert(df)
    val name = "graft_colprune_" + java.util.UUID.randomUUID().toString.replace("-", "")
    // the consumer selects ONE narrow column; the per-batch optimizer must
    // push that projection into the substituted parquet relation
    val q = StreamOps.readStream(spark, c).select("id")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      assert(spark.table(name).columns.toSeq == Seq("id"))
      val plan = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan.toString
      val read = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
      assert(read.contains("id") && !read.contains("user_id") && !read.contains("props"),
        s"projection must reach the micro-batch scan, got: $read")
    } finally q.stop()
  }

  test("streaming ingest composes with auto-compaction: files stay bounded, replay detection intact") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamOps
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = SparkTestSession.tmp("graft-stream-compact")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, ts TIMESTAMP, v DOUBLE")
    val c = Collection.create(spark, root, schema, "ts",
      DatePartitioning("ts", "D"), autoCompactFiles = 2)
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val in = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val q = StreamOps.insertStream(in.toDF().toDF("id", "ts", "v"), c,
      "compact-ingest", SparkTestSession.tmp("graft-sc-ckpt"))
    try {
      (1L to 6L).foreach { i =>
        in.addData((i, ts("2024-01-01 10:00:00"), i.toDouble))
        q.processAllAvailable() // one micro-batch (= one commit) per row
      }
    } finally q.stop()
    val man = c.currentManifest()
    assert(man.files.size <= 2,
      s"auto-compaction must bound the ingest partition, have ${man.files.size}")
    assert(c.query().select("id").collect().map(_.getLong(0)).sorted.toSeq == (1L to 6L))
    // compaction commits must not disturb the stream's high-water mark
    val hwm = c.streamHighWaterMark("compact-ingest")
    assert(hwm.exists(_ >= 1L))
    val replay = Seq((99L, "2024-01-09 10:00:00", 9.0))
      .toDF("id", "ts", "v").withColumn("ts", col("ts").cast("timestamp"))
    assert(c.insertStreamBatch("compact-ingest", hwm.get, replay).isEmpty,
      "replay of a committed batch must stay a no-op after compactions")
    assert(c.query().count() == 6)
  }

  test("streaming pushdown: the filters option prunes each batch's file diff and filters rows") {
    import org.apache.spark.sql.streaming.OutputMode
    import graft.streaming.StreamOps
    val root = SparkTestSession.tmp("graft-stream-filter")
    val mk = (id: Long, day: Int, u: Long) =>
      mkUsers(Seq((id, f"2024-01-$day%02d 10:00:00", u, id.toDouble)))
    val c = Collection.create(spark, root, mk(1, 1, 1).schema, "ts",
      DatePartitioning("ts", "D"), statsColumns = Seq("user_id"))
    c.insert(mk(1, 1, 10), MergeStrategy.Concat)
    c.insert(mk(2, 5, 20), MergeStrategy.Concat)
    c.insert(mk(3, 9, 30), MergeStrategy.Concat)

    // unit level: the prune layer drops non-overlapping files of a diff
    val man = c.currentManifest()
    val ast = FilterExpr.parse("ts >= '2024-01-04 00:00:00' and user_id >= 20")
    val pruned = c.pruneFilesForRead(man, man.files, ast)
    assert(pruned.nonEmpty && pruned.size < man.files.size,
      s"expected a strict subset, got ${pruned.size}/${man.files.size}")

    // end to end: streamed rows == batch query with the same filter
    val name = "graft_pushdown_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = StreamOps.readStream(spark, c,
        Map("filters" -> "ts >= '2024-01-04 00:00:00' and user_id >= 20"))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      val got = spark.table(name).select("id").collect().map(_.getLong(0)).sorted.toSeq
      assert(got == Seq(2L, 3L), s"pushdown stream mismatch: $got")
      // commits arriving mid-stream prune too
      c.insert(mk(4, 2, 5), MergeStrategy.Concat)  // outside both bounds
      c.insert(mk(5, 8, 50), MergeStrategy.Concat) // inside
      q.processAllAvailable()
      val got2 = spark.table(name).select("id").collect().map(_.getLong(0)).sorted.toSeq
      assert(got2 == Seq(2L, 3L, 5L), s"mid-stream pushdown mismatch: $got2")
    } finally q.stop()

    // a typo'd column fails when the source initializes (first trigger),
    // not silently on some later matching batch
    val bad = StreamOps.readStream(spark, c, Map("filters" -> "nope == 1"))
      .writeStream.format("memory")
      .queryName("x" + java.util.UUID.randomUUID().toString.replace("-", "")).start()
    try intercept[Exception](bad.processAllAvailable())
    finally bad.stop()
  }
}
