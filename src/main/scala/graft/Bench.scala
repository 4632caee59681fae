package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark: headline queries at SPARK_GRAFT_SF_DIR, one JSON
  * line on stdout.
  *
  * Methodology:
  *  - every query is forced through the `noop` sink — full materialization
  *    of every column with zero write cost (a bare `count()` would let
  *    Catalyst prune the computation being measured);
  *  - the shared events collection is built once up front and reported as
  *    `zc_build` (insert throughput), so collection *queries* measure the
  *    pruned-scan path, not repeated construction;
  *  - EVERY entry runs `SPARK_GRAFT_BENCH_REPS` times (default 3) and
  *    reports the MIN — the same protocol for builder and driver, ending
  *    the per-round "whose host was quieter" ambiguity. All passes run
  *    the full plan; nothing is cached between them (build entries build
  *    fresh throwaway roots on the repeat passes). The host's 1-minute
  *    load average is recorded at start and end (`loadavg_start/_end`)
  *    so a contended run is visible in the JSON itself.
  */
object Bench {

  /** A suite's timed entries (seconds) and its evidence counters (byte
    * and file counts), which the bench line reports in separate maps. */
  private final case class SuiteResult(seconds: Seq[(String, Double)],
                                       counters: Seq[(String, Double)])

  /** Headline set: relational, custom operators, pipeline ops, collection
    * round-trips, streaming. */
  val Headline: Seq[String] = Seq(
    "q1_pricing", "q3_shipping", "q5_local", "q6_revenue",
    "q7_volume", "q10_returns", "q18_large",
    "q11_stock", "q_window_topn", "q_asof_join", "q_range_join", "q_sessionize",
    "q_semi_anti", "q_rollup",
    "dedup_exact", "dedup_minhash", "dedup_cosine", "ann_bruteforce", "ann_lsh",
    "ann_ivf", "ann_quantize", "ann_int8_rerank",
    "text_quality", "text_tokens",
    "text_quality_filter", "text_decontaminate", "text_redact",
    "text_sample_split", "text_repetition", "text_pack", "text_normalize",
    "text_chunk", "text_decontaminate_ngram", "text_boilerplate",
    "text_vocab", "text_ngram_freq", "text_dedup_spans",
    "text_stratified_sample", "text_token_budget",
    "text_quality_gate", "text_mixture", "text_top_terms",
    "q_range_frame", "q_lateral",
    "dedup_simhash_fnv", "dedup_remove_exact",
    "dedup_incremental", "dedup_incremental_near", "dedup_semantic",
    "zc_insert_query", "zc_query_filter", "zc_axis_range",
    "zc_col_zone", "zc_bloom", "zc_to_arrays", "zc_zorder", "zc_delete",
    "zc_changes", "zc_vector_search", "stream_window", "stream_join",
    "stream_join_outer", "stream_join_full", "stream_session_native",
    "zc_clone", "zc_branch_merge",
    // r8b: SQL DML + sync merge + rebase policies + metadata/agg SQL +
    // native sink + surprisal
    "zc_sql_update", "zc_sql_merge", "zc_merge_sync", "zc_rebase_theirs",
    "zc_sql_count", "zc_sql_meta", "stream_sink_format", "text_surprisal",
    "zc_sql_group_count", "text_profile", "text_interleave", "stream_ingest_dedup",
    // r9: the one-giant-source mixture (8x corpus under one label) — the
    // skew shape the PrefixSum rebuild parallelizes
    "text_mixture_skew",
    // r9b: exact-integer BM25 search, PII scrub, bounded-state KMV
    // sketch, leakage-safe group split, and the native-batch-scan
    // catalog data read
    "text_bm25", "text_pii", "text_kmv", "text_group_split", "zc_sql_scan",
    "text_classifier_gate",
    // r10: native write (SQL insert + dynamic overwrite + replace-where)
    // and the catalog-native streaming sink twin of stream_sink_format
    "zc_sql_insert", "zc_sql_overwrite_dynamic", "zc_sql_replace_where",
    "stream_sink_table",
    // r10c: global training-order shuffle (PrefixSum empty-group rank),
    // keep-best canonical selection, markup strip, stream-static join,
    // linear-interpolation resample, hybrid RRF fusion
    "text_shuffle", "dedup_keep_best", "text_html_strip", "stream_static_join",
    "q_interpolate", "ann_hybrid_rrf",
    // r10d: two-pass Misra-Gries exact heavy hitters, version-ordered
    // streaming upsert, nearest-direction as-of
    "text_heavy_hitters", "stream_upsert", "q_asof_nearest",
    // r10d: Delta-parity CDF reader options (same diff as zc_changes)
    "zc_changes_read",
    // r10e: stream-stream as-of, prefix-filter containment dedup,
    // per-domain cap, running distinct count, streaming top-k,
    // chained-stateful streaming distinct, contamination report
    "stream_asof_join", "dedup_containment", "text_domain_cap",
    // r15: the word-shingle (sparse-universe) containment twin — the
    // PPJoin prefix plan's scale row; unlike the char-4 dense worst
    // case it runs at sf1 too.
    "dedup_containment_word",
    "q_distinct_window", "stream_window_topn", "stream_distinct_window",
    "text_contamination_report", "q_unpivot", "text_bpe_encode",
    "dedup_groups", "zc_fsck", "text_novelty",
    // r11: deletion-vector delete through the oracle entry (the A/B
    // seconds/bytes evidence lives in the dvSuite entries), subquery
    // DELETE (IN-list semi over a DV-enabled collection), and the
    // metadata-only column rename followed by a cross-vintage read
    "zc_delete_dv", "zc_sql_delete_subq", "zc_schema_rename",
    // r11b: atomic multi-op transaction (fork + three ops + promote),
    // correlated/scalar DML subqueries, filtered (flat + collection)
    // and diversified vector search
    "zc_transaction", "zc_sql_delete_corr", "ann_filtered", "ann_diverse",
    "zc_sql_update_corr_in", "zc_sql_delete_scalar", "ann_filtered_coll",
    // r12: file-granular admission control — the events bulk commit
    // streamed in ~3 bounded micro-batches ((generation, fileOrdinal)
    // offsets); stream_ingest is its UNPACED twin (same source, same
    // sink, one snapshot batch), so the pair is the pacing-overhead A/B
    "stream_paced", "stream_ingest",
    // r12: scalar-in-SET splice, explicit-column conditional MERGE
    // INSERT (the narrow-source projection path), conditional SET *
    "zc_sql_update_set_scalar", "zc_sql_merge_ci_cols", "zc_sql_merge_cu",
    "zc_sql_delete_in2", "zc_sql_delete_corr_scalar",
    // NOT benched: dedup_incremental_contain / stream_ingest_contain —
    // the incremental containment index builds a full inverted index of
    // the corpus per entry (its cost IS the index build, ~40 s at sf0.1
    // on the 985-shingle dense corpus); the sf0.01 correctness gate
    // runs both, and the batch operator's bench entry
    // (dedup_containment) carries the family's perf signal.
  )

  private def loadAvg: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    // r14: comma-separated entry names to omit (the derived-sf1 sweep
    // skips dedup_containment, whose planted char-4 dense-universe
    // worst case is deliberately quadratic in corpus size — ~100x its
    // sf0.1 cost at sf1, out of budget for a full-map run). The
    // driver's own sf0.1 runs set nothing and measure everything.
    val skip = sys.env.getOrElse("SPARK_GRAFT_BENCH_SKIP", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    val headline = Headline.filterNot(skip)
    val loadStart = loadAvg
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    def minOf(n: Int)(pass: => Double): Double =
      (0 until n).map(_ => pass).min

    // Warm the session (executor threads, codegen, parquet codec init) so
    // the first timed entry doesn't absorb JVM start-up costs.
    spark.range(1000000L).selectExpr("sum(id)").collect()
    graft.sources.Tables.lineitem(spark, sfDir).limit(1000).collect()

    // zc_build: pass 1 builds the shared (memoized) events collection the
    // downstream zc_* queries read; repeat passes build identical fresh
    // throwaway roots, so min-of-N times the same work as prior rounds'
    // single shot.
    var builtShared = false
    val buildSec = minOf(reps) {
      if (!builtShared) { builtShared = true; time { SparkEntry.eventsCollection(spark, sfDir) } }
      else SparkEntry.throwawayEventsCollection(spark, sfDir, skip = false)
    }
    var builtSkip = false
    // events collection with user_id zone maps + bloom filters (the
    // bloom/stat write overhead a deployer weighs against the skip wins
    // of zc_col_zone / zc_bloom)
    val buildSkipSec = minOf(reps) {
      if (!builtSkip) { builtSkip = true; time { SparkEntry.skipEventsCollection(spark, sfDir) } }
      else SparkEntry.throwawayEventsCollection(spark, sfDir, skip = true)
    }

    def runOnce(name: String): Double = {
      val fn = SparkEntry.queries(name)
      time {
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable => System.err.println(s"[bench] $name failed: ${e.getMessage}") }
      }
    }
    // SELF-SATURATION hygiene (r11, r10 verdict #7): the single-run
    // 131-entry bench drives its own host loadavg from ~2 to ~10 and
    // inflated the unchanged IO-bound micro-entries' tails 1.5-2x in
    // every round-over-round comparison. The CONTROL set — unchanged
    // micro-entries whose drift is the contention signal — now runs
    // FIRST, on a freshly warmed but otherwise idle session, behind a
    // bounded load-settle gate; the heavy pile follows. JSON keys are
    // unchanged, so round comparisons line up.
    val controls = Seq("zc_insert_query", "zc_query_filter", "zc_axis_range",
      "zc_col_zone", "zc_bloom", "zc_to_arrays", "zc_changes")
      .filter(headline.contains)
    def settle(maxWaitMs: Long): Unit = {
      val t0 = System.currentTimeMillis()
      val cores = Runtime.getRuntime.availableProcessors()
      while (loadAvg > cores * 0.5 && System.currentTimeMillis() - t0 < maxWaitMs)
        Thread.sleep(2000)
    }
    settle(60000)
    // r16 (r15 verdict #8): the per-entry SCHEDULING FLOOR — the
    // smallest possible Spark job (one 1-row task) through the exact
    // harness protocol (noop sink, min-of-reps, settled session). Every
    // entry pays at least this; the survey uses it to separate
    // overhead-bound sub-second ratios (q_rollup-class, where DuckDB's
    // in-process milliseconds meet this floor) from plan-bound ones.
    // Named OUTSIDE the q/text_/dedup_/ann_ comparable prefixes.
    val floorSec = minOf(reps)(time {
      spark.range(1L).write.format("noop").mode("overwrite").save()
    })
    val controlResults = controls.map { name => name -> minOf(reps)(runOnce(name)) }
    val results = controlResults ++
      headline.filterNot(controls.contains).map { name => name -> minOf(reps)(runOnce(name)) }

    // View alignment read over the events collection built by zc_build:
    // overlay written once (untimed), the timed part is the sort-free
    // (partCols, _zc_row) hash join of base + overlay.
    val viewSec = {
      import org.apache.spark.sql.functions.col
      val c = SparkEntry.eventsCollection(spark, sfDir)
      val vroot = c.root + "-benchview"
      val v =
        try graft.core.View.open(spark, vroot)
        catch { case _: Exception =>
          val nv = graft.core.View.create(spark, vroot, c, overwrite = true)
          nv.update(_.withColumn("value_x2", col("value") * 2))
          nv
        }
      minOf(reps)(time { v.query().write.format("noop").mode("overwrite").save() })
    }

    // --- reference-workload suite (zcollection/benches/harness.py) ----
    // Same shape and scenario names as the reference's own bench: 12
    // monthly partitions x 50k rows, time (datetime64[s]) + ssh
    // float32[time, 240], cloud-balanced profile; ratios against
    // BASELINE.md compare like-for-like. Settle first (r11b): this
    // FIXED-SIZE suite runs right after the headline pile at peak
    // self-inflicted load — its A/B legs interleave (ratios stay
    // honest), but the absolute seconds compare across rounds only
    // from a comparable load point.
    settle(30000)
    val refResults = refSuite(spark, reps)

    // --- SPJ / DPP headline entries (r10) -----------------------------
    // The two native-scan features whose payoff is invisible at spec
    // scale, measured head-to-head: a co-partitioned fact-fact join
    // with storage-partitioned-join bucketing ON vs OFF (the delta IS
    // the two exchanges), and a broadcast-dim join whose runtime filter
    // re-prunes the fact file list (reported as *_files counts).
    val spjDppResults = spjDppSuite(spark, sfDir, reps)

    // Pure fork cost on the shared collection — the O(metadata) claim
    // in numbers: cloning must not scale with data volume (each pass
    // clones to a fresh root; the manifest+shard JSON writes ARE the
    // whole cost).
    val cloneSec = {
      val c = SparkEntry.eventsCollection(spark, sfDir)
      minOf(reps)(time {
        c.cloneTo(c.root + "-fork-" + java.util.UUID.randomUUID().toString.take(8))
      })
    }

    // --- deletion-vector A/B (r11) ------------------------------------
    settle(30000)
    val dvResults = dvSuite(spark, sfDir, reps)

    val qs = (Seq("overhead_floor" -> floorSec,
      "zc_build" -> buildSec, "zc_build_skip" -> buildSkipSec) ++ results) ++
      Seq("view_query" -> viewSec, "clone_fork" -> cloneSec) ++ refResults ++
      spjDppResults.seconds ++ dvResults.seconds
    // byte and file counts, kept apart from the seconds so no geomean or
    // regression check reads them as times
    val counters = spjDppResults.counters ++ dvResults.counters
    // Locale-pinned (r15, BenchOne advice applied here too): a
    // comma-decimal default locale would make the artifact unparseable.
    def num3(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def num2(v: Double) = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    def jsonMap(kv: Seq[(String, Double)]): String =
      kv.map { case (k, v) => "\"" + k + "\":" + num3(v) }.mkString("{", ",", "}")
    val qsJson = jsonMap(qs)
    val total = buildSec + buildSkipSec + results.map(_._2).sum +
      refResults.filterNot(_._1.startsWith("insert_")).map(_._2).sum +
      refResults.collect { case ("insert_full_dataset", v) => v }.sum
    val loadEnd = loadAvg
    // r12 (the r11 verdict's #3): after ten rounds of BASELINE.json
    // publishing no per-query numbers, the repo defines the comparison
    // itself — scripts/duckdb_baseline.py times every SQL-oracled
    // entry's ORACLE in DuckDB over the same parquet on this machine
    // (min-of-reps, checked in as BASELINE_DUCKDB.json); each benched
    // entry's `duckdb_sec` rides the bench JSON next to its Spark time.
    // Lifecycle entries do strictly more work than their oracle replay
    // (builds, commits, streaming) — see the file's own caveat note.
    val duckJson = {
      val f = new java.io.File("BASELINE_DUCKDB.json")
      if (!f.exists()) "{}"
      else {
        val txt = new String(java.nio.file.Files.readAllBytes(f.toPath),
          java.nio.charset.StandardCharsets.UTF_8)
        val benched = qs.map(_._1).toSet
        val entry = """"([A-Za-z0-9_]+)"\s*:\s*([0-9.]+)""".r
        val body = entry.findAllMatchIn(txt)
          .filter(m => benched.contains(m.group(1)))
          .map(m => "\"" + m.group(1) + "\":" + m.group(2)).mkString(",")
        s"{$body}"
      }
    }
    val line = s"""{"metric":"total","value":${num3(total)},"unit":"sec","reps":$reps,"loadavg_start":${num2(loadStart)},"loadavg_end":${num2(loadEnd)},"queries":$qsJson,"counters":${jsonMap(counters)},"duckdb_sec":$duckJson,"sf":"$sfDir"}"""
    println(line)
    // r13 (the r12 verdict's #3): the driver keeps only a bounded TAIL
    // of stdout, which truncated r12's entire Spark time map out of
    // BENCH_r12.json. The full line also lands in a FILE so the primary
    // evidence can never be tail-capped again.
    try java.nio.file.Files.write(java.nio.file.Paths.get("bench_out.json"),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Exception =>
      System.err.println(s"[bench] bench_out.json write failed: ${e.getMessage}") }
    spark.stop()
  }

  /** r11: deletion-vector vs rewrite A/B. The SAME small delete (one
    * event_type of one day — the targeted-correction shape) runs against
    * two identical events collections, one DV-enabled and one classic;
    * passes INTERLEAVE (D,R,D,R) on fresh roots so host drift hits both
    * legs equally (the insert-suite arbitration protocol). Timed:
    * `delete_dv` / `delete_rewrite` seconds. Evidence entries (bytes,
    * not seconds): `delete_dv_bytes_written` — the DV file bytes, the
    * ENTIRE write cost of the vectored commit — vs
    * `delete_rewrite_bytes_written` — the replacement parquet bytes of
    * the classic path. The ratio is the feature's claim: delete cost
    * proportional to deleted rows, not rewritten files. */
  private def dvSuite(spark: SparkSession, sfDir: String, reps: Int): SuiteResult = {
    import graft.core.{Collection, DatePartitioning}
    def time(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    val base = java.nio.file.Files.createTempDirectory("graft-dvbench").toString
    val fs = Collection.fileSystem(spark, base)
    val ev = graft.sources.Tables.events(spark, sfDir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    ev.count()
    def build(root: String, dv: Boolean): Collection = {
      val c = Collection.create(spark, root, ev.schema, "ts",
        DatePartitioning("ts", "D"),
        attrs = if (dv) Map(Collection.DvEnabledAttr -> "true") else Map.empty)
      c.insert(ev)
      c
    }
    val pred = "event_type == 'purchase' and day == 10"
    var dvSec = Double.MaxValue; var rwSec = Double.MaxValue
    var dvBytes = 0.0; var rwBytes = 0.0
    def fileBytes(c: Collection): Map[String, Long] = {
      import spark.implicits._
      c.describeFiles().select("file", "bytes").as[(String, Option[Long])]
        .collect().map { case (f, b) => f -> b.getOrElse(0L) }.toMap
    }
    def bytesWritten(c: Collection, before: Set[String]): Double = {
      val now = fileBytes(c)
      val parquet = now.collect { case (f, b) if !before(f) => b }.sum.toDouble
      val dv = c.deletionVectors().values.map(n => 8L + 8L * n).sum.toDouble
      parquet + dv
    }
    for (i <- 1 to reps) {
      val cD = build(s"$base/dv$i", dv = true)
      val beforeD = fileBytes(cD).keySet
      val tD = time { cD.deleteWhere(pred) }
      if (tD < dvSec) { dvSec = tD; dvBytes = bytesWritten(cD, beforeD) }
      try fs.delete(new org.apache.hadoop.fs.Path(s"$base/dv$i"), true)
      catch { case _: Exception => () }
      val cR = build(s"$base/rw$i", dv = false)
      val beforeR = fileBytes(cR).keySet
      val tR = time { cR.deleteWhere(pred) }
      if (tR < rwSec) { rwSec = tR; rwBytes = bytesWritten(cR, beforeR) }
      try fs.delete(new org.apache.hadoop.fs.Path(s"$base/rw$i"), true)
      catch { case _: Exception => () }
    }
    ev.unpersist()
    SuiteResult(Seq("delete_dv" -> dvSec, "delete_rewrite" -> rwSec),
      Seq("delete_dv_bytes_written" -> dvBytes,
        "delete_rewrite_bytes_written" -> rwBytes))
  }

  /** r10: storage-partitioned-join and dynamic-file-pruning entries.
    * SPJ: two collections identity-partitioned on `k = user_id % 32`
    * join on (k, user_id) — with `v2.bucketing.enabled` the scans'
    * KeyGroupedPartitioning satisfies the join's distribution and BOTH
    * exchanges vanish; the `_shuffled` twin (bucketing off, same query,
    * same confs otherwise) prices exactly those exchanges. Broadcast
    * and AQE are disabled for both twins so the comparison is
    * SPJ-vs-shuffle, not SPJ-vs-broadcast. DPP: a broadcast dim
    * selecting 7 of ~30 days re-prunes the fact scan's manifest file
    * list at execution start; `dpp_files_pruned` / `dpp_files_full`
    * record the planned file counts (counts, not seconds — the direct
    * evidence the runtime filter reached the skip layers). */
  private def spjDppSuite(spark: SparkSession, sfDir: String, reps: Int): SuiteResult = {
    import org.apache.spark.sql.functions._
    import graft.core.{Collection, SequencePartitioning}
    def time(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    def minOf(n: Int)(pass: => Double): Double = (0 until n).map(_ => pass).min
    def withConfs[T](kv: (String, String)*)(body: => T): T = {
      val olds = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
      kv.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally olds.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }

    val base = java.nio.file.Files.createTempDirectory("graft-spjdpp").toString
    val events = graft.sources.Tables.events(spark, sfDir)
    val facts = events.select((col("user_id") % 32).as("k"), col("user_id"), col("value"))
    val aRoot = s"$base/spj_a"
    Collection.create(spark, aRoot, facts.schema, axis = "k",
      partitioning = SequencePartitioning(Seq("k"), "k")).insert(facts)
    // join keys must EQUAL the partition keys (Spark requires all
    // cluster keys for co-partition by default), so the right side is a
    // per-k rollup — each fact row matches exactly one
    val dims = facts.groupBy("k").agg(sum("value").as("w"), count(lit(1)).as("n"))
    val bRoot = s"$base/spj_b"
    Collection.create(spark, bRoot, dims.schema, axis = "k",
      partitioning = SequencePartitioning(Seq("k"), "k")).insert(dims)

    def spjQuery() = {
      val a = spark.read.format("graft").load(aRoot)
      val b = spark.read.format("graft").load(bRoot)
      a.join(b, Seq("k")).agg(sum(col("value") * col("w") / col("n")).as("s"))
    }
    val noBroadcastNoAqe = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val spjOn = ("spark.sql.sources.v2.bucketing.enabled" -> "true") +: noBroadcastNoAqe
    val spjOff = ("spark.sql.sources.v2.bucketing.enabled" -> "false") +: noBroadcastNoAqe
    withConfs(spjOn: _*) { // plan-shape check, untimed
      // the single-partition exchange UNDER the final global aggregate is
      // expected; JOIN-side shuffles are not (the shuffled twin has 3)
      val shuffles = spjQuery().queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
      }
      if (shuffles.size > 1)
        System.err.println(s"[bench] WARNING: SPJ join still shuffles (${shuffles.size} exchanges)")
    }
    val spjNative = withConfs(spjOn: _*) {
      minOf(reps)(time { spjQuery().write.format("noop").mode("overwrite").save() })
    }
    val spjShuffled = withConfs(spjOff: _*) {
      minOf(reps)(time { spjQuery().write.format("noop").mode("overwrite").save() })
    }

    // DPP over the shared day-partitioned events collection
    val c = SparkEntry.eventsCollection(spark, sfDir)
    val dimPath = s"$base/dpp_dim"
    spark.range(1, 32).selectExpr("CAST(id AS INT) AS day_key",
      "CASE WHEN id <= 7 THEN 'keep' ELSE 'drop' END AS flag")
      .write.mode("overwrite").parquet(dimPath)
    def dppQuery() = {
      val e = spark.read.format("graft").load(c.root)
      val d = spark.read.parquet(dimPath).where(col("flag") === "keep")
      e.join(broadcast(d), e("day") === d("day_key")).agg(sum("value").as("s"))
    }
    def fullQuery() = spark.read.format("graft").load(c.root).agg(sum("value").as("s"))
    // the files the graft scan planned, read off an executed plan
    def plannedFiles(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect()
      graft.sources.GraftBatchScan.in(df.queryExecution.executedPlan)
        .map(_.report.plannedFiles).sum
    }
    val dppSec = minOf(reps)(time { dppQuery().write.format("noop").mode("overwrite").save() })
    val fullSec = minOf(reps)(time {
      fullQuery().write.format("noop").mode("overwrite").save()
    })
    val prunedFiles = plannedFiles(dppQuery())
    val fullFiles = plannedFiles(fullQuery())
    if (prunedFiles >= fullFiles)
      System.err.println(s"[bench] WARNING: DPP did not prune files ($prunedFiles vs $fullFiles)")

    SuiteResult(Seq("spj_join_colocated" -> spjNative,
        "spj_join_shuffled" -> spjShuffled,
        "dpp_join_pruned" -> dppSec,
        "dpp_scan_full" -> fullSec),
      Seq("dpp_files_pruned" -> prunedFiles.toDouble,
        "dpp_files_full" -> fullFiles.toDouble))
  }

  private def refSuite(spark: SparkSession, reps: Int): Seq[(String, Double)] = {
    import org.apache.spark.sql.{Row, types => T}
    import graft.core._

    def time(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    def minOf(n: Int)(pass: => Double): Double =
      (0 until n).map(_ => pass).min

    val nPartitions = 12
    val rowsPerPartition = 50000
    val width = 240
    val total = nPartitions.toLong * rowsPerPartition
    val schema = T.StructType(Seq(
      T.StructField("time", T.TimestampType),
      T.StructField("ssh", T.ArrayType(T.FloatType))))
    val rows = spark.range(total).rdd.mapPartitions { it =>
      val rnd = new java.util.Random(42)
      it.map { i =>
        val month = (i / rowsPerPartition).toInt
        val secondsInMonth = (i % rowsPerPartition) * 50 // stays inside a month
        val ts = java.sql.Timestamp.from(java.time.LocalDateTime
          .of(2024, month + 1, 1, 0, 0, 0)
          .plusSeconds(secondsInMonth)
          .toInstant(java.time.ZoneOffset.UTC))
        val ssh = Array.fill(width)(rnd.nextFloat())
        Row(ts, ssh)
      }
    }
    // The reference builds its numpy dataset up front, outside the timed
    // insert; match that by materializing the generated input once.
    val ds = spark.createDataFrame(rows, schema)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    ds.count()
    val tmpBase = java.nio.file.Files.createTempDirectory("graft-refbench").toString
    val fs = Collection.fileSystem(spark, tmpBase)

    // insert_full_dataset: one pass per repetition, each into a FRESH
    // root (the previous pass's root is deleted untimed, keeping disk
    // bounded); the last root serves the read entries below
    var root: String = null
    var bestInsert = Double.MaxValue
    for (i <- 1 to reps) {
      root = s"$tmpBase/c$i"
      bestInsert = math.min(bestInsert, time {
        val c = Collection.create(spark, root, schema, "time",
          DatePartitioning("time", "M"), catalogEnabled = true,
          profile = "cloud-balanced")
        c.insert(ds)
      })
      if (i > 1)
        try fs.delete(new org.apache.hadoop.fs.Path(s"$tmpBase/c${i - 1}"), true)
        catch { case _: Exception => () }
    }
    ds.unpersist()

    val openSec = minOf(reps)(time { Collection.open(spark, root, readOnly = true) })
    val colRo = Collection.open(spark, root, readOnly = true)
    val queryOneSec = minOf(reps)(time {
      colRo.query("year == 2024 and month == 1")
        .write.format("noop").mode("overwrite").save()
    })
    // query_full / query_axis_range run INTERLEAVED (F,A,F,A,...) with a
    // PLAN-vs-EXEC phase split — the r9 driver bench showed the filtered
    // axis read at 9.6x its r8 value while its SUPERSET read query_full
    // improved, a shape min-of-3 host noise cannot explain; this is the
    // same interleaved arbitration the r9 insert A/B used. The
    // plan phase is `Collection.query(...)` construction (manifest access
    // + partition/zone-map/bloom pruning, all driver-side); the exec
    // phase is the noop write of the pre-built frame (Spark planning +
    // scan). The headline entries stay pass totals (plan + exec) for
    // round-over-round continuity; the `_plan_sec` splits say WHERE any
    // future drift lives. Axis-range filters a NON-partition column:
    // partitions prune via the monotonic key derivation, files via
    // manifest zone maps — at the same snapshot it reads a strict subset
    // of query_full's files and must not time above it.
    var bestFull = Double.MaxValue; var bestFullPlan = 0.0
    var bestAxis = Double.MaxValue; var bestAxisPlan = 0.0
    for (_ <- 1 to reps) {
      var dfF: org.apache.spark.sql.DataFrame = null
      val fPlan = time { dfF = colRo.query() }
      val fExec = time { dfF.write.format("noop").mode("overwrite").save() }
      if (fPlan + fExec < bestFull) { bestFull = fPlan + fExec; bestFullPlan = fPlan }
      var dfA: org.apache.spark.sql.DataFrame = null
      val aPlan = time { dfA = colRo.query("time >= '2024-11-15 00:00:00'") }
      val aExec = time { dfA.write.format("noop").mode("overwrite").save() }
      if (aPlan + aExec < bestAxis) { bestAxis = aPlan + aExec; bestAxisPlan = aPlan }
    }
    Seq(
      "insert_full_dataset" -> bestInsert,
      "open_collection_cold" -> openSec,
      "query_one_partition_full" -> queryOneSec,
      "query_full" -> bestFull,
      "query_full_plan_sec" -> bestFullPlan,
      "query_axis_range" -> bestAxis,
      "query_axis_plan_sec" -> bestAxisPlan)
  }
}
