package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** graft's benchmark: one closed-loop workload with one client thread on
  * Spark `local[nproc]`, in one process.
  *
  * {{{
  *   Main --workload read_mix|corpus_pipeline|write_mix --seed N
  *        --seconds S --trace 0|1 --work DIR
  * }}}
  *
  * `--trace 0` measures the end-to-end metrics with tracing off.
  * `--trace 1` runs one warm-up round, then alternates untraced and
  * traced rounds for twice the time; it reports the per-layer metrics
  * from the traced rounds, the end-to-end metrics of both halves and
  * their difference (the tracing overhead), and writes the spans to
  * `DIR/trace-<workload>-<seed>.jsonl`.
  *
  * Standard output is a report, one metric a line, then one JSON line
  * with every metric, then the result line: one short JSON object with
  * `correct`, `attempted`, `failed` and `metrics`. */
object Main {
  val Catalog = "graftbench"
  val SetupRepeats = 3

  /** The metrics of the result line; they match `BENCHMARK.json`. */
  val EndToEnd: Seq[String] = Seq("setup_s", "ops_per_s", "stored_bytes_per_row")
  val PerLayer: Seq[String] = Seq("core.plan.query_build_ms", "spark.jobs_per_op",
    "spark.stages_per_op", "spark.tasks_per_op", "spark.task_run_s", "spark.busy_ratio",
    "spark.input_bytes", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
    "jvm.heap_used_peak_mb", "jvm.gc_ms")

  def workload(name: String): Workload = name match {
    case "read_mix" => new ReadMix
    case "write_mix" => new WriteMix
    case "corpus_pipeline" => new CorpusPipeline
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** name -> (value, unit, sample count). */
  type Metrics = mutable.LinkedHashMap[String, (Double, String, Int)]

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = opt.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val name = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") == "1"
    val work = java.nio.file.Paths.get(need("work")).toAbsolutePath
    val w = workload(name)
    val nproc = Runtime.getRuntime.availableProcessors
    val load0 = Host.loadavg1
    val cpu0 = Host.cpuTicks

    val base = work.resolve(name)
    deleteTree(base)
    val tmp = base.resolve("tmp")
    java.nio.file.Files.createDirectories(tmp)
    val data = base.resolve("data").toString
    val master = s"local[$nproc]"
    val spark = SparkSession.builder()
      .master(master)
      .appName(s"graftbench-$name")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", (2 * nproc).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", tmp.toString)
      .config("spark.sql.warehouse.dir", base.resolve("spark-warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", base.resolve("checkpoints").toString)
      .config(s"spark.sql.catalog.$Catalog", "graft.sources.GraftCatalog")
      .config(s"spark.sql.catalog.$Catalog.warehouse", s"$data/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val h = new Harness(spark, seed, data)
    var crashed: Option[Throwable] = None
    val setupS = mutable.ArrayBuffer.empty[Double]
    val roundMs = mutable.ArrayBuffer.empty[(Boolean, Double)]
    var phaseS = 0.0
    var gcMs = 0L
    try {
      (1 to SetupRepeats).foreach { _ =>
        deleteTree(java.nio.file.Paths.get(data))
        val t0 = System.nanoTime()
        w.setup(h)
        setupS += (System.nanoTime() - t0) / 1e9
      }
      h.step("fixture check") { w.checkFixture(h) }
      // a traced run compares traced with untraced rounds, so neither
      // half may hold the cold first round
      h.step("warm-up") {
        (1 to (if (trace) w.warmupRounds max 1 else w.warmupRounds)).foreach(r => w.round(h, -r))
      }
      h.recording = true
      val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      val gc0 = gcs.map(_.getCollectionTime).sum
      val budgetNs = ((if (trace) 2 else 1) * seconds * 1e9).toLong
      val t0 = System.nanoTime()
      var i = 0
      // whole rounds until the time is spent; a traced run needs one
      // round of each half
      while (System.nanoTime() - t0 < budgetNs || i < (if (trace) 2 else 1)) {
        val traced = trace && i % 2 == 1
        h.tracer.enable(traced)
        val r0 = System.nanoTime()
        val u0 = h.untimedNs
        w.round(h, i)
        roundMs += ((traced, (System.nanoTime() - r0 - (h.untimedNs - u0)) / 1e6))
        i += 1
      }
      h.tracer.enable(false)
      phaseS = (System.nanoTime() - t0) / 1e9
      gcMs = gcs.map(_.getCollectionTime).sum - gc0
      h.recording = false
      h.step("finish") { w.finish(h) }
    } catch {
      case e: Throwable =>
        crashed = Some(e)
        e.printStackTrace()
    }

    val correct = crashed.isEmpty && h.checkErrors.isEmpty
    if (crashed.isEmpty) {
      val (bytes, liveRows) = w.storage(h)
      val common: Metrics = mutable.LinkedHashMap(
        "setup_s" -> ((Stats.median(setupS.toSeq), "s", setupS.size)),
        "stored_bytes_per_row" -> ((bytes.toDouble / math.max(1L, liveRows), "B/row", 1)),
        "peak_rss_mb" -> ((Host.peakRssMb, "MB", 1)))
      def e2e(traced: Boolean): Metrics = {
        val ss = h.samples.filter(_.traced == traced).toSeq
        val secs = roundMs.filter(_._1 == traced).map(_._2).sum / 1e3
        endToEnd(ss, secs) ++= common ++= w.extraMetrics(traced, secs).map {
          case (k, v, u, n) => k -> ((v, u, n))
        }
      }
      val untraced = e2e(traced = false)
      val layers = if (trace) layerMetrics(h, nproc, gcMs) else new Metrics
      val overhead = new Metrics
      if (trace) {
        val traced = e2e(traced = true)
        untraced.filter(m => !common.contains(m._1)).foreach { case (k, (v, u, _)) =>
          traced.get(k).filter(_._3 > 0).foreach { case (tv, _, n) =>
            overhead(s"trace_overhead.$k") = ((tv - v, u, n))
          }
        }
      }
      val attempted = h.samples.size
      val failed = h.samples.count(!_.ok)
      val host = Seq("workload" -> Json.str(name), "seed" -> seed.toString,
        "nproc" -> nproc.toString, "master" -> Json.str(master), "clients" -> "1",
        "loadavg_1m_start" -> Json.num(load0), "loadavg_1m_end" -> Json.num(Host.loadavg1),
        "cpu_steal_pct" -> Json.num(Host.stealPct(cpu0)),
        "rounds" -> roundMs.size.toString, "timed_s" -> Json.num(phaseS),
        "round_ms" -> roundMs.map(r => Json.num(math.rint(r._2))).mkString("[", ", ", "]"),
        "trace" -> (if (trace) "1" else "0"))
      host.foreach { case (k, v) => println(s"graftbench $name host $k = $v") }
      println(f"graftbench $name e2e error_rate = ${failed.toDouble / math.max(1, attempted)}%.6f ratio (failed $failed / attempted $attempted)")
      def show(kind: String, ms: Metrics): Unit = ms.foreach { case (k, (v, u, n)) =>
        println(s"graftbench $name $kind $k = ${Json.num(v)} $u (n=$n)")
      }
      show("e2e", untraced)
      show("layer", layers)
      show("overhead", overhead)
      (h.opErrors ++ h.checkErrors).foreach(e => println(s"graftbench $name error $e"))
      h.defects.foreach { case (k, v) => println(s"graftbench $name defect $k = $v") }
      def asJson(ms: Metrics): String = Json.obj(ms.map { case (k, (v, u, n)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u), "n" -> n.toString))
      })
      // timings and counters in separate maps: a counter is any metric
      // whose unit is not a time
      val isTime = Set("ms", "s")
      val all = untraced ++ layers ++ overhead
      println(Json.obj(Seq("record" -> Json.obj(Seq(
        "host" -> Json.obj(host),
        "timings" -> asJson(all.filter(m => isTime(m._2._2))),
        "counters" -> asJson(all.filter(m => !isTime(m._2._2))),
        "errors" -> (h.opErrors ++ h.checkErrors).map(Json.str).mkString("[", ", ", "]"),
        "defects" -> Json.obj(h.defects.map { case (k, v) => k -> Json.str(v) }))))))
      if (trace) {
        val out = work.resolve(s"trace-$name-$seed.jsonl")
        h.tracer.write(out)
        System.err.println(s"[graftbench] spans written to $out")
      }
      // a metric with no sample (every operation of its kind failed) is
      // left out rather than reported as 0
      val chosen = if (trace) PerLayer.flatMap(k => layers.get(k).map(k -> _))
        else EndToEnd.flatMap(k => untraced.get(k).map(k -> _))
      println(Json.obj(Seq("correct" -> correct.toString, "attempted" -> attempted.toString,
        "failed" -> failed.toString,
        "metrics" -> Json.obj(chosen.map { case (k, (v, u, _)) =>
          k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
        }))))
    }
    spark.stop()
    deleteTree(java.nio.file.Paths.get(data))
    sys.exit(if (correct) 0 else 1)
  }

  /** Throughput and latency over the recorded operations of `secs`
    * seconds of rounds. */
  def endToEnd(ss: Seq[OpSample], secs: Double): Metrics = {
    val m = new Metrics
    val ok = ss.filter(_.ok)
    m("ops_per_s") = (ok.size / math.max(secs, 1e-9), "1/s", ok.size)
    if (ok.nonEmpty) {
      m("op_p50_ms") = (Stats.pct(ok.map(_.ms), 0.5), "ms", ok.size)
      m("op_p90_ms") = (Stats.pct(ok.map(_.ms), 0.9), "ms", ok.size)
    }
    ok.groupBy(_.group).toSeq.sortBy(_._1).foreach { case (g, xs) =>
      m(s"${g}_p50_ms") = (Stats.pct(xs.map(_.ms), 0.5), "ms", xs.size)
      m(s"${g}_p90_ms") = (Stats.pct(xs.map(_.ms), 0.9), "ms", xs.size)
    }
    ok.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, xs) =>
      m(s"op_p50_ms[$k]") = (Stats.pct(xs.map(_.ms), 0.5), "ms", xs.size)
    }
    m
  }

  /** Per-layer metrics from the traced rounds' spans and the Spark work
    * the listener attributed to them. A layer's self time is its span
    * minus its Spark jobs: `core.write.commit_ms` is the write call minus
    * the jobs inside it. */
  def layerMetrics(h: Harness, nproc: Int, gcMs: Long): Metrics = {
    val m = new Metrics
    val spans = h.tracer.spans.toSeq
    val bySpan = h.tracer.listener.bySpan
    val times = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val sums = mutable.LinkedHashMap.empty[String, (Double, Double)]
    def time(name: String, label: String, v: Double): Unit = {
      times.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
      times.getOrElseUpdate(s"$name[$label]", mutable.ArrayBuffer.empty) += v
    }
    def ratio(name: String, num: Double, den: Double): Unit = {
      val (n, d) = sums.getOrElse(name, (0.0, 0.0))
      sums(name) = (n + num, d + den)
    }
    spans.filter(_.parent >= 0).foreach { s =>
      val w = bySpan.getOrElse(s.id, new SparkWork)
      val rows = s.attrs.getOrElse("rows", 0.0)
      (s.layer, s.label) match {
        case ("core.plan", "open") => time("core.plan.open_ms", s.label, s.ms)
        case ("core.plan", "query") => time("core.plan.query_build_ms", s.label, s.ms)
        case ("core.plan", "count") => time("core.plan.count_meta_ms", s.label, s.ms)
        case ("sources.scan", l) =>
          time("sources.scan.exec_ms", l, s.ms)
          ratio("sources.scan.tasks_per_op", w.tasks.toDouble, 1)
          ratio("sources.scan.rows_read_per_row_returned", w.inputRecords.toDouble, rows)
          ratio("sources.scan.input_bytes_per_row_returned", w.inputBytes.toDouble, rows)
        case ("core.write", l) =>
          time("core.write.call_ms", l, s.ms)
          time("core.write.job_ms", l, w.jobMs)
          time("core.write.commit_ms", l, s.ms - w.jobMs)
          ratio("core.write.input_bytes_per_row_written", w.inputBytes.toDouble, rows)
          ratio("core.write.output_bytes_per_row_written", w.outputBytes.toDouble, rows)
          s.attrs.get("files_added").foreach(f => ratio("core.write.files_added", f, 1))
        case ("sources.dml", l) =>
          time("sources.dml.call_ms", l, s.ms)
          time("sources.dml.job_ms", l, w.jobMs)
        case ("streaming", l) => time("streaming.catchup_ms", l, s.ms)
        case ("functions", l) => time("functions.quality_ms", l, s.ms)
        case ("dedup", "exact_index") => time("dedup.exact_index_ms", "exact_index", s.ms)
        case ("dedup", "minhash") => time("dedup.minhash_ms", "minhash", s.ms)
        case (l, lab) => time(s"$l.other_ms", lab, s.ms)
      }
    }
    times.foreach { case (k, xs) =>
      m(k) = (Stats.median(xs.toSeq), "ms", xs.size)
      if (!k.contains('[')) m(s"$k.p90") = (Stats.pct(xs.toSeq, 0.9), "ms", xs.size)
    }
    (sums ++ h.ratios).foreach { case (k, (n, d)) =>
      if (d > 0) m(k) = (n / d, if (k.endsWith("_ms")) "ms" else "ratio", d.toInt)
    }
    h.series.foreach { case (k, xs) =>
      m(k) = (Stats.median(xs.toSeq), if (k.endsWith("_ms")) "ms" else "count", xs.size)
    }

    val ops = spans.filter(_.parent < 0)
    val works = ops.map(o => h.tracer.listener.byOp.getOrElse(o.id, new SparkWork))
    val n = math.max(1, ops.size)
    def perOp(f: SparkWork => Double): Double = works.map(f).sum / n
    m("spark.jobs_per_op") = (perOp(_.jobs), "count", ops.size)
    m("spark.stages_per_op") = (perOp(_.stages), "count", ops.size)
    m("spark.tasks_per_op") = (perOp(_.tasks.toDouble), "count", ops.size)
    m("spark.task_run_s") = (perOp(_.runMs / 1e3), "s", ops.size)
    m("spark.busy_ratio") = (works.map(_.runMs).sum / math.max(1e-9, ops.map(_.ms).sum * nproc),
      "ratio", ops.size)
    m("spark.input_bytes") = (perOp(_.inputBytes.toDouble), "B", ops.size)
    m("spark.output_bytes") = (perOp(_.outputBytes.toDouble), "B", ops.size)
    m("spark.shuffle_read_bytes") = (perOp(_.shuffleReadBytes.toDouble), "B", ops.size)
    m("spark.shuffle_write_bytes") = (perOp(_.shuffleWriteBytes.toDouble), "B", ops.size)
    m("spark.spill_bytes") = (perOp(_.spillBytes.toDouble), "B", ops.size)
    m("spark.gc_ms") = (perOp(_.gcMs.toDouble), "ms", ops.size)
    m("jvm.heap_used_peak_mb") = (h.heapUsedPeak / (1024.0 * 1024.0), "MB", h.samples.size)
    m("jvm.gc_ms") = (gcMs.toDouble / math.max(1, h.samples.size), "ms", h.samples.size)
    m
  }

  private def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val st = java.nio.file.Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder()).forEach(f => java.nio.file.Files.delete(f))
      finally st.close()
    }
}
