package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.core.{Collection, SequencePartitioning}
import graft.dedup.Dedup
import graft.functions.TextFunctions

/** corpus_pipeline: each round processes one seeded corpus shard.
  *
  *  1. The shard lands in a raw collection.
  *  1. It is quality-gated with `TextFunctions.qualityStats`.
  *  1. Exact duplicates are removed against a persisted fingerprint
  *     index (`dedupAgainstIndex`), and the survivors' fingerprints are
  *     appended to it (`appendFingerprints`).
  *  1. Near duplicates are removed with `minhashPairs` and
  *     `keepRepresentatives`.
  *  1. The survivors are inserted into a clean collection.
  *  1. A takedown request deletes a few clean documents with SQL DELETE
  *     on the clean collection's catalog table.
  *  1. A change-feed consumer (`replicateChanges`) brings a downstream
  *     mirror of the clean collection up to date.
  *
  * Each shard has a fixed layout (see [[Corpus]]): prose documents,
  * junk the gate must drop, exact duplicates of documents in the same
  * shard and in the shard before, and near-duplicate clusters. The
  * oracle checks each step's survivors without graft. */
final class CorpusPipeline extends Workload {
  private val DocsPerShard = 400
  private var corpus: Corpus = _
  private var raw: Collection = _
  private var index: Collection = _
  private var clean: Collection = _
  private var mirror: Mirror = _
  /** Per processed shard: the ids after the gate, after exact dedup and
    * after near dedup. */
  private val passes = mutable.ArrayBuffer.empty[(Int, Set[Long], Set[Long], Set[Long])]
  /** Documents of shards processed by recorded operations, by whether
    * the round was traced. */
  private val docs = mutable.Map(false -> 0L, true -> 0L)
  private var cleanRows = 0L
  /** The shard the next round processes; shard 0 is set-up's. */
  private var nextShard = 1
  private val Takedowns = 5

  private def shardFrame(spark: SparkSession, shard: Int): DataFrame = {
    import spark.implicits._
    corpus.shard(shard).toDF("doc_id", "shard", "text")
  }

  private def gate(df: DataFrame): DataFrame = {
    val st = TextFunctions.qualityStats(col("text"))
    df.where(st.getField("n_tokens") >= 20 &&
      st.getField("avg_token_len").between(3.0, 10.0) &&
      st.getField("punct_ratio") <= 0.2 && st.getField("stop_hits") >= 2)
  }

  def setup(h: Harness): Unit = {
    val spark = h.spark
    corpus = Corpus(h.seed, DocsPerShard)
    val part = SequencePartitioning(Seq("shard"), "doc_id")
    val schema = shardFrame(spark, 0).schema
    raw = Collection.create(spark, s"${h.dir}/raw", schema, "doc_id", part, overwrite = true)
    // the clean collection is a catalog table; its retained generations
    // let the change feed read the files a takedown rewrote
    clean = Collection.create(spark, s"${h.dir}/warehouse/bench/clean", schema, "doc_id", part,
      overwrite = true, retainGenerations = 8)
    // shard 0 seeds the fingerprint index and the clean collection
    h.step("corpus_pipeline seed shard") {
      raw.insert(shardFrame(spark, 0))
      val exact = gate(raw.query("shard == 0")).dropDuplicates("text")
      index = Dedup.buildFingerprintIndex(spark, s"${h.dir}/index", exact, "doc_id", "text",
        nBuckets = 16)
      clean.insert(exact)
    }
    val downstream = Collection.create(spark, s"${h.dir}/mirror", schema, "doc_id", part,
      overwrite = true)
    mirror = new Mirror(clean, downstream, Seq("doc_id"), s"${h.dir}/mirror-checkpoint")
    h.step("corpus_pipeline mirror seed") { mirror.catchUp(h) }
    passes.clear()
    nextShard = 1
    // the seed shard's survivors, without graft: its prose documents,
    // one per distinct text
    cleanRows = corpus.shard(0).map(_._3).filter(corpus.isProse).distinct.size.toLong
  }

  def round(h: Harness, i: Int): Unit = {
    val spark = h.spark
    val s = nextShard
    nextShard += 1
    val shard = shardFrame(spark, s)
    val cached = mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = { cached += df; df.persist(StorageLevel.MEMORY_ONLY) }
    def ids(df: DataFrame): Set[Long] = df.select("doc_id").collect().map(_.getLong(0)).toSet
    try {
      val landed = h.op("land", "commit") {
        h.span("core.write", "insert.Replace") {
          raw.insert(shard)
          h.attr("rows", DocsPerShard)
        }
      }
      val gated = landed.flatMap(_ => h.op("quality_gate", "pipeline") {
        val df = h.span("core.plan", "query") { raw.query(s"shard == $s") }
        h.span("functions", "qualityStats") {
          val g = keep(gate(df))
          h.attr("rows", g.count().toDouble)
          g
        }
      })
      val exact = gated.flatMap(g => h.op("exact_dedup", "pipeline") {
        h.span("dedup", "exact_index") {
          val e = keep(Dedup.dedupAgainstIndex(index, g, "doc_id", "text"))
          e.count()
          Dedup.appendFingerprints(index, e, "doc_id", "text")
          e
        }
      })
      val near = exact.flatMap(e => h.op("near_dedup", "pipeline") {
        h.span("dedup", "minhash") {
          val pairs = keep(Dedup.minhashPairs(e, "doc_id",
            TextFunctions.wordShingles(col("text"), 3), threshold = 0.7))
          val np = pairs.count()
          val kept = keep(Dedup.keepRepresentatives(e, pairs, "doc_id"))
          val nk = kept.count()
          (kept, np, nk)
        }
      })
      val inserted = near.flatMap { case (kept, np, nk) =>
        h.op("insert_clean", "commit") {
          h.span("core.write", "insert.Replace") {
            clean.insert(kept)
            h.attr("rows", nk.toDouble)
          }
        }.map(_ => (np, nk))
      }
      // prose documents always survive both dedup steps
      val doomed = (0 until Takedowns).map(t => corpus.takedown(s, t)).distinct
      val takenDown = inserted.flatMap(_ => h.op("takedown", "commit") {
        h.span("sources.dml", "sql.delete") {
          h.spark.sql(s"DELETE FROM ${Main.Catalog}.bench.clean WHERE doc_id IN " +
            doomed.mkString("(", ", ", ")")).collect()
          h.attr("rows", doomed.size)
        }
      })
      takenDown.foreach(_ => h.op("cdc_catchup", "cdc_catchup") {
        h.span("streaming", "replicateChanges") { mirror.catchUp(h) }
      })
      for (g <- gated; e <- exact; (k, _, nk) <- near; (np, _) <- inserted; _ <- takenDown) {
        val (gIds, eIds, kIds) = h.untimed((ids(g), ids(e), ids(k)))
        passes += ((s, gIds, eIds, kIds))
        cleanRows += nk - doomed.size
        h.ratio("dedup.pairs_per_doc", np.toDouble, eIds.size)
        h.ratio("dedup.docs_kept_ratio", nk.toDouble, DocsPerShard)
        if (h.recording) docs(h.tracer.enabled) += DocsPerShard
      }
    } finally cached.foreach(_.unpersist())
  }

  def finish(h: Harness): Unit = {
    // exact dedup: keep the smallest id per normalized text, unless an
    // earlier shard already kept that text (a groupBy over the texts
    // themselves, which the fingerprints hash)
    val seen = mutable.Set.empty[String]
    corpus.shard(0).foreach { case (_, _, t) => if (corpus.isProse(t)) seen += Corpus.normalize(t) }
    passes.sortBy(_._1).foreach { case (s, gated, exact, kept) =>
      val docs = corpus.shard(s)
      val text = docs.map { case (id, _, t) => id -> t }.toMap
      val wantGated = docs.collect { case (id, _, t) if corpus.isProse(t) => id }.toSet
      h.check(gated == wantGated,
        s"corpus shard $s gate: ${(gated -- wantGated).size} extra, ${(wantGated -- gated).size} missing")
      val wantExact = gated.groupBy(id => Corpus.normalize(text(id)))
        .collect { case (norm, ids) if !seen(norm) => ids.min }.toSet
      h.check(exact == wantExact,
        s"corpus shard $s exact dedup: ${(exact -- wantExact).size} extra, ${(wantExact -- exact).size} missing")
      seen ++= exact.map(id => Corpus.normalize(text(id)))
      // near dedup: every planted cluster collapses to one document and
      // nothing outside the clusters is dropped
      val clusters = corpus.clusters(s).map(_.filter(exact))
      clusters.foreach { c =>
        h.check(c.size <= 1 || c.count(kept) == 1,
          s"corpus shard $s near-duplicate cluster $c kept ${c.filter(kept)}")
      }
      val wantKept = exact -- clusters.flatMap(c => c.toSeq.sorted.drop(1))
      h.check(kept == wantKept,
        s"corpus shard $s near dedup: ${(kept -- wantKept).size} extra, ${(wantKept -- kept).size} missing")
    }
    h.check(clean.countRows() == cleanRows, s"corpus clean rows: ${clean.countRows()} vs $cleanRows")
    val (missing, extra) = mirror.differences()
    h.check(missing == 0 && extra == 0,
      s"corpus mirror differs from the clean collection: $missing rows missing, $extra extra")
  }

  def storage(h: Harness): (Long, Long) = (Host.duBytes(clean.root), clean.countRows())

  def extraMetrics(traced: Boolean, seconds: Double): Seq[(String, Double, String, Int)] =
    Seq(("docs_per_s", docs(traced) / math.max(seconds, 1e-9), "docs/s", docs(traced).toInt))
}

/** The seeded corpus. Shard `s` holds `n` documents with ids
  * `s * 1000000 + j`, laid out by `j`:
  *
  *  - the first 70% are prose: 40 words drawn from a seeded vocabulary
  *    with stop words mixed in;
  *  - 5% are junk the quality gate drops (punctuation runs);
  *  - 5% repeat a prose document of the same shard, capitalized and
  *    spaced differently, which the fingerprint normalizes away;
  *  - 5% repeat a prose document of the shard before the same way;
  *  - 15% are near duplicates: two per planted cluster, each a prose
  *    document of the shard with one different word. */
final case class Corpus(seed: Long, n: Int) {
  private val Stop = Array("the", "of", "and", "to", "in", "is", "that", "for")
  private val vocab: Array[String] = Array.tabulate(4000) { w =>
    val len = 4 + Gen.below(seed, 60, w, 5).toInt
    (0 until len).map(c => ('a' + Gen.below(seed, 61, w * 16L + c, 26)).toChar).mkString
  }
  private val proseEnd = n * 70 / 100
  private val junkEnd = n * 75 / 100
  private val sameEnd = n * 80 / 100
  private val prevEnd = n * 85 / 100

  private def id(s: Int, j: Int): Long = s * 1000000L + j

  private def words(s: Int, j: Int): Array[String] = Array.tabulate(40) { p =>
    val r = Gen.hash(seed, 62, id(s, j) * 64 + p)
    if (p % 5 == 2) Stop(java.lang.Long.remainderUnsigned(r, Stop.length).toInt)
    else vocab(java.lang.Long.remainderUnsigned(r, vocab.length).toInt)
  }
  private def prose(s: Int, j: Int): String = words(s, j).mkString(" ")
  private def restyled(t: String): String = "  " + t.capitalize.replace(" ", "   ") + " "
  private def proseIndex(s: Int, j: Int, stream: Long): Int =
    Gen.below(seed, stream, id(s, j), proseEnd).toInt
  /** Near-duplicate slot `j`: the cluster's prose document and the
    * position of the word it changes. */
  private def nearOf(j: Int): (Int, Int) = {
    val c = (j - prevEnd) / 2
    (c, 1 + 20 * ((j - prevEnd) % 2) + (c % 18))
  }

  def text(s: Int, j: Int): String =
    if (j < proseEnd) prose(s, j)
    else if (j < junkEnd) Seq.fill(30)("!?#").mkString(" ")
    else if (j < sameEnd) restyled(prose(s, proseIndex(s, j, 63)))
    else if (j < prevEnd) {
      if (s == 0) prose(s, proseIndex(s, j, 64)) + " again"
      else restyled(prose(s - 1, proseIndex(s, j, 64)))
    } else {
      val (base, pos) = nearOf(j)
      val ws = words(s, base)
      ws(pos) = vocab(Gen.below(seed, 65, id(s, j), vocab.length).toInt) + "x"
      ws.mkString(" ")
    }

  def shard(s: Int): Seq[(Long, Int, String)] = (0 until n).map(j => (id(s, j), s, text(s, j)))

  /** The id of the `t`-th document a takedown request names in shard
    * `s`: a prose document. */
  def takedown(s: Int, t: Int): Long = id(s, Gen.below(seed, 66, id(s, t), proseEnd).toInt)

  /** What the quality gate must keep: everything but the junk. */
  def isProse(t: String): Boolean = !t.startsWith("!?#")

  /** The planted near-duplicate clusters of shard `s`: a prose document
    * and its two variants. */
  def clusters(s: Int): Seq[Set[Long]] =
    (prevEnd until n).groupBy(j => nearOf(j)._1).toSeq.map { case (c, js) =>
      js.map(id(s, _)).toSet + id(s, c)
    }
}

object Corpus {
  /** The text the fingerprint hashes: trimmed, lower case, single spaces. */
  def normalize(t: String): String = t.trim.replaceAll("\\s+", " ").toLowerCase
}
