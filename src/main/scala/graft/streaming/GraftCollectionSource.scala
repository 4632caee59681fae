package graft.streaming

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

import graft.core.{Collection, FilterExpr}

/** Manifest-consistent streaming source over a graft [[Collection]].
  *
  * Offsets ARE manifest generations: micro-batch `(start, end]` scans
  * exactly the files that manifests `start+1..end` committed — the file
  * set of `end`'s manifest minus the file set of `start`'s. Readers
  * therefore inherit the batch path's snapshot isolation (reference
  * icechunk_store.py:159-170 session isolation):
  *
  *  - crash orphans (files written by a writer that died before its
  *    manifest commit) are in NO manifest — never streamed;
  *  - with `retainGenerations > 0`, files REPLACED by a later commit but
  *    kept on disk for time travel are absent from newer manifests —
  *    a fresh stream starting at the current generation never sees them
  *    (a directory-listing source would ingest old + new copies);
  *  - a replace commit streams only its NEW files: streams are
  *    append-logs, replaced rows are not retracted (same contract as any
  *    file stream; use batch [[Collection.query]] for replace-heavy
  *    collections).
  *
  * Discovery cost per trigger is one `_manifest/` LIST + at most one
  * small JSON read — no data-directory walk, unlike Spark's file stream
  * source whose per-trigger directory listing is the well-known
  * object-store bottleneck at 10^6-file scale.
  *
  * `maxGenerationsPerBatch` rate-limits backfill: a fresh stream over a
  * long-lived collection replays history at most that many commits per
  * micro-batch instead of ingesting the whole snapshot in one giant
  * batch (the `maxFilesPerTrigger` idea, expressed in generations — the
  * first batch reads the snapshot AT generation `maxGens`, each later
  * batch one bounded manifest diff). The cap needs no side metadata to
  * survive restarts: offsets are generations, and the engine replays the
  * checkpointed range through [[getBatch]] before asking for new
  * offsets, which re-seeds the pacing position.
  *
  * `maxFilesPerBatch` / `maxBytesPerBatch` (r12) pace BELOW generation
  * granularity — Delta's `maxFilesPerTrigger`/`maxBytesPerTrigger`. One
  * bulk backfill commit is no longer one indivisible micro-batch:
  * offsets widen to [[GraftStreamOffset]] `(generation, fileOrdinal)`
  * over the generation's deterministic (sorted) file list, so an
  * oversized commit streams as k bounded batches and a restart resumes
  * mid-commit exactly-once. Byte accounting reads the manifest's
  * per-file sizes — zero filesystem calls. Invariants that keep replay
  * sound: a PARTIAL batch never spans generations (its files all live in
  * one manifest), while batches spanning several COMPLETE generations
  * keep using the range manifest-diff (which cancels add-then-replace
  * within the range). Caps are best-effort per batch: at least one file
  * always admits (progress), and a file with no recorded size counts 0
  * bytes. Not applicable to the change feed (row-granular diffs have no
  * file ordinal — the source refuses the combination).
  *
  * This source implements [[org.apache.spark.sql.connector.read
  * .streaming.SupportsTriggerAvailableNow]] ITSELF (r13, the KafkaSource
  * pattern), so Trigger.AvailableNow pins the HEAD generation at trigger
  * start and a paced run drains to it across k bounded batches in one
  * trigger — Spark's generic V1 wrapper (which snapshots one getOffset
  * and would stop after the first bounded batch) never engages. Offset
  * polling rides the [[org.apache.spark.sql.connector.read.streaming
  * .SupportsAdmissionControl]] entry (`latestOffset(start, limit)`), so
  * engine-composed standard ReadLimits pace this face exactly like the
  * DSv2 one, and restarts pace from the engine-provided start offset. */
class GraftCollectionSource(spark: SparkSession, root: String,
                            maxGenerationsPerBatch: Option[Long] = None,
                            filters: Option[String] = None,
                            changeFeed: Boolean = false,
                            startingGeneration: Option[Long] = None,
                            startingTimestamp: Option[Long] = None,
                            maxFilesPerBatch: Option[Long] = None,
                            maxBytesPerBatch: Option[Long] = None)
    extends Source
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  private[streaming] val collection = Collection.open(spark, root, readOnly = true)

  /** File/byte admission control active — offsets may go sub-generation. */
  private[streaming] val filePacing: Boolean =
    maxFilesPerBatch.isDefined || maxBytesPerBatch.isDefined

  maxFilesPerBatch.foreach(m => require(m > 0,
    s"maxFilesPerBatch must be positive, got $m"))
  maxBytesPerBatch.foreach(m => require(m > 0,
    s"maxBytesPerBatch must be positive, got $m"))
  require(!filePacing || !changeFeed,
    "maxFilesPerBatch/maxBytesPerBatch pace FILE delivery and do not apply to " +
    "the change feed (row-granular diffs have no file ordinal) — pace a CDC " +
    "stream with maxGenerationsPerBatch instead")

  // A pure compaction no longer re-delivers (rewrite-marked commits skip
  // the diff), but auto-compaction with retainGenerations=0 DELETES the
  // fragmented files at commit time — a batch scheduled before the
  // compaction can lose its inputs mid-read. Surface the hazard once.
  if (collection.autoCompactFiles > 0 && collection.retainGenerations == 0)
    org.slf4j.LoggerFactory.getLogger(getClass).warn(
      s"graft source over $root: collection auto-compacts " +
      s"(autoCompactFiles=${collection.autoCompactFiles}) with no retention " +
      "window — a micro-batch racing a compaction may fail reading replaced " +
      "files. Set retainGenerations > 0 for streaming readers.")

  /** Pushed-down filter ([[FilterExpr]] mini-language, the batch
    * `query(filters)` syntax): each micro-batch's manifest-diff file set
    * drops whole partitions the filter can't match, then files whose
    * manifest zone maps can't overlap, then bloom-proven misses — a
    * windowed stream over a retention-heavy collection never schedules
    * (or even lists) the non-overlapping files a commit brought in. Rows
    * are still filtered exactly by the compiled predicate on top.
    * Parsed + name-checked at stream START, so a typo fails the query
    * immediately, not on the first matching batch. */
  private[streaming] val filterAst: FilterExpr.Ast = {
    val ast = FilterExpr.parse(filters.orNull)
    collection.requireKnownNames(ast)
    if (changeFeed) FilterExpr.names(ast).foreach(n => require(
      collection.schema.fieldNames.contains(n),
      s"change-feed filters see DATA columns only; '$n' is partition-derived " +
      "(the CDC diff excludes partition columns — rewrites may reassign them)"))
    ast
  }

  /** Data schema PINNED at stream start: the engine requires every batch
    * to match it even as the collection evolves mid-stream. Batches are
    * read under this schema directly, so a column dropped mid-stream
    * keeps serving its on-disk data and a column added mid-stream stays
    * invisible until restart. */
  private[streaming] val pinnedDataSchema = collection.schema

  override val schema: StructType =
    if (!changeFeed) collection.readSchema
    else StructType(pinnedDataSchema.fields :+
      org.apache.spark.sql.types.StructField(
        Collection.ChangeTypeCol, org.apache.spark.sql.types.StringType, nullable = false))

  private def gen(o: Offset): Long = o match {
    case l: LongOffset => l.offset
    case other         => other.json.trim.toLong // SerializedOffset on restart
  }

  /** Where the stream BEGINS (Delta `startingVersion`/`startingTimestamp`):
    * 0 = the full starting snapshot (default); a generation G = deliver
    * only commits AFTER G — the first batch is the manifest diff
    * `(G, head]`, no snapshot backfill. A timestamp resolves to the
    * latest generation committed at or before it ([[Collection
    * .generationAsOf]]; before all history = 0 = everything). */
  private val startBase: Long = {
    require(startingGeneration.isEmpty || startingTimestamp.isEmpty,
      "set startingGeneration or startingTimestamp, not both")
    startingGeneration.map { g =>
      require(collection.generations().contains(g),
        s"startingGeneration $g is not a committed generation at $root")
      g
    }.orElse(startingTimestamp.map(ts => collection.generationAsOf(ts).getOrElse(0L)))
      .getOrElse(0L)
  }

  /** Highest position handed to [[getBatch]] so far — the pacing
    * position for `maxGenerationsPerBatch` and the file/byte caps
    * (re-seeded on restart by the engine's checkpointed-batch replay;
    * seeded at [[startBase]] so a started-from-offset stream paces from
    * there, not from a snapshot). Without file pacing this is always a
    * COMPLETE offset — a bare generation, exactly the legacy state. */
  @volatile private var pacedPos: GraftStreamOffset =
    GraftStreamOffset.complete(startBase)

  private def pacedThrough: Long = pacedPos.gen

  /** Latest committed generation — one directory LIST, no data walk —
    * capped `maxGenerationsPerBatch` commits past the last batch; with
    * file/byte caps, the next [[GraftStreamOffset]] position instead. */
  override def getOffset: Option[Offset] = {
    if (filePacing) return nextPaced(pacedPos, capGen = None)
    val head = collection.generation
    val capped = maxGenerationsPerBatch.fold(head) { m =>
      val paced = math.min(head, pacedThrough + m)
      if (pacedThrough > 0L) paced
      else
        // FIRST paced batch: its end offset is read as a full snapshot,
        // and a snapshot whose files a LATER commit replaced may already
        // be GC'd (retainGenerations=0 deletes replaced files right
        // after the replacing commit; retention-kept ones expire via
        // vacuum once outside the window). Clamp the backfill start to
        // the oldest snapshot guaranteed on disk — append-only
        // histories never clamp (nothing is ever deleted), and a paced
        // backfill across replace commits needs retainGenerations sized
        // to cover the window.
        math.max(paced, backfillFloor)
    }
    if (capped <= math.max(0L, startBase)) None else Some(LongOffset(capped))
  }

  // ---- SupportsAdmissionControl / SupportsTriggerAvailableNow (r13) ----
  // The engine prefers this entry over getOffset when a Source declares
  // it (exactly KafkaSource's arrangement). Benefits on this V1 face:
  // restarts pace from the ENGINE-provided start offset, standard
  // ReadMaxFiles/ReadMaxBytes limits compose with the source options,
  // and Trigger.AvailableNow drains a paced stream to a pinned head
  // instead of stopping after one bounded batch.

  @volatile private var availableNowTarget: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(collection.generation)

  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit = {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val limits = Seq(
      maxFilesPerBatch.map(v => ReadLimit.maxFiles(math.min(v, Int.MaxValue.toLong).toInt)),
      maxBytesPerBatch.map(ReadLimit.maxBytes)).flatten
    limits match {
      case Seq()  => ReadLimit.allAvailable()
      case Seq(l) => l
      case ls     => ReadLimit.compositeLimit(ls.toArray)
    }
  }

  /** Effective (files, bytes) caps of an engine-provided ReadLimit,
    * composed with the source options (tightest wins) — the same walk
    * as the DSv2 face. */
  private def capsOf(limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : (Long, Long) = {
    import org.apache.spark.sql.connector.read.streaming.{
      CompositeReadLimit, ReadLimit, ReadMaxBytes, ReadMaxFiles}
    def walk(l: ReadLimit): (Long, Long) = l match {
      case f: ReadMaxFiles => (f.maxFiles().toLong, Long.MaxValue)
      case b: ReadMaxBytes => (Long.MaxValue, b.maxBytes())
      case c: CompositeReadLimit =>
        c.getReadLimits.map(walk).foldLeft((Long.MaxValue, Long.MaxValue)) {
          case ((af, ab), (f, b)) => (math.min(af, f), math.min(ab, b))
        }
      case _ => (Long.MaxValue, Long.MaxValue)
    }
    val (lf, lb) = walk(limit)
    (math.min(lf, maxFilesPerBatch.getOrElse(Long.MaxValue)),
      math.min(lb, maxBytesPerBatch.getOrElse(Long.MaxValue)))
  }

  private def toOff(o: org.apache.spark.sql.connector.read.streaming.Offset)
      : GraftStreamOffset = o match {
    case null                 => GraftStreamOffset.Initial
    case g: GraftStreamOffset => g
    case l: LongOffset        => GraftStreamOffset.complete(l.offset)
    case other                => GraftStreamOffset.parse(other.json)
  }

  /** The admission-control poll: null = no progress available (exactly
    * getOffset's None). Paced shapes answer from [[nextPaced]] against
    * the monotonic [[pacedPos]] floor (re-seeded here from the engine's
    * start offset, so restarts never regress); the unpaced/generation
    * path reproduces the legacy [[getOffset]] arithmetic with the
    * AvailableNow head pin applied. pacedPos itself advances only in
    * [[getBatch]], keeping repeated polls for one batch idempotent. */
  override def latestOffset(startOffset: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset = {
    val base = toOff(startOffset)
    if (base.gen > 0 || !base.complete) paceTo(base)
    val (maxF, maxB) = capsOf(limit)
    if (filePacing || maxF != Long.MaxValue || maxB != Long.MaxValue)
      return nextPaced(pacedPos, availableNowTarget, maxF, maxB).orNull
    val head0 = collection.generation
    val head = availableNowTarget.fold(head0)(math.min(head0, _))
    val capped = maxGenerationsPerBatch.fold(head) { m =>
      val paced = math.min(head, pacedThrough + m)
      if (pacedThrough > 0L) paced else math.max(paced, backfillFloor)
    }
    if (capped <= math.max(0L, math.max(startBase, pacedThrough))) null
    else GraftStreamOffset.complete(capped)
  }

  /** Oldest generation whose snapshot is guaranteed fully on disk,
    * computed once at the first paced offset. Walk adjacent root-table
    * diffs DOWNWARD from `head - retainGenerations` (removals newer than
    * that are retention-protected: some retained snapshot still
    * references the file, so vacuum keeps it) and stop at the newest
    * commit that REMOVED files — snapshots older than it may reference
    * GC'd bytes. Conservative (the removed file might postdate a given
    * older snapshot) and cheap: per generation one root-table compare
    * plus file lists of only the CHANGED subtrees — the same diffs the
    * paced [[getBatch]] replay performs anyway. */
  private lazy val backfillFloor: Long = {
    val head = collection.generation
    var g = head - collection.retainGenerations
    while (g >= 1L && !commitRemovedFiles(
             collection.manifestAt(g - 1), collection.manifestAt(g)))
      g -= 1L
    math.max(g, 0L)
  }

  /** Did the commit `lo -> hi` remove any file `lo` referenced?
    * (Content-addressed shard names: unchanged subtrees compare by name
    * alone; only changed ones load their file lists.) */
  private def commitRemovedFiles(lo: Collection.Manifest, hi: Collection.Manifest): Boolean = {
    val hiByPrefix = hi.shards.map(e => e.prefix -> e).toMap
    lo.shards.exists { e =>
      hiByPrefix.get(e.prefix) match {
        case None    => true // whole subtree dropped
        case Some(h) =>
          h.file != e.file && {
            val hiFiles = hi.shardFiles(h).toSet
            lo.shardFiles(e).exists(f => !hiFiles.contains(f))
          }
      }
    }
  }

  /** Parse any engine-provided offset (our composite, the legacy
    * LongOffset, or a SerializedOffset replayed from a checkpoint). */
  private def off(o: Offset): GraftStreamOffset = o match {
    case g: GraftStreamOffset => g
    case l: LongOffset        => GraftStreamOffset.complete(l.offset)
    case other                => GraftStreamOffset.parse(other.json)
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val endOff = off(end)
    if (changeFeed) { pace(endOff); return getChangeBatch(start, endOff.gen) }
    val (endMan, pruned) = batchFilesAt(start.map(off), endOff)
    // MicroBatchExecution requires getBatch's plan to be flagged streaming
    // (the same flip FileStreamSource applies to the relation it builds)
    val batch = org.apache.spark.sql.graftshim.StreamingShim.asStreamingBatch(
      collection.readManifestFiles(endMan, pruned,
        schemaOverride = Some(pinnedDataSchema)))
    filterAst match {
      case FilterExpr.True => batch
      case ast             => batch.where(FilterExpr.toColumn(ast))
    }
  }

  private def pace(endGen: Long): Unit =
    pace(GraftStreamOffset.complete(endGen))

  private def pace(o: GraftStreamOffset): Unit = synchronized {
    if (!(pacedPos >= o)) pacedPos = o
  }

  /** Re-seed the pacing mark from a checkpointed offset — the DSv2
    * stream calls this from `deserializeOffset` on restart (there is no
    * V1-style getBatch replay to re-seed it implicitly). */
  private[streaming] def paceTo(o: GraftStreamOffset): Unit = pace(o)

  private[streaming] def pacedPosition: GraftStreamOffset = pacedPos

  /** The append-path micro-batch FILE set for offsets `(start, end]`:
    * the content-addressed shard diff, the compaction-rewrite skip, and
    * the filter-pushdown pruning — shared by the V1 [[getBatch]] and
    * the DSv2 [[GraftMicroBatchStream]] (which plans the same files as
    * native parquet input partitions). Also advances the pacing mark. */
  private[streaming] def batchFiles(startOffsetGen: Option[Long],
                                    endGen: Long): (Collection.Manifest, Seq[String]) = {
    pace(endGen)
    val endMan = collection.manifestAt(endGen)
    // a configured starting offset turns the would-be snapshot batch
    // into a plain manifest diff from that generation
    val startGenOpt = startOffsetGen
      .orElse(if (startBase > 0L) Some(startBase) else None)
    val newFiles = rangeDiffFiles(startGenOpt, endGen, endMan)
    // pushdown: partition + zone-map + bloom pruning over the diffed
    // files — a commit whose files all fall outside the filter becomes
    // an EMPTY batch without scheduling a single task
    val pruned = filterAst match {
      case FilterExpr.True => newFiles
      case ast             => collection.pruneFilesForRead(endMan, newFiles, ast)
    }
    (endMan, pruned)
  }

  /** The raw (unpruned) append-path file set for offsets `(start, end]`:
    * the content-addressed shard diff and the compaction-rewrite skip.
    * `None` start = the full snapshot at `endGen`. */
  private def rangeDiffFiles(startGenOpt: Option[Long], endGen: Long,
                             endMan: Collection.Manifest): Seq[String] = {
    // shard-level diff: shard files are content-addressed, so a subtree
    // untouched between the two generations keeps its shard NAME — only
    // changed subtrees load their file lists. A commit touching one
    // partition of a 10^7-file collection costs one shard read per side.
    startGenOpt match {
      case None => endMan.files
      case Some(startGen) =>
        val startMan = collection.manifestAt(startGen)
        // partitions some in-range commit rewrote content-preserving
        // (compact / auto-compact): their fresh files carry only rows the
        // stream already delivered — skip them when the row totals prove
        // nothing else changed. SOUNDNESS: the skip applies only when
        // EVERY in-range commit is rewrite-marked — a mixed range (e.g.
        // an update/upsert sharing the window with a compaction) could
        // hide a count-preserving CONTENT change behind unchanged totals,
        // so it falls back to full delivery (at-least-once, never loss).
        // One cached root-JSON read per generation.
        val rangeGens = (startGen + 1L) to endGen
        val allRewrites = endGen > startGen &&
          rangeGens.forall(g => collection.manifestAt(g).rewrites.nonEmpty)
        val rewritten: Set[String] =
          if (!allRewrites) Set.empty
          else rangeGens.iterator
            .flatMap(g => collection.manifestAt(g).rewrites).toSet
        // CROSS-partition rewrite (changePartitioning moves rows to new
        // partition paths): the per-partition totals below can't match,
        // but when EVERY in-range commit is rewrite-marked and the
        // GLOBAL row totals agree, the range replaced exactly the
        // already-delivered content — deliver nothing. (The marker is
        // the soundness carrier: only content-preserving commits set
        // it; totals are the double-check. Unknown totals fall through
        // to per-partition handling — at-least-once, never loss.)
        if (allRewrites) {
          def total(m: Collection.Manifest): Option[Long] = {
            val ts = m.shards.map(_.rowTotal)
            if (ts.forall(_.isDefined)) Some(ts.flatten.sum) else None
          }
          (total(startMan), total(endMan)) match {
            case (Some(a), Some(b)) if a == b => return Nil
            case _ => ()
          }
        }
        val startNames = startMan.shards.map(_.file).toSet
        val startByPrefix = startMan.shards.map(e => e.prefix -> e).toMap
        endMan.shards.filterNot(e => startNames.contains(e.file)).flatMap { e =>
          val od = startByPrefix.get(e.prefix).map(startMan.shardData)
          val oldByPart = od.map(_.files.groupBy(Collection.parentRel))
            .getOrElse(Map.empty[String, Seq[String]])
          val oldRows = od.map(_.rows).getOrElse(Map.empty[String, Long])
          val nd = endMan.shardData(e)
          nd.files.groupBy(Collection.parentRel).toSeq.flatMap { case (part, files) =>
            val old = oldByPart.getOrElse(part, Nil)
            val oldSet = old.toSet
            val added = files.filterNot(oldSet)
            if (added.isEmpty) Nil
            else if (!rewritten.contains(part)) added
            else {
              // row totals present on both sides and unchanged => the
              // rewrite replaced exactly the already-delivered content.
              // Changed/unknown totals fall back to delivering the
              // added files (at-least-once, the pre-marker behavior).
              val or = old.map(oldRows.get)
              val nr = files.map(nd.rows.get)
              if (or.forall(_.isDefined) && nr.forall(_.isDefined) &&
                  or.flatten.sum == nr.flatten.sum) Nil
              else added
            }
          }
        }
    }
  }

  /** Deterministic per-generation file list for the file/byte pacer:
    * `snap` = the full snapshot at `g` (a fresh stream's first batch),
    * else the manifest diff `(g-1, g]` (rewrite-skip included, so a
    * pure-compaction generation lists empty). Sorted — the list is what
    * [[GraftStreamOffset.ord]] indexes, so it must be identical across
    * restarts and re-plans. Tiny memo: the pacer and the batch planner
    * both read the current generation's list several times. */
  private val genListCache =
    new java.util.concurrent.ConcurrentHashMap[(Long, Boolean), Seq[String]]()

  private[streaming] def genList(g: Long, snap: Boolean): Seq[String] = {
    if (genListCache.size > 8) genListCache.clear()
    genListCache.computeIfAbsent((g, snap), key => {
      val (gg, sn) = key
      val man = collection.manifestAt(gg)
      (if (sn) man.files else rangeDiffFiles(Some(gg - 1L), gg, man)).sorted
    })
  }

  private def listBytes(g: Long, files: Seq[String]): Long =
    collection.manifestAt(g).bytesForFiles(files).values.sum

  /** How many files of `list` (from index `from`) the caps admit — at
    * least one if any remain (progress guarantee: a single file larger
    * than the byte cap still streams, alone in its batch). */
  private def takeCapped(list: Seq[String], g: Long, from: Int,
                         maxF: Long, maxB: Long): Int = {
    val rest = list.drop(from)
    if (rest.isEmpty) return 0
    val sizes =
      if (maxB == Long.MaxValue) Map.empty[String, Long]
      else collection.manifestAt(g).bytesForFiles(rest)
    var n = 0; var b = 0L
    val it = rest.iterator
    while (it.hasNext) {
      val fb = sizes.getOrElse(it.next(), 0L)
      if (n.toLong >= maxF || (n > 0 && b + fb > maxB)) return n
      n += 1; b += fb
    }
    n
  }

  /** The next end offset under the file/byte caps, from position `cur`
    * (`capGen` pins Trigger.AvailableNow's drain target). Shapes:
    *  - mid-generation: continue THIS generation's list, never crossing
    *    the boundary — partial batches stay single-generation, so every
    *    delivered file provably lives in the batch's end manifest;
    *  - fresh start: pick the snapshot generation exactly as the legacy
    *    pacer does (generation cap + backfill floor), then split its
    *    snapshot list;
    *  - at a generation boundary: admit whole generations while under
    *    the caps (delivered via the range diff, which cancels
    *    add-then-replace); if the FIRST new generation alone exceeds
    *    them, split it. */
  private[streaming] def nextPaced(cur: GraftStreamOffset,
                                   capGen: Option[Long]): Option[GraftStreamOffset] =
    nextPaced(cur, capGen,
      maxFilesPerBatch.getOrElse(Long.MaxValue),
      maxBytesPerBatch.getOrElse(Long.MaxValue))

  /** The cap-parameterized form: the DSv2 face passes the tighter of
    * the source options and the ENGINE-provided [[org.apache.spark.sql
    * .connector.read.streaming.ReadLimit]] (r12 — standard
    * `ReadMaxFiles`/`ReadMaxBytes` limits pace this source too). */
  private[streaming] def nextPaced(cur0: GraftStreamOffset, capGen: Option[Long],
                                   maxF: Long, maxB: Long): Option[GraftStreamOffset] = {
    // A started-from-offset stream paces from startBase, never behind it:
    // the DSv2 face seeds its position at Initial (gen -1), so without
    // this clamp startingGeneration/startingTimestamp + file caps would
    // fall into the boundary path at first = 0 and open manifestAt(-1).
    // (The V1 face seeds pacedPos at complete(startBase) and never hits
    // this; the clamp makes both faces agree.)
    val cur =
      if (cur0.complete && cur0.gen < startBase) GraftStreamOffset.complete(startBase)
      else cur0
    val head = capGen.fold(collection.generation)(math.min(collection.generation, _))
    if (!cur.complete) {
      val list = genList(cur.gen, cur.snap)
      val taken = takeCapped(list, cur.gen, cur.ord.toInt, maxF, maxB)
      val nextOrd = cur.ord + taken
      return Some(
        if (nextOrd >= list.size) GraftStreamOffset.complete(cur.gen)
        else GraftStreamOffset(cur.gen, nextOrd, cur.snap))
    }
    if (cur.gen <= 0L && startBase == 0L) {
      // fresh start: the first batch is the snapshot at the legacy
      // pacer's generation choice (see getOffset), file-split if needed
      val capped0 = maxGenerationsPerBatch.fold(head) { m =>
        math.max(math.min(head, m), backfillFloor)
      }
      val capped = math.min(capped0, head)
      if (capped <= 0L) return None
      val list = genList(capped, snap = true)
      val taken = takeCapped(list, capped, 0, maxF, maxB)
      return Some(
        if (taken >= list.size) GraftStreamOffset.complete(capped)
        else GraftStreamOffset(capped, taken.toLong, snap = true))
    }
    val genCap = maxGenerationsPerBatch.fold(head)(m => math.min(head, cur.gen + m))
    if (genCap <= cur.gen) return None
    val first = cur.gen + 1L
    val firstList = genList(first, snap = false)
    val firstTaken = takeCapped(firstList, first, 0, maxF, maxB)
    if (firstTaken < firstList.size)
      return Some(GraftStreamOffset(first, firstTaken.toLong, snap = false))
    var files = firstList.size.toLong
    var bytes = if (maxB == Long.MaxValue) 0L else listBytes(first, firstList)
    var last = first
    while (last < genCap) {
      val nl = genList(last + 1L, snap = false)
      val nb = if (maxB == Long.MaxValue) 0L else listBytes(last + 1L, nl)
      if (files + nl.size > maxF || bytes + nb > maxB)
        return Some(GraftStreamOffset.complete(last))
      files += nl.size; bytes += nb; last += 1L
    }
    Some(GraftStreamOffset.complete(last))
  }

  /** Offset-range file planner shared by the V1 [[getBatch]] and the
    * DSv2 [[GraftMicroBatchStream.planInputPartitions]]. Complete-to-
    * complete ranges take the proven range-diff path ([[batchFiles]],
    * byte-identical to pre-r12 behavior); any partial endpoint means a
    * single-generation slice of the deterministic [[genList]]. */
  private[streaming] def batchFilesAt(startOpt: Option[GraftStreamOffset],
                                      end: GraftStreamOffset)
      : (Collection.Manifest, Seq[String]) = {
    val start = startOpt.filter(_.gen >= 0L)
    if (start.forall(_.complete) && end.complete)
      return batchFiles(start.map(_.gen), end.gen)
    pace(end)
    val g = end.gen
    val endMan = collection.manifestAt(g)
    val (snapFlag, from) = start match {
      case Some(s) if !s.complete =>
        require(s.gen == g,
          s"partial offset ranges are single-generation: $s -> $end")
        (s.snap, s.ord.toInt)
      case _ =>
        require(!end.complete,
          s"batchFilesAt reached with complete endpoints: $start -> $end")
        (end.snap, 0)
    }
    val list = genList(g, snapFlag)
    val to = if (end.complete) list.size else end.ord.toInt
    val slice = list.slice(from, to)
    val pruned = filterAst match {
      case FilterExpr.True => slice
      case ast             => collection.pruneFilesForRead(endMan, slice, ast)
    }
    (endMan, pruned)
  }

  /** CDC micro-batch: the row-level [[Collection.changes]] diff between
    * the two offsets' snapshots (Delta CDF streaming reads). The FIRST
    * batch is the starting snapshot delivered as pure inserts (zero
    * diffing); later batches pay the file-granular `exceptAll`, bounded
    * by the range's own added/removed files — an append-only commit
    * range again reads only its new files, and a pure compaction cancels
    * to an empty batch. Unlike the append path, REPLACED rows surface
    * here as 'delete' records: this is the mode for replace-heavy
    * collections (the append path warns and re-delivers or skips).
    *
    * The batch plan is collapsed behind one streaming-flagged RDD leaf
    * ([[StreamingShim.batchPlanAsStreamingLeaf]]): the diff's
    * `exceptAll` must not surface in the streaming plan, where it would
    * read as an unsupported stream-stream set operation. The `filters`
    * option applies as a ROW predicate on the diff result only — the
    * same predicate lands on both diff sides so the verdict is exact,
    * but file-level pruning must NOT run before the diff (dropping a
    * file from one side would surface its carried rows as phantom
    * changes). Requires the start snapshot readable: serve CDC from
    * collections with `retainGenerations` sized to the trigger
    * interval. */
  private def getChangeBatch(start: Option[Offset], endGen: Long): DataFrame = {
    val outCols = pinnedDataSchema.fieldNames.toSeq :+ Collection.ChangeTypeCol
    val startGenOpt = start.map(gen)
      .orElse(if (startBase > 0L) Some(startBase) else None)
    val batch = startGenOpt match {
      case None =>
        collection.readManifestFiles(collection.manifestAt(endGen),
            collection.manifestAt(endGen).files,
            schemaOverride = Some(pinnedDataSchema))
          .withColumn(Collection.ChangeTypeCol,
            org.apache.spark.sql.functions.lit("insert"))
      case Some(startGen) =>
        collection.changesAs(startGen, endGen, Some(pinnedDataSchema))
    }
    val selected = batch.select(outCols.map(org.apache.spark.sql.functions.col): _*)
    val filtered = filterAst match {
      case FilterExpr.True => selected
      case ast             => selected.where(FilterExpr.toColumn(ast))
    }
    org.apache.spark.sql.graftshim.StreamingShim.batchPlanAsStreamingLeaf(filtered)
  }

  override def stop(): Unit = ()

  override def toString: String = s"GraftCollectionSource[$root]"
}

/** The `"graft"` format, registered for BOTH engines:
  * {{{
  *   spark.read.format("graft").load(root)                  // batch, pushdown
  *   df.write.format("graft").mode("append").save(root)     // Concat insert
  *   spark.readStream.format("graft").option("root", root)  // streaming
  * }}}
  * Batch reads resolve through the [[org.apache.spark.sql.connector
  * .catalog.TableProvider]] face to the path-face
  * [[graft.sources.GraftTable]] (data-source filters prune via the skip
  * layers); batch writes insert into an EXISTING collection
  * (`Collection.create` declares schema, axis and partitioning — a bare
  * parquet path can't): `append` = Concat; `overwrite` honors
  * `spark.sql.sources.partitionOverwriteMode` — STATIC (the session
  * default) truncates the whole collection in one atomic commit,
  * DYNAMIC replaces only colliding partitions (writer option
  * `partitionOverwriteMode` overrides the conf per write); `ignore` =
  * no-op, `errorifexists` = refuse. There is no V1 read relation: a
  * session that lists graft in `spark.sql.sources.useV1SourceList`
  * cannot read graft. */
class GraftCollectionSourceProvider extends StreamSourceProvider with DataSourceRegister
    with org.apache.spark.sql.sources.CreatableRelationProvider
    with org.apache.spark.sql.sources.StreamSinkProvider
    with org.apache.spark.sql.connector.catalog.TableProvider {

  // --- DSv2 TableProvider face (r10) --------------------------------
  //
  // `spark.read.format("graft").load(root)` resolves through HERE,
  // handing the analyzer the same GraftTable the catalog face uses —
  // so path-based reads get the native vectorized BatchScan (fills,
  // renames and AS OF included), filtered metadata-aggregate pushdown,
  // and exact statistics. The path face (GraftTable.pathFace)
  // advertises no BATCH_WRITE: DataFrameWriter falls back to this
  // class's CreatableRelationProvider (preserving `ignore`,
  // `errorifexists` and dynamic partition overwrite), and
  // DataStreamReader/Writer see no streaming capability and keep the
  // V1 change-feed source and exactly-once sink. Time travel arrives
  // as read options (versionAsOf / timestampAsOf / tagAsOf).

  /** TRUE so a user-supplied `.schema(s)` reaches [[getTable]] instead
    * of throwing in `DataSourceV2Utils.getTableFromProvider` — the
    * pre-r10 V1 faces ACCEPTED (and ignored) a passed schema
    * (`sourceSchema` returns the collection schema regardless), and
    * `spark.readStream.format("graft").schema(s)...` must keep
    * working. [[getTable]] keeps that exact contract: the collection's
    * own manifest schema is authoritative. */
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : org.apache.spark.sql.types.StructType = {
    val spark = org.apache.spark.sql.SparkSession.active
    val root = pathFaceRoot(options)
    graft.sources.GraftChangesTable
      .resolveRange(spark, root, k => Option(options.get(k)))
      .map { case (f, t) => new graft.sources.GraftChangesTable(spark, root, f, t).schema() }
      .getOrElse(Collection.open(spark, root, readOnly = true).schema)
  }

  override def getTable(
      schema: org.apache.spark.sql.types.StructType,
      partitioning: Array[org.apache.spark.sql.connector.expressions.Transform],
      properties: java.util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.Table = {
    val spark = org.apache.spark.sql.SparkSession.active
    val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(properties)
    val root = pathFaceRoot(opts)
    // batch change-feed reads (readChangeFeed=true, r10d) plan the
    // generation-diff table instead of the snapshot scan
    graft.sources.GraftChangesTable
      .resolveRange(spark, root, k => Option(opts.get(k)))
      .map { case (f, t) =>
        new graft.sources.GraftChangesTable(spark, root, f, t)
          : org.apache.spark.sql.connector.catalog.Table }
      .getOrElse {
        val asOf = GraftCollectionSourceProvider.resolveAsOf(spark, root,
          k => Option(opts.get(k)))
        new graft.sources.GraftTable(spark, root, s"graft.`$root`", asOf, pathFace = true)
      }
  }

  private def pathFaceRoot(
      opts: org.apache.spark.sql.util.CaseInsensitiveStringMap): String =
    Option(opts.get("root")).orElse(Option(opts.get("path"))).getOrElse(
      throw new IllegalArgumentException(
        "graft reads require .load(<collection root>) or .option(\"root\", ...)"))

  /** `df.writeStream.format("graft")` — the native exactly-once sink:
    * each micro-batch lands through [[Collection.insertStreamBatch]],
    * whose (streamName, batchId) high-water mark commits ATOMICALLY
    * with the data, so Spark's at-least-once batch replay after a
    * crash is detected and skipped — the same idempotence contract the
    * foreachBatch [[StreamOps.insertStream]] path proves, without the
    * foreachBatch boilerplate. Options: `root`/`path` (an EXISTING
    * collection — create declares schema/axis/partitioning), `merge`
    * (`concat` default | `upsert` | `replace` | `time_series` — pair
    * `upsert` with Update-mode aggregations for streaming UPSERT),
    * `streamName` (the idempotence key; REQUIRED when several streams
    * feed one collection — defaults to the checkpoint location else
    * "stream"). */
  override def createSink(
      sqlContext: SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    val root = rootOf(parameters)
    val merge = parameters.getOrElse("merge", "concat").toLowerCase match {
      case "concat"      => graft.core.MergeStrategy.Concat
      case "upsert"      => graft.core.MergeStrategy.Upsert(
        parameters.get("upsertToleranceMicros").map(_.toLong))
      case "replace"     => graft.core.MergeStrategy.Replace
      case "time_series" => graft.core.MergeStrategy.TimeSeries
      case other => throw new IllegalArgumentException(
        s"unknown merge strategy '$other' (concat|upsert|replace|time_series)")
    }
    val name = parameters.getOrElse("streamName",
      parameters.getOrElse("checkpointLocation", "stream"))
    new GraftSink(sqlContext.sparkSession, root, name, merge)
  }

  override def createRelation(
      sqlContext: SQLContext,
      mode: org.apache.spark.sql.SaveMode,
      parameters: Map[String, String],
      data: DataFrame): org.apache.spark.sql.sources.BaseRelation = {
    import org.apache.spark.sql.SaveMode
    val root = rootOf(parameters)
    val c = Collection.open(sqlContext.sparkSession, root)
    mode match {
      case SaveMode.Append    => c.insert(data, graft.core.MergeStrategy.Concat)
      case SaveMode.Overwrite =>
        // Spark's convention for path-based sources: STATIC (the
        // session default) truncates the whole collection; DYNAMIC
        // replaces only colliding partitions. The writer option takes
        // precedence over the session conf (Delta's shape).
        val pom = parameters.getOrElse("partitionOverwriteMode",
          sqlContext.sparkSession.conf
            .get("spark.sql.sources.partitionOverwriteMode", "STATIC"))
        if (pom.equalsIgnoreCase("dynamic"))
          c.insert(data, graft.core.MergeStrategy.Replace)
        else c.overwrite(data)
      case SaveMode.Ignore    => ()
      case SaveMode.ErrorIfExists => throw new IllegalStateException(
        s"collection at $root already exists (mode=ErrorIfExists); " +
        "use append or overwrite")
    }
    // Spark reads only the schema of the returned relation (to re-cache
    // plans over it after an overwrite)
    val ctx = sqlContext
    new org.apache.spark.sql.sources.BaseRelation {
      override def sqlContext: SQLContext = ctx
      override def schema: StructType =
        StructType(c.readSchema.fields.filterNot(_.name == Collection.RowIdCol))
    }
  }

  override def shortName(): String = "graft"

  private def rootOf(parameters: Map[String, String]): String =
    parameters.getOrElse("root", parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graft streaming source requires .option(\"root\", <collection root>)")))

  private def isChangeFeed(parameters: Map[String, String]): Boolean =
    parameters.get("changeFeed").exists(_.toBoolean)

  override def sourceSchema(
      sqlContext: SQLContext,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val c = Collection.open(sqlContext.sparkSession, rootOf(parameters), readOnly = true)
    val s =
      if (!isChangeFeed(parameters)) c.readSchema
      else StructType(c.schema.fields :+
        org.apache.spark.sql.types.StructField(
          Collection.ChangeTypeCol, org.apache.spark.sql.types.StringType, nullable = false))
    (shortName(), s)
  }

  override def createSource(
      sqlContext: SQLContext,
      metadataPath: String,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): Source =
    new GraftCollectionSource(sqlContext.sparkSession, rootOf(parameters),
      parameters.get("maxGenerationsPerBatch").map { v =>
        val m = v.toLong
        require(m > 0, s"maxGenerationsPerBatch must be positive, got $m")
        m
      },
      parameters.get("filters"),
      changeFeed = isChangeFeed(parameters),
      startingGeneration = parameters.get("startingGeneration").map(_.toLong),
      // epoch millis or ISO-8601 instant
      startingTimestamp = parameters.get("startingTimestamp").map { v =>
        try v.toLong
        catch { case _: NumberFormatException =>
          java.time.Instant.parse(v).toEpochMilli }
      },
      maxFilesPerBatch = parameters.get("maxFilesPerBatch").map(_.toLong),
      maxBytesPerBatch = parameters.get("maxBytesPerBatch").map(_.toLong))
}

object GraftCollectionSourceProvider {
  /** Resolve the Delta-style time-travel read options
    * (`versionAsOf` | `timestampAsOf` (epoch-millis or ISO instant) |
    * `tagAsOf`) to a pinned generation for the DSv2 path face
    * ([[GraftCollectionSourceProvider.getTable]]). */
  private[graft] def resolveAsOf(spark: org.apache.spark.sql.SparkSession,
                                 root: String,
                                 opt: String => Option[String]): Option[Long] =
    opt("versionAsOf").map(_.toLong)
      .orElse(opt("timestampAsOf").map { v =>
        val ms = try v.toLong
          catch { case _: NumberFormatException =>
            java.time.Instant.parse(v).toEpochMilli }
        val c = Collection.open(spark, root, readOnly = true)
        c.generationAsOf(ms).getOrElse(throw new IllegalArgumentException(
          s"no snapshot committed at or before $v at $root"))
      })
      .orElse(opt("tagAsOf").map { t =>
        val c = Collection.open(spark, root, readOnly = true)
        c.tags().getOrElse(t, throw new IllegalArgumentException(
          s"no tag '$t' at $root"))
      })
}

/** The V1 streaming Sink behind `writeStream.format("graft")` (see
  * [[GraftCollectionSourceProvider.createSink]]). Stateless across
  * batches on purpose: the (streamName, batchId) high-water mark lives
  * in the COLLECTION's manifest — committed atomically with the rows —
  * so exactly-once survives driver restarts with no sink-side state,
  * and a replayed batch id is a detected no-op. */
class GraftSink(spark: org.apache.spark.sql.SparkSession, root: String,
                streamName: String, merge: graft.core.MergeStrategy)
    extends org.apache.spark.sql.execution.streaming.Sink {

  override def addBatch(batchId: Long, data: org.apache.spark.sql.DataFrame): Unit = {
    // the incoming frame is IncrementalExecution-backed; re-wrap the
    // executed rows as a plain batch frame (the memory-sink pattern)
    val batch = org.apache.spark.sql.graftbridge.Bridge.fromInternalRows(data)
    Collection.open(spark, root).insertStreamBatch(streamName, batchId, batch, merge)
  }

  override def toString: String = s"GraftSink[$root, stream=$streamName]"
}
