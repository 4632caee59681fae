package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream,
  Offset => OffsetV2, ReadLimit, SupportsAdmissionControl,
  SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.types.StructType

import graft.core.FilterExpr
import graft.sources.GraftBatchScan

/** DSv2 MICRO-BATCH stream over a graft collection — what
  * `spark.readStream.table("graft.db.t")` executes (r9b). Offsets,
  * pacing, manifest diffing, the compaction-rewrite skip, and filter
  * pruning all come from the PROVEN [[GraftCollectionSource]] engine
  * (`batchFiles`); this class only plans each micro-batch's file set as
  * NATIVE parquet input partitions, read through the batch scan's
  * reader factory ([[GraftBatchScan.readerFactory]]) — vectorized with
  * zero `Row` bridging, and with fills and renamed columns applied
  * under the names and fills of the snapshot the stream started on.
  *
  * Options (`readStream.option(...)`), same names as `format("graft")`:
  * `maxGenerationsPerBatch`, `filters`, `startingGeneration`,
  * `startingTimestamp`. Exactly-once comes from deterministic replay:
  * offsets are manifest generations and `(start, end]` always resolves
  * to the same committed file set, so checkpoint recovery re-plans
  * byte-identical batches; `deserializeOffset` re-seeds the pacing mark
  * on restart (no V1 getBatch replay exists to do it implicitly) and
  * `latestOffset` never regresses below a seen offset.
  *
  * FILTER CONTRACT — this face has no engine re-filter below the sink,
  * so every filter that reaches it must be ROW-EXACT at file
  * granularity: the `filters` option and any builder-claimed predicate
  * must be partition-only and strictly decidable on every partition key
  * ([[graft.core.Collection.canClaimStrict]]), checked at stream start AND against
  * every batch's end manifest (a later commit can introduce a null or
  * undecidable partition key — the stream then fails loudly instead of
  * silently delivering rows the filter excludes). Row-level filters
  * belong on the DataFrame: `readStream.table(t).where(...)`. */
class GraftMicroBatchStream(spark: SparkSession, root: String,
                            requiredSchema: StructType,
                            pushedAst: FilterExpr.Ast,
                            claimedAst: FilterExpr.Ast,
                            options: Map[String, String])
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  private val source = new GraftCollectionSource(spark, root,
    maxGenerationsPerBatch = options.get("maxgenerationsperbatch").map(_.toLong),
    filters = options.get("filters"),
    changeFeed = false,
    startingGeneration = options.get("startinggeneration").map(_.toLong),
    startingTimestamp = options.get("startingtimestamp").map(_.toLong),
    maxFilesPerBatch = options.get("maxfilesperbatch").map(_.toLong),
    maxBytesPerBatch = options.get("maxbytesperbatch").map(_.toLong))

  private val collection = source.collection
  private val partCols = collection.partColumns
  private val partColSet = partCols.toSet
  private val pinned = source.pinnedDataSchema
  private val startManifest = collection.manifestFor(None)

  /** Everything that must hold row-exactly with no engine re-filter:
    * the `filters` option plus the builder-claimed predicate. */
  private val mustHold: FilterExpr.Ast = (source.filterAst, claimedAst) match {
    case (FilterExpr.True, c) => c
    case (f, FilterExpr.True) => f
    case (f, c)               => FilterExpr.And(f, c)
  }

  require(mustHold == FilterExpr.True || collection.canClaimStrict(mustHold, None),
    "readStream.table filters must be PARTITION-EXACT (partition columns only, " +
      s"strictly decidable on every partition key): '$mustHold' is not — " +
      "apply row-level predicates as .where(...) on the stream, or use " +
      "spark.readStream.format(\"graft\") which re-filters rows")

  private val readPartitionSchema = StructType(
    requiredSchema.fields.filter(f => partColSet(f.name)))
  private val readDataSchema = StructType(
    requiredSchema.fields.filterNot(f => partColSet(f.name)))
  private val fileDataSchema = StructType(
    pinned.fields.filterNot(f => partColSet(f.name)))
  private val keyProjection: Array[Int] =
    readPartitionSchema.fieldNames.map(partCols.indexOf)

  @volatile private var lastEnd: GraftStreamOffset = GraftStreamOffset.Initial

  private def toOff(o: OffsetV2): GraftStreamOffset = o match {
    case g: GraftStreamOffset => g
    case l: LongOffset        => GraftStreamOffset.complete(l.offset)
    case other                => GraftStreamOffset.parse(other.json)
  }

  private def advance(o: GraftStreamOffset): Unit =
    if (!(lastEnd >= o)) lastEnd = o

  override def initialOffset(): OffsetV2 = GraftStreamOffset.Initial

  /** Re-seeds the monotonicity floor when the engine materializes a
    * checkpointed offset. NOT sufficient for restart pacing by itself —
    * the engine may call `latestOffset` before ever deserializing the
    * committed offset — which is why pacing is driven through
    * [[SupportsAdmissionControl]] below. */
  override def deserializeOffset(json: String): OffsetV2 = {
    val o = GraftStreamOffset.parse(json)
    advance(o)
    if (o.gen > 0 || !o.complete) source.paceTo(o)
    o
  }

  /** Advertise the option caps as STANDARD ReadLimits (r12) — the
    * engine hands them back through `latestOffset(start, limit)`, and
    * engine-composed limits (e.g. Trigger.AvailableNow wrapping) pace
    * this source exactly like the graft-named options. */
  override def getDefaultReadLimit: ReadLimit = {
    val limits = Seq(
      options.get("maxfilesperbatch").map(v => ReadLimit.maxFiles(v.toInt)),
      options.get("maxbytesperbatch").map(v => ReadLimit.maxBytes(v.toLong))).flatten
    limits match {
      case Seq()  => ReadLimit.allAvailable()
      case Seq(l) => l
      case ls     => ReadLimit.compositeLimit(ls.toArray)
    }
  }

  /** Effective (files, bytes) caps of an engine-provided ReadLimit,
    * composed with the source options (tightest wins). */
  private def capsOf(limit: ReadLimit): (Long, Long) = {
    import org.apache.spark.sql.connector.read.streaming.{
      CompositeReadLimit, ReadMaxBytes, ReadMaxFiles}
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
    (math.min(lf, options.get("maxfilesperbatch").map(_.toLong).getOrElse(Long.MaxValue)),
      math.min(lb, options.get("maxbytesperbatch").map(_.toLong).getOrElse(Long.MaxValue)))
  }

  /** Trigger.AvailableNow: pin the drain target at trigger start — a
    * PACED stream then keeps producing capped batches until it reaches
    * this head, instead of terminating after the first paced offset. */
  @volatile private var availableNowTarget: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(collection.generation)

  /** The admission-control form: the engine hands the CURRENT start
    * offset, so a paced stream (`maxGenerationsPerBatch` or the r12
    * file/byte caps) restarts from its checkpointed position instead of
    * regressing to the start base and re-delivering what a previous run
    * already committed. */
  override def latestOffset(startOffset: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val base = toOff(startOffset)
    advance(base)
    if (base.gen > 0 || !base.complete) source.paceTo(base)
    val (maxF, maxB) = capsOf(limit)
    if (maxF != Long.MaxValue || maxB != Long.MaxValue) {
      val next = source.nextPaced(lastEnd, availableNowTarget, maxF, maxB)
        .getOrElse(lastEnd)
      advance(next)
      return lastEnd
    }
    val next0 = source.getOffset.map(o => toOff(LongOffset(o.json.trim.toLong)))
      .getOrElse(lastEnd)
    val next = availableNowTarget.fold(next0) { t =>
      if (next0.gen > t) GraftStreamOffset.complete(t) else next0
    }
    advance(next)
    lastEnd
  }

  override def latestOffset(): OffsetV2 =
    throw new IllegalStateException(
      "latestOffset(Offset, ReadLimit) is the admission-control entry point")

  override def planInputPartitions(start: OffsetV2, end: OffsetV2): Array[InputPartition] = {
    val s = toOff(start)
    val e = toOff(end)
    advance(e)
    if (e.gen < 0) return Array.empty
    // the no-refilter contract must hold on THIS batch's manifest too —
    // a commit since stream start may have added an undecidable key
    if (mustHold != FilterExpr.True && !collection.canClaimStrict(mustHold, Some(e.gen)))
      throw new IllegalStateException(
        s"a commit made the stream filter '$mustHold' undecidable on some partition " +
          s"of $root at generation ${e.gen} (e.g. a null partition key) — restart " +
          "the stream with a row-level .where(...) instead")
    val (man, diffed) = source.batchFilesAt(if (s.gen < 0L) None else Some(s), e)
    val files = pushedAst match {
      case FilterExpr.True => diffed
      case ast             => collection.pruneFilesForRead(man, diffed, ast)
    }
    val native = collection.nativeFilesFor(man, files)
    // DELETION VECTORS (r11): this factory's reader is built once with
    // the unwidened schema — delivering a DV'd file would resurrect its
    // deleted rows mid-stream. Refuse loudly; the append stream's
    // contract is insert-only anyway (a DV delete is a non-append
    // commit, Delta's source fails on those too) — compact to
    // materialize the DVs, then restart, or consume the change feed.
    native.find(_.dv.isDefined).foreach { f =>
      throw new IllegalStateException(
        s"streaming batch [$s, $e] of $root includes ${f.path} which " +
        "carries a deletion vector — compact() to materialize deletions, " +
        "then restart the stream (or read the change feed instead)")
    }
    GraftBatchScan.packByKey(spark, native, keyProjection)._1
  }

  /** The engine pins the streaming relation to the TABLE column order
    * (`requiredSchema`). */
  override def createReaderFactory(): PartitionReaderFactory =
    GraftBatchScan.readerFactory(spark, fileDataSchema, readDataSchema,
      readPartitionSchema, out = requiredSchema, startManifest.renames,
      startManifest.fills, dvByPath = Map.empty, filters = Array.empty)

  override def commit(end: OffsetV2): Unit = ()
  override def stop(): Unit = ()
}
