package graft.sources

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Coalesce, Expression,
  GenericInternalRow, Literal, UnsafeProjection}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning,
  Partitioning => V2Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.graftbridge.{Bridge, ParquetReadBridge}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.util.SerializableConfiguration

import graft.core.{Collection, FilterExpr}

/** An input partition of the native scan: one packed bin of parquet
  * slices, all from ONE collection partition, carrying that partition's
  * key — the [[HasPartitionKey]] contract behind storage-partitioned
  * joins (two collections partitioned the same way join with ZERO
  * shuffle under `spark.sql.sources.v2.bucketing.enabled`). */
final case class GraftInputPartition(delegate: InputPartition, key: InternalRow)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = key
  override def preferredLocations(): Array[String] = Array.empty
}

/** The native read's reader factory: unwraps [[GraftInputPartition]]
  * into Spark's stock parquet reader and shapes its output for the
  * engine. Every output column `i` is the reader's column
  * `sources(i)`, so one factory re-orders columns into the read's TABLE
  * order (the parquet stack emits data columns, then the row id when
  * widened, then partition columns), coalesces fill-bearing columns with their fill value (`fills(i)`,
  * Catalyst internal) and drops the rows a deletion vector masks
  * (`dvByKey`, keyed by [[graft.core.DeletionVectors.pathKey]]; each
  * task reads its own files' sections and probes the row id at
  * `rowIdOrdinal`).
  *
  * Fills and deletion vectors read row-based: Spark requires one
  * columnar answer for the whole scan, and a columnar batch has neither
  * a deletion mask nor a per-value coalesce. Otherwise the scan stays
  * columnar and a re-order permutes the vector array (zero copy). */
final class GraftReaderFactory(delegate: PartitionReaderFactory,
                               sources: Array[Int],
                               outTypes: Array[DataType],
                               fills: Array[Option[Any]],
                               dvByKey: Map[String, graft.core.Collection.DvRef],
                               rowIdOrdinal: Int,
                               conf: SerializableConfiguration)
    extends PartitionReaderFactory {

  private val rowBased = dvByKey.nonEmpty || fills.exists(_.isDefined)
  private val identity = !rowBased && sources.sameElements(sources.indices)

  private def unwrap(p: InputPartition): InputPartition =
    p.asInstanceOf[GraftInputPartition].delegate

  override def supportColumnarReads(p: InputPartition): Boolean =
    !rowBased && delegate.supportColumnarReads(unwrap(p))

  override def createColumnarReader(p: InputPartition): PartitionReader[ColumnarBatch] = {
    val inner = delegate.createColumnarReader(unwrap(p))
    if (identity) inner
    else new PartitionReader[ColumnarBatch] {
      override def next(): Boolean = inner.next()
      override def get(): ColumnarBatch = {
        val b = inner.get()
        new ColumnarBatch(sources.map(i => b.column(i)), b.numRows())
      }
      override def close(): Unit = inner.close()
    }
  }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val files = unwrap(p)
    val inner = delegate.createReader(files)
    val dvs = ParquetReadBridge.filePaths(files).map(graft.core.DeletionVectors.pathKey)
      .distinct.flatMap(dvByKey.get)
    if (identity && dvs.isEmpty) return inner
    val mask = if (dvs.isEmpty) null else graft.core.DeletionVectors.mask(conf.value, dvs)
    val proj = UnsafeProjection.create(sources.indices.map { i =>
      val ref = BoundReference(sources(i), outTypes(i), nullable = true)
      fills(i).fold[Expression](ref)(v => Coalesce(Seq(ref, Literal(v, outTypes(i)))))
    })
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean = {
        while (inner.next()) {
          val r = inner.get()
          if (mask == null || !mask.deleted(r.getLong(rowIdOrdinal))) {
            current = proj(r)
            return true
          }
        }
        false
      }
      override def get(): InternalRow = current
      override def close(): Unit = inner.close()
    }
  }
}

/** The NATIVE DSv2 batch scan over a graft collection — what every
  * catalog and path-face read plans unless a metadata aggregate answers
  * it (see [[GraftScanBuilder.build]]). On top of the manifest skip
  * layers it adds the two scan features a 100 TB star-join plan lives
  * on:
  *
  *  - '''runtime partition filtering''' ([[SupportsRuntimeV2Filtering]]):
  *    a join against a filtered dimension re-prunes this scan's FILE
  *    list at execution start with the dimension's actual key values —
  *    the DSv2 form of dynamic partition pruning, feeding the same
  *    manifest skip layers as static pruning (subtree rollups, zone
  *    maps, blooms);
  *  - '''storage-partitioned joins''' ([[SupportsReportPartitioning]]):
  *    the scan reports [[KeyGroupedPartitioning]] over the partition
  *    columns, so joins/aggregations keyed on them skip the shuffle
  *    entirely when `spark.sql.sources.v2.bucketing.enabled` is on.
  *
  * Execution delegates to Spark's own vectorized parquet reader
  * ([[org.apache.spark.sql.graftbridge.ParquetReadBridge]]) — the scan
  * only decides WHICH files and WHICH bytes; [[GraftBatchScan.readerFactory]]
  * adds what the manifest declares on top of the files: renamed columns
  * read under their physical names, fills, and deletion vectors. File
  * selection is manifest-metadata only; there is no directory walk
  * anywhere in the plan path.
  *
  * Every (re-)plan reads generation `pinnedGen`, which the builder
  * pinned the first time it read the manifest: runtime-filter
  * re-planning and a claimed filter's validity cannot drift onto a
  * manifest committed mid-query.
  *
  * Filter contract: `claimed` filters (partition-only, strictly
  * decidable — [[Collection.canClaimStrict]]) are fully enforced by
  * file-level pruning (every row of a kept file satisfies them);
  * everything else was returned to the engine as a residual, so rows
  * are re-checked above the scan exactly like a stock parquet plan.
  */
final class GraftBatchScan(spark: SparkSession,
                           private val collection: Collection,
                           /** The table's declared schema (the path face
                             * appends its derived partition columns). */
                           tableSchema: StructType,
                           private val requiredSchema: StructType,
                           private val baseAst: FilterExpr.Ast,
                           private val asOfGen: Option[Long],
                           private val limitRows: Option[Long],
                           parquetFilters: Array[Filter],
                           streamOptions: Map[String, String],
                           private val pinnedGen: Long,
                           /** Did the builder CLAIM `baseAst` (engine
                             * dropped its re-filter)? Streaming must
                             * then re-prove the claim on every batch's
                             * manifest. */
                           claimed: Boolean)
    extends Scan with Batch with SupportsRuntimeV2Filtering
    with SupportsReportPartitioning with SupportsReportStatistics {

  private val partCols: Seq[String] = collection.partColumns
  private val partColSet = partCols.toSet
  private val readPartitionSchema = StructType(
    requiredSchema.fields.filter(f => partColSet(f.name)))
  private val readDataSchema = StructType(
    requiredSchema.fields.filterNot(f => partColSet(f.name)))
  /** Indices (into the full partition key) of the REQUIRED partition
    * columns, in required order. */
  private val keyProjection: Array[Int] =
    readPartitionSchema.fieldNames.map(partCols.indexOf)

  @volatile private var runtimeAst: FilterExpr.Ast = FilterExpr.True
  @volatile private var planned: Array[InputPartition] = _
  @volatile private var plannedKeyCount: Int = 0
  @volatile private var plannedFiles: Seq[Collection.NativeFile] = Nil

  private def currentAst: FilterExpr.Ast = (baseAst, runtimeAst) match {
    case (FilterExpr.True, r) => r
    case (b, FilterExpr.True) => b
    case (b, r)               => FilterExpr.And(b, r)
  }

  private def plan(): Array[InputPartition] = synchronized {
    if (planned == null) {
      val files = collection.nativeScanPlan(currentAst, pinnedGen, limitRows)
      val (parts, keys) = GraftBatchScan.packByKey(spark, files, keyProjection)
      planned = parts
      plannedKeyCount = keys
      plannedFiles = files
    }
    planned
  }

  /** What this scan pushed and planned: the pushed filter, the runtime
    * filter applied since, and the planned file count. Specs and
    * [[graft.Bench]] read it off the executed plan's `BatchScanExec`. */
  private[graft] def report: GraftBatchScan.Report = {
    plan()
    GraftBatchScan.Report(baseAst, runtimeAst, plannedFiles.size)
  }

  // --- Scan ---------------------------------------------------------

  /** The required columns in TABLE order — the reader factory permutes
    * the parquet stack's output (data, then partition columns) into it,
    * so pushdown adds no re-ordering Project above the scan (a DELETE's
    * relation must be the bare scan). */
  override def readSchema(): StructType = requiredSchema

  override def toBatch: Batch = this

  override def description(): String =
    s"graft-native ${collection.root} ast=$baseAst"

  /** Value equality (the ParquetScan contract): lets the engine reuse
    * one scan/exchange for identical reads in a plan (self-joins, CTE
    * fan-out). Runtime filters participate — a runtime-pruned scan is
    * NOT the same read as an unpruned one. */
  override def equals(other: Any): Boolean = other match {
    case g: GraftBatchScan =>
      g.collection.root == collection.root && g.requiredSchema == requiredSchema &&
        g.baseAst == baseAst && g.asOfGen == asOfGen && g.limitRows == limitRows &&
        g.pinnedGen == pinnedGen && g.runtimeAst == runtimeAst
    case _ => false
  }
  override def hashCode(): Int =
    (collection.root, requiredSchema, baseAst.toString, asOfGen, limitRows).hashCode()

  /** Statistics from the PLANNED selection, not the whole table: a
    * heavily pruned scan advertising full-table bytes would block its
    * own broadcast-join selection (Spark's ParquetScan estimates from
    * the pruned selection the same way — r9 ADVICE). Row counts are
    * only advertised for the unfiltered, unlimited read (post-filter
    * cardinality is unknowable from metadata), and BOTH numbers answer
    * at THIS scan's pinned snapshot — a VERSION AS OF read of a 1k-row
    * snapshot must not advertise the head's 1B rows next to the pinned
    * selection's bytes, or the optimizer mis-plans joins off
    * self-contradictory stats. Metadata-only throughout: never a Spark
    * job inside optimizer-time statistics. */
  override def estimateStatistics(): Statistics = new Statistics {
    private lazy val selectedBytes: Option[Long] =
      try { plan(); Some(plannedFiles.map(_.bytes).sum) }
      catch { case _: Exception =>
        try collection.sizeOnDiskAt(Some(pinnedGen)) catch { case _: Exception => None } }
    override def sizeInBytes(): java.util.OptionalLong = selectedBytes match {
      case Some(b) => java.util.OptionalLong.of(b)
      case None    => java.util.OptionalLong.empty()
    }
    override def numRows(): java.util.OptionalLong = {
      if (currentAst != FilterExpr.True || limitRows.isDefined)
        return java.util.OptionalLong.empty()
      val n = try collection.countRowsMeta(FilterExpr.True, Some(pinnedGen))
        catch { case _: Exception => None }
      n match {
        case Some(v) => java.util.OptionalLong.of(v)
        case None    => java.util.OptionalLong.empty()
      }
    }
  }

  // --- streaming ----------------------------------------------------

  /** `spark.readStream.table("graft.db.t")`: the DSv2 micro-batch face
    * over the same manifest-generation offset machinery as
    * `format("graft")`, reading each batch through the same reader
    * factory as this scan. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(asOfGen.isEmpty,
      "VERSION/TIMESTAMP AS OF reads are immutable snapshots — they cannot stream")
    new graft.streaming.GraftMicroBatchStream(spark, collection.root,
      requiredSchema, baseAst,
      claimedAst = if (claimed) baseAst else FilterExpr.True,
      options = streamOptions)
  }

  // --- Batch --------------------------------------------------------

  override def planInputPartitions(): Array[InputPartition] = plan()

  override def createReaderFactory(): PartitionReaderFactory = {
    plan()
    val man = collection.manifestFor(Some(pinnedGen))
    GraftBatchScan.readerFactory(spark,
      fileSchema = StructType(tableSchema.fields.filterNot(f => partColSet(f.name))),
      readDataSchema, readPartitionSchema, out = requiredSchema,
      man.renames, man.fills,
      dvByPath = plannedFiles.flatMap(f => f.dv.map(f.path -> _)).toMap,
      filters = parquetFilters)
  }

  // --- SupportsReportPartitioning -----------------------------------

  /** Reported only when the scan READS every partition column (the
    * join keys must be resolvable in the scan output) — otherwise the
    * honest unknown. */
  override def outputPartitioning(): V2Partitioning =
    if (partCols.nonEmpty && partCols.forall(requiredSchema.fieldNames.contains)) {
      plan()
      new KeyGroupedPartitioning(
        partCols.map(c => Expressions.identity(c): Transform).toArray,
        plannedKeyCount)
    } else new UnknownPartitioning(plan().length)

  // --- SupportsRuntimeV2Filtering -----------------------------------

  /** Only the partition columns this scan READS: Spark's
    * PartitionPruning resolves every listed attribute against the scan
    * output and fails on absent ones (an unread partition column can't
    * be a join key anyway). */
  override def filterAttributes(): Array[NamedReference] =
    readPartitionSchema.fieldNames.map(c => Expressions.column(c)).toArray

  /** Execution-time re-prune: the runtime predicates (join-key values
    * from a dimension side) WEAKEN into the partition-key domain and
    * AND onto the static filter — pruning-only by contract (the join
    * itself re-checks rows), so dropping untranslatable predicates is
    * always safe. */
  override def filter(predicates: Array[Predicate]): Unit = {
    val zone = java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone",
      java.util.TimeZone.getDefault.getID))
    val v1 = predicates.flatMap(p => Bridge.predicateToV1(p))
    val rf = SourceFilters.toAst(v1, partColSet, zone)
    if (rf != FilterExpr.True) synchronized {
      runtimeAst = if (runtimeAst == FilterExpr.True) rf
                   else FilterExpr.And(runtimeAst, rf)
      planned = null
    }
  }
}

object GraftBatchScan {
  /** See [[GraftBatchScan.report]]. */
  private[graft] final case class Report(pushedAst: FilterExpr.Ast,
                                         runtimeAst: FilterExpr.Ast,
                                         plannedFiles: Int)

  private object AdaptivePlans extends AdaptiveSparkPlanHelper

  /** The graft scans of an executed plan, adaptive stages included. */
  private[graft] def in(plan: SparkPlan): Seq[GraftBatchScan] =
    AdaptivePlans.collect(plan) { case b: BatchScanExec => b.scan }
      .collect { case g: GraftBatchScan => g }

  /** The reader factory of a native read, batch or micro-batch. The
    * schemas speak LOGICAL names: `fileSchema` is the snapshot's
    * declared data columns (partition columns excluded — they live in
    * the directory names), `readData`/`readPartition` what the read
    * needs of each, `out` the order the engine expects. `renames` maps
    * logical to physical (file-resident) names, `fills` logical names
    * to fill SQL, `dvByPath` absolute data-file paths to their deletion
    * vectors. `filters` reach parquet row-group pruning, minus any on a
    * renamed column (the files name it differently) or a fill column (a
    * row group of nulls would be skipped although its rows read as the
    * fill). */
  private[graft] def readerFactory(spark: SparkSession,
                                   fileSchema: StructType,
                                   readData: StructType,
                                   readPartition: StructType,
                                   out: StructType,
                                   renames: Map[String, String],
                                   fills: Map[String, String],
                                   dvByPath: Map[String, Collection.DvRef],
                                   filters: Array[Filter]): PartitionReaderFactory = {
    def physical(s: StructType): StructType =
      StructType(s.fields.map(f => renames.get(f.name).fold(f)(p => f.copy(name = p))))
    val rowId = if (dvByPath.isEmpty) Nil else Seq(StructField(Collection.RowIdCol, LongType))
    val pushable = filters.filter(_.references.forall(c =>
      fileSchema.fieldNames.contains(c) && !renames.contains(c) && !fills.contains(c)))
    val inner = ParquetReadBridge.readerFactory(spark,
      StructType(physical(fileSchema).fields ++ rowId),
      StructType(physical(readData).fields ++ rowId), readPartition, pushable)
    val emitted = readData.fieldNames ++ rowId.map(_.name) ++ readPartition.fieldNames
    new GraftReaderFactory(inner,
      sources = out.fieldNames.map(c => emitted.indexOf(c)),
      outTypes = out.fields.map(_.dataType),
      fills = out.fields.map(f => fills.get(f.name).map(fillValue(spark, _, f.dataType))),
      dvByKey = dvByPath.map { case (p, r) =>
        graft.core.DeletionVectors.pathKey(new org.apache.hadoop.fs.Path(p)) -> r },
      rowIdOrdinal = readData.length,
      conf = if (dvByPath.isEmpty) null else ParquetReadBridge.serializableConf(spark))
  }

  /** A column's fill SQL cast to its type and evaluated once, at
    * planning, to a Catalyst value — the constant the DataFrame face
    * coalesces with (`Collection.readManifestFiles`). */
  private def fillValue(spark: SparkSession, fillSql: String, dt: DataType): Any = {
    val e = spark.range(1).select(org.apache.spark.sql.functions.expr(fillSql).cast(dt))
      .queryExecution.analyzed.expressions.head.children.head // under the Alias
    require(e.foldable, s"fill '$fillSql' is not a constant")
    e.eval()
  }

  /** The shared per-key split-and-pack planner: files grouped by
    * partition key, large files sliced at the session split size,
    * slices binned with open-cost padding, one [[GraftInputPartition]]
    * per bin (never mixing keys). Returns the partitions and the
    * distinct-key count. Used by the batch scan and the DSv2
    * micro-batch stream ([[graft.streaming.GraftMicroBatchStream]]). */
  private[graft] def packByKey(spark: SparkSession,
                               files: Seq[Collection.NativeFile],
                               keyProjection: Array[Int])
      : (Array[InputPartition], Int) = {
    val totalBytes = files.map(_.bytes).sum
    val maxSplit = ParquetReadBridge.maxSplitBytes(spark, totalBytes, files.size)
    val openCost = ParquetReadBridge.openCostInBytes(spark)
    val out = mutable.ArrayBuffer.empty[InputPartition]
    var index = 0
    val grouped = files.groupBy(_.key).toSeq
      .sortBy(_._1.map(v => if (v == null) "" else v.toString).mkString("/"))
    for ((key, group) <- grouped) {
      val fullKey = new GenericInternalRow(key.toArray)
      val readKey = new GenericInternalRow(keyProjection.map(i => key(i)))
      val slices = group.flatMap { f =>
        (0L until math.max(1L, (f.bytes + maxSplit - 1) / maxSplit)).map { i =>
          ParquetReadBridge.FileSlice(f.path, i * maxSplit,
            math.min(maxSplit, f.bytes - i * maxSplit), f.bytes, readKey)
        }
      }.sortBy(-_.length)
      val bin = mutable.ArrayBuffer.empty[ParquetReadBridge.FileSlice]
      var binBytes = 0L
      def flush(): Unit = if (bin.nonEmpty) {
        out += GraftInputPartition(
          ParquetReadBridge.filePartition(index, bin.toSeq), fullKey)
        index += 1; bin.clear(); binBytes = 0L
      }
      for (s <- slices) {
        if (binBytes + s.length + openCost > maxSplit && bin.nonEmpty) flush()
        bin += s; binBytes += s.length + openCost
      }
      flush()
    }
    (out.toArray, grouped.size)
  }
}
