package graft.sources

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning,
  Partitioning => V2Partitioning, UnknownPartitioning}
import org.apache.spark.sql.graftbridge.{Bridge, ParquetReadBridge}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

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

/** Unwraps [[GraftInputPartition]] and delegates to Spark's stock
  * parquet reader factory — columnar (vectorized) whenever the read
  * schema supports it. */
final class GraftReaderFactory(delegate: PartitionReaderFactory)
    extends PartitionReaderFactory {
  private def unwrap(p: InputPartition): InputPartition =
    p.asInstanceOf[GraftInputPartition].delegate
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    delegate.createReader(unwrap(p))
  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    delegate.createColumnarReader(unwrap(p))
  override def supportColumnarReads(p: InputPartition): Boolean =
    delegate.supportColumnarReads(unwrap(p))
}

/** Reorders reader output to a target schema (streaming relations pin
  * the TABLE column order, while the parquet stack emits data columns
  * followed by partition columns; batch plans get a Project from the
  * pushdown rules — streaming plans do not). Columnar batches permute
  * the vector array (zero copy); rows go through an unsafe projection. */
final class PermutingReaderFactory(delegate: PartitionReaderFactory,
                                   fromSchema: StructType, toSchema: StructType)
    extends PartitionReaderFactory {
  private val perm: Array[Int] = toSchema.fieldNames.map(fromSchema.fieldIndex)
  private val identity = perm.zipWithIndex.forall { case (p, i) => p == i }

  override def supportColumnarReads(p: InputPartition): Boolean =
    delegate.supportColumnarReads(p)

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val inner = delegate.createColumnarReader(p)
    if (identity) inner
    else new PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
      override def next(): Boolean = inner.next()
      override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = {
        val b = inner.get()
        new org.apache.spark.sql.vectorized.ColumnarBatch(
          perm.map(i => b.column(i)), b.numRows())
      }
      override def close(): Unit = inner.close()
    }
  }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val inner = delegate.createReader(p)
    if (identity) inner
    else new PartitionReader[InternalRow] {
      private val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
        .create(perm.zipWithIndex.map { case (from, i) =>
          org.apache.spark.sql.catalyst.expressions.BoundReference(
            from, fromSchema(toSchema.fields(i).name).dataType,
            fromSchema(toSchema.fields(i).name).nullable)
            : org.apache.spark.sql.catalyst.expressions.Expression
        }.toSeq)
      override def next(): Boolean = inner.next()
      override def get(): InternalRow = proj(inner.get())
      override def close(): Unit = inner.close()
    }
  }
}

/** Applies DELETION VECTORS inside the native scan (r11): for input
  * partitions containing DV'd files, the read schema is widened with
  * the persisted row-id column, each task reads its own files' DV
  * sections (`8 + 8*count` bytes, sorted rowids, binary-searched per
  * row), masked rows drop, and the row id projects back out — the
  * engine above sees exactly the live rows under the original schema.
  * Built only when the plan carries deletion vectors, and then every
  * partition reads row-based: Spark requires one columnar answer for
  * the whole scan, and a columnar batch has no deletion mask.
  *
  * `rowIdOrdinal` is the widened read schema's row-id position (last
  * data column, before the partition columns); `outTypes` are the
  * original output's column types. */
final class DvFilteringReaderFactory(
    delegate: PartitionReaderFactory,
    dvByPath: Map[String, graft.core.Collection.DvRef],
    conf: org.apache.spark.util.SerializableConfiguration,
    rowIdOrdinal: Int,
    outTypes: Array[org.apache.spark.sql.types.DataType])
    extends PartitionReaderFactory {

  private val dvByKey: Map[String, graft.core.Collection.DvRef] =
    dvByPath.map { case (p, r) =>
      graft.core.DeletionVectors.pathKey(new org.apache.hadoop.fs.Path(p)) -> r
    }

  private def partitionDvs(p: InputPartition): Seq[graft.core.Collection.DvRef] =
    ParquetReadBridge.filePaths(p).map(graft.core.DeletionVectors.pathKey)
      .distinct.flatMap(dvByKey.get)

  override def supportColumnarReads(p: InputPartition): Boolean = false

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val inner = delegate.createReader(p)
    val mask = graft.core.DeletionVectors.mask(conf.value, partitionDvs(p))
    val proj = ParquetReadBridge.withoutColumn(outTypes.toSeq, rowIdOrdinal)
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean = {
        while (inner.next()) {
          val r = inner.get()
          if (!mask.deleted(r.getLong(rowIdOrdinal))) {
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

/** The NATIVE DSv2 batch scan over a graft collection — what the
  * catalog face plans when [[GraftScanBuilder]] can prove the snapshot
  * natively scannable (decodable partition keys, no fill-bearing read
  * columns). Compared to the V1 bridge it adds the two scan features a
  * 100 TB star-join plan lives on:
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
  * only decides WHICH files and WHICH bytes, never how to decode them.
  * File selection is manifest-metadata only; there is no directory
  * walk anywhere in the plan path.
  *
  * Filter contract: `claimed` filters (partition-only, strictly
  * decidable — [[Collection.canClaimStrict]]) are fully enforced by
  * file-level pruning (every row of a kept file satisfies them);
  * everything else was returned to the engine as a residual, so rows
  * are re-checked above the scan exactly like a stock parquet plan.
  */
final class GraftBatchScan(spark: SparkSession,
                           private val collection: Collection,
                           private val requiredSchema: StructType,
                           private val baseAst: FilterExpr.Ast,
                           private val asOfGen: Option[Long],
                           private val limitRows: Option[Long],
                           parquetFilters: Array[Filter],
                           prePlanned: Option[Seq[Collection.NativeFile]] = None,
                           streamOptions: Map[String, String] = Map.empty,
                           /** Generation every (re-)plan reads — pinned
                             * at build so runtime-filter re-planning and
                             * a claimed filter's validity cannot drift
                             * onto a manifest committed mid-query. */
                           private val pinnedGen: Option[Long] = None,
                           /** Did the builder CLAIM `baseAst` (engine
                             * dropped its re-filter)? Streaming must
                             * then re-prove the claim on every batch's
                             * manifest. */
                           private val claimed: Boolean = false)
    extends Scan with Batch with SupportsRuntimeV2Filtering
    with SupportsReportPartitioning with SupportsReportStatistics {

  private val partCols: Seq[String] = collection.partColumns
  private val partColSet = partCols.toSet
  private val readPartitionSchema = StructType(
    requiredSchema.fields.filter(f => partColSet(f.name)))
  private val readDataSchema = StructType(
    requiredSchema.fields.filterNot(f => partColSet(f.name)))
  /** Physical file schema: declared data columns minus the partition
    * columns (written as Hive directories, never into the files). */
  private val fileDataSchema = StructType(
    collection.schema.fields.filterNot(f => partColSet(f.name)))
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
      val ast = currentAst
      GraftRelation.lastScanAst = ast // shared spec observable
      // an empty-at-build snapshot has no generation to pin
      // (pinnedGen=None): letting a runtime-filter re-plan fall through
      // to currentManifest() could adopt a manifest committed AFTER
      // query planning — keep the build-time (empty) file set instead;
      // there is nothing for DPP to prune from an empty scan anyway
      val rePlannable = asOfGen.isDefined || pinnedGen.isDefined
      val files = prePlanned.filter(_ => runtimeAst == FilterExpr.True || !rePlannable)
        .getOrElse(collection.nativeScanPlan(ast, asOfGen.orElse(pinnedGen), limitRows)
          .getOrElse(throw new IllegalStateException(
            s"native scan plan unavailable for ${collection.root} (validated at build)")))
      planned = packPartitions(files)
      plannedFiles = files
      GraftBatchScan.lastPlannedFiles = files.size
    }
    planned
  }

  /** Group by partition key, split big files at the session split size,
    * pack slices per key with open-cost padding — Spark's own file-scan
    * packing, but never across partition keys (the HasPartitionKey
    * contract). */
  private def packPartitions(files: Seq[Collection.NativeFile]): Array[InputPartition] = {
    val (parts, keys) = GraftBatchScan.packByKey(spark, files, keyProjection)
    plannedKeyCount = keys
    parts
  }

  // --- Scan ---------------------------------------------------------

  override def readSchema(): StructType =
    StructType(readDataSchema.fields ++ readPartitionSchema.fields)

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
    * at THIS scan's snapshot (`asOfGen`/`pinnedGen`) — a VERSION AS OF
    * read of a 1k-row snapshot must not advertise the head's 1B rows
    * next to the pinned selection's bytes, or the optimizer mis-plans
    * joins off self-contradictory stats. Metadata-only throughout:
    * never a Spark job inside optimizer-time statistics. */
  override def estimateStatistics(): Statistics = new Statistics {
    private def statGen: Option[Long] = asOfGen.orElse(pinnedGen)
    private lazy val selectedBytes: Option[Long] =
      try { plan(); Some(plannedFiles.map(_.bytes).sum) }
      catch { case _: Exception =>
        try collection.sizeOnDiskAt(statGen) catch { case _: Exception => None } }
    override def sizeInBytes(): java.util.OptionalLong = selectedBytes match {
      case Some(b) => java.util.OptionalLong.of(b)
      case None    => java.util.OptionalLong.empty()
    }
    override def numRows(): java.util.OptionalLong = {
      if (currentAst != FilterExpr.True || limitRows.isDefined)
        return java.util.OptionalLong.empty()
      val n = try collection.countRowsMeta(FilterExpr.True, statGen)
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
    * `format("graft")`, reading each batch through this scan's native
    * parquet partitions. */
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
    val dataFilters = parquetFilters.filter(
      _.references.forall(fileDataSchema.fieldNames.contains))
    plan()
    val dvByPath = plannedFiles.flatMap(f => f.dv.map(f.path -> _)).toMap
    if (dvByPath.isEmpty)
      new GraftReaderFactory(ParquetReadBridge.readerFactory(
        spark, fileDataSchema, readDataSchema, readPartitionSchema, dataFilters))
    else {
      // DELETION VECTORS in the plan (r11): widen the read with the
      // persisted row-id column and mask per partition — see
      // [[DvFilteringReaderFactory]]. The whole scan reads row-based;
      // a DV-free plan keeps the columnar reader.
      val rowIdField = org.apache.spark.sql.types.StructField(
        Collection.RowIdCol, org.apache.spark.sql.types.LongType)
      val fileWide = StructType(fileDataSchema.fields :+ rowIdField)
      val readWide = StructType(readDataSchema.fields :+ rowIdField)
      val inner = ParquetReadBridge.readerFactory(
        spark, fileWide, readWide, readPartitionSchema, dataFilters)
      val outTypes = (readDataSchema.fields ++ readPartitionSchema.fields)
        .map(_.dataType)
      new GraftReaderFactory(new DvFilteringReaderFactory(
        inner, dvByPath, ParquetReadBridge.serializableConf(spark),
        rowIdOrdinal = readDataSchema.length, outTypes = outTypes))
    }
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
    val rf = GraftRelation.toAst(v1, partColSet, zone)
    if (rf != FilterExpr.True) synchronized {
      runtimeAst = if (runtimeAst == FilterExpr.True) rf
                   else FilterExpr.And(runtimeAst, rf)
      planned = null
      GraftBatchScan.lastRuntimeAst = runtimeAst
    }
  }
}

object GraftBatchScan {
  /** Spec observables: the last runtime-filter AST applied and the last
    * planned file count (asserting DPP actually shrank the scan). */
  @volatile private[graft] var lastRuntimeAst: FilterExpr.Ast = FilterExpr.True
  @volatile private[graft] var lastPlannedFiles: Int = -1

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
