package org.apache.spark.sql.graftbridge

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitionSpec, PartitionedFile, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

import graft.core.Collection.{DvRef, RowIdCol}
import graft.core.DeletionVectors

/** The DataFrame read of a manifest's files: a stock parquet file-source
  * scan (`FileSourceScanExec`: partition pruning, column pruning,
  * pushdown, vectorized decoding) whose file list comes from the
  * manifest instead of a directory listing, with deletion vectors
  * applied inside the scan. */
object ManifestRead {

  /** Scan `trees` — each a root directory and the (absolute path, byte
    * length) of the files under it that the read selects — under
    * `schema`. Partition columns are discovered from the paths below
    * each root and typed by `schema`, exactly as
    * `spark.read.option("basePath", root).schema(schema).parquet(files)`
    * would; the output is the data columns then the partition columns.
    * `dvByPath` (absolute data-file path -> deletion vector, DV path
    * absolute) masks deleted rows; `schema` must then hold the row-id
    * column. */
  def dataFrame(spark: SparkSession, trees: Seq[(String, Seq[(String, Long)])],
                schema: StructType, dvByPath: Map[String, DvRef]): DataFrame = {
    val index = new ManifestFileIndex(spark, trees, schema)
    val partitionSchema = index.partitionSchema
    val resolver = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.resolver
    // what DataSource does for every file source: data columns are the
    // declared ones minus the path-derived partition columns, nullable
    val dataSchema = StructType(schema.filterNot(f =>
      partitionSchema.exists(p => resolver(p.name, f.name)))).asNullable
    val format =
      if (dvByPath.isEmpty) new ParquetFileFormat
      else new DvParquetFileFormat(dvByPath)
    Bridge.ofRows(spark, LogicalRelation(HadoopFsRelation(index, partitionSchema,
      dataSchema, None, format, Map.empty)(spark)))
  }
}

/** A file index over an explicit, immutable file set whose lengths are
  * known — the files a manifest selected — so planning lists and stats
  * nothing (the shape of Spark's own `MetadataLogFileIndex`). Partition
  * values come from `inferPartitioning()` over the files' directories,
  * stopping at each tree's root, with `schema` typing the columns; the
  * trees (a clone's own root and its sources' roots) share one scan.
  * Equality is by reference: two reads of the same files may mask
  * different deletion vectors. */
final class ManifestFileIndex(spark: SparkSession,
                              trees: Seq[(String, Seq[(String, Long)])],
                              schema: StructType)
    extends PartitioningAwareFileIndex(spark, Map.empty, Some(schema)) {

  override val rootPaths: Seq[Path] = trees.map { case (root, _) =>
    val p = new Path(root)
    p.getFileSystem(hadoopConf).makeQualified(p)
  }

  override val leafFiles: mutable.LinkedHashMap[Path, FileStatus] = {
    val out = mutable.LinkedHashMap.empty[Path, FileStatus]
    for ((root, files) <- trees) {
      val fs = new Path(root).getFileSystem(hadoopConf)
      for ((abs, len) <- files) {
        val p = fs.makeQualified(new Path(abs))
        out(p) = new FileStatus(len, false, 0, 0, 0, p)
      }
    }
    out
  }

  override val leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    leafFiles.values.toArray.groupBy(_.getPath.getParent)

  // Spark infers one tree at a time (several roots in one inference are
  // "conflicting directory structures"); each tree is typed by the same
  // schema, so their partition lists concatenate
  private lazy val spec =
    if (trees.size == 1) inferPartitioning()
    else {
      val specs = trees.map(t => new ManifestFileIndex(spark, Seq(t), schema).partitionSpec())
      require(specs.forall(_.partitionColumns == specs.head.partitionColumns),
        s"partition columns differ across ${trees.map(_._1).mkString(", ")}")
      PartitionSpec(specs.head.partitionColumns, specs.flatMap(_.partitions))
    }

  override def partitionSpec(): PartitionSpec = spec

  override def refresh(): Unit = ()
}

/** Parquet that drops the rows a deletion vector masks, used only when
  * the read's files carry deletion vectors. Each task reads its own
  * files' DV sections ([[DeletionVectors.mask]]) and filters on the
  * row-id column, widening the requested schema with it when the plan
  * pruned it. Reads are row-based: a columnar batch has no mask. */
final class DvParquetFileFormat(val dvByPath: Map[String, DvRef])
    extends ParquetFileFormat {

  private val dvByKey: Map[String, DvRef] =
    dvByPath.map { case (p, r) => DeletionVectors.pathKey(new Path(p)) -> r }

  override def supportBatch(sparkSession: SparkSession, schema: StructType): Boolean = false

  override def buildReaderWithPartitionValues(
      sparkSession: SparkSession,
      dataSchema: StructType,
      partitionSchema: StructType,
      requiredSchema: StructType,
      filters: Seq[Filter],
      options: Map[String, String],
      hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] = {
    val widen = !requiredSchema.fieldNames.contains(RowIdCol)
    val readSchema =
      if (widen) requiredSchema.add(dataSchema(RowIdCol)) else requiredSchema
    val rowIdOrdinal = readSchema.fieldIndex(RowIdCol)
    val read = super.buildReaderWithPartitionValues(sparkSession, dataSchema,
      partitionSchema, readSchema, filters, options, hadoopConf)
    val conf = sparkSession.sparkContext.broadcast(new SerializableConfiguration(hadoopConf))
    val dvs = dvByKey
    // the widened row is required ++ rowId ++ partition; project the
    // row id back out so the scan sees required ++ partition
    val outTypes = (requiredSchema ++ partitionSchema).map(_.dataType)
    (file: PartitionedFile) => {
      val rows = read(file)
      val live = dvs.get(DeletionVectors.pathKey(file.toPath)) match {
        case Some(ref) =>
          val mask = DeletionVectors.mask(conf.value.value, Seq(ref))
          rows.filter(r => !mask.deleted(r.getLong(rowIdOrdinal)))
        case None => rows
      }
      if (!widen) live
      else live.map(ParquetReadBridge.withoutColumn(outTypes, rowIdOrdinal))
    }
  }

  override def equals(other: Any): Boolean = other match {
    case o: DvParquetFileFormat => o.dvByPath == dvByPath
    case _                      => false
  }

  override def hashCode(): Int = dvByPath.hashCode
}
