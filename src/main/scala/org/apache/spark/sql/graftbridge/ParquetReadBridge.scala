package org.apache.spark.sql.graftbridge

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetOptions
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Same-package bridge into Spark's file-source execution machinery for
  * the NATIVE graft DSv2 batch scan ([[graft.sources.GraftBatchScan]]).
  *
  * The native scan plans its own file set (manifest-pruned, never a
  * directory listing) but deliberately executes through Spark's OWN
  * parquet reader stack — [[ParquetPartitionReaderFactory]] brings the
  * vectorized/columnar reader, predicate pushdown to row-group and page
  * level, schema evolution (missing-in-file columns read as null), and
  * per-file datetime rebase handling, identical to a stock parquet
  * scan. Everything here is `private[sql]`/`private[spark]` in Spark,
  * hence the bridge package (the same pattern [[Bridge]] uses for
  * Column/Expression).
  */
object ParquetReadBridge {

  /** One planned read slice of a parquet file. `partitionValues` are
    * the Catalyst internal values of the PRUNED partition schema (the
    * partition columns this scan actually reads), aligned with the
    * `partitionSchema` passed to [[readerFactory]]. */
  final case class FileSlice(path: String, start: Long, length: Long,
                             fileSize: Long, partitionValues: InternalRow)

  /** Spark's stock parquet reader factory over the session's conf —
    * columnar when the read schema supports it, row-based otherwise.
    * `filters` reach parquet row-group/page pruning (they must
    * reference file-resident columns only; the engine re-applies every
    * residual filter on top, so they are pruning-only here exactly like
    * a stock parquet scan). */
  def readerFactory(spark: SparkSession, dataSchema: StructType,
                    readDataSchema: StructType, partitionSchema: StructType,
                    filters: Array[Filter]): PartitionReaderFactory = {
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport,
      ParquetWriteSupport}
    import org.apache.spark.sql.internal.SQLConf
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val conf = classic.sessionState.conf
    // the read-support wiring ParquetScan.createReaderFactory performs
    // before broadcasting — the executor-side reader resolves its
    // requested schema and conversion modes from these entries
    val hadoopConf = classic.sessionState.newHadoopConf()
    hadoopConf.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    hadoopConf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, readDataSchema.json)
    hadoopConf.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, readDataSchema.json)
    hadoopConf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, conf.sessionLocalTimeZone)
    hadoopConf.setBoolean(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.key,
      conf.nestedSchemaPruningEnabled)
    hadoopConf.setBoolean(SQLConf.CASE_SENSITIVE.key, conf.caseSensitiveAnalysis)
    ParquetWriteSupport.setSchema(readDataSchema, hadoopConf)
    hadoopConf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key,
      conf.isParquetBinaryAsString)
    hadoopConf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key,
      conf.isParquetINT96AsTimestamp)
    hadoopConf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key,
      conf.legacyParquetNanosAsLong)
    hadoopConf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      conf.parquetInferTimestampNTZEnabled)
    hadoopConf.setBoolean(SQLConf.PARQUET_FIELD_ID_READ_ENABLED.key,
      conf.parquetFieldIdReadEnabled)
    val bcast = classic.sparkContext.broadcast(new SerializableConfiguration(hadoopConf))
    ParquetPartitionReaderFactory(conf, bcast, dataSchema, readDataSchema,
      partitionSchema, filters, None,
      new ParquetOptions(Map.empty[String, String], conf))
  }

  /** Pack slices into one executable input partition (the
    * [[FilePartition]] shape [[ParquetPartitionReaderFactory]] reads). */
  def filePartition(index: Int, slices: Seq[FileSlice]): InputPartition =
    FilePartition(index, slices.map(s =>
      PartitionedFile(s.partitionValues, SparkPath.fromPathString(s.path),
        s.start, s.length, Array.empty[String], 0L, s.fileSize,
        Map.empty[String, Any])).toArray)

  /** Spark's split-size formula (`FilePartition.maxSplitBytes`): cap at
    * `files.maxPartitionBytes`, floor at the open cost, aim for one
    * split per core. */
  def maxSplitBytes(spark: SparkSession, totalBytes: Long, fileCount: Long): Long = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val conf = classic.sessionState.conf
    val openCost = conf.filesOpenCostInBytes
    val parallelism = conf.filesMinPartitionNum
      .getOrElse(classic.sparkContext.defaultParallelism)
    val bytesPerCore = (totalBytes + fileCount * openCost) / math.max(1, parallelism)
    Math.min(conf.filesMaxPartitionBytes, Math.max(openCost, bytesPerCore))
  }

  /** `files.openCostInBytes` — the padding the packer charges per file. */
  def openCostInBytes(spark: SparkSession): Long =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.filesOpenCostInBytes

  /** The file paths (decoded) inside an executable partition built by
    * [[filePartition]] — the deletion-vector reader wrapper keys its
    * per-partition rowid mask on them (r11). */
  def filePaths(p: InputPartition): Seq[org.apache.hadoop.fs.Path] = p match {
    case fp: FilePartition => fp.files.toSeq.map(_.toPath)
    case _                 => Nil
  }

  /** Projects rows holding one extra column at `ordinal` back to
    * `types` — how the deletion-vector readers drop the row id they
    * widened the read with. */
  def withoutColumn(types: Seq[org.apache.spark.sql.types.DataType], ordinal: Int)
      : org.apache.spark.sql.catalyst.expressions.UnsafeProjection =
    org.apache.spark.sql.catalyst.expressions.UnsafeProjection
      .create(types.zipWithIndex.map { case (dt, i) =>
        org.apache.spark.sql.catalyst.expressions.BoundReference(
          if (i < ordinal) i else i + 1, dt, nullable = true)
          : org.apache.spark.sql.catalyst.expressions.Expression
      })

  /** A serializable Hadoop configuration capsule for executor-side
    * section reads (the same shape [[readerFactory]] broadcasts). */
  def serializableConf(spark: SparkSession): SerializableConfiguration =
    new SerializableConfiguration(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.newHadoopConf())
}
