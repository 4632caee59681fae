package graft.core

import java.util.UUID

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Expression, GenericInternalRow, JoinedRow}
import org.apache.spark.sql.connector.write.{DataWriter, DataWriterFactory, WriterCommitMessage}
import org.apache.spark.sql.graftbridge.{Bridge, ParquetWriteBridge}
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

/** Files (root-relative) one committed task wrote. */
case class GraftNativeCommit(files: Seq[String]) extends WriterCommitMessage

object GraftNativeCommit {
  /** Every file `messages` report; a null entry (a task that never
    * committed) reports none. */
  def files(messages: Seq[WriterCommitMessage]): Seq[String] = messages.flatMap {
    case GraftNativeCommit(fs) => fs
    case null => Nil
    case other => throw new IllegalStateException(s"unexpected commit message $other")
  }
}

/** The one physical write of every graft collection write: executor
  * tasks stream [[InternalRow]]s through Spark's own parquet writer
  * straight into FINAL, uniquely-named files in the Hive partition dirs
  * under the collection root, and each task's commit message reports
  * the exact files it wrote. There is no staging dir and no rename: the
  * bytes are written once, where they will live.
  *
  * This is safe because FILE VISIBILITY IS GOVERNED BY THE MANIFEST, not
  * by directory listing. The commit references exactly the reported
  * files; anything a crashed, aborted or speculated task leaves behind is
  * an unreferenced data file that [[Collection.vacuum]]'s age-gated GC
  * reclaims. Concurrent writers never collide: each factory's job UUID
  * namespaces its file names, and nobody shares committer state.
  *
  * Two callers build a factory: the SQL face
  * ([[graft.sources.GraftNativeWrite]], whose input rows carry only the
  * table's columns) and [[Collection]]'s own writes (whose frames already
  * carry every partition column). Row ids are
  * `(taskBase + partitionId) << 33 + rowIndex`; file names, file column
  * names (a renamed column's physical name), directory format and row
  * ids are decided here and nowhere else.
  *
  * Reference behavior: zcollection's insert writes Zarr chunks then
  * commits an Icechunk snapshot referencing exactly those chunk keys
  * (collection/base.py:218-320, store/icechunk_store.py). */
case class GraftWriterFactory(root: String, conf: SerializableConfiguration,
                              partExprs: Seq[Expression], partCols: Seq[String],
                              /** Each partition key rendered as its Hive
                                * path value, bound to the key row. */
                              dirExprs: Seq[Expression], outExprs: Seq[Expression],
                              taskBase: Long, compression: String, jobUuid: String,
                              /** Bound CHECK guards: one boolean per
                                * constraint, then the row's JSON
                                * rendering (violation message). */
                              checkExprs: Seq[Expression] = Nil,
                              checkConstraints: Seq[(String, String)] = Nil)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(this, partitionId, taskId)
}

object GraftWriterFactory {

  /** The SQL face: the input carries the table's columns only. Resolves
    * the partition-key derivations ONCE on the driver: runs the
    * partitioning's own assign() over an empty frame of the input
    * schema, collapses the analyzed withColumn Projects, and binds each
    * partition column's expression to input ordinals (session timezone
    * and casts resolved by the analyzer). Identity partition columns
    * move into the directory name; the tasks enforce the spec's CHECK
    * constraints per row. */
  def forTable(spark: SparkSession, c: Collection, spec: Collection.NativeWriteSpec,
               input: StructType): GraftWriterFactory = {
    val df0 = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], input)
    val (byName, baseAttrs) =
      ParquetWriteBridge.collapseProjects(Bridge.analyzed(c.partitioning.assign(df0)))
    val partExprs = ParquetWriteBridge.boundProjection(
      spec.partCols.map(p => byName.getOrElse(p, throw new IllegalStateException(
        s"partitioning did not derive expected column '$p'"))), baseAttrs)
    build(spark, c.root, spec, input, partExprs, moved = spec.identityCols, spec.constraints)
  }

  /** [[Collection]]'s own writes: the frame already carries every
    * partition column, and all of them move into the directory name.
    * No CHECK guards — `constraintGuard` ran upstream in the frame. */
  def forFrame(spark: SparkSession, root: String, spec: Collection.NativeWriteSpec,
               input: StructType): GraftWriterFactory = {
    val partExprs = spec.partCols.map { p =>
      val i = input.fieldIndex(p)
      BoundReference(i, input(i).dataType, input(i).nullable)
    }
    build(spark, root, spec, input, partExprs, moved = spec.partCols, constraints = Nil)
  }

  private def build(spark: SparkSession, root: String, spec: Collection.NativeWriteSpec,
                    input: StructType, partExprs: Seq[Expression], moved: Seq[String],
                    constraints: Seq[(String, String)]): GraftWriterFactory = {
    // file content = input columns minus the ones moved into the
    // directory name (like partitionBy), plus the row id; a renamed
    // column is written under its PHYSICAL name, so every file of every
    // generation shares one physical schema
    val kept = input.fields.toSeq.zipWithIndex.filterNot { case (f, _) => moved.contains(f.name) }
    val outExprs = kept.map { case (f, i) => BoundReference(i, f.dataType, f.nullable) }
    val fileSchema = StructType(
      kept.map { case (f, _) => f.copy(name = spec.renames.getOrElse(f.name, f.name)) } :+
        StructField(Collection.RowIdCol, LongType, nullable = false))
    val conf = ParquetWriteBridge.writeConf(spark, fileSchema,
      spec.compression, spec.zstdLevel, spec.bloomCols, spec.bloomNdv)
    // the Hive path value of each key: the `Cast(key, StringType,
    // sessionTz)` Spark's dynamic-partition writer formats with, so every
    // key type lands in the directory Spark's own partitionBy would name
    val tz = spark.conf.get("spark.sql.session.timeZone")
    val dirExprs = partExprs.zipWithIndex.map { case (e, i) =>
      Cast(BoundReference(i, e.dataType, nullable = true), StringType, Some(tz))
    }
    GraftWriterFactory(root, new SerializableConfiguration(conf),
      partExprs, spec.partCols, dirExprs, outExprs, spec.taskBase,
      spec.compression, UUID.randomUUID().toString,
      checkExprs(spark, constraints, input), constraints)
  }

  /** CHECK constraints (r10b): compile each predicate ONCE on the driver
    * into `constraintGuard`'s exact boolean — `coalesce(expr(sql)
    * .cast("boolean"), true)` (ANSI: NULL passes) — bound to input
    * ordinals; the tasks evaluate codegen'd per row and raise naming the
    * constraint, plus a to_json(struct(*)) rendering of the offending
    * row, the constraintGuard message shape. */
  private def checkExprs(spark: SparkSession, constraints: Seq[(String, String)],
                         input: StructType): Seq[Expression] =
    if (constraints.isEmpty) Nil
    else {
      import org.apache.spark.sql.functions.{coalesce, col, expr, lit, struct, to_json}
      val df0 = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], input)
      val guarded = df0.select(
        constraints.zipWithIndex.map { case ((_, sql), i) =>
          coalesce(expr(sql).cast("boolean"), lit(true)).as(s"__check_$i")
        } :+ to_json(struct(input.fieldNames.toSeq.map(col): _*)).as("__check_row"): _*)
      val (byName, baseAttrs) = ParquetWriteBridge.collapseProjects(Bridge.analyzed(guarded))
      ParquetWriteBridge.boundProjection(
        (constraints.indices.map(i => byName(s"__check_$i")) :+ byName("__check_row"))
          .map(ParquetWriteBridge.replaceRuntime),
        baseAttrs)
    }
}

/** One task's writer: rows arrive sorted so each Hive directory is a
  * contiguous run — exactly one parquet writer is open at any moment.
  * Speculative attempts are arbitrated by Spark's commit coordinator
  * (only one attempt's files reach the commit); a losing or crashed
  * attempt's files are unreferenced and reclaimed by vacuum. */
class GraftDataWriter(f: GraftWriterFactory, partitionId: Int, taskId: Long)
    extends DataWriter[InternalRow] {

  private val partProj = ParquetWriteBridge.unsafeProjection(f.partExprs)
  private val dirProj = ParquetWriteBridge.unsafeProjection(f.dirExprs)
  private val outProj = ParquetWriteBridge.unsafeProjection(f.outExprs)
  // CHECK guards: booleans (never null — coalesced true) + row JSON
  private val checkProj =
    if (f.checkExprs.isEmpty) null
    else ParquetWriteBridge.unsafeProjection(f.checkExprs)
  private val idRow = new GenericInternalRow(1)
  private val joined = new JoinedRow
  private var rowId: Long = (f.taskBase + partitionId) << 33
  private var writer: org.apache.spark.sql.execution.datasources.parquet.ParquetOutputWriter = null
  private var fileSeq = 0
  private val files = ArrayBuffer.empty[String]

  private val ext =
    if (f.compression.toLowerCase == "none") ".parquet"
    else s".${f.compression.toLowerCase}.parquet"

  private def partitionDir(key: InternalRow): String = {
    val vals = dirProj(key)
    f.partCols.indices.map { i =>
      ParquetWriteBridge.partitionPathSegment(f.partCols(i),
        if (vals.isNullAt(i)) null else vals.getUTF8String(i).toString)
    }.mkString("/")
  }

  private def roll(dir: String): Unit = {
    if (writer != null) writer.close()
    val name = f"part-$partitionId%05d-${f.jobUuid}-t$taskId-c$fileSeq$ext"
    fileSeq += 1
    val rel = s"$dir/$name"
    files += rel
    writer = ParquetWriteBridge.newWriter(f.conf.value,
      new Path(f.root, rel).toString, partitionId, taskId)
  }

  /** The last roll's partition key (a defensive copy — `partProj`
    * reuses its buffer). The sorted input makes each Hive directory a
    * contiguous run, so the per-row cost is one UnsafeRow bytes-compare;
    * the key formatting + path escaping in [[partitionDir]] runs only
    * when the key actually changes. */
  private var currentKey: InternalRow = null

  override def write(row: InternalRow): Unit = {
    if (checkProj != null) {
      val v = checkProj(row)
      var i = 0
      while (i < f.checkConstraints.length) {
        if (!v.getBoolean(i)) {
          val (name, sql) = f.checkConstraints(i)
          // the task fails -> the job aborts -> nothing commits; same
          // atomic-refusal contract (and message shape) as the
          // constraintGuard raise_error
          throw new IllegalStateException(
            s"CHECK constraint '$name' violated: ($sql) is false for row " +
            v.getUTF8String(f.checkConstraints.length))
        }
        i += 1
      }
    }
    val key = partProj(row)
    if (currentKey == null || key != currentKey) {
      roll(partitionDir(key))
      currentKey = key.copy()
    }
    idRow.setLong(0, rowId)
    rowId += 1
    writer.write(joined(outProj(row), idRow).asInstanceOf[InternalRow])
  }

  override def commit(): WriterCommitMessage = {
    if (writer != null) { writer.close(); writer = null }
    val fs = new Path(f.root).getFileSystem(f.conf.value)
    ParquetWriteBridge.reportOutput(
      files.map(rel => fs.getFileStatus(new Path(f.root, rel)).getLen).sum,
      rowId - ((f.taskBase + partitionId) << 33))
    GraftNativeCommit(files.toSeq)
  }

  override def abort(): Unit = {
    if (writer != null) {
      try writer.close() catch { case _: Exception => () }
      writer = null
    }
    val fs = new Path(f.root).getFileSystem(f.conf.value)
    files.foreach { rel =>
      try fs.delete(new Path(f.root, rel), false) catch { case _: Exception => () }
    }
  }

  override def close(): Unit =
    if (writer != null) { writer.close(); writer = null }
}
