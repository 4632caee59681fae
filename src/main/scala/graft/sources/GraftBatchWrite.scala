package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types._

import graft.core.{Collection, GraftNativeCommit, GraftWriterFactory}

/** NATIVE DSv2 batch write for the graft catalog face (r10) — the
  * write-side mirror of the E36 native scan: `INSERT INTO graft.db.t`
  * plans as a real `AppendData` (no `V1Write -> InsertableRelation`
  * Row-bridge seam). The executor tasks are graft's one physical write,
  * [[graft.core.GraftWriterFactory]] (the same task writer every
  * [[Collection]] write runs): they stream [[InternalRow]]s into their
  * FINAL files under the collection root and report the exact file set
  * in their task commits, and `commit()` publishes ONE atomic manifest
  * generation via the same commit/conflict/GC path every other writer
  * uses. This file holds only the DSv2 `Write`, `BatchWrite` and
  * `StreamingWrite` wrappers around that writer.
  *
  * Layout parity with [[Collection]]'s writes:
  * [[RequiresDistributionAndOrdering]] demands a RANGE distribution +
  * intra-task sort on the partitioning's input columns then the axis —
  * `Collection.prepareForWrite`'s `repartitionByRange(partCols, axis)`
  * expressed over data columns (every partition key derivation is
  * monotone in its source column, so sorting by source groups each
  * Hive directory into one contiguous run and each task holds ONE open
  * parquet writer at a time — bounded memory at any partition fan-out).
  *
  * Every catalog table writes here, renamed columns and CHECK
  * constraints included: the task writer names a renamed column's file
  * column by its physical name, and the tasks evaluate the constraint
  * guard's exact NULL-passes boolean per row, codegen'd, and raise
  * naming the constraint. */
class GraftNativeWrite(spark: SparkSession, collection: Collection,
                       spec: Collection.NativeWriteSpec, mode: String,
                       inputSchema: StructType,
                       replaceAst: graft.core.FilterExpr.Ast = null,
                       /** Re-open a WRITABLE handle — the streaming leg
                         * refreshes its snapshot per epoch. */
                       reopen: () => Collection = null,
                       /** The exactly-once idempotence key for the
                         * streaming leg (`streamName` option |
                         * `checkpointLocation` | query id). */
                       streamName: String = null)
    extends Write with RequiresDistributionAndOrdering {

  // range-cluster + sort on (partitioning inputs, axis): the data-column
  // expression of prepareForWrite's (partCols, axis) — derivations are
  // monotone in their inputs, so directory runs are contiguous per task
  private val orderCols: Seq[String] =
    (collection.partitioning.identityCols ++ collection.partitioning.inputCols ++
      Seq(collection.axis)).distinct

  private val sortOrders: Array[SortOrder] = orderCols.map(c =>
    Expressions.sort(Expressions.column(c), SortDirection.ASCENDING)).toArray

  override def requiredDistribution(): Distribution = Distributions.ordered(sortOrders)
  override def requiredOrdering(): Array[SortOrder] = sortOrders
  // 0 = engine-chosen (session shuffle partitions, AQE-coalescible) —
  // parallelism follows the data volume, like prepareForWrite's range
  // repartition
  override def requiredNumPartitions(): Int = 0

  override def description(): String =
    s"GraftNativeWrite(${collection.root}, gen=${spec.generation}, mode=$mode)"

  override def toBatch: BatchWrite =
    new GraftNativeBatchWrite(spark, collection, spec, mode, inputSchema, replaceAst)

  /** `df.writeStream.toTable("graft.db.t")` (r10) — the NATIVE
    * exactly-once streaming sink on the catalog face: each micro-batch's
    * tasks stream parquet into final files (the same writer factory as
    * the batch leg, rebuilt per epoch against the epoch's head snapshot
    * so row-id task bases never collide across epochs), and
    * `commit(epochId)` publishes ONE atomic generation carrying the
    * `(streamName, epochId)` high-water mark — Spark's at-least-once
    * epoch replay after a failure or restart is detected against the
    * committed mark and skipped, the [[Collection.insertStreamBatch]]
    * idempotence contract without the V1 Row bridge. Append mode
    * appends; Complete mode (`truncate()`) replaces the table every
    * epoch. */
  override def toStreaming: StreamingWrite = {
    require(mode == "append" || mode == "truncate",
      s"streaming writes support Append and Complete output modes, not '$mode'")
    require(reopen != null && streamName != null,
      "streaming write requires a reopenable table handle") // catalog face only
    new GraftNativeStreamingWrite(spark, reopen, mode, inputSchema, streamName)
  }
}

object GraftNativeWrite {
  /** The input's columns must be the snapshot's logical columns, in
    * order: a table whose schema changed since the query was analyzed
    * (a column renamed, added or dropped) refuses, naming both. */
  private[sources] def requireTableSchema(c: Collection, input: StructType): Unit =
    require(input.fieldNames.toSeq == c.schema.fieldNames.toSeq,
      s"write schema ${input.fieldNames.mkString(",")} does not match the " +
      s"schema ${c.schema.fieldNames.mkString(",")} of ${c.root} — re-read the " +
      "table and restart the write against its current columns")
}

/** The streaming half of [[GraftNativeWrite]]. One instance serves the
  * whole query run; Spark calls `createStreamingWriterFactory` then
  * `commit(epochId, ...)` strictly in sequence per micro-batch, so the
  * per-epoch (collection, spec) pair lives in a volatile field set at
  * factory-build time and read at commit. */
class GraftNativeStreamingWrite(spark: SparkSession, reopen: () => Collection,
                                mode: String, inputSchema: StructType,
                                streamName: String)
    extends StreamingWrite {

  @volatile private var epoch: (Collection, Collection.NativeWriteSpec) = null

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    // per-EPOCH snapshot: generation + row-id task base advance with the
    // collection, so epoch N+1's ids never collide with epoch N's rows
    val c = reopen()
    // a column renamed, added or dropped mid-stream refuses here; a
    // CHECK constraint added mid-stream is picked up — the NEXT epoch's
    // tasks enforce the new set (constraints ride the spec)
    GraftNativeWrite.requireTableSchema(c, inputSchema)
    val spec = c.nativeWriteSpec()
    epoch = (c, spec)
    val f = GraftWriterFactory.forTable(spark, c, spec, inputSchema)
    new StreamingDataWriterFactory {
      override def createWriter(partitionId: Int, taskId: Long,
                                epochId: Long): DataWriter[InternalRow] =
        f.createWriter(partitionId, taskId)
    }
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val (c, spec) = epoch
    val files = GraftNativeCommit.files(messages.toSeq).sorted
    if (c.streamHighWaterMark(streamName).exists(_ >= epochId)) {
      // a replayed epoch another run already committed (the checkpoint's
      // commit log lagged the sink): the just-written duplicates were
      // never published — remove them
      c.dropUncommittedFiles(files)
    } else {
      // the mark commits ATOMICALLY with the files; a racing zombie run
      // committing the same epoch loses in the rebase guard (loudly),
      // never lands twice
      c.commitNativeWrite(spec.generation, files, mode,
        streamMark = Some(streamName -> epochId))
    }
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val e = epoch
    if (e != null) e._1.dropUncommittedFiles(GraftNativeCommit.files(messages.toSeq))
  }
}

class GraftNativeBatchWrite(spark: SparkSession, collection: Collection,
                            spec: Collection.NativeWriteSpec, mode: String,
                            inputSchema: StructType,
                            replaceAst: graft.core.FilterExpr.Ast = null)
    extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    GraftWriterFactory.forTable(spark, collection, spec, inputSchema)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val files = GraftNativeCommit.files(messages.toSeq).sorted
    collection.commitNativeWrite(spec.generation, files, mode, replaceAst)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    collection.dropUncommittedFiles(GraftNativeCommit.files(messages.toSeq))
}
