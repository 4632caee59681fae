package org.apache.spark.sql.graftbridge

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapred.JobConf
import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriterFactory, WriterCommitMessage}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.v2.DataWritingSparkTask
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOutputWriter, ParquetWriteSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Same-package bridge into Spark's parquet WRITE stack for graft's one
  * physical write ([[graft.core.GraftWriterFactory]]) — the write-side
  * sibling of [[ParquetReadBridge]].
  *
  * The task writer plans its own partition layout and file names
  * (manifest-governed) but the bytes go through Spark's OWN
  * [[ParquetOutputWriter]] / [[ParquetWriteSupport]] — the exact
  * row-to-parquet conversion a `df.write.parquet` performs (timestamp
  * micros, decimal encodings, rebase handling, field-id metadata), so
  * every reader, including this library's footer-stats collector, sees
  * ordinary Spark parquet files. */
object ParquetWriteBridge {

  /** A hadoop conf prepared exactly as `ParquetFileFormat.prepareWrite`
    * does for a write of `fileSchema` rows: write-support wiring, the
    * session's legacy/rebase/timestamp modes, the codec, and graft's
    * per-column bloom-filter options. Built once on the driver (from
    * the session conf) and broadcast inside the writer factory. */
  def writeConf(spark: SparkSession, fileSchema: StructType,
                compression: String, zstdLevel: Int,
                bloomCols: Seq[String], bloomNdv: Map[String, Long]): Configuration = {
    import org.apache.parquet.hadoop.ParquetOutputFormat
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val sqlConf = classic.sessionState.conf
    val conf = classic.sessionState.newHadoopConf()
    conf.set(ParquetOutputFormat.WRITE_SUPPORT_CLASS,
      classOf[ParquetWriteSupport].getName)
    ParquetWriteSupport.setSchema(fileSchema, conf)
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key,
      sqlConf.writeLegacyParquetFormat.toString)
    // graft collections always write INT64 micros: footer min/max stats
    // feed the manifest zone maps. Set on this job's conf only; the
    // session's own outputTimestampType is never touched
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, "TIMESTAMP_MICROS")
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key,
      sqlConf.parquetFieldIdWriteEnabled.toString)
    // SparkToParquetSchemaConverter(conf) reads these two unconditionally
    conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      sqlConf.getConf(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE).toString)
    conf.set(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      sqlConf.parquetInferTimestampNTZEnabled.toString)
    conf.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key,
      sqlConf.getConf(SQLConf.PARQUET_REBASE_MODE_IN_WRITE).toString)
    conf.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key,
      sqlConf.getConf(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE).toString)
    conf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sqlConf.sessionLocalTimeZone)
    val codec = compression.toLowerCase match {
      case "none" => "UNCOMPRESSED"
      case c      => c.toUpperCase
    }
    conf.set(ParquetOutputFormat.COMPRESSION, codec)
    if (codec == "ZSTD")
      conf.setInt("parquet.compression.codec.zstd.level", zstdLevel)
    bloomCols.foreach(c => conf.setBoolean(s"parquet.bloom.filter.enabled#$c", true))
    bloomNdv.foreach { case (c, n) =>
      conf.setLong(s"parquet.bloom.filter.expected.ndv#$c", n)
    }
    conf
  }

  /** Run `factory`'s writers over `df`'s partitions as ONE Spark job
    * under its own SQL execution id — what Spark's V2 write exec does,
    * minus the `BatchWrite` around it: each task runs
    * `DataWritingSparkTask` (commit-coordinated, so only one attempt per
    * partition commits) and ships its commit message back, in
    * partition order. On failure, `abort` receives the same array, null
    * where a task did not commit (the others' files are on disk but no
    * manifest will reference them), then the failure propagates. */
  def runWriteJob(df: DataFrame, factory: DataWriterFactory)
                 (abort: Seq[WriterCommitMessage] => Unit): Seq[WriterCommitMessage] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("graft write")) {
      val rdd = qe.executedPlan.execute()
      val messages = new Array[WriterCommitMessage](rdd.partitions.length)
      // DataWritingSparkTaskResult is private to Spark's v2 package: take
      // the commit message inside the task closure
      val task = (ctx: TaskContext, rows: Iterator[InternalRow]) =>
        DataWritingSparkTask.run(factory, ctx, rows, true, Map.empty).writerCommitMessage
      try df.sparkSession.sparkContext.runJob(rdd, task, rdd.partitions.indices,
        (i: Int, m: WriterCommitMessage) => messages(i) = m)
      catch { case e: Throwable =>
        // a failing clean-up must not hide why the job failed
        try abort(messages.toSeq)
        catch { case NonFatal(s) => e.addSuppressed(s) }
        throw e
      }
      messages.toSeq
    }
  }

  /** Report a committed task's output to Spark's task metrics, as the
    * V1 writer's `BasicWriteTaskStatsTracker` does (`DataWritingSparkTask`
    * leaves `outputMetrics` at zero). No-op outside a task. */
  def reportOutput(bytes: Long, records: Long): Unit =
    Option(TaskContext.get()).foreach { tc =>
      val m = tc.taskMetrics().outputMetrics
      m.setBytesWritten(bytes)
      m.setRecordsWritten(records)
    }

  /** Open one parquet file at `path` for [[InternalRow]]s of the schema
    * `writeConf` was built with. The task-attempt identity only names
    * the hadoop context (our file names are already unique); `close()`
    * finalizes the footer. */
  def newWriter(conf: Configuration, path: String,
                partitionId: Int, taskId: Long): ParquetOutputWriter = {
    val attempt = new TaskAttemptID(
      new TaskID(new JobID("graft-native-write", taskId.toInt), TaskType.MAP, partitionId),
      0)
    val ctx = new TaskAttemptContextImpl(new JobConf(conf), attempt)
    new ParquetOutputWriter(path, ctx)
  }

  /** Spark's Hive-style partition path segment for one `col=value` pair
    * (`ExternalCatalogUtils` escaping + the null/empty default-partition
    * sentinel) — byte-identical to what Spark's dynamic-partition
    * writer names, so [[graft.core.Collection]]'s path decoder reads
    * native-written partitions with no special case. */
  def partitionPathSegment(col: String, value: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .getPartitionPathString(col, Option(value).getOrElse(""))

  /** Bind `exprs` (resolved, from an analyzed plan over `input`'s
    * attributes) to ordinals and compile an executor-evaluable unsafe
    * projection. */
  def boundProjection(exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
                      input: Seq[org.apache.spark.sql.catalyst.expressions.Attribute])
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] =
    exprs.map(e => org.apache.spark.sql.catalyst.expressions.BindReferences
      .bindReference(e, org.apache.spark.sql.catalyst.expressions.AttributeSeq(input)))

  /** Compile bound expressions into an UnsafeProjection (executor side —
    * codegen with interpreted fallback). */
  def unsafeProjection(bound: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.expressions.UnsafeProjection =
    org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(bound)

  /** The optimizer's `ReplaceExpressions` rewrite for a bare expression
    * tree: [[org.apache.spark.sql.catalyst.expressions.RuntimeReplaceable]]
    * nodes (`to_json`, many SQL sugar functions) cannot be evaluated —
    * only their `replacement` can. ANALYZED-but-unoptimized expressions
    * lifted out of a plan (the CHECK-constraint guards) must pass
    * through this before binding, or interpreted eval asserts. Iterates
    * because a replacement may itself contain replaceables. */
  def replaceRuntime(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions.RuntimeReplaceable
    var cur = e
    var rounds = 0
    while (rounds < 10 && cur.exists(_.isInstanceOf[RuntimeReplaceable])) {
      cur = cur.transformUp { case r: RuntimeReplaceable => r.replacement }
      rounds += 1
    }
    cur
  }

  /** Inline a stack of analyzed `Project`s onto the plan's base relation:
    * returns (exprFor(name), base output attributes). The partitioning's
    * `assign` builds `withColumn` chains — this collapses them so each
    * derived partition column becomes ONE resolved expression over the
    * table schema, ready for [[boundProjection]]. */
  def collapseProjects(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : (Map[String, org.apache.spark.sql.catalyst.expressions.Expression],
         Seq[org.apache.spark.sql.catalyst.expressions.Attribute]) = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Expression}
    import org.apache.spark.sql.catalyst.plans.logical.Project
    def walk(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
        : (Map[Long, Expression], Seq[Attribute], Seq[Attribute]) = p match {
      case Project(projectList, child) =>
        val (childMap, base, _) = walk(child)
        val entries = projectList.map { ne =>
          val inlined = ne.transformUp {
            case a: AttributeReference if childMap.contains(a.exprId.id) =>
              childMap(a.exprId.id)
          }
          val value = inlined match {
            case Alias(childExpr, _) => childExpr
            case other               => other
          }
          ne.exprId.id -> value
        }.toMap
        (entries, base, p.output)
      case leaf =>
        (leaf.output.map(a => a.exprId.id -> (a: Expression)).toMap, leaf.output, leaf.output)
    }
    val (map, base, out) = walk(plan)
    (out.map(a => a.name -> map(a.exprId.id)).toMap, base)
  }
}
