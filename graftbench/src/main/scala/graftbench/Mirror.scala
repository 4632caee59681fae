package graftbench

import scala.jdk.CollectionConverters._

import graft.core.Collection
import graft.streaming.StreamOps

/** A change-feed consumer keeping `target` equal to `source` through
  * `StreamOps.replicateChanges`. Each catch-up starts the query from its
  * checkpoint, drains every commit made since the last one, and stops:
  * the shape of a periodic consumer job. */
final class Mirror(source: Collection, target: Collection, keys: Seq[String],
                   checkpoint: String) {
  def catchUp(h: Harness): Unit = {
    val q = StreamOps.replicateChanges(h.spark, source, target, keys, Some(checkpoint))
    try q.processAllAvailable()
    finally q.stop()
    q.recentProgress.foreach { p =>
      val d = p.durationMs.asScala
      Seq("latestOffset" -> "streaming.latest_offset_ms", "getBatch" -> "streaming.get_batch_ms",
        "queryPlanning" -> "streaming.query_planning_ms", "addBatch" -> "streaming.add_batch_ms",
        "walCommit" -> "streaming.wal_commit_ms").foreach { case (k, name) =>
        d.get(k).foreach(v => h.sample(name, v.doubleValue))
      }
      h.sample("streaming.rows_per_batch", p.numInputRows.toDouble)
    }
  }

  /** Rows of the source missing from the target, and rows of the target
    * not in the source. */
  def differences(): (Long, Long) = {
    val cols = source.schema.fieldNames.toSeq
    val s = source.query().select(cols.map(org.apache.spark.sql.functions.col): _*)
    val t = target.query().select(cols.map(org.apache.spark.sql.functions.col): _*)
    (s.exceptAll(t).count(), t.exceptAll(s).count())
  }
}
