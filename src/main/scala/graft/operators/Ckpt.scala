package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.storage.StorageLevel

/** Serialized local checkpoints for operator-path intermediates.
  *
  * `Dataset.localCheckpoint`'s default storage level keeps the cached rows
  * as deserialized JVM objects. For the corpus-sized intermediates the
  * dedup/curation operators pin (symmetrized pair-graph edges, shingle
  * arrays, exploded term rows), that representation is 3-5x the on-wire
  * bytes and — worse — millions of long-lived objects that both defeat the
  * unified memory manager's size accounting and stall the collector: the
  * 100x corpus' 57M-row edge checkpoint OOM'd an 8 GiB driver JVM outright
  * (connectedComponents, round-8 ladder run) while its serialized form is
  * ~1.4 GiB of UnsafeRow bytes.
  *
  * MEMORY_AND_DISK_SER stores the compact serialized blocks, spills them to
  * disk under pressure, and costs only a per-read copy — the right trade
  * for blocks that are written once and scanned a handful of times, which
  * is exactly what an iterative operator's per-round snapshots are. Only
  * the BIG-OBJECT checkpoints use it (pair-graph edges/labels, shingle and
  * chunk arrays, exploded term rows); the thin `(id, fp, band, bucket,
  * sub)` banded tables and driver-facing tiny tables (hierarchy path maps)
  * keep the plain default — serialization buys nothing on a few MB of
  * numeric rows.
  */
private[graft] object Ckpt {

  implicit class CkptOps(private val df: DataFrame) extends AnyVal {

    /** Lazy serialized checkpoint: materializes inside the first consuming
      * action, later consumers read the blocks.
      */
    def lazySerCkpt: DataFrame =
      df.localCheckpoint(false, StorageLevel.MEMORY_AND_DISK_SER)

    /** Eager serialized checkpoint: materializes now (its own job); use
      * when the caller frees predecessors right after.
      */
    def eagerSerCkpt: DataFrame =
      df.localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)

    /** Eager serialized checkpoint whose building job also returns a row
      * count: every row, or only those whose boolean column `flag` is true.
      * The job has [[eagerSerCkpt]]'s shape (the eager form runs the same
      * one job and drops its count); `Dataset.count()` would add an
      * aggregate stage, which AQE runs as a second job. The count is an
      * action's return value, so a route that reads it does not depend on
      * listener-bus timing. The job runs [[inExecution]] of the checkpoint.
      */
    def countedSerCkpt(flag: Option[String] = None): (DataFrame, Long) = {
      val c = lazySerCkpt
      val n = inExecution(c, "count") { rows =>
        flag match {
          case None => rows.count()
          case Some(f) =>
            val i = c.schema.fieldIndex(f)
            rows.filter(_.getBoolean(i)).count()
        }
      }
      (c, n)
    }
  }

  /** Runs an RDD-level `action` over the rows of `df`'s physical plan inside
    * one SQL execution of `df`, as a `Dataset` action runs, so the jobs it
    * starts belong to that query (a listener sees `spark.sql.execution.id`)
    * instead of standing alone. `name` is the action name query-execution
    * listeners receive.
    */
  private[graft] def inExecution[T](df: DataFrame, name: String)(action: RDD[InternalRow] => T): T = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some(name))(action(qe.toRdd))
  }

  /** The RDD a `localCheckpoint` persisted — so an iterative operator can
    * free a superseded snapshot's blocks eagerly instead of waiting for
    * GC + ContextCleaner (at 100x each snapshot is tens of millions of
    * rows; 5-8 retained generations is exactly the block-manager pressure
    * that sent the round-8 spill path into missing-shuffle-file
    * territory). Shared by every checkpoint-loop operator (connected
    * components, BPE merge learning) so a change in the checkpoint plan
    * shape — the `LogicalRDD` match silently no-ops and leaks blocks if
    * it ever stops holding — is fixed in ONE place (ADVICE r13).
    */
  private[graft] def ckptRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.logical.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }
}
