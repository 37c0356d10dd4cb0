package graft.run

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Observation-based per-stage metrics (SURVEY.md §2.1 S13 / §2.6 A8,
  * `etl/utils/metrics.py`): `df.observe` attaches named aggregates that are
  * computed DURING whatever action materializes the frame — no extra count
  * job, which matters when the frame is 100 TB. Results arrive through a
  * [[QueryExecutionListener]], delivered asynchronously after the action;
  * readers go through [[MetricsCollector.during]], which drains the
  * listener bus before it returns.
  *
  * Observations only report; nothing steers on them. The readers are the
  * run reports of `Verify`, `RunTrainPrep`, `RunMediaAudit` and the
  * `Tools ladder` command. Operator routes and limits read the return
  * values of their own checkpoint jobs instead (`Ckpt.countedSerCkpt`), so
  * a late or missing observation can change a report, never an output or
  * a route.
  */
final class MetricsCollector(spark: SparkSession) extends AutoCloseable {

  private val seen = TrieMap.empty[String, Map[String, Any]]

  private val listener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.observedMetrics.foreach { case (name, row) =>
        seen.put(name, row.schema.fieldNames.zip(row.toSeq).toMap)
      }
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
  }
  spark.listenerManager.register(listener)

  /** Observations delivered so far, in hash order at every size. */
  def snapshot: Map[String, Map[String, Any]] = scala.collection.immutable.HashMap.from(seen)

  override def close(): Unit = spark.listenerManager.unregister(listener)
}

object MetricsCollector {

  /** Runs `body` with a listener registered and returns its value with the
    * observations delivered while it ran (the [[MetricsCollector.snapshot]]
    * shape). On exit, also when `body` throws, the listener bus is drained
    * once — a drain that times out is warned about on stderr under `label`,
    * since the observations may then be partial — and the listener is
    * unregistered. Callers treat an absent observation as missing, never
    * as zero.
    */
  def during[A](spark: SparkSession, label: String)(
      body: => A): (A, Map[String, Map[String, Any]]) = {
    val mc = new MetricsCollector(spark)
    val out =
      try body
      finally {
        if (!org.apache.spark.GraftListenerBridge.waitListenerBusEmpty(spark.sparkContext))
          System.err.println(s"[$label] warning: listener bus did not drain in 10 s " +
            "— observed metrics may be partial")
        mc.close()
      }
    (out, mc.snapshot)
  }
}
