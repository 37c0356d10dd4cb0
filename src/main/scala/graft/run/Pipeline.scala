package graft.run

import java.util.concurrent.{CompletableFuture, CompletionException, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicReference

import scala.collection.mutable

import org.apache.spark.JobExecutionStatus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution

import graft.model.{Destination, Entities}

/** Host-level orchestration parity (SURVEY.md §3.1): entity jobs run in the
  * topological order of COLLECTION_MAPPINGS (`settings.py:136-137`,
  * `orchestrator.py:181-188` forces sequential mode for FK integrity); each
  * job's *internal* plan is a Spark DAG. Dimension results are registered so
  * later jobs resolve FKs against them (the reference's warm-cache phase,
  * `orchestrator.py:86-102`). `dryRun` mirrors extract+transform-without-
  * load (`run_etl.py:67-71`).
  *
  * Execution: the caller's thread calls `source`, `stage` and `sink` one at a
  * time in topological order (those closures need not be thread-safe), while
  * ONE background thread caches and materialises each entity's frames in the
  * same order, so planning later entities and writing entity k overlap the
  * materialisation of the entities after k. Because the background
  * order is topological, every dim a frame reads is already materialised
  * when the frame is cached, so plans see the same dim statistics as a
  * strictly serial run. Sink k runs once frame k is materialised and sink
  * k-1 has returned: FK parents are still written before their children.
  * The background jobs carry the submitting thread's job group and
  * description. A failure cancels the run's jobs, waits for the background
  * thread and its jobs to stop, then rethrows the first error.
  *
  * Per-entity row counts ([[report]]) are the return values of the
  * `count()` that materialises each cached frame, so they cannot arrive
  * late. `collector` is unused; it remains only because the benchmark
  * harness (`perfbench`) still passes one.
  */
final class Pipeline(
    spark: SparkSession,
    source: String => DataFrame,
    sink: (String, Destination, DataFrame) => Unit,
    dryRun: Boolean = false,
    collector: Option[MetricsCollector] = None) {

  private val results = mutable.LinkedHashMap[(String, Destination), DataFrame]()
  private val metrics = mutable.LinkedHashMap[String, Long]()

  /** Run entities in topo order with the provided stage implementations.
    * Entities without a stage are skipped (partial runs, like the
    * reference's `--entities` flag).
    */
  def run(stages: Map[String, Pipeline.Stage]): Map[(String, Destination), DataFrame] = {
    val sc = spark.sparkContext
    val tag = s"graft-pipeline-${java.util.UUID.randomUUID()}"
    val worker = Executors.newSingleThreadExecutor { (r: Runnable) =>
      val t = new Thread(r, "graft-pipeline-materialize")
      t.setDaemon(true)
      t
    }
    val firstError = new AtomicReference[Throwable]()
    // (entity, destination, future of the materialising count), in
    // topological order
    val pending = mutable.Queue.empty[(String, Destination, CompletableFuture[Long])]

    def sinkReady(block: Boolean): Unit =
      while (pending.nonEmpty && (block || pending.head._3.isDone)) {
        val (entity, dest, done) = pending.dequeue()
        // S13: the count that materialises the cache IS the entity's row
        // count — no second pass over the frame; the sink reads the cache
        metrics(s"$entity/${dest.toString.toLowerCase}") =
          try done.join()
          catch { case e: CompletionException if e.getCause != null => throw e.getCause }
        if (!dryRun) sink(entity, dest, results((entity, dest)))
      }

    sc.addJobTag(tag)
    try {
      for (cfg <- Entities.ordered; stage <- stages.get(cfg.name)) {
        val src = source(cfg.mongo)
        // dims exposed as "name" (Postgres result preferred — FK resolution
        // targets the relational ids, like the reference's pg_id_mapper) and
        // as "name:postgres"/"name:cassandra" for explicit dialect picks
        val qualified = results.map { case ((n, dest), df) =>
          s"$n:${dest.toString.toLowerCase}" -> df
        }
        val bare = results.groupBy(_._1._1).map { case (n, m) =>
          n -> m.getOrElse((n, Destination.Postgres), m.head._2)
        }
        val out = stage(src, (bare ++ qualified).toMap)
        for ((dest, df) <- out) {
          // cached: later entities broadcast-join against this result, and
          // the sink re-reads it — one computation, many consumers (K3
          // contract: ids are computed once, never re-derived with drifting
          // state). Caching happens on the worker, after every earlier frame
          // is materialised; plans built here see the cache once it exists.
          results((cfg.name, dest)) = df
          pending += ((cfg.name, dest,
            SQLExecution.withThreadLocalCaptured[Long](
              spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], worker) {
              if (firstError.get != null) throw firstError.get
              try df.cache().count()
              catch { case e: Throwable => firstError.compareAndSet(null, e); throw e }
            }))
        }
        sinkReady(block = false)
      }
      sinkReady(block = true)
      results.toMap
    } catch {
      case e: Throwable =>
        firstError.compareAndSet(null, e)
        sc.cancelJobsWithTag(tag)
        worker.shutdown()
        worker.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
        awaitJobsStopped(tag)
        throw firstError.get
    } finally {
      worker.shutdown()
      sc.removeJobTag(tag)
    }
  }

  /** Blocks until none of the run's jobs is still running (the status store
    * trails the scheduler, so the listener bus is drained first).
    */
  private def awaitJobsStopped(tag: String): Unit = {
    val sc = spark.sparkContext
    val tracker = sc.statusTracker
    val deadline = System.currentTimeMillis() + 10000
    def running = {
      org.apache.spark.GraftListenerBridge.waitListenerBusEmpty(sc)
      tracker.getJobIdsForTag(tag).exists(id =>
        tracker.getJobInfo(id).exists(_.status == JobExecutionStatus.RUNNING))
    }
    while (running && System.currentTimeMillis() < deadline) Thread.sleep(20)
  }

  /** Per-entity row counts (`etl/utils/metrics.py` parity). */
  def report: Map[String, Long] = metrics.toMap
}

object Pipeline {
  /** One per-entity stage: given (sourceDF, dims-so-far) produce the final
    * frame per destination.
    */
  type Stage = (DataFrame, Map[String, DataFrame]) => Map[Destination, DataFrame]

  /** Parquet-backed sink for the hermetic build (S6/S9 stand-in). */
  def parquetSink(baseDir: String): (String, Destination, DataFrame) => Unit =
    (entity, dest, df) =>
      df.write.mode("overwrite").parquet(s"$baseDir/${dest.toString.toLowerCase}/$entity")
}
