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
  */
final class Pipeline(
    spark: SparkSession,
    source: String => DataFrame,
    sink: (String, Destination, DataFrame) => Unit,
    dryRun: Boolean = false,
    collector: Option[MetricsCollector] = None) {

  private val results = mutable.LinkedHashMap[(String, Destination), DataFrame]()
  private val metrics = mutable.LinkedHashMap[String, Long]()
  private val absent = mutable.ArrayBuffer.empty[String]

  /** Run entities in topo order with the provided stage implementations.
    * Entities without a stage are skipped (partial runs, like the
    * reference's `--entities` flag).
    */
  def run(stages: Map[String, Pipeline.Stage]): Map[(String, Destination), DataFrame] = {
    // S13: per-entity row counts ride the background materialisation as
    // observed metrics — a separate count() per entity would be a second
    // full pass over every frame (×15 entities; prohibitive when a frame is
    // 100 TB); the sink's write then reads the cache
    val mc = collector.getOrElse(new MetricsCollector(spark))
    val sc = spark.sparkContext
    val tag = s"graft-pipeline-${java.util.UUID.randomUUID()}"
    val worker = Executors.newSingleThreadExecutor { (r: Runnable) =>
      val t = new Thread(r, "graft-pipeline-materialize")
      t.setDaemon(true)
      t
    }
    val firstError = new AtomicReference[Throwable]()
    // (entity, destination, materialised-frame future), in topological order
    val pending = mutable.Queue.empty[(String, Destination, CompletableFuture[Unit])]

    def sinkReady(block: Boolean): Unit =
      while (pending.nonEmpty && (block || pending.head._3.isDone)) {
        val (entity, dest, done) = pending.dequeue()
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
          val name = s"${cfg.name}/${dest.toString.toLowerCase}"
          // cached: later entities broadcast-join against this result, and
          // the sink re-reads it — one computation, many consumers (K3
          // contract: ids are computed once, never re-derived with drifting
          // state). Caching happens on the worker, after every earlier frame
          // is materialised; plans built here see the cache once it exists.
          val observed = mc.observeRows(df, name)
          results((cfg.name, dest)) = observed
          pending += ((cfg.name, dest,
            SQLExecution.withThreadLocalCaptured[Unit](
              spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], worker) {
              if (firstError.get == null) {
                try observed.cache().count(): Unit
                catch { case e: Throwable => firstError.compareAndSet(null, e); throw e }
              }
            }))
        }
        sinkReady(block = false)
      }
      sinkReady(block = true)
      collect(mc)
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
      if (collector.isEmpty) mc.close()
    }
  }

  /** Reads every entity's observed row count after the last sink call; an
    * observation that never arrives is recorded in [[missing]] and warned
    * about, never silently dropped.
    */
  private def collect(mc: MetricsCollector): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    for ((entity, dest) <- results.keys; name = s"$entity/${dest.toString.toLowerCase}")
      mc.await(name, math.max(0L, deadline - System.currentTimeMillis())) match {
        case Some(m) => metrics(name) = m("rows").asInstanceOf[Long]
        case None =>
          absent += name
          System.err.println(s"[pipeline] WARNING row count for $name never arrived")
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

  /** Entities (`name/destination`) whose observed row count never arrived. */
  def missing: Seq[String] = absent.toSeq
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
