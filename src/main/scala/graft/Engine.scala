package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** Session factory for the graft engine.
  *
  * Tuned for the driver's harness (local[32], 128 GiB single JVM) but the
  * settings are the ones we would ship on a real cluster:
  *   - AQE on (runtime join re-planning + skew-join splitting),
  *   - shuffle partitions sized to cores (the driver overrides per-run),
  *   - UTC session time zone (oracle parity with DuckDB).
  */
object Engine {

  def session(
      master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
      shufflePartitions: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // Spill-aware shuffle sizing: AQE coalescing can only merge partitions
      // DOWN from the initial count — it can never split an oversized
      // aggregation state. Start shuffles at max(8x cores, cores) partitions
      // and let AQE coalesce small stages back to core count
      // (parallelismFirst keeps the floor at default parallelism), so the
      // same session survives a 100x data step without per-task aggregation
      // state outgrowing executor memory. On a real cluster this is the
      // "thousands of initial partitions, AQE right-sizes" pattern.
      .config(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        sys.env.getOrElse(
          "SPARK_GRAFT_INIT_PARTITIONS",
          math.max(shufflePartitions * 8, shufflePartitions).toString))
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Scan-split sizing for the harness corpus: its parquet files are
      // byte-small (0.6-60 MB) but row-heavy, so the 128 MB default puts
      // an entire file — and therefore an entire map-heavy text/embedding
      // stage — in ONE task (caught at 100x: q56 measured single-thread
      // regex throughput on a 32-core box). 16 MB splits recover scan
      // parallelism wherever row groups allow. A real deployment sizes
      // this to its file/row-group layout (the 128 MB default is right
      // for 128 MB+ row groups); env-overridable for A/B.
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("SPARK_GRAFT_MAX_PARTITION_BYTES", "16m"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // file:// without a chmod child process per created file and
      // directory when libhadoop is absent (same bits, same checksums)
      .config("spark.hadoop.fs.file.impl", classOf[graft.sink.NioLocalFileSystem].getName)
      .config("spark.ui.enabled", "false")
      // Long-lived-driver hygiene: even with the UI off, AppStatusListener
      // retains up to 100k task wrappers / 1000 jobs / 1000 SQL executions
      // (per-execution plan graphs — an iterative operator's round plans
      // add up) in driver heap. A driver that runs many heavy queries
      // back-to-back accumulates tens-of-MB-to-GB of dead bookkeeping; on
      // a real cluster these are exactly the confs ops teams bound on
      // shared drivers. Results are unaffected.
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "10000")
      .config("spark.sql.ui.retainedExecutions", "10")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.register(spark)
    spark
  }

  /** Idempotent per-session setup for sessions we did not build (e.g. the
    * driver's own Verify/Bench session): registers SQL functions.
    */
  def prepare(spark: SparkSession): SparkSession = {
    GraftFunctions.register(spark)
    spark
  }
}

/** Catalyst extension point: injected when the session is built through
  * [[Engine.session]]. Keeps a seam for optimizer rules / strategies; the
  * engine currently needs none for parity (SURVEY.md §4) — deterministic id
  * functions (uuid5) eliminated the joins a custom rule would optimize.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.plans.Uuid5JoinRewrite.inject(ext)
  }
}
