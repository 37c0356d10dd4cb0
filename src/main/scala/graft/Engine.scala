package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** Session factory for the graft engine: ONE conf table shared by every
  * session the repo builds ([[Engine.session]], `Bench`, `Verify`, `Tools`).
  *
  * Tuned for the driver's harness (local[32], 128 GiB single JVM) but the
  * settings are the ones we would ship on a real cluster:
  *   - AQE on (runtime join re-planning + skew-join splitting),
  *   - shuffle partitions sized to cores (the driver overrides per-run),
  *   - UTC session time zone (oracle parity with DuckDB).
  */
object Engine {

  /** The session flavors, each a superset of the previous one's confs:
    * `Gen` (fixture generators) ⊂ `Verify` (the oracle correctness
    * dump: no AQE entries) ⊂ `Bench` (+ AQE sizing) ⊂ `Full` (+ the
    * chmod-free local filesystem and its file-scan packing, driver-side
    * partition discovery, the Catalyst extensions and the SQL function
    * registry — what [[session]] builds).
    */
  sealed abstract class Kind
  object Kind {
    case object Gen extends Kind
    case object Verify extends Kind
    case object Bench extends Kind
    case object Full extends Kind
  }

  /** Core count for `local[n]` masters: `SPARK_GRAFT_CPUS`, else `default`
    * (the harness machine is 32-way).
    */
  def cpus(default: Int = 32): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(default)

  def local(n: Int): String = s"local[$n]"

  /** The conf table for a session of `kind` with `partitions` shuffle
    * partitions (ordered; later entries never override earlier ones).
    */
  def confs(kind: Kind, partitions: Int): Seq[(String, String)] = {
    val gen = Seq(
      "spark.sql.shuffle.partitions" -> partitions.toString,
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false")
    val verify = gen ++ Seq(
      "spark.sql.session.timeZone" -> "UTC",
      // Scan-split sizing for the harness corpus: its parquet files are
      // byte-small (0.6-60 MB) but row-heavy, so the 128 MB default puts
      // an entire file — and therefore an entire map-heavy text/embedding
      // stage — in ONE task (caught at 100x: q56 measured single-thread
      // regex throughput on a 32-core box). 16 MB splits recover scan
      // parallelism wherever row groups allow. A real deployment sizes
      // this to its file/row-group layout (the 128 MB default is right
      // for 128 MB+ row groups).
      "spark.sql.files.maxPartitionBytes" -> "16m",
      // Long-lived-driver hygiene: even with the UI off, AppStatusListener
      // retains up to 100k task wrappers / 1000 jobs / 1000 SQL executions
      // (per-execution plan graphs — an iterative operator's round plans
      // add up) in driver heap. A driver that runs many heavy queries
      // back-to-back accumulates tens-of-MB-to-GB of dead bookkeeping; on
      // a real cluster these are exactly the confs ops teams bound on
      // shared drivers. Results are unaffected.
      "spark.ui.retainedJobs" -> "100",
      "spark.ui.retainedStages" -> "200",
      "spark.ui.retainedTasks" -> "10000",
      "spark.sql.ui.retainedExecutions" -> "10")
    val bench = verify ++ Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      // Spill-aware shuffle sizing: AQE coalescing can only merge
      // partitions DOWN from the initial count — it can never split an
      // oversized aggregation state. Start shuffles at 8x cores and let
      // AQE coalesce small stages back to core count (Spark's default
      // parallelismFirst keeps the floor at default parallelism), so the
      // same session survives a 100x data step without per-task
      // aggregation state outgrowing executor memory (q45/q38 died
      // exactly that way at sf10 with a flat 32). Sized coalescing
      // (parallelismFirst=false) lost the full 100× suite A/B by 9.6 %
      // (SCALE_r10 §4). On a real cluster this is the "thousands of
      // initial partitions, AQE right-sizes" pattern.
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" ->
        math.max(partitions * 8, partitions).toString,
      "spark.sql.adaptive.skewJoin.enabled" -> "true")
    kind match {
      case Kind.Gen => gen
      case Kind.Verify => verify
      case Kind.Bench => bench
      case Kind.Full => bench ++ Seq(
        // file:// without a chmod child process per created file and
        // directory when libhadoop is absent (same bits, same checksums)
        "spark.hadoop.fs.file.impl" -> classOf[graft.sink.NioLocalFileSystem].getName,
        // Scan packing for that file system: Spark weighs each file as its
        // size plus this open cost when it packs files into scan tasks. The
        // 4 MB default packed ~3 small files per task, so a migrate_chat
        // read-back (225 files, 6.6 KB median) ran 76 tasks. The cost should
        // be the bytes a core scans while one file opens. Measured on one
        // core, a written message table of 100 files (10.7 MB) against the
        // same rows in one file (4 vCPU): 4.2 ms of open + footer + reader
        // init per file at 33 MB/s of digest scan (138 KB), 2.9 ms at
        // 59 MB/s of plain row scan (169 KB); 128 KB is the power of two
        // below both. It is also the smallest split Spark cuts a file into,
        // so a file of one row group above it runs tasks that read only
        // its footer; a much smaller value splits small JSON sources into
        // tasks that cost more than they save.
        "spark.sql.files.openCostInBytes" -> "128k",
        // Key-directory discovery on the driver: above 32 paths Spark lists
        // a partitioned table with a job of one task per directory, which on
        // a local file system costs far more than the one syscall per
        // directory it replaces (a CQL table of 100 room directories: a
        // 100-task job per read). Listing is metadata only, so this moves no
        // scan or result.
        "spark.sql.sources.parallelPartitionDiscovery.threshold" -> Int.MaxValue.toString)
    }
  }

  /** Builds (or returns the running) session of `kind` from [[confs]].
    * `appName` = None keeps Spark's generated name.
    */
  def build(kind: Kind, master: String, partitions: Int,
      appName: Option[String] = None): SparkSession = {
    val b = SparkSession.builder().master(master)
    appName.foreach(b.appName)
    confs(kind, partitions).foreach { case (k, v) => b.config(k, v) }
    if (kind == Kind.Full) b.withExtensions(new GraftExtensions)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (kind == Kind.Full) GraftFunctions.register(spark)
    spark
  }

  def session(
      master: String = local(cpus()),
      shufflePartitions: Int = cpus(),
      appName: String = "graft"): SparkSession =
    build(Kind.Full, master, shufflePartitions, Some(appName))
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
