package graft

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.{Destination, Entities}
import graft.post.Denormalize
import graft.run.{EntityStages, Pipeline}
import graft.sink.CqlLayouts
import graft.sources.{DocumentSource, JsonSource, ParquetSource}

/** CLI entry with the reference's flag surface (`run_etl.py:47-111`):
  *
  * {{{
  * runMain graft.RunEtl --source <dir> --out <dir>
  *   [--entities user,room,...] [--entity user]
  *   [--target postgres|cassandra|both] [--dry-run] [--truncate]
  *   [--batch-size N] [--list-entities] [--validate]
  * }}}
  *
  * `--source` reads `<collection>.jsonl` (mongo-document shape) or
  * `<collection>.parquet` per collection. `--entities` runs a partial
  * migration and must name at least one entity; FK parents are
  * auto-included ([[EntityStages.closure]] — the hermetic stand-in for the
  * reference's warm id-mapping cache). `--target`
  * restricts which destinations are LOADED (transforms still run, so dual
  * entities keep consistent ids — the reference's dry-run-per-destination
  * behavior). `--batch-size N` (N > 0) bounds rows per output file
  * (`spark.sql.files.maxRecordsPerFile`), the file-sink analog of the
  * reference's load batching. `--truncate` deletes the selected entities'
  * target directories first. `--validate` only checks that every selected
  * entity's source collection is readable.
  *
  * After the entities, the run writes the post-migration tables of
  * [[Denormalize.tables]] from the cached entity results, as plain parquet
  * under `<out>/<destination>/<table>`: those whose destination `--target`
  * selects and whose inputs ran. `--dry-run` builds none of them.
  */
object RunEtl {

  final case class Config(
      sourceDir: String = "",
      outDir: String = "",
      entities: Seq[String] = Nil, // empty = all
      target: String = "both",
      dryRun: Boolean = false,
      truncate: Boolean = false,
      batchSize: Option[Int] = None,
      listEntities: Boolean = false,
      validateOnly: Boolean = false)

  def parse(args: Seq[String]): Config = {
    def loop(rest: List[String], cfg: Config): Config = rest match {
      case Nil => cfg
      case "--source" :: v :: t => loop(t, cfg.copy(sourceDir = v))
      case "--out" :: v :: t => loop(t, cfg.copy(outDir = v))
      case "--entities" :: v :: t =>
        val names = v.split(",").map(_.trim).filter(_.nonEmpty)
        require(names.nonEmpty, s"--entities names no entity: '$v'")
        loop(t, cfg.copy(entities = cfg.entities ++ names))
      case "--entity" :: v :: t => loop(t, cfg.copy(entities = cfg.entities :+ v))
      case "--target" :: v :: t =>
        require(Set("postgres", "cassandra", "both")(v), s"bad --target $v")
        loop(t, cfg.copy(target = v))
      case "--dry-run" :: t => loop(t, cfg.copy(dryRun = true))
      case "--truncate" :: t => loop(t, cfg.copy(truncate = true))
      case "--batch-size" :: v :: t =>
        // Spark reads maxRecordsPerFile <= 0 as "no limit"
        val n = v.toInt
        require(n > 0, s"--batch-size must be > 0; got $v")
        loop(t, cfg.copy(batchSize = Some(n)))
      case "--list-entities" :: t => loop(t, cfg.copy(listEntities = true))
      case "--validate" :: t => loop(t, cfg.copy(validateOnly = true))
      case other :: _ => throw new IllegalArgumentException(s"unknown argument: $other")
    }
    val cfg = loop(args.toList, Config())
    val unknown = cfg.entities.filterNot(Entities.byName.contains)
    require(unknown.isEmpty, s"unknown entities: ${unknown.mkString(", ")}")
    cfg
  }

  private def destMatches(target: String, dest: Destination): Boolean = target match {
    case "both" => true
    case "postgres" => dest == Destination.Postgres
    case "cassandra" => dest == Destination.Cassandra
    case _ => false
  }

  /** `<collection>.jsonl` per collection when `dir` holds any, else
    * `<collection>.parquet`.
    */
  def documentSource(spark: SparkSession, dir: String): DocumentSource = {
    val listing = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
    if (listing.exists(_.getName.endsWith(".jsonl"))) new JsonSource(spark, dir)
    else new ParquetSource(spark, dir)
  }

  /** Runs the selected migration; returns (ok, per-entity row counts).
    * Factored out of `main` so specs can drive the CLI path on a shared
    * session.
    */
  def execute(spark: SparkSession, cfg: Config): (Boolean, Map[String, Long]) = {
    if (cfg.listEntities) {
      Entities.ordered.foreach { e =>
        println(f"${e.order}%2d ${e.name} <- ${e.mongo} " +
          s"[${e.strategy.destinations.mkString(", ")}]")
      }
      return (true, Map.empty)
    }
    require(cfg.sourceDir.nonEmpty, "--source is required")

    val src = documentSource(spark, cfg.sourceDir)
    def collection(name: String): DataFrame =
      EntityStages.normalizeTimestamps(src.collection(name))

    val selected: Set[String] =
      if (cfg.entities.isEmpty) Entities.all.map(_.name).toSet
      else EntityStages.closure(cfg.entities)

    if (cfg.validateOnly) {
      val bad = Entities.ordered.filter(e => selected(e.name)).flatMap { e =>
        try { collection(e.mongo).schema; None }
        catch { case ex: Exception => Some(s"${e.name}: ${ex.getMessage.linesIterator.next()}") }
      }
      bad.foreach(m => System.err.println(s"[run-etl] unreadable source: $m"))
      return (bad.isEmpty, Map.empty)
    }

    require(cfg.outDir.nonEmpty || cfg.dryRun, "--out is required unless --dry-run")

    if (cfg.truncate && !cfg.dryRun) {
      for (e <- Entities.ordered if selected(e.name); d <- e.strategy.destinations
        if destMatches(cfg.target, d)) {
        val dir = java.nio.file.Paths.get(cfg.outDir, d.toString.toLowerCase, e.name)
        if (java.nio.file.Files.exists(dir)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
            .foreach(java.nio.file.Files.delete)
        }
      }
    }

    // target filtering happens at the SINK: dual-destination transforms still
    // compute both frames so sequential ids stay consistent across partial
    // loads, but only the requested destination is written — the other is
    // skipped (Pipeline calls the sink only after its cache().count() has
    // materialized and counted the frame for metrics and downstream dims),
    // matching `run_etl.py`'s extract+transform-without-load split.
    // Cassandra-destination entities are laid out per their CQL table's
    // catalog entry (key-sorted files, or partition-key directories with
    // clustering-ordered files — the storage property the reference gets
    // from Scylla); the directory keeps the entity name so Validate/read-back
    // paths are unchanged. Every Cassandra entity names a catalogued table
    // whose keys its stage output carries, so a drift fails the write
    // instead of landing unordered rows.
    // NOTE: the directory tables (message, room_member) read back with
    // room_id re-inferred from directory names (see CqlLayouts.writeTo
    // scaladoc) — fine for these uuid keys and Validate's checks, but a
    // schema-sensitive consumer should read with an explicit schema; their
    // scan opens a file per key. The key-sorted tables (roles, user, room)
    // keep their written schema.
    val base = Pipeline.parquetSink(cfg.outDir)
    val sink: (String, Destination, DataFrame) => Unit =
      (entity, dest, df) =>
        if (!destMatches(cfg.target, dest)) ()
        else if (dest == Destination.Cassandra) {
          val layout = CqlLayouts.all(Entities.byName(entity).cassandraTable.get)
          CqlLayouts.writeTo(df, s"${cfg.outDir}/cassandra/$entity", layout)
        } else base(entity, dest, df)

    // --batch-size is scoped to this run: execute() may share a session with
    // its caller (specs, embedding applications), which must not inherit a
    // tiny maxRecordsPerFile on every later write
    val prevBatch = cfg.batchSize.map(_ => spark.conf.get("spark.sql.files.maxRecordsPerFile"))
    cfg.batchSize.foreach(n =>
      spark.conf.set("spark.sql.files.maxRecordsPerFile", n.toString))
    try {
      val stages = EntityStages.all.filter { case (name, _) => selected(name) }
      val pipe = new Pipeline(spark, collection, sink, dryRun = cfg.dryRun)
      val results = pipe.run(stages)
      if (!cfg.dryRun) {
        // each post table is read back once written: the membership lookup
        // refreshes from rooms_by_user without computing it a second time
        val built = mutable.Map[String, DataFrame]() ++ results.map { case ((e, d), df) =>
          s"$e:${d.toString.toLowerCase}" -> df
        }
        for (t <- Denormalize.tables
          if destMatches(cfg.target, t.destination) && t.inputs.forall(built.contains)) {
          base(t.name, t.destination, t.build(built.toMap))
          built(t.name) = spark.read.parquet(
            s"${cfg.outDir}/${t.destination.toString.toLowerCase}/${t.name}")
        }
      }
      (true, pipe.report)
    } finally prevBatch.foreach(v =>
      spark.conf.set("spark.sql.files.maxRecordsPerFile", v))
  }

  def main(args: Array[String]): Unit = {
    val cfg = parse(args.toSeq)
    val cpus = Engine.cpus(default = 4)
    val spark = Engine.session(Engine.local(cpus), cpus, appName = "graft-etl")
    try {
      val (ok, report) = execute(spark, cfg)
      if (report.nonEmpty) println(s"[run-etl] rows: $report")
      if (!ok) sys.exit(1)
    } finally spark.stop()
  }
}
