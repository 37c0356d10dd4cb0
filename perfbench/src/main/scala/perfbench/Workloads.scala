package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.RunTrainPrep
import graft.model.{Destination, Entities}
import graft.post.Denormalize
import graft.run.{EntityStages, MetricsCollector, Pipeline}
import graft.sink.CqlLayouts
import graft.sources.JsonSource
import graft.transform.Rules
import graft.validate.{CheckResult, Checks}

/** What one iteration of a workload measured and checked. */
final case class Iteration(
    runS: Double,
    validateS: Double,
    outBytes: Long,
    digests: Map[String, String],
    checks: Seq[CheckResult],
    failures: Seq[String], // late metrics, undrained bus, missing tables
    detail: Map[String, Double]) // layer metrics measured inline

/** The session and the tracer (on or off) an iteration runs with. */
final class Ctx(val spark: SparkSession, val tracer: Tracer)

trait Workload {
  def name: String
  /** Generates this workload's inputs for `seed` under `dir`. */
  def generate(spark: SparkSession, seed: Long, dir: String): Gen.Inputs
  /** One measured pass: the cutover (`runS`), then read-back and checks. */
  def iterate(ctx: Ctx, in: Gen.Inputs, out: String): Iteration
}

object Workloads {
  val all: Seq[Workload] = Seq(
    new Migrate("migrate_chat", Gen.chat(100000)),
    new Curate(docs = 1500))

  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$n' (expected one of ${all.map(_.name).mkString(", ")})"))

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Order-independent content digests of tables, in one Spark query: per
    * table the row count, plus the sum and xor of a per-row hash over every
    * column (by name, as strings) except the table's `exclude` columns. An
    * empty table digests to `0:0:0`.
    */
  def digests(tables: Seq[(String, DataFrame)], exclude: String => Set[String] = _ => Set.empty)
      : Map[String, String] = {
    val hashed = tables.map { case (t, df) =>
      val cols = df.columns.filterNot(exclude(t)).sorted
      df.select(lit(t).as("t"),
        xxhash64(cols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*).as("h"))
    }
    val rows = hashed.reduce(_ unionByName _).groupBy("t")
      .agg(count(lit(1)), sum(shiftrightunsigned(col("h"), 32)), bit_xor(col("h"))).collect()
    def hex(v: Long) = java.lang.Long.toHexString(v)
    val found = rows.map(r =>
      r.getString(0) -> s"${r.getLong(1)}:${hex(r.getLong(2))}:${hex(r.getLong(3))}").toMap
    tables.map { case (t, _) => t -> found.getOrElse(t, "0:0:0") }.toMap
  }
}

/** The 15-entity migration through [[Pipeline]] over [[EntityStages.all]],
  * then the [[Denormalize]] tables, then read-back and checks. The sink
  * mirrors `RunEtl.execute` with `--target both`: Cassandra entities are
  * laid out per their CQL table, the rest go through
  * [[Pipeline.parquetSink]].
  */
final class Migrate(val name: String, mix: Gen.Mix) extends Workload {

  def generate(spark: SparkSession, seed: Long, dir: String): Gen.Inputs =
    Gen.writeMix(spark, mix, seed, dir)

  /** Columns whose value is the wall clock of the run (`current_timestamp()`
    * defaults for soft-deleted rows), left out of table digests.
    */
  val runTimeColumns: String => Set[String] = Map(
    "postgres/user" -> Set("deleted_at"), "postgres/live" -> Set("deleted_at"))
    .withDefaultValue(Set.empty)

  val postTables: Seq[String] = Seq("rooms_by_user", "p2p_room_by_users",
    "room_membership_lookup", "rooms_by_mongo", "room_by_message", "organizations")

  val entityTables: Seq[String] = for {
    e <- Entities.ordered
    d <- e.strategy.destinations
  } yield s"${d.toString.toLowerCase}/${e.name}"

  def tables: Seq[String] = entityTables ++ postTables.map("cassandra/" + _)

  /** `RunEtl.execute`'s sink for `--target both`. */
  def write(out: String)(entity: String, dest: Destination, df: DataFrame): Unit = {
    val layout = if (dest == Destination.Cassandra)
      Entities.byName(entity).cassandraTable.flatMap(CqlLayouts.all.get) else None
    layout.filter(l => (l.partitionKeys ++ l.clustering.map(_._1)).forall(df.columns.contains))
      match {
        case Some(l) => CqlLayouts.writeTo(df, s"$out/${dest.toString.toLowerCase}/$entity", l)
        case None => Pipeline.parquetSink(out)(entity, dest, df)
      }
  }

  private var iterations = 0

  def iterate(ctx: Ctx, in: Gen.Inputs, out: String): Iteration = {
    val spark = ctx.spark
    val t = ctx.tracer
    iterations += 1
    Files.delete(out)
    val detail = mutable.LinkedHashMap.empty[String, Double]
    def add(k: String, v: Double): Unit = detail(k) = detail.getOrElse(k, 0.0) + v
    val failures = mutable.ArrayBuffer.empty[String]

    val src = new JsonSource(spark, in.dir)
    val mc = new MetricsCollector(spark)
    val sourceObs = mutable.ArrayBuffer.empty[String]
    var lastSource = 0L
    val entityStart = mutable.LinkedHashMap.empty[String, Long]

    val source: String => DataFrame = collection => {
      lastSource = System.nanoTime()
      t.span("sources", collection) {
        val df = EntityStages.normalizeTimestamps(src.collection(collection))
        if (!t.on) df
        else {
          val obs = s"perfbench_src_${iterations}_${sourceObs.size}"
          sourceObs += obs
          df.observe(obs, count(lit(1)).as("rows"))
        }
      }
    }
    val stages = EntityStages.all.map { case (entity, stage) =>
      entity -> ((df: DataFrame, dims: Map[String, DataFrame]) => {
        entityStart(entity) = lastSource
        t.span("transform", entity)(stage(df, dims))
      })
    }
    val sink: (String, Destination, DataFrame) => Unit = (entity, dest, df) => {
      val table = s"${dest.toString.toLowerCase}/$entity"
      if (t.on) {
        // the frame Pipeline cached, materialised apart from its write
        val (_, s) = Workloads.timed(t.span("run", s"compute $table")(df.count()))
        add("run.compute_s", s)
      }
      val (_, s) = Workloads.timed(t.span("sink", table)(write(out)(entity, dest, df)))
      add("sink.write_s", s)
    }

    val pipe = new Pipeline(spark, source, sink, collector = Some(mc))
    val t0 = System.nanoTime()
    val results = t.span("run", "pipeline")(pipe.run(stages))
    val pipelineEnd = System.nanoTime()
    val ordered = Entities.ordered.map(_.name).filter(entityStart.contains)
    for ((e, i) <- ordered.zipWithIndex) {
      val end = if (i + 1 < ordered.size) entityStart(ordered(i + 1)) else pipelineEnd
      detail(s"entity.${e}_s") = (end - entityStart(e)) / 1e9
    }
    val storage = spark.sparkContext.getRDDStorageInfo
    detail("run.largest_cached_mb") =
      (if (storage.isEmpty) 0L else storage.map(r => r.memSize + r.diskSize).max) / 1e6
    detail("run.storage_mem_mb") =
      spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).max / 1e6

    val rooms = results(("room", Destination.Cassandra))
    val participants = results(("room_member", Destination.Cassandra))
    val messages = results(("message", Destination.Cassandra))
    val users = results(("user", Destination.Cassandra))
    def save(table: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$out/cassandra/$table")
    def post(metric: String)(body: => Unit): Unit = {
      val (_, s) = Workloads.timed(t.span("post", metric)(body))
      add(s"post.${metric}_s", s)
    }
    post("rooms_by_user") {
      save("rooms_by_user", Denormalize.roomsByUser(participants, rooms, messages, users))
    }
    post("p2p_lookup")(save("p2p_room_by_users", Denormalize.p2pLookup(rooms, participants)))
    post("membership_lookup") {
      save("room_membership_lookup", Denormalize.refreshMembershipLookup(
        Denormalize.membershipLookup(participants),
        spark.read.parquet(s"$out/cassandra/rooms_by_user")))
    }
    post("reverse_lookups") {
      save("rooms_by_mongo", Denormalize.roomsByMongo(rooms))
      save("room_by_message", Denormalize.roomByMessage(messages))
      save("organizations", Rules.organizations(rooms))
    }
    val runS = (System.nanoTime() - t0) / 1e9

    // late metrics are failures, never zeros
    if (!org.apache.spark.GraftListenerBridge.waitListenerBusEmpty(spark.sparkContext))
      failures += "listener bus did not drain"
    val missing = entityTables.map(_.split('/') match { case Array(d, e) => s"$e/$d" })
      .filterNot(pipe.report.contains)
    missing.foreach(m => failures += s"row-count metric for $m never arrived")
    detail("run.metrics_missing") = missing.size.toDouble
    if (t.on) {
      val snap = mc.snapshot
      val rows = sourceObs.map(o => snap.get(o).flatMap(_.get("rows")))
      if (rows.exists(_.isEmpty)) failures += "source row observation never arrived"
      detail("sources.rows") = rows.flatten.map(_.asInstanceOf[Long]).sum.toDouble
    }
    mc.close()

    val ((digests, checks), validateS) =
      Workloads.timed(t.span("validate", "read-back")(readBack(spark, t, in, out, failures)))
    detail("validate.checks") = checks.size.toDouble
    Iteration(runS, validateS, Files.size(out), digests, checks, failures.toSeq,
      detail.toMap)
  }

  /** Reads every written table back, digests it, and runs the `Validate`
    * sections plus the MigrationDemo invariants over the read-back frames.
    * A table that cannot be read back is a failure.
    */
  private[perfbench] def readBack(spark: SparkSession, tracer: Tracer, in: Gen.Inputs,
      out: String, failures: mutable.Buffer[String])
      : (Map[String, String], Seq[CheckResult]) = {
    val read = tables.flatMap { tbl =>
      try Some(tbl -> spark.read.parquet(s"$out/$tbl"))
      catch { case e: Exception => failures += s"missing table $tbl: ${e.getMessage}"; None }
    }.toMap
    val digests = tracer.span("validate", "digests")(
      Workloads.digests(read.toSeq, runTimeColumns))
    def n(tbl: String): Long =
      digests.get(tbl).map(_.takeWhile(_ != ':').toLong).getOrElse(-1L)
    val checks = mutable.ArrayBuffer.empty[CheckResult]
    def table(tbl: String): Option[DataFrame] = read.get(tbl)
    def check(c: => CheckResult): Unit = {
      val r = tracer.span("validate", "check")(c)
      tracer.relabelLast(r.name)
      checks += r
    }

    // graft.Validate's sections on the read-back tables, one check each
    // (§10 phone normalisation is left out: it costs two full scans);
    // counts and cardinalities come from the digests (no extra jobs)
    for (e <- Entities.ordered if !e.isManyToMany; d <- e.strategy.destinations) {
      val tbl = s"${d.toString.toLowerCase}/${e.name}"
      // §1 record counts, §2 mongo_id columns
      check(Checks.countParity(s"counts-${e.name}-${d.toString.toLowerCase}",
        in.rows(e.mongo), n(tbl), if (e.name == "message") 0.60 else 0.95))
      for (df <- table(tbl))
        check(Checks.schemaPresence(s"mongo_id-${e.name}-${d.toString.toLowerCase}",
          df, Seq("mongo_id")))
    }
    for (m <- table("cassandra/message"); r <- table("cassandra/room")) {
      check(Checks.setContainment("msg-rooms-in-room-details", m, r, "room_id")) // §3
      check(Checks.uuid5Oracle("room-uuid5", r, "mongo_id", "room_id")) // §4
      check(Checks.absence("no-geo-messages", m, col("type") === "GEO_LOCATION")) // §8
      check(Checks.cardinalityEquals("organizations-count", // §6
        n("cassandra/organizations"), r.filter(col("is_organization")).count()))
    }
    check(Checks.cardinalityEquals("rooms_by_mongo-cardinality", // §5
      n("cassandra/rooms_by_mongo"), n("cassandra/room")))
    check(Checks.cardinalityEquals("room_by_message=messages",
      n("cassandra/room_by_message"), n("cassandra/message")))
    check(Checks.cardinalityEquals("rbu=participants",
      n("cassandra/rooms_by_user"), n("cassandra/room_member")))
    for (u <- table("postgres/user")) {
      check(Checks.urlRewriteSweep("user-avatar-urls", u, Seq("avatar"))) // §7
      check(Checks.softDeleteConsistency("deleted-user-anonymized", u, // §9
        col("name") === "Deleted User", mustBeSet = Seq("deleted_at", "deleted_name"),
        mustBeBlank = Seq("email", "phone")))
      for (pu <- table("postgres/profession_user")) // §11
        check(Checks.fkIntegrity("profession_user-fk", pu, u, "user_id", "id"))
    }
    for (d <- table("postgres/docs")) // §12
      check(Checks.fkIntegrity("docs-folders", d.filter(col("onFolder") =!= 0),
        d.filter(col("type") === "FOLDER"), "onFolder", "id"))
    for (df <- table("cassandra/message")) // §13
      check(Checks.clusteringOrder("clustering-messages_by_room", df,
        CqlLayouts.all("messages_by_room").clustering))
    (digests, checks.toSeq)
  }

  val critical: Set[String] = Set("room-uuid5", "msg-rooms-in-room-details", "docs-folders")
}

/** `RunTrainPrep.execute` with the perplexity gate armed (the q94
  * configuration: md5 hash family, default curation/containment/substring
  * settings, LM gate on) over the seeded Zipfian corpus.
  */
final class Curate(docs: Long) extends Workload {
  val name = "curate_corpus"

  /** Perplexity ceiling, set between the corpus' own Zipfian text and its
    * planted rare-word documents: at seed 1 the gate drops 5 % of the
    * curated documents.
    */
  val MaxPpl = 5000.0

  def generate(spark: SparkSession, seed: Long, dir: String): Gen.Inputs =
    Gen.writeCorpus(spark, docs, seed, dir)

  def iterate(ctx: Ctx, in: Gen.Inputs, out: String): Iteration = {
    val spark = ctx.spark
    Files.delete(out)
    val cfg = RunTrainPrep.parse(Seq("--in", s"${in.dir}/documents.parquet", "--out", out,
      "--lm-max-ppl", MaxPpl.toString))
    val (report, runS) = Workloads.timed(
      ctx.tracer.span("operators", "train_prep")(RunTrainPrep.execute(spark, cfg)))
    val failures = mutable.ArrayBuffer.empty[String]
    if (!org.apache.spark.GraftListenerBridge.waitListenerBusEmpty(spark.sparkContext))
      failures += "listener bus did not drain"
    val ((digests, checks), validateS) = Workloads.timed(ctx.tracer.span("validate",
      "read-back") {
      val clean = spark.read.parquet(s"$out/clean_corpus")
      val stages = Curate.Stages.map(s => s -> report.stages.get(s))
      stages.collect { case (s, None) => failures += s"stage count '$s' never arrived" }
      val counts = stages.collect { case (s, Some(c)) => s -> c }
      val digests = counts.map { case (s, c) => s"stage/$s" -> c.toString }.toMap ++
        Workloads.digests(Seq("kept_ids" -> clean.select("doc_id"), "clean_corpus" -> clean))
      val cleanRows = digests("kept_ids").takeWhile(_ != ':').toLong
      val checks = Seq(
        Checks.cardinalityEquals("input=corpus", report.stages.getOrElse("input", -1L),
          in.rows("documents")),
        CheckResult("stages-non-increasing", counts.map(_._2).sliding(2).forall {
          case Seq(a, b) => a >= b; case _ => true }, counts.mkString(" ")),
        Checks.cardinalityEquals("clean=written", report.stages.getOrElse("clean", -1L),
          cleanRows))
      (digests, checks)
    })
    val keep = Curate.Stages.sliding(2).map { case Seq(a, b) =>
      s"prep.keep_${b.stripPrefix("after_")}" ->
        report.stages.getOrElse(b, 0L).toDouble / math.max(1L, report.stages.getOrElse(a, 0L))
    }.toMap
    Iteration(runS, validateS, Files.size(out), digests, checks, failures.toSeq,
      keep ++ Map("prep.guard_dropped" ->
        report.guard.getOrElse("dropped_postings", 0L).toDouble,
        "validate.checks" -> checks.size.toDouble))
  }
}

object Curate {
  val Stages: Seq[String] = Seq("input", "curated", "after_lm", "after_contain", "clean")
}
