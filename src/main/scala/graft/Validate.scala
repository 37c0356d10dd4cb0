package graft

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{Destination, Entities}
import graft.post.Denormalize
import graft.transform.Shape
import graft.validate.{CheckResult, Checks}

/** Post-migration validator over a [[RunEtl]] output directory — the
  * reference's 14-section report (`scripts/validate_migration.py`: numbered
  * sections, per-check [OK]/[FAIL] lines, a summary with error tally, exit
  * code 0/1). `runMain graft.Validate <migratedDir>`.
  *
  * Source collections are read from `<migratedDir>/sources` (the layout
  * `--source` takes: `<collection>.jsonl` or `<collection>.parquet`). Every
  * section runs: a check whose input table or source collection is missing
  * fails, it is never skipped.
  */
object Validate {

  /** Section titles; each check's name starts with its section number
    * (`"3.msg-rooms-in-room-details"`). Section 14 is the printed summary.
    */
  val sections: IndexedSeq[String] = IndexedSeq(
    "VALIDATING TABLE PRESENCE",
    "VALIDATING RECORD COUNTS",
    "VALIDATING mongo_id COLUMNS AND SCHEMA",
    "VALIDATING CASSANDRA ROOM CONSISTENCY",
    "VALIDATING UUID5 DETERMINISM",
    "VALIDATING LOOKUP TABLES",
    "VALIDATING ORGANIZATIONS",
    "VALIDATING URL REWRITES",
    "VALIDATING FILTERED MESSAGE TYPES",
    "VALIDATING SOFT-DELETE CONSISTENCY",
    "VALIDATING PHONE NORMALIZATION",
    "VALIDATING FOREIGN KEYS AND MANY-TO-MANY LINKS",
    "VALIDATING DOCS HIERARCHY",
    "VALIDATING CQL CLUSTERING LAYOUTS",
    "VALIDATION SUMMARY")

  def sectionOf(c: CheckResult): Int = c.name.takeWhile(_ != '.').toInt

  /** Runs sections 0-13 over `dir`; returns (passed, checks in section
    * order). Passed means every check passed.
    */
  def run(spark: SparkSession, dir: String): (Boolean, Seq[CheckResult]) = {
    val src = RunEtl.documentSource(spark, s"$dir/sources")
    val inputs = mutable.Map.empty[String, Option[DataFrame]]
    /** `sources/<collection>` or `<destination>/<table>`, read once. */
    def input(path: String): Option[DataFrame] = inputs.getOrElseUpdate(path, Try(
      if (path.startsWith("sources/")) src.collection(path.stripPrefix("sources/"))
      else spark.read.parquet(s"$dir/$path")).toOption)

    val checks = mutable.ArrayBuffer.empty[CheckResult]
    var section = 0
    /** Records `body` over the named inputs, or fails `name` when one is missing. */
    def check(name: String, paths: String*)(body: Seq[DataFrame] => CheckResult): Unit = {
      val found = paths.map(input)
      val c = if (found.forall(_.isDefined)) body(found.flatten)
        else CheckResult(name, passed = false,
          s"MISSING: ${paths.zip(found).collect { case (p, None) => p }.mkString(", ")}")
      checks += c.copy(name = s"$section.${c.name}")
    }
    def path(dest: Destination, name: String) = s"${dest.toString.toLowerCase}/$name"
    val entityTables = for (e <- Entities.ordered; d <- e.strategy.destinations)
      yield (e, d, path(d, e.name))

    // 0. every table a later section reads, post tables included
    for (p <- entityTables.map(_._3) ++ Denormalize.tables.map(t => path(t.destination, t.name)))
      check(s"present-$p", p)(_ => CheckResult(s"present-$p", passed = true, "present"))

    // 1. record counts (validate_migration.py:50-131); thresholds per
    // :105-110 — messages tolerate filtered rows, everything else must carry
    // ≥95%. Link tables are per-link, §11 checks their FKs.
    section = 1
    for (e <- Entities.ordered if !e.isManyToMany) {
      val targets = e.strategy.destinations.map(path(_, e.name))
      check(s"counts-${e.name}", s"sources/${e.mongo}" +: targets: _*) { dfs =>
        val n +: counts = dfs.map(_.count())
        val min = if (e.name == "message") 0.60 else 0.95
        CheckResult(s"counts-${e.name}",
          counts.forall(t => Checks.countParity(e.name, n, t, min).passed),
          s"src=$n " + targets.zip(counts).map { case (p, t) => s"$p=$t" }.mkString(" "))
      }
    }

    // 2. mongo_id columns (:135-169) and the message schema (:133-172)
    section = 2
    for ((e, d, p) <- entityTables if !e.isManyToMany) {
      val name = s"mongo_id-${e.name}-${d.toString.toLowerCase}"
      check(name, p)(dfs => Checks.schemaPresence(name, dfs.head, Seq("mongo_id")))
    }
    check("messages-schema", "cassandra/message") { case Seq(m) =>
      Checks.schemaPresence("messages-schema", m,
        Seq("room_id", "message_id", "content", "content_decrypted", "sender_id",
          "file_url", "mime_type", "is_deleted", "mongo_id", "created_at"))
    }

    // 3. room consistency (:179-231): every message's room exists; room
    // types and participant roles stay in their domains
    section = 3
    check("msg-rooms-in-room-details", "cassandra/message", "cassandra/room") {
      case Seq(m, r) => Checks.setContainment("msg-rooms-in-room-details", m, r, "room_id")
    }
    check("room-type-domain", "cassandra/room") { case Seq(r) =>
      Checks.sampleSpotCheck("room-type-domain", r, col("type").isin("p2p", "group", "broadcast"))
    }
    check("participant-role-upper", "cassandra/room_member") { case Seq(p) =>
      Checks.sampleSpotCheck("participant-role-upper", p, col("role") === upper(col("role")))
    }

    // 4. uuid5 determinism (:239-269)
    section = 4
    check("room-uuid5", "cassandra/room") { case Seq(r) =>
      Checks.uuid5Oracle("room-uuid5", r, "mongo_id", "room_id")
    }

    // 5. lookup tables (:277+)
    section = 5
    check("rooms_by_mongo-cardinality", "cassandra/rooms_by_mongo", "cassandra/room") {
      case Seq(l, r) => Checks.cardinalityEquals("rooms_by_mongo-cardinality", l.count(), r.count())
    }
    check("rooms_by_mongo-ids", "cassandra/rooms_by_mongo", "cassandra/room") {
      case Seq(l, r) => Checks.setContainment("rooms_by_mongo-ids", l, r, "room_id")
    }
    check("room_by_message=messages", "cassandra/room_by_message", "cassandra/message") {
      case Seq(l, m) => Checks.cardinalityEquals("room_by_message=messages", l.count(), m.count())
    }
    check("rbu=participants", "cassandra/rooms_by_user", "cassandra/room_member") {
      case Seq(rbu, p) => Checks.cardinalityEquals("rbu=participants", rbu.count(), p.count())
    }

    // 6. organizations: the branch table and the flag it is derived from
    section = 6
    check("organizations-count", "cassandra/organizations", "cassandra/room") {
      case Seq(o, r) => Checks.cardinalityEquals("organizations-count",
        o.count(), r.filter(col("is_organization")).count())
    }
    check("organizations-flag", "sources/rooms", "cassandra/room") { case Seq(s, r) =>
      Checks.flagDerivedCount("organizations-flag",
        s, Shape.boolOr(s, "isAdmin", default = false), r, col("is_organization"))
    }

    // 7. url rewrites (:451-539)
    section = 7
    check("user-avatar-urls", "postgres/user") { case Seq(u) =>
      Checks.urlRewriteSweep("user-avatar-urls", u, Seq("avatar"))
    }
    check("channel-urls", "postgres/channel") { case Seq(c) =>
      Checks.urlRewriteSweep("channel-urls", c, Seq("picture", "cover"))
    }

    // 8. filtered message types absent (:541-566)
    section = 8
    check("no-geo-messages", "cassandra/message") { case Seq(m) =>
      Checks.absence("no-geo-messages", m, col("type") === "GEO_LOCATION")
    }

    // 9. soft-delete anonymization (:568-592)
    section = 9
    check("deleted-user-anonymized", "postgres/user") { case Seq(u) =>
      Checks.softDeleteConsistency("deleted-user-anonymized", u,
        col("name") === "Deleted User",
        mustBeSet = Seq("deleted_at", "deleted_name"),
        mustBeBlank = Seq("email", "phone"))
    }

    // 10. phone normalization
    section = 10
    check("cassandra-phone-intl", "cassandra/user") { case Seq(u) =>
      Checks.ratioAtLeast("cassandra-phone-intl",
        u.filter(col("phone") =!= ""), col("phone").startsWith("+"), 1.0)
    }

    // 11. foreign keys (:594-641) and m2m link tables (:272-402)
    section = 11
    for ((name, child, parent, fk) <- Seq(
      ("user-province-fk", "postgres/user", "postgres/province", "province_id"),
      ("live-channel-fk", "postgres/live", "postgres/channel", "channel_id"),
      ("profession_user-fk", "postgres/profession_user", "postgres/user", "user_id"),
      ("entities_user-fk", "postgres/entities_user", "postgres/user", "user_id")))
      check(name, child, parent) { case Seq(c, p) => Checks.fkIntegrity(name, c, p, fk, "id") }

    // 12. docs hierarchy invariants (:643-756) and docs_roles (:961-987)
    section = 12
    check("docs-folder-fk", "postgres/docs") { case Seq(d) =>
      Checks.fkIntegrity("docs-folder-fk", d.filter(col("onFolder") =!= 0),
        d.filter(col("type") === "FOLDER"), "onFolder", "id")
    }
    check("specialRole-implies-private", "postgres/docs") { case Seq(d) =>
      Checks.implication("specialRole-implies-private", d,
        col("special_role_id").isNotNull, col("isPrivate"))
    }
    check("docs_roles=special-role-docs", "postgres/docs_roles", "postgres/docs") {
      case Seq(r, d) => Checks.cardinalityEquals("docs_roles=special-role-docs",
        r.count(), d.filter(col("special_role_id").isNotNull).count())
    }

    // 13. physical layout of the Cassandra entity tables RunEtl lays out in
    // place (our Scylla-storage-property equivalent): clustering order inside
    // each key directory, or one key-sorted file per key
    section = 13
    for (e <- Entities.ordered; t <- e.cassandraTable; layout <- graft.sink.CqlLayouts.all.get(t))
      if (layout.clustering.nonEmpty)
        check(s"clustering-$t", s"cassandra/${e.name}") { case Seq(df) =>
          Checks.clusteringOrder(s"clustering-$t", df, layout.clustering)
        }
      else
        check(s"key-sorted-$t", s"cassandra/${e.name}") { case Seq(df) =>
          Checks.keySortedFiles(s"key-sorted-$t", df, layout.partitionKeys)
        }

    (Checks.verdict(checks.toSeq)._1, checks.toSeq)
  }

  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else
      sys.error("usage: Validate <migratedDir>")
    val cpus = Engine.cpus(default = 4)
    val spark = Engine.session(Engine.local(cpus), cpus, appName = "graft-validate")
    spark.sparkContext.setLogLevel("WARN")
    val (ok, checks) = try run(spark, dir) finally spark.stop()
    report(ok, checks)
    if (!ok) sys.exit(1)
  }

  /** Prints the numbered report (sections, [OK]/[FAIL] lines, summary). */
  def report(ok: Boolean, checks: Seq[CheckResult]): Unit = {
    def header(n: Int): Unit = {
      println("\n" + "=" * 80); println(s"$n. ${sections(n)}"); println("=" * 80)
    }
    for ((n, cs) <- checks.groupBy(sectionOf).toSeq.sortBy(_._1)) {
      header(n)
      cs.foreach(c => println(s"  [${if (c.passed) "OK" else "FAIL"}] ${c.name}: ${c.detail}"))
    }
    header(14)
    val failed = checks.filterNot(_.passed)
    println(s"\nChecks completed: ${checks.size}")
    println(s"Errors found: ${failed.size}")
    if (failed.nonEmpty) {
      println("\n[ERROR] ERRORS:")
      failed.take(20).foreach(c => println(s"  - ${c.name}: ${c.detail}"))
    }
    println("\n" + "=" * 80)
    println(if (ok) "SUCCESS: Migration validation PASSED"
      else s"[ERROR] FAILURE: Migration validation FAILED (${failed.size} errors)")
    println("=" * 80)
  }
}
