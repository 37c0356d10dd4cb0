package graft

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.{Destination, Entities}
import graft.validate.{CheckResult, Checks}

/** Standalone post-migration validator over a [[MigrationDemo]] /
  * [[RunEtl]] output directory — the reference's 14-section report
  * (`scripts/validate_migration.py`: numbered sections, per-check
  * [OK]/[FAIL] lines, a counts table, a summary with error tally, exit code
  * 0/1). `runMain graft.Validate <migratedDir>`; sources are read from
  * `<migratedDir>/sources/<collection>` (jsonl, written by the demo) when
  * present — count-parity checks are skipped otherwise.
  */
object Validate {

  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else
      sys.error("usage: Validate <migratedDir>")
    val cpus = Engine.cpus(default = 4)
    val spark = Engine.session(Engine.local(cpus), cpus, appName = "graft-validate")
    spark.sparkContext.setLogLevel("WARN")

    def table(dest: String, name: String): Option[DataFrame] =
      Try(spark.read.parquet(s"$dir/$dest/$name")).toOption
    def source(name: String): Option[DataFrame] =
      Try(graft.run.EntityStages.normalizeTimestamps(
        spark.read.json(s"$dir/sources/$name"))).toOption

    val checks = mutable.ArrayBuffer.empty[CheckResult]
    def section(n: Int, title: String): Unit = {
      println("\n" + "=" * 80); println(s"$n. $title"); println("=" * 80)
    }
    def record(c: CheckResult): Unit = {
      checks += c
      println(s"  [${if (c.passed) "OK" else "FAIL"}] ${c.name}: ${c.detail}")
    }

    // 0. table presence — a missing target table must FAIL loudly, not
    // silently skip every downstream check for it (an aborted migration
    // would otherwise validate as a clean success)
    section(0, "VALIDATING TABLE PRESENCE")
    for (e <- Entities.ordered; dest <- e.strategy.destinations) {
      val d = dest.toString.toLowerCase
      record(CheckResult(s"present-${e.name}-$d",
        table(d, e.name).isDefined,
        if (table(d, e.name).isDefined) "present" else s"MISSING: $d/${e.name}"))
    }

    // 1. record counts (validate_migration.py:50-131)
    section(1, "VALIDATING RECORD COUNTS")
    println(f"${"Entity"}%-20s ${"Source"}%10s ${"Postgres"}%12s ${"Cassandra"}%12s ${"Status"}%8s")
    println("-" * 70)
    for (e <- Entities.ordered) {
      val src = source(e.mongo).map(_.count())
      val pg = if (e.strategy.destinations.contains(Destination.Postgres))
        table("postgres", e.name).map(_.count()) else None
      val cas = if (e.strategy.destinations.contains(Destination.Cassandra))
        table("cassandra", e.name).map(_.count()) else None
      val status = src match {
        case None => "skip"
        case _ if e.isManyToMany => "m2m" // cardinality is per-link, §11 checks FKs
        case Some(s) =>
          // thresholds per validate_migration.py:105-110 — messages tolerate
          // filtered rows, everything else must carry ≥95%
          val min = if (e.name == "message") 0.60 else 0.95
          val ok = (pg.toSeq ++ cas.toSeq).forall(t =>
            Checks.countParity(e.name, s, t, min).passed)
          checks += CheckResult(s"counts-${e.name}", ok,
            s"src=$s pg=${pg.getOrElse("-")} cas=${cas.getOrElse("-")}")
          if (ok) "[OK]" else "[FAIL]"
      }
      println(f"${e.name}%-20s ${src.getOrElse("-")}%10s ${pg.getOrElse("-")}%12s " +
        f"${cas.getOrElse("-")}%12s $status%8s")
    }

    // 2. mongo_id columns (:135-169)
    section(2, "VALIDATING mongo_id COLUMNS")
    for (e <- Entities.ordered if !e.isManyToMany;
      d <- e.strategy.destinations;
      df <- table(d.toString.toLowerCase, e.name)) {
      record(CheckResult(s"mongo_id-${e.name}-$d".toLowerCase,
        df.columns.contains("mongo_id"),
        if (df.columns.contains("mongo_id")) "mongo_id present" else "mongo_id MISSING"))
    }

    // 3. room consistency (:179-231): every message's room exists
    section(3, "VALIDATING CASSANDRA ROOM CONSISTENCY")
    for (m <- table("cassandra", "message"); r <- table("cassandra", "room"))
      record(Checks.setContainment("msg-rooms-in-room-details", m, r, "room_id"))

    // 4. uuid5 determinism (:239-269)
    section(4, "VALIDATING UUID5 DETERMINISM")
    for (r <- table("cassandra", "room"))
      record(Checks.uuid5Oracle("room-uuid5", r, "mongo_id", "room_id"))

    // 5. rooms_by_mongo lookup (:277+)
    section(5, "VALIDATING rooms_by_mongo LOOKUP")
    for (l <- table("cassandra", "rooms_by_mongo"); r <- table("cassandra", "room")) {
      record(Checks.cardinalityEquals("rooms_by_mongo-cardinality", l.count(), r.count()))
      record(Checks.setContainment("rooms_by_mongo-ids", l, r, "room_id"))
    }

    // 6. organizations flag derivation
    section(6, "VALIDATING ORGANIZATIONS")
    for (o <- table("cassandra", "organizations"); r <- table("cassandra", "room"))
      record(Checks.cardinalityEquals("organizations-count",
        o.count(), r.filter(col("is_organization")).count()))

    // 7. url rewrites (:451-539)
    section(7, "VALIDATING URL REWRITES")
    for (u <- table("postgres", "user"))
      record(Checks.urlRewriteSweep("user-avatar-urls", u, Seq("avatar")))
    for (c <- table("postgres", "channel"))
      record(Checks.urlRewriteSweep("channel-urls", c, Seq("picture", "cover")))

    // 8. filtered message types absent (:541-566)
    section(8, "VALIDATING FILTERED MESSAGE TYPES")
    for (m <- table("cassandra", "message"))
      record(Checks.absence("no-geo-messages", m, col("type") === "GEO_LOCATION"))

    // 9. soft-delete anonymization (:568-592)
    section(9, "VALIDATING SOFT-DELETE CONSISTENCY")
    for (u <- table("postgres", "user"))
      record(Checks.softDeleteConsistency("deleted-user-anonymized", u,
        col("name") === "Deleted User",
        mustBeSet = Seq("deleted_at", "deleted_name"),
        mustBeBlank = Seq("email", "phone")))

    // 10. phone normalization
    section(10, "VALIDATING PHONE NORMALIZATION")
    for (u <- table("cassandra", "user"))
      record(Checks.ratioAtLeast("cassandra-phone-intl",
        u.filter(col("phone") =!= ""), col("phone").startsWith("+"), 1.0))

    // 11. m2m link tables (:272-402)
    section(11, "VALIDATING MANY-TO-MANY LINKS")
    for (pu <- table("postgres", "profession_user"); u <- table("postgres", "user"))
      record(Checks.fkIntegrity("profession_user-fk", pu, u, "user_id", "id"))
    for (eu <- table("postgres", "entities_user"); u <- table("postgres", "user"))
      record(Checks.fkIntegrity("entities_user-fk", eu, u, "user_id", "id"))

    // 12. docs hierarchy invariants (:643-756)
    section(12, "VALIDATING DOCS HIERARCHY")
    for (d <- table("postgres", "docs")) {
      record(Checks.fkIntegrity("docs-folder-fk", d.filter(col("onFolder") =!= 0),
        d.filter(col("type") === "FOLDER"), "onFolder", "id"))
      record(Checks.implication("specialRole-implies-private", d,
        col("special_role_id").isNotNull, col("isPrivate")))
    }

    // 13. physical clustering order (our Scylla-storage-property equivalent)
    section(13, "VALIDATING CQL CLUSTERING LAYOUTS")
    for ((t, layout) <- graft.sink.CqlLayouts.all if layout.clustering.nonEmpty;
      df <- Try(spark.read.parquet(s"$dir/cassandra_layout/$t")).toOption)
      record(Checks.clusteringOrder(s"clustering-$t", df, layout.clustering))

    // critical checks that never RAN (their inputs were missing) count as
    // failures — skipped-because-absent must not read as passed
    val critical = Set("room-uuid5", "msg-rooms-in-room-details")
    for (name <- critical if !checks.exists(_.name == name))
      checks += CheckResult(name, passed = false, "check skipped: input tables missing")

    // 14. summary + verdict (:988-1043)
    section(14, "VALIDATION SUMMARY")
    val failed = checks.filterNot(_.passed)
    println(s"\nChecks completed: ${checks.size}")
    println(s"Errors found: ${failed.size}")
    if (failed.nonEmpty) {
      println("\n[ERROR] ERRORS:")
      failed.take(20).foreach(c => println(s"  - ${c.name}: ${c.detail}"))
    }
    val (ok, _) = Checks.verdict(checks.toSeq, critical = critical)
    println("\n" + "=" * 80)
    println(if (ok) "SUCCESS: Migration validation PASSED"
      else s"[ERROR] FAILURE: Migration validation FAILED (${failed.size} errors)")
    println("=" * 80)
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
