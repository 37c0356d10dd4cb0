package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.post.Denormalize

/** The demo's fixtures migrated end to end by [[RunEtl.execute]] and checked
  * by [[Validate.run]]: the post-migration tables come from the same run,
  * every Validate section runs, and a missing input fails the report.
  */
class MigrationSpec extends SparkSpecBase {

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  private lazy val sources: String = {
    val dir = tmp("graft-demo-src")
    MigrationDemo.writeFixtures(dir)
    dir
  }

  private def migrate(out: String, flags: String*): Map[String, Long] = {
    val (ok, rows) = RunEtl.execute(spark,
      RunEtl.parse(Seq("--source", sources, "--out", out) ++ flags))
    assert(ok)
    rows
  }

  /** `<destination>/<table>` directories directly under `out`. */
  private def written(out: String): Set[String] =
    Seq("postgres", "cassandra").flatMap { d =>
      val dir = Paths.get(out, d)
      if (!Files.isDirectory(dir)) Nil
      else Files.list(dir).iterator().asScala.map(p => s"$d/${p.getFileName}").toSeq
    }.toSet

  private val postTables =
    Denormalize.tables.map(t => s"${t.destination.toString.toLowerCase}/${t.name}").toSet

  /** A full migration of the fixtures, with its sources under `sources/`. */
  private lazy val good: String = {
    val out = tmp("graft-demo-out")
    MigrationDemo.writeFixtures(s"$out/sources")
    migrate(out)
    out
  }

  test("demo fixtures: RunEtl writes every post table and Validate passes every section") {
    assert(postTables.size === 7)
    assert(postTables.subsetOf(written(good)), written(good))
    val (ok, checks) = Validate.run(spark, good)
    assert(ok, checks.filterNot(_.passed).mkString("\n"))
    assert(checks.map(Validate.sectionOf).toSet === (0 to 13).toSet)
    assert(spark.read.parquet(s"$good/postgres/docs_roles").count() === 1L)
    assert(spark.read.parquet(s"$good/cassandra/rooms_by_user").count() ===
      spark.read.parquet(s"$good/cassandra/room_member").count())
  }

  test("Validate fails when a table it reads is missing") {
    val out = tmp("graft-demo-damaged")
    val from = Paths.get(good)
    Files.walk(from).iterator().asScala.foreach { p =>
      val to = Paths.get(out).resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
    }
    val gone = Paths.get(out, "cassandra", "rooms_by_mongo")
    Files.walk(gone).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    val (ok, checks) = Validate.run(spark, out)
    assert(!ok)
    val failed = checks.filterNot(_.passed).map(_.name)
    assert(failed.contains("0.present-cassandra/rooms_by_mongo"), failed)
    assert(failed.contains("5.rooms_by_mongo-cardinality"), failed)
  }

  test("the post step follows --dry-run, --target and --entities") {
    val dry = tmp("graft-post-dry")
    migrate(dry, "--dry-run")
    assert(written(dry).isEmpty)

    val pg = tmp("graft-post-pg")
    migrate(pg, "--target", "postgres")
    assert(written(pg).filter(postTables) === Set("postgres/docs_roles"))
    assert(!written(pg).exists(_.startsWith("cassandra/")))

    // room alone feeds the room-only lookups; messages and members did not run
    val rooms = tmp("graft-post-rooms")
    migrate(rooms, "--entity", "room")
    assert(written(rooms) ===
      Set("cassandra/room", "cassandra/rooms_by_mongo", "cassandra/organizations"))
  }
}
