package graft.run

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.Destination
import graft.operators.Relational
import graft.transform.{DocsHierarchy, Projections, Rules}

/** The catalog's 15 entity transforms as reusable [[Pipeline]] stages —
  * the single description the CLI (`graft.RunEtl`) runs. Mirrors the
  * reference's per-entity transform dispatch (`etl/etl_worker.py` via
  * COLLECTION_MAPPINGS, `settings.py:138-258`).
  */
object EntityStages {

  /** FK dependencies between entities (who needs whose dim to resolve ids).
    * The reference satisfies these from its warm id-mapping cache
    * (`orchestrator.py:86-102`); hermetically the parent entity must be part
    * of the same run, so a partial `--entities` selection auto-includes its
    * closure.
    */
  val dependencies: Map[String, Seq[String]] = Map(
    "municipality" -> Seq("province"),
    "parroquia" -> Seq("province", "municipality"),
    "user" -> Seq("province", "municipality", "parroquia", "roles"),
    "channel" -> Seq("user"),
    "docs" -> Seq("user", "roles"),
    "live" -> Seq("channel", "user"),
    "message" -> Seq("user"),
    "room_member" -> Seq("user"),
    "profession_user" -> Seq("user", "profession"),
    "entities_user" -> Seq("user", "entity"))

  /** Transitive dependency closure of a selection, in no particular order. */
  def closure(selected: Seq[String]): Set[String] = {
    var acc = selected.toSet
    var grew = true
    while (grew) {
      val next = acc ++ acc.flatMap(e => dependencies.getOrElse(e, Nil))
      grew = next.size != acc.size
      acc = next
    }
    acc
  }

  private def userDimOf(dims: Map[String, DataFrame]) =
    dims("user:cassandra").select(col("mongo_id"), col("user_id"))

  /** All 15 stages keyed by catalog entity name. */
  val all: Map[String, Pipeline.Stage] = Map(
    "roles" -> ((src, _) => Map(
      Destination.Postgres -> Relational.sequentialIds(
        Projections.rolesPostgres(src), "mongo_id", "id"),
      Destination.Cassandra -> Relational.sequentialIds(
        Projections.rolesCassandra(src), "mongo_id", "id"))),
    "province" -> ((src, _) => Map(Destination.Postgres ->
      Relational.sequentialIds(
        Rules.geoRules(Projections.geoPostgres(src, withProvince = false,
          withMunicipality = false)), "mongo_id", "id"))),
    "municipality" -> ((src, dims) => Map(Destination.Postgres ->
      Relational.sequentialIds(
        Rules.geoRules(Projections.geoPostgres(src, withProvince = true,
          withMunicipality = false), provinceDim = Some(dims("province"))),
        "mongo_id", "id"))),
    "parroquia" -> ((src, dims) => Map(Destination.Postgres ->
      Relational.sequentialIds(
        Rules.geoRules(Projections.geoPostgres(src, withProvince = true,
          withMunicipality = true), provinceDim = Some(dims("province")),
          municipalityDim = Some(dims("municipality"))),
        "mongo_id", "id"))),
    "profession" -> ((src, _) => Map(Destination.Postgres ->
      Relational.sequentialIds(Projections.professionPostgres(src), "mongo_id", "id"))),
    "entity" -> ((src, _) => Map(Destination.Postgres ->
      Relational.sequentialIds(Projections.entityPostgres(src), "mongo_id", "id"))),
    "user" -> ((src, dims) => Map(
      Destination.Postgres -> Relational.sequentialIds(
        Rules.userRules(Projections.userPostgres(src), Destination.Postgres,
          provinceDim = Some(dims("province")),
          municipalityDim = Some(dims("municipality")),
          parroquiaDim = Some(dims("parroquia")),
          roleDim = Some(dims("roles"))),
        "mongo_id", "id"),
      Destination.Cassandra -> Relational.sequentialIds(
        Rules.userRules(Projections.userCassandra(src), Destination.Cassandra),
        "mongo_id", "user_id"))),
    "channel" -> ((src, dims) => Map(Destination.Postgres ->
      Relational.sequentialIds(
        Rules.channelRules(Projections.channelPostgres(src),
          userDim = Some(dims("user").select(col("mongo_id"), col("id")))),
        "mongo_id", "id"))),
    "docs" -> ((src, dims) => Map(Destination.Postgres ->
      DocsHierarchy.resolve(
        Rules.docsRules(Projections.docsPostgres(src),
          userDim = Some(dims("user").select(col("mongo_id"), col("id"))),
          roleDim = Some(dims("roles").select(col("mongo_id"), col("id"))))))),
    "live" -> ((src, dims) => Map(Destination.Postgres ->
      Relational.sequentialIds(
        Rules.liveRules(Projections.livePostgres(src),
          channelDim = Some(dims("channel").select(col("mongo_id"), col("id"))),
          userDim = Some(dims("user").select(col("mongo_id"), col("id")))),
        "mongo_id", "id"))),
    "room" -> ((src, _) => Map(Destination.Cassandra ->
      Rules.roomRules(Projections.roomCassandra(src)))),
    "message" -> ((src, dims) => Map(Destination.Cassandra ->
      Rules.messageRules(
        Rules.messageExtractFilter(Projections.messageCassandra(src)),
        Destination.Cassandra, userDim = Some(userDimOf(dims))))),
    "room_member" -> ((src, dims) => Map(Destination.Cassandra ->
      Rules.roomMemberRules(Projections.roomMemberCassandra(src),
        userDim = Some(userDimOf(dims))))),
    "profession_user" -> ((src, dims) => Map(Destination.Postgres ->
      Rules.manyToMany(src, "profession",
        dims("user").select(col("mongo_id"), col("id")),
        dims("profession").select(col("mongo_id"), col("id"))))),
    "entities_user" -> ((src, dims) => Map(Destination.Postgres ->
      Rules.manyToMany(src, "entities",
        dims("user").select(col("mongo_id"), col("id")),
        dims("entity").select(col("mongo_id"), col("id"))))))

  /** Mongo-document timestamp columns arrive as ISO strings from JSON
    * sources; the stages expect real timestamps.
    */
  def normalizeTimestamps(df: DataFrame): DataFrame =
    Seq("createdAt", "updatedAt", "joinedAt", "deletedAt").foldLeft(df) { (d, c) =>
      if (d.schema.fieldNames.contains(c) &&
        d.schema(c).dataType == org.apache.spark.sql.types.StringType)
        d.withColumn(c, to_timestamp(col(c)))
      else d
    }
}
