package graft.model

/** Destination dialect (the reference's 'postgres' / 'cassandra' split —
  * `etl/config/settings.py` COLLECTION_MAPPINGS `strategy`).
  */
sealed trait Destination
object Destination {
  case object Postgres extends Destination
  case object Cassandra extends Destination
}

sealed trait Strategy {
  def destinations: Seq[Destination]
}
object Strategy {
  case object PostgresOnly extends Strategy {
    val destinations = Seq(Destination.Postgres)
  }
  case object CassandraOnly extends Strategy {
    val destinations = Seq(Destination.Cassandra)
  }
  case object Dual extends Strategy {
    val destinations = Seq(Destination.Postgres, Destination.Cassandra)
  }
}

/** One source collection and its migration contract — mirrors the entries of
  * the reference's COLLECTION_MAPPINGS (`etl/config/settings.py:138-258`):
  * topological `order` (parents before children), the Cassandra table
  * whose CQL layout the entity is written in, and whether the entity is
  * a many-to-many link table. The
  * post-migration tables derived from entities are listed in
  * [[graft.post.Denormalize.tables]].
  */
final case class EntityConfig(
    name: String,
    mongo: String,
    order: Int,
    strategy: Strategy,
    cassandraTable: Option[String] = None,
    isManyToMany: Boolean = false)

object Entities {
  import Strategy._

  /** The 15 entities in dependency order (`settings.py:136-137`: "Order
    * matters! Parent entities must be migrated before children").
    */
  val all: Seq[EntityConfig] = Seq(
    EntityConfig("roles", "roles", 1, Dual, cassandraTable = Some("role")),
    EntityConfig("province", "provinces", 2, PostgresOnly),
    EntityConfig("municipality", "municipalities", 3, PostgresOnly),
    EntityConfig("parroquia", "parroquias", 4, PostgresOnly),
    EntityConfig("profession", "professions", 5, PostgresOnly),
    EntityConfig("entity", "entities", 6, PostgresOnly),
    EntityConfig("user", "users", 7, Dual, cassandraTable = Some("users")),
    EntityConfig("channel", "channels", 8, PostgresOnly),
    EntityConfig("docs", "docs", 9, PostgresOnly),
    EntityConfig("live", "lives", 10, PostgresOnly),
    EntityConfig("room", "rooms", 11, CassandraOnly, cassandraTable = Some("room_details")),
    EntityConfig("message", "messages", 12, CassandraOnly,
      cassandraTable = Some("messages_by_room")),
    EntityConfig("room_member", "roommembers", 13, CassandraOnly,
      cassandraTable = Some("participants_by_room")),
    EntityConfig("profession_user", "users", 14, PostgresOnly, isManyToMany = true),
    EntityConfig("entities_user", "users", 15, PostgresOnly, isManyToMany = true)
  )

  val byName: Map[String, EntityConfig] = all.map(e => e.name -> e).toMap

  /** Topological execution order. */
  def ordered: Seq[EntityConfig] = all.sortBy(_.order)
}
