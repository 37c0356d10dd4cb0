package graft.post

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.Destination
import graft.operators.Relational
import graft.transform.Rules

/** Post-migration denormalization (SURVEY.md §2.4 J8–J10,
  * `etl/orchestrator.py:1106-1471`): the reference's per-row cached loops
  * re-expressed as set-oriented joins. The three caches it pre-fetches
  * ("10-100x faster" — `orchestrator.py:1240`) are plain equi-joins here;
  * AQE upgrades them to broadcast at runtime exactly when the side is small
  * enough to be a cache, instead of assuming it always is.
  *
  * [[tables]] is the one list of post-migration tables a migration writes
  * after its 15 entities, with the inputs each is built from.
  */
object Denormalize {

  /** A post-migration table written to `<destination>/<name>`. `inputs`
    * name entity results as `"<entity>:<destination>"` (the [[graft.run.Pipeline]]
    * dim naming) and earlier post tables by their `name`; `build` looks
    * them up by those names.
    */
  final case class PostTable(
      name: String,
      destination: Destination,
      inputs: Seq[String],
      build: Map[String, DataFrame] => DataFrame)

  private val roomKey = "room:cassandra"
  private val memberKey = "room_member:cassandra"
  private val messageKey = "message:cassandra"

  /** The post-migration tables in build order: J8-J10, the S12 lookups, the
    * F7 organizations branch and docs_roles (U1). The membership lookup is
    * refreshed from the rooms_by_user table written before it.
    */
  val tables: Seq[PostTable] = Seq(
    PostTable("rooms_by_user", Destination.Cassandra,
      Seq(memberKey, roomKey, messageKey, "user:cassandra"),
      in => roomsByUser(in(memberKey), in(roomKey), in(messageKey), in("user:cassandra"))),
    PostTable("p2p_room_by_users", Destination.Cassandra, Seq(roomKey, memberKey),
      in => p2pLookup(in(roomKey), in(memberKey))),
    PostTable("room_membership_lookup", Destination.Cassandra,
      Seq(memberKey, "rooms_by_user"),
      in => refreshMembershipLookup(membershipLookup(in(memberKey)), in("rooms_by_user"))),
    PostTable("rooms_by_mongo", Destination.Cassandra, Seq(roomKey),
      in => roomsByMongo(in(roomKey))),
    PostTable("room_by_message", Destination.Cassandra, Seq(messageKey),
      in => roomByMessage(in(messageKey))),
    PostTable("organizations", Destination.Cassandra, Seq(roomKey),
      in => Rules.organizations(in(roomKey))),
    PostTable("docs_roles", Destination.Postgres, Seq("docs:postgres"),
      in => docsRoles(in("docs:postgres"))))

  /** J8 — p2p_room_by_users: p2p rooms with exactly two participants emit
    * both (user_a, user_b, room) orderings (`orchestrator.py:1130-1233`).
    */
  def p2pLookup(rooms: DataFrame, participants: DataFrame): DataFrame = {
    val p2p = rooms.filter(col("type") === "p2p").select("room_id")
    val members = participants.join(p2p, "room_id")
    Relational.bidirectionalPairs(members, "room_id", "user_id")
      .select(col("member_a").as("user_id"), col("member_b").as("other_user_id"),
        col("room_id"))
  }

  /** J9 + W1 — rooms_by_user: participants ⨝ room_details ⨝ last-message-
    * per-room ⨝ sender (`orchestrator.py:1235-1407`). The last-message top-1
    * is a window over the big messages table — AQE handles the giant-room
    * skew (SURVEY.md §7.4 risk 7).
    */
  def roomsByUser(
      participants: DataFrame,
      rooms: DataFrame,
      messages: DataFrame,
      users: DataFrame): DataFrame = {
    val lastMsg = Relational.topOnePerGroup(
        messages.select("room_id", "message_id", "content", "sender_id", "created_at"),
        Seq("room_id"),
        Seq(col("created_at").desc, col("message_id").desc))
      .select(
        col("room_id"),
        col("message_id").as("last_message_id"),
        substring(col("content"), 1, 100).as("last_message_preview"), // orchestrator.py:1348
        col("sender_id").as("last_message_sender_id"),
        col("created_at").as("last_message_at"))
    // rooms and users are FACT-sized in a chat corpus (they grow with the
    // user base, unlike the true dims nation/region) — no broadcast() hint
    // here. AQE picks broadcast when a side is measured small at runtime and
    // sort-merge otherwise; a forced broadcast of a tens-of-millions-row
    // table would OOM every executor.
    participants
      .select("room_id", "user_id", "role", "joined_at", "is_muted")
      .join(rooms.select(col("room_id"), col("name").as("room_name"),
        col("type").as("room_type"), col("image").as("room_image")), Seq("room_id"))
      .join(lastMsg, Seq("room_id"), "left")
      .join(
        users.select(col("user_id").as("last_message_sender_id"),
          col("name").as("last_message_sender_name")),
        Seq("last_message_sender_id"), "left")
      .withColumn("is_pinned", lit(false))
  }

  /** J10 — membership-lookup refresh: overwrite last_message_at/is_pinned
    * from rooms_by_user (`orchestrator.py:1409-1471`).
    */
  def refreshMembershipLookup(lookup: DataFrame, roomsByUser: DataFrame): DataFrame =
    Relational.overwriteByJoin(
      lookup,
      roomsByUser.select("user_id", "room_id", "last_message_at", "is_pinned"),
      Seq("user_id", "room_id"))

  /** S12 — the five reverse-lookup tables are plain projections of upstream
    * results (`orchestrator.py:509-545`).
    */
  def roomsByMongo(rooms: DataFrame): DataFrame =
    rooms.select(col("mongo_id"), col("room_id"))

  def roomByMessage(messages: DataFrame): DataFrame =
    messages.select(col("message_id"), col("room_id"))

  def membershipLookup(participants: DataFrame): DataFrame =
    participants.select(col("user_id"), col("room_id"), col("joined_at"))
      .withColumn("last_message_at", lit(null).cast("timestamp"))
      .withColumn("is_pinned", lit(false))

  /** U1 — docs_roles (`orchestrator.py:961-987`): one row per folder or file
    * carrying a special role, read off the migrated docs table.
    */
  def docsRoles(docs: DataFrame): DataFrame =
    docs.filter(col("special_role_id").isNotNull)
      .select(col("mongo_id"), col("special_role_id").as("role_id"))
}
