package graft.sink

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col

/** The target tables' physical layouts, as declared by the reference schema
  * (`backups/create_scylla_database.cql:21-389`): partition key ≙ directory
  * partition, clustering columns + direction ≙ within-partition sort order.
  *
  * The catalog covers the full table surface; [[write]] lays a DataFrame out
  * per its entry so reads that follow the table's access pattern scan one
  * partition in clustering order — the property the reference gets from
  * Cassandra's storage engine and validates by CQL definition.
  *
  * Scale note: the parquet stand-in maps the CQL partition key to a
  * DIRECTORY partition, which is right for the demo and for bounded-key
  * tables; a high-cardinality uuid partition key (messages_by_room at real
  * scale) would instead hash-distribute (`repartition` on the key +
  * `sortWithinPartitions`, a bucketed layout) — the Cassandra connector
  * gets the same effect from token-range writes.
  *
  * Write cost: each partition directory costs a directory create, a file
  * create and a commit rename whatever its byte size, so a table's write
  * time follows its key count. [[writeTo]] spreads the keys over
  * `spark.sql.shuffle.partitions` tasks so those per-directory costs run
  * on every core (the session's file system, [[NioLocalFileSystem]], keeps
  * each of them free of child processes).
  */
object CqlLayouts {

  /** `clustering` is (column, ascending). */
  final case class TableLayout(partitionKeys: Seq[String], clustering: Seq[(String, Boolean)])

  private def asc(c: String): (String, Boolean) = c -> true
  private def desc(c: String): (String, Boolean) = c -> false

  /** One entry per CREATE TABLE in `create_scylla_database.cql` (file:line in
    * comments; clustering directions from the WITH CLUSTERING ORDER clauses,
    * ASC where the clause is absent).
    */
  val all: Map[String, TableLayout] = Map(
    "messages_by_room" -> // .cql:21-46
      TableLayout(Seq("room_id"), Seq(desc("message_id"))),
    "rooms_by_user" -> // .cql:51-89
      TableLayout(Seq("user_id"),
        Seq(desc("is_pinned"), desc("last_message_at"), desc("room_id"))),
    "room_counters_by_user" -> // .cql:93-97
      TableLayout(Seq("user_id"), Seq(asc("room_id"))),
    "room_details" -> // .cql:103-104
      TableLayout(Seq("room_id"), Nil),
    "participants_by_room" -> // .cql:121-128
      TableLayout(Seq("room_id"), Seq(asc("user_id"))),
    "p2p_room_by_users" -> // .cql:137-141
      TableLayout(Seq("user1_id"), Seq(asc("user2_id"))),
    "reactions_by_message" -> // .cql:146-151
      TableLayout(Seq("message_id"), Seq(asc("user_id"))),
    "read_receipts_by_message" -> // .cql:157-161
      TableLayout(Seq("message_id"), Seq(asc("user_id"))),
    "message_by_sender_message_id" -> // .cql:167-168
      TableLayout(Seq("sender_message_id"), Nil),
    "room_by_message" -> // .cql:176-177
      TableLayout(Seq("message_id"), Nil),
    "room_membership_lookup" -> // .cql:183-189
      TableLayout(Seq("user_id"), Seq(asc("room_id"))),
    "associated_rooms_by_broadcast" -> // .cql:192-200
      TableLayout(Seq("broadcast_room_id"), Seq(asc("associated_room_id"))),
    "deleted_rooms_by_user" -> // .cql:205-211
      TableLayout(Seq("user_id"), Seq(desc("deleted_at"), asc("room_id"))),
    "message_status_by_user" -> // .cql:215-221 (composite partition key)
      TableLayout(Seq("user_id", "room_id"), Seq(desc("message_id"))),
    "users" -> // .cql:223-224
      TableLayout(Seq("user_id"), Nil),
    "all_user_ids" -> // .cql:238-241
      TableLayout(Seq("bucket"), Seq(asc("user_id"))),
    "room_message_poll_vote" -> // .cql:251-259
      TableLayout(Seq("message_id"), Seq(asc("user_id"), asc("option_id"))),
    "poll_option_counters_by_message" -> // .cql:268-272
      TableLayout(Seq("message_id"), Seq(asc("option_id"))),
    "poll_options_by_message" -> // .cql:277-283
      TableLayout(Seq("message_id"), Seq(asc("option_id"))),
    "bot_conversation" -> // .cql:296-305
      TableLayout(Seq("user_id"), Seq(desc("id"))),
    "bot_conversation_deleted" -> // .cql:313-320
      TableLayout(Seq("user_id"), Seq(desc("id"))),
    "bot_message" -> // .cql:328-337
      TableLayout(Seq("conversation_id"), Seq(desc("id"))),
    "mentions_by_message" -> // .cql:341-346
      TableLayout(Seq("message_id"), Seq(asc("user_id"))),
    "rooms_by_mongo" -> // .cql:349-350
      TableLayout(Seq("mongo_id"), Nil),
    "role" -> // .cql:354-355
      TableLayout(Seq("id"), Nil),
    "organizations" -> // .cql:360-361
      TableLayout(Seq("room_id"), Nil),
    "meets" -> // .cql:369-370
      TableLayout(Seq("meet_id"), Nil),
    "meets_by_user" -> // .cql:382-389
      TableLayout(Seq("user_id"), Seq(desc("meet_id")))
  )

  private def clusterCols(l: TableLayout): Seq[Column] =
    l.clustering.map { case (c, ascending) => if (ascending) col(c).asc else col(c).desc }

  /** Write `df` to `baseDir/table` laid out per the catalog entry: directory
    * partition on the (possibly composite) partition key, clustering order
    * inside every partition. Tables with a bare primary key (no clustering)
    * still directory-partition — the "direct lookup by key" access pattern
    * becomes partition pruning.
    */
  def write(df: DataFrame, baseDir: String, table: String): Unit =
    writeTo(df, s"$baseDir/$table", all.getOrElse(table,
      throw new IllegalArgumentException(s"no CQL layout for table '$table'")))

  /** [[write]] with an explicit target path — the CLI writes each entity to
    * its entity-named directory (what `Validate` reads) while laying it out
    * per its CQL table's catalog entry.
    *
    * Read-back caveat (inherent to `partitionBy`): partition-key columns are
    * re-inferred from directory names, so a LongType key reads back as
    * IntegerType when its values fit (disable
    * `spark.sql.sources.partitionColumnTypeInference.enabled`, or cast, when
    * a consumer is type-sensitive), and an empty-string key value round-trips
    * as `__HIVE_DEFAULT_PARTITION__` → NULL. The reference's keys are
    * numeric ids and non-empty uuids, so neither bites the migration's
    * tables; flagging it for new layouts whose keys may not be. Opening the
    * table lists one directory per key: [[graft.Engine.confs]] keeps that
    * discovery on the driver (no Spark job per read however many keys),
    * but a scan still opens one file per key, so read-back cost follows
    * the file count (ROADMAP item 2).
    */
  def writeTo(df: DataFrame, path: String, layout: TableLayout): Unit = {
    // hash-distribute on the partition key first (Cassandra's token
    // distribution), THEN sort: each key lives in exactly one task, so each
    // partition directory receives ONE file holding its complete row set in
    // clustering order — without the repartition, a directory collects one
    // sorted file per task that saw the key, i.e. sorted runs, not the
    // within-partition total order the CQL schema declares.
    // The partition count is explicit (spark.sql.shuffle.partitions, one
    // task per core in Engine.session): AQE would merge a byte-small
    // frame's key shuffle into ONE task, which then creates every partition
    // directory in turn — a cost that follows the key count, not the bytes.
    // An explicit count is never coalesced, so the directories are written
    // on every core.
    val keyCols = layout.partitionKeys.map(col)
    val tasks = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    df.repartition(tasks, keyCols: _*)
      .sortWithinPartitions(keyCols ++ clusterCols(layout): _*)
      .write
      .mode("overwrite")
      .partitionBy(layout.partitionKeys: _*)
      .parquet(path)
  }
}
