package graft.sink

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col

/** The target tables' physical layouts, as declared by the reference schema
  * (`backups/create_scylla_database.cql:21-389`): partition key ≙ the unit a
  * key lookup reads, clustering columns + direction ≙ within-partition sort
  * order.
  *
  * The catalog holds the tables the migration's Cassandra entities are
  * written as; [[writeTo]] lays a DataFrame out per its entry so reads that
  * follow the table's access pattern find a partition in one file, in
  * clustering order — the property the reference gets from Cassandra's
  * storage engine and validates by CQL definition.
  *
  * Two shapes, chosen by the entry:
  *  - no clustering columns (every partition is one row): key-sorted files,
  *    the SSTable analog — hash-distribute on the key (Cassandra's token
  *    ranges), sort each file by it. A data-sized number of files; each key
  *    lives in exactly one, and a key lookup prunes on the parquet row-group
  *    min/max of the sorted key.
  *  - clustering columns: one DIRECTORY per partition key, clustering-sorted
  *    inside. The caveats below apply to this shape only.
  *
  * Scale note (directory tables): a high-cardinality partition key
  * (messages_by_room at real scale) would rather take the key-sorted shape
  * with the clustering columns after the key in the sort (ROADMAP item 2).
  *
  * Write cost (directory tables): each partition directory costs a
  * directory create, a file create and a commit rename whatever its byte
  * size, so a table's write time follows its key count. [[writeTo]] spreads
  * the keys over `spark.sql.shuffle.partitions` tasks so those
  * per-directory costs run on every core (the session's file system,
  * [[NioLocalFileSystem]], keeps each of them free of child processes).
  */
object CqlLayouts {

  /** `clustering` is (column, ascending). */
  final case class TableLayout(partitionKeys: Seq[String], clustering: Seq[(String, Boolean)])

  /** One entry per CREATE TABLE in `create_scylla_database.cql` that an
    * entity is written as (`Entities.cassandraTable`); file:line in
    * comments, clustering directions from the WITH CLUSTERING ORDER
    * clauses, ASC where the clause is absent.
    */
  val all: Map[String, TableLayout] = Map(
    "messages_by_room" -> // .cql:21-46
      TableLayout(Seq("room_id"), Seq("message_id" -> false)),
    "room_details" -> // .cql:103-104
      TableLayout(Seq("room_id"), Nil),
    "participants_by_room" -> // .cql:121-128
      TableLayout(Seq("room_id"), Seq("user_id" -> true)),
    "users" -> // .cql:223-224
      TableLayout(Seq("user_id"), Nil),
    "role" -> // .cql:354-355
      TableLayout(Seq("id"), Nil)
  )

  private def clusterCols(l: TableLayout): Seq[Column] =
    l.clustering.map { case (c, ascending) => if (ascending) col(c).asc else col(c).desc }

  /** Write `df` to `path` laid out per `layout` (see the object doc for the
    * two shapes). The CLI writes each entity to its entity-named directory
    * (what `Validate` reads) while laying it out per its CQL table's entry.
    *
    * Read-back caveat (directory tables, inherent to `partitionBy`):
    * partition-key columns are re-inferred from directory names, so a
    * LongType key reads back as IntegerType when its values fit (disable
    * `spark.sql.sources.partitionColumnTypeInference.enabled`, or cast, when
    * a consumer is type-sensitive), and an empty-string key value round-trips
    * as `__HIVE_DEFAULT_PARTITION__` → NULL. The reference's keys are
    * numeric ids and non-empty uuids, so neither bites the migration's
    * tables. Opening the table lists one directory per key:
    * [[graft.Engine.confs]] keeps that discovery on the driver (no Spark job
    * per read however many keys), but a scan still opens one file per key,
    * so read-back cost follows the file count. Key-sorted tables keep their
    * written schema and open a data-sized number of files.
    */
  def writeTo(df: DataFrame, path: String, layout: TableLayout): Unit = {
    val keyCols = layout.partitionKeys.map(col)
    val writer = if (layout.clustering.isEmpty) {
      // one row per key, so no directories: the key shuffle has no explicit
      // count, and AQE sizes the file count from the bytes
      df.repartition(keyCols: _*).sortWithinPartitions(keyCols: _*).write
    } else {
      // hash-distribute on the partition key first (Cassandra's token
      // distribution), THEN sort: each key lives in exactly one task, so
      // each partition directory receives ONE file holding its complete row
      // set in clustering order — without the repartition, a directory
      // collects one sorted file per task that saw the key, i.e. sorted
      // runs, not the within-partition total order the CQL schema declares.
      // The partition count is explicit (spark.sql.shuffle.partitions, one
      // task per core in Engine.session): AQE would merge a byte-small
      // frame's key shuffle into ONE task, which then creates every
      // partition directory in turn — a cost that follows the key count,
      // not the bytes. An explicit count is never coalesced, so the
      // directories are written on every core.
      val tasks = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
      df.repartition(tasks, keyCols: _*)
        .sortWithinPartitions(keyCols ++ clusterCols(layout): _*)
        .write
        .partitionBy(layout.partitionKeys: _*)
    }
    writer.mode("overwrite").parquet(path)
  }
}
