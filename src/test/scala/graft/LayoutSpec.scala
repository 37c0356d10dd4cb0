package graft

import org.apache.spark.sql.functions._

import graft.sink.Layout

/** Physical-layout proofs at the plan level: bucketed joins shuffle-free,
  * partitioned scans prune directories.
  */
class LayoutSpec extends SparkSpecBase {
  import spark.implicits._

  test("same-bucket tables join without any shuffle exchange") {
    val dbDir = java.nio.file.Files.createTempDirectory("graft-bucketdb").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS bucketdb LOCATION '$dbDir'")
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val lineitem = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    Layout.writeBucketed(orders, "bucketdb.orders_b", "o_orderkey", 8, Seq("o_orderkey"))
    Layout.writeBucketed(lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
      "bucketdb.lineitem_b", "o_orderkey", 8, Seq("o_orderkey"))

    // force the shuffle-join path (tiny test tables would broadcast, which
    // hides what bucketing buys on large-large joins)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("bucketdb.lineitem_b")
        .join(spark.table("bucketdb.orders_b"), "o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed co-located join must not shuffle:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"))
      assert(joined.count() === lineitem.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("CQL layout write yields within-partition clustering order; the check has teeth") {
    import graft.sink.CqlLayouts
    import graft.validate.Checks
    val dir = java.nio.file.Files.createTempDirectory("graft-cql").toString
    // enough rooms × messages to span several write tasks, deliberately
    // shuffled input order — the layout write must still produce every
    // partition directory fully message_id-DESC sorted
    val msgs = (1 to 40).flatMap(r => (1 to 25).map(m =>
        (s"room$r", (m * 2654435761L) % 1000 + m, s"msg-$r-$m")))
      .toDF("room_id", "message_id", "content")
      .orderBy(rand(7)) // scramble
    CqlLayouts.write(msgs, dir, "messages_by_room")
    val back = spark.read.parquet(s"$dir/messages_by_room")
    assert(back.count() === 1000)
    val ordered = Checks.clusteringOrder("layout-ok", back,
      CqlLayouts.all("messages_by_room").clustering)
    assert(ordered.passed, ordered.detail)
    // teeth: a plain partitioned write of the scrambled input (no clustering
    // sort) must FAIL the same check
    msgs.write.mode("overwrite").partitionBy("room_id").parquet(s"$dir/unsorted")
    val unsorted = Checks.clusteringOrder("layout-bad",
      spark.read.parquet(s"$dir/unsorted"),
      CqlLayouts.all("messages_by_room").clustering)
    assert(!unsorted.passed, "an unsorted layout must not pass the clustering check")
  }

  test("CQL layout write spreads a byte-small frame's keys over several tasks") {
    import graft.sink.CqlLayouts
    import graft.validate.Checks
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft-cql-keys").toString
    // 250 keys × 4 rows, a few KB: AQE alone would merge the key shuffle
    // into one task that creates all 250 directories in turn
    val msgs = (1 to 250).flatMap(r => (1 to 4).map(m =>
        (f"room$r%03d", (m * 7919L) % 13 + m * 100, s"msg-$r-$m")))
      .toDF("room_id", "message_id", "content")
      .orderBy(rand(11))
    CqlLayouts.write(msgs, dir, "messages_by_room")
    val table = java.nio.file.Paths.get(dir, "messages_by_room")
    val partDirs = java.nio.file.Files.list(table).iterator().asScala
      .filter(_.getFileName.toString.startsWith("room_id=")).toSeq
    assert(partDirs.size === 250)
    val filesPerDir = partDirs.map(d => java.nio.file.Files.list(d).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSeq)
    assert(filesPerDir.forall(_.size == 1), "every directory holds exactly one file")
    // part-<task>-…: the writing task's partition id
    val tasks = filesPerDir.flatten.map(_.split('-')(1)).distinct
    assert(tasks.size > 1, s"all 250 directories were written by task ${tasks.mkString}")
    val back = spark.read.parquet(table.toString)
    assert(back.count() === 1000)
    val ordered = Checks.clusteringOrder("layout-keys", back,
      CqlLayouts.all("messages_by_room").clustering)
    assert(ordered.passed, ordered.detail)
  }

  test("partitioned parquet prunes directories via PartitionFilters") {
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString + "/events"
    val events = Seq((1L, "click"), (2L, "view"), (3L, "click"), (4L, "error"))
      .toDF("event_id", "event_type")
    Layout.writePartitioned(events, dir, "event_type")

    val scan = spark.read.parquet(dir).filter(col("event_type") === "click")
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_type"),
      s"predicate must prune partitions (listing-time, before any IO):\n$plan")
    assert(scan.count() === 2)
  }
}
