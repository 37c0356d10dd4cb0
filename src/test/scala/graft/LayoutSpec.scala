package graft

import org.apache.spark.sql.functions._

/** CQL physical layout: every partition directory is clustering-sorted,
  * a byte-small frame's keys still spread over several write tasks,
  * reading a many-key table back lists its directories on the driver, and
  * a table without clustering columns is written as key-sorted files.
  */
class LayoutSpec extends SparkSpecBase {
  import spark.implicits._

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
    CqlLayouts.writeTo(msgs, s"$dir/messages_by_room", CqlLayouts.all("messages_by_room"))
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
    val table = java.nio.file.Paths.get(dir, "messages_by_room")
    CqlLayouts.writeTo(msgs, table.toString, CqlLayouts.all("messages_by_room"))
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

  test("reading a table of more than 32 key directories starts only the footer job") {
    import graft.sink.CqlLayouts
    import org.apache.spark.GraftListenerBridge.waitListenerBusEmpty
    val path = java.nio.file.Files.createTempDirectory("graft-cql-list")
      .resolve("participants_by_room").toString
    val keys = 40 // above Spark's default parallelPartitionDiscovery.threshold (32)
    CqlLayouts.writeTo((1 to keys).map(r => (f"room$r%02d", r.toLong, "MEMBER"))
      .toDF("room_id", "user_id", "role"), path, CqlLayouts.all("participants_by_room"))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def readJobs(): Int = {
      waitListenerBusEmpty(spark.sparkContext)
      jobs.set(0)
      assert(spark.read.parquet(path).inputFiles.length === keys)
      waitListenerBusEmpty(spark.sparkContext)
      jobs.get
    }
    val threshold = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(readJobs() === 1, "the session's read must list its key directories on the driver")
      // teeth: at Spark's default threshold the same read adds a listing job
      val prev = spark.conf.getOption(threshold)
      spark.conf.set(threshold, "32")
      try assert(readJobs() === 2)
      finally prev.fold(spark.conf.unset(threshold))(spark.conf.set(threshold, _))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a table without clustering is written as key-sorted files, not key directories") {
    import graft.sink.CqlLayouts
    import graft.validate.Checks
    import org.apache.spark.sql.types.LongType
    import scala.jdk.CollectionConverters._
    val path = java.nio.file.Files.createTempDirectory("graft-cql-sorted").resolve("users")
    val keys = 250
    CqlLayouts.writeTo((1 to keys).map(u => ((u * 7919L) % 1000 + u * 1000, s"name-$u"))
      .toDF("user_id", "name").orderBy(rand(3)), path.toString, CqlLayouts.all("users"))
    val entries = java.nio.file.Files.list(path).iterator().asScala.map(_.getFileName.toString).toSeq
    assert(!entries.exists(_.startsWith("user_id=")), s"key directories: ${entries.take(5)}")
    val files = entries.count(_.endsWith(".parquet"))
    val tasks = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(files >= 1 && files <= tasks, s"$files files for $keys keys")
    val back = spark.read.parquet(path.toString)
    assert(back.count() === keys)
    assert(back.schema("user_id").dataType === LongType, "the key keeps its written type")
    val sorted = Checks.keySortedFiles("users-sorted", back, Seq("user_id"))
    assert(sorted.passed, sorted.detail)
  }

  test("the key-sorted check passes a layout write and fails unsorted or split writes of its rows") {
    import graft.sink.CqlLayouts
    import graft.validate.Checks
    val dir = java.nio.file.Files.createTempDirectory("graft-cql-sorted-bad").toString
    val rows = (1 to 200).map(r => (f"room$r%03d", s"name-$r")).toDF("room_id", "name")
      .orderBy(rand(5))
    def check(table: String) =
      Checks.keySortedFiles(table, spark.read.parquet(s"$dir/$table"), Seq("room_id"))
    CqlLayouts.writeTo(rows, s"$dir/room_details", CqlLayouts.all("room_details"))
    assert(check("room_details").passed, check("room_details").detail)
    // teeth for the order half: the scrambled rows dealt round-robin over 4 files
    rows.repartition(4).write.parquet(s"$dir/unsorted")
    assert(spark.read.parquet(s"$dir/unsorted").inputFiles.length > 1)
    assert(!check("unsorted").passed,
      "an unsorted multi-file write must not pass the key-sorted check")
    // teeth for the one-file half: every file sorted, but each key in two
    for (_ <- 1 to 2)
      rows.coalesce(1).sortWithinPartitions("room_id").write.mode("append").parquet(s"$dir/split")
    assert(Checks.clusteringOrder("split-order", spark.read.parquet(s"$dir/split"),
      Seq("room_id" -> true)).passed)
    assert(!check("split").passed, "a key in two files must not pass the key-sorted check")
  }
}
