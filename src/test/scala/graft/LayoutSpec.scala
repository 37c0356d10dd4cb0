package graft

import org.apache.spark.sql.functions._

/** CQL physical layout: every partition directory is clustering-sorted,
  * a byte-small frame's keys still spread over several write tasks, and
  * reading a many-key table back lists its directories on the driver.
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

  test("reading a table of more than 32 key directories starts only the footer job") {
    import graft.sink.CqlLayouts
    import org.apache.spark.GraftListenerBridge.waitListenerBusEmpty
    val path = java.nio.file.Files.createTempDirectory("graft-cql-list").resolve("users").toString
    val keys = 40 // above Spark's default parallelPartitionDiscovery.threshold (32)
    CqlLayouts.writeTo((1 to keys).map(u => (f"user$u%02d", s"name-$u")).toDF("user_id", "name"),
      path, CqlLayouts.all("users"))
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
}
