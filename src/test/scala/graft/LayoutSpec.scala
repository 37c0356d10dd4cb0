package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.validate.Checks

/** CQL physical layout: every partition directory is clustering-sorted,
  * a byte-small frame's keys still spread over several write tasks,
  * reading a many-key table back lists its directories on the driver, and
  * a table without clustering columns is written as key-sorted files.
  * The one-pass order check is held to its window formulation.
  */
class LayoutSpec extends SparkSpecBase {
  import spark.implicits._

  /** The window formulation `Checks.clusteringOrder` had before its
    * one-pass form (a lag over each file's rows by `row_index`), kept as the
    * oracle the pass must agree with.
    */
  private def windowDetail(df: DataFrame, clustering: Seq[(String, Boolean)]): String = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("__file")).orderBy(col("__pos"))
    val keys = clustering.map(_._1)
    val withPrev = df
      .select(col("_metadata.file_path").as("__file"),
        col("_metadata.row_index").as("__pos"),
        struct(keys.map(col): _*).as("__k"))
      .withColumn("__prev", lag(col("__k"), 1).over(w))
      .filter(col("__prev").isNotNull)
    val violated = clustering.indices.map { i =>
      val earlier = clustering.take(i).map { case (c, _) =>
        col(s"__prev.$c") <=> col(s"__k.$c") }
        .reduceOption(_ && _).getOrElse(lit(true))
      val (c, ascending) = clustering(i)
      val outOfOrder =
        if (ascending) col(s"__prev.$c") > col(s"__k.$c")
        else col(s"__prev.$c") < col(s"__k.$c")
      earlier && outOfOrder
    }.reduce(_ || _)
    s"${withPrev.filter(violated).count()} clustering-order violations"
  }

  /** `body` with the SQL conf `key` set to `value`, restored after. */
  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Asserts the pass and the window oracle agree on `df`; returns the count. */
  private def agreed(df: DataFrame, clustering: Seq[(String, Boolean)]): Long = {
    val pass = Checks.clusteringOrder("pass", df, clustering)
    assert(pass.detail === windowDetail(df, clustering))
    assert(pass.passed === pass.detail.startsWith("0 "))
    pass.detail.takeWhile(_ != ' ').toLong
  }

  test("order pass ≡ window formulation: a file's row groups split over scan partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft-order-split").toString
    val n = 20000
    def write(keys: IndexedSeq[Long], path: String): Unit =
      keys.zipWithIndex.map { case (k, i) => (k, f"pad-$i%015d") }.toDF("k", "pad")
        .coalesce(1).write.option("parquet.block.size", 64 * 1024)
        .option("compression", "none").parquet(path)
    val ascending = (0 until n).map(_ * 7L)
    write(ascending, s"$dir/sorted")
    withConf("spark.sql.files.maxPartitionBytes", "128k") {
      def splitStarts(path: String): Seq[Long] = spark.read.parquet(path)
        .groupBy(col("_metadata.file_block_start")).agg(min(col("_metadata.row_index")))
        .collect().map(_.getLong(1)).sorted.toSeq
      val starts = splitStarts(s"$dir/sorted")
      assert(starts.size >= 3, s"row groups in ${starts.size} splits")
      val parts = spark.read.parquet(s"$dir/sorted").select(spark_partition_id()).distinct().count()
      assert(parts === starts.size, "every split is its own scan partition")
      assert(agreed(spark.read.parquet(s"$dir/sorted"), Seq("k" -> true)) === 0)
      // the same bytes with the keys on either side of the second split
      // swapped: the one violation is between two scan partitions
      val p = starts(1).toInt
      write(ascending.updated(p - 1, ascending(p)).updated(p, ascending(p - 1)), s"$dir/seam")
      assert(splitStarts(s"$dir/seam") === starts)
      assert(agreed(spark.read.parquet(s"$dir/seam"), Seq("k" -> true)) === 1)
      assert(agreed(spark.read.parquet(s"$dir/seam"), Seq("k" -> false)) === n - 2)
    }
  }

  test("order pass ≡ window formulation: several files packed in one scan partition") {
    val path = java.nio.file.Files.createTempDirectory("graft-order-packed").resolve("t").toString
    // each file ascends except file 3 (two violations) and file 7 (one);
    // every file starts below the previous file's last key
    for (f <- 0 until 12) {
      val keys = (0 until 50).map(i => (f % 3) * 10L + i)
      val planted = f match {
        case 3 => keys.updated(10, 1000L).updated(30, -1L)
        case 7 => keys.updated(49, 0L)
        case _ => keys
      }
      planted.map(k => (k, f)).toDF("k", "file").coalesce(1).write.mode("append").parquet(path)
    }
    val back = spark.read.parquet(path)
    val shared = back.select(spark_partition_id().as("p"), col("_metadata.file_path").as("f"))
      .distinct().groupBy("p").count().filter(col("count") > 1).count()
    assert(shared > 0, "no scan partition holds more than one file")
    assert(agreed(back, Seq("k" -> true)) === 3)
  }

  test("order pass ≡ window formulation: null keys, descending keys, filtered input") {
    val path = java.nio.file.Files.createTempDirectory("graft-order-nulls").resolve("t").toString
    val r = new scala.util.Random(17)
    def maybe(n: Int): Option[Int] = if (r.nextInt(5) == 0) None else Some(r.nextInt(n))
    val body = (0 until 400).map(i => (maybe(4), maybe(6), i))
    val rows: Seq[(Option[Int], Option[Int], Int)] =
      Seq((None, None, -2), (None, Some(3), -1)) ++ body ++
        Seq((Some(2), None, 400), (None, None, 401))
    rows.toDF("a", "b", "c").coalesce(1).write.parquet(path)
    val back = spark.read.parquet(path)
    for (clustering <- Seq(Seq("a" -> true, "b" -> false), Seq("b" -> false),
        Seq("a" -> false, "b" -> true))) {
      assert(agreed(back, clustering) > 0, clustering)
      assert(agreed(back.filter(col("c") % 3 =!= 0), clustering) > 0, clustering)
    }
    // a sorted file passes, nulls first and last included
    val sorted = java.nio.file.Files.createTempDirectory("graft-order-sorted").resolve("t").toString
    rows.toDF("a", "b", "c").orderBy(col("a").asc_nulls_first, col("b").desc_nulls_last)
      .coalesce(1).write.parquet(sorted)
    assert(agreed(spark.read.parquet(sorted), Seq("a" -> true, "b" -> false)) === 0)
    assert(agreed(spark.read.parquet(sorted).select("a", "b").filter(col("b").isNotNull),
      Seq("a" -> true, "b" -> false)) === 0)
  }

  test("the order pass is one single-stage job inside an SQL execution, as is a counted checkpoint") {
    import graft.operators.Ckpt._
    import org.apache.spark.GraftListenerBridge.waitListenerBusEmpty
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val path = java.nio.file.Files.createTempDirectory("graft-order-jobs").resolve("t").toString
    (1 to 400).map(i => (i % 8, i.toLong)).toDF("g", "k").repartition(8, col("g"))
      .sortWithinPartitions("k").write.parquet(path)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add((e.stageInfos.size, e.properties.getProperty("spark.sql.execution.id")))
    }
    def jobsOf(body: => Unit): Seq[(Int, String)] = {
      waitListenerBusEmpty(spark.sparkContext)
      jobs.clear()
      body
      waitListenerBusEmpty(spark.sparkContext)
      jobs.toArray(Array.empty[(Int, String)]).toSeq
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val back = spark.read.parquet(path) // its footer job runs here
      val order = jobsOf(assert(Checks.clusteringOrder("jobs", back, Seq("k" -> true)).passed))
      assert(order.size === 1 && order.head._1 === 1, s"jobs (stages, execution): $order")
      assert(order.head._2 != null, "the order pass ran outside an SQL execution")
      val counted = jobsOf(assert(spark.range(100).toDF("id").countedSerCkpt()._2 === 100))
      assert(counted.nonEmpty && counted.forall(_._2 != null), s"jobs (stages, execution): $counted")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("the layout checks require a direct file scan and name what they got") {
    val path = java.nio.file.Files.createTempDirectory("graft-order-scan").resolve("t").toString
    Seq(("r1", 1L), ("r2", 2L)).toDF("room_id", "k").write.parquet(path)
    val local = intercept[IllegalArgumentException](Checks.clusteringOrder("local",
      Seq(("r1", 1L)).toDF("room_id", "k"), Seq("k" -> true)))
    assert(local.getMessage.contains("direct file scan") &&
      local.getMessage.contains("LocalRelation"), local.getMessage)
    val agg = intercept[IllegalArgumentException](Checks.keySortedFiles("agg",
      spark.read.parquet(path).groupBy("room_id").agg(max("k").as("k")), Seq("room_id")))
    assert(agg.getMessage.contains("Aggregate"), agg.getMessage)
  }

  test("CQL layout write yields within-partition clustering order; the check has teeth") {
    import graft.sink.CqlLayouts
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
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(readJobs() === 1, "the session's read must list its key directories on the driver")
      // teeth: at Spark's default threshold the same read adds a listing job
      val threshold = "spark.sql.sources.parallelPartitionDiscovery.threshold"
      assert(withConf(threshold, "32")(readJobs()) === 2)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a table without clustering is written as key-sorted files, not key directories") {
    import graft.sink.CqlLayouts
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
