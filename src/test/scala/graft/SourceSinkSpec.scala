package graft

import org.apache.spark.sql.functions._

import graft.sink.{ParquetSink, PartitionedParquetSink}
import graft.sources.{JsonSource, ParquetSource, Scans}

/** S1/S3/S4 scan shapes and the S8 upsert sink. */
class SourceSinkSpec extends SparkSpecBase {
  import spark.implicits._

  test("scans: filtered, small id-set inlines, large id-set semi-joins") {
    val src = new ParquetSource(spark, "/root/testdata/sf0.001")
    assert(Scans.count(src, "orders", col("o_orderstatus") === "F") > 0)
    val small = Scans.byIds(src, "orders", "o_orderkey", Seq("1", "2", "3"))
    assert(small.count() <= 3)
    assert(small.queryExecution.executedPlan.toString.contains("PushedFilters: [In(o_orderkey"),
      "inline id-set must push down to the parquet scan")
    val manyIds = (1 to 5000).map(_.toString)
    val large = Scans.byIds(src, "orders", "o_orderkey", manyIds)
    assert(large.queryExecution.executedPlan.toString.contains("LeftSemi"))
    assert(large.count() > 0)
  }

  test("json source infers a collection's schema once per instance") {
    val dir = java.nio.file.Files.createTempDirectory("graft-json-src")
    java.nio.file.Files.writeString(dir.resolve("users.jsonl"),
      "{\"_id\":\"u1\",\"n\":1}\n{\"_id\":\"u2\",\"tags\":[\"a\"]}\n")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def jobsOf[T](body: => T): (T, Int) = {
      org.apache.spark.GraftListenerBridge.waitListenerBusEmpty(spark.sparkContext)
      jobs.set(0)
      val r = body
      org.apache.spark.GraftListenerBridge.waitListenerBusEmpty(spark.sparkContext)
      (r, jobs.get)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val src = new JsonSource(spark, dir.toString)
      val (first, inferJobs) = jobsOf(src.collection("users"))
      val (again, againJobs) = jobsOf(src.collection("users"))
      assert(inferJobs >= 1)
      assert(againJobs === 0, "a second read must reuse the inferred schema")
      assert(again.schema === first.schema)
      assert(again.collect().toSeq === first.collect().toSeq)
      // a new instance (a new run) infers again
      assert(jobsOf(new JsonSource(spark, dir.toString).collection("users"))._2 === inferJobs)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("parquet sink upsert: matched keys update, new keys append") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sink").toString
    val sink = new ParquetSink(dir)
    sink.overwrite("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    sink.upsert("t", Seq((2L, "B"), (3L, "c")).toDF("id", "v"), Seq("id"))
    val out = spark.read.parquet(s"$dir/t").orderBy("id").collect()
    assert(out.map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "a"), (2L, "B"), (3L, "c")))
  }

  test("quarantine split: failed and unverdicted rows isolate, valid rows load (S7)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-quar").toString
    val sink = new ParquetSink(dir)
    val rows = Seq((1L, Some(10)), (2L, Some(-5)), (3L, None)).toDF("id", "score")
    sink.writeWithQuarantine("t", rows, col("score") > 0)
    assert(spark.read.parquet(s"$dir/t").collect().map(_.getLong(0)).toSeq === Seq(1L))
    // the null verdict (missing score) quarantines rather than vanishing —
    // filter(p) and filter(!p) would BOTH drop it
    assert(spark.read.parquet(s"$dir/t__quarantine")
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(2L, 3L))
  }

  test("partitioned upsert rewrites only the touched partitions (S8 at scale)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-psink").toString
    val sink = new PartitionedParquetSink(dir, "p")
    sink.overwrite("t",
      Seq((1L, "x", "a"), (2L, "y", "b"), (3L, "z", "c")).toDF("id", "v", "p"))

    // full byte-level snapshot of the partitions the batch does NOT touch
    def snapshot(sub: String): Seq[(String, Long, Long, Int)] = {
      val d = java.nio.file.Paths.get(dir, "t", sub)
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(d).iterator().asScala.toSeq.sortBy(_.toString).map { f =>
        (f.getFileName.toString, java.nio.file.Files.size(f),
          java.nio.file.Files.getLastModifiedTime(f).toMillis,
          java.util.Arrays.hashCode(java.nio.file.Files.readAllBytes(f)))
      }
    }
    val before = snapshot("p=b") ++ snapshot("p=c")

    sink.upsert("t", Seq((1L, "X", "a"), (4L, "w", "a")).toDF("id", "v", "p"), Seq("id"))

    val out = spark.read.parquet(s"$dir/t")
      .select("id", "v", "p").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(out === Seq((1L, "X", "a"), (2L, "y", "b"), (3L, "z", "c"), (4L, "w", "a")))
    // untouched partitions were never read, rewritten, or moved
    assert(snapshot("p=b") ++ snapshot("p=c") === before)
  }

  test("upsert recovers a table stranded in __bak by a mid-swap crash") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bak").toString
    val sink = new ParquetSink(dir)
    sink.overwrite("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    // simulate the crash window: old table moved to __bak, new never landed
    java.nio.file.Files.move(java.nio.file.Paths.get(dir, "t"),
      java.nio.file.Paths.get(dir, "t__bak"))
    sink.upsert("t", Seq((2L, "B"), (3L, "c")).toDF("id", "v"), Seq("id"))
    // the pre-crash rows must survive the recovery, not be silently dropped
    val out = spark.read.parquet(s"$dir/t").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out === Seq((1L, "a"), (2L, "B"), (3L, "c")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "t__bak")))
  }

  test("partitioned upsert recovers partitions stranded in __bak") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pbak").toString
    val sink = new PartitionedParquetSink(dir, "p")
    sink.overwrite("t", Seq((1L, "x", "a"), (2L, "y", "b")).toDF("id", "v", "p"))
    // simulate a crash that moved partition p=a to the backup root mid-swap
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir, "t__bak"))
    java.nio.file.Files.move(java.nio.file.Paths.get(dir, "t", "p=a"),
      java.nio.file.Paths.get(dir, "t__bak", "p=a"))
    sink.upsert("t", Seq((2L, "Y", "b")).toDF("id", "v", "p"), Seq("id"))
    val out = spark.read.parquet(s"$dir/t").select("id", "v", "p")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(out === Seq((1L, "x", "a"), (2L, "Y", "b")))
  }

  test("partitioned upsert refuses a batch that moves a key across partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft-psink-mv").toString
    val sink = new PartitionedParquetSink(dir, "p")
    sink.overwrite("t", Seq((1L, "x", "a"), (2L, "y", "b")).toDF("id", "v", "p"))
    // id=2 lives in p=b; an upsert placing it in p=a would leave the stale
    // p=b row in place — duplicate keys across partitions. Refuse loudly.
    val moved = intercept[IllegalArgumentException] {
      sink.upsert("t", Seq((2L, "Y", "a")).toDF("id", "v", "p"), Seq("id"))
    }
    assert(moved.getMessage.contains("re-keys"))
    // with the partition column part of the key, the same batch is by
    // definition a NEW row (different full key) — allowed
    sink.upsert("t", Seq((2L, "Y", "a")).toDF("id", "v", "p"), Seq("id", "p"))
    val out = spark.read.parquet(s"$dir/t").select("id", "v", "p")
      .orderBy("id", "p").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(out === Seq((1L, "x", "a"), (2L, "Y", "a"), (2L, "y", "b")))
  }
}
