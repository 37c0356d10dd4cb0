package graft

import graft.sources.JsonSource

/** The json-lines document source. */
class SourceSinkSpec extends SparkSpecBase {

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
}
