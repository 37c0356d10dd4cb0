package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.model.Destination
import graft.run.{MetricsCollector, Pipeline}

/** S13/A8: observation metrics ride along the frame's action. */
class MetricsSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("during returns the counts observed on the body's action") {
    val out = tmpDir("graft-metrics")
    val (_, observed) = MetricsCollector.during(spark, "spec") {
      (1 to 57).toDF("v").filter(col("v") % 2 === 1)
        .observe("odd_rows", count(lit(1)).as("rows"))
        .write.mode("overwrite").parquet(s"$out/t")
    }
    assert(observed.get("odd_rows").map(_("rows")) === Some(29L))
  }

  test("during does not return an observation delivered before the scope") {
    val out = tmpDir("graft-metrics-before")
    def write(name: String, n: Int): Unit =
      (1 to n).toDF("v").observe(name, count(lit(1)).as("rows"))
        .write.mode("overwrite").parquet(s"$out/$name")
    val (_, first) = MetricsCollector.during(spark, "spec")(write("before_scope", 5))
    assert(first.get("before_scope").map(_("rows")) === Some(5L))
    val (_, second) = MetricsCollector.during(spark, "spec")(write("in_scope", 7))
    assert(second.keySet === Set("in_scope"))
    assert(second("in_scope")("rows") === 7L)
  }

  test("a body that throws still unregisters the listener, and the exception reaches " +
      "the caller") {
    // listListeners is private[sql] in Scala but public on the JVM
    def listeners: Int = spark.listenerManager.getClass.getMethod("listListeners")
      .invoke(spark.listenerManager).asInstanceOf[Array[_]].length
    val before = listeners
    val boom = new IllegalStateException("boom")
    val caught = intercept[IllegalStateException] {
      MetricsCollector.during(spark, "spec") {
        assert(listeners === before + 1)
        throw boom
      }
    }
    assert(caught eq boom)
    assert(listeners === before)
  }

  test("pipeline row counts are the materialising count's own return values") {
    val tmp = tmpDir("graft-pipe-obs")
    val pipe = new Pipeline(spark, _ => (1 to 13).toDF("n"), Pipeline.parquetSink(tmp))
    pipe.run(Map("province" -> ((src, _) => Map(Destination.Postgres -> src))))
    assert(pipe.report === Map("province/postgres" -> 13L))
  }

  test("no operator reads listener observations or drains the listener bus") {
    // operator routes and limits read their own jobs' return values; a
    // listener read inside an operator would make a route depend on
    // listener-bus timing again
    val dir = java.nio.file.Paths.get("src/main/scala/graft/operators")
    assert(java.nio.file.Files.isDirectory(dir), s"${dir.toAbsolutePath} not found")
    val files = {
      val walk = java.nio.file.Files.walk(dir)
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    assert(files.nonEmpty)
    val offending = for {
      f <- files
      (line, n) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("MetricsCollector") || line.contains("waitListenerBusEmpty")
    } yield s"$f:${n + 1}: ${line.trim}"
    assert(offending.isEmpty, offending.mkString("\n"))
  }
}
