package graft

import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.internal.SQLConf

/** Pins [[Engine.confs]] — the one conf table every session is built
  * from — to the literal confs each session carried when it was still
  * written out by hand, so a conf added to or dropped from one flavor
  * shows up here instead of in a plan or a bench number.
  */
class SessionConfSpec extends SparkSpecBase {

  private val retained = Map(
    "spark.ui.retainedJobs" -> "100",
    "spark.ui.retainedStages" -> "200",
    "spark.ui.retainedTasks" -> "10000",
    "spark.sql.ui.retainedExecutions" -> "10")

  private def table(kind: Engine.Kind, partitions: Int): Map[String, String] = {
    val t = Engine.confs(kind, partitions)
    assert(t.map(_._1).distinct.size === t.size, s"duplicate key in the $kind table")
    t.toMap
  }

  test("Engine.session's table: AQE sizing, 16m splits, UTC, chmod-free file://") {
    assert(table(Engine.Kind.Full, 4) === retained ++ Map(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "32",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.files.maxPartitionBytes" -> "16m",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.hadoop.fs.file.impl" -> "graft.sink.NioLocalFileSystem",
      "spark.sql.files.openCostInBytes" -> "128k",
      "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "2147483647",
      "spark.ui.enabled" -> "false"))
  }

  test("Bench's table: Engine's minus file://, two entries left at Spark's defaults") {
    val parent = retained ++ Map(
      "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "256",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.files.maxPartitionBytes" -> "16m",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "true",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64m",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false")
    val dropped = Seq(
      SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST.key,
      SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES.key)
    assert(table(Engine.Kind.Bench, 32) === parent -- dropped)
    // the dropped entries are Spark's defaults, so the effective confs match
    val defaults = new SQLConf
    assert(defaults.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST) ===
      parent(dropped(0)).toBoolean)
    assert(defaults.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES) ===
      JavaUtils.byteStringAsBytes(parent(dropped(1))))
  }

  test("Verify's table sets no AQE entry; the generator table is the bare three") {
    val verify = table(Engine.Kind.Verify, 32)
    assert(verify === retained ++ Map(
      "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false",
      "spark.sql.files.maxPartitionBytes" -> "16m"))
    assert(!verify.keys.exists(_.startsWith("spark.sql.adaptive.")))
    assert(table(Engine.Kind.Gen, 32) === Map(
      "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false"))
  }

  test("the shared test session carries every Engine entry") {
    Engine.confs(Engine.Kind.Full, 4).foreach { case (k, v) =>
      assert(spark.conf.get(k) === v, k)
    }
  }
}
