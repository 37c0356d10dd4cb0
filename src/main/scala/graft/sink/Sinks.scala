package graft.sink

import org.apache.spark.sql.DataFrame

/** Parquet table sink (SURVEY.md §2.1 S6). Each table is a directory under
  * `baseDir`, replaced whole by every write. A JDBC / Cassandra-connector
  * sink would take its batching, retry and concurrency from connector
  * config, not engine code (the reference's adaptive CQL batching,
  * `etl/loaders/cassandra_loader.py:81-268`, is Spark-side
  * `spark.cassandra.output.*` settings).
  */
final class ParquetSink(baseDir: String) {
  private def path(table: String) = s"$baseDir/$table"

  def overwrite(table: String, df: DataFrame): Unit =
    df.write.mode("overwrite").parquet(path(table))
}
