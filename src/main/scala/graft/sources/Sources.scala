package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source abstraction (SURVEY.md §2.1 S1–S5): the engine reads document
  * collections through this trait; the hermetic build ships parquet/json
  * implementations, and a MongoDB-connector implementation plugs in behind
  * the same seam (`spark.read.format("mongodb")` — predicate pushdown and
  * projection reach the server through Catalyst DSv2 exactly as the
  * reference compiles filters into its Mongo queries,
  * `etl/extractors/mongo_extractor.py:56-72`). Filtered, id-set and
  * count scans (S1/S3/S4) are plain `filter`/`count` on a collection.
  */
trait DocumentSource {
  def collection(name: String): DataFrame
}

/** One parquet file per collection under `dir` (the driver-testdata layout). */
final class ParquetSource(spark: SparkSession, dir: String,
    schemas: Map[String, StructType] = Map.empty) extends DocumentSource {
  def collection(name: String): DataFrame = {
    val reader = schemas.get(name).fold(spark.read)(s => spark.read.schema(s))
    reader.parquet(s"$dir/$name.parquet")
  }
}

/** JSON-lines collections — the closest file shape to Mongo documents;
  * explicit schemas (all-nullable) give the reference's total-accessor
  * semantics (SURVEY.md §1.3).
  *
  * A collection without an explicit schema is inferred on its first read
  * (one Spark job over the file); later reads through this instance reuse
  * that schema (the `users` collection feeds three entities). Nothing is
  * kept across instances, so a new run re-infers.
  */
final class JsonSource(spark: SparkSession, dir: String,
    schemas: Map[String, StructType] = Map.empty) extends DocumentSource {
  private val inferred = scala.collection.concurrent.TrieMap.empty[String, StructType]

  def collection(name: String): DataFrame = {
    val schema = schemas.get(name).orElse(inferred.get(name))
    val df = schema.fold(spark.read)(spark.read.schema(_)).json(s"$dir/$name.jsonl")
    inferred.putIfAbsent(name, df.schema)
    df
  }
}
