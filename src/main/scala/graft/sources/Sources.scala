package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Source abstraction (SURVEY.md §2.1 S1–S5): the engine reads document
  * collections through this trait; the hermetic build ships parquet/json
  * implementations, and a MongoDB-connector implementation plugs in behind
  * the same seam (`spark.read.format("mongodb")` — predicate pushdown and
  * projection reach the server through Catalyst DSv2 exactly as the
  * reference compiles filters into its Mongo queries,
  * `etl/extractors/mongo_extractor.py:56-72`).
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

/** Scan shapes over any [[DocumentSource]]. */
object Scans {

  /** S1 — filtered collection scan: the predicate is part of the plan, so
    * Catalyst pushes it to the source (parquet row groups / Mongo query).
    */
  def filtered(src: DocumentSource, name: String, predicate: Column): DataFrame =
    src.collection(name).filter(predicate)

  /** S3 — scan by id-set (`mongo_extractor.py:239-279`). Small sets inline
    * into the scan filter (`isin` pushes down); beyond `inlineLimit` the ids
    * become a broadcast semi-join — an `IN` list with 10^6 entries belongs
    * in a join, not a filter.
    */
  def byIds(
      src: DocumentSource,
      name: String,
      idCol: String,
      ids: Seq[String],
      inlineLimit: Int = 1000): DataFrame = {
    val df = src.collection(name)
    if (ids.lengthCompare(inlineLimit) <= 0) df.filter(col(idCol).isin(ids: _*))
    else {
      val spark = df.sparkSession
      import spark.implicits._
      df.join(broadcast(ids.toDF(idCol)), Seq(idCol), "left_semi")
    }
  }

  /** S4 — count with filters. */
  def count(src: DocumentSource, name: String, predicate: Column): Long =
    src.collection(name).filter(predicate).count()
}
