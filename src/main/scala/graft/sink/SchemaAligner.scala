package graft.sink

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Schema-evolution parity (`etl/utils/schema_manager.py:26-183`): the
  * reference issues `ALTER TABLE … ADD COLUMN IF NOT EXISTS` so late-added
  * columns always exist at load time. Here the declared output StructType is
  * the contract and the writer aligns every DataFrame to it — missing
  * nullable columns are added as typed nulls, extra columns dropped, order
  * normalized, types cast.
  */
object SchemaAligner {

  def align(df: DataFrame, target: StructType): DataFrame = {
    val present = df.schema.fieldNames.toSet
    val cols = target.fields.map { f =>
      if (present.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }
    df.select(cols.toSeq: _*)
  }
}
