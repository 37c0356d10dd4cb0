package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The reference's scalar-function library (SURVEY.md §2.9, X1–X14),
  * re-expressed as pure `Column` combinators over Spark built-ins so every
  * one of them stays inside whole-stage codegen — no UDFs.
  */
object Scalars {

  /** X1 — bucket-URL rewrite (reference `etl/transformers/field_mapper.py:370-390`):
    * the four fixed `gs://sibci-*` prefixes collapse to `siscom_old/`.
    */
  def rewriteBucketUrl(c: Column): Column =
    regexp_replace(c, "^gs://sibci-(devel|2f7fc)\\.appspot\\.com/?", "siscom_old/")

  /** X2 — email normalization (`data_transformer.py:222-224`). */
  def normalizeEmail(c: Column): Column = lower(trim(c))

  /** X3 — phone normalization (`data_transformer.py:226-236`): digits only;
    * the wide-column destination additionally prefixes `+`.
    */
  def normalizePhone(c: Column): Column = regexp_replace(c, "[^0-9]", "")
  def normalizePhonePlus(c: Column): Column =
    when(length(normalizePhone(c)) > 0, concat(lit("+"), normalizePhone(c))).otherwise(lit(""))

  /** X4 — DNI formatting (`etl/utils/validators.py:191-215`): strip
    * non-alphanumerics, uppercase; if >=7 chars, keep a leading nationality
    * letter (V/E/J/G/P) as `L-rest`, else prefix `V-`.
    */
  def formatDni(c: Column): Column = {
    val clean = upper(regexp_replace(c, "[^A-Za-z0-9]", ""))
    val first = substring(clean, 1, 1)
    when(c.isNull, lit(null))
      .when(length(clean) < 7, clean)
      .when(first.isin("V", "E", "J", "G", "P"),
        concat(first, lit("-"), substring(clean, 2, 1000)))
      .otherwise(concat(lit("V-"), clean))
  }

  /** X5 — gender normalization (`data_transformer.py:245-253`). */
  def normalizeGender(c: Column): Column =
    when(c.isin("Masculino", "M"), "M")
      .when(c.isin("Femenino", "F"), "F")
      .otherwise(lit(""))

  /** X7 — content/preview truncation (`data_transformer.py:466-468`). */
  def truncateContent(c: Column, max: Int = 10000): Column = substring(c, 1, max)

  /** X9 — mimeType from fileType (`data_transformer.py:423-448`). */
  def mimeType(fileType: Column): Column =
    when(fileType === "IMAGEN", "image/png")
      .when(fileType === "VIDEO", "video/mp4")
      .when(fileType === "AUDIO", "audio/mp3")
      .when(fileType === "DOCUMENTO", "application/pdf")
      .otherwise(lit(null))

  /** X10 — timestamp default backstop (`field_mapper.py:71-72`). */
  def tsOrNow(c: Column): Column = coalesce(c, current_timestamp())

  /** X14 — path depth: `'/' -> 0`, else number of components
    * (`etl/orchestrator.py:778-786`).
    */
  def pathDepth(c: Column): Column =
    when(c.isNull || c === "/", 0)
      .otherwise(size(split(regexp_replace(c, "^/|/$", ""), "/")))

  /** X14 — path concat with single separators (`orchestrator.py:839-845`). */
  def pathConcat(parent: Column, name: Column): Column =
    when(parent === "/", concat(lit("/"), name))
      .otherwise(concat(parent, lit("/"), name))
}
