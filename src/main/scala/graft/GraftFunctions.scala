package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.udf

import graft.functions.{AesCbc, ReEncrypt, Uuid3Expr, Uuid5Expr}

/** Public function surface of the engine.
  *
  * `uuid5`/`uuid3`/`timeuuid` are native Catalyst expressions (codegen'd,
  * foldable); the crypto functions are deterministic Scala UDFs —
  * byte-level work with no codegen upside (SURVEY.md §2.11).
  */
object GraftFunctions {

  /** uuid5(OID namespace, name) — deterministic id minting (K1). */
  def uuid5(c: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(Uuid5Expr(GraftColumnBridge.expression(c.cast("string"))))
  }

  /** uuid3(OID namespace, name) — MD5 variant of [[uuid5]] (oracle-checkable
    * by engines that lack SHA-1).
    */
  def uuid3(c: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(Uuid3Expr(GraftColumnBridge.expression(c.cast("string"))))
  }

  private val salsaDecryptUdf =
    udf((payload: String, key: String) => ReEncrypt.tryDecryptSalsa20(payload, key).orNull)
  private val salsaEncryptUdf =
    udf((plain: String, key: String) => ReEncrypt.encryptSalsa20(plain, key))
  private val aesEncryptUdf = udf((plain: String, pwd: String) => AesCbc.encrypt(plain, pwd))
  private val aesDecryptUdf = udf((ct: String, pwd: String) => AesCbc.decrypt(ct, pwd))

  /** timeuuid(epoch_micros, seed) — deterministic v1 UUID (K2). Native
    * expression since round 5: the boxed-UDF form cost ~4× on cold runs
    * (encoder round-trip + `f"..."`'s locale-aware String.format; A/B in
    * NOTES.md round 5), with bit-identical output (TimeUuidSpec).
    */
  def timeuuid(epochMicros: Column, seed: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.functions.TimeUuidExpr(
      GraftColumnBridge.expression(epochMicros.cast("long")),
      GraftColumnBridge.expression(seed.cast("string"))))
  }

  def salsa20Decrypt(payload: Column, key: Column): Column = salsaDecryptUdf(payload, key)
  def salsa20Encrypt(plain: Column, key: Column): Column = salsaEncryptUdf(plain, key)
  def aesEncrypt(plain: Column, pwd: Column): Column = aesEncryptUdf(plain, pwd)
  def aesDecrypt(ct: Column, pwd: Column): Column = aesDecryptUdf(ct, pwd)

  /** Register SQL names so `spark.sql("SELECT uuid5(x) ...")` works too. */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "uuid5", exprs => Uuid5Expr(exprs.head), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "uuid3", exprs => Uuid3Expr(exprs.head), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_timeuuid", exprs => graft.functions.TimeUuidExpr(exprs(0), exprs(1)), "built-in")
    spark.udf.register("graft_salsa20_decrypt",
      (p: String, k: String) => ReEncrypt.tryDecryptSalsa20(p, k).orNull)
    spark.udf.register("graft_salsa20_encrypt",
      (p: String, k: String) => ReEncrypt.encryptSalsa20(p, k))
    spark.udf.register("graft_aes_encrypt", (p: String, k: String) => AesCbc.encrypt(p, k))
    spark.udf.register("graft_aes_decrypt", (p: String, k: String) => AesCbc.decrypt(p, k))
  }
}
