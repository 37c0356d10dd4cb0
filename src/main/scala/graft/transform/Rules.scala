package graft.transform

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.GraftFunctions
import graft.functions.Scalars
import graft.model.Destination
import graft.operators.Relational

/** The reference's per-entity business rules
  * (`etl/transformers/data_transformer.py`) as pure `DataFrame => DataFrame`
  * stages over the [[Projections]] output. Skip-row semantics (`transform`
  * returning `None`) become filters evaluated BEFORE mutation, in the order
  * the reference pins (SURVEY.md §7.4 risk 3); per-row dict lookups become
  * broadcast joins; id minting is deterministic (uuid5 / timeuuid) so no
  * shared mutable cache exists.
  */
object Rules {

  val LegacyKey = "legacy-key"
  val NewPassword = "some password" // data_transformer.py:505, encryption.py:319

  private def dropTmp(df: DataFrame): DataFrame =
    df.drop(df.columns.filter(_.startsWith("_tmp_")): _*)

  // ---- user (`data_transformer.py:210-323`) -------------------------------

  /** X2–X6 + J2/J3 for the relational destination. Dims: (mongo_id, id);
    * roles dim: (name, id) probed with the `_ROLE`-suffix-stripped name
    * (`etl/utils/id_mapper.py:98-136`).
    */
  def userRules(
      projected: DataFrame,
      destination: Destination,
      provinceDim: Option[DataFrame] = None,
      municipalityDim: Option[DataFrame] = None,
      parroquiaDim: Option[DataFrame] = None,
      roleDim: Option[DataFrame] = None): DataFrame = {
    var df = projected
      .withColumn("email", Scalars.normalizeEmail(col("email")))
      .withColumn("phone", destination match {
        case Destination.Cassandra => Scalars.normalizePhonePlus(col("phone"))
        case Destination.Postgres  => Scalars.normalizePhone(col("phone"))
      })

    destination match {
      case Destination.Postgres =>
        df = df.withColumn("dni", Scalars.formatDni(col("dni")))
          .withColumn("gender", Scalars.normalizeGender(col("gender")))
        // X6 — deleted-user anonymization (data_transformer.py:255-272)
        val deleted = !col("_tmp_is_active")
        df = df
          .withColumn("deleted_name", when(deleted, col("name")))
          .withColumn("deleted_phone", when(deleted, col("phone")))
          .withColumn("deleted_email", when(deleted, col("email")))
          .withColumn("deleted_at", when(deleted, current_timestamp()))
          .withColumn("name", when(deleted, lit("Deleted User")).otherwise(col("name")))
          .withColumn("email", when(deleted, lit("")).otherwise(col("email")))
          .withColumn("phone", when(deleted, lit("")).otherwise(col("phone")))
          .withColumn("dni", when(deleted, lit("")).otherwise(col("dni")))
        // J2 — geo FK resolution (broadcast left joins)
        for ((dim, key, as) <- Seq(
            (provinceDim, "_tmp_province", "province_id"),
            (municipalityDim, "_tmp_municipality", "municipality_id"),
            (parroquiaDim, "_tmp_parroquia", "parroquia_id")))
          dim.foreach(d => df = Relational.resolveFk(df, d, key, "mongo_id", "id", as))
        // J3 — role by cleaned name
        roleDim.foreach { roles =>
          val cleaned = regexp_replace(col("_tmp_role_name"), "_ROLE$", "")
          val d = roles.select(col("name").as("__role_name"), col("id").as("roleId"))
          df = df.join(broadcast(d), cleaned === col("__role_name"), "left").drop("__role_name")
        }
      case Destination.Cassandra => // ids assigned by the caller via sequentialIds (K3)
    }
    dropTmp(df)
  }

  // ---- message (`data_transformer.py:325-474`) ----------------------------

  /** F1 — extract-time filter (`mongo_extractor.py:56-72`): Mongo missing-
    * field semantics require the isNull alternative.
    */
  def messageExtractFilter(df: DataFrame): DataFrame = df.filter(
    (col("_tmp_msg_type").isNull ||
      !col("_tmp_msg_type").isin("GEO_LOCATION", "SURVEY", "CONTACT")) &&
      (col("_tmp_msg_life").isNull || col("_tmp_msg_life") =!= "TOUCH_SHOW_DELETE"))

  /** F3/F4 + X7–X9 + X17 + J11/K2: the full message rule stage. `userDim` is
    * (mongo_id, user_id) for sender resolution.
    */
  def messageRules(
      projected: DataFrame,
      destination: Destination,
      userDim: Option[DataFrame] = None): DataFrame = {
    // F3 — deleted-message drop, BEFORE any mutation (data_transformer.py:339-344)
    var df = destination match {
      case Destination.Cassandra =>
        projected.filter(col("_tmp_is_active") && !col("is_deleted"))
      case Destination.Postgres => projected
    }

    // F4 — non-PDF DOCUMENTO drop, evaluated on the DECRYPTED, rewritten url
    // (data_transformer.py:427-444)
    val decryptedUrl = coalesce(
      GraftFunctions.salsa20Decrypt(col("_tmp_file_url"), lit(LegacyKey)),
      col("_tmp_file_url"))
    val rewrittenUrl = Scalars.rewriteBucketUrl(decryptedUrl)
    df = df
      .withColumn("__file_url", when(col("_tmp_file_url").isNotNull, rewrittenUrl))
      .filter(!(col("_tmp_file_type") === "DOCUMENTO" &&
        col("__file_url").isNotNull && !col("__file_url").endsWith(".pdf")))

    // X9 — mime from fileType; DOCUMENTO survivors are PDFs by construction
    df = df
      .withColumn("mime_type",
        when(col("__file_url").isNotNull, coalesce(Scalars.mimeType(col("_tmp_file_type")), lit("")))
          .otherwise(lit("")))
      .withColumn("file_url", coalesce(col("__file_url"), lit("")))
      .drop("__file_url")

    // X17 — re-encryption migration (encryption.py:290-324)
    val dec = GraftFunctions.salsa20Decrypt(col("content"), lit(LegacyKey))
    df = df.withColumn("__dec", dec)
    df = destination match {
      case Destination.Cassandra =>
        df.withColumn("content_decrypted",
            when(col("__dec").isNotNull, col("__dec")).otherwise(col("content_decrypted")))
          .withColumn("content",
            when(col("__dec").isNotNull,
              GraftFunctions.aesEncrypt(col("__dec"), lit(NewPassword)))
              .otherwise(col("content")))
      case Destination.Postgres =>
        df.withColumn("encryption_data",
            when(col("__dec").isNotNull,
              GraftFunctions.aesEncrypt(col("__dec"), lit(NewPassword))))
          .withColumn("content",
            when(col("__dec").isNotNull,
              GraftFunctions.aesEncrypt(col("__dec"), lit(NewPassword)))
              .otherwise(col("content")))
    }
    df = df.drop("__dec")

    // X7 — truncation for the wide-column destination (data_transformer.py:466-468)
    if (destination == Destination.Cassandra)
      df = df.withColumn("content", Scalars.truncateContent(col("content")))

    // J11 — room_id by deterministic uuid5 (a join eliminated by a function)
    df = df.withColumn("room_id", GraftFunctions.uuid5(col("_tmp_room")))
    // K2 — message_id: time-ordered, seeded by mongo_id for stable regeneration
    df = df.withColumn("message_id",
      GraftFunctions.timeuuid(unix_micros(col("created_at").cast("timestamp")), col("mongo_id")))
    // reply/forward ids re-derived from the REFERENCING row's timestamp
    // (data_transformer.py:634-645)
    df = df
      .withColumn("reply_to_message_id",
        when(col("_tmp_reply_to").isNotNull,
          GraftFunctions.timeuuid(unix_micros(col("created_at").cast("timestamp")),
            col("_tmp_reply_to"))))
      .withColumn("forwarded_from_message_id",
        when(col("_tmp_forwarded_from").isNotNull,
          GraftFunctions.timeuuid(unix_micros(col("created_at").cast("timestamp")),
            col("_tmp_forwarded_from"))))
    // sender_id via broadcast user dim (J5-style)
    userDim.foreach(d =>
      df = Relational.resolveFk(df, d, "_tmp_sender", "mongo_id", "user_id", "sender_id"))
    dropTmp(df)
  }

  // ---- room (`data_transformer.py:476-571`) -------------------------------

  /** Room rules: K1 room_id, deterministic re-keyed encryption_data, F7
    * organizations flag kept for the orchestrator branch.
    */
  def roomRules(projected: DataFrame): DataFrame = {
    val df = projected
      .withColumn("room_id", GraftFunctions.uuid5(col("mongo_id")))
      // new per-room encryption_data wrapped with the fixed password; keyed
      // by room id so regeneration is deterministic (the reference draws
      // random key/iv — encryption.py:228-271 — which is unreproducible)
      .withColumn("encryption_data",
        GraftFunctions.aesEncrypt(
          concat(lit("""{"key":""""), sha2(col("mongo_id"), 256), lit(""","iv":""""),
            substring(sha2(concat(col("mongo_id"), lit("_iv")), 256), 1, 32), lit(""""}""")),
          lit(NewPassword)))
      .withColumn("is_organization", col("_tmp_is_admin"))
    dropTmp(df)
  }

  /** F7 — organizations side output (`orchestrator.py:353-362`). */
  def organizations(rooms: DataFrame): DataFrame =
    rooms.filter(col("is_organization"))
      .select(col("mongo_id"), col("room_id"), col("name"))

  // ---- docs (`data_transformer.py:795-853`) -------------------------------

  /** F5 + uploadedBy/specialRole resolution; specialRole implies isPrivate
    * (`validate_migration.py:717-730`).
    */
  def docsRules(
      projected: DataFrame,
      userDim: Option[DataFrame] = None,
      roleDim: Option[DataFrame] = None): DataFrame = {
    var df = projected.filter(col("_tmp_is_active")) // F5
      .withColumn("isPrivate",
        when(col("_tmp_special_role").isNotNull, lit(true)).otherwise(col("isPrivate")))
    userDim.foreach(d =>
      df = Relational.resolveFk(df, d, "_tmp_uploaded_by", "mongo_id", "id", "uploaded_by_id"))
    roleDim.foreach(d =>
      df = Relational.resolveFk(df, d, "_tmp_special_role", "mongo_id", "id", "special_role_id"))
    df // temps kept: the hierarchical pipeline still needs _tmp_on_folder
  }

  // ---- live / channel (`data_transformer.py:730-793`) ---------------------

  def liveRules(
      projected: DataFrame,
      channelDim: Option[DataFrame] = None,
      userDim: Option[DataFrame] = None): DataFrame = {
    var df = projected
    channelDim.foreach(d =>
      df = Relational.resolveFk(df, d, "_tmp_channel", "mongo_id", "id", "channel_id"))
    userDim.foreach(d =>
      df = Relational.resolveFk(df, d, "_tmp_created_by", "mongo_id", "id", "created_by"))
    dropTmp(df)
  }

  def channelRules(projected: DataFrame, userDim: Option[DataFrame] = None): DataFrame = {
    var df = projected
    userDim.foreach(d =>
      df = Relational.resolveFk(df, d, "_tmp_created_by", "mongo_id", "id", "created_by"))
    dropTmp(df)
  }

  // ---- geo (`data_transformer.py:680-728`) --------------------------------

  def geoRules(
      projected: DataFrame,
      provinceDim: Option[DataFrame] = None,
      municipalityDim: Option[DataFrame] = None): DataFrame = {
    var df = projected
    provinceDim.foreach(d =>
      df = Relational.resolveFk(df, d, "_tmp_province", "mongo_id", "id", "province_id"))
    municipalityDim.foreach(d =>
      df = Relational.resolveFk(df, d, "_tmp_municipality", "mongo_id", "id", "municipality_id"))
    dropTmp(df)
  }

  // ---- room_member ---------------------------------------------------------

  def roomMemberRules(projected: DataFrame, userDim: Option[DataFrame] = None): DataFrame = {
    var df = projected.withColumn("room_id", GraftFunctions.uuid5(col("_tmp_room")))
    userDim.foreach(d =>
      df = Relational.resolveFk(df, d, "_tmp_user", "mongo_id", "user_id", "user_id"))
    dropTmp(df)
  }

  // ---- many-to-many (J6, `orchestrator.py:1002-1104`) ---------------------

  /** users.profession[] / users.entities[] → (user_id, item_id) link rows
    * with the composite traceability key.
    */
  def manyToMany(
      users: DataFrame,
      arrayCol: String,
      userDim: DataFrame,
      itemDim: DataFrame): DataFrame = {
    val exploded = Relational.explodeManyToMany(
      users.select(col("_id").cast("string").as("user_mongo"),
        col(arrayCol).cast("array<string>").as("__items")),
      "user_mongo", "__items", "item_mongo")
    val withUser = Relational.resolveFk(exploded, userDim, "user_mongo", "mongo_id", "id", "user_id")
    Relational.resolveFk(withUser, itemDim, "item_mongo", "mongo_id", "id", "item_id")
      .filter(col("user_id").isNotNull && col("item_id").isNotNull)
      .select(col("user_id"), col("item_id"), col("link_key").as("mongo_id"))
  }
}
