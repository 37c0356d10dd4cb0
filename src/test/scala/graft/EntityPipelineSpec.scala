package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{ReEncrypt, AesCbc}
import graft.model.Destination
import graft.post.Denormalize
import graft.run.Pipeline
import graft.transform.{Projections, Rules}
import graft.validate.Checks

/** End-to-end parity of the entity pipeline on mongo-shaped fixtures
  * (FIXTURES.md §A): projection maps, business rules, FK resolution,
  * deterministic ids, the organizations branch, post-migration
  * denormalization, and the validation-suite checks.
  */
class EntityPipelineSpec extends SparkSpecBase {
  import spark.implicits._

  /** Mongo-shaped docs from JSON (dynamic schema, nested structs), with
    * timestamp-ish fields normalized at ingest (SURVEY.md §1.3).
    */
  private def mongoDocs(json: String*): DataFrame = {
    var df = spark.read.json(json.toDS)
    for (c <- Seq("createdAt", "updatedAt", "joinedAt", "deletedAt"))
      if (df.schema.fieldNames.contains(c))
        df = df.withColumn(c, to_timestamp(col(c)))
    df
  }

  private val provinceDim = Seq(("p1", 11L), ("p2", 12L)).toDF("mongo_id", "id")
  private val roleDim = Seq(("USER", 1L), ("ADMIN", 2L)).toDF("name", "id")

  test("user postgres: projection + rules (X2-X6, J2, J3)") {
    val users = mongoDocs(
      """{"_id":"u1","displayName":"Ana","phoneNumber":"(58) 412-555.77","email":" Ana@Mail.COM ",
         "cedula":"v12345678","gender":"Masculino","isActive":true,"province":"p1","userType":"USER_ROLE",
         "socialMedia":{"x":"@ana","instagram":"ana.ig"},
         "photoURL":"gs://sibci-devel.appspot.com/av/u1.png","createdAt":"2024-01-01T00:00:00Z"}""",
      """{"_id":"u2","name":"Borrado","phone":"555123","email":"b@x.com","isActive":false,
         "province":"p2","userType":"ADMIN","createdAt":"2024-01-02T00:00:00Z"}""")
    val out = Rules.userRules(Projections.userPostgres(users), Destination.Postgres,
        provinceDim = Some(provinceDim), roleDim = Some(roleDim))
      .orderBy("mongo_id").collect()

    val ana = out(0)
    assert(ana.getAs[String]("name") === "Ana")
    assert(ana.getAs[String]("email") === "ana@mail.com")
    assert(ana.getAs[String]("phone") === "5841255577")
    assert(ana.getAs[String]("dni") === "V-12345678")
    assert(ana.getAs[String]("gender") === "M")
    assert(ana.getAs[String]("avatar") === "siscom_old/av/u1.png")
    assert(ana.getAs[String]("socialmedia_x") === "@ana")
    assert(ana.getAs[String]("profileStatus") === "COMPLETED")
    assert(ana.getAs[Long]("province_id") === 11L)
    assert(ana.getAs[Long]("roleId") === 1L) // USER_ROLE -> USER
    assert(ana.isNullAt(ana.fieldIndex("deleted_name")))
    assert(ana.isNullAt(ana.fieldIndex("deleted_at")))

    val deleted = out(1)
    assert(deleted.getAs[String]("name") === "Deleted User")
    assert(deleted.getAs[String]("deleted_name") === "Borrado")
    assert(deleted.getAs[String]("email") === "")
    assert(deleted.getAs[String]("phone") === "")
    assert(deleted.getAs[String]("deleted_phone") === "555123")
    assert(deleted.getAs[String]("deleted_email") === "b@x.com")
    assert(deleted.getAs[java.sql.Timestamp]("deleted_at") !== null)
    assert(deleted.getAs[Long]("province_id") === 12L)
    assert(deleted.getAs[Long]("roleId") === 2L)
  }

  test("user cassandra: '' defaults and + phone prefix (dual-dialect divergence)") {
    val users = mongoDocs(
      """{"_id":"u1","displayName":"Ana","phoneNumber":"(58) 412-555.77","isActive":true}""")
    val out = Rules.userRules(Projections.userCassandra(users), Destination.Cassandra).head()
    assert(out.getAs[String]("phone") === "+5841255577")
    assert(out.getAs[String]("email") === "")
  }

  test("message: F1/F3/F4 filters, crypto migration, uuid5 room id, timeuuid") {
    val encrypted = ReEncrypt.encryptSalsa20("hola secreta", Rules.LegacyKey)
    val msgs = mongoDocs(
      s"""{"_id":"m1","room":"r1","sender":"u1","message":"$encrypted","type":"user_message",
          "isActive":true,"createdAt":"2024-03-01T10:00:00Z"}""",
      """{"_id":"m2","room":"r1","sender":"u1","message":"plano","isActive":true,
         "createdAt":"2024-03-01T11:00:00Z"}""",
      """{"_id":"m3","room":"r1","message":"borrado","isDeleted":true,"isActive":true,
         "createdAt":"2024-03-01T12:00:00Z"}""",
      """{"_id":"m4","room":"r1","message":"geo","msgType":"GEO_LOCATION","isActive":true,
         "createdAt":"2024-03-01T13:00:00Z"}""",
      """{"_id":"m5","room":"r1","message":"doc","fileType":"DOCUMENTO","isActive":true,
         "fileURL":"gs://sibci-devel.appspot.com/f.docx","createdAt":"2024-03-01T14:00:00Z"}""",
      """{"_id":"m6","room":"r1","message":"pdf ok","fileType":"DOCUMENTO","isActive":true,
         "fileURL":"gs://sibci-devel.appspot.com/f.pdf","createdAt":"2024-03-01T15:00:00Z"}""")
    val userDim = Seq(("u1", 7L)).toDF("mongo_id", "user_id")
    val out = Rules.messageRules(
        Rules.messageExtractFilter(Projections.messageCassandra(mongoDocs() match {
          case _ => msgs
        })),
        Destination.Cassandra, userDim = Some(userDim))
      .orderBy("mongo_id").collect()

    // m3 (deleted), m4 (GEO_LOCATION), m5 (non-pdf DOCUMENTO) are dropped
    assert(out.map(_.getAs[String]("mongo_id")).toSeq === Seq("m1", "m2", "m6"))
    val m1 = out(0)
    // encrypted content: re-encrypted with AES, plaintext kept alongside
    assert(m1.getAs[String]("content_decrypted") === "hola secreta")
    assert(AesCbc.decrypt(m1.getAs[String]("content"), Rules.NewPassword) === "hola secreta")
    assert(m1.getAs[String]("room_id") ===
      graft.functions.Uuid5.compute(org.apache.spark.unsafe.types.UTF8String.fromString("r1")).toString)
    assert(m1.getAs[Long]("sender_id") === 7L)
    assert(m1.getAs[String]("message_id").charAt(14) === '1') // v1 timeuuid
    // plaintext message passes through untouched
    assert(out(1).getAs[String]("content") === "plano")
    // pdf DOCUMENTO survives with rewritten url + pdf mime
    assert(out(2).getAs[String]("file_url") === "siscom_old/f.pdf")
    assert(out(2).getAs[String]("mime_type") === "application/pdf")
  }

  test("message reactions serialize to JSON text, absent/empty → '[]' (X12)") {
    val msgs = mongoDocs(
      """{"_id":"m1","room":"r1","message":"con reacciones","isActive":true,
         "reactions":[{"emoji":"like","user":"u2"},{"emoji":"heart","user":"u3"}],
         "createdAt":"2024-03-01T10:00:00Z"}""",
      """{"_id":"m2","room":"r1","message":"sin reacciones","isActive":true,
         "createdAt":"2024-03-01T11:00:00Z"}""")
    val out = Projections.messageCassandra(msgs).orderBy("mongo_id").collect()
    assert(out(0).getAs[String]("reactions") ===
      """[{"emoji":"like","user":"u2"},{"emoji":"heart","user":"u3"}]""")
    assert(out(1).getAs[String]("reactions") === "[]") // null list → falsy default
    assert(out(0).getAs[String]("seen_by") === "[]")   // field absent entirely
  }

  test("room: type derivation, organizations branch, deterministic encryption_data") {
    val rooms = mongoDocs(
      """{"_id":"r1","name":"","isGroup":true,"isAdmin":true,
         "permissions":{"addMember":true,"editGroup":false},"createdAt":"2024-01-01T00:00:00Z"}""",
      """{"_id":"r2","name":"Duo","isAdmin":false,"canWrite":false}""")
    val out = Rules.roomRules(Projections.roomCassandra(rooms)).orderBy("mongo_id").collect()
    assert(out(0).getAs[String]("name") === "Room r1") // empty-name fallback
    assert(out(0).getAs[String]("type") === "group")
    assert(out(0).getAs[Boolean]("add_member") === true)
    assert(out(1).getAs[String]("type") === "p2p")
    assert(out(1).getAs[Boolean]("send_message") === false) // canWrite wins
    // encryption_data decrypts under the fixed password and is deterministic
    val ed = out(0).getAs[String]("encryption_data")
    assert(AesCbc.decrypt(ed, Rules.NewPassword).contains("\"key\""))
    val orgs = Rules.organizations(
      Rules.roomRules(Projections.roomCassandra(rooms))).collect()
    assert(orgs.map(_.getAs[String]("mongo_id")).toSeq === Seq("r1"))
  }

  test("docs: F5 inactive drop + specialRole implies isPrivate") {
    val docs = mongoDocs(
      """{"_id":"d1","title":"Doc","specialRole":"ro1","isPrivate":false,"isActive":true}""",
      """{"_id":"d2","name":"Muerto","isActive":false}""",
      """{"_id":"d3","isActive":true}""")
    val out = Rules.docsRules(Projections.docsPostgres(docs)).orderBy("mongo_id").collect()
    assert(out.map(_.getAs[String]("mongo_id")).toSeq === Seq("d1", "d3"))
    assert(out(0).getAs[Boolean]("isPrivate") === true) // implied by specialRole
    assert(out(1).getAs[String]("name") === "Document d3") // id-substring fallback
    val impl = Checks.implication("specialRole=>isPrivate",
      Rules.docsRules(Projections.docsPostgres(docs)),
      col("_tmp_special_role").isNotNull, col("isPrivate"))
    assert(impl.passed, impl.detail)
  }

  test("many-to-many explode resolves both endpoints with composite key (J6)") {
    val users = mongoDocs(
      """{"_id":"u1","profession":["pr1","pr2"]}""",
      """{"_id":"u2","profession":["pr1","missing"]}""")
    val userDim = Seq(("u1", 1L), ("u2", 2L)).toDF("mongo_id", "id")
    val profDim = Seq(("pr1", 100L), ("pr2", 200L)).toDF("mongo_id", "id")
    val out = Rules.manyToMany(users, "profession", userDim, profDim)
      .orderBy("mongo_id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq ===
      Seq((1L, 100L, "u1_pr1"), (1L, 200L, "u1_pr2"), (2L, 100L, "u2_pr1")))
  }

  test("post-migration: p2p lookup, rooms_by_user, membership refresh (J8-J10)") {
    val rooms = Seq(("R1", "p2p", "Duo", ""), ("R2", "group", "Grupo", ""))
      .toDF("room_id", "type", "name", "image")
    val participants = Seq(
      ("R1", 1L, "MEMBER"), ("R1", 2L, "MEMBER"),
      ("R2", 1L, "ADMIN"), ("R2", 2L, "MEMBER"), ("R2", 3L, "MEMBER"))
      .toDF("room_id", "user_id", "role")
      .withColumn("joined_at", to_timestamp(lit("2024-01-01 00:00:00")))
      .withColumn("is_muted", lit(false))
    val messages = Seq(
      ("R1", "mid1", "hola", 1L, "2024-02-01 10:00:00"),
      ("R1", "mid2", "ultimo", 2L, "2024-02-01 11:00:00"),
      ("R2", "mid3", "solo", 3L, "2024-02-02 09:00:00"))
      .toDF("room_id", "message_id", "content", "sender_id", "ts")
      .withColumn("created_at", to_timestamp(col("ts"))).drop("ts")
    val users = Seq((1L, "Ana"), (2L, "Bea"), (3L, "Caro")).toDF("user_id", "name")

    val p2p = Denormalize.p2pLookup(rooms, participants).orderBy("user_id").collect()
    assert(p2p.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((1L, 2L), (2L, 1L)))

    val rbu = Denormalize.roomsByUser(participants, rooms, messages, users)
    val r1row = rbu.filter(col("room_id") === "R1" && col("user_id") === 1L).head()
    assert(r1row.getAs[String]("last_message_preview") === "ultimo")
    assert(r1row.getAs[String]("last_message_sender_name") === "Bea")

    val lookup = Denormalize.membershipLookup(participants)
    val refreshed = Denormalize.refreshMembershipLookup(lookup, rbu)
    val l1 = refreshed.filter(col("room_id") === "R1" && col("user_id") === 1L).head()
    assert(l1.getAs[java.sql.Timestamp]("last_message_at") !== null)
  }

  test("rooms_by_user joins are not force-broadcast (large sides sort-merge)") {
    // rooms/users grow with the user base: with the small-table broadcast
    // path off (≙ both sides measured large), the planner must fall back to
    // shuffle joins. A broadcast() hint on either side would override the
    // threshold and show up here as a BroadcastHashJoin — i.e. an OOM at
    // real scale.
    val rooms = Seq(("R1", "p2p", "Duo", "")).toDF("room_id", "type", "name", "image")
    val participants = Seq(("R1", 1L, "MEMBER"))
      .toDF("room_id", "user_id", "role")
      .withColumn("joined_at", to_timestamp(lit("2024-01-01 00:00:00")))
      .withColumn("is_muted", lit(false))
    val messages = Seq(("R1", "mid1", "hola", 1L))
      .toDF("room_id", "message_id", "content", "sender_id")
      .withColumn("created_at", to_timestamp(lit("2024-02-01 10:00:00")))
    val users = Seq((1L, "Ana")).toDF("user_id", "name")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val rbu = Denormalize.roomsByUser(participants, rooms, messages, users)
      val plan = rbu.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"no join side may be force-broadcast:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"))
      assert(rbu.count() === 1)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("topo pipeline runs entities in order with dims flowing downstream") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-pipe").toString
    val sources = Map(
      "provinces" -> mongoDocs("""{"_id":"p1","name":"Zulia","key":"ZU","isActive":true}"""),
      "users" -> mongoDocs(
        """{"_id":"u1","displayName":"Ana","province":"p1","userType":"USER","isActive":true}"""))
    val pipe = new Pipeline(spark, sources(_), Pipeline.parquetSink(tmp))
    val out = pipe.run(Map(
      "province" -> ((src, _) => Map(Destination.Postgres ->
        graft.operators.Relational.sequentialIds(
          Rules.geoRules(Projections.geoPostgres(src, withProvince = false, withMunicipality = false)),
          "mongo_id", "id"))),
      "user" -> ((src, dims) => Map(Destination.Postgres ->
        Rules.userRules(Projections.userPostgres(src), Destination.Postgres,
          provinceDim = Some(dims("province")))))))
    assert(pipe.report === Map("province/postgres" -> 1L, "user/postgres" -> 1L))
    val user = out(("user", Destination.Postgres)).head()
    assert(user.getAs[Long]("province_id") === 1L) // resolved against upstream dim
    // sink wrote parquet per (destination, entity)
    assert(spark.read.parquet(s"$tmp/postgres/user").count() === 1L)
  }

  test("CLI path: partial dry run auto-includes FK parents, target filters loads") {
    // jsonl fixture dir, the CLI's mongo-document source shape
    val srcDir = java.nio.file.Files.createTempDirectory("graft-etl-src")
    def jsonl(name: String, lines: String*): Unit =
      java.nio.file.Files.writeString(srcDir.resolve(s"$name.jsonl"),
        lines.mkString("", "\n", "\n"))
    jsonl("roles", """{"_id":"ro1","name":"USER","type":"app"}""")
    jsonl("provinces", """{"_id":"p1","name":"Zulia","key":"ZU","isActive":true}""")
    jsonl("municipalities",
      """{"_id":"mu1","name":"Maracaibo","province":"p1","isActive":true}""")

    // --entity municipality --dry-run: the province dependency must be
    // auto-included (closure), and NOTHING may be written
    val outDir = java.nio.file.Files.createTempDirectory("graft-etl-out").toString
    val dry = RunEtl.parse(Seq("--source", srcDir.toString, "--out", outDir,
      "--entity", "municipality", "--dry-run"))
    val (okDry, dryReport) = RunEtl.execute(spark, dry)
    assert(okDry)
    assert(dryReport === Map("province/postgres" -> 1L, "municipality/postgres" -> 1L))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(outDir, "postgres")))

    // real partial run, postgres target only: the dual-destination roles
    // entity computes both frames but loads only the postgres one
    val real = RunEtl.parse(Seq("--source", srcDir.toString, "--out", outDir,
      "--entities", "roles,province", "--target", "postgres"))
    val (okReal, realReport) = RunEtl.execute(spark, real)
    assert(okReal)
    assert(realReport.keySet ===
      Set("roles/postgres", "roles/cassandra", "province/postgres"))
    assert(spark.read.parquet(s"$outDir/postgres/roles").count() === 1L)
    assert(spark.read.parquet(s"$outDir/postgres/province").count() === 1L)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(outDir, "cassandra")))

    // --truncate deletes the selected entities' target dirs before writing;
    // a stale file inside must be gone after the run
    val stale = java.nio.file.Paths.get(outDir, "postgres", "roles", "stale.txt")
    java.nio.file.Files.writeString(stale, "leftover")
    RunEtl.execute(spark, RunEtl.parse(Seq("--source", srcDir.toString, "--out", outDir,
      "--entity", "roles", "--target", "postgres", "--truncate")))
    assert(!java.nio.file.Files.exists(stale), "--truncate must clear the target dir")
    assert(spark.read.parquet(s"$outDir/postgres/roles").count() === 1L)

    // --validate flags an unreadable collection for the selection
    val (okVal, _) = RunEtl.execute(spark,
      RunEtl.parse(Seq("--source", srcDir.toString, "--entity", "province", "--validate")))
    assert(okVal)
    val (okBad, _) = RunEtl.execute(spark,
      RunEtl.parse(Seq("--source", srcDir.toString, "--entity", "room", "--validate")))
    assert(!okBad, "--validate must fail when a selected source collection is missing")
  }

  test("CLI parse: mistyped values throw instead of running something else") {
    def parse(args: String*) = RunEtl.parse(Seq("--source", "s", "--out", "o") ++ args)
    assert(parse("--batch-size", "5").batchSize === Some(5))
    assert(parse("--entities", "roles, province").entities === Seq("roles", "province"))
    // Spark reads maxRecordsPerFile <= 0 as "no limit": batching would be off
    for (n <- Seq("0", "-3", "x"))
      intercept[IllegalArgumentException](parse("--batch-size", n))
    // an --entities list naming nothing would otherwise run all 15 entities
    for (v <- Seq("", ",", " , "))
      intercept[IllegalArgumentException](parse("--entities", v))
    intercept[IllegalArgumentException](parse("--entities", "roles,nope"))
    intercept[IllegalArgumentException](parse("--target", "mysql"))
    intercept[IllegalArgumentException](parse("--bogus"))
  }

  test("CLI cassandra target writes entities in their CQL layout (clustering-ordered)") {
    val srcDir = java.nio.file.Files.createTempDirectory("graft-cql-src")
    def jsonl(name: String, lines: String*): Unit =
      java.nio.file.Files.writeString(srcDir.resolve(s"$name.jsonl"),
        lines.mkString("", "\n", "\n"))
    // message's closure pulls user, which pulls the geo + roles dims
    jsonl("roles", """{"_id":"ro1","name":"USER","type":"app"}""")
    jsonl("provinces", """{"_id":"p1","name":"Zulia","key":"ZU","isActive":true}""")
    jsonl("municipalities",
      """{"_id":"mu1","name":"Maracaibo","province":"p1","isActive":true}""")
    jsonl("parroquias",
      """{"_id":"pq1","name":"Olegario","municipality":"mu1","isActive":true}""")
    jsonl("users",
      """{"_id":"u1","displayName":"Ana","isActive":true,"createdAt":"2024-01-01T00:00:00Z"}""",
      """{"_id":"u2","displayName":"Bob","isActive":true,"createdAt":"2024-01-02T00:00:00Z"}""")
    jsonl("messages",
      """{"_id":"m1","room":"r1","sender":"u1","message":"hola","isActive":true,"createdAt":"2024-03-01T10:00:00Z"}""",
      """{"_id":"m2","room":"r1","sender":"u2","message":"que tal","isActive":true,"createdAt":"2024-03-01T11:00:00Z"}""",
      """{"_id":"m3","room":"r1","sender":"u1","message":"bien","isActive":true,"createdAt":"2024-03-01T12:00:00Z"}""",
      """{"_id":"m4","room":"r2","sender":"u2","message":"otro","isActive":true,"createdAt":"2024-03-02T09:00:00Z"}""")
    jsonl("rooms",
      """{"_id":"r1","name":"Grupo","isGroup":true,"createdAt":"2024-01-01T00:00:00Z"}""",
      """{"_id":"r2","name":"Duo","createdAt":"2024-01-02T00:00:00Z"}""")
    jsonl("roommembers",
      """{"_id":"rm1","room":"r1","user":"u1","role":"admin","joinedAt":"2024-01-01T00:00:00Z"}""",
      """{"_id":"rm2","room":"r1","user":"u2","joinedAt":"2024-01-02T00:00:00Z"}""")

    val outDir = java.nio.file.Files.createTempDirectory("graft-cql-out").toString
    val (ok, report) = RunEtl.execute(spark, RunEtl.parse(Seq(
      "--source", srcDir.toString, "--out", outDir,
      "--entities", "message,room,room_member", "--target", "cassandra")))
    assert(ok)
    assert(report("message/cassandra") === 4L)
    assert(report("room/cassandra") === 2L)
    assert(report("room_member/cassandra") === 2L)
    // room_details has no clustering columns: key-sorted files, no key
    // directories; participants_by_room clusters, so it keeps room_id ones
    def entries(ent: String): Seq[String] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(java.nio.file.Paths.get(outDir, "cassandra", ent))
        .iterator().asScala.map(_.getFileName.toString).toSeq
    }
    assert(!entries("room").exists(_.startsWith("room_id=")), s"room: ${entries("room")}")
    assert(entries("room").exists(_.endsWith(".parquet")), s"room: ${entries("room")}")
    val rooms = spark.read.parquet(s"$outDir/cassandra/room")
    assert(Checks.keySortedFiles("cli-room-sorted", rooms, Seq("room_id")).passed)
    assert(entries("room_member").exists(_.startsWith("room_id=")),
      s"room_member not partitioned by room_id: ${entries("room_member")}")

    // messages_by_room layout (create_scylla_database.cql:21-46): directory
    // partition on room_id, message_id DESC inside each partition
    val msgDir = java.nio.file.Paths.get(outDir, "cassandra", "message")
    val partDirs = java.nio.file.Files.list(msgDir).iterator()
    val hasRoomPartitions = {
      import scala.jdk.CollectionConverters._
      partDirs.asScala.exists(_.getFileName.toString.startsWith("room_id="))
    }
    assert(hasRoomPartitions, "CLI cassandra output must be partition-keyed directories")
    val readBack = spark.read.parquet(msgDir.toString)
    assert(readBack.count() === 4L)
    assert(Checks.clusteringOrder("cli-msg-order", readBack,
      Seq(("message_id", false))).passed)

    // the dual-destination user dependency: cassandra side laid out per the
    // `users` table (key-sorted on user_id), postgres side dry-run only
    assert(java.nio.file.Files.list(java.nio.file.Paths.get(outDir, "cassandra", "user"))
      .iterator().hasNext)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(outDir, "postgres")))
  }

  test("validation checks: count parity bands, uuid5 oracle, url sweep") {
    assert(Checks.countParity("msgs", 100, 96, 0.95).passed)
    assert(!Checks.countParity("docs", 100, 85, 0.90).passed)
    val rooms = Seq("r1", "r2").toDF("mongo_id")
      .withColumn("room_id", GraftFunctions.uuid5(col("mongo_id")))
    assert(Checks.uuid5Oracle("rooms", rooms, "mongo_id", "room_id").passed)
    val tampered = rooms.withColumn("room_id",
      when(col("mongo_id") === "r1", lit("not-a-uuid")).otherwise(col("room_id")))
    assert(!Checks.uuid5Oracle("tampered", tampered, "mongo_id", "room_id").passed)
    val clean = Seq("siscom_old/a.png").toDF("avatar")
    assert(Checks.urlRewriteSweep("urls", clean, Seq("avatar")).passed)
    val dirty = Seq("gs://sibci-devel.appspot.com/a.png").toDF("avatar")
    assert(!Checks.urlRewriteSweep("urls", dirty, Seq("avatar")).passed)
  }
}
