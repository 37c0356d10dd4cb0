package graft

import java.nio.file.{Files, Paths}

import graft.functions.ReEncrypt
import graft.transform.Rules

/** End-to-end migration drive over mongo-shaped fixtures covering ALL 15
  * entities of the catalog: the fixtures are written as
  * `<outDir>/sources/<collection>.jsonl`, migrated by [[RunEtl.execute]]
  * (entities, post-migration tables, docs_roles) into `<outDir>`, and
  * checked by [[Validate.run]].
  * `runMain graft.MigrationDemo [outDir]`; exit code 1 if any check fails.
  */
object MigrationDemo {

  private val enc = ReEncrypt.encryptSalsa20("mensaje secreto", Rules.LegacyKey)

  /** Mongo-shaped documents per source collection. */
  val fixtures: Map[String, Seq[String]] = Map(
    "roles" -> Seq(
      """{"_id":"ro1","name":"USER","type":"app"}""",
      """{"_id":"ro2","name":"ADMIN","type":"app","default":true}""",
      """{"_id":"ro9","name":"SPECIAL","type":"app"}"""),
    "provinces" -> Seq("""{"_id":"p1","name":"Zulia","key":"ZU","isActive":true}"""),
    "municipalities" -> Seq(
      """{"_id":"mu1","name":"Maracaibo","province":"p1","isActive":true}"""),
    "parroquias" -> Seq(
      """{"_id":"pa1","name":"Olegario","province":"p1","municipality":"mu1","isActive":true}"""),
    "professions" -> Seq(
      """{"_id":"pr1","name":"Teacher","name_es":"Docente"}""",
      """{"_id":"pr2","name_es":"Médico"}"""),
    "entities" -> Seq("""{"_id":"en1","name":"Ministry","organization":"gov"}"""),
    "users" -> Seq(
      """{"_id":"u1","displayName":"Ana","phoneNumber":"(58)412-5551","email":"Ana@X.com",
         "province":"p1","municipality":"mu1","parroquia":"pa1","userType":"USER_ROLE",
         "isActive":true,"profession":["pr1","pr2"],"entities":["en1"],
         "photoURL":"gs://sibci-devel.appspot.com/a.png","createdAt":"2024-01-01T00:00:00Z"}""",
      """{"_id":"u2","name":"Bea","phone":"555","userType":"ADMIN","isActive":true,
         "profession":["pr1"],"createdAt":"2024-01-01T00:00:00Z"}""",
      """{"_id":"u3","name":"Cerrada","phone":"777","email":"c@x.com","userType":"USER",
         "isActive":false,"createdAt":"2024-01-01T00:00:00Z"}"""),
    "channels" -> Seq(
      """{"_id":"c1","name":"Noticias","isActive":true,"createdBy":"u1",
         "picture":{"url":"gs://sibci-2f7fc.appspot.com/c1.png"},"lives":["l1","l2"]}"""),
    "docs" -> Seq(
      """{"_id":"f1","name":"docs","type":"FOLDER","onFolder":"/","isActive":true}""",
      """{"_id":"f2","name":"legal","type":"FOLDER","onFolder":"/docs","isActive":true}""",
      """{"_id":"a1","title":"contrato","fileType":"PDF","onFolder":"/docs/legal",
         "isActive":true,"specialRole":"ro9","uploadedBy":"u1"}""",
      """{"_id":"a2","title":"huerfano","fileType":"PDF","onFolder":"/nada","isActive":true}"""),
    "lives" -> Seq(
      """{"_id":"l1","title":"En vivo","channel":"c1","createdBy":"u1","isFinished":false,
         "photoURL":{"url":"gs://sibci-devel.appspot.com/l1.png"},"liveUrl":"https://yt/1"}"""),
    "rooms" -> Seq(
      """{"_id":"r1","name":"Duo","createdAt":"2024-02-01T00:00:00Z"}""",
      """{"_id":"r2","name":"Equipo","isGroup":true,"isAdmin":true,
         "createdAt":"2024-02-01T00:00:00Z"}"""),
    "messages" -> Seq(
      s"""{"_id":"m1","room":"r1","sender":"u1","message":"$enc","isActive":true,
          "createdAt":"2024-03-01T10:00:00Z"}""",
      """{"_id":"m2","room":"r1","sender":"u2","message":"hola","isActive":true,
         "createdAt":"2024-03-01T11:00:00Z"}""",
      """{"_id":"m3","room":"r2","sender":"u1","message":"geo","msgType":"GEO_LOCATION",
         "isActive":true,"createdAt":"2024-03-01T12:00:00Z"}"""),
    "roommembers" -> Seq(
      """{"_id":"b1","room":"r1","user":"u1","role":"member"}""",
      """{"_id":"b2","room":"r1","user":"u2","role":"admin"}""",
      """{"_id":"b3","room":"r2","user":"u1","role":"member"}"""))

  /** Writes [[fixtures]] as one `<collection>.jsonl` per collection, one
    * document per line.
    */
  def writeFixtures(dir: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    for ((name, docs) <- fixtures)
      Files.writeString(Paths.get(dir, s"$name.jsonl"),
        docs.map(_.replaceAll("\\s*\n\\s*", " ")).mkString("", "\n", "\n"))
  }

  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else
      Files.createTempDirectory("graft-migration").toString
    val spark = Engine.session(master = "local[4]", shufflePartitions = 4, appName = "demo")
    val (ok, checks) = try {
      writeFixtures(s"$out/sources")
      val (_, rows) = RunEtl.execute(spark,
        RunEtl.parse(Seq("--source", s"$out/sources", "--out", out)))
      println(s"[demo] rows: $rows")
      Validate.run(spark, out)
    } finally spark.stop()
    Validate.report(ok, checks)
    if (!ok) sys.exit(1)
  }
}
