package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.GraftFunctions
import graft.transform.Rules

/** Seeded, hash-derived input generator. Every value is a pure function of
  * (seed, collection, row id, field) through `xxhash64` (Spark columns) or
  * [[Gen.mix]] (driver-side text), so there is no RNG state: the same seed
  * writes byte-identical files, and a row's content does not depend on how
  * the rows are partitioned.
  *
  * The ETL collections follow the source-document shapes of FIXTURES.md §A,
  * including the shape variants the projections tolerate (`{_id}` and
  * `{url}` documents next to plain strings, absent fields, empty strings).
  */
object Gen {

  /** Row counts of one migration input mix. Sizes are fixed per workload so
    * that a different seed changes the content, never the amount of work.
    */
  final case class Mix(
      users: Long,
      rooms: Long,
      messages: Long,
      provinces: Long,
      municipalities: Long,
      parroquias: Long,
      professions: Long,
      entities: Long,
      channels: Long,
      livesPerChannel: Long,
      folders: Int,
      files: Long,
      hotRoomShare: Long, // 1 in `hotRoomShare` rooms is hot
      maxLinks: Int) { // up to this many profession and entity links per user
    val members: Long = rooms * 2
    val lives: Long = channels * livesPerChannel

    /** Source documents per collection. */
    def counts: Map[String, Long] = Map(
      "roles" -> Roles.size.toLong, "provinces" -> provinces,
      "municipalities" -> municipalities, "parroquias" -> parroquias,
      "professions" -> professions, "entities" -> entities, "users" -> users,
      "channels" -> channels, "docs" -> (folders + files), "lives" -> lives,
      "rooms" -> rooms, "messages" -> messages, "roommembers" -> members)
  }

  /** Chat-shaped mix: a fixed 250 users in 100 rooms of two members, ~2 %
    * of rooms hot, and `messages` messages. Users and rooms stay fixed so
    * that raising `messages` adds per-message work (parsing, re-encryption,
    * ids, the per-room layouts, the top-1 per room) and not per-room
    * partition directories.
    */
  def chat(messages: Long): Mix = Mix(
    users = 250, rooms = 100,
    messages = messages, provinces = 24, municipalities = 120, parroquias = 480,
    professions = 40, entities = 20, channels = 20, livesPerChannel = 3,
    folders = 40, files = 200, hotRoomShare = 50, maxLinks = 3)

  val Roles: Seq[String] = Seq("USER", "ADMIN", "AGENTE", "DIRECTOR", "MODERATOR", "SPECIAL")
  private val FilteredTypes = Seq("GEO_LOCATION", "SURVEY", "CONTACT")
  private val FileTypes = Seq("IMAGEN", "VIDEO", "AUDIO", "DOCUMENTO")
  private val Words = Seq("hola", "mensaje", "reunion", "manana", "equipo", "gracias",
    "informe", "proyecto", "llamada", "listo", "revisar", "documento", "enviar",
    "semana", "cliente", "pedido", "nuevo", "grupo", "foto", "saludos")
  private val T0 = 1700000000000000L // 2023-11-14T22:13:20Z, epoch micros

  /** Per-collection ObjectId prefixes: ids are 24 hex digits and sort in
    * row-id order within a collection.
    */
  private val Prefix = Map("roles" -> 1, "provinces" -> 2, "municipalities" -> 3,
    "parroquias" -> 4, "professions" -> 5, "entities" -> 6, "users" -> 7,
    "channels" -> 8, "docs" -> 9, "lives" -> 10, "rooms" -> 11, "messages" -> 12,
    "roommembers" -> 13)

  def oid(collection: String, id: Column): Column =
    format_string("%08x%016x", lit(Prefix(collection)), id.cast(LongType))

  /** Hash-derived column helpers for one seed. */
  private final class H(seed: Long) {
    def h(salt: String, id: Column = col("id")): Column = xxhash64(lit(seed), lit(salt), id)
    def pick(salt: String, n: Long, id: Column = col("id")): Column = pmod(h(salt, id), lit(n))
    def frac(salt: String, p: Double, id: Column = col("id")): Column =
      pmod(h(salt, id), lit(1000000L)) < lit(math.round(p * 1000000))
    def choose(salt: String, values: Seq[String]): Column =
      element_at(typedLit(values), (pick(salt, values.size.toLong) + 1).cast("int"))
    def ts(salt: String, spacingMicros: Long): Column =
      timestamp_micros(lit(T0) + col("id") * spacingMicros + pick(salt, spacingMicros max 1L))
    def words(salt: String, n: Int): Column = concat_ws(" ",
      transform(sequence(lit(1), lit(n)), j =>
        element_at(typedLit(Words), (pmod(xxhash64(lit(seed), lit(salt), col("id"), j),
          lit(Words.size.toLong)) + 1).cast("int"))))
  }

  /** Reference shapes: a plain id string, or a `{_id}` document. */
  private def ref(collection: String, id: Column): Column = oid(collection, id)
  private def refDoc(collection: String, id: Column): Column =
    struct(oid(collection, id).as("_id"))

  /** All 13 source collections of `mix` for `seed`, keyed by collection. */
  def collections(spark: SparkSession, mix: Mix, seed: Long): Map[String, DataFrame] = {
    val g = new H(seed)
    import g._
    def range(n: Long) = spark.range(0, n, 1, math.max(1, math.min(8, (n / 50000).toInt + 1)))
    // the FK chain parroquia → municipality → province, as functions of ids
    def munProvince(m: Column) = pick("municipality.province", mix.provinces, m)
    def parMunicipality(p: Column) = pick("parroquia.municipality", mix.municipalities, p)

    val roles = range(Roles.size).select(
      oid("roles", col("id")).as("_id"),
      element_at(typedLit(Roles), (col("id") + 1).cast("int")).as("name"),
      lit("app").as("type"),
      (col("id") === 0).as("default"),
      (col("id") === 4).as("contactsHide"),
      ts("roles.created", 1000000L).as("createdAt"),
      ts("roles.updated", 2000000L).as("updatedAt"))

    val provinces = range(mix.provinces).select(
      oid("provinces", col("id")).as("_id"),
      concat(lit("Provincia "), col("id")).as("name"),
      format_string("P%02d", col("id")).as("key"),
      (col("id") + 1).cast("int").as("key_int"),
      not(frac("province.inactive", 0.05)).as("isActive"),
      (lit(1.0) + pick("province.lat", 900000L) / 100000.0).as("latitude"),
      (lit(-73.0) + pick("province.lon", 1200000L) / 100000.0).as("longitude"),
      ts("province.created", 1000000L).as("createdAt"),
      ts("province.updated", 2000000L).as("updatedAt"))

    val municipalities = range(mix.municipalities).select(
      oid("municipalities", col("id")).as("_id"),
      concat(lit("Municipio "), col("id")).as("name"),
      format_string("M%03d", col("id")).as("code"),
      refDoc("provinces", munProvince(col("id"))).as("province"),
      not(frac("municipality.inactive", 0.03)).as("isActive"),
      ts("municipality.created", 1000000L).as("createdAt"),
      ts("municipality.updated", 2000000L).as("updatedAt"))

    val parroquias = range(mix.parroquias).select(
      oid("parroquias", col("id")).as("_id"),
      concat(lit("Parroquia "), col("id")).as("name"),
      ref("provinces", munProvince(parMunicipality(col("id")))).as("province"),
      refDoc("municipalities", parMunicipality(col("id"))).as("municipality"),
      lit(true).as("isActive"),
      ts("parroquia.created", 1000000L).as("createdAt"),
      ts("parroquia.updated", 2000000L).as("updatedAt"))

    val professions = range(mix.professions).select(
      oid("professions", col("id")).as("_id"),
      when(not(frac("profession.noname", 0.2)), concat(lit("Profession "), col("id")))
        .as("name"),
      concat(lit("Profesion "), col("id")).as("name_es"),
      lit(true).as("isActive"),
      ts("profession.created", 1000000L).as("createdAt"),
      ts("profession.updated", 2000000L).as("updatedAt"))

    val entities = range(mix.entities).select(
      oid("entities", col("id")).as("_id"),
      concat(lit("Entity "), col("id")).as("name"),
      when(frac("entity.es", 0.5), concat(lit("Entidad "), col("id"))).as("name_es"),
      choose("entity.org", Seq("gov", "ngo", "private")).as("organization"),
      not(frac("entity.inactive", 0.05)).as("isActive"),
      ts("entity.created", 1000000L).as("createdAt"),
      ts("entity.updated", 2000000L).as("updatedAt"))

    // users: phone variants, mixed-case emails, legacy-bucket avatars,
    // soft-deleted rows, the geo FK chain, and the m2m arrays, where one
    // element in twenty is written as an `{_id}` document (see
    // [[writeJson]]'s `~` marker)
    val parroquia = pick("user.parroquia", mix.parroquias)
    val phoneKind = pick("user.phone.kind", 5L)
    val digits = format_string("%07d", pick("user.phone", 10000000L))
    def links(kind: String, n: Long) = transform(
      sequence(lit(0), pick(s"user.$kind.n", mix.maxLinks + 1L).cast("int") - 1),
      j => {
        val id = oid(kind, pmod(xxhash64(lit(seed), lit(s"user.$kind"), col("id"), j), lit(n)))
        when(pmod(xxhash64(lit(seed), lit(s"user.$kind.doc"), col("id"), j), lit(20L)) === 0,
          concat(lit("~"), id)).otherwise(id)
      })
    val users = range(mix.users).select(
      oid("users", col("id")).as("_id"),
      format_string("%08x-0000-4000-8000-%012x", col("id"), pick("user.uuid", 1L << 40))
        .as("uuid"),
      when(frac("user.gs", 0.3),
        format_string("gs://sibci-devel.appspot.com/avatars/%d.png", col("id")))
        .when(frac("user.cdn", 0.3), format_string("https://cdn.example.org/a/%d.png", col("id")))
        .as("photoURL"),
      when(phoneKind === 0, concat(lit("( 58 ) 412-"), digits))
        .when(phoneKind === 1, concat(lit("+58 412 "), digits))
        .when(phoneKind === 2, concat(lit("0412-"), digits))
        .when(phoneKind === 3, lit("")).as("phoneNumber"),
      when(phoneKind === 4, concat(lit("412"), digits)).as("phone"),
      when(frac("user.display", 0.7), concat(lit("User "), col("id"))).as("displayName"),
      concat(lit("user"), col("id")).as("name"),
      when(not(frac("user.noemail", 0.1)),
        format_string("User.%d@Example.COM", col("id"))).as("email"),
      when(frac("user.social", 0.2), struct(
        format_string("@u%d", col("id")).as("x"),
        format_string("u%d.ig", col("id")).as("instagram"))).as("socialMedia"),
      ref("provinces", munProvince(parMunicipality(parroquia))).as("province"),
      ref("municipalities", parMunicipality(parroquia)).as("municipality"),
      ref("parroquias", parroquia).as("parroquia"),
      choose("user.type", Seq("USER_ROLE", "USER_ROLE", "USER_ROLE", "USER", "ADMIN_ROLE",
        "AGENTE_ROLE", "DIRECTOR", "MODERATOR_ROLE")).as("userType"),
      not(frac("user.deleted", 0.03)).as("isActive"),
      choose("user.gender", Seq("Masculino", "Femenino", "M", "F")).as("gender"),
      format_string("V%08d", pick("user.dni", 100000000L)).as("cedula"),
      links("professions", mix.professions).as("profession"),
      links("entities", mix.entities).as("entities"),
      ts("user.created", 1000000L).as("createdAt"),
      ts("user.updated", 2000000L).as("updatedAt"))

    val channels = range(mix.channels).select(
      oid("channels", col("id")).as("_id"),
      concat(lit("Canal "), col("id")).as("name"),
      g.words("channel.desc", 6).as("description"),
      not(frac("channel.hidden", 0.05)).as("isActive"),
      struct(format_string("gs://sibci-2f7fc.appspot.com/c%d.png", col("id")).as("url"))
        .as("picture"),
      when(frac("channel.cover", 0.5),
        format_string("https://cdn.example.org/cover/%d.jpg", col("id"))).as("cover"),
      transform(sequence(lit(0L), lit(mix.livesPerChannel - 1)),
        j => oid("lives", col("id") + j * mix.channels)).as("lives"),
      refDoc("users", pick("channel.owner", mix.users)).as("createdBy"),
      pick("channel.followers", 100000L).cast("int").as("followers"),
      ts("channel.created", 1000000L).as("createdAt"),
      ts("channel.updated", 2000000L).as("updatedAt"))

    val lives = range(mix.lives).select(
      oid("lives", col("id")).as("_id"),
      concat(lit("En vivo "), col("id")).as("title"),
      ref("channels", col("id") % mix.channels).as("channel"),
      ref("users", pick("live.owner", mix.users)).as("createdBy"),
      frac("live.finished", 0.5).as("isFinished"),
      frac("live.featured", 0.1).as("isFeatured"),
      not(frac("live.inactive", 0.05)).as("isActive"),
      when(frac("live.photo", 0.5), struct(
        format_string("gs://sibci-devel.appspot.com/l%d.png", col("id")).as("url")))
        .as("photoURL"),
      format_string("https://youtube.example/%d", col("id")).as("liveUrl"),
      ts("live.created", 1000000L).as("createdAt"),
      ts("live.updated", 2000000L).as("updatedAt"))

    val rooms = range(mix.rooms).select(
      oid("rooms", col("id")).as("_id"),
      when(frac("room.noname", 0.1), lit("")).otherwise(concat(lit("Sala "), col("id")))
        .as("name"),
      frac("room.group", 0.33).as("isGroup"),
      frac("room.broadcast", 0.02).as("isBroadcast"),
      frac("room.admin", 0.06).as("isAdmin"),
      frac("room.public", 0.1).as("isPublic"),
      when(frac("room.perm", 0.3), struct(
        frac("room.perm.add", 0.5).as("addMember"),
        frac("room.perm.edit", 0.5).as("editGroup"),
        not(frac("room.perm.send", 0.1)).as("sendMessage"))).as("permissions"),
      when(frac("room.avatar", 0.2),
        format_string("gs://sibci-devel.appspot.com/r%d.png", col("id"))).as("avatar"),
      ts("room.created", 1000000L).as("createdAt"),
      ts("room.updated", 2000000L).as("updatedAt"))

    // messages: half the traffic goes to 1 in `hotRoomShare` rooms; ~20 %
    // of payloads are Salsa20-encrypted; a small share carries filtered
    // types/lives, deletions, attachments and replies
    val hotRooms = math.max(mix.rooms / mix.hotRoomShare, 1L)
    val room = when(frac("message.hot", 0.5), pick("message.hotroom", hotRooms))
      .otherwise(pick("message.room", mix.rooms))
    val plain = concat_ws(" ", g.words("message.text", 8), col("id").cast("string"))
    val fileKind = pick("message.filetype", FileTypes.size.toLong)
    val fileUrl = format_string("gs://sibci-devel.appspot.com/f/%d.%s", col("id"),
      when(fileKind === 3 && frac("message.pdf", 0.5), lit("pdf"))
        .when(fileKind === 3, lit("docx")).otherwise(lit("jpg")))
    val messages = range(mix.messages).select(
      oid("messages", col("id")).as("_id"),
      ref("rooms", room).as("room"),
      ref("users", pick("message.sender", mix.users)).as("sender"),
      when(frac("message.enc", 0.2), GraftFunctions.salsa20Encrypt(plain, lit(Rules.LegacyKey)))
        .otherwise(plain).as("message"),
      when(frac("message.filtered", 0.015), choose("message.ftype", FilteredTypes))
        .as("msgType"),
      when(frac("message.life", 0.005), lit("TOUCH_SHOW_DELETE")).as("msgLife"),
      not(frac("message.inactive", 0.005)).as("isActive"),
      frac("message.deleted", 0.01).as("isDeleted"),
      when(frac("message.file", 0.05), when(frac("message.fileenc", 0.5),
        GraftFunctions.salsa20Encrypt(fileUrl, lit(Rules.LegacyKey))).otherwise(fileUrl))
        .as("fileURL"),
      when(frac("message.file", 0.05), element_at(typedLit(FileTypes), (fileKind + 1).cast("int")))
        .as("fileType"),
      when(frac("message.reply", 0.03) && col("id") > 0,
        oid("messages", pmod(xxhash64(lit(seed), lit("message.replyto"), col("id")), col("id"))))
        .as("replyTo"),
      ts("message.created", 10000000L).as("createdAt"),
      ts("message.updated", 10000000L).as("updatedAt"))

    val memberRoom = col("id") % mix.rooms
    val first = pick("member.user", mix.users, memberRoom)
    val second = pmod(first + 1 + pick("member.user2", mix.users - 1, memberRoom), lit(mix.users))
    val members = range(mix.members).select(
      oid("roommembers", col("id")).as("_id"),
      refDoc("rooms", memberRoom).as("room"),
      ref("users", when(col("id") < mix.rooms, first).otherwise(second)).as("user"),
      when(frac("member.admin", 0.09), lit("admin"))
        .when(frac("member.upper", 0.3), lit("Member")).otherwise(lit("member")).as("role"),
      frac("member.muted", 0.05).as("isMuted"),
      ts("member.joined", 1000000L).as("joinedAt"))

    Map("roles" -> roles, "provinces" -> provinces, "municipalities" -> municipalities,
      "parroquias" -> parroquias, "professions" -> professions, "entities" -> entities,
      "users" -> users, "channels" -> channels, "docs" -> docs(spark, mix, seed),
      "lives" -> lives, "rooms" -> rooms, "messages" -> messages, "roommembers" -> members)
  }

  /** The docs folder tree is a 4-ary heap: folder f > 3 hangs under folder
    * (f - 4) / 4, so depth grows as log4(folders). Files reference folder
    * paths; 2 % reference a missing path (resolved to the root), 3 % are
    * inactive, 5 % carry the SPECIAL role.
    */
  private def docs(spark: SparkSession, mix: Mix, seed: Long): DataFrame = {
    import spark.implicits._
    val paths = new Array[String](mix.folders)
    val parents = new Array[String](mix.folders)
    for (f <- 0 until mix.folders) {
      parents(f) = if (f < 4) "/" else paths((f - 4) / 4)
      paths(f) = (if (parents(f) == "/") "" else parents(f)) + s"/f$f"
    }
    val folderRows = (0 until mix.folders).map(f => (f.toLong, parents(f), paths(f)))
      .toDF("fid", "onFolder", "path")
    val g = new H(seed)
    val folders = folderRows.select(
      oid("docs", col("fid")).as("_id"),
      concat(lit("f"), col("fid")).as("name"),
      lit("FOLDER").as("type"),
      lit(null).cast("string").as("fileType"),
      col("onFolder"),
      lit(true).as("isActive"),
      lit(null).cast("string").as("specialRole"),
      lit(null).cast("string").as("uploadedBy"),
      lit(null).cast("struct<url:string>").as("fileUrl"),
      lit(0L).as("size"),
      timestamp_micros(lit(T0) + col("fid") * 1000000L).as("createdAt"),
      timestamp_micros(lit(T0) + col("fid") * 2000000L).as("updatedAt"))
    val folderOfFile = g.pick("doc.folder", mix.folders.toLong)
    val files = spark.range(0, mix.files, 1, 4)
      .join(broadcast(folderRows.select(col("fid"), col("path"))), folderOfFile === col("fid"))
      .select(
        oid("docs", col("id") + mix.folders).as("_id"),
        concat(lit("doc "), col("id")).as("name"),
        lit("FILE").as("type"),
        g.choose("doc.filetype", Seq("PDF", "PDF", "IMAGEN", "VIDEO")).as("fileType"),
        when(g.frac("doc.orphan", 0.02), lit("/missing/folder")).otherwise(col("path"))
          .as("onFolder"),
        not(g.frac("doc.inactive", 0.03)).as("isActive"),
        when(g.frac("doc.special", 0.05), oid("roles", lit(5L))).as("specialRole"),
        oid("users", g.pick("doc.owner", mix.users)).as("uploadedBy"),
        struct(format_string("gs://sibci-devel.appspot.com/d/%d.pdf", col("id")).as("url"))
          .as("fileUrl"),
        g.pick("doc.size", 10000000L).as("size"),
        timestamp_micros(lit(T0) + col("id") * 1000000L).as("createdAt"),
        timestamp_micros(lit(T0) + col("id") * 2000000L).as("updatedAt"))
    folders.unionByName(files)
  }

  /** Written inputs: directory, per-collection row counts, total bytes, and
    * a content digest of the written files.
    */
  final case class Inputs(dir: String, rows: Map[String, Long], bytes: Long, digest: String)

  /** Writes `mix` as mongoexport-shaped `<collection>.jsonl` directories
    * under `dir`.
    */
  def writeMix(spark: SparkSession, mix: Mix, seed: Long, dir: String): Inputs = {
    Files.delete(dir)
    for ((name, df) <- collections(spark, mix, seed)) writeJson(df, s"$dir/$name.jsonl")
    Inputs(dir, mix.counts, Files.size(dir), Files.digest(dir))
  }

  /** One JSON document per line; a string value `~<oid>` (array elements
    * only) becomes the `{"_id": <oid>}` document shape of a mongoexport of
    * a collection whose references were written by two application
    * versions.
    */
  private def writeJson(df: DataFrame, path: String): Unit =
    df.select(regexp_replace(to_json(struct(df.columns.map(col): _*)),
        "\"~([0-9a-f]{24})\"", "{\"_id\":\"$1\"}").as("value"))
      .write.mode("overwrite").text(path)

  // ---- curate_corpus ------------------------------------------------------

  /** splitmix64 finalizer over (seed, a, b, c): the driver-side hash. */
  def mix(seed: Long, a: Long, b: Long, c: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + a * 0xBF58476D1CE4E5B9L +
      b * 0x94D049BB133111EBL + c * 0x2545F4914F6CDD1DL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def unit(h: Long): Double = ((h >>> 11).toDouble + 0.5) / (1L << 53).toDouble

  /** Function words first (they carry the language-id markers), then
    * fixed-width syllable spellings of ranks (the DevZipfGen construction):
    * frequent words are short, rare words long.
    */
  private val FunctionWords = Array("the", "of", "and", "to", "a", "in", "is", "that", "it",
    "for", "on", "with", "as", "was", "by", "at", "from", "this", "be", "or")
  private val Syllables = Array("th", "he", "in", "er", "an", "re", "on", "at", "en", "nd",
    "ti", "es", "or", "te", "of", "ed", "is", "it", "al", "ar", "st", "to", "nt", "ng",
    "se", "ha", "as", "ou", "io", "le", "ve", "co", "me", "de", "hi", "ri", "ro", "ic",
    "ne", "ea", "ra", "ce", "li", "ch", "ll", "be", "ma", "si", "om", "ur", "ca", "el",
    "ta", "la", "ns", "di", "fo", "ho", "pe", "ec", "pr", "no", "ct", "us")
  val Vocab = 20000
  def word(rank: Int): String =
    if (rank <= FunctionWords.length) FunctionWords(rank - 1)
    else {
      val sb = new StringBuilder
      var r = rank
      while (r > 0) { sb.append(Syllables(r % 64)); r /= 64 }
      sb.toString
    }

  /** Zipf(1.07) rank by inverse-CDF of the continuous power law. */
  private def zipfRank(u: Double): Int = {
    val s = 1.07
    val a = math.pow(Vocab.toDouble, 1 - s) - 1
    math.min(Vocab, math.max(1, math.pow(a * u + 1, 1 / (1 - s)).toInt))
  }

  private val Boilerplate = 24 // distinct shared spans
  private def base(seed: Long, d: Long): Array[String] = {
    val len = 40 + (mix(seed, d, 1, 0) >>> 1) % 80
    Array.tabulate(len.toInt)(j => word(zipfRank(unit(mix(seed, d, 2, j)))))
  }

  /** Document `d` of an `n`-doc corpus. Hash classes plant a removal family
    * for every TrainPrep stage: exact and near duplicates (curation),
    * low-quality and marker-free text (curation gates), rare-word text
    * (the perplexity gate), contained slices (containment) and shared
    * boilerplate spans (substring removal). Planted copies point at a
    * lower id, which survives.
    */
  def docText(seed: Long, n: Long, d: Long): String = {
    val cls = (mix(seed, d, 0, 0) >>> 1) % 100
    def src: Long = if (d == 0) 0 else (mix(seed, d, 3, 0) >>> 1) % d
    cls match {
      case c if c < 6 && d > 0 => base(seed, src).mkString(" ") // exact duplicate
      case c if c < 12 && d > 0 => // near duplicate: ~5 % of tokens replaced
        base(seed, src).zipWithIndex.map { case (w, j) =>
          if ((mix(seed, d, 4, j) >>> 1) % 20 == 0) word(zipfRank(unit(mix(seed, d, 5, j))))
          else w
        }.mkString(" ")
      case c if c < 16 && d > 0 => // contained: a contiguous 40 % slice
        val b = base(seed, src)
        val take = math.max(12, b.length * 2 / 5)
        b.slice(b.length - take, b.length).mkString(" ")
      case c if c < 19 => // low quality
        Array.tabulate(30)(j => s"#${(mix(seed, d, 6, j) >>> 1) % 1000}!!").mkString(" ")
      case c if c < 22 => // no language markers
        Array.tabulate(60)(j => word(21 + ((mix(seed, d, 7, j) >>> 1) % 2000).toInt))
          .mkString(" ")
      case c if c < 25 => // rare words: high perplexity under the corpus LM
        Array.tabulate(80)(j =>
          if (j % 6 == 0) "the"
          else word(5000 + ((mix(seed, d, 8, j) >>> 1) % (Vocab - 5000)).toInt))
          .mkString(" ")
      case c if c < 31 => // shared boilerplate span appended
        val span = (mix(seed, d, 9, 0) >>> 1) % Boilerplate
        (base(seed, d) ++ Array.tabulate(12)(j => word(100 + (span * 12 + j).toInt)))
          .mkString(" ")
      case _ => base(seed, d).mkString(" ")
    }
  }

  /** Writes the `(doc_id, text)` corpus to `<dir>/documents.parquet`. */
  def writeCorpus(spark: SparkSession, n: Long, seed: Long, dir: String): Inputs = {
    import spark.implicits._
    Files.delete(dir)
    spark.range(0, n, 1, 4).map(d => (d.longValue, docText(seed, n, d)))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Inputs(dir, Map("documents" -> n), Files.size(dir), Files.digest(dir))
  }
}

/** Local-filesystem helpers for the benchmark's own work directories. */
object Files {
  import java.nio.file.{Files => JFiles, Path, Paths}
  import scala.jdk.CollectionConverters._

  private def walk(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    if (!JFiles.exists(root)) Nil
    else {
      val s = JFiles.walk(root)
      try s.iterator().asScala.toList finally s.close()
    }
  }

  /** Data files: no Spark/Hadoop markers or checksums. */
  def dataFiles(dir: String): Seq[Path] = walk(dir).filter { p =>
    val n = p.getFileName.toString
    JFiles.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
  }

  def size(dir: String): Long = dataFiles(dir).map(p => JFiles.size(p)).sum

  def delete(dir: String): Unit =
    walk(dir).reverse.foreach(p => JFiles.deleteIfExists(p))

  /** SHA-256 over every data file's content, files ordered by their path
    * with Spark's per-write job uuid removed from the part-file name.
    */
  def digest(dir: String): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val root = Paths.get(dir)
    val files = dataFiles(dir).map(p => root.relativize(p).toString
      .replaceAll("-[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "") -> p)
      .sortBy(_._1)
    for ((name, p) <- files) {
      md.update(name.getBytes(StandardCharsets.UTF_8))
      md.update(JFiles.readAllBytes(p))
    }
    md.digest().take(12).map(b => f"${b & 0xff}%02x").mkString
  }
}
