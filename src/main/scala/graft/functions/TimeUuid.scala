package graft.functions

import java.security.MessageDigest

/** Deterministic RFC 4122 version-1 (time-based) UUIDs.
  *
  * The reference mints a v1 TimeUUID per message from its `created_at`
  * (reference `etl/utils/cassandra_id_mapper.py:116-138`) and caches it per
  * mongo_id; the wall-clock/node parts make its output unreproducible across
  * runs. We keep the contract that matters — the 60-bit timestamp orders ids
  * by event time (target DDL `backups/create_scylla_database.cql:46` clusters
  * `ORDER BY message_id DESC`) — and make the clock-sequence + node fields a
  * hash of a caller-supplied seed (the mongo_id), so regeneration is stable
  * and oracle-testable (SURVEY.md §7.4 risk 2).
  */
object TimeUuid {

  /** 100-ns intervals between 1582-10-15 (Gregorian epoch) and 1970-01-01. */
  val GregorianOffset100Ns: Long = 122192928000000000L

  /** @param epochMicros event time in microseconds since the Unix epoch
    * @param seed        entropy source for clockseq+node (e.g. the source id)
    */
  def compute(epochMicros: Long, seed: String): String =
    compute(epochMicros, seed.getBytes("UTF-8"))

  /** Byte-seed core (the native expression path hands UTF8String bytes over
    * without materializing a java.lang.String). Hex assembly is a manual
    * StringBuilder — the original `f"...%08x"` interpolator compiled to a
    * locale-aware `String.format`, which DOMINATED the per-row cost
    * (measured by the round-5 A/B; NOTES.md round 5).
    */
  def compute(epochMicros: Long, seed: Array[Byte]): String = {
    val t = epochMicros * 10L + GregorianOffset100Ns // 100-ns units
    val timeLow = t & 0xffffffffL
    val timeMid = (t >>> 32) & 0xffffL
    val timeHiVersion = ((t >>> 48) & 0x0fffL) | 0x1000L

    val md = MessageDigest.getInstance("SHA-1").digest(seed)
    val clockSeq = (((md(0) & 0x3f) | 0x80) << 8) | (md(1) & 0xff) // variant 10xx
    val node = ((md(2) & 0xffL) << 40) | ((md(3) & 0xffL) << 32) |
      ((md(4) & 0xffL) << 24) | ((md(5) & 0xffL) << 16) |
      ((md(6) & 0xffL) << 8) | (md(7) & 0xffL)

    val sb = new java.lang.StringBuilder(36)
    appendHex(sb, timeLow, 8)
    sb.append('-')
    appendHex(sb, timeMid, 4)
    sb.append('-')
    appendHex(sb, timeHiVersion, 4)
    sb.append('-')
    appendHex(sb, clockSeq.toLong, 4)
    sb.append('-')
    appendHex(sb, node, 12)
    sb.toString
  }

  /** Fixed-width lowercase hex, zero-padded — bit-identical to `%0${n}x`. */
  private def appendHex(sb: java.lang.StringBuilder, v: Long, digits: Int): Unit = {
    var shift = (digits - 1) * 4
    while (shift >= 0) {
      sb.append(Character.forDigit(((v >>> shift) & 0xf).toInt, 16))
      shift -= 4
    }
  }

  /** Inverse of the timestamp part — lets tests assert order preservation. */
  def extractEpochMicros(uuid: String): Long = {
    val p = uuid.split("-")
    val timeLow = java.lang.Long.parseLong(p(0), 16)
    val timeMid = java.lang.Long.parseLong(p(1), 16)
    val timeHi = java.lang.Long.parseLong(p(2), 16) & 0x0fffL
    val t = (timeHi << 48) | (timeMid << 32) | timeLow
    (t - GregorianOffset100Ns) / 10L
  }

  /** Codegen entry point: UTF8String in/out, no java.lang.String seed. */
  def computeUtf8(epochMicros: Long,
      seed: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String =
    org.apache.spark.unsafe.types.UTF8String.fromString(compute(epochMicros, seed.getBytes))
}

/** `timeuuid(epoch_micros, seed)` as a native Catalyst expression — stays
  * inside whole-stage codegen and skips the Scala-UDF encoder round-trip
  * (boxing both arguments and re-encoding the result row per call). The
  * [[TimeUuid.compute]] output is bit-identical to the UDF it replaces
  * (TimeUuidSpec pins the vectors; NOTES.md round 5 records the A/B).
  */
case class TimeUuidExpr(
    left: org.apache.spark.sql.catalyst.expressions.Expression,
    right: org.apache.spark.sql.catalyst.expressions.Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  import org.apache.spark.sql.catalyst.expressions.Expression
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  import org.apache.spark.sql.types.{DataType, LongType, StringType}

  override def dataType: DataType = StringType
  override def prettyName: String = "timeuuid"

  // Analysis inserts the same casts the Scala API applies explicitly, so the
  // SQL-registered graft_timeuuid keeps the old UDF's implicit coercion —
  // without this, graft_timeuuid(42, s) passed analysis but the interpreted
  // path threw ClassCastException while codegen silently widened int→long.
  // Declared as Seq[DataType] (covariant) because AbstractDataType is
  // private[sql] and unnameable from this package.
  override def inputTypes: Seq[DataType] = Seq(LongType, StringType)

  override protected def nullSafeEval(micros: Any, seed: Any): Any =
    TimeUuid.computeUtf8(micros.asInstanceOf[Long],
      seed.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (m, s) => s"graft.functions.TimeUuid.computeUtf8($m, $s)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TimeUuidExpr =
    copy(left = newLeft, right = newRight)
}
