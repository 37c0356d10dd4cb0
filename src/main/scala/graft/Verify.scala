package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Engine's Verify conf table: no AQE entries, no extensions
    val cpus = Engine.cpus()
    val spark = Engine.build(Engine.Kind.Verify, Engine.local(cpus), cpus)
    new java.io.File(outDir).mkdirs()
    // Subset knob for big-SF spot checks, mirroring Bench's: the driver
    // contract (no env set) still dumps every query.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // The LSH bucket guard diverges from plain-join semantics the moment it
    // activates (star-collapse / sub-split / drop). Oracle SQL computes the
    // plain join, so a query whose guard metrics are nonzero must FAIL the
    // gate loudly instead of letting DuckDB compare diverged semantics
    // (VERDICT r6 #4). Each query runs in its own metrics scope: the scope
    // drains the listener bus on exit, also when the query throws, so no
    // late metric of one query is attributed to the next.
    def guardViolations(observed: Map[String, Map[String, Any]]): Seq[String] =
      observed.toSeq
        .filter { case (name, _) => name.startsWith("lsh_bucket_guard_") }
        .flatMap { case (name, fields) =>
          fields.collect {
            case (f, v: Long) if v != 0L => s"$name.$f=$v"
            case (f, v: Double) if v != 0.0 => s"$name.$f=$v"
          }
        }
    SparkEntry.queries.filter { case (n, _) => only.forall(_(n)) }.foreach { case (name, fn) =>
      try {
        val (_, observed) = graft.run.MetricsCollector.during(spark, s"verify $name") {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        }
        // Only oracle-compared queries can "diverge from the oracle" —
        // rows-only queries (no oracleSql entry, e.g. q61's xxhash64
        // pipeline) keep their output: guard activation is their designed
        // bounded-work behavior, not a gate violation.
        // Containment's candidate-budget guard is SQL-mirrored (the oracle
        // computes the same posting cap), so activation never diverges from
        // the oracle — report it, don't withhold (VERDICT r9 #2: "drop
        // metric visible in Verify's guard report").
        val info = observed.toSeq
          .filter { case (n2, _) => n2.startsWith("containment_guard_") }
          .flatMap { case (n2, fields) =>
            fields.collect { case (f, v: Long) if f == "dropped_postings" && v != 0L =>
              s"$n2.$f=$v" }
          }
        if (info.nonEmpty)
          System.err.println(s"[verify] $name note: containment candidate-budget " +
            s"guard active (${info.mkString(", ")}) — oracle mirrors the cap; " +
            "curate-first (q69 order) avoids the recall loss")
        // Guard-MIRRORED oracles (q87): the oracle SQL computes the same
        // star-collapse, so activation never diverges — report as a note,
        // don't withhold (the containment-guard precedent above).
        val mirrored =
          if (SparkEntry.guardMirroredOracles(name)) guardViolations(observed)
          else Seq.empty
        if (mirrored.nonEmpty)
          System.err.println(s"[verify] $name note: LSH bucket guard active " +
            s"(${mirrored.mkString(", ")}) — oracle mirrors the star-collapse")
        val bad =
          if (SparkEntry.oracleSql.contains(name) &&
            !SparkEntry.guardMirroredOracles(name)) guardViolations(observed)
          else Seq.empty
        if (bad.nonEmpty) {
          System.err.println(
            s"[verify] $name failed: LSH bucket guard active (${bad.mkString(", ")}) — " +
              "pair semantics diverge from the plain-join oracle; output withheld")
          deleteRecursively(new java.io.File(s"$outDir/$name"))
        }
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRecursively)
    f.delete()
  }
}
