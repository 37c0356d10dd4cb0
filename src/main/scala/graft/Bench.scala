package graft
import org.apache.spark.sql.SparkSession
object Bench {

  /** The bench session: [[Engine]]'s `Bench` conf table (no Catalyst
    * extensions, no local-filesystem override) at `SPARK_GRAFT_CPUS` cores.
    */
  def benchSession(): SparkSession = {
    val cpus = Engine.cpus()
    Engine.build(Engine.Kind.Bench, Engine.local(cpus), cpus)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = benchSession()

    // Big-SF drives need partial runs: SPARK_GRAFT_ONLY=q45,q17 restricts
    // to a subset (so one multi-hour rung can't zero a whole suite run and
    // a crashing query can be rerun in isolation); SPARK_GRAFT_WARMUP=0
    // skips the untimed pass (at 100x a third full pass costs an hour —
    // the "cold" rep absorbs JIT and the table reads "warm");
    // SPARK_GRAFT_BENCH_OUT redirects the JSON so chunked runs don't
    // clobber each other. All default to the driver-contract behavior.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val queries = SparkEntry.queries.filter { case (n, _) => only.forall(_(n)) }
    val doWarmup = sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") != "0"
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH.out.json")

    // Runs one query and returns (seconds, error). Failures are NEVER
    // silent: they go to stderr here and into the JSON's "failed" list —
    // a broken query must not read as a faster bench. clearCache between
    // queries keeps one query's cached tables from billing the next.
    // Consumption is toRdd.count(), NOT Dataset.count(): stacking a count
    // aggregate on top lets Catalyst prune every unreferenced projection
    // column and sort, so map-only queries (regex scrub, simhash, crypto,
    // windows whose value column isn't re-aggregated) would bench as bare
    // row-count scans — q20 benched 0.11 s vs 2.6 s honest, q34 0.16 vs
    // 2.4 s. toRdd executes the query's own physical plan in full.
    def run(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        tag: String): (Double, Option[String]) = {
      val t0 = System.nanoTime()
      val err =
        try { fn(spark, sfDir).queryExecution.toRdd.count(); None }
        catch {
          case t: Throwable =>
            System.err.println(s"[bench] $tag $name FAILED: $t")
            Some(t.toString)
        }
      val elapsed = (System.nanoTime() - t0) / 1e9
      // progress to stderr so a multi-hour big-SF run is observable (and a
      // crashed run shows exactly how far it got) — stdout stays JSON-only
      System.err.println(f"[bench] done $tag $name $elapsed%.2f s")
      // cache teardown happens OUTSIDE the timed window — it protects the
      // NEXT query from inherited session state, it is not this query's cost
      spark.catalog.clearCache()
      // clearCache only drops catalog-cached TABLES; a finished query's
      // localCheckpoint blocks (operator-pinned corpora: pair-graph edges,
      // shingle arrays) stay registered until the async ContextCleaner gets
      // to them, and unified memory protects up to storageFraction of those
      // dead blocks from execution-side eviction — at 100x, q33's lingering
      // checkpoints left q45 short of heap and OOM'd a query that passes in
      // isolation. Unpersist them explicitly (blocking, so the headroom is
      // real before the next timer starts).
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      // ContextCleaner frees shuffle files / broadcast blocks only when the
      // driver GC collects their references; a 61-query x3-pass suite on a
      // big heap GCs so rarely that debris accumulates and later passes ran
      // 1.3-2x slower than earlier ones (r7 bench's warm-slower-than-cold
      // was THIS, not box load: measured 62.1s warm/50.1s cold at 8g and
      // 88.1s/71.4s at 16g — bigger heap = fewer GCs = worse). Forcing GC
      // here keeps each query's measurement free of the previous queries'
      // cleanup backlog, like a steady-state cluster where jobs don't share
      // one never-collected driver heap.
      System.gc()
      (elapsed, err)
    }

    // untimed warmup pass: absorbs one-time JVM/JIT/whole-stage-codegen
    // compilation so the timed pass reflects steady-state throughput (the
    // long-running-cluster number; first-query cost was ~5 s of Janino/JIT)
    if (doWarmup) queries.foreach { case (name, fn) => run(name, fn, "warmup") }
    // two timed reps per query: "queries" (the headline) and a second warm
    // rep so ordering/session effects can't masquerade as plan regressions
    val cold = queries.toSeq.map { case (name, fn) => name -> run(name, fn, "cold") }
    // SPARK_GRAFT_WARM=0 skips the second rep: an A/B config campaign at
    // 100x compares cold single-reps and the warm hour is better spent on
    // the other config (the suite default keeps both reps)
    val warm =
      if (sys.env.getOrElse("SPARK_GRAFT_WARM", "1") == "0") Seq.empty
      else queries.toSeq.map { case (name, fn) => name -> run(name, fn, "warm") }

    // q31/q54 memoize their footer-stats rows per (session, dir), so both
    // timed reps above measure a map hit. Clear the memo and time one more
    // run each: the honest first-computation cost of the pushdown footer
    // scan (the number to read as scan cost; the cached entries show the
    // steady-state serving cost).
    val firstComputation = Seq("q31_table_counts", "q54_minmax_stats")
      .filter(queries.contains).map { name =>
        SparkEntry.resetStatsCaches()
        name -> run(name, queries(name), "first")
      }
    // EVERY rep counts toward the failure contract — a first-computation
    // throw (e.g. the pushdown require tripping only on the uncached path)
    // must not read as a fast bench with a clean exit
    val failed =
      (cold ++ warm ++ firstComputation).collect { case (n, (_, Some(_))) => n }.distinct.sorted

    def timesJson(xs: Seq[(String, (Double, Option[String]))]): String =
      xs.map { case (k, (v, _)) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = cold.map(_._2._1).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Error strings belong IN the JSON, not only on stderr: a crashed run's
    // final stderr lines can be lost when the forked JVM exits before sbt's
    // output pump drains (observed: a warm-pass failure whose FAILED line
    // never reached the log, leaving an unexplained "failed" entry).
    // every control char < 0x20 must be escaped, not just \n\t — a raw \b or
    // NUL in an exception message is invalid JSON and an unparseable artifact
    def esc(s: String): String =
      s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
                  case '\r' => "\\r"; case '\t' => "\\t"
                  case c if c < 0x20 => f"\\u${c.toInt}%04x"; case c => c.toString }
    val errorsJson = (cold.map(n => n -> "cold") ++ warm.map(n => n -> "warm") ++
        firstComputation.map(n => n -> "first"))
      .collect { case ((n, (_, Some(e))), tag) => "\"" + n + ":" + tag + "\":\"" + esc(e.take(400)) + "\"" }
      .mkString("{", ",", "}")
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${timesJson(cold)},""" +
        s""""warm":${timesJson(warm)},""" +
        s""""first_computation":${timesJson(firstComputation)},""" +
        s""""failed":$failedJson,"errors":$errorsJson,"sf":"$sfDir"}"""
    // Machine-readable copies: a file the harness can always read, plus the
    // bare JSON as the FINAL stdout line (after spark.stop(), so no late
    // executor log lines can interleave; build.sbt passes forked stdout
    // through unprefixed and suppresses the [success] trailer).
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json + "\n")
    spark.stop()
    println(json)
    if (failed.nonEmpty) sys.exit(1)
  }
}
