package perfbench

import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{ReEncrypt, TimeUuid, Uuid5}
import graft.model.Entities
import graft.transform.Rules

/** One traced iteration: its result, its spans, and the Spark jobs and
  * per-group usage the [[JobLedger]] saw while it ran.
  */
final case class Traced(
    it: Iteration,
    spans: Seq[Tracer.Span],
    jobs: Seq[JobLedger.Job],
    usage: Map[String, Layers.Usage])

/** The per-layer metrics of a traced run. */
object Layers {

  final case class Usage(tasks: Long, cpuNs: Long, shuffleWrite: Long, spill: Long)

  val ResourceLayers: Seq[String] = Seq("sources", "run", "sink", "post", "validate", "operators")
  val SpanLayers: Seq[String] = Seq("bench", "sources", "transform", "run", "sink", "post",
    "validate", "operators")
  val PostTables: Seq[String] = Seq("rooms_by_user", "p2p_lookup", "membership_lookup",
    "reverse_lookups")
  /** operators metric -> the engine source file it charges a job to: the
    * innermost of these files on the job's call stack.
    */
  val OperatorFiles: Seq[(String, String)] = Seq("curation" -> "Curation.scala",
    "text_analysis" -> "TextAnalysis.scala", "dedup" -> "Dedup.scala",
    "train_prep" -> "TrainPrep.scala")

  /** Every per-layer metric name with its unit, in output order. */
  val names: Seq[(String, String)] =
    Seq("sources.s" -> "s", "sources.jobs" -> "count", "sources.rows" -> "rows",
      "transform.plan_s" -> "s", "transform.eager_jobs" -> "count",
      "run.compute_s" -> "s", "run.jobs" -> "count", "run.queries" -> "count",
      "run.tasks" -> "count",
      "run.driver_gap_s" -> "s", "run.metrics_missing" -> "count",
      "run.largest_cached_mb" -> "MB", "run.storage_mem_mb" -> "MB") ++
      Entities.ordered.map(e => s"entity.${e.name}_s" -> "s") ++
      Seq("functions.reencrypt_us" -> "us", "functions.uuid5_us" -> "us",
        "functions.timeuuid_us" -> "us",
        "sink.write_s" -> "s", "sink.mb" -> "MB", "sink.files" -> "count") ++
      PostTables.map(p => s"post.${p}_s" -> "s") ++
      Seq("validate.checks" -> "count", "validate.jobs" -> "count") ++
      OperatorFiles.map(o => s"operators.${o._1}_s" -> "s") ++
      Seq("operators.jobs" -> "count",
        "prep.keep_curated" -> "ratio", "prep.keep_lm" -> "ratio",
        "prep.keep_contain" -> "ratio", "prep.keep_clean" -> "ratio",
        "prep.guard_dropped" -> "count") ++
      ResourceLayers.flatMap(l => Seq(s"$l.cpu_s" -> "s", s"$l.shuffle_write_mb" -> "MB",
        s"$l.spill_mb" -> "MB")) ++
      SpanLayers.map(l => s"$l.self_s" -> "s") ++
      Seq("trace.wall_s" -> "s")

  /** Jobs and job seconds per call-site source file, then one line per job
    * (span, call site, query, stage shape, outcome), for the run record: two
    * records of the same code diff to the job one of them ran and the other
    * did not.
    */
  def callSites(t: Traced): Seq[String] = {
    val spanOf = t.spans.map(s => Tracer.group(s.id) -> s"${s.layer}:${s.name}").toMap
    def site(j: JobLedger.Job) = if (j.frames.isEmpty) "?" else j.frames.take(4).mkString("<")
    t.jobs.groupBy(site).toSeq.sortBy(-_._2.size).map { case (f, js) =>
      f"callsite\t$f\t${js.size}\t${js.map(j => math.max(0L, j.end - j.start)).sum / 1e3}%.3f"
    } ++ t.jobs.map(j =>
      s"job\t${spanOf.getOrElse(j.group, "(no span)")}\t${site(j)}\t${j.query}\t${j.detail}" +
        s"\t${if (j.succeeded) "ok" else "failed"}")
  }

  def metrics(t: Traced, out: String, seed: Long)
      : Seq[(String, Double, String)] = {
    val root = t.spans.find(_.parent == 0).get
    val layerOf: Map[String, String] = t.spans.map(s => Tracer.group(s.id) -> s.layer).toMap
    def jobsIn(layer: String) = t.jobs.filter(j => layerOf.get(j.group).contains(layer))
    def spansOf(layer: String) = t.spans.filter(_.layer == layer)
    def use(layer: String): Usage = t.usage.collect {
      case (g, u) if layerOf.get(g).contains(layer) => u
    }.foldLeft(Usage(0, 0, 0, 0))((a, b) => Usage(a.tasks + b.tasks,
      a.cpuNs + b.cpuNs, a.shuffleWrite + b.shuffleWrite, a.spill + b.spill))
    def jobSeconds(js: Seq[JobLedger.Job]) = js.map(j => math.max(0L, j.end - j.start)).sum / 1e3
    // jobs are counted only when they ran under one of this run's spans
    val cutover = t.jobs.filter(j => layerOf.get(j.group).exists(_ != "validate"))
    val intervals = t.jobs.filter(_.end >= 0).map(j => (j.start, j.end)).sortBy(_._1)
    val busyMs = intervals.foldLeft((0L, Long.MinValue)) { case ((sum, reach), (s, e)) =>
      if (e <= reach) (sum, reach) else (sum + e - math.max(s, reach), e)
    }._1
    val self = Tracer.selfTimes(t.spans)
    val (reencryptUs, uuid5Us, timeuuidUs) = Funcs.measure(seed)
    val d = t.it.detail
    val opFiles = OperatorFiles.map(_._2).toSet
    def operatorOf(j: JobLedger.Job) = j.frames.find(opFiles)
    val sinkWrite = d.getOrElse("sink.write_s", jobSeconds(t.jobs.filter(j =>
      operatorOf(j).isEmpty && j.frames.contains("Sinks.scala"))))

    val values: Map[String, Double] = Map(
      "sources.s" -> spansOf("sources").map(_.seconds).sum,
      "sources.jobs" -> jobsIn("sources").size.toDouble,
      "transform.plan_s" -> spansOf("transform").map(_.seconds).sum,
      "transform.eager_jobs" -> jobsIn("transform").size.toDouble,
      "run.jobs" -> cutover.size.toDouble,
      "run.queries" -> cutover.map(_.query).distinct.size.toDouble,
      "run.tasks" -> t.usage.collect { case (g, u) if layerOf.get(g).exists(_ != "validate") =>
        u.tasks }.sum.toDouble,
      "run.driver_gap_s" -> (root.seconds - busyMs / 1e3),
      "functions.reencrypt_us" -> reencryptUs,
      "functions.uuid5_us" -> uuid5Us,
      "functions.timeuuid_us" -> timeuuidUs,
      "sink.write_s" -> sinkWrite,
      "sink.mb" -> Files.size(out) / 1e6,
      "sink.files" -> Files.dataFiles(out).size.toDouble,
      "validate.jobs" -> jobsIn("validate").size.toDouble,
      "operators.jobs" -> jobsIn("operators").size.toDouble,
      "trace.wall_s" -> root.seconds) ++
      OperatorFiles.map { case (m, f) =>
        s"operators.${m}_s" -> jobSeconds(t.jobs.filter(j => operatorOf(j).contains(f))) } ++
      ResourceLayers.flatMap { l =>
        val u = use(l)
        Seq(s"$l.cpu_s" -> u.cpuNs / 1e9, s"$l.shuffle_write_mb" -> u.shuffleWrite / 1e6,
          s"$l.spill_mb" -> u.spill / 1e6)
      } ++
      SpanLayers.map(l => s"$l.self_s" -> self.getOrElse(l, 0.0))

    // layers a workload never calls (entities on curate_corpus, operators
    // on the migrations) spent 0 s and ran 0 jobs
    names.map { case (n, u) => (n, values.getOrElse(n, d.getOrElse(n, 0.0)), u) }
  }
}

/** Per-call cost of the row functions the message stage applies, over a
  * fixed sample of generated payloads (~20 % Salsa20-encrypted, as in the
  * workloads): median of five timed passes after two warm-up passes.
  */
object Funcs {
  private val Sample = 4000
  private val Passes = 25

  def measure(seed: Long): (Double, Double, Double) = {
    val plain = (0 until Sample).map(i =>
      s"mensaje de prueba $i con texto ${Gen.mix(seed, i, 11, 0) >>> 40}")
    val payloads = plain.zipWithIndex.map { case (p, i) =>
      if (i % 5 == 0) ReEncrypt.encryptSalsa20(p, Rules.LegacyKey) else p }.toArray
    val names = (0 until Sample).map(i => UTF8String.fromString(f"${i + 1}%024x")).toArray
    val micros = Array.tabulate(Sample)(i => 1700000000000000L + i * 1000L)
    val seeds = names.map(_.toString)
    var sink = 0L
    def perCallUs(f: Int => Int): Double = {
      def pass(): Double = {
        val t0 = System.nanoTime()
        var r = 0
        while (r < Passes) { var i = 0; while (i < Sample) { sink += f(i); i += 1 }; r += 1 }
        (System.nanoTime() - t0) / 1e3 / (Passes.toLong * Sample)
      }
      pass(); pass()
      Main.median(Seq.fill(5)(pass()))
    }
    val out = (
      perCallUs(i => ReEncrypt.migrate(payloads(i), Rules.LegacyKey, Rules.NewPassword)
        .reencrypted.length),
      perCallUs(i => Uuid5.compute(names(i)).numBytes()),
      perCallUs(i => TimeUuid.compute(micros(i), seeds(i)).length))
    if (sink == 42L) println(sink) // keeps the results observable to the JIT
    out
  }
}
