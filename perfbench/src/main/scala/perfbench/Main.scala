package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files => JFiles, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.Engine
import graft.validate.Checks

/** The benchmark's entry point:
  *
  * {{{
  * perfbench.Main --workload <name> [--seed 1] [--seconds 10] [--trace 0|1]
  *   [--work <dir>] [--expected <file>] [--record]
  * }}}
  *
  * Set-up (session start and input generation) is timed on its own; then
  * the workload repeats until `--seconds` have passed (at least once) and
  * every end-to-end metric is the median over those iterations. With
  * `--trace 1` one traced iteration gives the per-layer metrics. The last
  * stdout line is the result JSON; the exit code is 1 when the output gate
  * failed. `--record` stores this run's output digests as the expected
  * ones for its seed.
  */
object Main {

  final case class Args(
      workload: String = "", seed: Long = 1L, seconds: Int = 10, trace: Boolean = false,
      work: String = ".bench_build/perfbench", expected: String = "perfbench/expected.tsv",
      record: Boolean = false)

  def parse(args: Seq[String]): Args = {
    def loop(rest: List[String], a: Args): Args = rest match {
      case Nil => a
      case "--workload" :: v :: t => loop(t, a.copy(workload = v))
      case "--seed" :: v :: t => loop(t, a.copy(seed = v.toLong))
      case "--seconds" :: v :: t => loop(t, a.copy(seconds = v.toInt))
      case "--trace" :: v :: t =>
        require(v == "0" || v == "1", s"--trace must be 0 or 1; got $v")
        loop(t, a.copy(trace = v == "1"))
      case "--work" :: v :: t => loop(t, a.copy(work = v))
      case "--expected" :: v :: t => loop(t, a.copy(expected = v))
      case "--record" :: t => loop(t, a.copy(record = true))
      case other :: _ => throw new IllegalArgumentException(s"unknown argument: $other")
    }
    val a = loop(args.toList, Args())
    require(a.workload.nonEmpty, "--workload is required")
    require(a.seconds > 0, s"--seconds must be positive; got ${a.seconds}")
    a
  }

  /** Iterations stop starting once a run has used this much wall time, so
    * a slow machine still finishes inside the 180 s run limit.
    */
  private val HardStopS = 120.0

  /** What one run printed: its metrics and the output gate's verdict. */
  final case class Result(
      correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, Double, String)], info: String, problems: Seq[String]) {
    def json: String = {
      val body = metrics.map { case (n, v, u) => s""""$n":{"value":${num(v)},"unit":"$u"}""" }
      s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
        s""""metrics":{${body.mkString(",")}}}"""
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toSeq)
    val (spark, sessionS) = Workloads.timed(
      Engine.session(master = "local[4]", shufflePartitions = 4, appName = "perfbench"))
    val r = try measure(spark, sessionS, Workloads.byName(a.workload), a)
      finally spark.stop()
    println(r.info)
    r.problems.take(40).foreach(p => println(s"[perfbench] FAIL $p"))
    println(r.json)
    if (!r.correct) sys.exit(1)
  }

  /** Set-up, measurement and output gate of one run of `w`. */
  def measure(spark: SparkSession, sessionS: Double, w: Workload, a: Args): Result = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val tag = s"${w.name}-seed${a.seed}"
    val ledger = if (a.trace) Some(new JobLedger) else None
    ledger.foreach(spark.sparkContext.addSparkListener)
    try {
      val tracer = new Tracer(spark.sparkContext, a.trace, tag)
      val quiet = new Ctx(spark, new Tracer(spark.sparkContext, on = false, tag))

      // set-up: session start and input generation. Generation runs the
      // session's first Spark jobs (json/parquet writers, shuffles, UDFs),
      // so those one-time costs are not billed to the first entity.
      val (inputs, genS) = Workloads.timed(w.generate(spark, a.seed, s"${a.work}/in/$tag"))
      val setupS = sessionS + genS
      progress(f"set-up $setupS%.2f s (session $sessionS%.2f s, " +
        f"inputs ${inputs.bytes / 1e6}%.1f MB in $genS%.2f s)")

      // measurement. An untraced run repeats the workload until --seconds
      // have passed (at least once). A traced run measures one traced
      // iteration, in the position an untraced run's first iteration has.
      val heap = new HeapMonitor
      val deadline = System.nanoTime() + a.seconds * 1000000000L
      val out = s"${a.work}/out/$tag"
      val plain = mutable.ArrayBuffer.empty[Iteration]
      def elapsedS = (System.currentTimeMillis() - jvmStart) / 1000.0
      def report(it: Iteration): Unit =
        progress(f"iteration run ${it.runS}%.2f s, validate ${it.validateS}%.2f s")
      def untracedIteration(): Unit = {
        plain += w.iterate(quiet, inputs, out)
        spark.catalog.clearCache()
        report(plain.last)
      }
      val traced = if (!a.trace) {
        untracedIteration()
        while (System.nanoTime() < deadline &&
          elapsedS + plain.map(i => i.runS + i.validateS).max < HardStopS) untracedIteration()
        None
      } else {
        org.apache.spark.GraftListenerBridge.waitListenerBusEmpty(spark.sparkContext)
        ledger.foreach(_.reset())
        val run = tracer.span("bench", "iteration")(
          w.iterate(new Ctx(spark, tracer), inputs, out))
        // the ledger is read next: an undrained bus would undercount jobs
        val it = if (org.apache.spark.GraftListenerBridge.waitListenerBusEmpty(spark.sparkContext))
          run else run.copy(failures = run.failures :+ "listener bus did not drain after the run")
        spark.catalog.clearCache()
        report(it)
        Some(Traced(it, tracer.spans, ledger.map(_.allJobs).getOrElse(Nil),
          ledger.map(_.usageByGroup).getOrElse(Map.empty)))
      }
      // the tracing overhead: this traced cutover minus the untraced one of
      // the same seed in this work directory, whose records the launcher
      // clears on every rebuild; missing when no untraced run was made
      val overheadS = traced.map(t => Record.runS(a.work, tag).map(t.it.runS - _))
      val heapPeakMb = heap.stop() / 1e6

      // output gate
      val all = traced.map(_.it).toSeq ++ plain
      val expected = Expected.load(a.expected, w.name, a.seed)
      val reference = if (a.record || expected.isEmpty) all.head.digests else expected
      val missing = if (!a.record && expected.isEmpty && a.seed == Expected.DefaultSeed)
        Seq(s"no recorded digests for ${w.name} in ${a.expected}") else Nil
      val (attempted, failed, mismatches) = Gate.judge(all, reference, w)
      val problems = missing ++ mismatches
      if (a.record) Expected.save(a.expected, w.name, a.seed, all.head.digests)

      val sourceRows = inputs.rows.values.sum.toDouble
      val metrics: Seq[(String, Double, String)] =
        if (!a.trace) Seq(
          ("setup_s", setupS, "s"),
          ("run_s", median(plain.map(_.runS).toSeq), "s"),
          ("rows_per_s", median(plain.map(i => sourceRows / i.runS).toSeq), "rows/s"),
          ("validate_s", median(plain.map(_.validateS).toSeq), "s"),
          ("ok_share", 1.0 - failed.toDouble / attempted, "ratio"),
          ("bytes_out_per_byte_in", all.head.outBytes.toDouble / inputs.bytes, "ratio"),
          ("heap_peak_mb", heapPeakMb, "MB"))
        else Layers.metrics(traced.get, out, a.seed)

      val info = s"[perfbench] workload=${w.name} seed=${a.seed} " +
        s"input_digest=${inputs.digest} input_mb=${inputs.bytes / 1e6} " +
        s"setup: session=$sessionS gen=$genS " +
        s"iterations=${all.size} traced=${traced.size} run_s=${all.map(_.runS).mkString(",")} " +
        s"validate_s=${all.map(_.validateS).mkString(",")}" + overheadS.fold("")(o =>
          " trace.overhead_s=" +
            o.fold("missing (no untraced run of this seed and build)")(_.toString))
      writeRecord(a, tag, info +: (problems.map("FAIL " + _) ++
        traced.toSeq.flatMap(Layers.callSites)), metrics, all.head.digests, tracer.spans)
      Result(problems.isEmpty, attempted, failed, metrics, info, problems)
    } finally ledger.foreach(spark.sparkContext.removeSparkListener)
  }

  private def progress(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  private def writeRecord(a: Args, tag: String, head: Seq[String],
      metrics: Seq[(String, Double, String)], digests: Map[String, String],
      spans: Seq[Tracer.Span]): Unit = {
    val dir = Paths.get(a.work, "results")
    JFiles.createDirectories(dir)
    val name = s"$tag-trace${if (a.trace) 1 else 0}"
    val lines = head ++
      metrics.map { case (n, v, u) => s"$n\t${num(v)}\t$u" } ++
      digests.toSeq.sorted.map { case (k, v) => s"digest\t$k\t$v" }
    JFiles.write(dir.resolve(s"$name.txt"), lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    if (spans.nonEmpty)
      JFiles.write(dir.resolve(s"$name.spans.jsonl"),
        spans.map(_.json).mkString("\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** The driver's peak heap after collection: after every garbage collection
  * in the measured window, young ones included, the heap in use right after
  * it (summed over the heap pools), keeping the maximum. Unlike raw heap use,
  * it does not track when the collector happens to run; unlike per-pool
  * collection usage, it is not left stale by collections that skip a pool.
  */
final class HeapMonitor {
  import scala.jdk.CollectionConverters._
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val peak = new java.util.concurrent.atomic.AtomicLong(0L)
  private val listener: NotificationListener = (n: Notification, _: AnyRef) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val after = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
        case (pool, use) if heapPools(pool) => use.getUsed }.sum
      peak.accumulateAndGet(after, math.max(_, _))
    }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  /** The peak; with no collection in the window, the heap in use at its end. */
  def stop(): Long = {
    emitters.foreach(_.removeNotificationListener(listener))
    if (peak.get > 0) peak.get else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }
}

/** The output gate: every iteration's checks must pass under the
  * `Checks.verdict` rule (critical checks included), its table digests must
  * equal the reference, and nothing may arrive late or not at all. Returns
  * (operations attempted, operations failed, problems).
  */
object Gate {
  def judge(its: Seq[Iteration], reference: Map[String, String], w: Workload)
      : (Long, Long, Seq[String]) = {
    val (critical, writes) = w match {
      case m: Migrate => (m.critical, m.entityTables.size + m.postTables.size)
      case _ => (Set.empty[String], 1)
    }
    val problems = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L
    for ((it, i) <- its.zipWithIndex) {
      if (!Checks.verdict(it.checks, critical = critical)._1)
        problems += s"iteration $i: validation verdict failed"
      val badChecks = it.checks.filterNot(_.passed)
      badChecks.foreach(c => problems += s"iteration $i: check ${c.name}: ${c.detail}")
      val keys = reference.keySet ++ it.digests.keySet
      val mismatched = keys.toSeq.sorted.filter(k => reference.get(k) != it.digests.get(k))
      mismatched.foreach(k => problems += s"iteration $i: $k = " +
        s"${it.digests.getOrElse(k, "absent")}, expected ${reference.getOrElse(k, "absent")}")
      it.failures.foreach(f => problems += s"iteration $i: $f")
      attempted += keys.size + it.checks.size + it.failures.size + writes
      failed += mismatched.size + badChecks.size + it.failures.size
    }
    (attempted, failed, problems.toSeq)
  }
}

/** The per-run records in the work directory. */
object Record {
  /** run_s of the untraced run of `tag` (workload-seed), if one was made. */
  def runS(work: String, tag: String): Option[Double] = {
    val p = Paths.get(work, "results", s"$tag-trace0.txt")
    if (!JFiles.exists(p)) None
    else new String(JFiles.readAllBytes(p), StandardCharsets.UTF_8).linesIterator
      .map(_.split('\t')).collectFirst { case Array("run_s", v, _) => v.toDouble }
  }
}

/** The recorded output digests: `workload<TAB>seed<TAB>key<TAB>value`. */
object Expected {
  val DefaultSeed = 1L

  def load(path: String, workload: String, seed: Long): Map[String, String] = {
    val p = Paths.get(path)
    if (!JFiles.exists(p)) Map.empty
    else new String(JFiles.readAllBytes(p), StandardCharsets.UTF_8).linesIterator
      .map(_.split('\t')).collect {
        case Array(w, s, k, v) if w == workload && s == seed.toString => k -> v
      }.toMap
  }

  def save(path: String, workload: String, seed: Long, digests: Map[String, String]): Unit = {
    val p = Paths.get(path)
    val kept = if (!JFiles.exists(p)) Nil
      else new String(JFiles.readAllBytes(p), StandardCharsets.UTF_8).linesIterator
        .filterNot(l => l.startsWith(s"$workload\t$seed\t")).toList
    val mine = digests.toSeq.sorted.map { case (k, v) => s"$workload\t$seed\t$k\t$v" }
    JFiles.write(p, (kept ++ mine).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}
