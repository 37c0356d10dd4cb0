package graft

import scala.collection.mutable

import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Bpe, Dedup, Multimodal, Sampling, TextAnalysis}
import graft.run.MetricsCollector

/** The dev CLI — every measurement and fixture tool behind one main
  * (`runMain graft.Tools <command> <args>`; `<x>` required, `[x]` optional):
  *
  * {{{
  *   time <queries> <sfDir> [reps]           time queries in one warm JVM
  *   plan <queries> <sfDir>                  formatted physical plans
  *   stages <sfDir> <query> [reps]           jobs + per-stage tasks/shuffle/spill
  *   ab <conf> <valA> <valB> <sfDir> [reps] [queries]
  *                                           interleaved A/B of one session conf
  *   gen zipf [outDir] [vocab] [tokens] [docs]           Zipfian text corpus
  *   gen cluster [outDir] [n] [clusters] [dim] [noise]   clustered embeddings
  *   gen media <sfDir> <outPath>             image/audio/video rows per doc
  *   gen slice <sfDir> <outPath> [source]    one source's docs (LM reference)
  *   ladder scale [sfDir] [outDir]           dedup ladder + guard counters
  *   ladder sem [sfDir] [threshold] [groups] SemDeDup + assignment identity
  *   ladder sem-stages [sfDir] [threshold]   SemDeDup wall per stage
  *   ladder bpe [sfDir] [merges] [batchKs] [encode]  BPE rounds + identity
  *   ladder select [sfDir] [topNs]           DSIR selection, both plans
  * }}}
  *
  * `<queries>` is a comma-separated list of `SparkEntry.queries` names.
  * Every command runs on one session from [[Engine]]'s conf table at
  * `SPARK_GRAFT_CPUS` cores: `stages` and `ab` on the Bench table (the
  * stages `graft.Bench` measures), `gen media` on the generator table,
  * everything else on the full engine session. `GRAFT_CONF="k=v;k=v"` sets
  * extra session confs before the command runs (e.g. a lower
  * `spark.sql.autoBroadcastJoinThreshold`, which moves the statistic the
  * KN window-fuse route reads). Timed consumption is `queryExecution.toRdd
  * .count()` as in `Bench.run`: a stacked count aggregate would let the
  * optimizer prune unevaluated projections.
  */
object Tools {

  /** One command: its session table, its positional-argument usage and
    * its body (handed the validated arguments).
    */
  private final case class Cmd(
      kind: Engine.Kind, usage: String, run: (SparkSession, Seq[String]) => Unit) {
    private val params = usage.split(" ").filter(_.nonEmpty)
    val required: Int = params.count(_.startsWith("<"))
    val max: Int = params.length
  }

  private val commands: Map[String, Cmd] = Map(
    "time" -> Cmd(Engine.Kind.Full, "<queries> <sfDir> [reps]", timeQueries),
    "plan" -> Cmd(Engine.Kind.Full, "<queries> <sfDir>", planDump),
    "stages" -> Cmd(Engine.Kind.Bench, "<sfDir> <query> [reps]", stageMetrics),
    "ab" -> Cmd(Engine.Kind.Bench,
      "<conf> <valA> <valB> <sfDir> [reps] [queries]", confAb),
    "gen zipf" -> Cmd(Engine.Kind.Full, "[outDir] [vocab] [tokens] [docs]", genZipf),
    "gen cluster" -> Cmd(Engine.Kind.Full,
      "[outDir] [n] [clusters] [dim] [noise]", genCluster),
    "gen media" -> Cmd(Engine.Kind.Gen, "<sfDir> <outPath>", genMedia),
    "gen slice" -> Cmd(Engine.Kind.Full, "<sfDir> <outPath> [source]", genSlice),
    "ladder scale" -> Cmd(Engine.Kind.Full, "[sfDir] [outDir]", scaleLadder),
    "ladder sem" -> Cmd(Engine.Kind.Full, "[sfDir] [threshold] [groups]", semLadder),
    "ladder sem-stages" -> Cmd(Engine.Kind.Full, "[sfDir] [threshold]", semStages),
    "ladder bpe" -> Cmd(Engine.Kind.Full,
      "[sfDir] [merges] [batchKs] [encode]", bpeLadder),
    "ladder select" -> Cmd(Engine.Kind.Full, "[sfDir] [topNs]", selectLadder))

  private def usage: String =
    commands.toSeq.sortBy(_._1).map { case (n, c) => s"  $n ${c.usage}" }
      .mkString("usage: Tools <command> <args>\n", "\n", "")

  private def isFlag(a: String): Boolean =
    a.startsWith("-") && a.toDoubleOption.isEmpty

  /** Resolves the command word(s) and checks the positional arguments;
    * throws IllegalArgumentException on an unknown command, any flag, or
    * a wrong argument count.
    */
  private[graft] def parse(args: Seq[String]): (String, Seq[String]) = {
    def bad(msg: String) = throw new IllegalArgumentException(s"$msg\n$usage")
    args.find(isFlag).foreach(f => bad(s"unknown flag '$f'"))
    val words = if (args.headOption.exists(Set("gen", "ladder"))) 2 else 1
    val name = args.take(words).mkString(" ")
    val cmd = commands.getOrElse(name, bad(s"unknown command '$name'"))
    val rest = args.drop(words)
    if (rest.length < cmd.required || rest.length > cmd.max)
      bad(s"'$name' takes ${cmd.usage}; got ${rest.length} argument(s)")
    (name, rest)
  }

  /** `GRAFT_CONF` → session confs: `;`-separated `key=value` entries
    * (blank entries skipped); an entry without `=` or with an empty key
    * throws instead of being dropped.
    */
  private[graft] def parseConf(spec: String): Seq[(String, String)] =
    spec.split(";").map(_.trim).filter(_.nonEmpty).toSeq.map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => k.trim -> v.trim
        case _ => throw new IllegalArgumentException(
          s"GRAFT_CONF entry '$kv' is not key=value")
      }
    }

  /** Arm order per rep: A leads even reps, B leads odd ones. r17 measured
    * the arm that ran second winning by ~0.6 s in both orders (the
    * first-arm handicap, OPTIMIZATION_r17.md), so each arm leads half the
    * reps.
    */
  private[graft] def abSchedule(reps: Int): Seq[Seq[String]] =
    (0 until reps).map(r => if (r % 2 == 0) Seq("A", "B") else Seq("B", "A"))

  def main(args: Array[String]): Unit = {
    val (name, rest) =
      try parse(args.toSeq)
      catch { case e: IllegalArgumentException => System.err.println(e.getMessage); sys.exit(2) }
    val cmd = commands(name)
    val extra = sys.env.get("GRAFT_CONF").toSeq.flatMap(parseConf)
    val n = Engine.cpus()
    val spark = Engine.build(cmd.kind, Engine.local(n), n, Some(s"graft-tools $name"))
    extra.foreach { case (k, v) => spark.conf.set(k, v) }
    try cmd.run(spark, rest) finally spark.stop()
  }

  private def queryNames(list: String): Seq[String] =
    list.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  private def timed[T](f: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = f
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** Bench's between-query teardown (see `Bench.run`): drop cached tables
    * and leftover checkpoint blocks, then GC, outside the timed window.
    */
  private def teardown(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  /** Nonzero `lsh_bucket_guard_*` fields among `observed`; doubles round to
    * Long (the guard's fractional counter is integral by construction).
    */
  private def guardNotes(observed: Map[String, Map[String, Any]]): String =
    observed.toSeq
      .filter { case (k, _) => k.startsWith("lsh_bucket_guard_") }
      .flatMap { case (k, fields) =>
        fields.collect {
          case (f, v: Long) if v != 0L => s"${k.split("_").last}.$f=$v"
          case (f, v: Double) if v != 0.0 => s"${k.split("_").last}.$f=${math.round(v)}"
        }
      }
      .sorted.mkString(", ")

  private def timeQueries(spark: SparkSession, a: Seq[String]): Unit = {
    val reps = a.lift(2).fold(3)(_.toInt)
    for (q <- queryNames(a(0)); i <- 1 to reps) {
      val (sec, n) = timed(SparkEntry.queries(q)(spark, a(1)).queryExecution.toRdd.count())
      println(f"TIMING $q rep=$i rows=$n sec=$sec%.3f")
      spark.catalog.clearCache()
    }
  }

  /** One delimited plan per query, for the splitter that writes plans/. */
  private def planDump(spark: SparkSession, a: Seq[String]): Unit =
    queryNames(a(0)).foreach { q =>
      println(s"==== PLAN $q ====")
      SparkEntry.queries(q)(spark, a(1)).explain("formatted")
    }

  /** Per-stage task counts, shuffle bytes and spill, plus job count and
    * summed job wall — the gap to the total is driver/planning time
    * between jobs, which dominates the composed pipelines at sf0.1.
    */
  private def stageMetrics(spark: SparkSession, a: Seq[String]): Unit = {
    val sfDir = a(0)
    val qname = a(1)
    val reps = a.lift(2).fold(2)(_.toInt)
    case class St(name: String, tasks: Int, wallMs: Long, runMs: Long, cpuMs: Long,
        shufReadMb: Double, shufWriteMb: Double, spillMemMb: Double,
        spillDiskMb: Double, inRows: Long, outRows: Long)
    // appended on the listener-bus thread, read on main after a drain:
    // every access holds the buffer's own lock
    val stages = mutable.ArrayBuffer.empty[St]
    val jobs = mutable.ArrayBuffer.empty[(Int, Long, String)] // (jobId, wallMs, callSite)
    val jobStarts = mutable.Map.empty[Int, (Long, String)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.synchronized {
        val site = js.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n').take(70))
          .getOrElse("?")
        jobStarts(js.jobId) = (js.time, site)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobStarts.remove(je.jobId).foreach { case (t0, site) =>
          jobs += ((je.jobId, je.time - t0, site))
        }
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val i = sc.stageInfo
        val m = i.taskMetrics
        stages.synchronized { stages += St(
          i.name.takeWhile(_ != '\n').take(60), i.numTasks,
          i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L),
          m.executorRunTime, m.executorCpuTime / 1000000,
          m.shuffleReadMetrics.totalBytesRead / 1e6,
          m.shuffleWriteMetrics.bytesWritten / 1e6,
          m.memoryBytesSpilled / 1e6, m.diskBytesSpilled / 1e6,
          m.inputMetrics.recordsRead, m.outputMetrics.recordsWritten) }
      }
    })
    val fn = SparkEntry.queries(qname)
    (1 to reps).foreach { rep =>
      stages.synchronized { stages.clear() }
      jobs.synchronized { jobs.clear(); jobStarts.clear() }
      val (sec, n) = timed(fn(spark, sfDir).queryExecution.toRdd.count())
      // synchronous drain: every StageCompleted of this rep is delivered
      // before the read, none leaks into the next rep's buffer
      if (!GraftListenerBridge.waitListenerBusEmpty(spark.sparkContext))
        System.err.println(s"[tools] warning: listener bus did not drain in 10 s — " +
          s"rep $rep stage table may be partial")
      val snap = stages.synchronized { stages.toVector }
      val jsnap = jobs.synchronized { jobs.toVector }
      println(f"== $qname rep $rep: $sec%.2f s, output rows $n")
      println(f"== jobs ${jsnap.size}, job wall sum ${jsnap.map(_._2).sum / 1e3}%.2f s, " +
        f"stage wall sum ${snap.map(_.wallMs).sum / 1e3}%.2f s " +
        f"(gap to total = driver/planning time between jobs)")
      jsnap.sortBy(-_._2).take(15).foreach { case (id, ms, site) =>
        println(f"== job $id%4d ${ms / 1e3}%6.2f s  $site")
      }
      println(f"${"stage"}%-60s ${"tasks"}%5s ${"wall_s"}%7s ${"run_s"}%7s ${"cpu_s"}%7s ${"shR_MB"}%8s ${"shW_MB"}%8s ${"spillM"}%7s ${"spillD"}%7s ${"in_rows"}%10s ${"out_rows"}%10s")
      snap.foreach { s =>
        println(f"${s.name}%-60s ${s.tasks}%5d ${s.wallMs / 1e3}%7.1f ${s.runMs / 1e3}%7.1f ${s.cpuMs / 1e3}%7.1f ${s.shufReadMb}%8.1f ${s.shufWriteMb}%8.1f ${s.spillMemMb}%7.0f ${s.spillDiskMb}%7.0f ${s.inRows}%10d ${s.outRows}%10d")
      }
      teardown(spark)
    }
  }

  /** Interleaved A/B of one session conf over a query list inside one JVM,
    * so box noise hits both arms; min over reps per arm.
    */
  private def confAb(spark: SparkSession, a: Seq[String]): Unit = {
    val Seq(confKey, valA, valB, sfDir) = a.take(4)
    val reps = a.lift(4).fold(3)(_.toInt)
    val names = a.lift(5).map(queryNames)
      .getOrElse(Seq("q92_lm_quality", "q104_lm_kn", "q106_lm_kn3", "q109_lm_kn5"))
    val value = Map("A" -> valA, "B" -> valB)
    val best = mutable.Map.empty[(String, String), Double]
    for ((order, r) <- abSchedule(reps).zipWithIndex; name <- names; label <- order) {
      val rep = r + 1
      spark.conf.set(confKey, value(label))
      spark.sparkContext.setJobDescription(s"confab $name $label rep$rep")
      val (sec, _) = timed(SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count())
      teardown(spark)
      System.err.println(f"[confab] rep$rep $name $label $sec%.3f s")
      best((name, label)) = math.min(best.getOrElse((name, label), Double.MaxValue), sec)
    }
    println(s"CONF_AB $confKey A=$valA B=$valB sfDir=$sfDir reps=$reps")
    for (name <- names)
      println(f"CONF_AB $name A=${best((name, "A"))}%.3f B=${best((name, "B"))}%.3f")
  }

  /** 64 distinct two-letter syllables (frequent English bigrams — fixed
    * width keeps concatenation injective).
    */
  private val Syllables: Array[String] = Array(
    "th", "he", "in", "er", "an", "re", "on", "at", "en", "nd", "ti", "es",
    "or", "te", "of", "ed", "is", "it", "al", "ar", "st", "to", "nt", "ng",
    "se", "ha", "as", "ou", "io", "le", "ve", "co", "me", "de", "hi", "ri",
    "ro", "ic", "ne", "ea", "ra", "ce", "li", "ch", "ll", "be", "ma", "si",
    "om", "ur", "ca", "el", "ta", "la", "ns", "di", "fo", "ho", "pe", "ec",
    "pr", "no", "ct", "us")

  /** Rank → spelling: the base-64 digits of `rank`, least significant
    * first, each a fixed-width syllable. Injective by construction.
    */
  private def zipfWord(rank: Long): String = {
    require(rank >= 1, s"ranks are 1-based; got $rank")
    val sb = new StringBuilder
    var r = rank
    while (r > 0) { sb.append(Syllables((r % 64).toInt)); r /= 64 }
    sb.toString
  }

  /** A Zipfian real-text-shaped corpus, `<outDir>/documents.parquet` with
    * (doc_id, text): the shipped testdata has 31 distinct words, so BPE
    * exhausts at ~188 merges. Public-knowledge construction (Zipf 1949 —
    * rank-frequency power law plus the law of abbreviation): rank i gets
    * count ∝ 1/i^1.07 floored at 1; spellings are fixed-width base-64
    * syllable codes (injective, frequent words short, shared syllable
    * substructure like real morphemes); occurrences scatter into `docs`
    * documents by a seeded hash — deterministic, no RNG state. Defaults
    * give 10×-rung row counts (50 k docs, ~5 M tokens, 60 k words).
    */
  private def genZipf(spark: SparkSession, a: Seq[String]): Unit = {
    val out = a.lift(0).getOrElse("/tmp/zipf")
    val vocab = a.lift(1).fold(60000)(_.toInt)
    val totalTokens = a.lift(2).fold(5000000L)(_.toLong)
    val numDocs = a.lift(3).fold(50000)(_.toInt)
    val s = 1.07
    import spark.implicits._
    val weights = (1 to vocab).map(i => 1.0 / math.pow(i.toDouble, s))
    val norm = totalTokens.toDouble / weights.sum
    val rows = weights.zipWithIndex.map { case (w, i) =>
      (i + 1L, zipfWord(i + 1L), math.max(1L, math.round(w * norm)))
    }
    val df = rows.toDF("rank", "w", "cnt").repartition(64, col("rank"))
    val docs = df
      .select(col("rank"), col("w"), explode(expr("sequence(1, cnt)")).as("j"))
      .withColumn("doc_id", pmod(xxhash64(col("rank"), col("j")), lit(numDocs.toLong)))
      // deterministic within-doc order (hash of the occurrence key), so
      // reruns produce byte-identical documents
      .groupBy(col("doc_id"))
      .agg(concat_ws(" ", expr(
        "transform(array_sort(collect_list(struct(xxhash64(w, j) AS o, w AS w))), x -> x.w)"))
        .as("text"))
    docs.coalesce(8).write.mode("overwrite").parquet(s"$out/documents.parquet")
    val stats = spark.read.parquet(s"$out/documents.parquet")
      .select(explode(TextAnalysis.wsTokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .agg(count(lit(1)).as("tokens"), count_distinct(col("w")).as("distinct_words"))
      .head()
    println(s"ZIPF_GEN out=$out docs=$numDocs vocab=$vocab " +
      s"tokens=${stats.getLong(0)} distinct=${stats.getLong(1)}")
  }

  /** Manifold-structured embeddings, `<outDir>/embeddings.parquet` — the
    * geometry real encoders produce (concept clusters), where the shipped
    * isotropic vectors leave every triangle-inequality bound ≈ 1 and no
    * exact metric pruning can fire. Deterministic: `clusters` centers with
    * hash-derived coordinates; vector i sits on center (i mod clusters)
    * plus `noise`-scaled hash-derived jitter.
    */
  private def genCluster(spark: SparkSession, a: Seq[String]): Unit = {
    val out = a.lift(0).getOrElse("/tmp/clustered")
    val n = a.lift(1).fold(200000L)(_.toLong)
    val clusters = a.lift(2).fold(512)(_.toInt)
    val dim = a.lift(3).fold(64)(_.toInt)
    val noise = a.lift(4).fold(0.08)(_.toDouble)
    // center coordinate: a deterministic pseudo-gaussian via summed sines
    // of the (cluster, dim) key; jitter likewise keyed by (row, dim)
    val vec = expr(
      s"""transform(sequence(0, ${dim - 1}), j -> CAST(
         |  sin(CAST((id % $clusters) * 7919 + j * 104729 AS DOUBLE)) +
         |  sin(CAST((id % $clusters) * 15485863 + j * 32452843 AS DOUBLE)) +
         |  $noise * sin(CAST(id * 2654435761 + j * 40503 AS DOUBLE))
         |  AS FLOAT))""".stripMargin)
    spark.range(n)
      .select(col("id").as("vec_id"), vec.as("embedding"))
      .coalesce(16)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    println(s"CLUSTER_GEN out=$out n=$n clusters=$clusters dim=$dim noise=$noise")
  }

  /** The q79/q81/q83 media fixtures as a real media parquet, so
    * [[RunMediaAudit]] can run end to end at the big rungs: one image,
    * one audio and one video row per document, the syntheses the oracle
    * queries pin (PNG pixel i = (id·(i+1)) mod 256 at 16×8; 160-sample
    * PCM16, sample i = (id·(i+3)) mod 256; 4-frame P5 clip, frame f pixel
    * i = (id·(i+1)+17·f) mod 256) — closed-form class structure that
    * dev/media_stack_check.py recomputes independently.
    */
  private def genMedia(spark: SparkSession, a: Seq[String]): Unit = {
    val Seq(sfDir, outPath) = a
    val enc = org.apache.spark.sql.Encoders.row(StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("modality", StringType, nullable = false),
      StructField("content", BinaryType, nullable = true))))
    spark.read.parquet(s"$sfDir/documents.parquet").select(col("doc_id"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val id = r.getLong(0)
          val px = Array.tabulate[Byte](16 * 8)(i => ((id * (i + 1)) % 256).toByte)
          val samples = Array.tabulate[Short](160)(i => ((id * (i + 3)) % 256).toShort)
          val clip = (0 until 4).toArray.flatMap { f =>
            Multimodal.PgmCodec.encode(16, 8, 255,
              Array.tabulate[Byte](16 * 8)(i => ((id * (i + 1) + 17 * f) % 256).toByte))
          }
          Seq(
            Row(id, "image", Multimodal.PngCodec.encode(16, 8, px)),
            Row(id, "audio", Multimodal.WavCodec.encode(8000, 1, samples)),
            Row(id, "video", clip))
        }
      }(enc)
      .write.mode("overwrite").parquet(outPath)
    println(s"[media-gen] wrote $outPath")
  }

  /** The trusted reference slice for the fixed-reference LM gate rungs:
    * one source's (doc_id, text) rows — CCNet's Wikipedia-side training
    * corpus in this harness's shape.
    */
  private def genSlice(spark: SparkSession, a: Seq[String]): Unit = {
    val source = a.lift(2).getOrElse("src0")
    spark.read.parquet(s"${a(0)}/documents.parquet")
      .filter(col("source") === source)
      .select(col("doc_id"), col("text"))
      .write.mode("overwrite").parquet(a(1))
    println(s"[slice-gen] wrote ${a(1)}")
  }

  /** The dedup ladder (q16/q17/q61/q25/q38/q45) at large scale factors:
    * wall, rows and every nonzero `lsh_bucket_guard_*` counter per rung;
    * q45's labels land in `<outDir>` for dev/cc_check.py's union-find
    * oracle. Rungs consume through a Dataset action (noop sink): observed
    * metrics are delivered only for Dataset actions, so an RDD-level
    * consume would report guard=[] even when every bucket was guarded.
    */
  private def scaleLadder(spark: SparkSession, a: Seq[String]): Unit = {
    val sfDir = a.lift(0).getOrElse("/tmp/sf10")
    val outDir = a.lift(1).getOrElse("/tmp/ladder_out")
    new java.io.File(outDir).mkdirs()
    def rung(name: String)(consume: DataFrame => Long): Unit = {
      val ((sec, rows), observed) = MetricsCollector.during(spark, s"ladder $name") {
        timed(consume(SparkEntry.queries(name)(spark, sfDir)))
      }
      println(f"LADDER $name rows=$rows sec=$sec%.1f guard=[${guardNotes(observed)}]")
      teardown(spark)
    }
    def noop(name: String)(df: DataFrame): Long = {
      val obs = s"ladder_rows_$name"
      val (_, observed) = MetricsCollector.during(spark, s"ladder $name") {
        df.observe(obs, count(lit(1)).as("rows")).write.format("noop").mode("overwrite").save()
      }
      observed.get(obs).flatMap(_.get("rows")).collect { case l: Long => l }.getOrElse(-1L)
    }
    Seq("q16_dedup_exact", "q17_minhash_lsh_pairs", "q61_minhash64_pairs",
      "q25_embedding_neardup", "q38_embedding_band_lsh")
      .foreach(q => rung(q)(noop(q)))
    rung("q45_dedup_components") { labels =>
      val path = s"$outDir/q45_dedup_components"
      labels.coalesce(1).write.mode("overwrite").parquet(path)
      spark.read.parquet(path).count()
    }
  }

  /** SemDeDup at corpus scale: exhaustive vs two-level pruned assignment
    * (wall and row identity on the same learned centroids), then the
    * production [[Dedup.semDedupAuto]] with survivors and guard counters.
    */
  private def semLadder(spark: SparkSession, a: Seq[String]): Unit = {
    val sfDir = a.lift(0).getOrElse("/tmp/sf10")
    val threshold = a.lift(1).fold(0.35)(_.toDouble)
    val numGroups = a.lift(2).fold(0)(_.toInt)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val n = emb.count()
    val centroids = Dedup
      .semCentroidsFor(emb, "vec_id", "embedding", n, numCentroids = 0, seed = 42L)
      .localCheckpoint(true)
    val k = centroids.count()
    def exhaustive = Dedup.semAssign(emb, "vec_id", "embedding", centroids)
      .select("id", "centroid_id", "cosc")
    def pruned = Dedup.semAssignPruned(emb, "vec_id", "embedding", centroids,
      numGroups = numGroups).select("id", "centroid_id", "cosc")
    for ((label, asg) <- Seq("exhaustive" -> (() => exhaustive), "pruned" -> (() => pruned))) {
      val (sec, _) = timed(asg().write.mode("overwrite").format("noop").save())
      println(f"SEM_LADDER assign $label n=$n K=$k sec=$sec%.1f")
    }
    val diff = exhaustive.exceptAll(pruned).count()
    println(s"SEM_LADDER assign identity exhaustive-vs-pruned exceptAll=$diff " +
      (if (diff == 0L) "IDENTICAL" else "DIVERGED"))
    val ((sec, survivors), observed) = MetricsCollector.during(spark, "ladder sem") {
      timed(Dedup.semDedupAuto(emb, "vec_id", "embedding", threshold).count())
    }
    println(f"SEM_LADDER n=$n threshold=$threshold survivors=$survivors " +
      f"sec=$sec%.1f guard=[${guardNotes(observed)}]")
  }

  /** SemDeDup wall per stage — kmeans, assignment, intra-cell pairs,
    * closure, keep rule — each against its own materialization.
    */
  private def semStages(spark: SparkSession, a: Seq[String]): Unit = {
    val sfDir = a.lift(0).getOrElse("/tmp/sf10")
    val threshold = a.lift(1).fold(0.35)(_.toDouble)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val n = emb.count()
    def stage[T](label: String)(f: => T): T = {
      val (sec, r) = timed(f)
      println(f"SEM_STAGE $label sec=$sec%.1f")
      r
    }
    val centroids = stage("kmeans") {
      Dedup.semCentroidsFor(emb, "vec_id", "embedding", n, numCentroids = 0, seed = 42L)
        .localCheckpoint(true)
    }
    val asg = stage("assign") {
      Dedup.semAssignPruned(emb, "vec_id", "embedding", centroids).localCheckpoint(true)
    }
    val pairs = stage("pairs") {
      Dedup.semPairsFromAssignHook(asg, threshold).localCheckpoint(true)
    }
    println(s"SEM_STAGE pairs_rows=${pairs.count()}")
    val comps = stage("closure") { Dedup.connectedComponents(pairs).localCheckpoint(true) }
    val survivors = stage("keep") {
      asg.join(comps, Seq("id"), "left")
        .withColumn("comp", coalesce(col("comp"), col("id")))
        .groupBy(col("comp"))
        .agg(min(struct(col("cosc"), col("id"))).as("__m"))
        .select(col("__m.id"))
        .count()
    }
    println(s"SEM_STAGE n=$n survivors=$survivors")
  }

  /** BPE merge learning at production vocabulary scale: per batch width,
    * merges learned, rounds paid (one pair-count job each) and wall; then
    * the driver-local learner; then pairwise merge-table identity across
    * every rung (batched ≡ sequential exactly). `encode` also times the
    * vocabulary and per-doc encoding under the learned table.
    */
  private def bpeLadder(spark: SparkSession, a: Seq[String]): Unit = {
    val sfDir = a.lift(0).getOrElse("/tmp/sf1")
    val numMerges = a.lift(1).fold(1024)(_.toInt)
    val batchKs = a.lift(2).fold(Seq(1, Bpe.DefaultMergeBatch))(
      _.split(",").map(_.trim.toInt).toSeq)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("text")
    def rowsOf(df: DataFrame) = df.orderBy("merge_idx").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    val tables = batchKs.map { k =>
      val (sec, (rows, sizes)) = timed {
        val (merges, sizes) = Bpe.learnMergesWithBatchSizes(docs, "text", numMerges, batchK = k)
        (rowsOf(merges), sizes)
      }
      // head vs tail fill: top-of-distribution pairs share symbols
      // (inherently serial); does the Zipfian tail batch wider?
      def fillOf(s: Seq[Int]) = if (s.isEmpty) 0.0 else s.sum.toDouble / s.length
      val dec = math.max(sizes.length / 10, 1)
      println(f"BPE_LADDER batchK=$k merges=${rows.length} rounds=${sizes.length} " +
        f"fill=${fillOf(sizes)}%.2f headFill=${fillOf(sizes.take(dec))}%.2f " +
        f"tailFill=${fillOf(sizes.takeRight(dec))}%.2f " +
        f"maxBatch=${if (sizes.isEmpty) 0 else sizes.max} sec=$sec%.1f")
      k -> rows
    }
    val (locSec, localRows) = timed(rowsOf(Bpe.learnMerges(docs, "text", numMerges)))
    println(f"BPE_LADDER local merges=${localRows.length} sec=$locSec%.1f")
    for (Seq((ka, x), (kb, y)) <- (tables :+ (-1 -> localRows)).combinations(2)) {
      val detail =
        if (x == y) "IDENTICAL"
        else if (x.length != y.length && x.zip(y).forall(p => p._1 == p._2))
          s"DIVERGED (length ${x.length} vs ${y.length}, common prefix equal)"
        else s"DIVERGED (first mismatch at ${x.zip(y).indexWhere(p => p._1 != p._2)})"
      println(s"BPE_LADDER identity batchK=$ka vs batchK=$kb: $detail")
    }
    if (a.lift(3).contains("encode")) {
      val merges = tables.last._2.map(r => (r._2, r._3))
      def withIds = spark.read.parquet(s"$sfDir/documents.parquet")
        .withColumn("doc_id", monotonically_increasing_id()) // ladder corpora may lack ids
        .select(col("doc_id"), col("text"))
      val (tv, voc) = timed(Bpe.vocabulary(withIds, "text", merges).count())
      val (te, enc) = timed(Bpe.encode(withIds, "doc_id", "text", merges)
        .agg(count(lit(1)).as("docs"), sum(col("n_ids")).as("ids")).head())
      println(f"BPE_LADDER encode merges=${merges.length} vocab=$voc vocabSec=$tv%.1f " +
        f"docs=${enc.getLong(0)} ids=${enc.getLong(1)} encodeSec=$te%.1f " +
        f"chunks=${math.ceil(merges.length / 48.0).toInt}")
    }
  }

  /** DSIR selection at production topN: both
    * [[Sampling.importanceSelect]] plans — TakeOrdered and the distributed
    * quantile cutoff — with wall and full set identity (EXCEPT both ways).
    */
  private def selectLadder(spark: SparkSession, a: Seq[String]): Unit = {
    val sfDir = a.lift(0).getOrElse("/tmp/sf10")
    val topNs = a.lift(1).fold(Seq(100000, 250000))(_.split(",").map(_.trim.toInt).toSeq)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"), col("source"))
    for (n <- topNs) {
      def run(label: String, maxN: Int) = {
        val picked = Sampling.importanceSelect(docs, "doc_id", "text",
          isTarget = col("source") === "src0", topN = n, takeOrderedMaxN = maxN)
        val (sec, cnt) = timed(picked.count())
        println(f"SELECT_LADDER topN=$n path=$label rows=$cnt sec=$sec%.1f")
        picked.select("doc_id")
      }
      val ordered = run("take_ordered", Int.MaxValue)
      val cutoff = run("cutoff", 0)
      val extraA = ordered.exceptAll(cutoff).count()
      val extraB = cutoff.exceptAll(ordered).count()
      println(s"SELECT_LADDER topN=$n identity: ordered\\cutoff=$extraA " +
        s"cutoff\\ordered=$extraB " + (if (extraA == 0 && extraB == 0) "IDENTICAL" else "DIVERGED"))
    }
  }
}
