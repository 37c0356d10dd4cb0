package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Multimodal
import graft.run.MetricsCollector
import graft.sink.ParquetSink

/** Production CLI for the multimodal audit tier — the [[RunTrainPrep]]
  * pattern applied to media corpora: read a media parquet (the
  * [[Multimodal.MediaSchema]] shape: id + opaque binary + modality), run
  * the per-modality decode audits and content fingerprints, write the
  * results through [[graft.sink.ParquetSink]], and report decode
  * health per modality — the screen a training pipeline runs before
  * letting a crawled media drop anywhere near a trainer.
  *
  * {{{
  * runMain graft.RunMediaAudit --in <media parquet> --out <dir>
  *   [--id-col media_id] [--content-col content] [--modality-col modality]
  *   [--ahash-size 8] [--audio-frames 32] [--pairs]
  *   [--image-max-hamming 6] [--audio-max-hamming 3]
  *   [--max-bucket N] [--dedup] [--max-pixels N]
  *   [--frame-stride N] [--max-frames N] [--table media]
  *   [--text-survivors <parquet> [--text-id-col doc_id]]
  *   [--sem-dedup T]
  * }}}
  *
  * Per modality value of the `modality` column — each a SINGLE decode
  * pass producing stats + content fingerprint together
  * ([[Multimodal.imageAudit]]/[[Multimodal.audioAudit]]; two separate
  * jobs would decode every blob twice):
  *   - `image` → `<table>_image_audit` (dims + pixel sum + aHash, via
  *     [[Multimodal.AutoImageCodec]] — mixed PGM/PNG corpora decode
  *     without per-format routing)
  *   - `audio` → `<table>_audio_audit` (clip stats + envelope fingerprint)
  *   - `video` → `<table>_video_audit` ([[Multimodal.videoFingerprint]];
  *     n_frames=0 marks unreadable clips)
  *
  * `--pairs` additionally emits the banded near-dup pairs per modality
  * (`<table>_image_pairs` / `<table>_audio_pairs` / `<table>_video_pairs`);
  * it requires `--ahash-size 8` (imageNearDupPairs' fixed 64-bit band
  * layout — narrower hashes are audit-only) and `--audio-frames`
  * divisible by 4 — both enforced at parse, not hours into the run.
  * `--max-bucket N` routes oversized LSH buckets through the
  * star-collapse guard (the replica-heavy-corpus production route —
  * [[Multimodal.imageNearDupPairs]]' scaladoc); activation is disclosed
  * as a loud GUARD ACTIVE report line with the observed counters.
  * `--dedup` closes each modality's pair graph into components and
  * writes the min-id survivor set (`<table>_<modality>_survivors`) —
  * the actionable removal complement, not just pair evidence.
  * `--text-survivors <parquet>` is the mixed-modality production tail
  * (VERDICT r12 next #6, elevated from spec to CLI in r14): given the
  * TEXT-side clean corpus ([[RunTrainPrep]]'s output table, id column
  * `--text-id-col` carrying the SHARED doc id), write
  * `<table>_clean_docs` — the text survivors minus every doc whose media
  * asset was removed by this run's media dedup, i.e. the corpus a
  * multimodal trainer actually consumes (text-clean AND visually/
  * acoustically unique), in ONE invocation instead of the two-CLI recipe
  * plus a hand-rolled join. Removal evidence is computed from the PAIR
  * graph (paired ids minus survivors — duplicate-count-sized), never a
  * corpus-sized anti-join of the audit tables; docs with no media, or
  * media never paired, ride through untouched. Requires `--dedup`.
  * `--sem-dedup T` runs SemDeDup ([[graft.operators.Dedup.semDedupAuto]])
  * as a FOURTH dedup geometry per modality (VERDICT r14 next #6), beside
  * the banded-Hamming pair tier: each modality's fingerprint bits embed
  * as a ±1 vector (the Hamming→cosine bridge — for b-bit fingerprints
  * cos = 1 − 2·hamming/b, so T = 0.8 on the 64-bit image hash ≈
  * hamming ≤ 6, the pair tier's default bar), KMeans cells propose
  * candidates, and the paper's keep-furthest-from-centroid rule picks
  * survivors → `<table>_<modality>_sem_survivors`. Undecodable assets
  * (null fingerprints) survive — the undecodable count's job, not silent
  * removal fodder (the `--dedup` rule). Needs only the audit tables, so
  * it composes with or without `--pairs`.
  * Rows whose modality matches no branch are counted (one metadata-only
  * aggregation — the blob column never loads) and disclosed as a
  * bounded UNAUDITED summary (totals + top-5 values): an audit that
  * silently skips half the corpus must not read as healthy.
  *
  * Decode-health counts ride the write actions as `observe` metrics
  * (the [[RunTrainPrep]] discipline: computed during the ONE write, never
  * an extra count job over a 100 TB corpus), read through one
  * [[graft.run.MetricsCollector.during]] scope around the run (each pair
  * write has its own nested scope, so guard counters attribute to their
  * modality), and print as the run report:
  *
  * {{{
  * [media-audit] image rows=50000 undecodable=12
  * [media-audit] audio rows=50000 undecodable=3
  * }}}
  *
  * An `undecodable` count > 0 is the report's whole point: silent −1/null
  * degradation rows are correct operator behavior (a bad asset must not
  * fail the partition) but a production run must SAY how many assets it
  * could not read (the containment-guard disclosure rule, VERDICT r11 #6).
  */
object RunMediaAudit {

  final case class Config(
      in: String = "",
      out: String = "",
      idCol: String = "media_id",
      contentCol: String = "content",
      modalityCol: String = "modality",
      ahashSize: Int = 8,
      audioFrames: Int = 32,
      pairs: Boolean = false,
      imageMaxHamming: Int = 6,
      audioMaxHamming: Int = 3,
      maxBucket: Option[Int] = None,
      dedup: Boolean = false,
      maxPixels: Long = Multimodal.DefaultMaxImagePixels,
      frameStride: Int = 1,
      maxFrames: Int = Int.MaxValue,
      table: String = "media",
      textSurvivors: Option[String] = None,
      textIdCol: String = "doc_id",
      semDedup: Option[Double] = None)

  def parse(args: Seq[String]): Config = {
    def loop(rest: List[String], cfg: Config): Config = rest match {
      case Nil => cfg
      case "--in" :: v :: t => loop(t, cfg.copy(in = v))
      case "--out" :: v :: t => loop(t, cfg.copy(out = v))
      case "--id-col" :: v :: t => loop(t, cfg.copy(idCol = v))
      case "--content-col" :: v :: t => loop(t, cfg.copy(contentCol = v))
      case "--modality-col" :: v :: t => loop(t, cfg.copy(modalityCol = v))
      case "--ahash-size" :: v :: t => loop(t, cfg.copy(ahashSize = v.toInt))
      case "--audio-frames" :: v :: t => loop(t, cfg.copy(audioFrames = v.toInt))
      case "--pairs" :: t => loop(t, cfg.copy(pairs = true))
      case "--image-max-hamming" :: v :: t => loop(t, cfg.copy(imageMaxHamming = v.toInt))
      case "--audio-max-hamming" :: v :: t => loop(t, cfg.copy(audioMaxHamming = v.toInt))
      case "--max-bucket" :: v :: t => loop(t, cfg.copy(maxBucket = Some(v.toInt)))
      case "--dedup" :: t => loop(t, cfg.copy(dedup = true))
      case "--max-pixels" :: v :: t => loop(t, cfg.copy(maxPixels = v.toLong))
      case "--frame-stride" :: v :: t => loop(t, cfg.copy(frameStride = v.toInt))
      case "--max-frames" :: v :: t => loop(t, cfg.copy(maxFrames = v.toInt))
      case "--table" :: v :: t => loop(t, cfg.copy(table = v))
      case "--text-survivors" :: v :: t => loop(t, cfg.copy(textSurvivors = Some(v)))
      case "--text-id-col" :: v :: t => loop(t, cfg.copy(textIdCol = v))
      case "--sem-dedup" :: v :: t => loop(t, cfg.copy(semDedup = Some(v.toDouble)))
      case other :: _ => throw new IllegalArgumentException(s"unknown argument: $other")
    }
    val cfg = loop(args.toList, Config())
    require(cfg.in.nonEmpty, "--in is required")
    require(cfg.out.nonEmpty, "--out is required")
    require(cfg.ahashSize > 0 && cfg.ahashSize * cfg.ahashSize <= 64,
      s"--ahash-size must give 1..64 bits; got ${cfg.ahashSize}")
    require(cfg.audioFrames > 0 && cfg.audioFrames <= 62,
      s"--audio-frames must be 1..62; got ${cfg.audioFrames}")
    require(cfg.imageMaxHamming >= 0 && cfg.audioMaxHamming >= 0,
      "hamming thresholds must be non-negative")
    require(cfg.maxBucket.forall(_ > 0),
      s"--max-bucket must be positive; got ${cfg.maxBucket.get}")
    require(cfg.maxPixels > 0,
      s"--max-pixels must be positive; got ${cfg.maxPixels}")
    require(cfg.frameStride >= 1,
      s"--frame-stride must be >= 1; got ${cfg.frameStride}")
    require(cfg.maxFrames >= 1,
      s"--max-frames must be >= 1; got ${cfg.maxFrames}")
    // the pair tiers' preconditions must fail HERE, not hours into the
    // run after every audit artifact is written: imageNearDupPairs' band
    // layout is fixed 4×16 over the full 64-bit hash (a narrower hash
    // leaves its high bands constant zero and the join degenerates to
    // ~n²/2), and audioNearDupPairs needs bands | frames
    if (cfg.pairs) {
      require(cfg.ahashSize == 8,
        s"--pairs requires --ahash-size 8 (the 64-bit band layout); got ${cfg.ahashSize}" +
          " — narrower hashes are audit-only")
      require(cfg.audioFrames % 4 == 0,
        s"--pairs requires --audio-frames divisible by 4 (the band count); " +
          s"got ${cfg.audioFrames}")
    }
    require(cfg.maxBucket.isEmpty || cfg.pairs,
      "--max-bucket guards the pair joins; it requires --pairs")
    require(!cfg.dedup || cfg.pairs,
      "--dedup closes the pair graph into survivors; it requires --pairs")
    require(cfg.textSurvivors.isEmpty || cfg.dedup,
      "--text-survivors joins the clean corpus against media-dedup removals; " +
        "it requires --dedup")
    require(cfg.semDedup.forall(t => t > -1.0 && t < 1.0),
      s"--sem-dedup threshold must be a cosine in (-1, 1); got ${cfg.semDedup.get}")
    cfg
  }

  /** Per-modality decode health: rows audited, rows the codec could not
    * read (−1 stats / null fingerprints), pairs found (−1 = pairs not
    * run), dedup survivors kept (−1 = dedup not run).
    */
  final case class ModalityReport(
      rows: Long, undecodable: Long, pairs: Long, survivors: Long = -1L,
      semSurvivors: Long = -1L)

  /** The full run report: per-modality health, the UNAUDITED disclosure
    * (bounded — total + distinct + top-5 by rows, never a collect of
    * every distinct modality value of a dirty crawl column, VERDICT r12
    * #2), and per-modality nonzero bucket-guard counters (empty map =
    * guard never activated, so pair semantics are the plain join's).
    */
  final case class AuditReport(
      modalities: Map[String, ModalityReport],
      unauditedRows: Long,
      unauditedModalities: Long,
      unauditedTop: Seq[(String, Long)],
      guard: Map[String, Map[String, Long]],
      cleanDocs: Long = -1L)

  private val obsId = new java.util.concurrent.atomic.AtomicInteger()

  def execute(spark: SparkSession, cfg: Config): AuditReport = {
    val media = spark.read.parquet(cfg.in)
    for (c <- Seq(cfg.idCol, cfg.contentCol, cfg.modalityCol))
      require(media.columns.contains(c),
        s"input must carry column $c (found: ${media.columns.mkString(", ")})")
    // modality is compared against string branch names and disclosed as
    // text: cast ONCE here — a non-string --modality-col must route (and
    // report) by its string form, not throw an ANSI cast error when the
    // filter coerces "image" to the column's type (ADVICE r12)
    val base = media.select(
      col(cfg.idCol).as("media_id"),
      col(cfg.contentCol).as("content"),
      col(cfg.modalityCol).cast("string").as("__mod"))
    val sink = new ParquetSink(cfg.out)
    val id = obsId.incrementAndGet()
    // every health count rides a write action inside this one scope
    val ((guard, unauditedRows, unauditedModalities, unauditedTop), observed) =
      MetricsCollector.during(spark, "media-audit") {
      def audited(df: DataFrame, modality: String, undecodable: org.apache.spark.sql.Column) =
        df.observe(s"media_audit_${id}_$modality",
          count(lit(1)).as("rows"),
          sum(when(undecodable, 1L).otherwise(0L)).as("undecodable"))

      val images = base.filter(col("__mod") === "image")
      val audio = base.filter(col("__mod") === "audio")
      val video = base.filter(col("__mod") === "video")

      // ONE decode pass per modality: stats + fingerprint come out of the
      // same mapPartitions (imageAudit/audioAudit) — writing them as two
      // jobs would decode every blob twice, and for PNG the "stats" half
      // is a full zlib inflate. All health counts ride the write actions.
      // The sniffing codec carries the run's decompression-bomb ceiling
      // (--max-pixels): over-cap rasters count as undecodable instead of
      // OOM-killing a partition.
      val codec = new Multimodal.AutoCodec(cfg.maxPixels)
      sink.overwrite(s"${cfg.table}_image_audit",
        audited(Multimodal.imageAudit(images, codec, cfg.ahashSize),
          "image", col("width") === -1))
      sink.overwrite(s"${cfg.table}_audio_audit",
        audited(Multimodal.audioAudit(audio, cfg.audioFrames),
          "audio", col("sample_rate") === -1))
      // VIDEO: the fingerprint IS the decode audit (n_frames=0 ⇒ unreadable).
      // --frame-stride/--max-frames bound the per-clip decode cost (the
      // videoFingerprint sampling contract — an hour-long real clip must
      // not cost 90 000 frame decodes when a bounded sample fingerprints it)
      sink.overwrite(s"${cfg.table}_video_audit",
        audited(Multimodal.videoFingerprint(video, codec, cfg.ahashSize,
            frameStride = cfg.frameStride, maxFrames = cfg.maxFrames),
          "video", col("n_frames") === 0L))

      var guard = Map.empty[String, Map[String, Long]]
      if (cfg.pairs) {
        // pair counts ride the pair writes as observes too — never a
        // read-back count job over a potentially cluster-quadratic output
        def observedPairs(name: String, pairs: DataFrame) =
          pairs.observe(s"media_audit_${id}_pairs_$name", count(lit(1)).as("rows"))
        def hashesOf(table: String) =
          spark.read.parquet(s"${cfg.out}/${cfg.table}_$table")
        // each pair write runs in its own metrics scope so the
        // bucket-guard counters (fresh lsh_bucket_guard_* names per
        // guardedBandPairs call) attribute to THEIR modality — a
        // replica-heavy image corpus must not read as an audio guard hit.
        // Doubles round to Long (the guard's fractional counter,
        // dropped_sub_buckets, is integral by construction — Σ 1/s over s
        // rows each).
        def guardedWrite(name: String, pairs: DataFrame): Unit = {
          val (_, seen) = MetricsCollector.during(spark, s"media-audit $name pairs") {
            sink.overwrite(s"${cfg.table}_${name}_pairs", observedPairs(name, pairs))
          }
          val hits = seen.toSeq
            .filter { case (k, _) => k.startsWith("lsh_bucket_guard_") }
            .flatMap(_._2.collect {
              case (f, v: Long) if v != 0L => f -> v
              case (f, v: Double) if v != 0.0 => f -> math.round(v)
            })
            .groupMapReduce(_._1)(_._2)(_ + _)
          if (hits.nonEmpty) guard += name -> hits
        }
        guardedWrite("image",
          Multimodal.imageNearDupPairs(hashesOf("image_audit"),
            maxHamming = cfg.imageMaxHamming, maxBucketSize = cfg.maxBucket))
        guardedWrite("audio",
          Multimodal.audioNearDupPairs(hashesOf("audio_audit"),
            frames = cfg.audioFrames, maxHamming = cfg.audioMaxHamming,
            maxBucketSize = cfg.maxBucket))
        guardedWrite("video",
          Multimodal.imageNearDupPairs(hashesOf("video_audit"),
            maxHamming = cfg.imageMaxHamming, maxBucketSize = cfg.maxBucket))
      }

      if (cfg.dedup) {
        // closure tail (VERDICT r12 next #2): pairs → components → one
        // min-id survivor per cluster. Universe = the audit table, so
        // unpaired AND undecodable assets survive — dedup removes only
        // rows with positive duplicate evidence; unreadable assets are
        // the undecodable count's job, not silent removal fodder.
        def survivorsOf(name: String): Unit =
          sink.overwrite(s"${cfg.table}_${name}_survivors",
            graft.operators.Dedup.survivorsFromPairs(
                spark.read.parquet(s"${cfg.out}/${cfg.table}_${name}_audit"), "media_id",
                spark.read.parquet(s"${cfg.out}/${cfg.table}_${name}_pairs"))
              .observe(s"media_audit_${id}_survivors_$name", count(lit(1)).as("rows")))
        survivorsOf("image")
        survivorsOf("audio")
        survivorsOf("video")
      }

      // SemDeDup geometry (VERDICT r14 next #6): fingerprint bits → ±1
      // vectors → semDedupAuto (KMeans cells, keep-furthest survivor
      // rule). The embedding frame is the AUDIT table (decoded once,
      // already on disk), so this tier adds zero decode passes.
      cfg.semDedup.foreach { t =>
        // bit i of `bits` → coordinate i as ±1f (SQL `>>` so the shift
        // amount can be the lambda variable)
        def bitsVec(bits: String, n: Int): String =
          s"transform(sequence(0, ${n - 1}), " +
            s"i -> CAST(IF((($bits >> i) & 1) = 1, 1.0, -1.0) AS FLOAT))"
        // embed exactly the ahash's REAL bit width (ahashSize² — bits
        // 0..31 in lo, 32+ in hi): padding to a fixed 64 would add
        // constant −1 coordinates that inflate every pair's cosine
        // (1 − 2h/64 instead of 1 − 2h/n²) and silently over-dedup
        // narrow hashes
        val imgBits = cfg.ahashSize * cfg.ahashSize
        val hiLoVec =
          if (imgBits <= 32) expr(bitsVec("ahash_lo", imgBits))
          else expr(
            s"concat(${bitsVec("ahash_lo", 32)}, ${bitsVec("ahash_hi", imgBits - 32)})")
        def semOf(name: String, vec: org.apache.spark.sql.Column,
            fpOk: org.apache.spark.sql.Column): Unit = {
          val audit = spark.read.parquet(s"${cfg.out}/${cfg.table}_${name}_audit")
          val kept = graft.operators.Dedup.semDedupAuto(
            audit.filter(fpOk).select(col("media_id"), vec.as("__vec")),
            "media_id", "__vec", t)
          // null-fingerprint assets survive: dedup removes only rows with
          // positive duplicate evidence (the --dedup rule)
          sink.overwrite(s"${cfg.table}_${name}_sem_survivors",
            kept.unionByName(audit.filter(!fpOk).select("media_id"))
              .observe(s"media_audit_${id}_sem_survivors_$name",
                count(lit(1)).as("rows")))
        }
        semOf("image", hiLoVec, col("ahash_hi").isNotNull && col("ahash_lo").isNotNull)
        semOf("audio", expr(bitsVec("afp", cfg.audioFrames)), col("afp").isNotNull)
        semOf("video", hiLoVec, col("ahash_hi").isNotNull && col("ahash_lo").isNotNull)
      }

      // mixed-modality clean-corpus tail (VERDICT r12 next #6): the doc set
      // a multimodal trainer keeps = text survivors ∖ media-removed. The
      // removed set per modality is (ids in the pair graph) ∖ survivors —
      // pair-graph-sized, so the only corpus-scale work is the final thin
      // anti-join on the shared doc id. Docs with no media asset (or whose
      // assets never paired) pass through: dedup removes only rows with
      // positive duplicate evidence, exactly survivorsFromPairs' rule.
      cfg.textSurvivors.foreach { path =>
        val text = spark.read.parquet(path)
        require(text.columns.contains(cfg.textIdCol),
          s"--text-survivors table must carry column ${cfg.textIdCol} " +
            s"(found: ${text.columns.mkString(", ")})")
        val removed = Seq("image", "audio", "video").map { m =>
          val pairs = spark.read.parquet(s"${cfg.out}/${cfg.table}_${m}_pairs")
          val paired = pairs.select(col("id1").as("media_id"))
            .unionByName(pairs.select(col("id2").as("media_id"))).distinct()
          paired.join(
            spark.read.parquet(s"${cfg.out}/${cfg.table}_${m}_survivors"),
            Seq("media_id"), "left_anti")
        }.reduce(_ unionByName _)
        sink.overwrite(s"${cfg.table}_clean_docs",
          text.join(removed.withColumnRenamed("media_id", cfg.textIdCol),
              Seq(cfg.textIdCol), "left_anti")
            .observe(s"media_audit_${id}_clean_docs", count(lit(1)).as("rows")))
      }

      // modality disclosure: rows whose modality matches NO branch were
      // never audited — an audit that silently skips them would report
      // healthy while ignoring half the corpus. Metadata-only (the blob
      // column is pruned from these scans) and BOUNDED: totals + top-5
      // examples, never a driver-side collect of every distinct value of
      // a dirty free-text modality column (VERDICT r12 #2); cast-to-string
      // first so a non-string --modality-col reports instead of throwing
      // a ClassCastException after all artifacts are written (ADVICE r12).
      // ONE corpus scan: group to the distinct-value frame first (tiny —
      // modality-cardinality-sized), lazily checkpointed so the totals agg
      // and the top-5 read the same materialization instead of re-scanning
      // the 100 TB input twice
      import graft.operators.Ckpt.CkptOps
      val unmatched = media
        .select(coalesce(col(cfg.modalityCol).cast("string"), lit("null")).as("__m"))
        .filter(!col("__m").isin("image", "audio", "video"))
        .groupBy("__m").agg(count(lit(1)).as("n"))
        .lazySerCkpt
      val totals = unmatched.agg(
        coalesce(sum(col("n")), lit(0L)).as("rows"), count(lit(1)).as("d")).head()
      val unauditedRows = totals.getLong(0)
      val unauditedModalities = totals.getLong(1)
      val unauditedTop =
        if (unauditedRows == 0L) Seq.empty[(String, Long)]
        else unmatched.orderBy(col("n").desc, col("__m").asc).limit(5)
          .collect().toSeq.map(r => r.getString(0) -> r.getLong(1))

      (guard, unauditedRows, unauditedModalities, unauditedTop)
    }
    def field(key: String, f: String): Long =
      observed.get(s"media_audit_${id}_$key").flatMap(_.get(f).collect { case n: Long => n })
        .getOrElse(0L)
    val audits = Seq("image", "audio", "video").map { m =>
      m -> ModalityReport(field(m, "rows"), field(m, "undecodable"),
        if (cfg.pairs) field(s"pairs_$m", "rows") else -1L,
        if (cfg.dedup) field(s"survivors_$m", "rows") else -1L,
        if (cfg.semDedup.isDefined) field(s"sem_survivors_$m", "rows") else -1L)
    }.toMap
    AuditReport(audits, unauditedRows, unauditedModalities, unauditedTop, guard,
      cleanDocs =
        if (cfg.textSurvivors.isDefined) field("clean_docs", "rows") else -1L)
  }

  def main(args: Array[String]): Unit = {
    val cfg = parse(args.toSeq)
    val spark = Engine.session(appName = "graft-media-audit")
    try {
      val report = execute(spark, cfg)
      for (m <- Seq("image", "audio", "video"); r <- report.modalities.get(m)) {
        val pairs = if (r.pairs >= 0) s" pairs=${r.pairs}" else ""
        val survivors = if (r.survivors >= 0) s" survivors=${r.survivors}" else ""
        val sem = if (r.semSurvivors >= 0) s" sem_survivors=${r.semSurvivors}" else ""
        println(s"[media-audit] $m rows=${r.rows} undecodable=${r.undecodable}" +
          s"$pairs$survivors$sem")
      }
      // the RunTrainPrep guard-disclosure pattern: a production run must
      // SAY when pair semantics are no longer the plain join's
      for ((m, hits) <- report.guard.toSeq.sortBy(_._1)) {
        val detail = hits.toSeq.sortBy(_._1).map { case (f, v) => s"$f=$v" }.mkString(" ")
        println(s"[media-audit] GUARD ACTIVE $m: $detail — oversized buckets " +
          s"star-collapsed at --max-bucket ${cfg.maxBucket.getOrElse(-1)}; pair set " +
          "is bounded, not the full clique expansion (counters are per-band " +
          "emissions BEFORE the cross-band distinct — compare trends, not the " +
          "pairs= count)")
      }
      if (report.cleanDocs >= 0)
        println(s"[media-audit] clean docs kept=${report.cleanDocs} " +
          "(text survivors minus media-dedup removals, on the shared doc id)")
      if (report.unauditedRows > 0) {
        val top = report.unauditedTop.map { case (m, n) => s"$m=$n" }.mkString(", ")
        println(s"[media-audit] WARNING ${report.unauditedRows} rows across " +
          s"${report.unauditedModalities} modality values were NOT audited " +
          s"(no image/audio/video branch matches; top: $top)")
      }
    } finally spark.stop()
  }
}
