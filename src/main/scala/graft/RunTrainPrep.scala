package graft

import org.apache.spark.sql.SparkSession

import graft.operators.TrainPrep
import graft.run.MetricsCollector
import graft.sink.ParquetSink

/** Production CLI for the training-data preparation pipeline (VERDICT r10
  * next #2 — the composition q73 verifies, promoted to the artifact a real
  * corpus run invokes; entry-point precedent: the reference's
  * `run_etl.py:47-111` flag surface → [[RunEtl]]):
  *
  * {{{
  * runMain graft.RunTrainPrep --in <parquet path> --out <dir>
  *   [--id-col doc_id] [--text-col text] [--hash64]
  *   [--min-quality 0.3] [--bands 4] [--rows-per-band 4] [--jaccard 0.6]
  *   [--contain 0.8] [--substring-k 8] [--max-candidates 4096]
  *   [--lm-max-ppl X [--lm-kn [--lm-kn-order 2|3|4|5] |
  *     --lm-ref <path> [--lm-ref-broadcast]]]
  *   [--embeddings <parquet> --sem-threshold X [--sem-centroids K]
  *    [--sem-max-cell N] [--embed-id-col vec_id] [--embed-vec-col embedding]]
  *   [--select-target-col C (--select-top-n N |
  *     --select-frac F) [--select-buckets 1024]
  *     [--select-classifier dsir|nb]] [--table clean_corpus]
  *   [--pack-capacity N [--pack-shard lang] [--pack-shard-buckets 64]
  *     [--pack-split]] [--bpe-merges N]
  * }}}
  *
  * Reads the corpus parquet, runs [[TrainPrep.pipeline]] (curation →
  * containment removal → substring-span removal), and writes the clean
  * corpus through [[graft.sink.ParquetSink]]. Per-stage doc counts are
  * the pipeline's `observe` metrics — computed during the ONE write
  * action, never an extra count job — drained synchronously off the
  * listener bus and printed as the run report:
  *
  * {{{
  * [train-prep] input=500000 curated=163840 after_contain=163710 clean=163710
  * }}}
  *
  * When the containment stage's candidate-budget guard drops postings
  * (near-dup-dense corpora over `--max-candidates`), a second report line
  * says so with the counters — the run itself must disclose reduced
  * containment recall, not only the Verify harness (VERDICT r11 next #6).
  *
  * `--hash64` selects the xxhash64 production hash family (q74's
  * configuration — 2.5× cheaper than the md5 oracle family at 100×,
  * SCALE_r10); the default md5 family is the DuckDB-oracle-checked q73
  * configuration.
  */
object RunTrainPrep {

  final case class Config(
      in: String = "",
      out: String = "",
      idCol: String = "doc_id",
      textCol: String = "text",
      hash64: Boolean = false,
      minQuality: Double = 0.3,
      bands: Int = 4,
      rowsPerBand: Int = 4,
      jaccard: Double = 0.6,
      contain: Double = 0.8,
      substringK: Int = 8,
      maxCandidates: Int = graft.operators.Dedup.DefaultMaxCandidatesPerDoc,
      // --lm-max-ppl X arms the CCNet-family perplexity gate between
      // curation and containment: a bigram LM trains on the curated
      // corpus and docs with perplexity above X drop (stage `after_lm`
      // in the report); docs too short to score (no bigrams) are kept
      lmMaxPpl: Option[Double] = None,
      // --lm-ref <path> points the gate at a FIXED reference model: the
      // bigram LM trains once on the trusted corpus at <path> (parquet
      // with the same --text-col) instead of on the corpus being
      // filtered — the CCNet deployment shape. --lm-ref-broadcast marks
      // the reference model bounded enough to broadcast into the scoring
      // joins (right for a trusted slice, wrong for a crawl-sized model)
      lmRef: Option[String] = None,
      lmRefBroadcast: Boolean = false,
      // --lm-kn switches the SELF-TRAINED gate's smoothing from add-1 to
      // interpolated Kneser-Ney (the KenLM/CCNet family; --lm-kn-order
      // picks the order, 2 (default) to 5). Mutually exclusive with
      // --lm-ref: the model-as-data
      // shape carries no continuation counts
      lmKn: Boolean = false,
      lmKnOrder: Int = 2,
      // --embeddings <path> --sem-threshold X arm the SemDeDup stage
      // (Dedup.semDedupAuto over the curated survivors' embeddings,
      // joined on --embed-id-col = the doc id; stage `after_sem`).
      // --sem-centroids 0 derives K ≈ √n; --sem-max-cell guards
      // degenerate cells via the star-collapse
      semEmbeddings: Option[String] = None,
      semThreshold: Option[Double] = None,
      semCentroids: Int = 0,
      semMaxCell: Int = graft.operators.Dedup.DefaultMaxBucketSize,
      embIdCol: String = "vec_id",
      embVecCol: String = "embedding",
      // --select-target-col C --select-top-n N arm the DSIR
      // importance-selection PRE-stage (Sampling.importanceSelect): the
      // input corpus is ranked by how target-domain-like its hashed
      // unigrams are (target = rows where boolean column C is true) and
      // only the top N enter the pipeline — the DSIR deployment shape:
      // select from the raw crawl, then clean what you selected
      selectTargetCol: Option[String] = None,
      selectTopN: Option[Int] = None,
      // --select-frac F selects ⌈F · corpus⌉ docs instead of a fixed N —
      // the "training budget as a fraction" deployment shape; at
      // production corpus sizes the derived N exceeds
      // Sampling.SelectTakeOrderedMaxN and the selection runs the fully
      // distributed cutoff path automatically
      selectFrac: Option[Double] = None,
      selectBuckets: Int = 1024,
      // --select-classifier picks the selection model: "dsir" (default —
      // importance resampling, target vs raw mixture) or "nb" (the
      // fasttext-family quality-classifier shape: closed-form Naive Bayes,
      // target vs REST, class prior included). Same hashed features, same
      // two selection plan shapes either way.
      selectClassifier: String = "dsir",
      table: String = "clean_corpus",
      // --pack-capacity N additionally emits `<table>_packed` — the clean
      // corpus with (n_tokens, bin_id) per doc (q75's composition; bins
      // sharded by --pack-shard when the input carries that column, else
      // by a hash of the id so no shard serializes the corpus)
      packCapacity: Option[Long] = None,
      packShard: String = "lang",
      packShardBuckets: Int = 64,
      // --pack-split switches the tail to Sampling.packSplit: docs longer
      // than the capacity split into <=capacity sequences (seq_idx,
      // seq_tokens) so every packed piece fits a trainer's context window
      packSplit: Boolean = false,
      // --bpe-merges N arms the tokenizer tail (VERDICT r13 next #2):
      // learn N BPE merges on the CLEAN corpus, write the merge table
      // (`<table>_bpe_merges`) and the per-doc token-id sequences
      // (`<table>_encoded`), and make the pack stage bin on the REAL
      // tokenizer counts (n_ids) instead of whitespace tokens — learn →
      // encode → pack in one invocation
      bpeMerges: Option[Int] = None)

  def parse(args: Seq[String]): Config = {
    def loop(rest: List[String], cfg: Config): Config = rest match {
      case Nil => cfg
      case "--in" :: v :: t => loop(t, cfg.copy(in = v))
      case "--out" :: v :: t => loop(t, cfg.copy(out = v))
      case "--id-col" :: v :: t => loop(t, cfg.copy(idCol = v))
      case "--text-col" :: v :: t => loop(t, cfg.copy(textCol = v))
      case "--hash64" :: t => loop(t, cfg.copy(hash64 = true))
      case "--min-quality" :: v :: t => loop(t, cfg.copy(minQuality = v.toDouble))
      case "--bands" :: v :: t => loop(t, cfg.copy(bands = v.toInt))
      case "--rows-per-band" :: v :: t => loop(t, cfg.copy(rowsPerBand = v.toInt))
      case "--jaccard" :: v :: t => loop(t, cfg.copy(jaccard = v.toDouble))
      case "--contain" :: v :: t => loop(t, cfg.copy(contain = v.toDouble))
      case "--substring-k" :: v :: t => loop(t, cfg.copy(substringK = v.toInt))
      case "--max-candidates" :: v :: t => loop(t, cfg.copy(maxCandidates = v.toInt))
      case "--lm-max-ppl" :: v :: t => loop(t, cfg.copy(lmMaxPpl = Some(v.toDouble)))
      case "--lm-ref" :: v :: t => loop(t, cfg.copy(lmRef = Some(v)))
      case "--lm-ref-broadcast" :: t => loop(t, cfg.copy(lmRefBroadcast = true))
      case "--lm-kn" :: t => loop(t, cfg.copy(lmKn = true))
      case "--lm-kn-order" :: v :: t => loop(t, cfg.copy(lmKnOrder = v.toInt))
      case "--embeddings" :: v :: t => loop(t, cfg.copy(semEmbeddings = Some(v)))
      case "--sem-threshold" :: v :: t => loop(t, cfg.copy(semThreshold = Some(v.toDouble)))
      case "--sem-centroids" :: v :: t => loop(t, cfg.copy(semCentroids = v.toInt))
      case "--sem-max-cell" :: v :: t => loop(t, cfg.copy(semMaxCell = v.toInt))
      case "--embed-id-col" :: v :: t => loop(t, cfg.copy(embIdCol = v))
      case "--embed-vec-col" :: v :: t => loop(t, cfg.copy(embVecCol = v))
      case "--select-target-col" :: v :: t => loop(t, cfg.copy(selectTargetCol = Some(v)))
      case "--select-top-n" :: v :: t => loop(t, cfg.copy(selectTopN = Some(v.toInt)))
      case "--select-frac" :: v :: t => loop(t, cfg.copy(selectFrac = Some(v.toDouble)))
      case "--select-buckets" :: v :: t => loop(t, cfg.copy(selectBuckets = v.toInt))
      case "--select-classifier" :: v :: t => loop(t, cfg.copy(selectClassifier = v))
      case "--table" :: v :: t => loop(t, cfg.copy(table = v))
      case "--pack-capacity" :: v :: t => loop(t, cfg.copy(packCapacity = Some(v.toLong)))
      case "--pack-shard" :: v :: t => loop(t, cfg.copy(packShard = v))
      case "--pack-shard-buckets" :: v :: t => loop(t, cfg.copy(packShardBuckets = v.toInt))
      case "--pack-split" :: t => loop(t, cfg.copy(packSplit = true))
      case "--bpe-merges" :: v :: t => loop(t, cfg.copy(bpeMerges = Some(v.toInt)))
      case other :: _ => throw new IllegalArgumentException(s"unknown argument: $other")
    }
    val cfg = loop(args.toList, Config())
    require(cfg.in.nonEmpty, "--in is required")
    require(cfg.out.nonEmpty, "--out is required")
    // loud failures for numeric flags (ADVICE r11): --pack-capacity 0
    // would otherwise reach packBins' floor(sum/0.0) = Infinity →
    // Long.MaxValue — silently-garbage bin ids instead of an error
    require(cfg.bands > 0, s"--bands must be positive; got ${cfg.bands}")
    require(cfg.rowsPerBand > 0, s"--rows-per-band must be positive; got ${cfg.rowsPerBand}")
    require(cfg.substringK > 0, s"--substring-k must be positive; got ${cfg.substringK}")
    require(cfg.maxCandidates > 0, s"--max-candidates must be positive; got ${cfg.maxCandidates}")
    cfg.packCapacity.foreach(c =>
      require(c > 0, s"--pack-capacity must be positive; got $c"))
    cfg.lmMaxPpl.foreach(p =>
      require(p > 0, s"--lm-max-ppl must be positive; got $p"))
    // dependent flags: a reference model without an armed gate (and a
    // broadcast hint without a reference) would be silent no-ops
    require(cfg.lmRef.isEmpty || cfg.lmMaxPpl.isDefined,
      "--lm-ref requires --lm-max-ppl (the reference model feeds the gate)")
    require(!cfg.lmRefBroadcast || cfg.lmRef.isDefined,
      "--lm-ref-broadcast requires --lm-ref")
    require(!cfg.lmKn || cfg.lmMaxPpl.isDefined,
      "--lm-kn picks the gate's smoothing; it requires --lm-max-ppl")
    require(!(cfg.lmKn && cfg.lmRef.isDefined),
      "--lm-kn applies to the self-trained gate; a fixed reference model " +
        "carries no continuation counts")
    require(cfg.lmKnOrder >= 2 && cfg.lmKnOrder <= 5,
      s"--lm-kn-order must be 2-5; got ${cfg.lmKnOrder}")
    require(cfg.lmKnOrder == 2 || cfg.lmKn,
      "--lm-kn-order refines --lm-kn; arm the KN gate first")
    require(cfg.semEmbeddings.isDefined == cfg.semThreshold.isDefined,
      "SemDeDup needs both --embeddings and --sem-threshold " +
        "(one without the other would silently skip the stage)")
    cfg.semThreshold.foreach(t =>
      require(t > -1.0 && t < 1.0, s"--sem-threshold must be a cosine in (-1, 1); got $t"))
    require(cfg.semCentroids == 0 || cfg.semCentroids >= 2,
      "--sem-centroids must be 0 (derive ~sqrt(n)) or >= 2 (Spark ML " +
        s"KMeans rejects k = 1); got ${cfg.semCentroids}")
    require(cfg.semMaxCell > 0,
      s"--sem-max-cell must be positive; got ${cfg.semMaxCell}")
    // dependent pair: selection needs both the target definition and the
    // budget — one without the other would silently select nothing or
    // everything while the user believes DSIR ran. The budget is EITHER a
    // fixed N or a corpus fraction, never both (two budgets would make
    // the effective selection size ambiguous).
    require(!(cfg.selectTopN.isDefined && cfg.selectFrac.isDefined),
      "--select-top-n and --select-frac are mutually exclusive")
    require(cfg.selectTargetCol.isDefined ==
        (cfg.selectTopN.isDefined || cfg.selectFrac.isDefined),
      "--select-target-col and a budget (--select-top-n or --select-frac) " +
        "must be given together")
    cfg.selectTopN.foreach(n =>
      require(n > 0, s"--select-top-n must be positive; got $n"))
    cfg.selectFrac.foreach(f =>
      require(f > 0 && f <= 1, s"--select-frac must be in (0, 1]; got $f"))
    require(cfg.selectBuckets > 0,
      s"--select-buckets must be positive; got ${cfg.selectBuckets}")
    require(Set("dsir", "nb")(cfg.selectClassifier),
      s"--select-classifier must be dsir or nb; got ${cfg.selectClassifier}")
    // dependent flag: --pack-split only takes effect inside the
    // --pack-capacity tail — alone it would be a silent no-op (no _packed
    // artifact, no warning) while the user believes the corpus was split
    require(!cfg.packSplit || cfg.packCapacity.isDefined,
      "--pack-split requires --pack-capacity")
    require(cfg.packShardBuckets > 0,
      s"--pack-shard-buckets must be positive; got ${cfg.packShardBuckets}")
    cfg.bpeMerges.foreach(n =>
      require(n > 0, s"--bpe-merges must be positive; got $n"))
    cfg
  }

  /** The run report: per-stage doc counts plus the containment stage's
    * candidate-budget guard counters (VERDICT r11 next #6 — a production
    * operator that drops candidate postings under budget pressure must say
    * so in its OWN run report, not only in the Verify harness).
    * `guard("dropped_postings") > 0` means the posting cap actively
    * reduced containment recall on this corpus; the cure is curate-first
    * anchor rarity (already this pipeline's order) or a larger
    * `--max-candidates`.
    */
  final case class Report(stages: Map[String, Long], guard: Map[String, Long])

  /** Runs the prep; returns the [[Report]] (per-stage doc counts + guard
    * counters). Factored out of `main` so specs can drive the CLI path on
    * a shared session (the RunEtl.execute pattern).
    */
  def execute(spark: SparkSession, cfg: Config): Report = {
    val raw = spark.read.parquet(cfg.in)
    require(raw.columns.contains(cfg.idCol) && raw.columns.contains(cfg.textCol),
      s"input must carry columns ${cfg.idCol} and ${cfg.textCol} " +
        s"(found: ${raw.columns.mkString(", ")})")
    cfg.selectTargetCol.foreach { c =>
      require(raw.columns.contains(c),
        s"--select-target-col $c not in input (found: ${raw.columns.mkString(", ")})")
      // type-check up front (the RunMediaAudit modality-col precedent,
      // ADVICE r12): under ANSI a string column would throw CAST_INVALID
      // mid-run, after the expensive scan, instead of reporting here
      val dt = raw.schema(c).dataType
      require(dt == org.apache.spark.sql.types.BooleanType,
        s"--select-target-col $c must be BOOLEAN; got ${dt.simpleString} " +
          "(derive one upstream, e.g. source = 'src0')")
    }
    // DSIR pre-stage: rank by hashed-unigram target-likeness, keep top N;
    // the kept id set semi-joins the raw frame so every input column rides
    // through to the pipeline. No separate `selected` report stage exists:
    // the pipeline's `input` stage counts the selection (main() prints a
    // disclosure line saying exactly that when selection is armed).
    // resolve the selection budget: fixed N, or ⌈frac · corpus⌉ (one
    // parquet count — footer metadata, not a scan). A fraction-derived N
    // past Sampling.SelectTakeOrderedMaxN automatically runs the
    // distributed cutoff path inside importanceSelect.
    val selectN: Option[Int] = (cfg.selectTopN, cfg.selectFrac) match {
      case (Some(n), _) => Some(n)
      case (None, Some(f)) =>
        val n = math.ceil(f * raw.count()).toLong
        require(n <= Int.MaxValue,
          s"--select-frac $f of this corpus derives topN=$n > Int.MaxValue")
        Some(math.max(n.toInt, 1))
      case _ => None
    }
    val docs = (cfg.selectTargetCol, selectN) match {
      case (Some(tgt), Some(n)) =>
        import org.apache.spark.sql.functions.col
        val ranked =
          if (cfg.selectClassifier == "nb")
            graft.operators.Sampling.qualitySelect(raw, cfg.idCol, cfg.textCol,
              isTarget = col(tgt), topN = n, buckets = cfg.selectBuckets)
          else
            graft.operators.Sampling.importanceSelect(raw, cfg.idCol, cfg.textCol,
              isTarget = col(tgt), topN = n, buckets = cfg.selectBuckets)
        raw.join(ranked.select(cfg.idCol), Seq(cfg.idCol), "left_semi")
      case _ => raw
    }
    val mc = new MetricsCollector(spark)
    try {
      val before = mc.snapshot.keySet
      // fixed-reference LM: train once on the trusted corpus before the
      // pipeline builds (one read + two aggregations of the slice)
      val lmModel = cfg.lmRef.map { path =>
        val ref = spark.read.parquet(path)
        require(ref.columns.contains(cfg.textCol),
          s"--lm-ref corpus must carry column ${cfg.textCol} " +
            s"(found: ${ref.columns.mkString(", ")})")
        graft.operators.TextAnalysis.trainBigramLm(ref, cfg.textCol)
      }
      // SemDeDup stage input: one read, column presence checked up front
      // (the --lm-ref discipline — fail before the expensive scan)
      val semEmb = cfg.semEmbeddings.map { path =>
        val emb = spark.read.parquet(path)
        for (c <- Seq(cfg.embIdCol, cfg.embVecCol))
          require(emb.columns.contains(c),
            s"--embeddings table must carry column $c " +
              s"(found: ${emb.columns.mkString(", ")})")
        emb
      }
      val clean = TrainPrep.pipeline(docs, cfg.idCol, cfg.textCol,
        hash64 = cfg.hash64, minQuality = cfg.minQuality, bands = cfg.bands,
        rowsPerBand = cfg.rowsPerBand, jaccardThreshold = cfg.jaccard,
        containThreshold = cfg.contain, substringK = cfg.substringK,
        maxCandidatesPerDoc = cfg.maxCandidates, lmMaxPpl = cfg.lmMaxPpl,
        lmModel = lmModel, lmBroadcastModel = cfg.lmRefBroadcast,
        lmKn = cfg.lmKn, lmKnOrder = cfg.lmKnOrder,
        embeddings = semEmb, semThreshold = cfg.semThreshold,
        semCentroids = cfg.semCentroids, semMaxCell = cfg.semMaxCell,
        embIdCol = cfg.embIdCol, embVecCol = cfg.embVecCol)
      val sink = new ParquetSink(cfg.out)
      sink.overwrite(cfg.table, clean)
      // optional BPE tokenizer tail (VERDICT r13 next #2): learn the
      // vocabulary on the WRITTEN clean corpus (read back — the prep ran
      // once), emit the merge table and the per-doc token-id sequences,
      // and hand the real tokenizer counts to the pack stage below. The
      // merge table is driver-resident by construction (one row per
      // learned merge), so collecting it for the encode pass is free.
      val bpeEncoded = cfg.bpeMerges.map { n =>
        import org.apache.spark.sql.functions.col
        val cleanBack = spark.read.parquet(s"${cfg.out}/${cfg.table}")
        val mergesDf = graft.operators.Bpe.learnMerges(cleanBack, "clean_text", n)
        sink.overwrite(s"${cfg.table}_bpe_merges", mergesDf)
        val merges = mergesDf.orderBy("merge_idx").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        sink.overwrite(s"${cfg.table}_encoded",
          graft.operators.Bpe.encode(cleanBack, cfg.idCol, "clean_text", merges))
        // read the artifact back for the pack join — the encode ran once
        spark.read.parquet(s"${cfg.out}/${cfg.table}_encoded")
          .select(col(cfg.idCol), col("n_ids"))
      }
      // optional prep -> pack tail (q75's composition): re-tokenize the
      // written corpus (read back, not recomputed — the prep ran once) and
      // emit token bins. Shard by cfg.packShard when the INPUT carries it;
      // otherwise hash the id into packShardBuckets shards — the scale rule
      // from q75's scaladoc (a low-cardinality shard serializes each
      // shard's cumulative sum through one window partition). With
      // --bpe-merges armed, n_tokens is the ENCODED sequence length (what
      // a fixed-context trainer actually consumes); otherwise the
      // whitespace token count.
      cfg.packCapacity.foreach { cap =>
        import org.apache.spark.sql.functions._
        val cleanBack = spark.read.parquet(s"${cfg.out}/${cfg.table}")
        val sharded =
          if (docs.columns.contains(cfg.packShard))
            cleanBack.join(
              docs.select(col(cfg.idCol), col(cfg.packShard)), Seq(cfg.idCol))
          else cleanBack.withColumn(cfg.packShard,
            pmod(xxhash64(col(cfg.idCol)), lit(cfg.packShardBuckets)))
        val toks = bpeEncoded match {
          case Some(counts) =>
            sharded.join(counts.withColumnRenamed("n_ids", "n_tokens"), Seq(cfg.idCol))
          case None =>
            sharded.withColumn("n_tokens",
              when(col("clean_text") === "", lit(0L))
                .otherwise(size(split(col("clean_text"), "\\s+")).cast("long")))
        }
        val packed =
          if (cfg.packSplit)
            graft.operators.Sampling.packSplit(
              toks, col(cfg.packShard), col(cfg.idCol), col("n_tokens"), cap)
          else
            graft.operators.Sampling.packBins(
              toks, col(cfg.packShard), col(cfg.idCol), col("n_tokens"), cap)
        sink.overwrite(s"${cfg.table}_packed", packed)
      }
      // synchronous drain: the stage metrics were computed during the write
      // action above; after the bus empties the snapshot diff is exact
      if (!org.apache.spark.GraftListenerBridge.waitListenerBusEmpty(spark.sparkContext))
        System.err.println("[train-prep] warning: listener bus did not drain " +
          "in 10 s — stage report may be partial")
      val snap = mc.snapshot.toSeq
      val stages = snap
        .filter { case (name, _) => name.startsWith("train_prep_") && !before(name) }
        .flatMap { case (name, fields) =>
          fields.get("docs").collect { case n: Long =>
            name.substring(name.indexOf('_', "train_prep_".length) + 1) -> n
          }
        }.toMap
      // the containment stage's candidate-budget counters, summed across
      // this run's observe instances (the pipeline emits one per call) —
      // silent posting drops must surface in the production report
      val guard = snap
        .filter { case (name, _) => name.startsWith("containment_guard_") && !before(name) }
        .flatMap { case (_, fields) => fields.collect { case (f, v: Long) => f -> v } }
        .groupMapReduce(_._1)(_._2)(_ + _)
      Report(stages, guard)
    } finally mc.close()
  }

  private val StageOrder =
    Seq("input", "curated", "after_sem", "after_lm", "after_contain", "clean")

  def main(args: Array[String]): Unit = {
    val cfg = parse(args.toSeq)
    val spark = Engine.session(appName = "graft-train-prep")
    try {
      val report = execute(spark, cfg)
      // disclosure, not a count job: when selection is armed, `input` in
      // the stage line is the SELECTED subset, not the raw corpus
      cfg.selectTargetCol.foreach { c =>
        val budget = cfg.selectTopN.map(n => s"top $n docs")
          .getOrElse(s"top ${cfg.selectFrac.get} of the corpus")
        println(
          s"[train-prep] ${cfg.selectClassifier} selection ACTIVE: $budget " +
            s"by $c-likeness (${cfg.selectBuckets} hash buckets) entered " +
            "the pipeline — the input stage below counts the selection, " +
            "not the raw corpus")
      }
      val line = StageOrder.flatMap(s => report.stages.get(s).map(n => s"$s=$n")).mkString(" ")
      println(s"[train-prep] $line")
      val dropped = report.guard.getOrElse("dropped_postings", 0L)
      if (dropped > 0L)
        println(s"[train-prep] containment candidate-budget guard ACTIVE: " +
          s"dropped_postings=$dropped " +
          s"heavy_postings=${report.guard.getOrElse("heavy_postings", 0L)} — " +
          s"recall reduced on this corpus; raise --max-candidates " +
          s"(${cfg.maxCandidates}) or reduce near-dup density upstream")
    } finally spark.stop()
  }
}
