package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import Ckpt.CkptOps

/** The full training-data preparation pipeline, composed end-to-end the
  * way a real corpus run orders it (reference scope: the LLM-data tier the
  * brief layers over the reference's ETL surface; each stage is an
  * individually oracle-checked operator):
  *
  *   1. [[Curation.pipeline]] (transitive) — exact dedup, quality/language
  *      gates, near-dup removal with min-id survivorship per component.
  *   1a. (optional, `embeddings` + `semThreshold`) SemDeDup semantic
  *      dedup — [[Dedup.semDedupAuto]] over the curated survivors'
  *      embeddings (an EXTERNAL (id, vector) table joined on the doc id);
  *      docs whose embedding loses its semantic cluster drop. Runs right
  *      after curation: it is a dedup, and dedup-before-model-training is
  *      the SemDeDup/CCNet order — semantic replica clusters would
  *      otherwise skew the 1b model exactly like textual ones. Docs with
  *      NO embedding row carry no semantic evidence and are KEPT (the
  *      1b short-doc rule).
  *   1b. (optional, `lmMaxPpl`) CCNet-family perplexity gate —
  *      [[TextAnalysis.bigramLmScore]] trained on the curated corpus,
  *      docs above the perplexity ceiling dropped. Runs after curation so
  *      near-dup replica clusters cannot skew the model toward their own
  *      phrasing, and before containment so the dropped docs never price
  *      their shingles.
  *   2. Containment removal — [[Dedup.containmentPairs]] over the
  *      survivors, then drop the CONTAINED doc (id1) of every verified
  *      pair: the doc-inside-doc redundancy Jaccard-LSH structurally
  *      misses.
  *   3. Substring-level removal — [[Dedup.removeDuplicatedSpans]]: delete
  *      duplicated ≥ k-token spans at any alignment, keep the global-first
  *      copy (Lee et al. 2021 family).
  *
  * Stage ORDER is the scale lever, not a style choice (measured, q67/q69
  * campaign): curation FIRST keeps containment's anchors rare — near-dup
  * clusters multiply every anchor's document frequency, inflating the
  * candidate expansion ~F² on an F×-replicated corpus (13× wall at 10×,
  * would-not-run raw at 100×). The substring pass runs LAST so its
  * corpus-wide window statistics count the deduplicated corpus: run first,
  * every near-dup replica's full text is one giant duplicated span and the
  * pass guts documents curation was about to drop anyway, while its
  * surviving copies' statistics shift with the replica count.
  *
  * Containment survivor rule: ONE-SHOT (non-cascading) drop of every id1
  * in a verified pair. Non-cascading is deliberate: containment at the
  * 0.8 bar is not transitive (A⊂B at 0.85 and B⊂C at 0.85 admit
  * C(A→C) ≈ 0.7), so a cascade would need a fixpoint loop for marginal
  * recall; the one-shot rule is deterministic and single-pass. A
  * symmetric pair (both directions ≥ threshold) keeps the min id —
  * consistent with curation's min-id survivorship — though symmetric
  * pairs cannot survive stage 1 (mutual 0.8-containment implies
  * J ≥ 0.8/1.2 ≈ 0.67 > the 0.6 curation bar); the tiebreak is defensive
  * determinism for non-default thresholds.
  *
  * Scale shape: stage 1 is the measured 100× curation pipeline; stage 2
  * adds ~2 s at 100× on survivors (SCALE_r09) under the posting-cap
  * budget guard; stage 3 is one count shuffle + one marking join + a
  * per-doc window pass. The `curated` frame is checkpointed (two
  * consumers: containment probe and removal input), as is the verified
  * pair set (drop set + reverse-pair tiebreak probe).
  */
object TrainPrep {

  private val obsId = new java.util.concurrent.atomic.AtomicInteger()

  /** Per-stage doc counts ride the pipeline as `observe` metrics
    * (`train_prep_{n}_{input|curated|after_contain|clean}`, field `docs` —
    * each the count of docs REMAINING after that stage — the
    * `run/Metrics.scala` pattern: computed DURING the materializing action,
    * never an extra count job over a 100 TB corpus). [[RunTrainPrep]]
    * reads them through one `MetricsCollector.during` scope around the run
    * and surfaces them as the run report; the unique suffix keeps names legal
    * when one session runs the pipeline twice (q73 + q74 in one Verify).
    */
  def pipeline(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      hash64: Boolean = false,
      minQuality: Double = 0.3,
      bands: Int = 4,
      rowsPerBand: Int = 4,
      jaccardThreshold: Double = 0.6,
      containThreshold: Double = 0.8,
      substringK: Int = 8,
      maxCandidatesPerDoc: Int = Dedup.DefaultMaxCandidatesPerDoc,
      lmMaxPpl: Option[Double] = None,
      // fixed-reference LM (the CCNet deployment shape): when supplied,
      // stage 1b scores the curated corpus against THIS model instead of
      // retraining on the corpus being filtered — the production gate
      // prices the crawl against a trusted slice's language, so a crawl
      // full of boilerplate cannot teach the model that boilerplate is
      // normal. Ignored unless lmMaxPpl arms the gate.
      lmModel: Option[TextAnalysis.BigramLm] = None,
      // Kneser-Ney smoothing for the SELF-TRAINED gate (the KenLM/CCNet
      // smoothing family — TextAnalysis.bigramLmScoreKn at order 2,
      // .ngramLmScoreKn at 3-5). Self-trained only: the
      // model-as-data shape (lmModel) carries no continuation counts, so
      // the two knobs are mutually exclusive by require below.
      lmKn: Boolean = false,
      lmKnOrder: Int = 2,
      // SemDeDup stage 1a: the (embIdCol, embVecCol) table of per-doc
      // embeddings, joined to the curated survivors on the doc id. Armed
      // only when BOTH embeddings and semThreshold are supplied.
      embeddings: Option[DataFrame] = None,
      semThreshold: Option[Double] = None,
      semCentroids: Int = 0,
      semMaxCell: Int = Dedup.DefaultMaxBucketSize,
      embIdCol: String = "vec_id",
      embVecCol: String = "embedding",
      // injectable centroid seam (the [[Dedup.semDedup]] oracle rule):
      // when supplied, the stage clusters around THESE centroids instead
      // of training KMeans — deterministic Forgy centroids make the whole
      // stitched pipeline SQL-replayable (q105); production leaves this
      // None and gets semDedupAuto
      semCentroidsDf: Option[DataFrame] = None): DataFrame = {
    require(!(lmKn && lmModel.isDefined),
      "lmKn applies to the self-trained gate; a fixed reference model " +
        "(lmModel) carries no continuation counts")
    require(lmKnOrder >= 2 && lmKnOrder <= 5,
      s"lmKnOrder must be 2-5 (KenLM deploys 4-5); got $lmKnOrder")
    require(embeddings.isDefined == semThreshold.isDefined,
      "SemDeDup needs both the embeddings table and semThreshold " +
        "(one without the other would silently skip the stage)")
    val id = obsId.incrementAndGet()
    def staged(df: DataFrame, stage: String): DataFrame =
      df.observe(s"train_prep_${id}_$stage", count(lit(1)).as("docs"))
    val survivors = Curation
      .pipeline(docs, idCol, textCol, minQuality = minQuality, bands = bands,
        rowsPerBand = rowsPerBand, jaccardThreshold = jaccardThreshold,
        hash64 = hash64, transitive = true)
      .select(idCol)
    // the input observe sits on the semi-join PROBE branch only (the
    // curation pipeline keeps the raw frame): one CollectMetrics per name
    // per plan, counting every input doc as it streams into the join.
    // EAGER checkpoints here, not lazy: Dataset.localCheckpoint wraps BOTH
    // modes in withAction, so a lazy checkpoint fires the execution
    // listener at BUILD time with zeroed accumulators and the real
    // materialization never re-fires it — the below-checkpoint observes
    // (these stage counts; containmentPairs' guard counters inside
    // `pairs`) would all report 0. Eager runs the job inside the call, so
    // the listener reads the real values; total work is unchanged (the
    // lazy form materialized inside the first consumer anyway).
    val curated = staged(
        staged(docs.select(col(idCol), col(textCol)), "input")
          .join(survivors, Seq(idCol), "left_semi"), "curated")
      .eagerSerCkpt
    // optional CCNet-family perplexity gate (stage 1b): the bigram LM
    // trains on the CURATED corpus — after exact/near-dup removal, so
    // replica clusters can't skew the model toward their own phrasing —
    // and docs above the perplexity ceiling drop before the containment
    // stage prices their shingles. Docs with <2 tokens carry no LM
    // evidence (null ppl) and are KEPT: the quality gate already judged
    // them, and a perplexity filter has nothing to say about one token.
    // optional SemDeDup stage (1a): semantic dedup over the CURATED
    // survivors' embeddings — replica clusters are already gone, so the
    // semantic pass prices genuinely-distinct-text-same-meaning docs,
    // which is the one redundancy no textual stage above can see. Docs
    // with no embedding row ride through (no semantic evidence ≠ drop).
    val semKept = (embeddings, semThreshold) match {
      case (Some(emb), Some(thr)) =>
        // checkpointed: semDedupAuto reads it three times (corpus count,
        // KMeans training sample, assignment scan) — one embeddings read
        // + semi-join instead of three
        val universe = emb
          .select(col(embIdCol).as(idCol), col(embVecCol).as("__vec"))
          .join(curated.select(idCol), Seq(idCol), "left_semi")
          .lazySerCkpt
        val survivors = semCentroidsDf match {
          case Some(c) =>
            Dedup.semDedup(universe, idCol, "__vec", c, thr, maxCellSize = semMaxCell)
          case None => Dedup.semDedupAuto(universe, idCol, "__vec", thr,
            numCentroids = semCentroids, maxCellSize = semMaxCell)
        }
        val dropped = universe.select(idCol)
          .join(survivors, Seq(idCol), "left_anti")
        staged(curated.join(dropped, Seq(idCol), "left_anti"), "after_sem")
          .eagerSerCkpt
      case _ => curated
    }
    val lmKept = lmMaxPpl match {
      case Some(maxPpl) =>
        val scoredDf = lmModel match {
          case Some(m) => TextAnalysis.bigramLmScoreWith(semKept, idCol, textCol, m)
          case None if lmKn && lmKnOrder >= 3 =>
            TextAnalysis.ngramLmScoreKn(semKept, idCol, textCol, lmKnOrder)
          case None if lmKn => TextAnalysis.bigramLmScoreKn(semKept, idCol, textCol)
          case None => TextAnalysis.bigramLmScore(semKept, idCol, textCol)
        }
        val kept = scoredDf
          .filter(col("ppl") <= maxPpl || col("ppl").isNull)
          .select(idCol)
        staged(semKept.join(kept, Seq(idCol), "left_semi"), "after_lm")
          .eagerSerCkpt
      case None => semKept
    }
    val pairs = Dedup.containmentPairs(lmKept, idCol, textCol,
        threshold = containThreshold, maxCandidatesPerDoc = maxCandidatesPerDoc)
      .eagerSerCkpt
    val rev = pairs.select(col("id1").as("__r1"), col("id2").as("__r2"))
    val contained = pairs
      .join(rev, col("id1") === col("__r2") && col("id2") === col("__r1"), "left")
      .filter(col("__r1").isNull || col("id1") > col("id2"))
      // NOT distinct: consumed only by the LEFT ANTI below (existence
      // test; duplicate contained-ids are inert) — dropping the
      // distinct() removes one exchange + aggregate per pipeline run
      .select(col("id1").as(idCol))
    val afterContain =
      staged(lmKept.join(contained, Seq(idCol), "left_anti"), "after_contain")
    staged(
      // hashPrefilter = true: every stage above is a dedup, so the
      // duplicated-window fraction reaching this pass is tiny by
      // construction — exactly the selectivity regime where the hash
      // prefilter wins (markedSpans' A/B note; dev/r17/substr_ab.log)
      Dedup.removeDuplicatedSpans(afterContain, idCol, textCol, k = substringK,
        hashPrefilter = true),
      "clean")
  }
}
