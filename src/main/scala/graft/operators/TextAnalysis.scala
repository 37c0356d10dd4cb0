package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Ckpt._

/** Text statistics for training-data curation: token counting, quality
  * scoring, language identification, and document fingerprinting.
  * All pure column pipelines (codegen'd, no UDFs, no shuffles).
  */
object TextAnalysis {

  /** The canonical whitespace tokenizer the LM/selection/BPE operators and
    * their DuckDB mirrors share — every oracle pins
    * `string_split_regex(lower(trim(coalesce(text, ''))), '\s+')` against
    * exactly this column. ONE definition so an edit cannot silently
    * desynchronize a subset of the engine/oracle pairs.
    */
  private[graft] def wsTokens(text: Column): Column =
    split(lower(trim(coalesce(text.cast("string"), lit("")))), "\\s+")

  /** Whitespace token count (empty/null-safe). */
  def tokenCount(text: Column): Column =
    when(text.isNull || trim(text) === "", 0).otherwise(size(split(trim(text), "\\s+")))

  /** Quality signals: each component is a ratio of exact integer counts, so
    * the doubles are engine-portable (single division, no reductions).
    */
  def alphaRatio(text: Column): Column =
    length(regexp_replace(text, "[^A-Za-z]", "")).cast("double") /
      greatest(length(text), lit(1)).cast("double")

  def punctRatio(text: Column): Column =
    length(regexp_replace(text, "[^.,;:!?]", "")).cast("double") /
      greatest(length(text), lit(1)).cast("double")

  def meanWordLen(text: Column): Column =
    length(regexp_replace(text, "\\s+", "")).cast("double") /
      greatest(tokenCount(text), lit(1)).cast("double")

  /** Composite quality score in [0,1]: weighted blend of signals. Weights
    * are exact binary fractions so the arithmetic is portable.
    *
    * When the component ratios are already projected as columns, pass them
    * through [[qualityScoreFrom]] instead of re-deriving from text: the
    * single evaluation of each regex pass is then guaranteed by the plan
    * shape, not by runtime subexpression elimination (these projections run
    * interpreted — CodegenFallback exprs — where CSE is best-effort).
    */
  def qualityScore(text: Column): Column =
    qualityScoreFrom(alphaRatio(text), meanWordLen(text), punctRatio(text))

  /** [[qualityScore]] over pre-computed component columns — the identical
    * arithmetic tree, so the doubles are bit-equal to the from-text form.
    */
  def qualityScoreFrom(alpha: Column, meanLen: Column, punct: Column): Column =
    alpha * 0.5 + least(meanLen / 8.0, lit(1.0)) * 0.25 +
      (lit(1.0) - least(punct * 4.0, lit(1.0))) * 0.25

  /** N-gram-heuristic language ID: score each language by marker-word hits,
    * pick the max (ties broken by fixed language order), `und` when nothing
    * matches.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "a"),
    "es" -> Seq("el", "la", "de", "que", "y", "los"),
    "fr" -> Seq("le", "la", "les", "des", "est", "et"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "zh" -> Seq("的", "是", "了", "在", "我", "不")
  )

  def languageId(text: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.functions.LangIdExpr(
      GraftColumnBridge.expression(split(lower(trim(text)), "\\s+")), LangMarkers))
  }

  /** Stable content fingerprint: md5 of case-folded, whitespace-collapsed
    * text — the exact-dedup key that survives formatting noise. The
    * collapse runs as a native byte pass ([[graft.functions.CollapseWsExpr]]
    * ≡ `trim(regexp_replace(lower(text), "\\s+", " "))`, fuzz-pinned);
    * case folding stays with Spark's `lower` for full unicode semantics.
    */
  def fingerprint(text: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    md5(GraftColumnBridge.column(graft.functions.CollapseWsExpr(
      GraftColumnBridge.expression(lower(text.cast("string"))))))
  }

  /** The regex formulation [[fingerprint]] replaced (spec pin + oracle SQL
    * documentation).
    */
  private[graft] def fingerprintRegex(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "\\s+", " ")))

  /** [[fingerprint]]'s scale twin: xxhash64 instead of md5 over the same
    * case-folded, whitespace-collapsed text. Same dedup semantics (any
    * 64-bit collision is as improbable as a shuffle-partitioner collision),
    * ~half the q20 fingerprint cost and an 8-byte long key instead of a
    * 32-char string — 4× less shuffle weight when the key crosses an
    * exchange ([[graft.operators.Dedup.exact]] takes either). md5 stays the
    * oracle-checked default because DuckDB has no xxhash64; swap this in on
    * a real cluster. 100× A/B in NOTES.md round 7.
    */
  def fingerprint64(text: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    xxhash64(GraftColumnBridge.column(graft.functions.CollapseWsExpr(
      GraftColumnBridge.expression(lower(text.cast("string"))))))
  }

  /** One-pass native fusion of the per-document statistics above
    * ([[graft.functions.TextStatsExpr]]): struct of exact integer counts +
    * the language argmax. The individual column functions in this object
    * remain the documented semantics (and the oracle's SQL); each struct
    * field is pinned bit-equal to its column twin in TextAnalysisSpec. Use
    * this in wide per-row stat projections (the q20 shape) where the
    * column forms would re-tokenize the text once per statistic.
    */
  def textStats(text: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.functions.TextStatsExpr(
      GraftColumnBridge.expression(text.cast("string")), LangMarkers))
  }

  /** Gopher-style repetition signals, per document: word count, duplicate-
    * word fraction (1 − distinct/total), and the share of the document
    * covered by its single most frequent word n-gram. High values on any of
    * them mark boilerplate/spam for the curation gates.
    *
    * Shape: one explode → two-level aggregate (per-(doc, gram) counts
    * map-side combine before the doc-level max) — the q46 top-k shape, linear
    * in corpus size, no per-row quadratic work. Returns
    * (id, word_cnt, dup_word_frac, top_ngram_cnt, top_ngram_frac).
    */
  def repetitionSignals(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 2): org.apache.spark.sql.DataFrame = {
    val id = col(idCol)
    val base = docs.select(id, split(trim(col(textCol)), "\\s+").as("__w"))
    val stats = base.select(
      id,
      size(col("__w")).as("word_cnt"),
      size(array_distinct(col("__w"))).as("__dc"))
    // contiguous n-grams WITH multiplicity (unlike the distinct shingles of
    // Dedup.wordShingles — frequency is the signal here); sequence() with
    // start > stop counts DOWN in Spark, so short docs short-circuit
    val grams = base.select(
      id,
      explode(
        when(size(col("__w")) >= n,
          transform(sequence(lit(1), size(col("__w")) - (n - 1)),
            i => concat_ws(" ", (0 until n).map(k => element_at(col("__w"), i + k)): _*)))
          .otherwise(array())).as("__g"))
    val top = grams
      .groupBy(id, col("__g")).agg(count(lit(1)).as("__n"))
      .groupBy(id).agg(max(col("__n")).as("top_ngram_cnt"))
    stats.join(top, Seq(idCol), "left")
      .select(
        id,
        col("word_cnt"),
        round(lit(1.0) - col("__dc").cast("double") / col("word_cnt").cast("double"), 6)
          .as("dup_word_frac"),
        coalesce(col("top_ngram_cnt"), lit(0L)).as("top_ngram_cnt"),
        round(coalesce(col("top_ngram_cnt"), lit(0L)).cast("double") * n /
          col("word_cnt").cast("double"), 6).as("top_ngram_frac"))
  }

  /** PII patterns for [[redactPii]]: applied in order (email before the
    * digit-run rule, since an address' local part may be all digits; IP
    * before phone/digit-run, since dots segment what would otherwise look
    * like short digit runs). Plain character classes + bounded quantifiers
    * only — identical semantics under Java regex and RE2, so the DuckDB
    * oracle replays them verbatim (with its explicit 'g' flag).
    */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b" -> "<IP>",
    "\\+\\d{1,3} \\d{3}-\\d{4}" -> "<PHONE>",
    "\\b\\d{9,}\\b" -> "<ID>")

  /** Redact PII spans (emails, IPv4s, phone-shaped numbers, ≥9-digit id
    * runs) with typed placeholders — the scrub step a training pipeline
    * runs before anything else sees the text. Pure chained
    * `regexp_replace` columns: codegen'd, map-only, no shuffle.
    */
  def redactPii(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (acc, (pat, rep)) => regexp_replace(acc, pat, rep) }

  /** Count of PII matches per category, BEFORE redaction — the audit
    * metric next to the scrub. Counts follow [[PiiPatterns]] order on the
    * progressively-redacted text, so overlapping categories (an all-digit
    * email local part, dotted digit runs) are attributed to exactly one
    * category, the same one [[redactPii]] replaces them under.
    */
  def piiCounts(text: Column): Seq[(String, Column)] = {
    val (counts, _) = PiiPatterns.foldLeft((Seq.empty[(String, Column)], text)) {
      case ((acc, t), (pat, rep)) =>
        val label = rep.stripPrefix("<").stripSuffix(">").toLowerCase
        (acc :+ (s"n_$label" ->
            size(regexp_extract_all(t, lit(pat), lit(0))).cast("long")),
          regexp_replace(t, pat, rep))
    }
    counts
  }

  /** Top-`k` TF-IDF terms per document. The idf here is the plain inverse
    * frequency `N / df` (no logarithm): the ranking inside a document is
    * the same — log is monotone — and the score stays a single correctly-
    * rounded IEEE division and multiplication, bit-identical across
    * engines (libm `ln` is not).
    *
    * Scale shape: tf is one (doc, word) hash-aggregate with map-side
    * combine; document frequency aggregates the tf rows again (vocabulary-
    * sized output, map-side combine); the tf⨝df join keys on the word —
    * df-side multiplicity is 1 so a stopword's huge probe fan-in cannot
    * explode, and AQE's skew-join splitting handles the hot probe
    * partitions; the final top-k window partitions by document (bounded
    * groups), never globally.
    */
  def tfIdfTopTerms(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val id = col(idCol)
    // per-doc term counts are computed INSIDE one native map expression
    // ([[graft.functions.WordCountsExpr]] — the grouping key is the row, so
    // no exploded word rows and no first hash aggregate exist; the composed
    // explode+filter+groupBy form is retained below for the spec pin)
    val countsCol = {
      import org.apache.spark.sql.GraftColumnBridge
      GraftColumnBridge.column(graft.functions.WordCountsExpr(
        GraftColumnBridge.expression(lower(trim(col(textCol).cast("string"))))))
    }
    // lazy checkpoint: tf feeds BOTH the df aggregate and the join probe —
    // self-join attribute dedup defeats exchange reuse, so without it the
    // corpus is scanned and tokenized twice (the chunkDedup pathology); the
    // (doc, word, tf) rows are far thinner than the text they summarize
    val tf = docs
      .select(id.as("__tid"), explode(countsCol).as(Seq("__w", "__tf")))
      .select(col("__tid"), col("__w"), col("__tf").cast("long").as("tf"))
      .lazySerCkpt
    val dfreq = tf.groupBy(col("__w")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("__n"))
    val scored = tf.join(dfreq, Seq("__w"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score", col("tf") * (col("__n").cast("double") / col("df")))
    val w = Window.partitionBy(col("__tid")).orderBy(col("score").desc, col("__w").asc)
    scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("__tid").as(idCol), col("rnk"), col("__w").as("term"),
        round(col("score"), 6).as("score"))
  }

  /** The composed per-doc term-count formulation [[tfIdfTopTerms]] replaced
    * (spec pin for [[graft.functions.WordCountsExpr]]; also what the q58
    * oracle SQL computes).
    */
  private[graft] def wordCountsColumns(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame =
    docs
      .select(col(idCol).as("__tid"),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("__w"))
      .filter(col("__w") =!= "")
      .groupBy(col("__tid"), col("__w")).agg(count(lit(1)).as("tf"))

  /** Corpus-trained bigram language-model quality score — the CCNet-family
    * perplexity filter (Wenzek et al. 2020 filter heuristic; here the LM is
    * trained on the corpus itself, so no external model ships): per document,
    * the add-k-smoothed bigram cross-entropy
    *
    *   H(d) = -(1/N_d) Σ_i ln P(w_i | w_{i-1}),
    *   P(w|p) = (c(p,w) + k) / (c_ctx(p) + k·V)
    *
    * with c(p,w) the corpus bigram count, c_ctx(p) = Σ_w c(p,w) the
    * context count (probabilities sum to 1 over the vocab), V the corpus
    * unigram vocabulary size, and perplexity exp(H). High-perplexity docs
    * are the quality-filter DROP candidates. Docs with < 2 tokens have no
    * bigrams: n_bigrams 0, null entropy — the caller decides their fate
    * (a length gate usually got them first).
    *
    * Determinism discipline (the q44 decimal-sum recipe): each position's
    * ln P is a double of EXACT integer arguments — identical in any
    * IEEE-754 engine — rounded to 6 dp and carried as decimal(18,6), so
    * the per-doc sum is order-independent EXACT arithmetic; only then is
    * the mean taken in double. A naive double sum would make the hash
    * depend on Spark's partition-merge order.
    *
    * Scale shape: ONE tokenize pass (the (id, token-array) frame is
    * checkpointed; vocab count and bigram explode both read the blocks);
    * bigram positions collapse to per-doc (p, w, cnt) rows BEFORE any
    * join, so the model join probes distinct-bigrams-per-doc rows, not
    * token positions; the model itself is two aggregations of that frame.
    * Scoring joins shuffle on (p, w) and (p) — the honest 100 TB plan
    * (the bigram table is corpus-sized; nothing here assumes it fits one
    * node). Hot contexts (stopwords) are classic skew keys: the join
    * probes are pre-aggregated per doc, which bounds any one key's rows
    * by the doc count, and AQE skew-join covers the rest.
    */
  /** Per-doc adjacent-bigram counts over a (__did, __t) tokenized frame —
    * the ONE derivation every LM operator (add-1 self-trained, fixed-
    * reference, Kneser-Ney) and its oracle mirror builds on: one zip of
    * the token array against its own tail (no per-doc window, no
    * positional self-join), empty tokens filtered, positions collapsed
    * immediately to (__did, __p, __w, __cnt) — same-(doc, p, w) positions
    * are interchangeable for both models and scores. One definition so a
    * tokenization or empty-token fix cannot silently desynchronize a
    * subset of the gates.
    */
  private def docBigramCounts(
      base: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    base
      .select(col("__did"), explode(expr(
        """zip_with(slice(__t, 1, greatest(size(__t) - 1, 0)),
          |         slice(__t, 2, greatest(size(__t) - 1, 0)),
          |         (a, b) -> struct(a AS p, b AS w))""".stripMargin)).as("__bg"))
      .select(col("__did"), col("__bg.p").as("__p"), col("__bg.w").as("__w"))
      .filter(col("__p") =!= "" && col("__w") =!= "")
      .groupBy(col("__did"), col("__p"), col("__w"))
      .agg(count(lit(1)).as("__cnt"))

  /** The ONE tokenized-base builder every self-trained LM gate derives
    * from — NOT spread, re-measured and re-rejected r17
    * (dev/r17/lm_spread_ab.log, 4-rep interleaved: q92 1.75 vs 1.25,
    * q106 2.34 vs 1.70, q108 3.29 vs 2.50 s with spread). The r17 stage
    * profile explains the r16 verdict the arithmetic seemed to
    * contradict: the single-task tokenize stage is 1.0-1.4 s warm, but a
    * REPARTITION_BY_NUM to core width is exempt from AQE coalescing, so
    * all ~10 byte-tiny downstream model/scoring stages of the deep KN
    * DAG inherit 32 tasks each — ~300 extra task slots of pure
    * scheduling that cost more than the single-task stage being
    * repaired. The substring family keeps spread because its DAG is
    * shallow (heavy stage → one aggregation); even the shallow
    * fixed-reference scorer measured a loss on a focused 5-rep A/B
    * (dev/r17/q101_ab.log), so NO LM site spreads.
    */
  private def tokenizedBase(
      docs: org.apache.spark.sql.DataFrame,
      id: Column,
      textCol: String): org.apache.spark.sql.DataFrame =
    docs
      .select(id.as("__did"), wsTokens(col(textCol)).as("__t"))
      .lazySerCkpt

  /** Window-fuse gate for the HIGH-order KN chain (r17, guide §2.2/§3):
    * every context/continuation statistic is an aggregate of the n-gram
    * TYPE table on a key prefix/suffix of the type key, so instead of
    * joining each statistic into the per-doc gram chain as its own
    * groupBy + join (one more shuffle/broadcast of the BIG frame per
    * statistic), compute it as a window over the type table and join the
    * enriched type table ONCE per level. Values are sums and counts of
    * longs over identical groups — bit-identical either way (spec-pinned,
    * TextAnalysisSpec "window-fused … row-identical") — and the window
    * keys are gram suffixes (vocab-cardinality or higher), never a single
    * global partition.
    *
    * Measured (min over interleaved reps, dev/r17/lmfuse_ab.log +
    * lmfuse_ab_100x.log): the fuse LOSES at orders 2-3 (q92 2.14 vs 1.82,
    * q106 3.74 vs 2.48 at sf0.1; q106 37.4 vs 30.6 at 100×) — shallow
    * chains keep cheap broadcast probes and the window adds a full
    * type-table sort — but WINS the deep 4-5-gram chain decisively at
    * scale (100×: q109 47.5 vs 64.8, q108 42.9 vs 50.3 s warm,
    * lmfuse_ab_100x_q108.log): 9 statistic joins of the per-doc frame
    * collapse to 4, which is 5 fewer big-frame shuffles once the type
    * tables outgrow broadcast. So ONLY [[ngramLmScoreKn]] at orders 4-5
    * reads this gate; orders 2-3 keep the join chain unconditionally.
    *
    * The rule (r17): at the bench SFs the replaced joins are
    * broadcasts, so the fuse has nothing to save — fused vs joined
    * measures as a WASH inside the harness's arm-order bias at both 32
    * and 8 cores (lmfuse_ab.log q108 3.69 vs 3.72;
    * lmfuse_ab_8cpu.log/lmfuse_auto_8cpu.log: whichever arm ran second
    * won by ~0.6 s in BOTH orders) — so the gate decides from the DATA,
    * not a constant: fuse once the input's plan-stats size exceeds the
    * broadcast threshold (execution-free — parquet scans report file
    * bytes; the per-level type tables scale with the text volume, so
    * input bytes past the threshold mean the statistic joins stop
    * broadcasting). This keeps small-input plans free of type-table
    * window sorts they cannot profit from, and engages the fuse exactly
    * in its proven regime: 0.57 MB input (sf0.1) → joined (wash);
    * 57 MB (100×) → fused (q108 42.9 vs 50.3, q109 47.5 vs 64.8 s).
    * Absent/unknown stats (checkpointed inputs report the conservative
    * default) and a disabled broadcast threshold both resolve to FUSE —
    * the scale-safe polarity. The threshold is the one input a spec or an
    * A/B varies to reach either arm.
    */
  private def lmWindowFuse(docs: org.apache.spark.sql.DataFrame): Boolean = {
    val in = docs.queryExecution.optimizedPlan.stats.sizeInBytes
    val thr = docs.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    thr <= 0 || in > thr
  }

  def bigramLmScore(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      addK: Double = 1.0): org.apache.spark.sql.DataFrame = {
    require(addK > 0, s"addK must be positive (add-k smoothing); got $addK")
    val id = col(idCol)
    val base = tokenizedBase(docs, id, textCol)
    // vocab over ALL token occurrences (split of "" yields one "" token —
    // filtered here and from the bigram pairs below)
    val vocab = base
      .select(explode(col("__t")).as("__w"))
      .filter(col("__w") =!= "")
      .agg(count_distinct(col("__w")).as("__v"))
    val bi = docBigramCounts(base).lazySerCkpt
    val bigramCounts = bi.groupBy(col("__p"), col("__w")).agg(sum(col("__cnt")).as("__c"))
    // Shape note (r16 opt round): TYPE-level scoring — chaining the model
    // joins over the bigram-types table and joining the per-doc gram table
    // once on (p, w) — was implemented and A/B-measured, then REJECTED: on
    // this corpus family the types table is ~0.87× the per-doc gram table
    // (207 k vs 238 k rows at sf0.1), so it saves almost no shuffled rows
    // while adding one extra wide-string-key join (dev/r16b/lmtype_ab.log:
    // q92 2.31 vs 2.03, q108 4.63 vs 3.13, q94 13.3 vs 10.5 s warm). The
    // dedup-before-LM pipeline order keeps the ratio high at every scale
    // (replicas are removed before scoring), so the per-doc chain stays.
    // r17: window-fusing the context statistic into the type table was
    // measured and REJECTED at this order (dev/r17/lmfuse_ab.log: q92
    // 2.14 fused vs 1.82 joined, min-over-4 interleaved) — at every scale
    // the single context join stays cheaper than a full type-table window
    // sort; the HIGH-order chain is where fusing wins (see ngramLmScoreKn).
    val contextCounts = bigramCounts.groupBy(col("__p")).agg(sum(col("__c")).as("__cc"))
    val scored = bi
      .join(bigramCounts, Seq("__p", "__w"))
      .join(contextCounts, Seq("__p"))
      .crossJoin(broadcast(vocab))
      .withColumn("__lp",
        round(log((col("__c") + lit(addK)) / (col("__cc") + lit(addK) * col("__v"))), 6)
          .cast("decimal(18,6)"))
      .groupBy(col("__did"))
      .agg(sum(col("__cnt")).as("__nb"), sum(col("__cnt") * col("__lp")).as("__slp"))
    docs
      .select(id)
      .join(scored, id === col("__did"), "left")
      // cross_entropy ships UNROUNDED: exact-decimal sum → correctly-rounded
      // double cast → ONE IEEE division — bit-identical in any IEEE-754
      // engine, so rounding would only ADD a portability hazard (measured:
      // rounding the quotient at 6 dp flipped 27/50k rows between Spark's
      // BigDecimal HALF_UP and DuckDB's ×1e6+std::round at exact
      // half-boundaries of the 7th digit). ppl stays rounded — exp() is
      // libm-implementation-dependent at the last ulp, and round-6 absorbs
      // that (boundary collision odds ~ulp/1e-6 ≈ 4e-9/row).
      .select(id,
        coalesce(col("__nb"), lit(0L)).as("n_bigrams"),
        (-col("__slp").cast("double") / col("__nb")).as("cross_entropy"),
        round(exp(-col("__slp").cast("double") / col("__nb")), 6).as("ppl"))
  }

  /** A trained bigram LM as data: the corpus bigram counts, the derived
    * context counts, and the unigram vocabulary size — everything
    * [[bigramLmScoreWith]] needs to price an UNRELATED corpus. Each frame
    * is an ordinary DataFrame, so a model persists as two parquet tables
    * plus one number and reloads anywhere.
    */
  final case class BigramLm(
      bigrams: org.apache.spark.sql.DataFrame, // (p, w, c)
      contexts: org.apache.spark.sql.DataFrame, // (p, cc)
      vocabSize: Long)

  /** Train a bigram LM on a TRUSTED corpus (the CCNet deployment shape —
    * VERDICT r13 next #4: production perplexity gates score the crawl
    * against an LM trained once on a high-quality reference like
    * Wikipedia, not on the corpus being filtered). Same tokenizer, same
    * count derivation as [[bigramLmScore]]'s self-trained model; the
    * vocabulary size is the reference corpus's distinct unigram count
    * (the smoothing denominator is a property of the MODEL, not of
    * whatever corpus it later scores).
    */
  def trainBigramLm(
      docs: org.apache.spark.sql.DataFrame,
      textCol: String): BigramLm = {
    val base = docs
      .select(wsTokens(col(textCol)).as("__t"))
      .lazySerCkpt
    val vocabSize = base
      .select(explode(col("__t")).as("__w"))
      .filter(col("__w") =!= "")
      .agg(count_distinct(col("__w")))
      .collect()(0).getLong(0)
    // corpus-level counts through the shared per-doc derivation (a
    // constant __did makes docBigramCounts' (did, p, w) grouping the
    // (p, w) grouping; Catalyst's partial aggregation sees one key)
    val bigrams = docBigramCounts(base.withColumn("__did", lit(0L)))
      .groupBy(col("__p").as("p"), col("__w").as("w"))
      .agg(sum(col("__cnt")).as("c"))
    val contexts = bigrams.groupBy(col("p")).agg(sum(col("c")).as("cc"))
    BigramLm(bigrams, contexts, vocabSize)
  }

  /** Score a corpus against a FIXED reference model (see [[trainBigramLm]])
    * — [[bigramLmScore]]'s schema and decimal discipline, with the model
    * supplied instead of retrained: out-of-model bigrams smooth from
    * count 0 (left joins + coalesce), so an OOV position prices at
    * ln(k / k·V) = −ln V, the add-k contract.
    *
    * Scale shape: the scored corpus collapses to per-doc (p, w, cnt)
    * before any join, exactly as the self-trained path. The model joins
    * are (p, w)- and (p)-keyed; AQE turns them into broadcasts when the
    * model side measures small at runtime (a trusted slice's bigram
    * table) and keeps a crawl-sized model shuffled.
    */
  def bigramLmScoreWith(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      model: BigramLm,
      addK: Double = 1.0): org.apache.spark.sql.DataFrame = {
    require(addK > 0, s"addK must be positive (add-k smoothing); got $addK")
    require(model.vocabSize > 0,
      s"model vocabulary must be non-empty; got ${model.vocabSize}")
    val id = col(idCol)
    // NOT spread — re-measured r17 along with the self-trained gates'
    // tokenizedBase (dev/r17/q101_ab.log, 5-rep: 1.26 vs 1.12 s with
    // spread); see tokenizedBase's scaladoc for the mechanism
    val bi = docBigramCounts(
      docs.select(id.as("__did"), wsTokens(col(textCol)).as("__t")))
    // rename the model's columns before joining: contexts DERIVES from
    // bigrams, so their `p` attributes share expression ids — joining the
    // raw frames would make the second condition ambiguous/trivial
    val mb = model.bigrams
      .select(col("p").as("__mp"), col("w").as("__mw"), col("c").as("__mc"))
    val mc = model.contexts
      .select(col("p").as("__cp"), col("cc").as("__mcc"))
    val scored = bi
      .join(mb, col("__p") === col("__mp") && col("__w") === col("__mw"), "left")
      .join(mc, col("__p") === col("__cp"), "left")
      .withColumn("__lp",
        round(log(
          (coalesce(col("__mc"), lit(0L)) + lit(addK)) /
            (coalesce(col("__mcc"), lit(0L)) + lit(addK) * lit(model.vocabSize))), 6)
          .cast("decimal(18,6)"))
      .groupBy(col("__did"))
      .agg(sum(col("__cnt")).as("__nb"), sum(col("__cnt") * col("__lp")).as("__slp"))
    docs
      .select(id)
      .join(scored, id === col("__did"), "left")
      // same portability rule as bigramLmScore: cross_entropy UNROUNDED,
      // ppl round-6 (absorbs libm exp ulps)
      .select(id,
        coalesce(col("__nb"), lit(0L)).as("n_bigrams"),
        (-col("__slp").cast("double") / col("__nb")).as("cross_entropy"),
        round(exp(-col("__slp").cast("double") / col("__nb")), 6).as("ppl"))
  }

  /** Interpolated Kneser-Ney bigram perplexity — the smoothing family the
    * CCNet stack actually deploys (KenLM trains modified-KN models; this
    * is the bigram order of that family, where add-k is the classroom
    * stand-in [[bigramLmScore]] offers):
    *
    *   p(w|p) = (max(c(p,w) − D, 0) + D · N1+(p·) · p_cont(w)) / c(p·)
    *   p_cont(w) = N1+(·w) / N1+(··)
    *
    * with D the absolute discount. KN's point over add-k: the backoff
    * mass goes to words in proportion to how many DISTINCT contexts they
    * follow (continuation probability), not raw frequency — "francisco"
    * is frequent but only ever follows "san", so KN prices it low in
    * novel contexts where add-k overprices it.
    *
    * Self-trained on the scored corpus (the q92 deployment), so every
    * scored bigram has c ≥ 1 and D < 1 keeps every term positive — no
    * OOV branch. `discount` must be exactly binary-representable (the
    * default 0.75 is), because the oracle interpolates it as a SQL
    * literal and the per-position probability must be the same IEEE
    * double in both engines: the whole expression is spelled in one
    * fixed operation order here and in the q104 SQL, then ln → round-6 →
    * decimal(18,6), exact per-doc sums, unrounded quotient — the q92
    * discipline unchanged.
    *
    * Scale shape: identical to [[bigramLmScore]] — one tokenize pass
    * collapsed to per-doc (p, w, cnt), model joins shuffled on (p, w),
    * (p), and (w) (the continuation-count join is the one extra
    * w-keyed shuffle KN costs over add-k; the N1+(··) scalar broadcasts).
    */
  def bigramLmScoreKn(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      discount: Double = 0.75): org.apache.spark.sql.DataFrame = {
    require(discount > 0 && discount < 1,
      s"discount must be in (0, 1); got $discount")
    val id = col(idCol)
    val base = tokenizedBase(docs, id, textCol)
    val bi = docBigramCounts(base).lazySerCkpt
    val bigramCounts = bi.groupBy(col("__p"), col("__w")).agg(sum(col("__cnt")).as("__c"))
      .lazySerCkpt
    // one pass per key side: (cc, n1p) share the p-grouping; n1w is the
    // w-keyed continuation count; N1+(··) is one scalar
    val contexts = bigramCounts.groupBy(col("__p"))
      .agg(sum(col("__c")).as("__cc"), count(lit(1)).as("__n1p"))
    val continuations = bigramCounts.groupBy(col("__w")).agg(count(lit(1)).as("__n1w"))
    val n1all = bigramCounts.agg(count(lit(1)).as("__n1all"))
    val d = lit(discount)
    // per-doc join chain kept over TYPE-level scoring — measured and
    // rejected, see bigramLmScore's shape note (dev/r16b/lmtype_ab.log).
    // r17: window-fusing these statistics into the type table also measured
    // and REJECTED at the bigram order (dev/r17/lmfuse_ab.log) — see
    // ngramLmScoreKn for where fusing wins and why.
    val scored = bi
      .join(bigramCounts, Seq("__p", "__w"))
      .join(contexts, Seq("__p"))
      .join(continuations, Seq("__w"))
      .crossJoin(broadcast(n1all))
      // FIXED operation order, mirrored literally in the q104 SQL:
      // ((c − D) + D · n1p · n1w / n1all) / cc — every intermediate is the
      // same IEEE double in both engines, so round-6 cannot straddle
      .withColumn("__lp",
        round(log(
          ((col("__c") - d) + d * col("__n1p") * col("__n1w") / col("__n1all")) /
            col("__cc")), 6)
          .cast("decimal(18,6)"))
      .groupBy(col("__did"))
      .agg(sum(col("__cnt")).as("__nb"), sum(col("__cnt") * col("__lp")).as("__slp"))
    docs
      .select(id)
      .join(scored, id === col("__did"), "left")
      .select(id,
        coalesce(col("__nb"), lit(0L)).as("n_bigrams"),
        (-col("__slp").cast("double") / col("__nb")).as("cross_entropy"),
        round(exp(-col("__slp").cast("double") / col("__nb")), 6).as("ppl"))
  }

  /** Interpolated Kneser-Ney at orders 3-5 (VERDICT r14 next #4, r15
    * next #2 — KenLM deploys order 4-5): [[bigramLmScoreKn]] climbed with
    * KenLM's adjusted-count derivation, where every lower-order statistic
    * is a TYPE count over the level above rather than a raw occurrence
    * count. Level `order` holds raw n-gram counts c(g0..g_{n-1}) with
    * context sums/type-counts over (g0..g_{n-2}); each adjusted level k
    * (n-1 down to 2) is the TYPE count of the level above grouped on its
    * rightmost k columns (KenLM "counting contexts"), with its own context
    * sum/type-count; the unigram level is the type count of level 2 plus
    * one global scalar. The probability recursion, in ONE fixed operation
    * order mirrored literally in the q106/q108/q109 SQL
    * (`((a_k − D) + D·nctx_k·p_{k-1}) / cc_k`, innermost `a1/total`):
    *
    *   p_1(w)        = a1(w) / total
    *   p_k(w | ctx)  = ((a_k − D) + D · N1+_k(ctx·) · p_{k-1}) / Σ_w a_k
    *   p_n(w | ctx)  = ((c − D) + D · N1+(ctx·) · p_{n-1}) / c(ctx·)
    *
    * At order 3: p(w|p1,p2) = ((c(p1p2w) − D) + D · N1+(p1p2·) ·
    * p_mid(w|p2)) / c(p1p2·), with the adjusted bigram count
    * N1+(·p2w) = |{p1 : c(p1,p2,w) > 0}| feeding p_mid.
    *
    * Self-trained on the scored corpus: every scored n-gram has c ≥ 1,
    * every adjusted count ≥ 1, D < 1 keeps all terms positive — no OOV
    * branch. `discount` must be exactly binary-representable (0.75 is);
    * ln → round-6 → decimal(18,6), exact per-doc sums, unrounded
    * cross-entropy quotient, round-6 ppl — the q92 discipline, hash-pinned
    * by the q106 (order 3), q108 and q109 oracles. The count column is
    * `n_ngrams` at every order.
    *
    * Scale shape: one tokenize pass collapsed to per-doc
    * (g0..g_{n-1}, cnt); the model is 2(n−1) aggregations of the n-gram
    * TYPE table, each one shuffle of a types-sized frame on a suffix key;
    * scoring joins shuffle on those same keys; the one global scalar
    * broadcasts. Exactly two shuffles per order climbed — the measured
    * per-order cost of the KN hierarchy. Orders 4-5 window-fuse the
    * context statistics when [[lmWindowFuse]] says so; order 3 always
    * keeps the join chain, where the fuse measured as a loss at both
    * sf0.1 and 100× (q106 3.74 vs 2.48 s, 37.4 vs 30.6 s,
    * dev/r17/lmfuse_ab.log, lmfuse_ab_100x.log).
    */
  def ngramLmScoreKn(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      order: Int,
      discount: Double = 0.75): org.apache.spark.sql.DataFrame = {
    require(order >= 3 && order <= 5,
      s"order must be 3-5 (use bigramLmScoreKn for 2); got $order")
    require(discount > 0 && discount < 1,
      s"discount must be in (0, 1); got $discount")
    val n = order
    val id = col(idCol)
    val gcols = (0 until n).map(k => s"__g$k")
    val base = tokenizedBase(docs, id, textCol)
    // n-gram extraction without a per-doc window or positional self-join:
    // transform over the valid starting SLICE with the 0-based element
    // index reaching the remaining n−1 positions (an empty slice — doc
    // shorter than n tokens — yields no rows; element_at stays in bounds
    // by construction)
    val fields = ("x AS g0" +: (1 until n).map(k =>
      s"element_at(__t, i + ${k + 1}) AS g$k")).mkString(", ")
    val ng = base
      .select(col("__did"), explode(expr(
        s"""transform(slice(__t, 1, greatest(size(__t) - ${n - 1}, 0)),
           |          (x, i) -> struct($fields))""".stripMargin)).as("__g"))
      .select(col("__did") +: (0 until n).map(k => col(s"__g.g$k").as(s"__g$k")): _*)
      .filter((0 until n).map(k => col(s"__g$k") =!= "").reduce(_ && _))
      .groupBy((col("__did") +: gcols.map(col)): _*)
      .agg(count(lit(1)).as("__cnt"))
      .lazySerCkpt
    val counts = ng.groupBy(gcols.map(col): _*).agg(sum(col("__cnt")).as("__c"))
      .lazySerCkpt
    val fuse = n >= 4 && lmWindowFuse(docs)
    // adjusted levels, each the type count of the level above
    val adj = scala.collection.mutable.Map.empty[Int, org.apache.spark.sql.DataFrame]
    var above = counts
    for (k <- (n - 1) to 2 by -1) {
      val keys = gcols.drop(n - k)
      val t = above.groupBy(keys.map(col): _*).agg(count(lit(1)).as(s"__a$k"))
        .lazySerCkpt
      adj(k) = t
      above = t
    }
    val total = adj(2).agg(count(lit(1)).as("__tot"))
    // per-doc join chain kept over TYPE-level scoring — measured and
    // rejected, see bigramLmScore's shape note (dev/r16b/lmtype_ab.log).
    // r17: each level's context statistics window-fuse into that level's
    // type table (lmWindowFuse) — the per-doc frame joins once per LEVEL
    // (n−1 joins) instead of twice per level plus the unigram join
    // (2(n−1)+1); the unigram statistic rides level 2's table.
    var joined =
      if (fuse)
        ng.join(counts
          .withColumn("__cc",
            sum(col("__c")).over(Window.partitionBy(gcols.dropRight(1).map(col): _*)))
          .withColumn("__n1p",
            count(lit(1)).over(Window.partitionBy(gcols.dropRight(1).map(col): _*))),
          gcols)
      else ng
        .join(counts, gcols)
        .join(counts.groupBy(gcols.dropRight(1).map(col): _*)
          .agg(sum(col("__c")).as("__cc"), count(lit(1)).as("__n1p")),
          gcols.dropRight(1))
    for (k <- (n - 1) to 2 by -1) {
      val keys = gcols.drop(n - k)
      if (fuse) {
        var lvl = adj(k)
          .withColumn(s"__cc$k",
            sum(col(s"__a$k")).over(Window.partitionBy(keys.dropRight(1).map(col): _*)))
          .withColumn(s"__nctx$k",
            count(lit(1)).over(Window.partitionBy(keys.dropRight(1).map(col): _*)))
        if (k == 2) lvl = lvl.withColumn("__a1",
          count(lit(1)).over(Window.partitionBy(col(gcols.last))))
        joined = joined.join(lvl, keys)
      } else {
        joined = joined.join(adj(k), keys)
          .join(adj(k).groupBy(keys.dropRight(1).map(col): _*)
            .agg(sum(col(s"__a$k")).as(s"__cc$k"), count(lit(1)).as(s"__nctx$k")),
            keys.dropRight(1))
      }
    }
    if (!fuse) joined = joined.join(
      adj(2).groupBy(col(gcols.last)).agg(count(lit(1)).as("__a1")), Seq(gcols.last))
    joined = joined.crossJoin(broadcast(total))
    val d = lit(discount)
    var p: Column = col("__a1") / col("__tot")
    for (k <- 2 to (n - 1))
      p = ((col(s"__a$k") - d) + d * col(s"__nctx$k") * p) / col(s"__cc$k")
    val pTop = ((col("__c") - d) + d * col("__n1p") * p) / col("__cc")
    val scored = joined
      .withColumn("__lp", round(log(pTop), 6).cast("decimal(18,6)"))
      .groupBy(col("__did"))
      .agg(sum(col("__cnt")).as("__nb"), sum(col("__cnt") * col("__lp")).as("__slp"))
    docs
      .select(id)
      .join(scored, id === col("__did"), "left")
      .select(id,
        coalesce(col("__nb"), lit(0L)).as("n_ngrams"),
        (-col("__slp").cast("double") / col("__nb")).as("cross_entropy"),
        round(exp(-col("__slp").cast("double") / col("__nb")), 6).as("ppl"))
  }
}
