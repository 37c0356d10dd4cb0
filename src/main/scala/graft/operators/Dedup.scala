package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import Ckpt._

/** Document deduplication for training-data pipelines: exact, MinHash-LSH,
  * SimHash, and n-gram Jaccard.
  *
  * Scale design: every variant is a pure column pipeline plus at most one
  * shuffle on a *bucket* key (LSH band or simhash prefix). Nothing is
  * quadratic in the corpus; candidate generation collides near-duplicates
  * into small buckets and only those buckets are compared. MinHash values
  * are derived from md5 (seeded) so signatures are engine-portable and
  * oracle-checkable; the xxhash64 variants are the cheaper scale path.
  */
object Dedup {

  /** [[chunkDedup]] rank packing: `rank = id * ChunkIdxSpace + idx`. The idx
    * factor bounds chunks per document; ids must fit the remaining headroom
    * (2^63 / 10^6 ≈ 9.2·10^12 > 2^43). Both bounds are runtime-enforced.
    */
  private[graft] val ChunkIdxSpace = 1000000L
  private[graft] val MaxPackableId = (Long.MaxValue / ChunkIdxSpace) - 1L

  /** Exact dedup: keep the smallest id per key. One hash-shuffle on the key;
    * map-side partial aggregation makes this cheap even at 100 TB.
    */
  def exact(df: DataFrame, key: Column, idCol: String): DataFrame =
    df.groupBy(key.as("dedup_key")).agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Exact dedup keeping the FULL surviving rows (min id per key): a single
    * `min_by(struct(all cols), id)` aggregate. The key expression is
    * evaluated once and the rows cross exactly ONE exchange — already
    * collapsed to one candidate per (map task × key).
    *
    * Physical shape (pinned in DedupSpec): the struct-valued buffer keeps
    * `min_by` out of HashAggregateExec, so Spark plans a SortAggregate —
    * a LOCAL spillable sort per map partition on the md5 key, then partial
    * aggregation collapses each duplicate group to one row per map task
    * *before* the shuffle. Skew-safe by construction: a degenerate
    * duplicate group (10^8 copies of one boilerplate page) reaches the
    * reduce side as at most `numInputPartitions` rows, so no hot reducer —
    * where a plain window form would shuffle the whole group to one task,
    * and the r3 salted two-window form shuffled AND sorted the entire
    * corpus twice to fix that. The groupBy + join-back form shuffles the
    * full rows twice.
    *
    * `idCol` must be unique per key for a deterministic winner (ties in
    * `min_by` are resolved arbitrarily, exactly as `row_number` over a
    * non-unique ordering would be).
    */
  def exactSurvivors(df: DataFrame, key: Column, idCol: String): DataFrame =
    df.groupBy(key.as("__dk"))
      .agg(min_by(struct(df.columns.map(col): _*), col(idCol)).as("__row"))
      .select(col("__row.*"))

  /** Word n-gram shingles (distinct, first-occurrence order). Backed by the
    * native [[graft.functions.WordShinglesExpr]]; equivalent SQL:
    * `list_distinct(list_transform(generate_series(1, greatest(len(w)-(n-1),1)), i -> array_to_string(w[i:i+n-1], ' ')))`.
    */
  def wordShingles(text: Column, n: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      graft.functions.WordShinglesExpr(GraftColumnBridge.expression(text.cast("string")), n))
  }

  /** Per-element xxhash64 of a shingle array (seed 42 = Spark's `xxhash64`
    * SQL default) — backed by the native
    * [[graft.functions.XxHash64Array]]; bit-identical to
    * `transform(sh, x -> xxhash64(x))`. Jaccard over the hashed arrays
    * equals Jaccard over the strings up to 64-bit collisions; use it to
    * shrink what a verification join shuffles.
    */
  def xxhash64Array(shingles: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      graft.functions.XxHash64Array(GraftColumnBridge.expression(shingles)))
  }

  /** MinHash signature: element k = min over shingles of md5(k || shingle).
    * Lexicographic min over fixed-width hex == numeric min of the hash, so
    * each seed is an independent permutation. Portable across engines
    * (equivalent SQL: `array_min(transform(shingles, s -> md5(k||':'||s)))`
    * per seed). Backed by the native [[graft.functions.MinHashSig]]
    * expression — the interpreted higher-order-function formulation paid
    * ~10µs/hash in lambda overhead and dominated the LSH bench.
    */
  def minHashSignature(shingles: Column, numHashes: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      graft.functions.MinHashSig(GraftColumnBridge.expression(shingles), numHashes))
  }

  /** 64-bit MinHash signature — the scale twin of [[minHashSignature]]
    * ([[graft.functions.MinHashSig64]]): one xxhash64 per shingle + K affine
    * permutations instead of K md5s per shingle, long elements instead of
    * hex strings. Use where no external SQL oracle must recompute the
    * signature; md5 stays the oracle default.
    */
  def minHashSignature64(shingles: Column, numHashes: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      graft.functions.MinHashSig64(GraftColumnBridge.expression(shingles), numHashes))
  }

  /** LSH band keys: hash `rowsPerBand`-sized slices of the signature. Two
    * documents sharing any band key are near-dup candidates.
    */
  def lshBands(signature: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      md5(concat_ws("|", slice(signature, b * rowsPerBand + 1, rowsPerBand)))
    }: _*)

  /** MinHash-LSH near-duplicate candidate pairs.
    *
    * Pipeline: shingle → minhash(bands*rows) → explode band keys →
    * self-join on (band index, band key) → distinct (id1 < id2) pairs.
    * The only shuffle is the band-bucket join; bucket sizes are the LSH
    * collision sets, so the join is sparse. At cluster scale the explode
    * output is salted by band index already (bands spread the key space).
    */
  def minHashLshPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      bands: Int = 8,
      rowsPerBand: Int = 2,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame =
    minHashLshPairsFromShingles(
      docs.select(col(idCol).as("__mh_id"),
        wordShingles(col(textCol), shingleLen).as("__mh_sh")),
      "__mh_id", "__mh_sh", bands, rowsPerBand, maxBucketSize)

  /** [[minHashLshPairs]] over pre-computed shingle arrays — lets a composed
    * pipeline ([[Curation.pipeline]]) shingle the corpus ONCE and feed both
    * candidate generation and Jaccard verification from the same pass.
    *
    * The banded (id, band, bucket) table feeds BOTH sides of the self-join;
    * a LAZY localCheckpoint materializes it once inside whatever action
    * consumes the pairs (no extra barrier job, nothing eager) and its thin
    * blocks are reclaimed with the plan — unlike a session cache entry,
    * repeated invocations cannot accumulate state that bills later queries.
    * (On a churn-prone cluster, swap for cache + explicit unpersist: a local
    * checkpoint truncates lineage, trading executor-loss recovery for the
    * deterministic cleanup.)
    */
  def minHashLshPairsFromShingles(
      shingled: DataFrame,
      idCol: String,
      shingleCol: String,
      bands: Int,
      rowsPerBand: Int,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    // Stage 1 in its own projection so the signature is evaluated once per
    // row — lshBands references it `bands` times, and interpreted
    // expressions get no common-subexpression elimination. The signature
    // carries GuardSubRows extra minhash rows past the banded prefix: no
    // band reads them, so the banded pair set is unchanged, but the guard
    // can re-band an oversized bucket on bits that still agree for
    // near-duplicates (prob j^GuardSubRows at Jaccard j).
    val withSig = shingled.select(
      col(idCol).as("doc"),
      minHashSignature(col(shingleCol), bands * rowsPerBand + GuardSubRows).as("__sig"))
    // fp = hash of the FULL signature: the exact-fingerprint key the
    // degenerate-bucket guard collapses on (identical docs ⇒ identical
    // signatures ⇒ one fp group per boilerplate page)
    val banded = withSig
      .select(col("doc"), xxhash64(col("__sig")).as("fp"),
        xxhash64(slice(col("__sig"), bands * rowsPerBand + 1, GuardSubRows)).as("sub"),
        posexplode(lshBands(col("__sig"), bands, rowsPerBand)))
      .toDF("id", "fp", "sub", "band", "bucket")
      .select("id", "fp", "band", "bucket", "sub")
      .localCheckpoint(false)
    guardedBandPairs(banded, maxBucketSize)
      .distinct()
  }

  /** [[minHashLshPairs]] on the 64-bit signature twin — identical pipeline
    * shape (shingle → signature → band explode → guarded band join →
    * distinct), but every per-shingle hash is one xxhash64 instead of
    * `bands*rowsPerBand+2` md5s, and the banded table shuffles 8-byte longs
    * (fp/bucket/sub) instead of 32-char hex strings. The pair SET differs
    * from the md5 pipeline's only via hash randomness — same expected
    * collision probability at equal Jaccard — so it is the production
    * default at scale; [[minHashLshPairs]] remains the oracle-checked form.
    */
  def minHashLshPairs64(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      bands: Int = 8,
      rowsPerBand: Int = 2,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame =
    minHashLshPairs64FromSig(
      docs.select(
        col(idCol).as("__mh_id"),
        minHashSignature64(
          wordShingles(col(textCol), shingleLen),
          bands * rowsPerBand + GuardSubRows).as("__mh_sig")),
      "__mh_id", "__mh_sig", bands, rowsPerBand, maxBucketSize)

  /** [[minHashLshPairs64]] over a precomputed 64-bit signature column (which
    * must carry `bands*rowsPerBand + GuardSubRows` elements) — lets a
    * composed pipeline ([[Curation.pipeline]] with `hash64 = true`) compute
    * the signature and the hashed-shingle verification arrays in ONE
    * projection over a single shingling pass.
    */
  def minHashLshPairs64FromSig(
      withSig: DataFrame,
      idCol: String,
      sigCol: String,
      bands: Int,
      rowsPerBand: Int,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val sig = col(sigCol)
    val banded = withSig
      .select(col(idCol), xxhash64(sig).as("fp"),
        xxhash64(slice(sig, bands * rowsPerBand + 1, GuardSubRows)).as("sub"),
        posexplode(array((0 until bands).map { b =>
          xxhash64(slice(sig, b * rowsPerBand + 1, rowsPerBand))
        }: _*)))
      .toDF("id", "fp", "sub", "band", "bucket")
      .select("id", "fp", "band", "bucket", "sub")
      .localCheckpoint(false)
    guardedBandPairs(banded, maxBucketSize)
      .distinct()
  }

  /** Degenerate-bucket guard threshold: a bucket this size is no longer an
    * "LSH collision set" but a boilerplate-duplicate cluster, and the plain
    * self-join would emit O(size²) pairs from it (10^6 identical docs ⇒
    * 5·10^11 pairs from ONE bucket). The largest honest bucket observed at
    * 10× data was ~2,000 docs — 4096 leaves honest collisions untouched
    * while bounding any single bucket's join work at ≤ 4096² comparisons.
    */
  val DefaultMaxBucketSize: Int = 4096

  /** Extra signature material reserved for the guard's sub-split: minhash
    * rows past the banded prefix ([[minHashLshPairsFromShingles]]) or sign
    * bits past the bucket prefix (embedding variants). Near-duplicates agree
    * on these bits with the usual LSH probability, so re-banding an oversized
    * bucket on them preserves similar pairs where a random split would not.
    */
  private[graft] val GuardSubRows = 2
  private[graft] val GuardSubBits = 8

  /** Default containment-anchor geometry ([[containmentPairs]]), named so
    * the DuckDB oracle SQL interpolates the SAME derived posting cap the
    * engine computes (`defaultPostCap`) instead of a drifting literal — a
    * caller overriding these params diverges from the oracle by design
    * (rows-only check), but the DEFAULTS cannot silently drift apart.
    */
  val DefaultAnchorsPerDoc: Int = 10
  val DefaultMaxCandidatesPerDoc: Int = 4096

  /** The per-anchor-gram posting cap the defaults derive: each
    * anchor-vocabulary gram keeps its `defaultPostCap` lowest doc ids.
    */
  def defaultPostCap: Int =
    math.max(DefaultMaxCandidatesPerDoc / math.max(DefaultAnchorsPerDoc, 1), 1)

  /** Row budget above which the containment guard's heavy-gram set loses
    * its forced `broadcast()` hint (VERDICT r10 "what's wrong" #1): heavy
    * grams are bounded by the unique-content vocabulary over the posting
    * cap — tiny on every measured corpus — but that is an input property,
    * not an invariant, and a forced hint bypasses AQE's size check, so the
    * pathological failure mode would be a driver/broadcast OOM instead of
    * a plan downgrade. 2^20 single-gram rows is ~30-60 MB broadcast —
    * comfortably inside a production driver, far above every measured
    * heavy set (0 at sf0.1 defaults; ~40 k on the 10×-replicated corpus).
    */
  private[graft] val HeavyGramBroadcastRowBudget: Long = 1L << 20

  private val guardObsId = new java.util.concurrent.atomic.AtomicInteger()

  /** Candidate pairs from a banded `(id, fp, band, bucket, sub)` table,
    * guarded against degenerate buckets (VERDICT r4 "what's wrong" #1;
    * sub-split per VERDICT r6 #4).
    *
    * Normal buckets (≤ `maxBucketSize` members) take the plain self-join —
    * the only change to that path is a `left_anti` against the oversized-
    * bucket list, which is computed by ONE cheap count over the thin banded
    * table and is empty-to-tiny by construction (every entry accounts for
    * > maxBucketSize rows), so AQE turns the anti/semi joins into broadcasts.
    *
    * Oversized buckets collapse by exact fingerprint `fp` first — identical
    * documents are WHY buckets degenerate — emitting a spanning STAR around
    * each fp group's min id (linear output; under the transitive clustering
    * every consumer applies ([[connectedComponents]] / greedy pair removal),
    * a star reaches the same components as the quadratic pair set). The
    * per-fp representatives then self-join directly while the bucket holds
    * ≤ `maxBucketSize` DISTINCT fingerprints. A bucket still over that limit
    * is RE-BANDED on `sub` — extra signature bits no band consumed — so an
    * honest oversized bucket (coarse hash space, not mutual duplicates)
    * splits into bounded sub-buckets that still pair near-duplicates,
    * instead of being dropped outright. Only sub-buckets that remain over
    * `maxBucketSize` (members indistinguishable even on the extra bits) are
    * dropped. EVERY guard branch surfaces an observed metric
    * (`lsh_bucket_guard_*`: star_pairs / rep_pairs on the branch outputs,
    * subsplit_rep_rows / dropped_rep_rows / dropped_sub_buckets on the
    * sub-split input) — any nonzero field means the pair set is no longer
    * the plain quadratic join's, so oracle-checked runs assert all zero
    * (graft.Verify) rather than compare diverged semantics silently. The
    * input-side sub-split counter matters: a bucket of >max distinct
    * fingerprints can sub-split into all-singleton sub-buckets and emit
    * ZERO pairs — output counters alone would miss that divergence, and an
    * oversized bucket with ≤max fingerprints always emits ≥1 star pair
    * (pigeonhole), so the three counters together cover every activation.
    *
    * Pairs may repeat across bands (multi-band callers `.distinct()` as
    * before); within one band the sources are disjoint by construction
    * (normal/star/rep emit from disjoint bucket classes, and the sub-split
    * join only runs where the direct rep join did not).
    *
    * BUILDING the returned frame runs a Spark job: the oversized-bucket
    * emptiness probe (below) counts over `banded` before any plan is
    * returned, so plan-only callers (explain, plan dumps, speculatively
    * built branches) pay that pass, and the route is fixed at build time.
    */
  private[graft] def guardedBandPairs(banded: DataFrame, maxBucketSize: Int): DataFrame = {
    import Ckpt.CkptOps
    // Build-time emptiness probe (r17 — the sem pair-stage / q67 inert-
    // branch precedent): when NO bucket exceeds the cap, the anti-join
    // keeps every row and the whole star/rep/sub-split subtree is provably
    // empty, yet AQE still schedules each of its stages as a real job —
    // pure between-job driver latency on every LSH caller. The Dedup call
    // sites lazily checkpoint `banded` (thin rows) immediately before
    // calling, so the probe materializes exactly the checkpoint the
    // consuming action was about to materialize. The Multimodal sites
    // (audioNearDupPairs, imageNearDupPairs) checkpoint banded's PARENT —
    // the fingerprint frame — instead, so there the probe re-runs the
    // cheap band explode over that checkpoint. Either way there is no
    // extra pass over the upstream (signatures, decodes). Oversized
    // buckets keep today's guard exactly; its observed disclosure metrics
    // then register as before (Verify treats absent guard observes as
    // clean — the all-zero disclosure of an empty subtree reads
    // identically to an absent one). Checkpointing `over` also lets the
    // kept path's anti- and semi-joins share ONE aggregation pass instead
    // of relying on AQE exchange reuse.
    val over = banded.groupBy("band", "bucket")
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxBucketSize)
      .select("band", "bucket")
      .lazySerCkpt
    val thin = banded.select("id", "band", "bucket")
    // (id, key...) rows → every id1 < id2 pair sharing the key
    def selfPairs(rows: DataFrame, keys: Seq[String] = Seq("band", "bucket")): DataFrame =
      rows.toDF("id1" +: keys: _*).join(rows.toDF("id2" +: keys: _*), keys)
        .filter(col("id1") < col("id2"))
        .select("id1", "id2")
    if (over.isEmpty) return selfPairs(thin)
    // select by NAME after the USING join — it reorders keys to the front
    val normal = selfPairs(thin.join(over, Seq("band", "bucket"), "left_anti")
      .select("id", "band", "bucket"))

    // Oversized buckets: thin rows only, linear joins throughout. The fp
    // groupBy has map-side partials (min/count), so even a 10^8-copy group
    // collapses per map task before its single-reducer shuffle. Identical
    // fp ⇒ identical signature ⇒ identical sub, so min(sub) is THE group's
    // sub key, not an arbitrary pick.
    val big = banded.join(over, Seq("band", "bucket"), "left_semi")
    val groups = big.groupBy("band", "bucket", "fp")
      .agg(min(col("id")).as("rep"), min(col("sub")).as("sub"))
    val obsId = guardObsId.incrementAndGet()
    val stars = big
      .join(groups.select("band", "bucket", "fp", "rep"), Seq("band", "bucket", "fp"))
      .filter(col("id") =!= col("rep"))
      .select(col("rep").as("id1"), col("id").as("id2"))
      .observe(s"lsh_bucket_guard_${obsId}_star", count(lit(1)).as("star_pairs"))
    val repCounts = groups.groupBy("band", "bucket").agg(count(lit(1)).as("__r"))
    val repsFlagged = groups.join(repCounts, Seq("band", "bucket"))
    val repPairs = selfPairs(repsFlagged.filter(col("__r") <= maxBucketSize)
      .select(col("rep"), col("band"), col("bucket")))
      .observe(s"lsh_bucket_guard_${obsId}_rep", count(lit(1)).as("rep_pairs"))

    // Sub-split: reps of still-oversized buckets re-band on the extra
    // signature bits. Same guard applied one level down; a sub-bucket still
    // over the limit holds members indistinguishable on every bit we have —
    // bounded work wins, the drop is metric-logged recall loss.
    val repBig = repsFlagged.filter(col("__r") > maxBucketSize)
      .select(col("rep"), col("band"), col("bucket"), col("sub"))
    val subCounts = repBig.groupBy("band", "bucket", "sub")
      .agg(count(lit(1)).as("__s"))
    val subFlagged = repBig.join(subCounts, Seq("band", "bucket", "sub"))
      .observe(s"lsh_bucket_guard_${obsId}_sub",
        count(lit(1)).as("subsplit_rep_rows"),
        sum(when(col("__s") > maxBucketSize, 1L).otherwise(0L)).as("dropped_rep_rows"),
        // rows of one dropped sub-bucket all carry that bucket's __s, so
        // Σ 1/__s over dropped rows counts the dropped SUB-BUCKETS (distinct
        // aggregates are not allowed in observed metrics)
        sum(when(col("__s") > maxBucketSize, lit(1.0) / col("__s")).otherwise(0.0))
          .as("dropped_sub_buckets"))
    val subPairs = selfPairs(subFlagged.filter(col("__s") <= maxBucketSize)
      .select(col("rep"), col("band"), col("bucket"), col("sub")),
      Seq("band", "bucket", "sub"))

    normal.unionByName(stars).unionByName(repPairs).unionByName(subPairs)
  }

  /** Test-set decontamination: ids of documents sharing ANY word n-gram with
    * the benchmark corpus (the GPT-3/PaLM n-gram-overlap rule — a training
    * document that contains an eval n-gram leaks the benchmark).
    *
    * Shape: the benchmark's distinct n-grams are eval-set-sized (dims by
    * nature) and broadcast; the corpus side explodes its shingles and
    * semi-joins WITHOUT shuffling — at 100 TB the corpus n-grams never move,
    * only the contaminated id set comes back. Distinct shingles suffice
    * (membership, not frequency).
    */
  def contaminatedIds(
      docs: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8): DataFrame = {
    val benchGrams = benchmark
      .select(explode(wordShingles(col(textCol), n)).as("__g"))
      .distinct()
    docs
      .select(col(idCol), explode(wordShingles(col(textCol), n)).as("__g"))
      .join(broadcast(benchGrams), Seq("__g"), "left_semi")
      .select(col(idCol))
      .distinct()
  }

  /** [[contaminatedIds]] for benchmark suites too big to broadcast as an
    * exact distinct-gram table: bloom-prune + exact-verify.
    *
    * [[contaminatedIds]] broadcasts the benchmark's distinct n-grams — the
    * right plan while that set is dim-sized, but a 100 TB-era eval suite
    * (thousands of benchmarks × contamination windows) can reach tens of GB
    * of grams, past any broadcast budget. Here the exact gram table stays
    * DISTRIBUTED and only a Bloom filter of it (a few MB at fpp=0.1%) rides
    * the plan: corpus grams are probed map-side
    * ([[graft.functions.BloomMightContain]] — no shuffle, no false
    * negatives), and only the surviving ~fpp fraction plus true hits pay
    * the shuffle semi-join against the real gram table. The verify join
    * removes every false positive, so the output is EXACTLY
    * [[contaminatedIds]]' — same DuckDB oracle, not a twin.
    *
    * Scale shape: corpus grams never move (probe is map-side); the shuffle
    * carries corpus_grams × (hit_rate + fpp) rows. The filter build is one
    * distributed pass over the benchmark grams (`mapPartitions` + merge —
    * the one legitimate RDD use: folding a driver-side sketch).
    */
  def contaminatedIdsBloom(
      docs: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      fpp: Double = 0.001): DataFrame = {
    // thin (one string column, eval-suite-sized): materialized once, feeds
    // the count, the filter build, and the verify join
    val benchGrams = benchmark
      .select(explode(wordShingles(col(textCol), n)).as("__g"))
      .distinct()
      .localCheckpoint(false)
    val filterBytes = buildGramBloom(benchGrams, "__g", fpp)
    val candidates = docs
      .select(col(idCol), explode(wordShingles(col(textCol), n)).as("__g"))
      .filter(bloomMightContain(col("__g"), filterBytes))
    candidates
      .join(benchGrams, Seq("__g"), "left_semi")
      .select(col(idCol))
      .distinct()
  }

  /** Serialized Bloom filter over a string column, built distributively
    * (per-partition filters merged on the driver; the merged filter is the
    * only thing that leaves the executors). UTF-8 `putBinary` convention —
    * must match [[graft.functions.BloomMightContain]]'s probe.
    */
  private[graft] def buildGramBloom(
      grams: DataFrame, colName: String, fpp: Double): Array[Byte] = {
    val expected = math.max(grams.count(), 1L)
    val merged = grams.select(col(colName)).na.drop().rdd
      .mapPartitions { it =>
        val f = org.apache.spark.util.sketch.BloomFilter.create(expected, fpp)
        it.foreach(r => f.putBinary(
          r.getString(0).getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        Iterator(f)
      }
      .treeReduce((a, b) => a.mergeInPlace(b))
    val out = new java.io.ByteArrayOutputStream()
    merged.writeTo(out)
    out.toByteArray
  }

  /** Column wrapper for [[graft.functions.BloomMightContain]]. */
  def bloomMightContain(gram: Column, filterBytes: Array[Byte]): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      graft.functions.BloomMightContain(GraftColumnBridge.expression(gram), filterBytes))
  }

  /** Span-level exact dedup (the C4 / "Deduplicating Training Data Makes
    * Language Models Better" rule at chunk granularity): split every document
    * into consecutive `k`-word chunks, keep only each chunk's globally FIRST
    * occurrence (ordered by (doc id, position)), and reassemble documents
    * from their surviving chunks. Removes boilerplate spans repeated across
    * documents without dropping whole documents.
    *
    * Scale shape — three thin passes, skew-immune by construction:
    *   1. explode chunks (map-only; chunk rows ≈ corpus words / k);
    *   2. winner per chunk hash via `min(rank)` where
    *      `rank = docId*10^6 + position` is GLOBALLY UNIQUE — a plain long
    *      hash-aggregate with map-side partials, so a boilerplate chunk
    *      repeated 10^8 times collapses per map task before the shuffle;
    *   3. winners come back via a LEFT join on `rank` — a unique key, so
    *      the join cannot have a hot partition no matter how skewed the
    *      chunk distribution is (joining on the hash instead would send
    *      every copy of the repeated chunk to one task);
    *   4. per-document reassembly is a bounded groupBy (a group is one
    *      document's ≤ len/k chunks), `array_sort` on the unique position
    *      making the collect order deterministic.
    * The chunk rows are computed ONCE (lazy localCheckpoint) — the winner
    * aggregate, the join and the reassembly all read the materialized rows
    * instead of re-scanning and re-tokenizing the corpus per consumer.
    *
    * The rank packing (`id * 10^6 + position`) requires `0 ≤ id < 2^43` and
    * under a million chunks per document — ENFORCED at runtime via
    * `raise_error`, since a silent collision would corrupt winner selection.
    */
  def chunkDedup(docs: DataFrame, idCol: String, textCol: String, k: Int = 8): DataFrame = {
    val id = col(idCol)
    // materialize the word array BEFORE the chunking lambda: interpreted
    // HOFs get no common-subexpression elimination, so an inline split would
    // re-tokenize the text once per chunk (the languageId pathology) — as an
    // attribute reference it is read, not recomputed
    // null text ≡ empty text (the oracle SQL coalesces identically): a null
    // would null the chunk array and posexplode would DROP the document,
    // breaking the operator's row-preserving contract. Chunking is the
    // native one-pass [[graft.functions.WordChunksExpr]] — the interpreted
    // transform/slice/concat_ws formulation ([[wordChunksColumns]], spec-
    // pinned bit-identical) paid one lambda per chunk and re-read the word
    // array per slice.
    val chunksCol = {
      import org.apache.spark.sql.GraftColumnBridge
      GraftColumnBridge.column(graft.functions.WordChunksExpr(
        GraftColumnBridge.expression(coalesce(col(textCol).cast("string"), lit(""))), k))
    }
    val withWords = docs.select(id.as("__cd_id"), chunksCol.as("__chunks"))

    // the packing precondition (scaladoc) is ENFORCED, not assumed: a silent
    // rank collision would corrupt winner selection, so out-of-range ids or
    // a ≥10^6-chunk document fail the job instead
    val packedRank = when(
      col("__idx") < ChunkIdxSpace && col("__cd_id").between(0L, MaxPackableId),
      col("__cd_id") * ChunkIdxSpace + col("__idx"))
      .otherwise(raise_error(concat(
        lit(s"chunkDedup rank overflow (need 0 <= id <= $MaxPackableId, idx < $ChunkIdxSpace): id="),
        col("__cd_id").cast("string"), lit(" idx="), col("__idx").cast("string"))))

    // ONE tokenization pass: the exploded chunk rows feed the winner
    // aggregate, the winner join and the per-doc reassembly; the lazy
    // localCheckpoint materializes them once inside the consuming action
    // (without it each consumer would re-scan and re-tokenize the corpus)
    val chunkRows = withWords
      .select(col("__cd_id"), posexplode(col("__chunks")).as(Seq("__idx", "__chunk")))
      .withColumn("__rank", packedRank)
      .lazySerCkpt
    val winnerRanks = chunkRows
      .groupBy(md5(col("__chunk")).as("__h"))
      .agg(min(col("__rank")).as("__rank"))
      .select(col("__rank"), lit(true).as("__win"))
    // ranks are globally unique (one chunk row per rank), so the left join
    // marks winners without duplicating — and every document reassembles in
    // the same aggregate (collect_list skips the nulls of losing chunks),
    // replacing the old semi-join + second corpus scan + id join-back
    chunkRows.join(winnerRanks, Seq("__rank"), "left")
      .groupBy(col("__cd_id"))
      .agg(
        (max(col("__idx")).cast("long") + 1L).as("n_chunks"),
        count(col("__win")).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("__win"), struct(col("__idx"), col("__chunk"))))),
            x => x.getField("__chunk")),
          " ").as("cleaned_text"))
      .select(col("__cd_id").as(idCol), col("n_chunks"), col("n_kept"), col("cleaned_text"))
  }

  /** The interpreted chunking [[chunkDedup]] replaced — retained as the
    * documented semantics (this is what the DuckDB oracle computes) and the
    * DedupSpec bit-identity pin for [[graft.functions.WordChunksExpr]].
    */
  private[graft] def wordChunksColumns(text: Column, k: Int): Column = {
    val ws = split(trim(coalesce(text, lit(""))), "\\s+")
    val nChunks = ceil(size(ws).cast("double") / k).cast("long")
    transform(sequence(lit(0L), nChunks - 1),
      i => concat_ws(" ", slice(ws, (i * k + 1).cast("int"), lit(k))))
  }

  /** Jaccard similarity of two pre-deduped shingle arrays: one exact integer
    * intersection/union and a single double division (engine-portable).
    */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni === 0d, 0d).otherwise(inter / uni)
  }

  /** Directional containment C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)| of
    * pre-deduped shingle arrays — 1.0 when B contains every shingle of A.
    */
  def containment(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      greatest(size(a), lit(1)).cast("double")

  /** Near-superset (containment) duplicate pairs: (id1, id2, containment)
    * where doc id2 contains ≥ `threshold` of doc id1's shingles — the
    * doc-inside-doc duplication (quoted articles, boilerplate-wrapped
    * copies, chat logs embedding earlier messages) that Jaccard-LSH
    * structurally MISSES: for |B| ≫ |A|, J(A,B) = |∩|/|∪| stays small
    * while C(A→B) = |∩|/|A| is ~1, and MinHash band-collision probability
    * tracks J, not C.
    *
    * Candidate generation is rare-shingle anchoring (deterministic, no
    * hashing): each doc's `anchorsPerDoc` (k) globally-rarest shingles (by
    * document frequency, ties on the shingle string) are joined against
    * the corpus' inverted shingle index, and a pair becomes a candidate
    * only when ≥ `minAnchorHits` (m) of A's anchors occur in B. If
    * C(A→B) ≥ t, B misses a given anchor of A with frequency ≤ (1−t), so
    * under independence P(fewer than m of k present) ≤
    * Σ_{j>k−m} C(k,j)(1−t)^j t^(k−j) — at the defaults (t=0.8, k=10,
    * m=4) that is ≈ 0.09%; every candidate is then verified exactly, so
    * precision is exact and only recall rests on the anchor bound. The
    * m-of-k rule is what makes template-heavy corpora tractable: with
    * m=1 a replica cluster whose members share ONE rare-ish shingle goes
    * all-pairs (measured sf0.1: 4.6 M candidates from 5 k docs, median
    * anchor df 257 — "rare" is relative on generated text), while m=4/
    * k=10 needs four independent co-occurrences (68 k candidates, 67×
    * fewer, IDENTICAL verified output on the same corpus). Anchors are
    * further restricted to shingles with df ≤ ceil(`maxAnchorDfFrac` · n)
    * (floored at 16 for tiny corpora): this bounds every inverted-index
    * bucket the join touches, and a doc whose EVERY shingle is more
    * frequent than the cap is boilerplate by definition and generates no
    * candidates as the contained side. The cap is a FRACTION of corpus
    * size, not an absolute count — idf-style rarity. An absolute cap is a
    * scale defect: on a 10×-replicated corpus every shingle's df
    * multiplies by the replication factor, a fixed cap classifies every
    * document as boilerplate, and the operator silently returns zero rows
    * (measured — that is how this parameter became a fraction). Relative
    * rarity keeps the semantics invariant under corpus growth; the
    * corpus count it needs is the return value of the job that builds the
    * shingle checkpoint.
    *
    * Deliberate recall boundary: a doc with fewer than `minAnchorHits`
    * distinct shingles can never be reported as the contained side (its
    * anchor set is smaller than m, so no candidate forms even at
    * containment 1.0). That is a precision choice, not an oversight: a
    * ≤4-word fragment "contained" in thousands of documents is boilerplate
    * (its pair set is near-quadratic and dedup-useless), and the m-of-k
    * rule is what keeps candidate generation bounded. Callers who need
    * micro-doc containment should length-partition those docs out and
    * handle them with exact match (they have almost no shingle structure
    * to fuzzily contain). The oracle mirrors the same m, so the compare
    * pins the implemented semantics.
    *
    * Candidate-budget guard (VERDICT r9 "what's wrong" #1): the df-frac
    * cap bounds each inverted-index BUCKET, but the anchors ⨝ index join
    * still materializes Σ_{(doc,anchor g)} df(g) rows — on an
    * F×-replicated corpus every anchor's df multiplies by the cluster
    * size and the expansion goes ~F² (measured: 1.2 G intermediate rows
    * at 10×, 224 s; a projected ~130 G at 100× would-not-run). The guard
    * is an UNCONDITIONAL per-anchor-gram posting cap
    * `C = maxCandidatesPerDoc / anchorsPerDoc` (deterministic: each
    * anchor-vocabulary gram keeps its C lowest doc ids, row_number-ranked)
    * which hard-bounds the join output at anchorRows·C ≤
    * n·maxCandidatesPerDoc — LINEAR in corpus size, constant per doc, at
    * every scale. C is a plain constant (no data-dependent arithmetic),
    * so the DuckDB oracle mirrors it bit-for-bit and the compare stays
    * exact at every SF — the q25 `autoSignBits` resolution pattern, not
    * an output-withholding guard. On healthy corpora the cap is inert:
    * rare anchors have df ≪ C (measured: 0 postings dropped at sf0.01 AND
    * sf0.1 with the defaults — results byte-identical to the uncapped
    * form); only near-dup-heavy corpora degrade, and the loss is surfaced
    * as an observed metric (`containment_guard_*`: vocab_postings /
    * dropped_postings) — at 10×-replicated, 2.1 M of 2.5 M postings drop,
    * expansion 1.2 G → 193 M. The scale-SAFE order remains curate-first
    * (q69): survivors restore anchor rarity and the guard never fires.
    * The guard's own heavy-gram set is broadcast only while it fits
    * [[HeavyGramBroadcastRowBudget]] (checked against a superset count off
    * the already-checkpointed df frame); above the budget the hint drops
    * and AQE picks the join strategy — identical output either way
    * (DedupSpec pins both paths on a many-heavy-grams corpus).
    *
    * Scale shape: one shingling pass (checkpointed); df is one map-side-
    * combined count shuffle; the anchor top-k is a per-doc window over the
    * exploded grams (docs are bounded, no skew); the candidate join
    * shuffles only grams in the anchor vocabulary (a semi-join prunes the
    * index side first — ≤ k·n grams, each posting-capped); the verify join
    * carries each side's shingle array once per surviving candidate.
    * Every step is mirrored exactly by portable SQL (the DuckDB oracle
    * recomputes df, the (df, shingle)-ordered top-k, the posting cap, the
    * anchor join, and the containment division bit-for-bit).
    */
  def containmentPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 2,
      anchorsPerDoc: Int = DefaultAnchorsPerDoc,
      minAnchorHits: Int = 4,
      maxAnchorDfFrac: Double = 0.2,
      threshold: Double = 0.8,
      maxCandidatesPerDoc: Int = DefaultMaxCandidatesPerDoc,
      heavyBroadcastRowBudget: Long = HeavyGramBroadcastRowBudget): DataFrame = {
    // NOT spread (Spread.forCpu measured, then rejected here — see
    // Spread's scaladoc): warm shingling of the byte-small corpus is
    // sub-second single-task and the repartition's extra stages cost more
    // than they recover (dev/r16b/spread_ab2.log: q67 +0.6 s with spread)
    // the job that builds the shingle checkpoint returns the corpus count
    // the relative rarity cap needs
    val (shingled, nDocs) = docs
      .select(col(idCol).as("__cid"), wordShingles(col(textCol), shingleLen).as("__csh"))
      .countedSerCkpt()
    val ex = shingled.select(col("__cid"), explode(col("__csh")).as("__g"))
    val postCap = math.max(maxCandidatesPerDoc / math.max(anchorsPerDoc, 1), 1)
    // two consumers (anchor ranking + the guard's heavy-gram split) —
    // checkpoint, or the count shuffle over every exploded gram runs twice
    val dfreq = ex.groupBy("__g").agg(count(lit(1)).as("__df")).lazySerCkpt
    val overCap = dfreq.filter(col("__df") > postCap)
    val overCapN = overCap.count()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__cid")).orderBy(col("__df").asc, col("__g").asc)
    // The anchor window's input is compute-dense per byte (every doc's
    // exploded shingles, sorted per doc): AQE's byte-targeted coalescing
    // under-parallelizes it — at sf0.1 the ~5 M-row sort compresses to
    // <1 MB of shuffle, coalescing the whole sort+join stage onto ONE
    // task (measured: 12-15 s single-core). Pin the exchange by count
    // (REPARTITION_BY_NUM is exempt from coalescing); it satisfies the
    // window's clustering requirement so no second exchange appears.
    // CORE parallelism, not SQLConf.numShufflePartitions: under AQE
    // coalescing the latter reports initialPartitionNum (8× cores in the
    // bench session), and REPARTITION_BY_NUM pins that count un-coalesced —
    // the anchor window ran as 256 near-empty sort tasks whose per-task
    // overhead outweighed the balance benefit (same trap as Spread.forCpu's
    // first cut; A/B dev/r16b/contain_npart_ab.log).
    val nPart = docs.sparkSession.sparkContext.defaultParallelism
    val maxAnchorDf = math.max(math.ceil(maxAnchorDfFrac * nDocs).toLong, 16L)
    val anchors = ex.join(dfreq, Seq("__g"))
      .filter(col("__df") <= maxAnchorDf)
      .repartition(nPart, col("__cid"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= anchorsPerDoc)
      .select(col("__cid").as("__ida"), col("__g"))
      // consumed twice (candidate probe + vocabulary) — checkpoint, or the
      // explode+df-join+window pipeline above runs twice
      .lazySerCkpt
    // the index side shuffles only anchor-vocabulary grams (≤ k·n), each
    // gram's posting list capped at C lowest doc ids — the candidate-budget
    // guard (see scaladoc). The cap's row_number window is paid ONLY by
    // grams whose posting list exceeds C ("heavy" grams — tiny by
    // construction, ≤ total vocab postings / C, and EMPTY on healthy
    // corpora): windowing the whole index would put an exchange-by-gram
    // under the vocabulary semi-join, flipping it from broadcast to
    // sort-merge and shuffling every exploded gram (measured sf0.1: the
    // full 5M-row/116 MB ex shuffled into an AQE-coalesced 2-task window
    // sort, +7 s for a guard that drops nothing there). A gram with
    // df ≤ C keeps all postings — the rn filter is a no-op — so the split
    // changes the plan, not the semantics, and the oracle SQL mirrors the
    // unsplit formulation. (doc, gram) is unique per side, so the
    // row_number order is total and the kept set deterministic.
    val wg = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__g")).orderBy(col("__cid").asc)
    // distinct() KEPT although both consumers are existence tests
    // (duplicate keys would be semantically inert): its map-side partial
    // aggregate dedups BEFORE the semi-join shuffle (an anchor gram can
    // appear in up to maxAnchorDf docs), and heavyGrams below — broadcast
    // on replica-heavy corpora — would otherwise carry one row per
    // posting instead of one per gram. Measured a wash at sf0.1; the
    // scale safety decides it.
    val vocab = anchors.select("__g").distinct()
    // heavy = anchor-vocabulary grams over the posting cap — empty-to-tiny
    // on every measured corpus (replication raises df, not distinct grams),
    // so the broadcast hint keeps both the anti (light path) and semi
    // (heavy path) joins map-side and the light path on the pre-guard
    // plan. But "tiny" is an input property, not an invariant: on a huge
    // DIVERSE corpus the df-frac anchor cap admits grams with df in the
    // millions, heavy-set cardinality grows with unique-content
    // vocabulary, and a forced broadcast() bypasses AQE's size check — the
    // failure mode would be a driver OOM, not a plan downgrade (VERDICT
    // r10 #1). Defense: count the grams over the cap straight off the
    // checkpointed dfreq (a SUPERSET of the heavy set — no vocab join, one
    // near-free scalar; dfreq materializes here instead of inside the
    // candidate job, same total work) and drop the hint above the row
    // budget. AQE still broadcasts at runtime if the semi-joined set
    // proves small, so the fallback degrades the plan, never correctness.
    val heavyGrams = vocab.join(overCap, Seq("__g"), "left_semi")
    val heavySel =
      if (overCapN <= heavyBroadcastRowBudget) broadcast(heavyGrams)
      else heavyGrams
    val lightBase = ex.join(vocab, Seq("__g"), "left_semi")
    // overCapN == 0 ⇒ NO gram anywhere exceeds the posting cap, so the
    // heavy set is provably empty: the anti-join is an identity and the
    // whole heavy branch (broadcast build + window exchange + cap filter)
    // computes an empty frame. Prune them from the plan — on healthy
    // corpora (every measured one; the guard is inert by design there)
    // this removes 2-3 per-call jobs and keeps the index on the pre-guard
    // plan exactly. Semantics unchanged: with nothing over the cap the
    // rn filter is a no-op, and the guard observe's absence reads as the
    // same all-zero disclosure (Verify/RunTrainPrep report nonzero-only).
    val index =
      if (overCapN == 0L) lightBase
      else {
        val light = lightBase.join(heavySel, Seq("__g"), "left_anti")
        val heavy = ex.join(heavySel, Seq("__g"), "left_semi")
          // pin the window exchange by count: the heavy postings are
          // byte-few but the downstream candidate join is compute-dense
          // per byte
          .repartition(nPart, col("__g"))
          .withColumn("__prn", row_number().over(wg))
          .observe(s"containment_guard_${guardObsId.incrementAndGet()}",
            count(lit(1)).as("heavy_postings"),
            sum(when(col("__prn") > postCap, 1L).otherwise(0L)).as("dropped_postings"))
          .filter(col("__prn") <= postCap)
          .drop("__prn")
        light.unionByName(heavy)
      }
    // m-of-k co-occurrence: hits = distinct shared anchor grams, because
    // (doc, gram) is unique on both sides (shingles are distinct per doc)
    val cand = anchors
      .join(index.select(col("__cid").as("__idb"), col("__g")), Seq("__g"))
      .filter(col("__ida") =!= col("__idb"))
      .groupBy("__ida", "__idb").agg(count(lit(1)).as("__hits"))
      .filter(col("__hits") >= minAnchorHits)
      .select("__ida", "__idb")
    cand
      .join(shingled.select(col("__cid").as("__ida"), col("__csh").as("__sha")), Seq("__ida"))
      .join(shingled.select(col("__cid").as("__idb"), col("__csh").as("__shb")), Seq("__idb"))
      .withColumn("containment", round(containment(col("__sha"), col("__shb")), 6))
      .filter(col("containment") >= threshold)
      .select(col("__ida").as("id1"), col("__idb").as("id2"), col("containment"))
  }

  /** Substring-level duplication report: per document, the number of
    * MERGED duplicated spans and the total duplicated token count, where a
    * position is "duplicated" when its stride-1 `k`-token window occurs at
    * ≥ 2 (doc, pos) positions corpus-wide and this occurrence is not the
    * group's global first (min doc id, then min position — the surviving
    * copy). Operator family: Lee et al. 2021, "Deduplicating Training Data
    * Makes Language Models Better" — repeated ≥ k-token substrings at ANY
    * alignment, which chunk-level dedup ([[chunkDedup]], q55) only catches
    * when the copy lands on a chunk boundary. A within-doc repeat counts:
    * its first position survives, later positions mark.
    *
    * Marked stride-1 intervals [pos, pos+k) merge when contiguous or
    * overlapping (gap ≤ k); each merged span contributes (end − start)
    * duplicated tokens — the tokens a removal pass would delete.
    *
    * Scale shape: windows are one native one-pass expression
    * ([[graft.functions.WordWindowsExpr]]) + posexplode (~tokens-per-doc
    * rows, checkpointed — consumed by the group stats, the first-position
    * lookup, and the marking join); duplicate detection is ONE map-side-
    * combined count shuffle on the window string; marking is a hash join
    * back on the same key (AQE skew-join armed for degenerate hot
    * windows); span merging is a per-doc window pass (bounded partitions —
    * positions per doc ≤ tokens). Every step is mirrored by portable SQL:
    * the same lexicographic min(doc, pos) first-occurrence rule (min doc, then min pos within
    * that doc), the same span-merge rule (a gap > k between consecutive
    * marked positions starts a new span, gap ≤ k merges; null lag folds to
    * 0 in both engines), the same [pos, pos+k) arithmetic.
    */
  def duplicatedSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      // hash-prefilter the window-string aggregation — pass true when the
      // input corpus is already deduplicated (see markedSpans)
      hashPrefilter: Boolean = false): DataFrame =
    markedSpans(docs, idCol, textCol, k, hashPrefilter)
      .groupBy(col("__did"))
      .agg(count(lit(1)).as("dup_spans"),
        sum(col("__e") - col("__s")).as("dup_tokens"))
      .select(col("__did").as(idCol), col("dup_spans"), col("dup_tokens"))

  /** Shared stage of [[duplicatedSpans]]/[[removeDuplicatedSpans]]: the
    * merged duplicated token intervals per doc as (__did, __s, __e) —
    * token positions [s, e) whose k-window occurrences are not their
    * group's global first.
    */
  private def markedSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      hashPrefilter: Boolean): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    val winsCol = GraftColumnBridge.column(graft.functions.WordWindowsExpr(
      GraftColumnBridge.expression(coalesce(col("__wtx").cast("string"), lit(""))), k))
    // spread BEFORE the window build: the k-token window expression +
    // posexplode + dup-gram partial-agg stage is compute-dense per byte
    // over a byte-small corpus ([[Spread.forCpu]] — no-op at scan widths)
    val exploded = Spread
      .forCpu(docs.select(col(idCol).as("__did"), col(textCol).as("__wtx")),
        col("__did"))
      .select(col("__did"), winsCol.as("__ws"))
      .select(col("__did"), posexplode(col("__ws")).as(Seq("__pos", "__g")))
    // the hash column rides the checkpoint only on the prefilter route —
    // the plain route's checkpoint stays byte-identical to the pre-r17 one
    val wins = (if (hashPrefilter) exploded.withColumn("__h", xxhash64(col("__g")))
      else exploded).lazySerCkpt
    // Hash pre-filter before the window-string aggregation (r17, guide §3
    // "pre-filter the big side when selective"): the duplicate-detection
    // groupBy's shuffle key is the k-token window STRING (~170 B/row —
    // 75 MB at sf0.1 inside q73), but on a DEDUP-ORDERED corpus almost
    // every window is unique. Count the 8-byte xxhash64 of each window
    // first (map-side-combined long shuffle, ~1/20 the bytes), keep only
    // hash-duplicated occurrences (a semi-join AQE broadcasts when the
    // duplicate set is small), and run the string aggregation on those
    // survivors only. EXACT by construction, not probabilistically: equal
    // strings always share a hash, so no true duplicate group can be lost,
    // and a hash-collision group of distinct strings falls out of the
    // string groupBy's `__c > 1` filter exactly as before — the string
    // aggregate remains the decider, the hash only prunes provably-unique
    // occurrences. Rows outside the hash-duplicate set cannot match
    // dupGrams (their string would need their hash), so the marking join
    // over `cands` ≡ over `wins`. Spec-pinned both arms (DedupSpec).
    //
    // The SELECTIVITY decides the default, so it is the CALLER's choice
    // (A/B dev/r17/substr_ab.log, min-over-4 interleaved): after curation
    // the duplicated-window fraction is tiny and the prefilter wins
    // (q73 7.86 vs 8.71, q75 7.70 vs 8.34 — TrainPrep passes true); on a
    // RAW replicated corpus every replica duplicates ALL its windows, the
    // prefilter keeps most rows and its extra aggregation+semi-join stages
    // are pure overhead (q70 1.48 vs 1.18, q71 1.62 vs 1.18 — the
    // standalone operators default false).
    val cands =
      if (hashPrefilter)
        wins.join(
          wins.groupBy("__h").agg(count(lit(1)).as("__hc"))
            .filter(col("__hc") > 1).select("__h"),
          Seq("__h"), "left_semi")
      else wins
    // global-first rule (min doc id, then min position) in ONE aggregation:
    // min over struct(doc, pos) is lexicographic in both engines, so the
    // two-step formulation's extra join + second aggregation over the
    // tokens-scale wins relation is unnecessary
    val dupGrams = cands.groupBy("__g")
      .agg(count(lit(1)).as("__c"),
        min(struct(col("__did"), col("__pos"))).as("__first"))
      .filter(col("__c") > 1)
      .select("__g", "__first")
    val marked = cands
      .join(dupGrams, Seq("__g"))
      .filter(struct(col("__did"), col("__pos")) =!= col("__first"))
      .select("__did", "__pos")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__did")).orderBy(col("__pos"))
    marked
      // gap > k starts a new span; first row's null lag folds to 0
      .withColumn("__new",
        when(col("__pos") - lag(col("__pos"), 1).over(w) > k, lit(1)).otherwise(lit(0)))
      .withColumn("__sid", sum(col("__new")).over(w))
      .groupBy(col("__did"), col("__sid"))
      .agg(min(col("__pos")).as("__s"), (max(col("__pos")) + lit(k)).as("__e"))
      .select("__did", "__s", "__e")
  }

  /** The actionable form of [[duplicatedSpans]]: every document with its
    * duplicated token ranges DELETED — the pass a training pipeline runs
    * (Lee et al. 2021 keep-one-copy removal). The survivor rule is
    * occurrence-level, per window group: a group's global-first window
    * position is never MARKED, but when duplicated regions from different
    * groups overlap, another group's span may still delete tokens inside
    * it — so "at least one intact copy of every duplicated substring
    * corpus-wide" is NOT guaranteed under overlapping duplication (the
    * same property as any independent-span removal, Lee et al.'s
    * included; both engines mirror it exactly). Every doc comes back
    * (rows preserved), `clean_text` = the kept tokens joined with single
    * spaces
    * — whitespace canonicalizes for every doc, including untouched ones,
    * which keeps the transform deterministic and exactly mirrorable in
    * SQL (same tokenizer, same [s, e) containment test, same join).
    *
    * Scale shape: [[markedSpans]]'s cost plus one left join of the corpus
    * against the per-doc span lists (spans per doc are merged intervals —
    * bounded and small) and one per-row rebuild expression; the rebuild's
    * per-token lambda is interpreted, but spans-per-doc is tiny so the
    * inner `exists` is O(spans) with small constants.
    */
  def removeDuplicatedSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      // hash-prefilter the window-string aggregation — pass true when the
      // input corpus is already deduplicated (see markedSpans)
      hashPrefilter: Boolean = false): DataFrame = {
    val spans = markedSpans(docs, idCol, textCol, k, hashPrefilter)
      .groupBy("__did")
      .agg(collect_list(struct(col("__s").as("s"), col("__e").as("e"))).as("__spans"))
    // spread the rebuild side too: the span join is a broadcast (spans per
    // doc are tiny), so the per-token HOF rebuild would otherwise run at
    // the docs frame's own width — one task on a byte-small corpus
    Spread
      .forCpu(docs
        .select(col(idCol), coalesce(col(textCol).cast("string"), lit("")).as("__t")),
        col(idCol))
      .join(spans, col(idCol) === col("__did"), "left")
      .withColumn("__sp", coalesce(col("__spans"),
        expr("CAST(array() AS ARRAY<STRUCT<s: INT, e: INT>>)")))
      // tokenize ONCE — interpreted HOF projections get no codegen CSE, so
      // referencing split(...) twice would regex-split every doc twice
      .withColumn("__tok", split(trim(col("__t")), "\\s+"))
      .withColumn("clean_text", expr(
        """array_join(
          |  transform(
          |    filter(
          |      zip_with(__tok, sequence(0, size(__tok) - 1),
          |               (w, i) -> struct(w AS w, i AS i)),
          |      x -> NOT exists(__sp, sp -> x.i >= sp.s AND x.i < sp.e)),
          |    x -> x.w),
          |  ' ')""".stripMargin))
      .select(col(idCol), col("clean_text"))
  }

  /** SimHash as a bit string: bit j is the sign of the majority vote over
    * tokens of bit j of md5(token) (the j-th hex nibble's high bit). `bits`
    * ≤ 32. Near-duplicates differ in few bits → bucket by prefix to find
    * candidates without a quadratic pass. Backed by the native
    * [[graft.functions.SimHashExpr]]; equivalent SQL per bit j:
    * `sign(Σ_tokens CASE WHEN substr(md5(t), j, 1) IN ('8'..'f') THEN 1 ELSE -1 END)`.
    */
  def simHashBits(text: Column, bits: Int = 32): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      graft.functions.SimHashExpr(GraftColumnBridge.expression(text.cast("string")), bits))
  }

  /** 64-bit SimHash over xxhash64 — the cheap non-oracle scale path. Backed
    * by the native [[graft.functions.SimHash64Expr]] (one xxhash64 per token);
    * bit-identical to [[simHash64Hof]], the column formulation it replaced,
    * which re-evaluated the token array through 64 interpreted aggregates
    * per row (~10µs/lambda, no CSE — the [[MinHashSig]] pathology).
    */
  def simHash64(text: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      graft.functions.SimHash64Expr(GraftColumnBridge.expression(text.cast("string"))))
  }

  /** The interpreted formulation [[simHash64]] is pinned against in DedupSpec:
    * vote j over whitespace tokens = sign of Σ (bit j of xxhash64(token) ? +1 : -1).
    */
  private[graft] def simHash64Hof(text: Column): Column = {
    val tokens = split(trim(text), "\\s+")
    val votes = (0 until 64).map { j =>
      aggregate(
        tokens,
        lit(0L),
        (acc, t) =>
          acc + when(shiftright(xxhash64(t), j).bitwiseAND(1L) === 1L, 1L).otherwise(-1L))
    }
    votes.zipWithIndex.foldLeft(lit(0L)) { case (acc, (v, j)) =>
      acc.bitwiseOR(when(v >= 0L, shiftleft(lit(1L), j)).otherwise(0L))
    }
  }

  /** Hamming distance between two 64-bit simhash longs ([[simHash64]]). */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Sign bits needed to keep the EXPECTED bucket size ≈ `targetBucketSize`
    * under a balanced split: ⌈log₂(n / target)⌉. Each within-bucket
    * comparison is then O(target) per row — total candidate work is linear
    * in the corpus, not O(n²/2^const). Capped at `maxBits` (the bucket key
    * is a prefix of the vector's sign pattern, so bits ≤ dimension; 24 bits
    * already means 16M buckets).
    */
  def autoSignBits(corpusSize: Long, targetBucketSize: Int = 64, maxBits: Int = 24): Int = {
    // Exact integer arithmetic (bit length of ceil(n/target) - 1), not
    // ceil(log2(...)): floating log2 can round either way at power-of-two
    // boundaries, and the DuckDB oracle recomputes this same bit count from
    // SQL (`length(printf('%b', m-1))`) — both sides must agree exactly for
    // the bucket geometry, and therefore the pair set, to be deterministic
    // across engines at every scale factor.
    // overflow-safe ceil division (corpusSize + target - 1 wraps at Long.Max)
    val m = corpusSize / targetBucketSize +
      (if (corpusSize % targetBucketSize != 0) 1 else 0)
    val needed = if (m <= 1) 1 else 64 - java.lang.Long.numberOfLeadingZeros(m - 1)
    needed.max(1).min(maxBits)
  }

  /** Embedding near-duplicate pairs: LSH sign-bucket candidates, kept when
    * cosine exceeds `threshold`. One shuffle on the bucket key.
    *
    * `signBits <= 0` (the default) derives the bucket count from the corpus
    * size via [[autoSignBits]] — a FIXED bit width makes the within-bucket
    * self-join O(n²/2^bits), i.e. all-pairs with a constant divisor once the
    * corpus outgrows it. The two driver actions behind the default (a count
    * and a 1-row dimension probe) read parquet footers / one row group —
    * negligible against the join they right-size.
    */
  def embeddingNearDupPairs(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      signBits: Int = 0,
      threshold: Double = 0.95,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    import graft.functions.Vectors
    val bits =
      if (signBits > 0) signBits
      else {
        // head(1), not head(): an empty corpus short-circuits to an empty
        // pair set instead of failing the dimension probe
        val dimRow = embeddings.select(size(col(vecCol)).as("d")).head(1)
        if (dimRow.isEmpty) {
          return embeddings.select(col(idCol).as("id1"), col(idCol).as("id2")).limit(0)
        }
        val n = embeddings.select(col(idCol)).count()
        autoSignBits(n).min(dimRow(0).getInt(0))
      }
    // Only thin (id, fp, bucket) rows cross the candidate shuffle — the wide
    // embedding column is joined back per surviving bucket collision, never
    // carried on both sides of the self-join (the [[embeddingLshBandPairs]]
    // shape). Each id lands in exactly one bucket, so the candidate pairs
    // are already distinct ([[guardedBandPairs]]' three sources are disjoint
    // within a band). fp = hash of the full vector: star-collapsed pairs are
    // exact duplicates, and every candidate — guard path included — still
    // passes the cosine gate below, so the guard changes WORK, not results,
    // on any pair it emits.
    val vecs = embeddings.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val banded = embeddings.select(
      col(idCol).as("id"),
      xxhash64(col(vecCol)).as("fp"),
      lit(0).as("band"),
      Vectors.signBucket(col(vecCol), bits).as("bucket"),
      // guard sub-key: sign bits PAST the bucket prefix (wrapped if the
      // vector is short — wrapping degrades the sub-split, never correctness)
      Vectors.signBucketWrapped(col(vecCol), GuardSubBits, bits).as("sub"))
      .localCheckpoint(false)
    val pairs = guardedBandPairs(banded, maxBucketSize)
    pairs
      .join(vecs.toDF("id1", "vec1"), Seq("id1"))
      .join(vecs.toDF("id2", "vec2"), Seq("id2"))
      .withColumn("cos", Vectors.cosine(col("vec1"), col("vec2")))
      .filter(col("cos") > threshold)
      .select("id1", "id2")
  }

  /** Connected components over a near-duplicate pair graph: pairs become
    * clusters, so a cluster keeps exactly one survivor (its min id) — the
    * transitive step that per-pair removal only approximates (a~b, b~c
    * must eliminate two of the three even when a~c was never emitted).
    *
    * Iterative min-label propagation: label(v) ← min(label(v), neighbors'
    * labels) until fixpoint — O(graph diameter) rounds of one join + one
    * map-side-combined groupBy; near-dup clusters are dense and shallow so
    * a handful of rounds converges. `localCheckpoint` truncates lineage per
    * round (the same pattern as iterative [[Hierarchy]] resolution).
    *
    * Returns (id, comp) for every node that appears in `pairs`; nodes with
    * no pairs are their own singleton component (left-join + coalesce at
    * the call site).
    */
  /** One per-partition union-find contraction pass over a long-id edge
    * set: edges hash-partition by source, each partition unions its edges
    * in a path-compressed forest (min-id roots, preserving the comp ≤ id
    * direction the global loop converges toward), and every non-root node
    * emits exactly one (node, partitionLocalRoot) star edge. Pure
    * map-side after one thin shuffle; partition-local memory is one
    * LongMap entry per distinct node seen (~24 B — the 100× graph's worst
    * partition is a few MB). Used by [[connectedComponents]] as pre-
    * contraction; safe on duplicate and self edges (union-find absorbs
    * both).
    */
  /** Maximum CONTRACTED star-forest edge count (|c2|, the output of the
    * two pre-contraction passes) for [[connectedComponents]] to close the
    * graph in ONE single-task union-find pass (no propagation loop at all).
    * It bounds exactly what that task reads: 2^22 edges is one ≤ ~64 MB
    * shuffle to one task plus a LongMap of ≤ 2^22 entries (~100 MB
    * transient worst case) — comfortably inside one executor task and far
    * cheaper than ANY distributed loop at that size (each loop round is a
    * join + groupBy + checkpoint job; the r16 probe measured every sf0.1
    * closure graph at 428-2,160 symmetrized edges, and |c2| is at most
    * that, where the loop's fixed per-job cost IS the query's closure
    * cost). Above it the min-label loop over c2 takes over (measured 4.0×
    * at 40 M sym edges, `dev/r16/sem_stage_profile.log`). |c2| is the
    * return value of the job that checkpoints c2, measured per call, so the
    * route adapts to the data, not to the deployment or to listener-bus
    * timing; [[connectedComponents]]' explicit `localClosureMaxEdges`
    * argument overrides it (specs force a route).
    */
  private[graft] val LocalClosureMaxStarEdges: Long = 1L << 22

  /** Exact closure of a SMALL symmetrized edge set in one task: union-find
    * over every edge, then (id, root) for every node seen. Union always
    * links the larger root under the smaller, so each tree's root is its
    * component minimum — the same (id, comp), comp = min-id semantics the
    * propagation loop converges to, produced in ONE job with no loop.
    * Order-independent (min-root union-find is confluent), so the single
    * partition's arbitrary edge order cannot change the output.
    */
  private def localClosureLabels(symEdges: DataFrame): DataFrame = {
    val spark = symEdges.sparkSession
    import spark.implicits._
    symEdges.repartition(1).select(col("a"), col("b")).as[(Long, Long)]
      .mapPartitions { it =>
        val parent = new scala.collection.mutable.LongMap[Long]()
        val seen = new scala.collection.mutable.LongMap[Unit]()
        def find(x0: Long): Long = {
          var r = x0
          var p = parent.getOrElse(r, r)
          while (p != r) { r = p; p = parent.getOrElse(r, r) }
          var x = x0
          while (x != r) { val nxt = parent(x); parent.update(x, r); x = nxt }
          r
        }
        it.foreach { case (a, b) =>
          seen.update(a, ()); seen.update(b, ())
          val ra = find(a)
          val rb = find(b)
          if (ra != rb) {
            if (ra < rb) parent.update(rb, ra) else parent.update(ra, rb)
          }
        }
        val keys = seen.keysIterator.toArray
        keys.iterator.map(k => (k, find(k)))
      }
      .toDF("id", "comp")
  }

  private def localUnionFindPass(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.repartition(col("a")).select(col("a"), col("b")).as[(Long, Long)]
      .mapPartitions { it =>
        val parent = new scala.collection.mutable.LongMap[Long]()
        def find(x0: Long): Long = {
          var r = x0
          var p = parent.getOrElse(r, r)
          while (p != r) { r = p; p = parent.getOrElse(r, r) }
          var x = x0
          while (x != r) { val nxt = parent(x); parent.update(x, r); x = nxt }
          r
        }
        // nodes seen ONLY via self edges would otherwise vanish from the
        // contracted star set (union-find absorbs a == b without creating
        // an entry), diverging from the direct loop, which keeps them as
        // singletons (ADVICE r16). Track them (zero extra work when no
        // self edges exist) and re-emit the self loop for any that stay
        // roots, so every node that appears in pairs survives contraction.
        val selfSeen = new scala.collection.mutable.LongMap[Unit]()
        it.foreach { case (a, b) =>
          if (a == b) selfSeen.update(a, ())
          else {
            val ra = find(a)
            val rb = find(b)
            if (ra != rb) {
              if (ra < rb) parent.update(rb, ra) else parent.update(ra, rb)
            }
          }
        }
        // snapshot keys first — find() path-compresses the map in place
        val keys = parent.keysIterator.toArray
        keys.iterator.flatMap { k =>
          val r = find(k)
          if (r != k) Iterator.single((k, r)) else Iterator.empty
        } ++ selfSeen.keysIterator.filter(k => find(k) == k).map(k => (k, k))
      }
      .toDF("a", "b")
  }

  def connectedComponents(
      pairs: DataFrame, maxIter: Int = 25, preContract: Boolean = true,
      localClosureMaxEdges: Long = -1L): DataFrame = {
    import Ckpt.ckptRdd
    // threshold: the explicit arg when given (specs force a route), else
    // the constant
    val ccLocalMax =
      if (localClosureMaxEdges >= 0L) localClosureMaxEdges else LocalClosureMaxStarEdges
    val sym = pairs.select(col("id1").as("a"), col("id2").as("b"))
      .unionByName(pairs.select(col("id2").as("a"), col("id1").as("b")))
    // SCALE-ADAPTIVE ROUTE (r16 opt round): two per-partition union-find
    // passes (PRE-CONTRACTION, VERDICT r15 next #1) collapse the edge set
    // to a near-star-forest c2, and |c2| — the return value of the job that
    // checkpoints it — picks the closure engine by DATA size, not
    // deployment:
    //
    //   |c2| ≤ ccLocalMax — [[localClosureLabels]]: ONE single-task
    //   union-find job over c2, no propagation loop. Every sf0.1 bench
    //   closure graph is 428-2,160 sym edges (dev/r16b/cc_edges.log), so
    //   |c2| ≤ |sym| is smaller still; there the loop's fixed per-job cost —
    //   not data volume — was the entire closure cost of ~14 queries
    //   (+0.3-1.4 s each after the ungated r16 contraction landed, and 2-4
    //   loop jobs even before it).
    //
    //   |c2| > ccLocalMax — the min-label loop over c2: contracting
    //   BEFORE the global loop means each propagation round joins ~|V|
    //   star edges instead of the full 2·|E| symmetrized graph (the 100×
    //   sem pair graph is 20 M edges; closure was 30 s of the 49 s
    //   semDedupAuto wall, 7.5 s contracted). Pass 1
    //   partitions by source so a node's whole neighborhood contracts
    //   locally; pass 2 merges each node's per-partition roots.
    //   Correctness never depends on contraction QUALITY: union-find
    //   merges only edge-connected nodes (sound) and every original edge
    //   (a,b) becomes the path a—root—b (complete), so components are
    //   preserved exactly and the loop finishes whatever chains remain
    //   across stars. The distinct() the direct path needs is dropped:
    //   union-find absorbs duplicate edges for free.
    //
    // Long ids only (every dedup tier's shape); other id types keep the
    // direct distinct + loop. Route choice steers COST only — the spec
    // pins local ≡ contracted ≡ direct components on randomized graphs.
    val contractible = preContract &&
      sym.schema("a").dataType == org.apache.spark.sql.types.LongType
    // the finally frees the edge checkpoint on every exit, the early-return
    // local route included
    var edgesCkpt: Option[DataFrame] = None
    try {
    val edges =
      if (contractible) {
        // ONE fused job, the inherited contraction shape exactly: the two
        // per-partition union-find passes over the symmetrized plan, whose
        // checkpoint job returns |c2|, the star-forest edge count the local
        // closure's single task would read. (First cut materialized a
        // symmetrized-edge checkpoint to count it before routing — at 100×
        // that single checkpoint wrote 40 M serialized rows for 28.4 s, 4×
        // the whole inherited closure; dev/r16b/sem_stage_profile_r16d.log.)
        val (c2, c2N) = localUnionFindPass(localUnionFindPass(sym)).countedSerCkpt()
        if (c2N <= ccLocalMax) {
          // small graph: finish the (component-preserving) contracted star
          // forest in one single-task union-find job — no propagation loop
          val labels = localClosureLabels(c2).eagerSerCkpt
          ckptRdd(c2).foreach(_.unpersist(blocking = false))
          return labels
        }
        val e = c2.unionByName(c2.select(col("b").as("a"), col("a").as("b")))
          .eagerSerCkpt
        ckptRdd(c2).foreach(_.unpersist(blocking = false))
        e
      } else sym.distinct().eagerSerCkpt
    edgesCkpt = Some(edges)
    // seed labels with min(id, min(neighbor)) — the exact output of the
    // first propagation round against identity labels, for one groupBy
    // instead of a join+groupBy round (edges are symmetrized, so every
    // node appears on the `a` side)
    var labels = edges.groupBy(col("a").as("id"))
      .agg(min(col("b")).as("__nbr0"))
      .select(col("id"), least(col("id"), col("__nbr0")).as("comp"))
      .eagerSerCkpt
    // convergence detection is the return value of the job that
    // checkpoints each round's labels — a separate changed-count join would
    // double the actions per round (an iterative operator's cost is
    // dominated by per-round jobs)
    var changed = 1L
    var iter = 0
      while (changed > 0 && iter < maxIter) {
        val nbrMin = edges
          .join(labels.select(col("id").as("b"), col("comp")), Seq("b"))
          .groupBy(col("a").as("id"))
          .agg(min(col("comp")).as("nbr"))
        // two contractions per round: neighbor-min, then a pointer jump
        // through the previous labels (comp ← label(comp)) — labels only
        // shrink (comp ≤ id invariant), so the jump is a pure accelerator
        // taking chain convergence from O(diameter) to O(log diameter)
        val (round, roundChanged) = labels
          .join(nbrMin, Seq("id"), "left")
          .withColumn("__m", least(col("comp"), coalesce(col("nbr"), col("comp"))))
          .join(labels.select(col("comp").as("__jump"), col("id").as("__m")),
            Seq("__m"), "left")
          .withColumn("__next", coalesce(col("__jump"), col("__m")))
          .select(col("id"), col("__next").as("comp"),
            (col("__next") =!= col("comp")).as("__changed"))
          .countedSerCkpt(Some("__changed"))
        // the round is materialized: free the superseded snapshot now —
        // only `edges` and the current labels stay resident, regardless of
        // round count
        ckptRdd(labels).foreach(_.unpersist(blocking = false))
        labels = round.drop("__changed")
        changed = roundChanged
        iter += 1
      }
      if (changed > 0) {
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxIter rounds " +
            s"($changed labels still changing) — labels would be wrong; raise maxIter")
      }
      labels
    } finally {
      // the returned labels are lineage-truncated at their own checkpoint,
      // so the edge blocks are dead weight once the loop ends
      edgesCkpt.foreach(e => ckptRdd(e).foreach(_.unpersist(blocking = false)))
    }
  }

  /** Near-dup closure, pairs → components → survivors (VERDICT r12 next
    * #2): the generic tail every near-dup tier shares — close the pair
    * graph transitively ([[connectedComponents]]) and keep ONE survivor
    * per cluster, the cluster's min id (the q45/q65/q68 survivor rule).
    * `universe` supplies the full id set so unpaired rows survive as their
    * own singletons without appearing in the (usually far smaller) pair
    * graph. Returns `universe`'s idCol column, survivors only — the
    * actionable removal complement a production dedup emits, where the
    * pair tiers alone stop at evidence.
    *
    * Scale shape: components run over the PAIR graph only (near-dup
    * clusters are sparse relative to the corpus); the final anti-join is
    * one shuffle of thin ids, and `dropped` is duplicate-count-sized — on
    * replica-heavy corpora combine with the pair tiers' `maxBucketSize`
    * star-collapse, whose (rep, member) stars reach the same components as
    * the full cliques by construction.
    */
  def survivorsFromPairs(universe: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val dropped = connectedComponents(pairs)
      .filter(col("id") =!= col("comp"))
      .select(col("id").as(idCol))
    universe.select(col(idCol)).join(dropped, Seq(idCol), "left_anti")
  }

  /** Banded hyperplane LSH near-duplicate pairs — the recall-controlled
    * variant (multi-band, like [[minHashLshPairs]] for text): band b's key
    * is the sign pattern of coordinates [b·r, (b+1)·r); two vectors are
    * candidates when ANY band matches, so recall is 1-(1-s^r)^bands for
    * per-coordinate sign-agreement s, instead of the single-prefix s^bits.
    *
    * Shape: only (id, band, bucket) rows go through the candidate shuffle —
    * vectors are joined back per distinct pair, so the wide embedding column
    * is never exploded ×bands.
    */
  def embeddingLshBandPairs(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      bands: Int = 4,
      rowsPerBand: Int = 8,
      threshold: Double = 0.95,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    import graft.functions.Vectors
    val vecs = embeddings.select(col(idCol).as("id"), col(vecCol).as("vec"))
    // lazy localCheckpoint: the banded table feeds both sides of the
    // self-join — only (id, fp, band, bucket) rows materialize (4 thin
    // columns, never the vectors), once, inside the consuming action; blocks
    // are reclaimed with the plan instead of accumulating as session cache.
    // fp = full-vector hash for [[guardedBandPairs]]' degenerate-bucket
    // star-collapse; every candidate still passes the cosine gate below.
    val banded = embeddings
      .select(
        col(idCol).as("id"),
        xxhash64(col(vecCol)).as("fp"),
        // guard sub-key: the sign bits after every band's coordinates
        // (wrapped for short vectors — degrades the sub-split, never throws)
        Vectors.signBucketWrapped(col(vecCol), GuardSubBits, bands * rowsPerBand).as("sub"),
        posexplode(array((0 until bands).map(b =>
          Vectors.signBucket(col(vecCol), rowsPerBand, b * rowsPerBand)): _*)))
      .toDF("id", "fp", "sub", "band", "bucket")
      .select("id", "fp", "band", "bucket", "sub")
      .localCheckpoint(false)
    val pairs = guardedBandPairs(banded, maxBucketSize)
      .distinct()
    pairs
      .join(vecs.toDF("id1", "vec1"), Seq("id1"))
      .join(vecs.toDF("id2", "vec2"), Seq("id2"))
      .withColumn("cos", Vectors.cosine(col("vec1"), col("vec2")))
      .filter(col("cos") > threshold)
      .select("id1", "id2")
  }

  // --------------------------------------------------------------------
  // SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
  // clustering — the third embedding-dedup geometry beside the sign-prefix
  // bucket (embeddingNearDup) and the banded-LSH recall variant
  // (embeddingLshBandPairs). Candidates come from LEARNED cells instead of
  // hash buckets, and the survivor rule is the paper's: within a duplicate
  // cluster keep the member FURTHEST from its centroid (the least
  // prototypical copy preserves the most diversity), not min id.
  // --------------------------------------------------------------------

  /** Nearest-centroid assignment, the shared first stage of the SemDeDup
    * family: every vector gets (centroid_id, cosc) for its argmax-cosine
    * centroid. `centroids` must carry (centroid_id, cvec) and is K rows by
    * construction.
    *
    * TRULY map-side (ADVICE r14): the K centroids collapse to ONE row
    * holding an array of (centroid_id, cvec) structs, crossJoined in as a
    * broadcast nested-loop against the corpus — a 1-row build side, so no
    * exchange anywhere — and the argmax is `array_max` over a per-row
    * `transform`: max of (cosc, −centroid_id) structs realizes exactly the
    * old (cosc desc, centroid_id asc) window order without the row_number
    * window whose exchange input carried K wide-vector copies per doc.
    * The embedding column provably never shuffles (spec-pinned: zero
    * Exchange nodes in the assignment plan).
    *
    * cosc is rounded to 6 dp so the argmax (and the keep rule built on it)
    * orders identically in Spark and the DuckDB oracle — the q25
    * cosine-ordering discipline; ties break to the lower centroid_id.
    */
  private[graft] def semAssign(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      native: Boolean = true): DataFrame = {
    import graft.functions.Vectors
    import org.apache.spark.sql.GraftColumnBridge.{column => natCol, expression => natExpr}
    // explicit, not silent (ADVICE r15): the collapsed-candidate form would
    // hand every doc a null assignment on an EMPTY centroid table (where the
    // r14 crossJoin produced zero rows), flipping downstream semDedup from
    // zero survivors to all-survive. Every caller (trainCentroids /
    // firstKCentroids) supplies >= 1 row, so the require is one tiny job on
    // a K-row table and makes the undefined edge loud.
    require(centroids.take(1).nonEmpty,
      "semAssign requires a non-empty centroid table")
    val cands = centroids
      .agg(collect_list(struct(col("centroid_id"), col("cvec"))).as("__cands"))
    // native = the [[graft.functions.CosineArgMax]] tight loop (the
    // production path: one eval per row, no per-candidate struct allocs —
    // measured ~30× less overhead than the interpreted HOF at 200 k×448);
    // native = false keeps the HOF formulation as the spec-pinned
    // reference (the cosineLongHof precedent)
    val best =
      if (native)
        natCol(graft.functions.CosineArgMax(natExpr(col("vec")), natExpr(col("__cands"))))
      else
        array_max(transform(col("__cands"), c =>
          struct(
            round(Vectors.cosine(col("vec"), c.getField("cvec")), 6).as("cosc"),
            (-c.getField("centroid_id")).as("negid"),
            c.getField("centroid_id").as("centroid_id"))))
    embeddings.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .crossJoin(broadcast(cands))
      .withColumn("__best", best)
      .select(col("id"), col("vec"),
        col("__best.centroid_id").as("centroid_id"),
        col("__best.cosc").as("cosc"))
  }

  /** Below this K, [[semAssignPruned]] runs the exhaustive [[semAssign]]
    * directly: two-level pruning pays a KMeans over the centroids plus a
    * super-cosine per (vector, group), which only wins once K is large
    * enough that √K-ish candidate sets beat K.
    */
  private[graft] val SemPruneMinCentroids: Int = 64

  /** [[semAssign]] with the O(n·K) argmax pruned by a two-level triangle-
    * inequality bound (VERDICT r14 next #2) — EXACT, not approximate:
    * identical output to the exhaustive scan including 6-dp rounding ties
    * (spec-pinned on randomized fixtures; `Tools ladder sem` checks row
    * identity at scale).
    *
    * The K centroids are grouped into G ≈ √K super-cells (KMeans over the
    * K-row centroid table — grouping quality affects only SPEED; the bound
    * below is valid for ANY partition of the centroids). Per group g the
    * build side carries its super-vector s_g, the max/min unit-sphere
    * child distances r_g / rmin_g, and the child (centroid_id, cvec) list.
    * Cosine argmax = unit-sphere nearest neighbor (‖v̂−ĉ‖² = 2 − 2·cos),
    * so per vector, one cosine against each s_g gives d_g and
    *
    *   ub_g = 1 − max(d_g − r_g, 0)²/2   (no child of g can beat this)
    *   lb_g = 1 − (d_g + rmin_g)²/2      (some child of g achieves this)
    *
    * by the triangle inequality. Groups with ub_g < max_h lb_h − 1e-6 are
    * skipped — the 1e-6 slack covers every 6-dp rounding tie (two cosines
    * rounding equal differ by < 1e-6), so the tie-break id is preserved
    * exactly. Degenerate zero vectors make every bound NaN, which compares
    * greatest in Spark — pruning disables itself and the scan falls back
    * to exhaustive for those rows. Radii are inflated by 1e-9 under the
    * sqrt for float-arithmetic conservatism.
    *
    * Cost per vector: G super cosines + the surviving groups' children
    * (≈ K/G each on a balanced grouping) instead of K — the ~√K× cut; the
    * plan stays one broadcast nested-loop + projection, zero exchanges,
    * like the exhaustive path.
    */
  private[graft] def semAssignPruned(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      numGroups: Int = 0,
      seed: Long = 42L,
      native: Boolean = true,
      adaptiveGate: Boolean = true): DataFrame = {
    import graft.functions.Vectors
    import org.apache.spark.sql.GraftColumnBridge.{column => natCol, expression => natExpr}
    import Ckpt.CkptOps
    val cents = centroids.select(col("centroid_id"), col("cvec")).lazySerCkpt
    val k = cents.count()
    val g =
      if (numGroups > 0) numGroups
      else math.max(2, math.ceil(math.sqrt(k.toDouble)).toInt)
    if (k < SemPruneMinCentroids || g >= k)
      return semAssign(embeddings, idCol, vecCol, cents, native)
    val grouped = semPruneGeometry(cents, g, k, seed)
      // one tiny row, read by the gate probe AND the main scan
      .localCheckpoint(false)
    // ADAPTIVE GATE (VERDICT r15 next #5): on corpora where the bound
    // cannot prune (isotropic embeddings: every r_g spans the sphere, so
    // candidates-kept = K, dev/r15/sem_probe_iso.log), the two-level scan
    // pays its measured ~4-8% bound overhead for nothing. Probe a bounded
    // sample's kept-candidate fraction and fall back to the exhaustive
    // argmax when pruning would keep nearly everything. Path choice can
    // NEVER affect output — both scans are EXACT (spec-pinned identical) —
    // so the sample needs no determinism guarantee; it only steers cost.
    // adaptiveGate = false (specs, ladders) forces the two-level scan so
    // its exactness stays directly exercised on geometries the gate would
    // route to the exhaustive path
    if (adaptiveGate) {
      val keptFrac = semPruneKeptFrac(
        embeddings.select(col(vecCol).as("vec")).limit(SemPruneProbeRows), grouped, k)
      if (keptFrac > SemPruneGateMaxKeptFrac)
        return semAssign(embeddings, idCol, vecCol, cents, native)
    }
    val e = embeddings.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .crossJoin(broadcast(grouped))
    // native = [[graft.functions.CosineArgMaxTwoLevel]], the whole
    // bound-then-scan fused into one eval; native = false keeps the HOF
    // chain as the spec-pinned reference
    val best =
      if (native)
        e.withColumn("__best",
          natCol(graft.functions.CosineArgMaxTwoLevel(
            natExpr(col("vec")), natExpr(col("__groups")))))
      else e
        .withColumn("__gb", transform(col("__groups"), grp => {
          val dg = sqrt(greatest(
            lit(2.0) - lit(2.0) * Vectors.cosine(col("vec"), grp.getField("__gvec")),
            lit(0.0)))
          struct(
            (lit(1.0) - pow(greatest(dg - grp.getField("__r"), lit(0.0)), 2) / 2).as("ub"),
            // nanvl: a degenerate zero super-vector gives a NaN lb, which
            // would otherwise be the ordering MAXIMUM and poison the cut
            // (pruning every finite-ub group); −∞ is the conservative
            // claim. The group's own NaN ub still survives the filter.
            nanvl(lit(1.0) - pow(dg + grp.getField("__rmin"), 2) / 2,
              lit(Double.NegativeInfinity)).as("lb"),
            grp.getField("__children").as("children"))
        }))
        .withColumn("__bestlb", array_max(transform(col("__gb"), x => x.getField("lb"))))
        .withColumn("__best",
          array_max(flatten(transform(
            filter(col("__gb"), x => x.getField("ub") >= col("__bestlb") - lit(1e-6)),
            x => transform(x.getField("children"), c =>
              struct(
                round(Vectors.cosine(col("vec"), c.getField("cvec")), 6).as("cosc"),
                (-c.getField("centroid_id")).as("negid"),
                c.getField("centroid_id").as("centroid_id")))))))
    best.select(col("id"), col("vec"),
      col("__best.centroid_id").as("centroid_id"),
      col("__best.cosc").as("cosc"))
  }

  /** Rows the [[semAssignPruned]] adaptive gate probes (enough to see the
    * corpus geometry; one sub-second job against the broadcast group
    * table).
    */
  private[graft] val SemPruneProbeRows: Int = 256

  /** Kept-candidate fraction above which [[semAssignPruned]] falls back
    * to the exhaustive scan: pruning that keeps ≥85% of the children
    * cannot recoup the per-group bound arithmetic (the measured isotropic
    * overhead is ~4-8% at kept = 100%).
    */
  private[graft] val SemPruneGateMaxKeptFrac: Double = 0.85

  /** The two-level pruning geometry as ONE collapsed row — G super-cells
    * (KMeans over the K-row centroid table), each with its super-vector,
    * max/min child unit-sphere radii, and child (centroid_id, cvec) list.
    * Shared by [[semAssignPruned]]'s scan, the gate probe, and the spec
    * that pins the probe's geometry separation.
    */
  private[graft] def semPruneGeometry(
      cents: DataFrame, g: Int, k: Long, seed: Long): DataFrame = {
    import graft.functions.Vectors
    val supers = Similarity.trainCentroids(cents, "cvec", g, k, seed)
      .select(col("centroid_id").as("__gid"), col("cvec").as("__gvec"))
    // child -> group via the exhaustive argmax (K×G work on the K-row
    // table; the grouping choice is arbitrary for exactness)
    val childAsg = semAssign(
        cents.select(col("centroid_id").as("__cid"), col("cvec")),
        "__cid", "cvec",
        supers.select(col("__gid").as("centroid_id"), col("__gvec").as("cvec")))
      .select(col("id").as("__cid"), col("vec").as("__cvec"),
        col("centroid_id").as("__gid"))
    val geo = childAsg
      .join(supers, Seq("__gid"))
      .withColumn("__dc",
        sqrt(greatest(
          lit(2.0) - lit(2.0) * Vectors.cosine(col("__cvec"), col("__gvec")) + lit(1e-9),
          lit(0.0))))
      .groupBy(col("__gid"))
      .agg(
        first(col("__gvec")).as("__gvec"),
        max(col("__dc")).as("__r"),
        min(col("__dc")).as("__rmin"),
        collect_list(struct(col("__cid").as("centroid_id"), col("__cvec").as("cvec")))
          .as("__children"))
    geo.agg(collect_list(
      struct(col("__gvec"), col("__r"), col("__rmin"), col("__children"))).as("__groups"))
  }

  /** Average fraction of the K candidate children surviving the
    * two-level ub/lb cut on `sample` — the [[semAssignPruned]] gate's
    * probe, and the spec hook pinning the gate's decision on clustered
    * (≪ 1) vs isotropic (≈ 1) geometries. Mirrors the scan's exact bound
    * arithmetic including the NaN-lb floor.
    */
  private[graft] def semPruneKeptFrac(
      sample: DataFrame, grouped: DataFrame, k: Long): Double = {
    import graft.functions.Vectors
    val row = sample
      .crossJoin(broadcast(grouped))
      .withColumn("__gb", transform(col("__groups"), grp => {
        val dg = sqrt(greatest(
          lit(2.0) - lit(2.0) * Vectors.cosine(col("vec"), grp.getField("__gvec")),
          lit(0.0)))
        struct(
          (lit(1.0) - pow(greatest(dg - grp.getField("__r"), lit(0.0)), 2) / 2).as("ub"),
          nanvl(lit(1.0) - pow(dg + grp.getField("__rmin"), 2) / 2,
            lit(Double.NegativeInfinity)).as("lb"),
          size(grp.getField("__children")).cast("long").as("nc"))
      }))
      .withColumn("__bestlb", array_max(transform(col("__gb"), x => x.getField("lb"))))
      .withColumn("__cands",
        aggregate(
          filter(col("__gb"), x => x.getField("ub") >= col("__bestlb") - lit(1e-6)),
          lit(0L), (acc, x) => acc + x.getField("nc")))
      .agg(avg(col("__cands"))).head()
    if (row.isNullAt(0)) 1.0 else row.getDouble(0) / k
  }

  /** Deterministic Forgy centroids: the embeddings of the `k` lowest ids,
    * re-keyed 0..k-1 in id order — the oracle-checkable centroid seam
    * (one `ORDER BY vec_id LIMIT k` replays it in SQL; no RNG, no
    * iteration). Production corpora use [[semDedupAuto]]'s KMeans instead;
    * this exists so the CLUSTERED dedup semantics (assignment, intra-cell
    * pairs, keep rule) are pinned by a hash-exact oracle independent of
    * how centroids are learned.
    */
  def firstKCentroids(
      embeddings: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive; got $k")
    val w = org.apache.spark.sql.expressions.Window.orderBy(col(idCol).asc)
    embeddings.orderBy(col(idCol).asc).limit(k)
      .select((row_number().over(w) - 1).as("centroid_id"), col(vecCol).as("cvec"))
  }

  /** Semantic duplicate evidence: pairs within the same centroid cell with
    * cosine above `threshold`. The intra-cell self-join rides
    * [[guardedBandPairs]] with bucket = centroid_id (band 0): cells the
    * corpus keeps under `maxCellSize` pair quadratically — the paper's
    * cost, O(cell²), bounded by choosing K ≈ √n cells — while degenerate
    * cells (replica-heavy corpora) star-collapse on the exact-vector
    * fingerprint and sub-split on sign bits exactly like the hash-bucket
    * tiers, with the same `lsh_bucket_guard_*` disclosure counters. Every
    * candidate still passes the cosine gate, so the guard changes WORK,
    * not correctness, on any pair it emits.
    */
  def semDedupPairs(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      threshold: Double,
      maxCellSize: Int = DefaultMaxBucketSize): DataFrame = {
    import Ckpt.CkptOps
    // the assignment is a corpus-wide broadcast argmax: checkpoint it on
    // the public pair path too (semDedup checkpoints its own copy), or
    // guardedBandPairs' branches and the two vector join-backs re-run it
    semPairsFromAssign(
      semAssignPruned(embeddings, idCol, vecCol, centroids).lazySerCkpt,
      threshold, maxCellSize)
  }

  /** Above this cell population, the intra-cell pairs route through the
    * banded join machinery instead of the collected-cell native emission.
    * A cell of c members emits up to c²/2 pairs as two primitive long
    * arrays (16 B per pair): the all-pass worst case at 2048 is 34 MB per
    * evaluating row (~64 MB transient with builder doubling) — safe even
    * with every executor thread holding a worst-case cell at once, which
    * the r15 cap of 4096 with per-pair boxed struct rows was not (ADVICE
    * r15 sized that at ~1 GB per cell). Beyond the cap the streaming join
    * is the safer shape, and beyond `maxCellSize` the star-collapse guard
    * owns the bucket anyway.
    */
  private[graft] val SemLocalPairMaxCell: Int = 2048

  /** [[semPairsFromAssign]] for `Tools ladder sem-stages` and the
    * path-identity spec (`localPairMaxCell = 0` forces the join path).
    */
  private[graft] def semPairsFromAssignHook(
      asg: DataFrame, threshold: Double,
      maxCellSize: Int = DefaultMaxBucketSize,
      localPairMaxCell: Int = SemLocalPairMaxCell): DataFrame =
    semPairsFromAssign(asg, threshold, maxCellSize, localPairMaxCell)

  /** Intra-cell pairs of an assignment `(id, centroid_id, vec, ...)`:
    * cells up to the local cap pair through the native collected-cell
    * emission, larger cells through [[semPairsJoinPath]].
    *
    * BUILDING the returned frame runs a Spark job: the max-cell-size probe
    * (one K-row scalar job, materializing the assignment checkpoint)
    * decides the route before any plan is returned, so plan-only callers
    * pay it and the route is fixed at build time.
    */
  private def semPairsFromAssign(
      asg: DataFrame, threshold: Double, maxCellSize: Int,
      localPairMaxCell: Int = SemLocalPairMaxCell): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column => natCol, expression => natExpr}
    // LOCAL-CELL PATH (the 100× profile's 62%: the join path's candidate
    // shuffle + two vector join-backs probing a pairs-quadratic table —
    // dev/r15/sem_stage_profile.log): cells under the cap collect once
    // (one wide shuffle of the CORPUS, not of the pair set) and a native
    // expression emits exactly the plain join's passing pairs. Long ids
    // only (every sem caller's shape — the expression's schema is fixed);
    // anything else keeps the join path.
    val localCap = math.min(localPairMaxCell, maxCellSize)
    if (localCap <= 0 ||
        asg.schema("id").dataType != org.apache.spark.sql.types.LongType)
      return semPairsJoinPath(asg, threshold, maxCellSize)
    import Ckpt.CkptOps
    // K rows; checkpointed so the max-cell probe below and the broadcast
    // join (union route only) share ONE counting pass over the assignment
    val sizes = asg.groupBy(col("centroid_id")).agg(count(lit(1)).as("__csz"))
      .lazySerCkpt
    // Build-time max-cell probe (r17 — the q67 inert-branch precedent):
    // when NO cell exceeds the local cap, the banded join path is provably
    // empty, yet its whole subtree (thin-row checkpoint, the guard's
    // windows and disclosure counters, two vector join-backs) stays in the
    // plan and AQE schedules every empty stage as a real job — measured
    // 26 jobs / 1.7 s of pure between-job driver time on q103 whose total
    // stage wall is 0.84 s. One K-row scalar job decides (it materializes
    // the assignment checkpoint that the pair aggregation was about to
    // materialize anyway — no extra corpus pass on either route); cells
    // over the cap keep today's union exactly (A/B:
    // dev/r17/sem_prune_ab.log); the all-zero guard disclosure of an
    // empty join path reads identically to an absent one (reports are
    // nonzero-only — the q67 rule).
    val maxSz = sizes.agg(max(col("__csz"))).first() match {
      case r if r.isNullAt(0) => 0L
      case r => r.getLong(0)
    }
    // the native emission returns two PRIMITIVE long arrays (id1s, id2s);
    // posexplode one and index the other — no per-pair struct rows exist
    // anywhere between the eval and the final thin (id1, id2) projection
    def localPairs(cells: DataFrame): DataFrame = cells
      .groupBy(col("centroid_id"))
      .agg(collect_list(struct(col("id"), col("vec"))).as("__cell"))
      .select(natCol(graft.functions.CosinePairsAbove(
        natExpr(col("__cell")), natExpr(lit(threshold)))).as("__pp"))
      .select(col("__pp.id1s").as("__l"), posexplode(col("__pp.id2s")))
      .select(col("__l").getItem(col("pos")).as("id1"), col("col").as("id2"))
    if (maxSz <= localCap) return localPairs(asg)
    val withSz = asg.join(broadcast(sizes), Seq("centroid_id"))
    val smallPairs = localPairs(withSz.filter(col("__csz") <= localCap))
    // cells past the cap keep the banded machinery — which is exactly
    // where the star-collapse guard (and its disclosure counters) lives
    val big = withSz.filter(col("__csz") > localCap)
      .select(asg.columns.map(col): _*)
    smallPairs.unionByName(semPairsJoinPath(big, threshold, maxCellSize))
  }

  /** The banded-join formulation of the intra-cell pairs — the guard
    * owner (oversized cells star-collapse here with disclosure counters)
    * and the spec-pinned reference for [[graft.functions.CosinePairsAbove]].
    */
  private def semPairsJoinPath(
      asg: DataFrame, threshold: Double, maxCellSize: Int): DataFrame = {
    import graft.functions.Vectors
    val vecs = asg.select(col("id"), col("vec"))
    // thin-row checkpoint before the guard (the embeddingNearDupPairs /
    // embeddingLshBandPairs rule): guardedBandPairs reads `banded` in its
    // oversized/normal/sub branches — materialize the 5 thin columns once
    val banded = asg.select(
      col("id"),
      xxhash64(col("vec")).as("fp"),
      lit(0).as("band"),
      col("centroid_id").as("bucket"),
      // wrapped: short vectors (< GuardSubBits dims) degrade the
      // sub-split, never throw (the embeddingNearDupPairs rule)
      Vectors.signBucketWrapped(col("vec"), GuardSubBits, 0).as("sub"))
      .localCheckpoint(false)
    guardedBandPairs(banded, maxCellSize)
      .join(vecs.toDF("id1", "vec1"), Seq("id1"))
      .join(vecs.toDF("id2", "vec2"), Seq("id2"))
      .withColumn("cos", Vectors.cosine(col("vec1"), col("vec2")))
      .filter(col("cos") > threshold)
      .select("id1", "id2")
  }

  /** SemDeDup survivors: close the [[semDedupPairs]] graph transitively
    * and keep, per duplicate cluster, the member with the LOWEST cosine to
    * its own centroid (the paper's keep-furthest rule; 6-dp-rounded cosine
    * then min id — deterministic and oracle-portable). Unpaired vectors
    * survive as singletons. Returns the surviving ids as `idCol`.
    *
    * The assignment is computed once (lazily checkpointed) and feeds both
    * the pair bucketing and the keep rule — at 100 TB the expensive parts
    * are one broadcast argmax over the corpus and the intra-cell pair
    * join; components run over the pair graph only, and the final
    * survivor pick is one struct-min aggregation per cluster.
    */
  def semDedup(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      threshold: Double,
      maxCellSize: Int = DefaultMaxBucketSize): DataFrame = {
    import Ckpt.CkptOps
    val asg = semAssignPruned(embeddings, idCol, vecCol, centroids).lazySerCkpt
    val comps = connectedComponents(semPairsFromAssign(asg, threshold, maxCellSize))
    asg.join(comps, Seq("id"), "left")
      .withColumn("comp", coalesce(col("comp"), col("id")))
      .groupBy(col("comp"))
      .agg(min(struct(col("cosc"), col("id"))).as("__m"))
      .select(col("__m.id").as(idCol))
  }

  /** Production SemDeDup: centroids learned with KMeans on a bounded
    * deterministic sample (the [[Similarity.ivfTopK]] training budget —
    * ~64 vectors/cell, never the full corpus), K ≈ √n by default, then
    * [[semDedup]]. The learned-centroid step is why this variant is
    * spec-pinned rather than oracle-checked (KMeans is not replayable in
    * SQL); the dedup semantics downstream of the centroid seam are
    * identical to the oracle-checked [[firstKCentroids]] path — q103.
    */
  def semDedupAuto(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      numCentroids: Int = 0,
      seed: Long = 42L,
      maxCellSize: Int = DefaultMaxBucketSize): DataFrame = {
    require(numCentroids == 0 || numCentroids >= 2,
      s"numCentroids must be 0 (derive ~sqrt(n)) or >= 2 (Spark ML KMeans " +
        s"rejects k = 1); got $numCentroids")
    val n = embeddings.select(col(idCol)).count()
    // n < 2: a single vector (or none) has no duplicate to dedup, and
    // KMeans needs k >= 2 training points — survivors are the universe
    if (n < 2L) return embeddings.select(col(idCol))
    val centroids = semCentroidsFor(embeddings, idCol, vecCol, n, numCentroids, seed)
    semDedup(embeddings, idCol, vecCol, centroids, threshold, maxCellSize)
  }

  /** [[semDedupAuto]]'s centroid derivation, exposed for the scale ladder
    * (assignment A/B needs the SAME learned centroids under both the
    * exhaustive and the pruned argmax): K clamped to the embedding
    * universe (ADVICE r14 — an explicit numCentroids, or the sqrt-n floor
    * of 4 on a tiny universe, can exceed n, handing MLlib a
    * k > training-point-count edge path nothing here pins), then the
    * bounded-sample KMeans.
    */
  private[graft] def semCentroidsFor(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      n: Long,
      numCentroids: Int,
      seed: Long): DataFrame = {
    val cells = math.min(
      if (numCentroids > 0) numCentroids else Similarity.autoNumCentroids(n).toLong,
      n).toInt.max(2)
    Similarity.trainCentroids(embeddings, vecCol, cells, n, seed)
  }
}
