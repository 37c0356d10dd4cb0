package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import Ckpt._

/** The composed training-data curation pipeline — the end-to-end shape the
  * individual operators exist for:
  *
  *   1. exact dedup: keep the min-id document per content fingerprint;
  *   2. heuristic quality + language gates ([[TextAnalysis]]);
  *   3. near-dup removal: MinHash-LSH candidates ([[Dedup.minHashLshPairs]])
  *      verified by shingle Jaccard, dropping the higher id of each
  *      confirmed pair (survivorship matches exact dedup's min-id rule);
  *      `transitive = true` instead closes the confirmed-pair graph and
  *      keeps one min-id survivor per near-dup component.
  *
  * Scale shape: stage 1 is one hash-shuffle on the fingerprint; stage 2 is
  * map-only; stage 3's only shuffle is the LSH band join — candidates, not
  * the corpus, pay the pairwise Jaccard cost.
  *
  * ==Choosing a configuration (the four-way matrix)==
  *
  * Measured on the 100× corpus (500 k docs; SCALE_r08/r09; warm sec,
  * same-run pairs where marked †):
  *
  * {{{
  *                      pair-drop            transitive
  *   md5 (default)      q33   277.7          q65   244.9†
  *   hash64             q63    76.0†         q66   114.3†
  * }}}
  *
  * - `hash64 = true` — ALWAYS at scale (2-5× less wall time: long band
  *   keys and hashed verify arrays instead of md5 hex strings/shingle
  *   strings). `false` exists because an offline SQL engine (the DuckDB
  *   oracle) can recompute md5 but not xxhash64 — it is the
  *   verifiability twin, not the production path.
  * - `transitive = true` — whenever survivor IDENTITY matters (training
  *   replicas, dataset diffs across hash families, incremental re-runs):
  *   it closes the confirmed-pair graph (one connectedComponents pass on
  *   pairs, not the corpus) and keeps exactly the min id per near-dup
  *   component, so survivorship does not depend on how pair-drop happens
  *   to walk an incomplete near-dup graph. Cost: the CC rounds, ~+38 s at
  *   100× (+50% on the hash64 path). `false` (pair-drop) is cheaper and
  *   keeps the SAME CONTENT (base docs agree 99.9% at 100×) but WHICH
  *   replica survives varies with graph shape — fine for pure
  *   token-count reduction, wrong if downstream joins on doc id.
  * - What transitive does NOT remove: candidate-set divergence between
  *   hash families (different minhash families sample different marginal
  *   candidates; q66 vs q65 differ on 29 of ~4,350 survivors at 10×).
  *   Within one family it is deterministic and graph-shape-independent.
  * - Production configuration = `pipeline(hash64 = true, transitive =
  *   true)` (q66): full transitive survivorship at 2.1× less wall time
  *   than the md5 family needs for it.
  */
object Curation {

  def pipeline(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minQuality: Double = 0.3,
      languages: Seq[String] = Seq("en", "es", "fr", "de", "zh"),
      shingleLen: Int = 2,
      bands: Int = 4,
      // r=4 (s-curve threshold (1/b)^(1/r) ≈ 0.71, slightly above the 0.6
      // verify bar): r=3 matched the bar more closely but let the corpus'
      // Jaccard≈0.1 similarity floor band-collide at ~4j³ ≈ 0.4% of ALL
      // pairs — at 100× that was ~5·10⁸ candidates each paying the
      // shingle-array verification join (679 s; the verify join, not LSH,
      // is the explosion). r=4 cuts the floor to ~4·10⁻⁵ while j ≥ 0.71
      // near-dups keep ≥ 97% recall; candidates stay proportional to honest
      // duplicate content, which is what a 100 TB corpus requires.
      rowsPerBand: Int = 4,
      jaccardThreshold: Double = 0.6,
      // hash64 = the 100 TB path (same twin structure as q17→q61): one
      // xxhash64 per shingle + affine permutations replaces bands*rows+2
      // md5s per shingle, the banded table shuffles 8-byte longs instead of
      // 32-char hex, and the Jaccard verification join carries hashed
      // long arrays instead of shingle strings (equal Jaccard up to 64-bit
      // collisions). The md5 form stays the default because the DuckDB
      // oracle can recompute it; pair sets differ only via hash randomness.
      hash64: Boolean = false,
      // transitive = close the confirmed-pair graph with
      // [[Dedup.connectedComponents]] and keep ONE survivor (min id) per
      // near-dup component. The default pair-drop rule removes the higher
      // id of each confirmed pair, which leaves multiple survivors when a
      // cluster's near-dup graph is incomplete (observed at 100×: ~125 of
      // ~4.3k replica clusters kept >1 survivor, and WHICH extras survive
      // differs between hash families). Transitive closure makes
      // survivorship graph-shape- and hash-family-independent at the cost
      // of the CC rounds; pair-drop stays the default for oracle parity
      // (a recursive closure is what made q45's oracle need union-find).
      transitive: Boolean = false): DataFrame = {
    val id = col(idCol)
    val text = col(textCol)

    // 1+2. exact-dedup winners via [[Dedup.exactSurvivors]] — one
    // min_by(struct, id) aggregate on the fingerprint: partial aggregation
    // collapses duplicate groups (even a 10^8-copy degenerate one) to one
    // candidate per map task before the single exchange (see the operator's
    // doc for the SortAggregate physical shape). The quality/language gates
    // then run on the winners only — semantically identical to gating every
    // row (only winners survive either way) but the tokenizing regexes
    // evaluate once per distinct fingerprint instead of once per raw
    // document.
    // Spread the exact-dedup winners to core width BEFORE the gates: the
    // min_by aggregate's output is byte-small (1.2 MB at sf0.1), so AQE
    // coalesces it to ONE task — and everything downstream of it is
    // compute-dense per byte (quality/langid regexes here; the MinHash
    // signature stage reads the checkpoint at the same width and pays
    // bands·rows+2 hashes per shingle — measured 0.6 s + 1.4 s single-task
    // warm inside q73, r17 stage table). The repair is one thin exchange
    // of the winner rows; at production scale the aggregate output is
    // already wide and [[Spread.forCpu]] no-ops. Win measured by
    // interleaved A/B (OPTIMIZATION_r17.md; dev/r17/cur_spread_ab.log).
    val gatedPlan = Spread
      .forCpu(Dedup.exactSurvivors(docs, TextAnalysis.fingerprint(text), idCol), id)
      .filter(TextAnalysis.qualityScore(text) >= minQuality &&
        TextAnalysis.languageId(text).isin(languages.map(x => x: Any): _*))

    // LAZY localCheckpoint, not cache: the gated corpus feeds LSH candidate
    // generation, Jaccard verification, AND the final anti-join — the
    // checkpoint materializes once inside the first consumer's job and every
    // later consumer reads the blocks, but unlike a session cache entry it
    // is reclaimed with the plan (repeated pipeline runs cannot accumulate
    // corpus-sized cached tables that bill unrelated queries for the memory).
    val gated = gatedPlan.lazySerCkpt

    // 3. LSH candidates -> Jaccard-verified near-dups -> drop higher ids.
    // The corpus is shingled ONCE: the same shingle arrays feed MinHash
    // candidate generation and both sides of the Jaccard verification join,
    // so the whole pipeline is a single action with every intermediate
    // materialized exactly once (lazy checkpoint).
    val confirmedPairs =
      if (hash64) {
        // One projection computes signature + hashed verify arrays from one
        // shingling pass; only (id, sig: (b*r+2) longs, hsh: longs) is
        // checkpointed — the shingle strings never leave the projection.
        val prepped = gated
          .select(id.as("__sid"), Dedup.wordShingles(text, shingleLen).as("__sh"))
          .select(col("__sid"),
            Dedup.minHashSignature64(col("__sh"),
              bands * rowsPerBand + Dedup.GuardSubRows).as("__sig"),
            Dedup.xxhash64Array(col("__sh")).as("__hsh"))
          .lazySerCkpt
        val candidates = Dedup.minHashLshPairs64FromSig(
          prepped.select("__sid", "__sig"), "__sid", "__sig", bands, rowsPerBand)
        candidates
          .join(prepped.select(col("__sid").as("id1"), col("__hsh").as("__sh1")), "id1")
          .join(prepped.select(col("__sid").as("id2"), col("__hsh").as("__sh2")), "id2")
          .filter(Dedup.jaccard(col("__sh1"), col("__sh2")) >= jaccardThreshold)
          .select("id1", "id2")
      } else {
        val shingled = gated.select(id.as("__sid"),
          Dedup.wordShingles(text, shingleLen).as("__sh")).lazySerCkpt
        val candidates = Dedup.minHashLshPairsFromShingles(shingled, "__sid", "__sh",
          bands, rowsPerBand)
        candidates
          .join(shingled.withColumnRenamed("__sid", "id1").withColumnRenamed("__sh", "__sh1"), "id1")
          .join(shingled.withColumnRenamed("__sid", "id2").withColumnRenamed("__sh", "__sh2"), "id2")
          .filter(Dedup.jaccard(col("__sh1"), col("__sh2")) >= jaccardThreshold)
          .select("id1", "id2")
      }

    // Survivor rule: pair-drop removes the higher id of each confirmed pair
    // (min-id rule, locally); transitive closes the graph first so each
    // component keeps exactly its min id — docs in no confirmed pair are
    // absent from both drop sets and always survive.
    val dropped =
      if (transitive)
        Dedup.connectedComponents(confirmedPairs)
          .filter(col("id") =!= col("comp"))
          .select(col("id").as(idCol))
      else
        // NOT distinct: the only consumer is the LEFT ANTI below, an
        // existence test for which duplicate drop ids are inert — the
        // distinct() was one whole extra exchange + aggregate
        confirmedPairs.select(col("id2").as(idCol))

    gated.join(dropped, Seq(idCol), "left_anti")
  }
}
