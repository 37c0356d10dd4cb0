package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** Parallelism repair for compute-dense-per-byte map stages (guide §2.5
  * "input skew" / §1.2 step 1): a heavy per-row expression pass over a
  * byte-small corpus inherits the SCAN's partitioning — at bench scale
  * `documents.parquet` is 0.57 MB, one split, so the whole map stage runs
  * on ONE core of 32 (measured: q109's 5-gram stage, 4.2 s single-task
  * cold, `dev/r16b/q109_stages.log`).
  *
  * The repair is a hash repartition by the row's own id — a thin shuffle
  * of the raw (id, text) rows — applied ONLY when the input's partition
  * count is below half the cluster's core parallelism. The gate keeps it
  * scale-adaptive rather than deployment-tuned: at production scale the
  * scan itself supplies hundreds of splits, the condition is false, and
  * no payload shuffle is added (shuffling heavy text bytes that are
  * already parallel would violate guide §2.3).
  *
  * MEASURED SCOPE (interleaved warm A/B, `dev/r16b/spread_ab2.log`): the
  * win exists only where the per-row expression is genuinely heavy — the
  * substring-dedup window build + span rebuild keep it (q71 1.19 vs
  * 2.28 s, q70/q73/q75 each better). Plain tokenize/shingle + explode
  * stages REJECTED it: warm they are ~0.3-0.5 s single-task and the extra
  * repartition stages cost more than they recover (q92 +0.44, q106
  * +0.86, q67 +0.6 s) — cold-start JIT was most of the single-task wall
  * that motivated the idea, and the bench's warmup pass absorbs that.
  *
  * Hash-by-id (never round-robin): deterministic under task retry
  * (SPARK-38388 class of bugs), and REPARTITION_BY_NUM is exempt from
  * AQE coalescing, so the width survives into the compute stage. Target =
  * `sparkContext.defaultParallelism`, NOT SQLConf.numShufflePartitions —
  * with AQE coalescing on the latter reports initialPartitionNum (8×
  * cores here) and pinning it makes every downstream checkpoint-reading
  * stage 256 near-empty tasks (measured q67 11.2 vs 9.3 s warm).
  * Partitioning cannot change any caller's semantics — every consumer is
  * a keyed aggregation/join downstream.
  */
private[graft] object Spread {

  def forCpu(df: DataFrame, key: Column): DataFrame = {
    // CORE parallelism, NOT SQLConf.numShufflePartitions: with AQE
    // coalescing on, the latter reports initialPartitionNum (8× cores
    // here), and REPARTITION_BY_NUM pins that count un-coalesced — 256
    // near-empty tasks per downstream stage whose pure task overhead
    // cost MORE than the single-task stage being repaired (measured, q67:
    // 11.2 s vs 9.3 s warm). A CPU-bound stage wants exactly the core
    // count.
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (probeWidth(df, target) * 2 < target) df.repartition(target, key)
    else df
  }

  /** Execution-free width estimate (ADVICE r16): the previous probe was
    * `df.rdd.getNumPartitions`, and under AQE `Dataset.rdd` forces
    * AdaptiveSparkPlanExec to materialize every upstream shuffle/broadcast
    * stage as real jobs — work that is NOT reused by the later consuming
    * action, so an uncheckpointed input could execute 2+ extra times at
    * exactly the production scale where the gate is documented to no-op.
    * Instead, read the width off the plan's LEAVES without executing
    * anything: a checkpoint leaf (LogicalRDD) knows its partition count as
    * pure metadata, and a file/local relation's split count is estimated
    * from its stats size at the session's split size. Narrow ops preserve
    * leaf width; shuffled ops land at an AQE-coalesced width that tracks
    * the same data size the leaf estimate reflects — and taking the MAX
    * across leaves errs toward "already wide enough", i.e. toward NOT
    * adding a shuffle, which is the scale-safe direction.
    */
  private def probeWidth(df: DataFrame, target: Int): Int = {
    val maxSplit = df.sparkSession.sessionState.conf.filesMaxPartitionBytes
    val leaves = df.queryExecution.optimizedPlan.collectLeaves()
    if (leaves.isEmpty) 1
    else leaves.map {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.getNumPartitions
      case leaf =>
        val bytes = leaf.stats.sizeInBytes
        ((bytes + maxSplit - 1) / maxSplit).min(BigInt(target)).toInt
    }.max
  }
}
