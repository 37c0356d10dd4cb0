package graft.validate

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.GraftFunctions
import graft.operators.Relational

/** The reference's 14-check validation suite
  * (`scripts/validate_migration.py`, SURVEY.md §3.3) as reusable DataFrame
  * checks. Each returns a [[CheckResult]]; `graft.Validate.run` is the
  * `MigrationValidator.run` equivalent.
  */
final case class CheckResult(name: String, passed: Boolean, detail: String)

object Checks {

  /** Check 1 — count parity with tolerance (`validate_migration.py:50-131`,
    * thresholds `:105-110`).
    */
  def countParity(name: String, source: Long, target: Long, minRatio: Double): CheckResult = {
    val ratio = if (source == 0) 1.0 else target.toDouble / source
    CheckResult(name, ratio >= minRatio, f"$target/$source = ${ratio * 100}%.1f%%")
  }

  /** Check 3 — distinct-set containment (`:174-232`): every child key set is
    * contained in the parent's.
    */
  def setContainment(name: String, child: DataFrame, parent: DataFrame, key: String)
      : CheckResult = {
    val missing = child.select(key).distinct()
      .except(parent.select(key).distinct()).count()
    CheckResult(name, missing == 0, s"$missing orphaned distinct keys")
  }

  /** Check 4 — UUID5 oracle recomputation (`:234-270`): stored room ids must
    * equal uuid5(mongo_id) recomputed independently.
    */
  def uuid5Oracle(name: String, df: DataFrame, mongoIdCol: String, uuidCol: String)
      : CheckResult = {
    val mismatches = df
      .filter(GraftFunctions.uuid5(col(mongoIdCol)) =!= col(uuidCol)).count()
    CheckResult(name, mismatches == 0, s"$mismatches uuid5 mismatches")
  }

  /** Check 5 — lookup-table cardinality equalities (`:272-402`). */
  def cardinalityEquals(name: String, a: Long, b: Long): CheckResult =
    CheckResult(name, a == b, s"$a vs $b")

  /** Check 7 — URL-rewrite sweep (`:451-539`): no target url may still carry
    * the legacy bucket prefix.
    */
  def urlRewriteSweep(name: String, df: DataFrame, urlCols: Seq[String]): CheckResult = {
    val bad = urlCols.map(c =>
      df.filter(col(c).startsWith("gs://sibci")).count()).sum
    CheckResult(name, bad == 0, s"$bad un-rewritten legacy urls")
  }

  /** Check 8 — absence of filtered message types (`:541-566`). */
  def absence(name: String, df: DataFrame, predicate: Column): CheckResult = {
    val n = df.filter(predicate).count()
    CheckResult(name, n == 0, s"$n rows matching a filtered-out predicate")
  }

  /** Check 10 — FK anti-join integrity over all declared pairs (`:594-641`). */
  def fkIntegrity(
      name: String,
      child: DataFrame,
      parent: DataFrame,
      childFk: String,
      parentPk: String): CheckResult = {
    val orphans = Relational.orphans(
      child.filter(col(childFk).isNotNull), parent, childFk, parentPk).count()
    CheckResult(name, orphans == 0, s"$orphans orphaned FK rows")
  }

  /** Check 11 — docs-hierarchy invariants (`:643-756`): folder references
    * resolve and specialRole implies isPrivate (`:717-730`).
    */
  def implication(name: String, df: DataFrame, antecedent: Column, consequent: Column)
      : CheckResult = {
    val violations = df.filter(antecedent && !consequent).count()
    CheckResult(name, violations == 0, s"$violations implication violations")
  }

  /** Check 12 — business-rule sample: phone `+` prefix rate in the
    * wide-column users (`:769-782`).
    */
  def ratioAtLeast(name: String, df: DataFrame, predicate: Column, minRatio: Double)
      : CheckResult = {
    val total = df.count()
    val hits = df.filter(predicate).count()
    val ratio = if (total == 0) 1.0 else hits.toDouble / total
    CheckResult(name, ratio >= minRatio, f"$hits/$total = ${ratio * 100}%.1f%%")
  }

  /** Check 2 — schema presence probes (`validate_migration.py:133-172`):
    * every expected column exists in the target frame.
    */
  def schemaPresence(name: String, df: DataFrame, expected: Seq[String]): CheckResult = {
    val missing = expected.filterNot(df.columns.contains)
    CheckResult(name, missing.isEmpty,
      if (missing.isEmpty) s"all ${expected.size} columns present"
      else s"missing: ${missing.mkString(", ")}")
  }

  /** Check 6 — flag-derived counts (`validate_migration.py:404-449`): the
    * number of target rows carrying a derived flag equals the number of
    * source rows carrying the originating condition.
    */
  def flagDerivedCount(
      name: String,
      source: DataFrame,
      sourcePredicate: Column,
      target: DataFrame,
      targetPredicate: Column): CheckResult = {
    val s = source.filter(sourcePredicate).count()
    val t = target.filter(targetPredicate).count()
    CheckResult(name, s == t, s"source=$s target=$t")
  }

  /** Check 9 — soft-delete spot check (`validate_migration.py:568-592`):
    * anonymized rows must carry their tombstone columns and no PII.
    */
  def softDeleteConsistency(
      name: String,
      df: DataFrame,
      deletedPredicate: Column,
      mustBeSet: Seq[String],
      mustBeBlank: Seq[String]): CheckResult = {
    val bad = df.filter(deletedPredicate &&
      (mustBeSet.map(c => col(c).isNull).reduceOption(_ || _).getOrElse(lit(false)) ||
        mustBeBlank.map(c => col(c).isNotNull && col(c) =!= "")
          .reduceOption(_ || _).getOrElse(lit(false)))).count()
    CheckResult(name, bad == 0, s"$bad inconsistent soft-deleted rows")
  }

  /** Check 13 — transformation spot check on a bounded sample
    * (`validate_migration.py:874-986`): every sampled row satisfies the
    * transformed-shape predicate.
    */
  def sampleSpotCheck(
      name: String,
      df: DataFrame,
      predicate: Column,
      sampleSize: Int = 100): CheckResult = {
    val sample = df.limit(sampleSize)
    val total = sample.count()
    val ok = sample.filter(predicate).count()
    CheckResult(name, ok == total, s"$ok/$total sampled rows conform")
  }

  /** Layout check — within-partition clustering order
    * (`backups/create_scylla_database.cql` WITH CLUSTERING ORDER clauses):
    * reading a [[graft.sink.CqlLayouts]]-written table back file-by-file,
    * every file's rows must already be in the declared clustering order —
    * the property Cassandra's storage engine guarantees per partition.
    *
    * Mechanics: the file-source `_metadata` column provides the exact
    * (file_path, row_index) position of every row — stable even when a
    * large file is split across several scan partitions, where a
    * `monotonically_increasing_id` ordering would interleave splits (scan
    * partitions are packed by size, not file offset). `df` must therefore
    * be a direct file scan (e.g. `spark.read.parquet(dir)`). A
    * lag-comparison partitioned by file counts order violations;
    * `clustering` is (column, ascending), lexicographic.
    */
  def clusteringOrder(
      name: String,
      df: DataFrame,
      clustering: Seq[(String, Boolean)]): CheckResult = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("__file")).orderBy(col("__pos"))
    val keys = clustering.map(_._1)
    val withPrev = df
      .select(col("_metadata.file_path").as("__file"),
        col("_metadata.row_index").as("__pos"),
        struct(keys.map(col): _*).as("__k"))
      .withColumn("__prev", lag(col("__k"), 1).over(w))
      .filter(col("__prev").isNotNull)
    // lexicographic "prev comes no later than current" under the per-column
    // directions: prev must not sort strictly after cur
    val violated = clustering.indices.map { i =>
      val earlier = clustering.take(i).map { case (c, _) =>
        col(s"__prev.$c") <=> col(s"__k.$c") }
        .reduceOption(_ && _).getOrElse(lit(true))
      val (c, ascending) = clustering(i)
      val outOfOrder =
        if (ascending) col(s"__prev.$c") > col(s"__k.$c")
        else col(s"__prev.$c") < col(s"__k.$c")
      earlier && outOfOrder
    }.reduce(_ || _)
    val bad = withPrev.filter(violated).count()
    CheckResult(name, bad == 0, s"$bad clustering-order violations")
  }

  /** Layout check — a key-sorted table (a [[graft.sink.CqlLayouts]] entry
    * without clustering columns, one row per key): every key is in exactly
    * one file, and every file's rows ascend by key, so a key lookup reads
    * one file and prunes on its row-group min/max. `df` must be a direct
    * file scan, as for [[clusteringOrder]].
    */
  def keySortedFiles(name: String, df: DataFrame, keys: Seq[String]): CheckResult = {
    val split = df.groupBy(keys.map(col): _*)
      .agg(countDistinct(col("_metadata.file_path")).as("files"))
      .filter(col("files") > 1).count()
    val order = clusteringOrder(name, df, keys.map(_ -> true))
    CheckResult(name, split == 0 && order.passed, s"$split keys in several files, ${order.detail}")
  }

  /** Check 14 — weighted verdict (`validate_migration.py:988-1043`): the
    * suite passes when every critical check passes and the overall pass
    * rate clears the bar.
    */
  def verdict(
      checks: Seq[CheckResult],
      critical: Set[String] = Set.empty,
      minPassRate: Double = 1.0): (Boolean, String) = {
    val criticalFailed = checks.filter(c => critical.contains(c.name) && !c.passed)
    val rate = if (checks.isEmpty) 1.0
      else checks.count(_.passed).toDouble / checks.size
    val summary = checks.map(c =>
      s"${if (c.passed) "PASS" else "FAIL"} ${c.name}: ${c.detail}").mkString("\n")
    val ok = criticalFailed.isEmpty && rate >= minPassRate
    (ok, summary + f"\nverdict: pass_rate=${rate * 100}%.1f%% critical_failures=${criticalFailed.size}")
  }
}
