package graft.validate

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{And, BoundReference, EqualNullSafe,
  Expression, GreaterThan, JoinedRow, LessThan, Or, Predicate, SubqueryExpression,
  UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project, SubqueryAlias}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.GraftFunctions
import graft.operators.{Ckpt, Relational}

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
    * contained in the parent's. Counts the distinct child keys that no
    * parent key matches, null matching null as in `EXCEPT`: one null-safe
    * (`<=>`) left-anti join, then a distinct count of what it keeps. No
    * distinct runs before the join, which only tests existence.
    */
  def setContainment(name: String, child: DataFrame, parent: DataFrame, key: String)
      : CheckResult = {
    val missing = child.select(key)
      .join(parent.select(col(key).as("__parent_key")), col(key) <=> col("__parent_key"),
        "left_anti")
      .distinct().count()
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
    // one aggregate over every column; a column's count is its filter's count
    val bad = urlCols.map(c => count(when(col(c).startsWith("gs://sibci"), 1)))
      .reduceOption(_ + _).fold(0L)(n => df.agg(n).head().getLong(0))
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
    * wide-column users (`:769-782`). One aggregate counts the rows and the
    * rows where `predicate` is true.
    */
  def ratioAtLeast(name: String, df: DataFrame, predicate: Column, minRatio: Double)
      : CheckResult = {
    val (total, hits) = countAndHits(df, predicate)
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
    * transformed-shape predicate. One aggregate over the sample counts both
    * numbers, so they describe the same sampled rows.
    */
  def sampleSpotCheck(
      name: String,
      df: DataFrame,
      predicate: Column,
      sampleSize: Int = 100): CheckResult = {
    val (total, ok) = countAndHits(df.limit(sampleSize), predicate)
    CheckResult(name, ok == total, s"$ok/$total sampled rows conform")
  }

  /** (rows, rows where `predicate` is true) of `df` in one aggregate; a null
    * predicate counts as false, as in `filter`.
    */
  private def countAndHits(df: DataFrame, predicate: Column): (Long, Long) = {
    val r = df.agg(count(lit(1)), count(when(predicate, 1))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Layout check — within-partition clustering order
    * (`backups/create_scylla_database.cql` WITH CLUSTERING ORDER clauses):
    * reading a [[graft.sink.CqlLayouts]]-written table back file-by-file,
    * every file's rows must already be in the declared clustering order —
    * the property Cassandra's storage engine guarantees per partition.
    * `clustering` is (column, ascending), lexicographic. A violation is a
    * row that sorts strictly before the row present just before it in the
    * same file: the earlier columns compare equal null-safe (`<=>`) and
    * the compared column is out of order; a null there is no violation.
    * A filtered `df` compares the rows that are present.
    *
    * Mechanics: one job, no shuffle. The file-source `_metadata` column
    * gives each row its file, the start of the scan split that read it and
    * its `row_index` in the file. A scan split delivers one file's rows in
    * `row_index` order, so each task compares every row with its
    * predecessor and sends the driver only, per split, its first and last
    * keys and its violation count. The driver sorts each file's splits by
    * their first `row_index` and compares the last row of one with the
    * first of the next — a large file split across scan partitions, or
    * several small files packed into one, read as whole files. `df` must
    * therefore be a direct file scan (e.g. `spark.read.parquet(dir)`,
    * optionally filtered); anything else fails a `require`.
    */
  def clusteringOrder(
      name: String,
      df: DataFrame,
      clustering: Seq[(String, Boolean)]): CheckResult = {
    requireFileScan(name, df)
    val scan = df.select(Seq(col("_metadata.file_path"), col("_metadata.file_block_start"),
      col("_metadata.row_index")) ++ clustering.map { case (c, _) => col(c) }: _*)
    val width = clustering.size
    val types = scan.schema.fields.drop(3).map(_.dataType)
    // over JoinedRow(prev keys, current keys): prev must not sort strictly
    // after current under the per-column directions
    def prev(i: Int) = BoundReference(i, types(i), nullable = true)
    def cur(i: Int) = BoundReference(width + i, types(i), nullable = true)
    val violated: Expression = clustering.indices.map { i =>
      val outOfOrder: Expression =
        if (clustering(i)._2) GreaterThan(prev(i), cur(i)) else LessThan(prev(i), cur(i))
      (0 until i).map(j => EqualNullSafe(prev(j), cur(j)): Expression)
        .foldRight(outOfOrder)(And(_, _))
    }.reduce(Or(_, _))
    val keyRefs = types.indices.map(i => BoundReference(3 + i, types(i), nullable = true))
    val splits = Ckpt.inExecution(scan, "collect")(_.mapPartitions { rows =>
      val keysOf = UnsafeProjection.create(keyRefs)
      val violates = Predicate.create(violated)
      val pair = new JoinedRow
      val out = mutable.ArrayBuffer.empty[Split]
      var file: UTF8String = null
      var block, start, bad = 0L
      var first, last: UnsafeRow = null
      def flush(): Unit = if (last != null) out += Split(file.toString, start, first, last, bad)
      rows.foreach { r =>
        val k = keysOf(r).copy()
        if (last == null || r.getLong(1) != block || r.getUTF8String(0) != file) {
          flush()
          file = r.getUTF8String(0).clone(); block = r.getLong(1); start = r.getLong(2)
          first = k; bad = 0L
        } else if (violates.eval(pair(last, k))) bad += 1
        last = k
      }
      flush()
      out.iterator
    }.collect())
    val violates = Predicate.create(violated)
    val seams = splits.groupBy(_.file).values.map { s =>
      s.sortBy(_.start).sliding(2).count {
        case Array(a, b) => violates.eval(new JoinedRow(a.last, b.first))
        case _ => false
      }
    }.sum
    val bad = splits.map(_.violations).sum + seams
    CheckResult(name, bad == 0, s"$bad clustering-order violations")
  }

  /** One scan split's rows of one file, as [[clusteringOrder]]'s tasks
    * report them: the `row_index` of its first row, its first and last
    * keys, and the order violations between its own rows.
    */
  private final case class Split(
      file: String, start: Long, first: UnsafeRow, last: UnsafeRow, violations: Long)

  /** Fails unless `df` reads one file source through filters and
    * projections only — the frames whose `_metadata` positions and scan
    * order [[clusteringOrder]] and [[keySortedFiles]] rely on.
    */
  private def requireFileScan(name: String, df: DataFrame): Unit = {
    val plan = df.queryExecution.analyzed
    val others = plan.collect {
      case _: Filter | _: Project | _: SubqueryAlias => Nil
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] => Nil
      case p => Seq(p.nodeName)
    }.flatten ++
      plan.find(_.expressions.exists(SubqueryExpression.hasSubquery)).map(_ => "a subquery")
    require(others.isEmpty, s"$name: the layout checks read `_metadata` file positions in " +
      "scan order, so the frame must be a direct file scan (spark.read.parquet(dir), " +
      s"optionally filtered), but its plan has ${others.distinct.mkString(", ")}")
  }

  /** Layout check — a key-sorted table (a [[graft.sink.CqlLayouts]] entry
    * without clustering columns, one row per key): every key is in exactly
    * one file, and every file's rows ascend by key, so a key lookup reads
    * one file and prunes on its row-group min/max. The key→file count is a
    * `groupBy`; the order half is [[clusteringOrder]]'s pass. `df` must be
    * a direct file scan, as for [[clusteringOrder]].
    */
  def keySortedFiles(name: String, df: DataFrame, keys: Seq[String]): CheckResult = {
    val order = clusteringOrder(name, df, keys.map(_ -> true))
    val split = df.groupBy(keys.map(col): _*)
      .agg(countDistinct(col("_metadata.file_path")).as("files"))
      .filter(col("files") > 1).count()
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
