package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's join/id/denormalization operators (SURVEY.md §2.4–§2.8),
  * re-expressed as set-oriented Spark plans.
  *
  * Design rules for 100 TB:
  *   - dimension lookups are **broadcast** joins (the reference's in-memory
  *     id caches are exactly a hand-rolled broadcast hash join — reference
  *     `etl/utils/id_mapper.py:22-92`);
  *   - fact↔fact joins stay shuffle joins and lean on AQE for skew;
  *   - global sequences ([[sequentialIds]]) are quarantined to dim-sized
  *     inputs — fact tables get deterministic hash ids (uuid5/timeuuid)
  *     precisely so no global ordering is ever needed at scale.
  */
object Relational {

  /** J1-J5 — FK resolution: translate a source key to the dimension's id by
    * broadcast left join. `dim` must be dimension-sized (it is collected to
    * every executor).
    */
  def resolveFk(
      fact: DataFrame,
      dim: DataFrame,
      factKey: String,
      dimKey: String,
      dimId: String,
      as: String): DataFrame = {
    val d = dim.select(col(dimKey).as("__fk_key"), col(dimId).as(as))
    fact.join(broadcast(d), fact(factKey) === col("__fk_key"), "left").drop("__fk_key")
  }

  /** J6 — many-to-many explode: unnest an array of references and resolve
    * both endpoints; composite traceability key `parent_item`
    * (reference `etl/orchestrator.py:1002-1104`, key at `:1076`).
    */
  def explodeManyToMany(
      parents: DataFrame,
      parentId: String,
      arrayCol: String,
      itemAs: String): DataFrame =
    parents
      .select(col(parentId), explode(col(arrayCol)).as(itemAs))
      .withColumn("link_key", concat_ws("_", col(parentId), col(itemAs)))

  /** W1/A6/U4 — top-1 per group with a total (deterministic) order: the
    * reference's "last message per room" cache
    * (`etl/orchestrator.py:1266-1276`), and dedup by key (unlike
    * `dropDuplicates`, whose survivor is arbitrary). `order` must be a
    * total order — callers pass tie-breakers.
    */
  def topOnePerGroup(df: DataFrame, partitionBy: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(partitionBy.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Top-N per group (generalized [[topOnePerGroup]]); keeps the rank as
    * `__rnk` for callers that need it.
    */
  def topOnePerGroupN(
      df: DataFrame,
      partitionBy: Seq[String],
      order: Seq[Column],
      n: Int): DataFrame = {
    val w = Window.partitionBy(partitionBy.map(col): _*).orderBy(order: _*)
    df.withColumn("__rnk", row_number().over(w)).filter(col("__rnk") <= n)
  }

  /** K3/W2 — global sequential ids continued from an offset. Uses a
    * single-partition window: acceptable for dimension tables only (the
    * reference does the same for users/roles —
    * `etl/utils/cassandra_id_mapper.py:257-267`); fact tables must use
    * uuid5/timeuuid instead.
    */
  def sequentialIds(dim: DataFrame, orderKey: String, as: String, offset: Long = 0L): DataFrame =
    dim.withColumn(as, row_number().over(Window.orderBy(col(orderKey))) + offset)

  /** J8 — bidirectional pair lookup: groups with exactly two members emit
    * both orderings (the reference's `p2p_room_by_users` build —
    * `etl/orchestrator.py:1130-1233`).
    */
  def bidirectionalPairs(
      membership: DataFrame,
      groupCol: String,
      memberCol: String): DataFrame = {
    // distinct-then-aggregate instead of countDistinct-with-min/max: the
    // mixed distinct/plain aggregate plans an Expand that doubles every row
    // through the shuffle; two thin map-side-combined aggregations move less
    val two = membership
      .select(col(groupCol), col(memberCol))
      .distinct()
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("__n"),
        min(col(memberCol)).as("m1"),
        max(col(memberCol)).as("m2"))
      .filter(col("__n") === 2)
      .drop("__n")
    two.select(col(groupCol), col("m1").as("member_a"), col("m2").as("member_b"))
      .unionByName(two.select(col(groupCol), col("m2").as("member_a"), col("m1").as("member_b")))
  }

  /** J12/U3 — referential-integrity anti-join: child rows whose FK has no
    * parent (`scripts/validate_migration.py:594-641`). The parent key is
    * re-aliased so child and parent may share lineage (self-referential FKs
    * like docs.onFolder → docs.id would otherwise trip the ambiguous-
    * self-join check). The anti-join only tests that a parent key exists,
    * so duplicate parent keys need no `distinct()` first.
    */
  def orphans(child: DataFrame, parent: DataFrame, childFk: String, parentPk: String)
      : DataFrame = {
    val parentKeys = parent.select(col(parentPk).as("__orphan_pk"))
    child.join(parentKeys, child(childFk) === col("__orphan_pk"), "left_anti")
  }

  /** J10 — overwrite-by-join: refresh a subset of columns in `target` from
    * `updates` (the reference's post-migration UPDATE pass —
    * `etl/orchestrator.py:1409-1471`). Columns present in `updates` (beyond
    * the keys) replace the target's values when a match exists.
    */
  def overwriteByJoin(target: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame = {
    val updateCols = updates.columns.filterNot(keys.contains)
    val renamed = updateCols.foldLeft(updates)((d, c) => d.withColumnRenamed(c, s"__u_$c"))
    val joined = target.join(renamed, keys, "left")
    updateCols
      .foldLeft(joined)((d, c) =>
        d.withColumn(c, coalesce(col(s"__u_$c"), col(c))))
      .drop(updateCols.map(c => s"__u_$c"): _*)
  }

  /** As-of join — the time-series operator Spark lacks natively: each left
    * row gets the LATEST right payload with `rightTime <= leftTime` on the
    * same key (equal times match). Composed from existing ops, not a range
    * cross-join: both sides union into one frame, one shuffle on the key,
    * one `last(_, ignoreNulls)` window pass carries the payload forward —
    * right rows sort before left rows at equal timestamps so they are
    * visible to them. Cost is a single sort-shuffle of |L|+|R| thin rows
    * regardless of time-range width.
    *
    * Right rows must be unique per (key, time) — pre-aggregate if not
    * (ties would otherwise resolve by partition order). Left rows need no
    * uniqueness: equal-time left rows see the same carried payload.
    *
    * Output: the left columns plus `asof` (struct of `payload` columns,
    * null when no right row precedes).
    */
  /** Range join — point-in-interval containment (`leftTime ∈ [start, end)`)
    * without the cross-join Spark would otherwise plan for an inequality
    * condition. Both sides discretize onto `bucketWidth`-sized buckets:
    * points map to one bucket, intervals explode to the buckets they span,
    * the equi-join on the bucket collides only candidates within one width
    * of each other, and the exact predicate filters the edges. Work is
    * |points| + Σ(interval span / width) rows through one hash shuffle —
    * pick `bucketWidth` near the typical interval length (≈1 bucket per
    * interval; a too-small width multiplies the explode, a too-large one
    * the candidates).
    *
    * Output: all left columns plus the interval side's columns.
    */
  def rangeJoin(
      points: DataFrame,
      pointTime: String,
      intervals: DataFrame,
      startCol: String,
      endCol: String,
      bucketWidth: Long): DataFrame = {
    val w = lit(bucketWidth)
    val p = points.withColumn("__bucket", floor(col(pointTime) / w))
    val iv = intervals.withColumn("__bucket",
      explode(sequence(floor(col(startCol) / w), floor((col(endCol) - 1) / w))))
    p.join(iv, Seq("__bucket"))
      .filter(col(pointTime) >= col(startCol) && col(pointTime) < col(endCol))
      .drop("__bucket")
  }

  /** Interval COUNT without pair expansion. [[rangeJoin]] + `count` is
    * correct but its intermediate is one row per (point, interval) match —
    * on corpora where interval density grows with volume (monitoring
    * windows over a fixed time span: 10× the events AND 10× the windows in
    * the same wall-clock span) that stream grows quadratically while the
    * final counts stay linear (measured at 100×: q42 292 s warm vs 4.4 s
    * at 10×). When the aggregate is a count, the pairs never need to
    * exist: `|[s,e)| = below(e) - below(s)` with
    * `below(t) = #points with time < t`, computed by a bucketed sweep —
    *   1. union points (`__ind=1`) and interval boundaries (`__ind=0`)
    *      into one stream, bucketed on `floor(t / bucketWidth)`;
    *   2. per-bucket point totals, exclusive-prefix-summed over the TINY
    *      bucket-stats table (one row per bucket, broadcast back);
    *   3. one window per bucket, ordered `(t, boundary-first)`, running-
    *      summing `__ind`: at a boundary row the running sum is exactly
    *      the in-bucket points strictly below `t` (equal-time points sort
    *      after the boundary, so `[start, end)` half-openness is free);
    *   4. `below = prefix + local`; one groupBy(id) takes `E − S`.
    * Work is O((|points| + |intervals|) · log bucket) through ONE shuffle
    * at ANY density — the plan a 100 TB monitoring corpus needs. Parity
    * with `rangeJoin + groupBy count` (inner-join form): intervals with no
    * points are omitted; interval ids must be unique.
    */
  def intervalCount(
      points: DataFrame,
      pointTime: String,
      intervals: DataFrame,
      idCol: String,
      startCol: String,
      endCol: String,
      bucketWidth: Long): DataFrame = {
    val idType = intervals.select(col(idCol)).schema.head.dataType
    val pts = points.select(
      col(pointTime).cast("long").as("__t"), lit(1L).as("__ind"),
      lit(null).cast(idType).as("__id"), lit("P").as("__kind"))
    val bounds = intervals.select(
      col(idCol).as("__iid"), col(startCol).cast("long").as("__s"),
      col(endCol).cast("long").as("__e"))
    def boundary(t: Column, kind: String) =
      bounds.select(t.as("__t"), lit(0L).as("__ind"), col("__iid").as("__id"),
        lit(kind).as("__kind"))
    val mixed = pts
      .unionByName(boundary(col("__s"), "S"))
      .unionByName(boundary(col("__e"), "E"))
      .withColumn("__bucket", floor(col("__t") / lit(bucketWidth)))
    // exclusive prefix of point counts over the bucket-stats table: one row
    // per occupied bucket (time span / width — metadata-sized), so the
    // single-partition global window here never sees data rows
    val wTiny = Window.orderBy(col("__bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefix = mixed.groupBy("__bucket").agg(sum("__ind").as("__pc"))
      .withColumn("__before", coalesce(sum(col("__pc")).over(wTiny), lit(0L)))
      .select("__bucket", "__before")
    // boundaries sort before equal-time points (__ind 0 < 1), so the
    // running sum AT a boundary row counts in-bucket points with t' < t
    val wBucket = Window.partitionBy(col("__bucket"))
      .orderBy(col("__t"), col("__ind"))
      .rowsBetween(Window.unboundedPreceding, 0)
    mixed
      .withColumn("__local", sum(col("__ind")).over(wBucket))
      .filter(col("__kind") =!= "P")
      .join(broadcast(prefix), Seq("__bucket"))
      .withColumn("__below", col("__before") + col("__local"))
      .groupBy(col("__id").as(idCol))
      .agg((max(when(col("__kind") === "E", col("__below")))
          - max(when(col("__kind") === "S", col("__below")))).as("n_points"))
      .filter(col("n_points") > 0)
  }

  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTime: String,
      rightTime: String,
      payload: Seq[String]): DataFrame = {
    val pay = struct(payload.map(col): _*)
    val payType = right.select(pay.as("__p")).schema("__p").dataType
    val leftRow = struct(left.columns.map(col): _*)
    val leftType = left.select(leftRow.as("__l")).schema("__l").dataType
    val l = left.select(
      col(key).as("__k"), col(leftTime).as("__t"),
      lit(null).cast(payType).as("__p"), lit(0).as("__side"), leftRow.as("__l"))
    val r = right.select(
      col(key).as("__k"), col(rightTime).as("__t"),
      pay.as("__p"), lit(1).as("__side"), lit(null).cast(leftType).as("__l"))
    val w = Window.partitionBy(col("__k"))
      .orderBy(col("__t").asc, col("__side").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r)
      .withColumn("__asof", last(col("__p"), ignoreNulls = true).over(w))
      .filter(col("__side") === 0)
      .select(col("__l.*"), col("__asof").as("asof"))
  }
}
