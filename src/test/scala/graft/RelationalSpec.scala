package graft

import org.apache.spark.sql.functions._

import graft.operators.Relational

/** J1–J12 / K3 / U4 structural operators on hand-built frames with known
  * answers (miss→null FK, tie-broken top-1, exactly-2 pair emission, …).
  */
class RelationalSpec extends SparkSpecBase {
  import spark.implicits._

  test("resolveFk: broadcast left join, misses stay null") {
    val fact = Seq(("a", 1), ("b", 2), ("zz", 3)).toDF("k", "v")
    val dim = Seq(("a", 10L), ("b", 20L)).toDF("mongo_id", "id")
    val out = Relational.resolveFk(fact, dim, "k", "mongo_id", "id", "fk")
      .orderBy("v").collect()
    assert(out.map(r => if (r.isNullAt(2)) -1L else r.getLong(2)).toSeq === Seq(10L, 20L, -1L))
  }

  test("topOnePerGroup: deterministic under ties via tie-break column") {
    val df = Seq((1, "x", 5), (1, "y", 5), (1, "z", 3), (2, "q", 9)).toDF("g", "tag", "score")
    val out = Relational.topOnePerGroup(df, Seq("g"),
      Seq(col("score").desc, col("tag").asc)).orderBy("g").collect()
    assert(out.map(_.getString(1)).toSeq === Seq("x", "q"))
  }

  test("sequentialIds: dense, offset, ordered by key") {
    val out = Relational.sequentialIds(Seq("c", "a", "b").toDF("k"), "k", "sid", 100L)
      .orderBy("sid").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1))).toSeq
      === Seq(("a", 101L), ("b", 102L), ("c", 103L)))
  }

  test("bidirectionalPairs: only exactly-2 groups, both orderings") {
    val m = Seq((1, "u1"), (1, "u2"), (2, "u1"), (3, "u1"), (3, "u2"), (3, "u3"),
      (4, "u5"), (4, "u5")).toDF("room", "user")
    val out = Relational.bidirectionalPairs(m, "room", "user")
      .orderBy("room", "member_a").collect()
    // room 1: two members -> 2 rows; room 2: one member; room 3: three; room 4: dup single
    assert(out.map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq
      === Seq((1, "u1", "u2"), (1, "u2", "u1")))
  }

  test("orphans: anti-join finds FK violations only") {
    val child = Seq((1, "p1"), (2, "p2"), (3, "p9")).toDF("id", "fk")
    val parent = Seq(("p1", 1), ("p2", 2)).toDF("pk", "x")
    val out = Relational.orphans(child, parent, "fk", "pk").collect()
    assert(out.map(_.getInt(0)).toSeq === Seq(3))
  }

  test("orphans ≡ the anti-join against distinct parent keys; FK checks with duplicate parent keys") {
    import graft.validate.Checks
    val child = Seq((1, Some("p1")), (2, Some("p2")), (3, Some("p9")), (4, None), (5, Some("p9")))
      .toDF("id", "fk")
    val parent = Seq(("p1", 1), ("p1", 2), ("p2", 3), ("p2", 3), (null, 4)).toDF("pk", "x")
    // the formulation before the parent's distinct() was dropped
    val oracle = child.join(parent.select(col("pk").as("__pk")).distinct(),
      col("fk") === col("__pk"), "left_anti")
    val out = Relational.orphans(child, parent, "fk", "pk")
    assert(out.columns.toSeq === oracle.columns.toSeq)
    assert(out.orderBy("id").collect().toSeq === oracle.orderBy("id").collect().toSeq)
    assert(out.orderBy("id").collect().map(_.getInt(0)).toSeq === Seq(3, 4, 5))
    val fk = Checks.fkIntegrity("fk", child, parent, "fk", "pk")
    assert(fk.detail === "2 orphaned FK rows" && !fk.passed)
    // self-referential: a child frame and its parent of the same lineage
    val docs = Seq((1, 0), (2, 1), (3, 1), (4, 9)).toDF("id", "onFolder")
    val self = Checks.fkIntegrity("self", docs.filter(col("onFolder") =!= 0),
      docs.union(docs), "onFolder", "id")
    assert(self.detail === "1 orphaned FK rows")
  }

  test("setContainment ≡ distinct EXCEPT: nulls and duplicates on either side") {
    import graft.validate.Checks
    def keys(ks: Option[String]*) = ks.toDF("k")
    val a = Some("a"); val b = Some("b"); val c = Some("c")
    val cases = Seq(
      (keys(a, a, b, None, None, c, c), keys(a, a, b)), // null and c orphaned, each once
      (keys(a, None, None), keys(None, a, None)), // null matches null
      (keys(None), keys(a)),
      (keys(a, b), keys(b, b, a, None)),
      (keys(), keys(a)),
      (keys(a, a), keys()))
    val counts = cases.map { case (child, parent) =>
      // the formulation before the null-safe anti-join
      val except = child.select("k").distinct().except(parent.select("k").distinct()).count()
      val r = Checks.setContainment("contain", child, parent, "k")
      assert(r.detail === s"$except orphaned distinct keys")
      assert(r.passed === (except == 0))
      except
    }
    assert(counts === Seq(2L, 0L, 1L, 0L, 0L, 1L))
    // the same frame on both sides, as a lookup checked against its source
    val same = keys(a, None, b)
    assert(Checks.setContainment("same", same, same, "k").detail === "0 orphaned distinct keys")
  }

  test("overwriteByJoin: updated columns replace, unmatched keep originals") {
    val target = Seq((1, "old1", 10.0), (2, "old2", 20.0)).toDF("id", "seg", "bal")
    val updates = Seq((1, "new1")).toDF("id", "seg")
    val out = Relational.overwriteByJoin(target, updates, Seq("id")).orderBy("id").collect()
    assert(out.map(_.getString(1)).toSeq === Seq("new1", "old2"))
    assert(out.map(_.getDouble(2)).toSeq === Seq(10.0, 20.0))
  }

  test("explodeManyToMany: composite link key per element") {
    val df = Seq(("u1", Seq("p1", "p2")), ("u2", Seq.empty[String])).toDF("uid", "refs")
    val out = Relational.explodeManyToMany(df, "uid", "refs", "ref")
      .orderBy("link_key").collect()
    assert(out.map(_.getString(2)).toSeq === Seq("u1_p1", "u1_p2")) // empty array drops out
  }

  test("topOnePerGroup keeps the smallest order value deterministically") {
    val df = Seq(("k", 3, "c"), ("k", 1, "a"), ("k", 2, "b"), ("j", 9, "z")).toDF("k", "o", "tag")
    val out = Relational.topOnePerGroup(df, Seq("k"), Seq(col("o").asc)).orderBy("k").collect()
    assert(out.map(_.getString(2)).toSeq === Seq("z", "a"))
  }

  test("rangeJoin: [start, end) containment, bucket-width independent") {
    val points = Seq((1L, 5L), (2L, 10L), (3L, 19L), (4L, 20L), (5L, 35L)).toDF("id", "t")
    val ivs = Seq(("A", 10L, 20L), ("B", 30L, 40L)).toDF("iv", "s", "e")
    for (width <- Seq(3L, 7L, 100L)) { // incl. deliberately unaligned + oversized
      val out = Relational.rangeJoin(points, "t", ivs, "s", "e", width)
        .select("id", "iv").collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(out === Set((2L, "A"), (3L, "A"), (5L, "B")),
        s"width=$width") // start inclusive, end exclusive, no cross matches
    }
  }

  test("intervalCount: boundary semantics, zero-count omission, width independence") {
    // points AT an interval start are in; AT the end are out; "B" is empty
    // and must be absent (inner-join parity with rangeJoin + count)
    val points = Seq(1L, 10L, 15L, 19L, 20L, 20L, 35L).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    val ivs = Seq(("A", 10L, 20L), ("B", 21L, 30L), ("C", 30L, 40L)).toDF("iv", "s", "e")
    for (width <- Seq(3L, 7L, 10L, 100L)) {
      val out = Relational.intervalCount(points, "t", ivs, "iv", "s", "e", width)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(out === Set(("A", 3L), ("C", 1L)), s"width=$width")
    }
  }

  test("intervalCount matches rangeJoin + count on randomized dense input") {
    // dense ties (t drawn from a small range) exercise the boundary-first
    // ordering inside buckets; parity with the pair-expansion form is the
    // operator's contract
    val rnd = new scala.util.Random(42)
    val points = (1 to 500).map(i => (i.toLong, rnd.nextInt(100).toLong)).toDF("id", "t")
    val ivs = (1 to 60).map { i =>
      val s = rnd.nextInt(100).toLong
      (i.toLong, s, s + 1 + rnd.nextInt(20))
    }.toDF("iv", "s", "e")
    val expected = Relational.rangeJoin(points, "t", ivs, "s", "e", 8L)
      .groupBy("iv").count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Relational.intervalCount(points, "t", ivs, "iv", "s", "e", 8L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === expected)
  }

  test("rangeJoin plans an equi-join, never a nested-loop scan") {
    val points = Seq((1L, 5L)).toDF("id", "t")
    val ivs = Seq(("A", 0L, 10L)).toDF("iv", "s", "e")
    val plan = Relational.rangeJoin(points, "t", ivs, "s", "e", 10L)
      .queryExecution.executedPlan.toString
    // a raw inequality join would plan BroadcastNestedLoopJoin/Cartesian —
    // O(|points|·|intervals|) compares; the bucket key must carry the join
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"), plan)
  }

  test("asofJoin: latest at-or-before right row wins; no predecessor → null") {
    val quotes = Seq((1L, 10L, "q10"), (1L, 20L, "q20"), (2L, 50L, "q50"))
      .toDF("key", "t", "quote")
    val trades = Seq((1L, 5L, "early"), (1L, 10L, "attime"), (1L, 25L, "late"),
      (2L, 49L, "before"), (3L, 7L, "nokey"))
      .toDF("key", "t", "tag")
    val out = Relational.asofJoin(trades, quotes, "key", "t", "t", Seq("quote"))
      .select(col("tag"), col("asof.quote").as("q"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out === Map(
      "early" -> null,     // no quote at or before t=5
      "attime" -> "q10",   // equal timestamp matches
      "late" -> "q20",     // latest preceding, not first
      "before" -> null,    // other key's quotes invisible
      "nokey" -> null))
  }
}
