package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Dedup family: exact, MinHash-LSH recall on a known near-dup, SimHash
  * locality, Jaccard algebra.
  */
class DedupSpec extends SparkSpecBase {
  import spark.implicits._

  private val docA = "the quick brown fox jumps over the lazy dog again and again"
  private val docB = "the quick brown fox jumps over the lazy cat again and again" // 1-word edit
  private val docC = "completely unrelated content about spark query engines at scale"

  test("exact: groups identical fingerprints, keeps min id") {
    val df = Seq((1L, "Hello  World"), (2L, "hello world"), (3L, "different")).toDF("id", "text")
    val out = Dedup.exact(df, md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))), "id")
      .orderBy("keep_id").collect()
    assert(out.map(r => (r.getLong(1), r.getLong(2))).toSeq === Seq((1L, 2L), (3L, 1L)))
  }

  test("exactSurvivors keeps the full min-id row per key, one per group") {
    val df = Seq((1L, "Hello  World", "a"), (2L, "hello world", "b"), (3L, "different", "c"))
      .toDF("id", "text", "payload")
    val out = Dedup.exactSurvivors(df,
        md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))), "id")
      .orderBy("id").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 3L))
    assert(out.map(_.getString(2)).toSeq === Seq("a", "c")) // full rows survive
  }

  test("exactSurvivors collapses a degenerate duplicate group map-side (skew fixture)") {
    // 100k rows, ONE fingerprint holding ~99.95% of them (the boilerplate-
    // page pathology) spread over 8 map partitions. The proof of skew-safety
    // is per-shuffle ROW COUNTS, not wall time: the partial aggregate must
    // emit at most (map partitions × distinct keys) rows — the degenerate
    // group collapses to one candidate per map task BEFORE the exchange.
    val n = 100000L
    val distinctTail = 50L
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false") // static plan exposes metrics
    try {
      val df = spark.range(n).select(col("id"),
        when(col("id") < n - distinctTail, lit("boilerplate page"))
          .otherwise(concat(lit("unique "), col("id"))).as("text"))
        .repartition(8)
      val out = Dedup.exactSurvivors(df, md5(col("text")), "id")
      // collect() executes THIS Dataset's queryExecution — count()/orderBy()
      // would build separate plans and leave out.queryExecution's metrics
      // at zero, making the assertions below vacuous
      val rows = out.collect()
      assert(rows.length === distinctTail + 1)
      // min-id winner of the degenerate group survives with its full row
      val winner = rows.minBy(_.getLong(0))
      assert(winner.getLong(0) === 0L && winner.getString(1) === "boilerplate page")

      val plan = out.queryExecution.executedPlan
      val partialRows = plan.collect {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
            if a.aggregateExpressions.exists(
              _.mode == org.apache.spark.sql.catalyst.expressions.aggregate.Partial) =>
          a.metrics("numOutputRows").value
      }.sum
      assert(partialRows <= 8 * (distinctTail + 1),
        s"partial aggregate leaked $partialRows rows into the shuffle — map-side collapse broken")
      // exactly ONE key-hash exchange (the fixture's round-robin repartition aside)
      val keyExchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if e.outputPartitioning.isInstanceOf[
              org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
      }
      assert(keyExchanges.size === 1, s"expected one key exchange, got ${keyExchanges.size}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("chunkDedup drops repeated spans, keeps first occurrence, reassembles") {
    val docs = Seq(
      (1L, "a b c d e f"),     // chunks: "a b c", "d e f" — both first
      (2L, "a b c x y z"),     // "a b c" repeats doc1 -> dropped
      (3L, "a b c"),           // entire doc is a repeat -> empty survivor
      (4L, ""),                // empty text: one "" chunk, globally unique
      (5L, "p q r p q r"),     // intra-doc repeat -> second chunk dropped
      (6L, null)               // null text ≡ empty — the row must SURVIVE
    ).toDF("doc_id", "text")
    val out = Dedup.chunkDedup(docs, "doc_id", "text", k = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.length === 6)
    assert(out(0) === ((1L, 2L, 2L, "a b c d e f")))
    assert(out(1) === ((2L, 2L, 1L, "x y z")))
    assert(out(2) === ((3L, 1L, 0L, "")))
    assert(out(3) === ((4L, 1L, 1L, "")))
    assert(out(4) === ((5L, 2L, 1L, "p q r")))
    assert(out(5) === ((6L, 1L, 0L, ""))) // doc 4 already owns the "" chunk

    // scale shape: winners return via a LEFT OUTER join on the UNIQUE
    // packed rank (the flag drives one combined reassembly aggregate) —
    // never a join on the chunk hash, whose distribution is exactly as
    // skewed as the boilerplate being removed
    val plan = Dedup.chunkDedup(docs, "doc_id", "text", k = 3)
      .queryExecution.optimizedPlan.toString
    assert(plan.toLowerCase.contains("join leftouter, (__rank"),
      s"expected a left join keyed on the packed rank:\n$plan")
  }

  test("native word chunks are bit-identical to the transform/slice formulation") {
    val rng = new scala.util.Random(99)
    val alphabet = "ab \t\nc€字 d "
    val fuzz = Seq.fill(80)(
      Seq.fill(rng.nextInt(50))(alphabet(rng.nextInt(alphabet.length))).mkString)
    val samples = Seq("a b c d e f g h i j", "", " ", "\tlead", "trail\t",
      "one", "a  b   c", "exactly eight words in this tiny test here", null) ++ fuzz
    for (k <- Seq(1, 3, 8)) {
      val df = samples.toDF("text").select(
        {
          import org.apache.spark.sql.GraftColumnBridge
          GraftColumnBridge.column(graft.functions.WordChunksExpr(
            GraftColumnBridge.expression(coalesce(col("text").cast("string"), lit(""))), k))
        }.as("native"),
        Dedup.wordChunksColumns(col("text"), k).as("interp"))
      df.collect().zip(samples).foreach { case (r, s) =>
        assert(r.getSeq[String](0) === r.getSeq[String](1), s"k=$k mismatch on '$s'")
      }
    }
  }

  test("native word windows are bit-identical to the transform/slice formulation") {
    val rng = new scala.util.Random(101)
    val alphabet = "ab \t\nc€字 d "
    val fuzz = Seq.fill(80)(
      Seq.fill(rng.nextInt(50))(alphabet(rng.nextInt(alphabet.length))).mkString)
    val samples = Seq("a b c d e f g h i j", "", " ", "\tlead", "trail\t",
      "one", "a  b   c", "exactly eight words in this tiny test here", null) ++ fuzz
    for (k <- Seq(1, 3, 8)) {
      val df = samples.toDF("text").select(
        {
          import org.apache.spark.sql.GraftColumnBridge
          GraftColumnBridge.column(graft.functions.WordWindowsExpr(
            GraftColumnBridge.expression(coalesce(col("text").cast("string"), lit(""))), k))
        }.as("native"),
        // sequence(0, n-k) DESCENDS when n < k (and ANSI slice throws on
        // start 0), so the interpreted form needs the emptiness guard the
        // native expression builds in
        expr(s"""CASE WHEN size(split(trim(coalesce(text, '')), '\\\\s+')) >= $k
             THEN transform(
               sequence(0, size(split(trim(coalesce(text, '')), '\\\\s+')) - $k),
               i -> array_join(slice(split(trim(coalesce(text, '')), '\\\\s+'), i + 1, $k), ' '))
             ELSE array() END""")
          .as("interp"))
      df.collect().zip(samples).foreach { case (r, s) =>
        assert(r.getSeq[String](0) === r.getSeq[String](1), s"k=$k mismatch on '$s'")
      }
    }
  }

  test("duplicatedSpans: global-first survives, spans merge, within-doc repeats count") {
    // doc 1 owns the first occurrence of the repeated sentence (8 tokens);
    // doc 2 contains it twice (both marked — cross-doc dup), at positions
    // 2 and 10: windows 2..10 all duplicated? no — only the exact 8-token
    // windows that repeat corpus-wide mark, i.e. pos 2 and pos 10, which
    // are k apart and merge into ONE contiguous span of 16 tokens.
    val sent = "alpha bravo charlie delta echo foxtrot golf hotel"
    // a second 8-token sequence duplicated ONLY inside doc 3: its global
    // first is within the same doc (min pos survives, the later marks) —
    // the within-doc branch of the survivor rule, which the cross-doc
    // fixture alone never exercises
    val inner = "india juliet kilo lima mike november oscar papa"
    val docs = Seq(
      1L -> s"unique lead-in words here then $sent",
      2L -> s"aa bb $sent $sent zz",
      3L -> s"cc $inner dd ee ff gg hh ii jj kk $inner"
    ).toDF("doc_id", "text")
    val out = Dedup.duplicatedSpans(docs, "doc_id", "text", k = 8)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // doc 1: its window at pos 5 is the global first (min doc) -> survives,
    // doc 1 reports nothing; doc 2: positions 2 and 10 marked, gap == k
    // -> one merged span covering [2, 18) = 16 tokens; doc 3: inner at
    // pos 1 (first, survives) and pos 17 (marked) -> one span [17, 25) =
    // 8 tokens
    assert(out === Array((2L, 1L, 16L), (3L, 1L, 8L)))
  }

  test("removeDuplicatedSpans deletes marked ranges, keeps the global first copy") {
    val sent = "alpha bravo charlie delta echo foxtrot golf hotel"
    val docs = Seq(
      1L -> s"unique lead-in words here then $sent",
      2L -> s"aa bb $sent $sent zz",
      3L -> "completely different filler content with no repeated sequences at all today"
    ).toDF("doc_id", "text")
    val out = Dedup.removeDuplicatedSpans(docs, "doc_id", "text", k = 8)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
    // doc 1 holds the surviving copy — untouched (canonicalized); doc 2's
    // merged span [2, 18) deletes both copies of the sentence; doc 3 clean
    assert(out(0) === ((1L, s"unique lead-in words here then $sent")))
    assert(out(1) === ((2L, "aa bb zz")))
    assert(out(2) === ((3L,
      "completely different filler content with no repeated sequences at all today")))
  }

  test("markedSpans hash prefilter: filtered and unfiltered routes are " +
      "row-identical on a randomized duplicated corpus (r17 gate)") {
    // the prefilter prunes hash-unique window occurrences before the
    // string aggregation — provably exact (equal strings share a hash;
    // collision groups fall out of the string-count filter), pinned here
    // on a corpus with cross-doc, within-doc, and overlapping duplication
    val rnd = new scala.util.Random(17)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh", "ii")
    val sent = (1 to 9).map(i => s"w$i").mkString(" ")
    val docs = ((1L to 30L).map { i =>
      val base = Seq.fill(rnd.nextInt(25) + 5)(vocab(rnd.nextInt(vocab.length)))
      val txt = if (i % 3 == 0) s"${base.mkString(" ")} $sent" else base.mkString(" ")
      (i, txt)
    } :+ (31L, s"$sent $sent")).toDF("doc_id", "text")
    def arm(pre: Boolean) = (
      Dedup.duplicatedSpans(docs, "doc_id", "text", k = 8, hashPrefilter = pre)
        .orderBy("doc_id").collect().toSeq,
      Dedup.removeDuplicatedSpans(docs, "doc_id", "text", k = 8, hashPrefilter = pre)
        .orderBy("doc_id").collect().toSeq)
    val (on, off) = (arm(pre = true), arm(pre = false))
    assert(on._1 === off._1)
    assert(on._2 === off._2)
    assert(on._1.nonEmpty) // the fixture really has duplicated spans
  }

  test("jaccard: 1 for identical sets, 0 for disjoint, symmetric in between") {
    val df = Seq((docA, docA), (docA, docC), (docA, docB)).toDF("a", "b")
      .select(Dedup.jaccard(
        array_distinct(split(col("a"), " ")), array_distinct(split(col("b"), " "))).as("j"))
    val j = df.collect().map(_.getDouble(0))
    assert(j(0) === 1.0)
    assert(j(1) < 0.1)
    assert(j(2) > 0.7 && j(2) < 1.0)
  }

  test("minhash-lsh: near-identical docs collide, unrelated docs do not") {
    val docs = Seq((1L, docA), (2L, docB), (3L, docC)).toDF("doc_id", "text")
    val pairs = Dedup.minHashLshPairs(docs, "doc_id", "text",
      shingleLen = 2, bands = 8, rowsPerBand = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)))
  }

  test("minhash signature: equal inputs give equal signatures, stable across runs") {
    val df = Seq(docA, docA).toDF("text")
      .select(Dedup.minHashSignature(Dedup.wordShingles(col("text"), 2), 8).as("sig"))
    val sigs = df.collect().map(_.getSeq[String](0))
    assert(sigs(0) === sigs(1))
    assert(sigs(0).size === 8)
  }

  test("minhash64 signature matches an independent reimplementation") {
    // Re-derive the one-hash-plus-affine-permutations construction in plain
    // Scala over the SAME shingle set, so the expression's wiring (seed,
    // constant derivation, unsigned min, skip-null, sentinel) is pinned
    // against something that shares none of its code paths.
    val k = 6
    // Explicit shingle arrays: shingling semantics are WordShinglesExpr's
    // own contract, pinned elsewhere — here only the signature is on trial.
    val rows = Seq(
      (1L, Seq("the quick", "quick brown", "brown fox")),
      (2L, Seq("the quick", "quick brown", "brown cat")),
      (3L, Seq("unrelated content", "content entirely")),
      (4L, Seq.empty[String]))
    val got = rows.toDF("doc_id", "sh")
      .select(col("doc_id"), Dedup.minHashSignature64(col("sh"), k).as("sig"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1)))
    def mix(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    def expected(shingles: Seq[String]): Seq[Long] = {
      val mins = Array.fill(k)(-1L)
      shingles.foreach { s =>
        val b = s.getBytes("UTF-8")
        val h = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashUnsafeBytes(b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
            b.length, 42L)
        (0 until k).foreach { i =>
          val v = (mix(2L * i) | 1L) * h + mix(2L * i + 1L)
          if (java.lang.Long.compareUnsigned(v, mins(i)) < 0) mins(i) = v
        }
      }
      mins.toSeq
    }
    rows.foreach { case (id, sh) =>
      assert(got(id.toInt - 1)._2 === expected(sh), s"doc $id")
    }
    assert(got(3)._2 === Seq.fill(k)(-1L)) // empty array → unsigned-max sentinel
    // different shingle sets must not collapse to identical signatures
    assert(got(0)._2 != got(1)._2)
  }

  test("minhash64-lsh: near-identical docs collide, unrelated docs do not") {
    val docs = Seq((1L, docA), (2L, docB), (3L, docC)).toDF("doc_id", "text")
    val pairs = Dedup.minHashLshPairs64(docs, "doc_id", "text",
      shingleLen = 2, bands = 8, rowsPerBand = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)))
  }

  test("simhash: near-dups differ in few bits, unrelated docs in many") {
    val df = Seq((docA, docB), (docA, docC)).toDF("a", "b")
      .select(Dedup.hammingBits(
        Dedup.simHashBits(col("a"), 32), Dedup.simHashBits(col("b"), 32)).as("d"))
    val d = df.collect().map(_.getInt(0))
    assert(d(0) < d(1))
    assert(d(0) <= 8)
  }

  test("simHash64 and rolling-hash hamming helpers are deterministic") {
    val df = Seq(docA, docA).toDF("text")
      .select(Dedup.simHash64(col("text")).as("h"))
    val h = df.collect().map(_.getLong(0))
    assert(h(0) === h(1))
  }

  test("native simHash64 is bit-identical to the interpreted HOF formulation") {
    // covers tokenization edges: plain text, 1 token, empty string, leading/
    // trailing spaces (trim strips 0x20 only), interior tabs/newlines
    // (split on \s+), unicode, and repeated separators
    val rng = new scala.util.Random(42)
    val alphabet = "ab \t\n€字e " // whitespace-rich, multi-byte
    val fuzz = Seq.fill(50)(
      Seq.fill(rng.nextInt(30))(alphabet(rng.nextInt(alphabet.length))).mkString)
    val samples = Seq(docA, docB, docC, "single", "", "  padded  ",
      "tab\tseparated\ttokens", "line\nbreaks here", "ünïcodé tökens 漢字",
      "a  b   c", " ") ++ fuzz
    val df = samples.toDF("text").select(
      Dedup.simHash64(col("text")).as("native"),
      Dedup.simHash64Hof(col("text")).as("hof"))
    df.collect().zip(samples).foreach { case (r, s) =>
      assert(r.getLong(0) === r.getLong(1), s"mismatch for input '$s'")
    }
  }

  test("embeddingNearDupPairs shuffles thin (id, bucket) rows, never vectors") {
    def vec(seed: Int) = (0 until 16).map(i => (((seed * 31 + i) % 7) - 3).toFloat).toArray
    val emb = (0L until 100L).map(i => (i, vec(i.toInt % 20))).toDF("id", "vec")
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false") // static plan exposes exchanges
    try {
      val pairs = Dedup.embeddingNearDupPairs(emb, "id", "vec", signBits = 3, threshold = 0.999)
      val exchanges = pairs.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      // the candidate self-join exchange (the one keyed on the bucket) must
      // not carry a wide embedding column — that was the 100 TB defect
      exchanges.foreach { e =>
        val names = e.output.map(_.name)
        assert(!(names.contains("bucket") && names.exists(_.startsWith("vec"))),
          s"candidate shuffle carries vectors: $names")
      }
      assert(pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet.contains((0L, 20L)))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("connectedComponents refuses to return unconverged labels") {
    // a 4-chain needs >1 round even with pointer jumping; maxIter = 1 must
    // fail loudly instead of silently returning wrong component labels.
    // preContract = false: the union-find pre-contraction would collapse a
    // 5-node chain inside one partition, which is exactly what this test
    // must bypass to exercise the non-convergence guard
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("id1", "id2")
    intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIter = 1, preContract = false)
    }
  }

  test("connectedComponents: pre-contraction ≡ direct loop on randomized graphs") {
    // the contraction passes must never change the partition into
    // components — only the edge count the global loop sees. Randomized
    // (seeded) graphs over a sparse id space exercise chains, stars,
    // merged stars, and singleton-free density extremes across partitions.
    val rnd = new scala.util.Random(4242L)
    for (trial <- 0 until 3) {
      val n = 200 + trial * 150
      val edges = Seq.tabulate(n) { i =>
        // sparse id space so components form chains ACROSS partitions;
        // every ~10th edge is a SELF pair (ADVICE r16: the contract is
        // "every node that appears in pairs gets a label", and self-pair
        // nodes exercise the contraction's self-loop re-emission)
        val a = rnd.nextInt(120).toLong * 7L
        val b = if (i % 10 == 0) a else rnd.nextInt(120).toLong * 7L
        (a, b)
      } :+ (9001L, 9001L) // guaranteed self-pair-ONLY node, isolated id
      val pairs = edges.toDF("id1", "id2").repartition(8)
      // localClosureMaxEdges = 0 forces the contraction + loop route (the
      // r16 scale gate would otherwise close these small graphs in one
      // single-task union-find job)
      val fast = Dedup.connectedComponents(pairs, localClosureMaxEdges = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val slow = Dedup.connectedComponents(pairs, preContract = false).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // the default call takes the single-task local closure — all three
      // routes must agree (the gate steers cost, never the partition)
      val local = Dedup.connectedComponents(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(fast === slow, s"trial $trial: contraction changed components")
      assert(local === slow, s"trial $trial: local closure changed components")
    }
  }

  test("embeddingNearDupPairs on an empty corpus returns an empty pair set") {
    val emb = Seq.empty[(Long, Array[Float])].toDF("id", "vec")
    assert(Dedup.embeddingNearDupPairs(emb, "id", "vec").count() === 0L)
  }

  test("decontamination flags exactly the docs sharing a benchmark n-gram") {
    val bench = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "prefix alpha beta gamma delta suffix"), // contains the 4-gram
      (2L, "alpha beta delta gamma reordered here"), // same words, no 4-gram
      (3L, "completely different content entirely")).toDF("doc_id", "text")
    val result = Dedup.contaminatedIds(corpus, bench, "doc_id", "text", n = 4)
    val hit = result.collect().map(_.getLong(0)).toSet
    assert(hit === Set(1L))
    // scale shape: the corpus grams must reach the semi-join WITHOUT a
    // shuffle — benchmark grams broadcast (eval sets are dims by nature)
    val plan = result.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"benchmark grams must broadcast into a semi-join:\n$plan")
  }

  test("charShingles produce distinct n-length grams") {
    val out = Seq("abcd").toDF("t")
      .select(Dedup.charShingles(col("t"), 2)).head().getSeq[String](0)
    assert(out === Seq("ab", "bc", "cd"))
  }

  test("autoSignBits: bucket count grows with the corpus, bounded bucket size") {
    // doubling the corpus adds a bit — expected bucket size stays ≈ target,
    // so within-bucket comparison work stays linear in n (not n²/2^const)
    assert(Dedup.autoSignBits(1000) < Dedup.autoSignBits(100000))
    assert(Dedup.autoSignBits(100000) < Dedup.autoSignBits(100000000))
    for (n <- Seq(1000L, 1000000L, 1000000000L)) {
      val bits = Dedup.autoSignBits(n, targetBucketSize = 64, maxBits = 24)
      val expectedBucket = n.toDouble / math.pow(2.0, bits)
      assert(bits == 24 || expectedBucket <= 64.0,
        s"n=$n bits=$bits expected=$expectedBucket")
    }
    assert(Dedup.autoSignBits(10) === 1)            // floor
    assert(Dedup.autoSignBits(Long.MaxValue) === 24) // cap
  }

  test("embeddingNearDupPairs default derives bits from the corpus") {
    def vec(seed: Int) = (0 until 16).map(i => (((seed * 31 + i) % 7) - 3).toFloat).toArray
    val emb = (0L until 300L).map(i => (i, vec(i.toInt % 50))).toDF("id", "vec")
    // default (auto) must still find exact-duplicate vectors as near-dups
    val pairs = graft.operators.Dedup
      .embeddingNearDupPairs(emb, "id", "vec", threshold = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 50L))) // identical vectors collide in any bucketing
    // and the derived width matches the pure formula: 300/64 → 3 bits
    assert(Dedup.autoSignBits(300) === 3)
  }

  test("connectedComponents: chains collapse transitively to the min id") {
    // a-b, b-c chain (a~c never emitted) + separate pair (10,11)
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id1", "id2")
    val comp = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("bucket guard: 100k-copy degenerate fingerprint yields a linear star, not n² pairs") {
    // The r4 weak mark: one boilerplate bucket of n docs fed the plain
    // band self-join n(n-1)/2 pairs (5·10^9 here — the test could not even
    // run). With the guard the oversized bucket collapses by exact
    // fingerprint to a spanning star around the min id: n-1 pairs, every
    // join in the plan linear in the banded table.
    val n = 100000L
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false") // static plan exposes metrics
    try {
      val clones = spark.range(n)
        .select(col("id"), lit("the same boilerplate page body repeated verbatim").as("text"))
      val normals = Seq((n, docA), (n + 1, docB), (n + 2, docC)).toDF("id", "text")
      val docs = clones.unionByName(normals)
      val pairs = Dedup.minHashLshPairs(docs, "id", "text",
        shingleLen = 2, bands = 4, rowsPerBand = 2)
      val rows = pairs.collect()
      // n-1 star pairs from the degenerate bucket + the (docA, docB) near-dup
      assert(rows.length === (n - 1 + 1).toInt)
      val stars = rows.filter(_.getLong(1) < n)
      assert(stars.length === (n - 1).toInt && stars.forall(_.getLong(0) === 0L),
        "degenerate cluster must collapse to a star around its min id")
      assert(rows.exists(r => r.getLong(0) === n && r.getLong(1) === n + 1))
      // no dominant task: every join's output is linear in the banded table
      // (bands × docs rows), nowhere near the n²/2 the unguarded join emits
      val joinRows = pairs.queryExecution.executedPlan.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
          j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      }
      assert(joinRows.forall(_ <= 5L * n),
        s"a join emitted a super-linear row count: $joinRows")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("bucket guard inactive on normal data: pair set identical to the unguarded join") {
    val docs = Seq((1L, docA), (2L, docB), (3L, docC),
      (4L, docA + " extra"), (5L, "more unrelated text with other words entirely"))
      .toDF("doc_id", "text")
    def pairsWith(max: Int) = Dedup.minHashLshPairs(docs, "doc_id", "text",
      shingleLen = 2, bands = 8, rowsPerBand = 2, maxBucketSize = max)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // Int.MaxValue disables the guard entirely — the default-guarded output
    // must match it exactly when no bucket is oversized
    assert(pairsWith(Dedup.DefaultMaxBucketSize) === pairsWith(Int.MaxValue))
  }

  test("bucket guard on embeddings: identical-vector cluster stars, all pairs cosine-gated") {
    def base = (0 until 8).map(_.toFloat + 1f).toArray
    val clones = (0L until 1000L).map(i => (i, base))
    val other = Seq((1000L, base.map(-_)), (1001L, base.map(x => -x - 1f)))
    val emb = (clones ++ other).toDF("id", "vec")
    val pairs = Dedup.embeddingNearDupPairs(emb, "id", "vec",
        signBits = 2, threshold = 0.99, maxBucketSize = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // stars from the degenerate bucket (identical vectors, cos = 1) — linear
    assert(pairs.count(_._1 == 0L) === 999)
    // the guard emits candidates, not results: nothing below threshold leaks
    assert(pairs.forall { case (a, b) => b < 1000L || (a >= 1000L && b >= 1000L) })
  }

  test("bucket guard caps a bucket of distinct fingerprints instead of joining it") {
    // adversarial shape: one bucket, every fingerprint distinct, and every
    // vector positive in every coordinate — the sub-split's extra sign bits
    // cannot separate the members (dim 4 < bits+GuardSubBits wraps onto
    // all-positive prefix coords), so after the sub-split escalation the
    // guard must still DROP (logged recall loss), not emit the quadratic
    // rep join
    def vec(i: Int) = Array(1f, 2f, 3f, i.toFloat / 1000f + 4f)
    val emb = (0L until 50L).map(i => (i, vec(i.toInt))).toDF("id", "vec")
    val pairs = Dedup.embeddingNearDupPairs(emb, "id", "vec",
      signBits = 1, threshold = 0.5, maxBucketSize = 10)
    assert(pairs.count() === 0L, "indistinguishable oversized bucket must be capped, not joined")
  }

  test("bucket guard sub-splits an honest oversized bucket on the extra bits, drops only " +
    "sub-buckets that stay oversized, and meters every branch") {
    // Direct guardedBandPairs fixture, maxBucketSize = 8. Five buckets:
    //   ok      5 rows, distinct fps          → normal self-join (10 pairs)
    //   dup    12 rows, ONE fp                → star around min id (11 pairs)
    //   mixed  10 rows, 3 fp groups (4/4/2)   → 7 star pairs + C(3,2) rep pairs
    //   hot    40 rows, distinct fps, sub=id%10 → 10 honest sub-buckets of 4:
    //          sub-split emits C(4,2)×10 = 60 pairs instead of r5's DROP
    //   dropme 20 rows, distinct fps, ONE sub → still oversized after the
    //          sub-split → dropped, metered
    val hot = (0L until 40L).map(i => (i, 1000L + i, 0, "hot", i % 10))
    val dropme = (100L until 120L).map(i => (i, 1000L + i, 0, "dropme", 7L))
    val ok = (200L until 205L).map(i => (i, 1000L + i, 0, "ok", 0L))
    val dup = (300L until 312L).map(i => (i, 555L, 0, "dup", 0L))
    val mixed = (400L until 410L).map { i =>
      val fp = if (i <= 403L) 7000L else if (i <= 407L) 7001L else 7002L
      (i, fp, 0, "mixed", 3L)
    }
    val banded = (hot ++ dropme ++ ok ++ dup ++ mixed)
      .toDF("id", "fp", "band", "bucket", "sub")
    val (pairs, observed) = graft.run.MetricsCollector.during(spark, "spec") {
      Dedup.guardedBandPairs(banded, maxBucketSize = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }

    val expOk = for (a <- 200L until 205L; b <- (a + 1) until 205L) yield (a, b)
    val expHot = for (r <- 0L until 10L; i <- 0 until 4; j <- (i + 1) until 4)
      yield (r + 10L * i, r + 10L * j)
    val expDup = (301L until 312L).map((300L, _))
    val expMixedStars = Seq((400L, 401L), (400L, 402L), (400L, 403L),
      (404L, 405L), (404L, 406L), (404L, 407L), (408L, 409L))
    val expMixedReps = Seq((400L, 404L), (400L, 408L), (404L, 408L))
    assert(pairs ===
      (expOk ++ expHot ++ expDup ++ expMixedStars ++ expMixedReps).toSet)

    // every guard escalation is metered
    def metric(suffix: String): Map[String, Any] =
      observed(observed.keys.find(_.endsWith(suffix)).get)
    assert(metric("_star")("star_pairs") === 18L)
    assert(metric("_rep")("rep_pairs") === 3L)
    val sub = metric("_sub")
    assert(sub("subsplit_rep_rows") === 60L) // 40 hot + 20 dropme reps
    assert(sub("dropped_rep_rows") === 20L)
    // Σ 1/__s accumulates in double across partitions — ulp tolerance
    assert(math.abs(sub("dropped_sub_buckets").asInstanceOf[Double] - 1.0) < 1e-9)
  }

  test("guardedBandPairs empty-guard pruning: pruned (no oversized bucket) and legacy " +
      "plans emit identical pairs; an oversized bucket keeps the guard (r17 gate)") {
    // regime 1: every bucket under the cap — the probe prunes the guard
    // subtree; the plain self-join must emit exactly the pairs of the
    // unpruned plan, which are the within-bucket pairs (no row is oversized)
    val small = ((0L until 5L).map(i => (i, 1000L + i, 0, "a", 0L)) ++
      (10L until 13L).map(i => (i, 1000L + i, 1, "b", 0L)))
      .toDF("id", "fp", "band", "bucket", "sub")
    // regime 2: one bucket over the cap — the probe must route to the
    // guard exactly as before (the metered spec above pins its semantics)
    val mixed = ((0L until 5L).map(i => (i, 1000L + i, 0, "a", 0L)) ++
      (100L until 112L).map(i => (i, 555L, 0, "dup", 0L)))
      .toDF("id", "fp", "band", "bucket", "sub")
    def run(df: org.apache.spark.sql.DataFrame, cap: Int) =
      Dedup.guardedBandPairs(df, cap).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    def within(ids: Seq[Long]) = (for (a <- ids; b <- ids if a < b) yield (a, b)).toSet
    val bucketA = within(0L until 5L)
    assert(run(small, 8) === bucketA ++ within(10L until 13L))
    assert(run(small, 8).size === 10 + 3)
    // the 12 one-fp replicas in "dup" star-collapse onto rep 100; one rep
    // is under the cap, so no rep pair and no sub-split fires
    assert(run(mixed, 8) === bucketA ++ (101L until 112L).map(i => (100L, i)))
    assert(run(mixed, 8).contains((100L, 101L))) // star fired
  }

  test("honest >4096-distinct-fp bucket at the DEFAULT threshold sub-splits, zero drops") {
    // The r5/r6 seam: a bucket with more DISTINCT fingerprints than
    // DefaultMaxBucketSize used to be dropped wholesale. 5000 distinct fps
    // spread over 16 honest sub-keys (each sub-bucket ≤ 313 ≤ 4096) must now
    // emit exactly the within-sub-bucket pairs and drop nothing.
    val n = 5000L
    val banded = spark.range(n)
      .select(col("id"), (col("id") + 1000000L).as("fp"),
        lit(0).as("band"), lit("hot").as("bucket"), pmod(col("id"), lit(16L)).as("sub"))
    val (got, observed) = graft.run.MetricsCollector.during(spark, "spec") {
      Dedup.guardedBandPairs(banded, Dedup.DefaultMaxBucketSize).count()
    }
    // 5000 = 16*312 + 8: eight sub-buckets of 313, eight of 312
    val expected = 8L * (313L * 312L / 2L) + 8L * (312L * 311L / 2L)
    assert(got === expected)
    val sub = observed(observed.keys.find(_.endsWith("_sub")).get)
    assert(sub("subsplit_rep_rows") === n)
    assert(sub("dropped_rep_rows") === 0L)
  }

  test("hammingBits is exact past 63 bits (conv would saturate) and agrees with the fold") {
    // 80-bit strings: the long fast path cannot represent them (Spark conv
    // saturates at unsigned-64 max), so the per-character fold must take
    // over — silently wrong answers here were the r6 ADVICE low item
    val a80 = "10" * 40
    val b80 = "01" * 40                  // differs at every position
    val c80 = "10" * 39 + "11"           // differs from a80 at one position
    val a63 = "101" * 21
    val b63 = "011" * 21
    val rows = Seq((a80, b80, 80), (a80, c80, 1), (a80, a80, 0), (a63, b63, 42))
      .toDF("a", "b", "expected")
    val got = rows.select(Dedup.hammingBits(col("a"), col("b")).cast("int").as("d"),
      col("expected")).collect()
    got.foreach(r => assert(r.getInt(0) === r.getInt(1), s"row $r"))
  }

  test("embeddingLshBandPairs: any-band collision finds near-dups, gates the rest") {
    val base = (0 until 32).map(i => if (i % 2 == 0) 1.0f else -1.0f).toArray
    val near = base.clone(); near(0) = 0.9f          // tiny perturbation
    val far = base.map(x => -x)                      // opposite signs everywhere
    val emb = Seq((1L, base), (2L, near), (3L, far)).toDF("id", "vec")
    val pairs = Dedup.embeddingLshBandPairs(emb, "id", "vec",
        bands = 4, rowsPerBand = 8, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("xxhash64Array is bit-identical to the interpreted transform(xxhash64) form") {
    val samples = Seq(docA, docB, docC, "", "  padded  ", "\u00fcn\u00efcod\u00e9 t\u00f6kens \u6f22\u5b57")
    val df = samples.toDF("text")
      .select(Dedup.wordShingles(col("text"), 2).as("sh"))
      .select(
        Dedup.xxhash64Array(col("sh")).as("native"),
        transform(col("sh"), x => xxhash64(x)).as("hof"))
    df.collect().foreach { r =>
      assert(r.getSeq[Long](0) === r.getSeq[Long](1))
    }
  }

  test("xxhash64Array hashes null elements to the seed, like xxhash64(NULL)") {
    // bit-identity with transform(arr, x -> xxhash64(x)) must hold for
    // NULLABLE element arrays too: Spark's xxhash64 leaves the running hash
    // at the seed (42) for a null input, so a null element hashes to 42
    val df = Seq(Tuple1(Seq[String]("a", null, "b")))
      .toDF("arr")
      .select(
        Dedup.xxhash64Array(col("arr")).as("native"),
        transform(col("arr"), x => xxhash64(x)).as("hof"))
    val r = df.collect().head
    assert(r.getSeq[Long](0) === r.getSeq[Long](1))
    assert(r.getSeq[Long](0)(1) === 42L)
  }

  test("bloomMightContain compares by filter content, not array reference") {
    import graft.functions.BloomMightContain
    import org.apache.spark.sql.catalyst.expressions.Literal
    val child = Literal.create("probe-me", org.apache.spark.sql.types.StringType)
    val grams = Seq("x", "y", "z").toDF("g")
    val bytes1 = Dedup.buildGramBloom(grams, "g", fpp = 0.01)
    val bytes2 = bytes1.clone() // same content, different array instance
    val e1 = BloomMightContain(child, bytes1)
    val e2 = BloomMightContain(child, bytes2)
    // content equality -> equal expressions (so canonicalization and CSE
    // can merge two probes of the same filter in one plan)
    assert(e1 === e2)
    assert(e1.hashCode() === e2.hashCode())
    assert(e1.canonicalized === e2.canonicalized)
    // and distinct filters stay distinct
    val other = Dedup.buildGramBloom(Seq("different").toDF("g"), "g", fpp = 0.01)
    assert(e1 !== BloomMightContain(child, other))
  }

  test("curation pipeline64 drops the same documents as the md5 pipeline") {
    // A corpus with exact dups, near-dups (one-word edits of a long base
    // sentence -> Jaccard well over the 0.6 bar), and unrelated singletons.
    // Both hash families must (a) collapse the exact group to its min id,
    // (b) drop the higher id of every near-dup pair, (c) keep singletons.
    // The pair sets can differ only via hash randomness on MARGINAL
    // similarities; this fixture keeps every true pair far from the
    // threshold so the confirmed sets must coincide (deterministic either
    // way -- a divergence here means a real semantics bug, not noise).
    val base = "the quick brown fox jumps over the lazy dog while the calm river flows past the old stone bridge in the quiet valley"
    val docs = Seq(
      1L -> base,
      2L -> base, // exact dup of 1
      3L -> base.replace("dog", "cat"), // near-dup of 1
      4L -> base.replace("valley", "canyon"), // near-dup of 1
      5L -> "completely unrelated content about spark query engines and the catalyst optimizer at cluster scale today",
      6L -> "another distinct document discussing parquet encodings page indexes and predicate pushdown behavior in depth"
    ).toDF("doc_id", "text")
    val md5Out = graft.operators.Curation.pipeline(docs, "doc_id", "text")
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    val x64Out = graft.operators.Curation.pipeline(docs, "doc_id", "text", hash64 = true)
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(md5Out === Seq(1L, 5L, 6L)) // pinned expectation, not just agreement
    assert(x64Out === md5Out)
  }

  test("bloom filter build/probe: no false negatives, fpp bounded on fixture") {
    val grams = (1 to 2000).map(i => s"gram token number $i").toDF("g")
    val bytes = Dedup.buildGramBloom(grams, "g", fpp = 0.01)
    // every inserted gram MUST probe true (bloom's no-false-negative law)
    val misses = grams.filter(!Dedup.bloomMightContain(col("g"), bytes)).count()
    assert(misses === 0L)
    // absent grams probe true only at ~fpp (allow generous slack: 2000
    // probes at fpp=0.01 -> expect ~20, fail only past 5x that)
    val absent = (1 to 2000).map(i => s"completely different text $i").toDF("g")
    val fps = absent.filter(Dedup.bloomMightContain(col("g"), bytes)).count()
    assert(fps <= 100L, s"false-positive rate implausibly high: $fps/2000")
  }

  test("contaminatedIdsBloom equals the broadcast-exact contaminatedIds") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = (1L to 60L).map { i =>
      // every 7th doc embeds a benchmark 4-gram; others are clean
      if (i % 7 == 0) i -> s"prefix words then $base trailing tail $i"
      else i -> s"document $i about unrelated topic number ${i * 13} entirely"
    }.toDF("doc_id", "text")
    val benchmark = Seq(100L -> base).toDF("doc_id", "text")
    val exact = Dedup.contaminatedIds(docs, benchmark, "doc_id", "text", n = 4)
      .orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    val bloom = Dedup.contaminatedIdsBloom(docs, benchmark, "doc_id", "text", n = 4)
      .orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(exact === (7L to 60L by 7L).toSeq) // pinned, not just agreement
    assert(bloom === exact)
  }

  test("containmentPairs finds doc-inside-doc duplication that Jaccard misses") {
    val small = "aurora borealis shimmered over the frozen tundra last night"
    val bigTail = (1 to 80).map(i => s"filler$i token$i").mkString(" ")
    val docs = Seq(
      1L -> small,
      2L -> s"$small $bigTail", // contains every shingle of doc 1 + 10x more
      3L -> "completely different text about catalyst optimizer internals and shuffle exchange"
    ).toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // direction matters: doc 1 is contained in doc 2, not vice versa
    assert(pairs.exists { case (a, b, c) => a == 1L && b == 2L && c >= 0.99 })
    assert(!pairs.exists { case (a, b, _) => a == 2L && b == 1L })
    assert(!pairs.exists { case (a, b, _) => a == 3L || b == 3L })
    // and the pair's JACCARD is tiny — a Jaccard-LSH pipeline at the 0.6
    // bar structurally misses it (that asymmetry is this operator's reason
    // to exist)
    val j = docs.filter(col("doc_id").isin(1L, 2L))
      .select(Dedup.wordShingles(col("text"), 2).as("sh"))
      .collect().map(_.getSeq[String](0).toSet)
    val jac = j(0).intersect(j(1)).size.toDouble / j(0).union(j(1)).size
    assert(jac < 0.2)
  }

  test("containmentPairs candidate-budget guard bounds replica clusters, keeps true pairs") {
    // A true containment pair (1 inside 2, rare anchors, df=2) plus a
    // 12-replica identical-text cluster (each shared gram's posting list
    // has df=12). With maxCandidatesPerDoc=50 / anchorsPerDoc=10 the
    // posting cap C=5 keeps each anchor gram's 5 LOWEST doc ids, so every
    // replica can only pair against replicas 10..14 — candidate output is
    // hard-bounded and deterministic — while the true pair's postings
    // (df=2 <= C) are untouched. n=14 docs keeps the df-frac cap at its
    // floor 16 >= 12, so the cluster grams stay anchor-ELIGIBLE (this
    // guard is the layer the df cap cannot provide).
    val small = "aurora borealis shimmered over the frozen tundra last night"
    val bigTail = (1 to 80).map(i => s"filler$i token$i").mkString(" ")
    val replicaText = "the shared replica body repeats verbatim across every cluster member here"
    val docs = (Seq(1L -> small, 2L -> s"$small $bigTail") ++
      (10L to 21L).map(i => i -> replicaText)).toDF("doc_id", "text")
    def run(budget: Int) = Dedup.containmentPairs(docs, "doc_id", "text",
        maxCandidatesPerDoc = budget)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = run(50)
    val uncapped = run(1000000)
    // true pair survives both configurations
    assert(capped.contains((1L, 2L)) && uncapped.contains((1L, 2L)))
    // uncapped replica cluster goes all-pairs (12*11); capped pairs only
    // against the 5 kept lowest ids (12*5 - 5 self-pairs)
    assert(uncapped.count(_._1 >= 10L) === 132)
    val cluster = capped.filter(_._1 >= 10L)
    assert(cluster.size === 55)
    assert(cluster.forall { case (_, b) => b >= 10L && b <= 14L })
  }

  test("heavy-gram broadcast guard: over-budget set drops the hint, output identical") {
    // Same many-heavy-grams fixture as the candidate-budget test: every
    // replica-cluster gram has df=12 > C=5, so the heavy index path is
    // exercised for real. budget=0 classifies ANY nonempty heavy set as
    // over-budget (no forced broadcast — AQE picks the join strategy); the
    // default budget keeps the forced-broadcast fast path. The defense
    // changes the PLAN only (VERDICT r10 #1: a forced hint bypasses AQE's
    // size check, so pathological heavy-set cardinality must downgrade the
    // plan, not OOM the driver) — outputs must be identical.
    val small = "aurora borealis shimmered over the frozen tundra last night"
    val bigTail = (1 to 80).map(i => s"filler$i token$i").mkString(" ")
    val replicaText = "the shared replica body repeats verbatim across every cluster member here"
    val docs = (Seq(1L -> small, 2L -> s"$small $bigTail") ++
      (10L to 21L).map(i => i -> replicaText)).toDF("doc_id", "text")
    def run(budget: Long) = Dedup.containmentPairs(docs, "doc_id", "text",
        maxCandidatesPerDoc = 50, heavyBroadcastRowBudget = budget)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val hinted = run(Dedup.HeavyGramBroadcastRowBudget)
    val fallback = run(0L)
    assert(hinted.nonEmpty)
    assert(fallback === hinted)
    // the posting cap still bounds the replica cluster on the fallback path
    assert(fallback.filter(_._1 >= 10L).forall { case (_, b, _) => b >= 10L && b <= 14L })
  }

  test("containmentPairs: identical twins emit both directions at 1.0") {
    val text = "the migration pipeline resolves foreign keys through broadcast joins at scale"
    val docs = Seq(1L -> text, 2L -> text,
      3L -> "unrelated filler content that shares no two word sequence with the twins at all"
    ).toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairs === Set((1L, 2L, 1.0), (2L, 1L, 1.0)))
  }

  test("embedding transitive dedup keeps one min-id survivor per cluster") {
    // three identical-vector clusters; cross-cluster cosine is 0 (< 0.2)
    // so components = clusters exactly; one-hot sign patterns put all
    // vectors in one bucket (zero >= 0 -> '1'), exercising the cos gate
    def oneHot(k: Int) = Array.tabulate(16)(i => if (i == k) 1.0f else 0.0f)
    val e = (0L until 10L).map(i => (i, oneHot((i % 3).toInt))).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairs(e, "vec_id", "embedding", threshold = 0.2)
    val dropped = Dedup.connectedComponents(pairs)
      .filter(col("id") =!= col("comp")).select(col("id").as("vec_id"))
    val survivors = e.select(col("vec_id")).join(dropped, Seq("vec_id"), "left_anti")
      .orderBy("vec_id").collect().map(_.getLong(0)).toSeq
    assert(survivors === Seq(0L, 1L, 2L))
  }

  test("containment after curation: replicas collapse first, doc-inside-doc found among survivors") {
    // Production order (q69): near-dup replicas B/B' would each contain A
    // and each other, inflating anchors' document frequency and the pair
    // output; curation (transitive) collapses {B, B'} to B first, then
    // containment finds the one semantic pair A→B.
    val small = "the quick brown fox jumps over the lazy dog near the river"
    val tail = (1 to 60).map(i => s"the filler$i and token$i").mkString(" ")
    val docs = Seq(
      1L -> small, // A
      2L -> s"$small $tail", // B: contains A
      3L -> s"$small $tail extra", // B': near-dup replica of B
      4L -> "this is a different document and it talks about the weather in the city and what people said there"
    ).toDF("doc_id", "text")
    def run(hash64: Boolean) = {
      val survivors = graft.operators.Curation.pipeline(docs, "doc_id", "text",
          minQuality = 0.0, bands = 16, rowsPerBand = 1, jaccardThreshold = 0.4,
          hash64 = hash64, transitive = true)
        .select("doc_id")
      Dedup.containmentPairs(
          docs.join(survivors, Seq("doc_id"), "left_semi"), "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    // B' was curated away; exactly the A-in-B pair remains, one direction.
    // Both hash families: transitive survivorship is hash-family-independent
    // (quadrant test below), so the production stack (hash64 curation →
    // containment, q72) emits the same pairs as the md5 oracle twin (q69).
    assert(run(hash64 = false) === Set((1L, 2L)))
    assert(run(hash64 = true) === Set((1L, 2L)))
  }

  test("trainPrep composes curation -> containment -> substring removal, both hash families") {
    // One doc per removal family, so the final corpus pins every stage:
    //   1/11      exact duplicates            -> stage 1 keeps 1
    //   2/3       near-duplicates (J ~ 0.9)   -> stage 1 keeps 2
    //   4         contained inside 5          -> stage 2 drops 4, keeps 5
    //   6/7       share an 8-token run        -> stage 3 cleans 7 (6 is
    //                                            global-first: lower id)
    //   8         too short / low quality     -> stage 1 gates it out
    // bands=16/r=1 makes LSH exhaustive so the test exercises semantics,
    // not LSH recall (the quadrant-test convention).
    val small = "aurora borealis shimmered over the frozen tundra late last night again"
    val bigTail = (1 to 80).map(i => s"filler$i token$i").mkString(" ")
    val run8 = "alpha bravo charlie delta echo foxtrot golf hotel"
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val near = "winter storms gather slowly above the northern mountain villages every single year"
    val docs = Seq(
      1L -> base,
      11L -> base, // exact dup of 1
      2L -> near,
      3L -> s"$near indeed", // near-dup of 2 (J ~ 0.92), unrelated to base
      4L -> small,
      5L -> s"$small $bigTail",
      // 6/7 share ONLY the 8-token run: long distinct flanks keep their
      // Jaccard ~ 0.18 (below even the test's 0.4 bar) and their
      // containment ~ 0.3, so ONLY stage 3 touches them
      6L -> s"unique six prefix text with several more very plain filler words $run8 and some closing words here",
      7L -> s"totally different seven opener sentence carrying its own spare vocabulary choices $run8 and another quite distinct ending follows now",
      8L -> "xx qq" // no language marker in any family -> lang gate drops
    ).toDF("doc_id", "text")
    def run(hash64: Boolean) = graft.operators.TrainPrep.pipeline(
        docs, "doc_id", "text", hash64 = hash64,
        minQuality = 0.0, bands = 16, rowsPerBand = 1, jaccardThreshold = 0.4)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    for (h <- Seq(false, true)) {
      val out = run(h)
      val ids = out.map(_._1)
      // 11 exact-dropped, 3 near-dup-dropped (2 is min id if 2~3 confirm;
      // 1/2 stay distinct enough), 4 containment-dropped, 8 gated
      assert(ids === Seq(1L, 2L, 5L, 6L, 7L), s"hash64=$h ids=$ids")
      val byId = out.toMap
      // stage 3: doc 6 keeps its text (global-first copy), doc 7 loses the
      // shared 8-token run
      assert(byId(6L).contains(run8), s"hash64=$h")
      assert(!byId(7L).contains("charlie"), s"hash64=$h")
      assert(byId(7L).startsWith("totally different seven opener"), s"hash64=$h")
      // untouched docs come out whitespace-canonicalized but content-intact
      assert(byId(1L) === base, s"hash64=$h")
      assert(byId(5L).startsWith(small), s"hash64=$h")
    }
  }

  test("curation transitive closure keeps one survivor per near-dup component") {
    // Bridge topology: C is a near-dup of BOTH A and B, but A and B share
    // only their middle segment. Pair-drop removes only the higher id of
    // each confirmed pair (C), leaving A AND B; transitive closure puts
    // {A, B, C} in one component and keeps min id only. bands=16/r=1 makes
    // the LSH candidate stage effectively exhaustive at these similarities
    // so the test exercises the survivor rule, not LSH recall.
    val segW = "the quick brown fox jumps over the lazy dog near the river"
    val segX = "and the old stone bridge stands in the quiet green valley"
    val segY = "while morning light falls softly on the distant snowy hills"
    val segD = "because every sailor knows the harbor wind changes before rain"
    val segE = "although the library kept ancient maps of forgotten trade roads"
    val docs = Seq(
      1L -> s"$segW $segX $segD", // A: W X D
      2L -> s"$segE $segX $segY", // B: E X Y
      3L -> s"$segW $segX $segY", // C: W X Y  (bridge)
      4L -> "this is a different document and it talks about the weather in the city and what people said there"
    ).toDF("doc_id", "text")
    def run(transitive: Boolean, hash64: Boolean) =
      graft.operators.Curation.pipeline(docs, "doc_id", "text",
          minQuality = 0.0, bands = 16, rowsPerBand = 1,
          jaccardThreshold = 0.4, hash64 = hash64, transitive = transitive)
        .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    // all four (hash family × survivor rule) quadrants, pinned: pair-drop
    // leaves both bridge endpoints regardless of hash family; transitive
    // keeps exactly the component min regardless of hash family — so the
    // production configuration (hash64 + transitive, q66) is pinned to the
    // oracle-checked q65's survivor semantics.
    assert(run(transitive = false, hash64 = false) === Seq(1L, 2L, 4L))
    assert(run(transitive = false, hash64 = true) === Seq(1L, 2L, 4L))
    assert(run(transitive = true, hash64 = false) === Seq(1L, 4L))
    assert(run(transitive = true, hash64 = true) === Seq(1L, 4L))
  }

  test("firstKCentroids: the k lowest ids' vectors, re-keyed 0..k-1 in id order") {
    val emb = Seq(
      (7L, Array(1f, 0f)), (3L, Array(0f, 1f)), (9L, Array(1f, 1f)))
      .toDF("vec_id", "embedding")
    val c = Dedup.firstKCentroids(emb, "vec_id", "embedding", 2)
      .orderBy("centroid_id").collect()
    assert(c.map(_.getInt(0)).toSeq === Seq(0, 1))
    assert(c(0).getSeq[Float](1) === Seq(0f, 1f)) // vec_id 3 → centroid 0
    assert(c(1).getSeq[Float](1) === Seq(1f, 0f)) // vec_id 7 → centroid 1
  }

  test("semDedup keeps the member FURTHEST from its centroid (the paper's " +
      "rule), not the min id; singletons survive") {
    // centroid 0 = x-axis, centroid 1 = y-axis. ids 1..3 all assign to
    // centroid 0 and are mutual near-dups; id 3 has the LOWEST cosine to
    // the centroid (furthest = least prototypical) so it must be the
    // survivor even though id 1 is the min. id 4 assigns to centroid 1,
    // pairs with nothing, and survives as a singleton.
    val cents = Seq((0, Seq(1f, 0f)), (1, Seq(0f, 1f))).toDF("centroid_id", "cvec")
    val emb = Seq(
      (1L, Array(1f, 0.1f)), (2L, Array(1f, 0.3f)), (3L, Array(1f, 0.5f)),
      (4L, Array(0.1f, 1f)))
      .toDF("vec_id", "embedding")
    val surv = Dedup.semDedup(emb, "vec_id", "embedding", cents, threshold = 0.9)
      .orderBy("vec_id").collect().map(_.getLong(0)).toSeq
    assert(surv === Seq(3L, 4L))
  }

  test("semDedup guard: an oversized replica cell star-collapses to the " +
      "same survivors as the plain intra-cell join") {
    // 30 exact replicas + 3 distinct spread vectors in one cell: with
    // maxCellSize = 5 the cell is degenerate and the fp star-collapse
    // carries the pairs; survivors must match the unguarded run exactly
    // (the guard changes work, not components — all replicas share one fp)
    val cents = Seq((0, Seq(1f, 0f, 0f))).toDF("centroid_id", "cvec")
    val rows = (1L to 30L).map(i => (i, Array(1f, 0.2f, 0f))) ++ Seq(
      (31L, Array(1f, 0f, 0.6f)), (32L, Array(1f, 0.6f, 0f)), (33L, Array(1f, 0f, 0f)))
    val emb = rows.toDF("vec_id", "embedding")
    def run(cap: Int) = Dedup
      .semDedup(emb, "vec_id", "embedding", cents, threshold = 0.99, maxCellSize = cap)
      .collect().map(_.getLong(0)).toSet
    val guarded = run(5)
    val plain = run(1 << 20)
    assert(guarded === plain)
    // the 30 replicas collapse to ONE survivor; the three distinct vectors
    // clear no 0.99 pairwise bar and survive
    assert(guarded.size === 4)
  }

  test("semDedup join-path pruning: pruned (all cells under the local cap) " +
      "and legacy-union plans keep identical survivors (r17 gate)") {
    // mixed geometry: two cells with near-dup clusters — every cell under
    // SemLocalPairMaxCell, so the default route prunes the banded join
    // subtree. Its pairs must equal the join path's (localPairMaxCell = 0)
    // pair-for-pair, and so must the union route's (localPairMaxCell = 2:
    // both 3-member cells go through the join path inside the union);
    // identical pairs over one assignment give identical survivors.
    val cents = Seq((0, Seq(1f, 0f)), (1, Seq(0f, 1f))).toDF("centroid_id", "cvec")
    val emb = Seq(
      (1L, Array(1f, 0.1f)), (2L, Array(1f, 0.12f)), (3L, Array(1f, 0.5f)),
      (4L, Array(0.1f, 1f)), (5L, Array(0.12f, 1f)), (6L, Array(0.9f, 0.95f)))
      .toDF("vec_id", "embedding")
    val asg = Dedup.semAssign(emb, "vec_id", "embedding", cents)
    def pairsOf(cap: Int) = Dedup
      .semPairsFromAssignHook(asg, 0.95, localPairMaxCell = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pruned = pairsOf(Dedup.SemLocalPairMaxCell)
    assert(pruned === pairsOf(0))
    assert(pruned === pairsOf(2))
    val survivors = Dedup.semDedup(emb, "vec_id", "embedding", cents, threshold = 0.95)
      .collect()
    assert(survivors.nonEmpty && survivors.length < 6) // the near-dup pairs really fired
  }

  test("semDedupPairs shuffles thin (id, fp, cell) rows, never vectors") {
    // the 100 TB rule the sign-bucket tier pins at line ~318, applied to
    // the clustered tier: the intra-cell candidate exchange must carry
    // only the thin banded columns — vectors join back per surviving pair
    val cents = Seq((0, Seq(1f, 0f)), (1, Seq(0f, 1f))).toDF("centroid_id", "cvec")
    val emb = (0L until 60L).map(i => (i, Array((i % 3).toFloat + 1f, (i % 5).toFloat)))
      .toDF("vec_id", "embedding")
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val pairs = Dedup.semDedupPairs(emb, "vec_id", "embedding", cents, threshold = 0.999)
      val exchanges = pairs.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      exchanges.foreach { e =>
        val names = e.output.map(_.name)
        assert(!(names.contains("bucket") &&
            names.exists(n => n.startsWith("vec") || n == "embedding")),
          s"candidate shuffle carries vectors: $names")
      }
      assert(pairs.count() > 0)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("semDedupAuto (KMeans centroids) collapses exact-duplicate groups " +
      "to one survivor each") {
    // exact duplicates always share a cell (identical vectors, identical
    // assignment) and pair at cos = 1 regardless of learned centroids, so
    // the KMeans seam can't change THIS outcome: 4 distinct values × 5
    // copies → 4 survivors (equal cosc within a group → min id survives)
    def base(g: Int) = Array.tabulate(8)(i => if (i == g) 1f else 0.1f)
    val emb = (0 until 20).map(i => ((i + 1).toLong, base(i % 4))).toDF("vec_id", "embedding")
    val surv = Dedup
      .semDedupAuto(emb, "vec_id", "embedding", threshold = 0.999, numCentroids = 3)
      .orderBy("vec_id").collect().map(_.getLong(0)).toSeq
    assert(surv === Seq(1L, 2L, 3L, 4L))
  }

  test("semAssign is truly map-side: zero exchanges in the assignment plan") {
    // the ADVICE r14 contract: the old row_number-window form shuffled the
    // crossJoin rows (K wide vector copies per doc through one exchange);
    // the array-argmax form must plan NO exchange at all — one broadcast
    // nested-loop against a 1-row candidate table plus a projection
    val cents = Seq((0, Seq(1f, 0f)), (1, Seq(0f, 1f))).toDF("centroid_id", "cvec")
    val emb = (0L until 40L).map(i => (i, Array((i % 7).toFloat + 1f, (i % 3).toFloat)))
      .toDF("vec_id", "embedding")
    val asg = Dedup.semAssign(emb, "vec_id", "embedding", cents)
    val exchanges = asg.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty, s"assignment plans a shuffle: $exchanges")
    // and the argmax semantics hold: ties at equal rounded cosine break to
    // the LOWER centroid_id (vector equidistant from both axes)
    val dup = Seq((99L, Array(1f, 1f))).toDF("vec_id", "embedding")
    val tie = Dedup.semAssign(dup, "vec_id", "embedding", cents).collect()(0)
    assert(tie.getInt(2) === 0)
  }

  test("semAssignPruned == semAssign exactly, on random fixtures, any " +
      "grouping, zero vectors and duplicates included") {
    // the VERDICT r14 next-#2 exactness contract: pruning via the two-level
    // triangle-inequality bound must reproduce the exhaustive argmax row
    // for row — rounded cosc, tie-break id, NaN degenerates and all. The
    // bound is valid for ANY centroid partition, so a deliberately bad
    // grouping (numGroups = 3) must also be exact, just slower.
    val rnd = new scala.util.Random(4242)
    val dim = 12
    def vec() = Array.fill(dim)(rnd.nextFloat() * 2f - 1f)
    val cents = (0 until 80).map(i => (i, vec().toSeq)).toDF("centroid_id", "cvec")
    val rows = (0L until 300L).map(i => (i, vec())) ++ Seq(
      (300L, Array.fill(dim)(0f)), // zero vector: NaN cosine to everything
      (301L, Array.fill(dim)(0.5f)), (302L, Array.fill(dim)(0.5f))) // exact dups
    val emb = rows.toDF("vec_id", "embedding")
    def key(df: org.apache.spark.sql.DataFrame) = df
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getInt(2), java.lang.Double.doubleToLongBits(r.getDouble(3))))
      .toSeq
    val exhaustive = key(Dedup.semAssign(emb, "vec_id", "embedding", cents))
    // adaptiveGate = false: this fixture is isotropic, exactly the
    // geometry the r16 gate routes to the exhaustive path — forcing the
    // two-level scan keeps its exactness DIRECTLY exercised here
    assert(key(Dedup.semAssignPruned(emb, "vec_id", "embedding", cents,
      adaptiveGate = false)) === exhaustive)
    assert(key(Dedup.semAssignPruned(emb, "vec_id", "embedding", cents, numGroups = 3,
      adaptiveGate = false)) === exhaustive)
    assert(key(Dedup.semAssignPruned(emb, "vec_id", "embedding", cents, numGroups = 25,
      adaptiveGate = false)) === exhaustive)
    // and through the DEFAULT adaptive gate (whichever path it picks,
    // output is pinned identical)
    assert(key(Dedup.semAssignPruned(emb, "vec_id", "embedding", cents)) === exhaustive)
    // and the NATIVE tight-loop expressions are bit-identical to the HOF
    // reference formulations (the cosineLongHof pinning precedent) —
    // rounding recipe, tie-break, NaN order and all
    assert(key(Dedup.semAssign(emb, "vec_id", "embedding", cents, native = false))
      === exhaustive)
    assert(key(Dedup.semAssignPruned(emb, "vec_id", "embedding", cents, numGroups = 7,
      native = false, adaptiveGate = false)) === exhaustive)
  }

  test("semAssignPruned adaptive gate: the kept-fraction probe separates " +
      "clustered (≪ 1, prune) from isotropic (≈ 1, exhaustive) geometries, " +
      "and output is identical either way") {
    // clustered manifold: 8-dim one-hot spikes with small deterministic
    // noise — the q110 construction in miniature. 64 centroids engage the
    // two-level machinery; the probe must measure a SMALL kept fraction.
    def spike(i: Long, dim: Int) = Array.tabulate(dim) { j =>
      if (j == (i % dim).toInt) 1f else ((i * (j + 7)) % 11 - 5).toFloat / 64f
    }
    val dim = 8
    val k = 64L
    val g = 8
    def probe(emb: org.apache.spark.sql.DataFrame,
        cents: org.apache.spark.sql.DataFrame): Double =
      Dedup.semPruneKeptFrac(
        emb.select(col("embedding").as("vec")).limit(Dedup.SemPruneProbeRows),
        Dedup.semPruneGeometry(
          cents.select(col("centroid_id"), col("cvec")), g, k, 42L),
        k)
    def asg(df: org.apache.spark.sql.DataFrame) = df.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getDouble(3))).toSeq
    val clustered = (0L until 400L).map(i => (i, spike(i, dim)))
      .toDF("vec_id", "embedding")
    val cCents = (0 until 64).map(i =>
      (i, spike(i.toLong, dim).toSeq)).toDF("centroid_id", "cvec")
    val fracC = probe(clustered, cCents)
    assert(fracC < Dedup.SemPruneGateMaxKeptFrac,
      s"clustered geometry must prune (kept=$fracC)")
    val exhC = asg(Dedup.semAssign(clustered, "vec_id", "embedding", cCents))
    assert(asg(Dedup.semAssignPruned(clustered, "vec_id", "embedding", cCents)) === exhC)
    // isotropic: random directions — the probe must keep ~everything and
    // the gate must route to the exhaustive path (output identical)
    val rnd = new scala.util.Random(11)
    val iso = (0L until 400L).map(i =>
      (i, Array.fill(dim)(rnd.nextFloat() * 2f - 1f))).toDF("vec_id", "embedding")
    val iCents = (0 until 64).map(i =>
      (i, Array.fill(dim)(rnd.nextFloat() * 2f - 1f).toSeq)).toDF("centroid_id", "cvec")
    val fracI = probe(iso, iCents)
    assert(fracI > Dedup.SemPruneGateMaxKeptFrac,
      s"isotropic geometry must not prune (kept=$fracI)")
    val exhI = asg(Dedup.semAssign(iso, "vec_id", "embedding", iCents))
    assert(asg(Dedup.semAssignPruned(iso, "vec_id", "embedding", iCents)) === exhI)
  }

  test("semDedupAuto clamps cells to the embedding-universe size (ADVICE " +
      "r14) and survives n = 1") {
    // numCentroids = 10 over 3 vectors: without the clamp MLlib's k >
    // points fallback decides the behavior; clamped to n = 3 the result is
    // the deterministic 3-cell dedup (all distinct, no 0.999 pairs)
    val emb = Seq(
      (1L, Array(1f, 0f, 0f)), (2L, Array(0f, 1f, 0f)), (3L, Array(0f, 0f, 1f)))
      .toDF("vec_id", "embedding")
    val surv = Dedup
      .semDedupAuto(emb, "vec_id", "embedding", threshold = 0.999, numCentroids = 10)
      .orderBy("vec_id").collect().map(_.getLong(0)).toSeq
    assert(surv === Seq(1L, 2L, 3L))
    val one = Seq((7L, Array(1f, 0f))).toDF("vec_id", "embedding")
    assert(Dedup.semDedupAuto(one, "vec_id", "embedding", threshold = 0.5)
      .collect().map(_.getLong(0)).toSeq === Seq(7L))
  }

  test("sem pair stage: the collected-cell native emission equals the " +
      "banded-join path pair-for-pair, threshold boundary included") {
    // random vectors over 3 cells, duplicates included; compare the local
    // path (default) against the join path (localPairMaxCell = 0) at a
    // threshold that cuts THROUGH the cosine distribution, and again at
    // extremes (everything pairs / nothing pairs)
    val rnd = new scala.util.Random(777)
    def vec() = Array.fill(8)(rnd.nextFloat() * 2f - 1f)
    val rows = (0L until 120L).map(i => (i, vec())) ++
      (200L until 210L).map(i => (i, Array.fill(8)(0.7f))) ++ // exact dups
      // degenerate ZERO vectors: their pairwise cosine is NaN, which is
      // GREATER than any threshold in Spark's double order — the join
      // path's filter(col("cos") > t) emits them, so the native emission
      // must too (ADVICE r15: Java's primitive '>' silently dropped them)
      (300L until 303L).map(i => (i, Array.fill(8)(0f)))
    val emb = rows.toDF("vec_id", "embedding")
    val cents = Seq(
      (0, Seq(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)),
      (1, Seq(0f, 1f, 0f, 0f, 0f, 0f, 0f, 0f)),
      (2, Seq(0f, 0f, 1f, 0f, 0f, 0f, 0f, 0f))).toDF("centroid_id", "cvec")
    val asg = Dedup.semAssign(emb, "vec_id", "embedding", cents)
    for (t <- Seq(-0.99, 0.3, 0.8, 0.9999)) {
      def pairsOf(cap: Int) = Dedup
        .semPairsFromAssignHook(asg, t, localPairMaxCell = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val local = pairsOf(Dedup.SemLocalPairMaxCell)
      val join = pairsOf(0)
      assert(local === join, s"paths diverge at threshold=$t")
      if (t == 0.3) assert(local.nonEmpty)
      // NaN-cosine (zero-vector) pairs pass EVERY threshold on both paths
      assert(local.contains((300L, 301L)), s"NaN pair missing at threshold=$t")
    }
  }

  test("semDedupAuto on a replica-only corpus (ONE distinct vector): no " +
      "KMeans k=1 crash, replicas collapse to one survivor") {
    // the canonical dedup input — every vector byte-identical. KMeans
    // rejects k = 1, so trainCentroids must shortcut: the one distinct
    // vector IS the centroid. Equal cosc within the cluster → min id.
    val emb = (1L to 6L).map(i => (i, Array(0.5f, 0.5f, 0.1f)))
      .toDF("vec_id", "embedding")
    val surv = Dedup.semDedupAuto(emb, "vec_id", "embedding", threshold = 0.9)
      .collect().map(_.getLong(0)).toSeq
    assert(surv === Seq(1L))
  }

  test("two-level argmax: a degenerate zero SUPER-vector (NaN lb) must " +
      "not poison the pruning cut") {
    // g0's super-vector is all-zero → cos(v, s0) = 0/0 = NaN → its lb is
    // NaN, the double-ordering MAXIMUM. Without the nanvl/-Inf floor the
    // cut becomes NaN, g1 (which holds the TRUE argmax) is pruned, and
    // the wrong centroid flows out silently. g0's own NaN ub keeps it
    // scanned either way.
    import org.apache.spark.sql.GraftColumnBridge
    val df = Seq(1).toDF("x").select(
      typedLit(Array(1f, 0f)).as("vec"),
      array(
        struct(typedLit(Array(0f, 0f)).as("__gvec"),
          lit(0.1).as("__r"), lit(0.0).as("__rmin"),
          array(struct(lit(9).as("centroid_id"),
            typedLit(Array(0f, 1f)).as("cvec"))).as("__children")),
        struct(typedLit(Array(1f, 0f)).as("__gvec"),
          lit(0.05).as("__r"), lit(0.0).as("__rmin"),
          array(struct(lit(1).as("centroid_id"),
            typedLit(Array(1f, 0f)).as("cvec"))).as("__children"))).as("__groups"))
    val best = df.select(GraftColumnBridge.column(
        graft.functions.CosineArgMaxTwoLevel(
          GraftColumnBridge.expression(col("vec")),
          GraftColumnBridge.expression(col("__groups")))).as("b"))
      .select(col("b.centroid_id"), col("b.cosc")).collect()(0)
    assert(best.getInt(0) === 1, s"zero-super NaN lb pruned the true argmax: $best")
    assert(best.getDouble(1) === 1.0)
  }
}
