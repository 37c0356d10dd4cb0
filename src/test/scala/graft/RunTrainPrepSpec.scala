package graft

/** The TrainPrep production CLI: corpus in → clean corpus out through the
  * sink layer, with per-stage doc counts delivered as observe metrics on
  * the single write action (VERDICT r10 next #2).
  */
class RunTrainPrepSpec extends SparkSpecBase {
  import spark.implicits._

  test("execute writes the clean corpus through the sink and reports per-stage counts") {
    // DedupSpec's trainPrep fixture — one doc per removal family:
    // 1/11 exact dups (keep 1), 2/3 near-dups (keep 2), 4 contained in 5
    // (keep 5), 6/7 share an 8-token run (7 cleaned, both kept), 8 gated.
    val small = "aurora borealis shimmered over the frozen tundra late last night again"
    val bigTail = (1 to 80).map(i => s"filler$i token$i").mkString(" ")
    val run8 = "alpha bravo charlie delta echo foxtrot golf hotel"
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val near = "winter storms gather slowly above the northern mountain villages every single year"
    val docs = Seq(
      1L -> base, 11L -> base,
      2L -> near, 3L -> s"$near indeed",
      4L -> small, 5L -> s"$small $bigTail",
      6L -> s"unique six prefix text with several more very plain filler words $run8 and some closing words here",
      7L -> s"totally different seven opener sentence carrying its own spare vocabulary choices $run8 and another quite distinct ending follows now",
      8L -> "xx qq"
    ).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft-trainprep").toString
    docs.coalesce(1).write.mode("overwrite").parquet(s"$tmp/in")

    val cfg = RunTrainPrep.parse(Seq(
      "--in", s"$tmp/in", "--out", s"$tmp/out",
      "--min-quality", "0.0", "--bands", "16", "--rows-per-band", "1",
      "--jaccard", "0.4", "--pack-capacity", "16"))
    val report = RunTrainPrep.execute(spark, cfg)

    // every stage reported, counts match the fixture's removal ledger
    assert(report.stages.keySet === Set("input", "curated", "after_contain", "clean"))
    assert(report.stages("input") === 9L)
    assert(report.stages("curated") === 6L) // 11 exact, 3 near-dup, 8 gated
    assert(report.stages("after_contain") === 5L) // 4 contained in 5
    assert(report.stages("clean") === 5L) // span removal rewrites text, keeps rows
    // healthy corpus: the candidate-budget guard reports, and drops nothing
    assert(report.guard.getOrElse("dropped_postings", 0L) === 0L)

    // the sink artifact IS the pipeline output (row-identical to a direct run)
    val written = spark.read.parquet(s"$tmp/out/clean_corpus")
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val direct = graft.operators.TrainPrep.pipeline(docs, "doc_id", "text",
        minQuality = 0.0, bands = 16, rowsPerBand = 1, jaccardThreshold = 0.4)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(written === direct)
    assert(written.map(_._1) === Seq(1L, 2L, 5L, 6L, 7L))

    // --pack-capacity emits the packed twin: same docs, bins recompute from
    // the cumulative-sum rule (input has no `lang` column, so the shard is
    // the hashed-id fallback; every doc must still appear exactly once)
    val packed = spark.read.parquet(s"$tmp/out/clean_corpus_packed")
      .orderBy("doc_id")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("bin_id"))).toSeq
    assert(packed.map(_._1) === written.map(_._1))
    assert(packed.forall { case (_, n, bin) => n >= 0L && bin >= 0L })

    // --pack-split twin: same corpus, overflow docs split into <=capacity
    // sequences whose tokens conserve against the whole-doc packing above
    RunTrainPrep.execute(spark, cfg.copy(
      out = s"$tmp/out_split", packSplit = true))
    val split = spark.read.parquet(s"$tmp/out_split/clean_corpus_packed")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("seq_idx"),
        r.getAs[Long]("seq_tokens")))
    assert(split.forall(_._3 <= 16L)) // no piece over the context window
    val splitTotals = split.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    assert(splitTotals === packed.map(t => t._1 -> t._2).toMap) // conservation
  }

  test("--bpe-merges: learn → encode → pack in one invocation, binning on tokenizer counts") {
    // unique English-ish docs (no dedup interplay — this pins the BPE
    // tail, not the prep); enough shared character structure that five
    // merges really compress
    val docs = Seq(
      1L -> "the lower tower shows lower power the flower",
      2L -> "newest newer news renew the new",
      3L -> "single",
      4L -> "the lowest slower mower and the newest"
    ).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft-trainprep-bpe").toString
    docs.coalesce(1).write.mode("overwrite").parquet(s"$tmp/in")
    val cfg = RunTrainPrep.parse(Seq(
      "--in", s"$tmp/in", "--out", s"$tmp/out",
      "--min-quality", "0.0", "--bpe-merges", "5",
      "--pack-capacity", "8", "--pack-split"))
    RunTrainPrep.execute(spark, cfg)

    val clean = spark.read.parquet(s"$tmp/out/clean_corpus")
    val mergesDf = spark.read.parquet(s"$tmp/out/clean_corpus_bpe_merges")
    val merges = mergesDf.orderBy("merge_idx").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    assert(merges.nonEmpty && merges.size <= 5)
    // the written merge table IS learnMerges on the written clean corpus
    val direct = graft.operators.Bpe.learnMerges(clean, "clean_text", 5)
      .orderBy("merge_idx").collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(merges === direct)

    // encoded sequences: one row per clean doc; token CONSERVATION — each
    // doc's sequence length equals subwordStats' subword count under the
    // same merges (a dropped or duplicated subword anywhere breaks this)
    val encoded = spark.read.parquet(s"$tmp/out/clean_corpus_encoded")
    assert(encoded.count() === clean.count())
    val nIds = encoded.collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Long]("n_ids")).toMap
    val nSub = graft.operators.Bpe
      .subwordStats(clean, "doc_id", "clean_text", merges)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("n_subwords")).toMap
    nSub.foreach { case (id, ns) => assert(nIds(id) === ns, s"doc $id") }
    // ids decode through the vocabulary: every id in range, sequences
    // non-empty exactly when the doc has tokens
    val vocabSize = graft.operators.Bpe.vocabulary(clean, "clean_text", merges).count()
    encoded.collect().foreach { r =>
      val ids = r.getSeq[Long](r.fieldIndex("token_ids"))
      assert(ids.size === r.getAs[Long]("n_ids"))
      assert(ids.forall(id => id >= 1 && id <= vocabSize))
    }

    // the packed artifact bins on the ENCODED counts: per-doc seq_tokens
    // totals equal n_ids (not the whitespace count), and no piece exceeds
    // the capacity
    val packed = spark.read.parquet(s"$tmp/out/clean_corpus_packed")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("seq_tokens")))
    assert(packed.forall(_._2 <= 8L))
    val packTotals = packed.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    assert(packTotals === nIds.filter { case (id, _) => packTotals.contains(id) })
    assert(packTotals.keySet === nIds.keySet)
  }

  test("the containment candidate-budget guard surfaces in the run report when active") {
    // Guard-active fixture: 12 docs sharing one 5-token phrase ("covers
    // shared replica phrase plus") embedded in otherwise-unique English
    // text. They survive curation (pairwise Jaccard ≈ 4/20 < 0.4 — not
    // near-dups; distinct fingerprints; "the" keeps languageId=en) but the
    // shared grams carry df=12 > C = maxCandidates/anchorsPerDoc = 50/10,
    // so the containment index drops postings — the production report must
    // disclose that (VERDICT r11 next #6), while the clean corpus itself
    // is untouched (shared anchor hits ≤ 2 < minAnchorHits, so no
    // containment pair forms; the shared run is 5 < k=8 tokens, so no
    // span removal).
    val docs = (1L to 12L).map { i =>
      i -> (s"the opener$i word$i covers shared replica phrase plus " +
        s"tail${i}b tail${i}c tail${i}d tail${i}e tail${i}f")
    }.toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft-trainprep-guard").toString
    docs.coalesce(1).write.mode("overwrite").parquet(s"$tmp/in")
    val cfg = RunTrainPrep.parse(Seq(
      "--in", s"$tmp/in", "--out", s"$tmp/out",
      "--min-quality", "0.0", "--jaccard", "0.4", "--max-candidates", "50"))
    val report = RunTrainPrep.execute(spark, cfg)
    assert(report.stages("input") === 12L)
    assert(report.stages("clean") === 12L) // nothing removed...
    val dropped = report.guard.getOrElse("dropped_postings", 0L)
    val heavy = report.guard.getOrElse("heavy_postings", 0L)
    assert(dropped > 0L) // ...but the budget pressure is DISCLOSED
    assert(heavy >= dropped)
    // each heavy anchor gram keeps its C=5 lowest postings of df=12
    assert(dropped % 7L === 0L)
  }

  test("parse enforces required flags and rejects unknown arguments") {
    intercept[IllegalArgumentException](RunTrainPrep.parse(Seq("--out", "/tmp/x")))
    intercept[IllegalArgumentException](RunTrainPrep.parse(Seq("--in", "/tmp/x")))
    intercept[IllegalArgumentException](
      RunTrainPrep.parse(Seq("--in", "a", "--out", "b", "--bogus")))
    val cfg = RunTrainPrep.parse(Seq("--in", "a", "--out", "b", "--hash64",
      "--contain", "0.9", "--substring-k", "6", "--table", "t"))
    assert(cfg.hash64 && cfg.contain === 0.9 && cfg.substringK === 6 && cfg.table === "t")
  }

  test("parse fails loudly on non-positive numeric flags (ADVICE r11)") {
    def bad(flags: String*) = intercept[IllegalArgumentException](
      RunTrainPrep.parse(Seq("--in", "a", "--out", "b") ++ flags))
    bad("--pack-capacity", "0") // would reach floor(sum/0.0) = garbage bins
    bad("--pack-capacity", "-5")
    bad("--bands", "0")
    bad("--rows-per-band", "-1")
    bad("--substring-k", "0")
    bad("--max-candidates", "0")
    bad("--pack-shard-buckets", "0")
    bad("--pack-split") // without --pack-capacity it would be a silent no-op
    bad("--lm-max-ppl", "0")
    bad("--lm-max-ppl", "-2.5")
    // positive values still parse
    val ok = RunTrainPrep.parse(Seq("--in", "a", "--out", "b",
      "--pack-capacity", "1024", "--max-candidates", "128",
      "--lm-max-ppl", "40"))
    assert(ok.packCapacity === Some(1024L) && ok.maxCandidates === 128)
    assert(ok.lmMaxPpl === Some(40.0))
  }

  test("--lm-max-ppl arms the perplexity gate: the out-of-distribution doc drops, after_lm reports") {
    // Nine docs with conventional, bigram-overlapping English phrasing and
    // one whose stopwords keep languageId=en but whose bigram transitions
    // are out-of-distribution (high perplexity under the corpus-trained
    // LM). No doc pair is a near-dup and the quality gate is disarmed, so
    // CURATION KEEPS ALL TEN — only the LM gate separates the odd one out.
    val normal = Seq(
      1L -> "the cat sat on the mat and the dog sat on the rug",
      2L -> "the dog ran over the hill and the cat ran into the barn",
      3L -> "a bird sat on the fence and a cat sat under the tree",
      4L -> "the horse ran over the field and the bird flew over the barn",
      5L -> "a fox ran into the woods and the dog sat by the fire",
      6L -> "the cow sat in the field and a horse sat by the gate",
      7L -> "a mouse ran under the floor and the fox sat on the wall",
      8L -> "the sheep ran over the bridge and a cow ran into the pen",
      9L -> "a goat sat by the river and the mouse ran up the stairs")
    val odd = 10L -> "plasma the of quantum a the lattice of to warp a the flux of"
    val docs = (normal :+ odd).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft-lmppl").toString
    docs.coalesce(1).write.mode("overwrite").parquet(s"$tmp/in")

    // semantic precondition, asserted not assumed: under the corpus LM the
    // odd doc's perplexity strictly exceeds every conventional doc's
    val ppl = graft.operators.TextAnalysis
      .bigramLmScore(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val maxNormal = normal.map(d => ppl(d._1)).max
    assert(ppl(10L) > maxNormal,
      s"fixture broke: odd=${ppl(10L)} vs maxNormal=$maxNormal")
    val cut = (maxNormal + ppl(10L)) / 2

    val report = RunTrainPrep.execute(spark, RunTrainPrep.parse(Seq(
      "--in", s"$tmp/in", "--out", s"$tmp/out",
      "--min-quality", "0.0", "--lm-max-ppl", cut.toString)))
    assert(report.stages("input") === 10L)
    assert(report.stages("curated") === 10L) // curation alone keeps all ten
    assert(report.stages("after_lm") === 9L) // the gate drops exactly the odd doc
    val kept = spark.read.parquet(s"$tmp/out/clean_corpus")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept === normal.map(_._1))

    // default-off: without the flag the stage neither runs nor reports
    val off = RunTrainPrep.execute(spark, RunTrainPrep.parse(Seq(
      "--in", s"$tmp/in", "--out", s"$tmp/out_off", "--min-quality", "0.0")))
    assert(!off.stages.contains("after_lm"))
    assert(off.stages("clean") === 10L)
  }

  test("--lm-ref scores the gate against a FIXED trusted model (VERDICT r13 #4)") {
    // trusted reference: conventional English phrasing. Corpus: two docs
    // phrased like the reference, two phrased like each other but NOT
    // like the reference (under a corpus-trained LM the pair would look
    // normal — they are each other's evidence; under the FIXED reference
    // model both price high). The fixed-model gate must drop what the
    // self-trained gate cannot.
    val ref = Seq(
      101L -> "the cat sat on the mat and the dog sat on the rug",
      102L -> "the dog ran over the hill and the cat ran into the barn",
      103L -> "a bird sat on the fence and a cat sat under the tree")
      .toDF("doc_id", "text")
    val corpus = Seq(
      1L -> "the cat ran over the mat and the dog sat under the tree",
      2L -> "a dog sat on the hill and the bird ran into the rug",
      3L -> "lattice the of flux quantum warp the of plasma drift the of",
      4L -> "drift the of warp plasma flux the of lattice quantum the of")
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft-lmref").toString
    corpus.coalesce(1).write.mode("overwrite").parquet(s"$tmp/in")
    ref.coalesce(1).write.mode("overwrite").parquet(s"$tmp/ref")

    // semantic precondition, asserted not assumed: under the REFERENCE
    // model the odd pair prices above the conventional docs
    val model = graft.operators.TextAnalysis.trainBigramLm(ref, "text")
    val ppl = graft.operators.TextAnalysis
      .bigramLmScoreWith(corpus, "doc_id", "text", model)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val cut = (Seq(1L, 2L).map(ppl).max + Seq(3L, 4L).map(ppl).min) / 2
    assert(Seq(3L, 4L).map(ppl).min > Seq(1L, 2L).map(ppl).max,
      s"fixture broke: $ppl")

    val report = RunTrainPrep.execute(spark, RunTrainPrep.parse(Seq(
      "--in", s"$tmp/in", "--out", s"$tmp/out",
      "--min-quality", "0.0", "--lm-max-ppl", cut.toString,
      "--lm-ref", s"$tmp/ref", "--lm-ref-broadcast")))
    assert(report.stages("after_lm") === 2L)
    val kept = spark.read.parquet(s"$tmp/out/clean_corpus")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept === Seq(1L, 2L))

    // dependent flags fail at parse: a reference without an armed gate
    // (and a broadcast hint without a reference) are silent no-ops
    intercept[IllegalArgumentException](RunTrainPrep.parse(Seq(
      "--in", "a", "--out", "b", "--lm-ref", "p")))
    intercept[IllegalArgumentException](RunTrainPrep.parse(Seq(
      "--in", "a", "--out", "b", "--lm-max-ppl", "30", "--lm-ref-broadcast")))
  }

  test("--lm-kn: the gate scores with Kneser-Ney smoothing — CLI keep set " +
      "equals the operator's own filter; flag dependencies fail at parse") {
    // same fixture class as the add-1 gate test: nine conventional docs,
    // one with out-of-distribution transitions; no near-dups, quality
    // gate disarmed, so only the LM gate separates them
    val normal = Seq(
      1L -> "the cat sat on the mat and the dog sat on the rug",
      2L -> "the dog ran over the hill and the cat ran into the barn",
      3L -> "a bird sat on the fence and a cat sat under the tree",
      4L -> "the horse ran over the field and the bird flew over the barn",
      5L -> "a fox ran into the woods and the dog sat by the fire",
      6L -> "the cow sat in the field and a horse sat by the gate",
      7L -> "a mouse ran under the floor and the fox sat on the wall",
      8L -> "the sheep ran over the bridge and a cow ran into the pen",
      9L -> "a goat sat by the river and the mouse ran up the stairs")
    val odd = 10L -> "plasma the of quantum a the lattice of to warp a the flux of"
    val docs = (normal :+ odd).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft-lmkn").toString
    docs.coalesce(1).write.mode("overwrite").parquet(s"$tmp/in")

    // the pin is CLI ≡ the operator's own filter, not which doc is most
    // perplexed: KN's continuation weighting legitimately REORDERS this
    // corpus relative to add-1 (the odd doc's "the of"/"a the" bigrams
    // back off through high-continuation words and price mid-pack, while
    // conventional-but-unique transitions like "by the gate" price high)
    // — a cut at the median keeps a both-smoothing-agnostic test honest.
    // That reordering is ALSO asserted: under add-1 the odd doc is the
    // corpus max (the add-1 gate test's fixture precondition); under KN
    // it must not be, or this comment is stale.
    val ppl = graft.operators.TextAnalysis
      .bigramLmScoreKn(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(ppl(10L) < ppl.values.max, s"KN no longer reorders: $ppl")
    val sortedPpl = ppl.values.toSeq.sorted
    val cut = (sortedPpl(4) + sortedPpl(5)) / 2 // between the 5th and 6th
    val expectKept = ppl.filter(_._2 <= cut).keys.toSeq.sorted

    val report = RunTrainPrep.execute(spark, RunTrainPrep.parse(Seq(
      "--in", s"$tmp/in", "--out", s"$tmp/out",
      "--min-quality", "0.0", "--lm-max-ppl", cut.toString, "--lm-kn")))
    assert(report.stages("after_lm") === expectKept.length.toLong)
    val kept = spark.read.parquet(s"$tmp/out/clean_corpus")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept === expectKept)

    // --lm-kn-order 3: the TRIGRAM gate — same identity pin against the
    // operator's own filter at a median cut of the trigram prices
    val ppl3 = graft.operators.TextAnalysis
      .ngramLmScoreKn(docs, "doc_id", "text", order = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val sorted3 = ppl3.values.toSeq.sorted
    val cut3 = (sorted3(4) + sorted3(5)) / 2
    val expect3 = ppl3.filter(_._2 <= cut3).keys.toSeq.sorted
    val report3 = RunTrainPrep.execute(spark, RunTrainPrep.parse(Seq(
      "--in", s"$tmp/in", "--out", s"$tmp/out3",
      "--min-quality", "0.0", "--lm-max-ppl", cut3.toString,
      "--lm-kn", "--lm-kn-order", "3")))
    assert(report3.stages("after_lm") === expect3.length.toLong)
    val kept3 = spark.read.parquet(s"$tmp/out3/clean_corpus")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept3 === expect3)

    // --lm-kn without an armed gate, or combined with a fixed reference
    // model (no continuation counts in the model-as-data shape): parse fails
    intercept[IllegalArgumentException](RunTrainPrep.parse(Seq(
      "--in", "a", "--out", "b", "--lm-kn")))
    intercept[IllegalArgumentException](RunTrainPrep.parse(Seq(
      "--in", "a", "--out", "b", "--lm-max-ppl", "30", "--lm-kn", "--lm-ref", "p")))
    // order without the KN gate, and orders outside {2..5}: parse fails
    // (r16 widened the ceiling to 5 — the orders KenLM deploys)
    intercept[IllegalArgumentException](RunTrainPrep.parse(Seq(
      "--in", "a", "--out", "b", "--lm-max-ppl", "30", "--lm-kn-order", "3")))
    intercept[IllegalArgumentException](RunTrainPrep.parse(Seq(
      "--in", "a", "--out", "b", "--lm-max-ppl", "30", "--lm-kn",
      "--lm-kn-order", "6")))
  }

  test("--embeddings/--sem-threshold arm the SemDeDup stage: semantic " +
      "replicas collapse to one survivor, no-embedding docs ride through") {
    // six unique plain-English docs (curation keeps all); an EXTERNAL
    // embedding table where docs 1-3 are semantic replicas (near-collinear
    // vectors), 4-5 distinct, and 6 has NO embedding row at all. The
    // stage must drop exactly two of {1,2,3} — whichever two sit closer
    // to the learned centroid — and must not touch 4, 5, or 6.
    val docs = Seq(
      1L -> "the cat sat on the mat and the dog sat on the rug",
      2L -> "the dog ran over the hill and the cat ran into the barn",
      3L -> "a bird sat on the fence and a cat sat under the tree",
      4L -> "the horse ran over the field and the bird flew over the barn",
      5L -> "a fox ran into the woods and the dog sat by the fire",
      6L -> "the cow sat in the field and a horse sat by the gate")
      .toDF("doc_id", "text")
    val emb = Seq(
      1L -> Array(1f, 0f, 0f), 2L -> Array(1f, 0.01f, 0f),
      3L -> Array(1f, 0.02f, 0f), 4L -> Array(0f, 1f, 0f),
      5L -> Array(0f, 0f, 1f))
      .toDF("vec_id", "embedding")
    val tmp = java.nio.file.Files.createTempDirectory("graft-semstage").toString
    docs.coalesce(1).write.mode("overwrite").parquet(s"$tmp/in")
    emb.coalesce(1).write.mode("overwrite").parquet(s"$tmp/emb")

    val report = RunTrainPrep.execute(spark, RunTrainPrep.parse(Seq(
      "--in", s"$tmp/in", "--out", s"$tmp/out", "--min-quality", "0.0",
      "--embeddings", s"$tmp/emb", "--sem-threshold", "0.999",
      "--sem-centroids", "2")))
    assert(report.stages("curated") === 6L)
    assert(report.stages("after_sem") === 4L)
    val kept = spark.read.parquet(s"$tmp/out/clean_corpus")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(Set(4L, 5L, 6L).subsetOf(kept))
    assert((kept & Set(1L, 2L, 3L)).size === 1)

    // default-off, and half-armed configurations fail at parse
    val off = RunTrainPrep.execute(spark, RunTrainPrep.parse(Seq(
      "--in", s"$tmp/in", "--out", s"$tmp/out_off", "--min-quality", "0.0")))
    assert(!off.stages.contains("after_sem") && off.stages("clean") === 6L)
    intercept[IllegalArgumentException](RunTrainPrep.parse(Seq(
      "--in", "a", "--out", "b", "--embeddings", "p")))
    intercept[IllegalArgumentException](RunTrainPrep.parse(Seq(
      "--in", "a", "--out", "b", "--sem-threshold", "0.9")))
    intercept[IllegalArgumentException](RunTrainPrep.parse(Seq(
      "--in", "a", "--out", "b", "--embeddings", "p", "--sem-threshold", "1.5")))
  }

  test("--select-target-col/--select-top-n arm the DSIR pre-stage; only the selection enters the pipeline") {
    import org.apache.spark.sql.functions.col
    // target docs are cat-themed; raw corpus mixes cat- and machine-themed.
    // The machine doc should rank LAST for target-likeness and fall outside
    // the top-3 budget; all text is plain English so curation keeps
    // whatever the selection admits.
    val docs = Seq(
      (1L, "the cat sat on the mat and the cat purred", true),
      (2L, "a cat ran up the tree and the cat slept", true),
      (3L, "the cat chased a mouse around the old barn", false),
      (4L, "a kitten and a cat played near the fence", false),
      (5L, "the compiler emits bytecode and the linker maps sections", false))
      .toDF("doc_id", "text", "is_cat")
    val tmp = java.nio.file.Files.createTempDirectory("graft-dsir").toString
    docs.coalesce(1).write.mode("overwrite").parquet(s"$tmp/in")

    // expected selection, computed through the operator directly
    val expect = graft.operators.Sampling
      .importanceSelect(docs, "doc_id", "text", col("is_cat"), topN = 3,
        buckets = 64)
      .collect().map(_.getLong(1)).sorted.toSeq

    val report = RunTrainPrep.execute(spark, RunTrainPrep.parse(Seq(
      "--in", s"$tmp/in", "--out", s"$tmp/out",
      "--min-quality", "0.0",
      "--select-target-col", "is_cat", "--select-top-n", "3",
      "--select-buckets", "64")))
    assert(report.stages("input") === 3L) // the selection, not the corpus
    val kept = spark.read.parquet(s"$tmp/out/clean_corpus")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept === expect)
    assert(!expect.contains(5L)) // the off-domain doc fell outside the budget

    // --select-frac: the fraction-of-corpus budget — 0.6 of 5 docs derives
    // the same topN = 3 and must reproduce the fixed-N selection exactly
    val reportFrac = RunTrainPrep.execute(spark, RunTrainPrep.parse(Seq(
      "--in", s"$tmp/in", "--out", s"$tmp/out_frac",
      "--min-quality", "0.0",
      "--select-target-col", "is_cat", "--select-frac", "0.6",
      "--select-buckets", "64")))
    assert(reportFrac.stages("input") === 3L)
    val keptFrac = spark.read.parquet(s"$tmp/out_frac/clean_corpus")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(keptFrac === expect)

    // dependent flags fail loudly at parse, not after the run
    intercept[IllegalArgumentException](RunTrainPrep.parse(Seq(
      "--in", "a", "--out", "b", "--select-top-n", "3")))
    intercept[IllegalArgumentException](RunTrainPrep.parse(Seq(
      "--in", "a", "--out", "b", "--select-target-col", "is_cat")))
    intercept[IllegalArgumentException](RunTrainPrep.parse(Seq(
      "--in", "a", "--out", "b",
      "--select-target-col", "is_cat", "--select-top-n", "0")))
    // frac-specific: out-of-range, lone, and double-budget forms all fail
    intercept[IllegalArgumentException](RunTrainPrep.parse(Seq(
      "--in", "a", "--out", "b",
      "--select-target-col", "is_cat", "--select-frac", "1.5")))
    intercept[IllegalArgumentException](RunTrainPrep.parse(Seq(
      "--in", "a", "--out", "b", "--select-frac", "0.5")))
    intercept[IllegalArgumentException](RunTrainPrep.parse(Seq(
      "--in", "a", "--out", "b", "--select-target-col", "is_cat",
      "--select-top-n", "3", "--select-frac", "0.5")))
    // a non-boolean target column reports before the run, not as an ANSI
    // cast error after the expensive scan (the modality-col precedent)
    val badType = intercept[IllegalArgumentException](
      RunTrainPrep.execute(spark, RunTrainPrep.parse(Seq(
        "--in", s"$tmp/in", "--out", s"$tmp/out_bad",
        "--select-target-col", "text", "--select-top-n", "3"))))
    assert(badType.getMessage.contains("must be BOOLEAN"))
  }

  test("--select-classifier nb swaps the selection model to the " +
      "Naive-Bayes quality classifier (VERDICT r14 next #5)") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "the cat sat on the mat and the cat purred", true),
      (2L, "a cat ran up the tree and the cat slept", true),
      (3L, "the cat chased a mouse around the old barn", false),
      (4L, "a kitten and a cat played near the fence", false),
      (5L, "the compiler emits bytecode and the linker maps sections", false))
      .toDF("doc_id", "text", "is_cat")
    val tmp = java.nio.file.Files.createTempDirectory("graft-nbsel").toString
    docs.coalesce(1).write.mode("overwrite").parquet(s"$tmp/in")
    val expect = graft.operators.Sampling
      .qualitySelect(docs, "doc_id", "text", col("is_cat"), topN = 3,
        buckets = 64)
      .collect().map(_.getLong(1)).sorted.toSeq
    val report = RunTrainPrep.execute(spark, RunTrainPrep.parse(Seq(
      "--in", s"$tmp/in", "--out", s"$tmp/out",
      "--min-quality", "0.0",
      "--select-target-col", "is_cat", "--select-top-n", "3",
      "--select-buckets", "64", "--select-classifier", "nb")))
    assert(report.stages("input") === 3L)
    val kept = spark.read.parquet(s"$tmp/out/clean_corpus")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept === expect)
    assert(!expect.contains(5L)) // the off-domain doc fell outside the budget
    // unknown classifier fails at parse
    intercept[IllegalArgumentException](RunTrainPrep.parse(Seq(
      "--in", "a", "--out", "b", "--select-target-col", "is_cat",
      "--select-top-n", "3", "--select-classifier", "svm")))
  }
}
