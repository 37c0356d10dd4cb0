package graft

import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

/** Text curation signals: counts, ratios, language-id, fingerprints. */
class TextAnalysisSpec extends SparkSpecBase {
  import spark.implicits._

  private def one[T](text: String, c: org.apache.spark.sql.Column): T = {
    Seq(Option(text)).toDF("text").select(c).head().get(0).asInstanceOf[T]
  }

  test("tokenCount handles null/empty/whitespace") {
    assert(one[Int]("one two three", TextAnalysis.tokenCount(col("text"))) === 3)
    assert(one[Int]("", TextAnalysis.tokenCount(col("text"))) === 0)
    assert(one[Int]("   ", TextAnalysis.tokenCount(col("text"))) === 0)
    assert(one[Int](null, TextAnalysis.tokenCount(col("text"))) === 0)
  }

  test("ratios are bounded and sane") {
    val alpha = one[Double]("abc 123", TextAnalysis.alphaRatio(col("text")))
    assert(alpha > 0.4 && alpha < 0.5) // 3 letters / 7 chars
    val punct = one[Double]("a,b.c", TextAnalysis.punctRatio(col("text")))
    assert(punct === 0.4)
    val q = one[Double]("A normal english sentence, with words.", TextAnalysis.qualityScore(col("text")))
    assert(q > 0.0 && q <= 1.0)
  }

  test("languageId picks marker-dominant language, und when nothing matches") {
    assert(one[String]("the cat and the dog is a pet",
      TextAnalysis.languageId(col("text"))) === "en")
    assert(one[String]("el perro y la casa de los gatos",
      TextAnalysis.languageId(col("text"))) === "es")
    assert(one[String]("xyzzy plugh qwerty",
      TextAnalysis.languageId(col("text"))) === "und")
  }

  test("native languageId is identical to the interpreted column formulation") {
    // covers: dominant language, multi-language marker words ("la" scores es
    // AND fr, "und" scores de), fixed-order tie-breaks, unicode (zh), case
    // folding, padding whitespace, empty and marker-free strings
    val texts = Seq(
      "the cat and the dog is a pet",
      "el perro y la casa de los gatos",
      "la la la",                       // es/fr tie -> first in fixed order (es)
      "le chat est sur la table et les chiens",
      "der hund ist nicht das problem und die katze",
      "的 是 了 在 我 不",
      "THE AND OF TO IS A",             // case folding
      "  the   spaced    and  text  ",  // whitespace runs
      "de de de",                       // es "de" vs de "der": es wins
      "und",                            // de marker only
      "xyzzy plugh qwerty",
      "",
      "word",
      null                              // null text: "und" in BOTH forms
    )
    val df = texts.toDF("text")
    val both = df.select(
      TextAnalysis.languageId(col("text")).as("native"),
      TextAnalysis.languageIdColumns(col("text")).as("interp")).collect()
    both.zip(texts).foreach { case (r, t) =>
      assert(r.getString(0) === r.getString(1), s"divergence on '$t'")
    }
    assert(both.map(_.getString(0)).toSeq ===
      Seq("en", "es", "es", "fr", "de", "zh", "en", "en", "es", "de", "und", "und", "und", "und"))
  }

  test("textStats struct is field-for-field identical to the column formulations") {
    // whitespace-rich multi-byte fuzz (the simHash64 pattern) + the edge
    // strings that exercise every split/trim quirk the expression replicates
    val rng = new scala.util.Random(1234)
    val alphabet = "the and la der 的 a \t\n€字e.;!? KKİ "
    val fuzz = Seq.fill(80)(
      Seq.fill(rng.nextInt(40))(alphabet(rng.nextInt(alphabet.length))).mkString)
    val samples = Seq(
      "the cat and the dog is a pet", "el perro y la casa de los gatos",
      "la la la", "xyzzy plugh qwerty", "", " ", "   ", "\t", "\tleading tab",
      "trailing tab\t", "a  b   c", "  padded  ", "tab\tsep\ttokens",
      "line\nbreaks\rhere", "ünïcodé tökens 漢字", "punct.,;:!?only",
      "verylongsingletokenwithoutanywhitespaceatall", "a", ".", "的 是 了",
      "THE AND OF TO IS A", null) ++ fuzz
    val df = samples.toDF("text").select(
      col("text"),
      TextAnalysis.textStats(col("text")).as("st"),
      TextAnalysis.tokenCount(col("text")).as("c_tokens"),
      size(split(lower(trim(col("text"))), "\\s+")).as("c_split"),
      TextAnalysis.subwordCountEstimate(col("text")).as("c_subwords"),
      length(regexp_replace(col("text"), "[^A-Za-z]", "")).as("c_alpha"),
      length(regexp_replace(col("text"), "[^.,;:!?]", "")).as("c_punct"),
      length(regexp_replace(col("text"), "\\s+", "")).as("c_nonspace"),
      size(org.apache.spark.sql.functions.filter(
        split(lower(trim(col("text"))), "\\s+"),
        w => w.isin(TextAnalysis.LangMarkers.head._2.map(x => x: Any): _*))).as("c_en"),
      TextAnalysis.languageId(col("text")).as("c_lang"))
    df.collect().foreach { r =>
      val t = r.getAs[String]("text")
      if (t == null) {
        assert(r.isNullAt(1), "null text must yield a null stats struct")
      } else {
        val st = r.getStruct(1)
        assert(st.getInt(0) === r.getInt(2), s"n_tokens on '$t'")
        assert(st.getInt(1) === r.getInt(3), s"n_split_tokens on '$t'")
        assert(st.getInt(2) === r.getInt(4), s"subword_sum on '$t'")
        assert(st.getInt(3) === r.getInt(5), s"n_alpha on '$t'")
        assert(st.getInt(4) === r.getInt(6), s"n_punct on '$t'")
        assert(st.getInt(5) === r.getInt(7), s"n_nonspace on '$t'")
        assert(st.getInt(6) === r.getInt(8), s"en_hits on '$t'")
        assert(st.getString(7) === r.getString(9), s"lang_id on '$t'")
      }
    }
  }

  test("native word counts equal the explode+filter+groupBy formulation") {
    val rng = new scala.util.Random(55)
    val alphabet = "ab the ab \t\n字 c "
    val fuzz = Seq.fill(60)(
      Seq.fill(rng.nextInt(40))(alphabet(rng.nextInt(alphabet.length))).mkString)
    val samples = Seq("the the the cat", "", " ", "\tx\ty\tx", "solo",
      "a  b   a", "UPPER upper", null) ++ fuzz
    val docs = samples.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val native = docs.select(col("doc_id").as("__tid"),
        explode({
          import org.apache.spark.sql.GraftColumnBridge
          GraftColumnBridge.column(graft.functions.WordCountsExpr(
            GraftColumnBridge.expression(lower(trim(col("text").cast("string"))))))
        }).as(Seq("__w", "tf")))
      .select(col("__tid"), col("__w"), col("tf").cast("long").as("tf"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val composed = TextAnalysis.wordCountsColumns(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(native === composed)
  }

  test("native fingerprint collapse is bit-identical to the regex formulation") {
    val rng = new scala.util.Random(77)
    val alphabet = "aB \t\n\r\f€字. K"
    val fuzz = Seq.fill(100)(
      Seq.fill(rng.nextInt(30))(alphabet(rng.nextInt(alphabet.length))).mkString)
    val samples = Seq("", " ", "  ", "\t", "a", " a ", "a  b", "\ta\tb\t",
      "Mixed CASE Text", "uni çode 字 here", "\n\n\n", "x", null) ++ fuzz
    val df = samples.toDF("text").select(
      TextAnalysis.fingerprint(col("text")).as("native"),
      TextAnalysis.fingerprintRegex(col("text")).as("regex"))
    df.collect().zip(samples).foreach { case (r, s) =>
      assert(r.getAs[String]("native") === r.getAs[String]("regex"), s"mismatch on '$s'")
    }
  }

  test("fingerprint is whitespace/case insensitive, content sensitive") {
    val f1 = one[String]("Hello   World", TextAnalysis.fingerprint(col("text")))
    val f2 = one[String]("  hello world ", TextAnalysis.fingerprint(col("text")))
    val f3 = one[String]("hello worlds", TextAnalysis.fingerprint(col("text")))
    assert(f1 === f2)
    assert(f1 !== f3)
  }

  test("fingerprint64 groups exactly like the md5 fingerprint (scale twin)") {
    // same normalization, different hash: the 64-bit twin must induce the
    // SAME partition of documents as the oracle-checked md5 form, and match
    // the xxhash64-over-regex-collapse column formulation bit-for-bit
    val samples = Seq("Hello   World", "  hello world ", "hello worlds",
      "", " ", "\ta\tb\t", "a  b", "uni çode 字 here", null)
    val rows = samples.toDF("text").select(
      TextAnalysis.fingerprint(col("text")).as("md5fp"),
      TextAnalysis.fingerprint64(col("text")).as("fp64"),
      xxhash64(trim(regexp_replace(lower(col("text")), "\\s+", " "))).as("fp64regex"))
      .collect()
    rows.foreach(r => assert(r.get(1) === r.get(2)))
    val byMd5 = rows.groupBy(_.get(0)).view.mapValues(_.map(_.get(1)).toSet)
    byMd5.foreach { case (_, fp64s) => assert(fp64s.size === 1) }
    assert(rows.map(_.get(1)).toSet.size === byMd5.size)
  }

  test("subword estimate >= word count, rolling hash order-sensitive") {
    val sub = one[Int]("internationalization is long", TextAnalysis.subwordCountEstimate(col("text")))
    assert(sub >= 3)
    val h1 = one[Long]("a b c", TextAnalysis.rollingHash(col("text")))
    val h2 = one[Long]("c b a", TextAnalysis.rollingHash(col("text")))
    assert(h1 !== h2)
  }

  test("repetition signals: boilerplate scores high, varied text low") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spam spam spam spam spam spam"), // 1 distinct word, 1 bigram repeated 5×
      (2L, "one two three four five six"),   // all distinct, every bigram unique
      (3L, "solo")                            // shorter than the n-gram
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionSignals(docs, "doc_id", "text", n = 2)
      .orderBy("doc_id").collect()
    val spam = out(0)
    assert(spam.getAs[Int]("word_cnt") === 6)
    assert(spam.getAs[Double]("dup_word_frac") > 0.8)
    assert(spam.getAs[Long]("top_ngram_cnt") === 5L)
    assert(spam.getAs[Double]("top_ngram_frac") > 1.0) // overlapping grams can exceed 1
    val varied = out(1)
    assert(varied.getAs[Double]("dup_word_frac") === 0.0)
    assert(varied.getAs[Long]("top_ngram_cnt") === 1L)
    val solo = out(2)
    assert(solo.getAs[Int]("word_cnt") === 1)
    assert(solo.getAs[Long]("top_ngram_cnt") === 0L)
  }

  test("redactPii replaces each category with its typed placeholder") {
    val in = "mail bob.smith+x@corp.example.org host 192.168.0.1 " +
      "call +44 555-1234 acct 123456789 ok 12345678 end"
    val out = one[String](in, TextAnalysis.redactPii(col("text")))
    assert(out === "mail <EMAIL> host <IP> call <PHONE> acct <ID> ok 12345678 end")
  }

  test("piiCounts attributes overlapping spans to the category that redacts them") {
    // an all-digit local part must count as EMAIL (redacted first), never ID;
    // a dotted digit run as IP, never four short runs
    val in = "x 123456789@nums.example.com and 10.0.0.1 and 987654321 y"
    val counts = TextAnalysis.piiCounts(col("text"))
    val row = Seq(in).toDF("text")
      .select(counts.map { case (n, c) => c.as(n) }: _*).head()
    assert(row.getAs[Long]("n_email") === 1L)
    assert(row.getAs[Long]("n_ip") === 1L)
    assert(row.getAs[Long]("n_phone") === 0L)
    assert(row.getAs[Long]("n_id") === 1L)
    // and the redacted text agrees with the counts
    val red = one[String](in, TextAnalysis.redactPii(col("text")))
    assert(red === "x <EMAIL> and <IP> and <ID> y")
  }

  test("tfIdfTopTerms ranks rare terms above ubiquitous ones") {
    val docs = Seq(
      (1L, "common rare common"),
      (2L, "common other"),
      (3L, "common third")).toDF("doc_id", "text")
    val out = TextAnalysis.tfIdfTopTerms(docs, "doc_id", "text", k = 2)
      .orderBy("doc_id", "rnk").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3)))
    // doc 1: tf(common)=2 df=3 → 2·(3/3)=2.0; tf(rare)=1 df=1 → 1·(3/1)=3.0
    assert(out(0) === ((1L, 1, "rare", 3.0)))
    assert(out(1) === ((1L, 2, "common", 2.0)))
    // doc 2: other (3.0) beats common (1.0)
    assert(out(2) === ((2L, 1, "other", 3.0)))
    assert(out(3) === ((2L, 2, "common", 1.0)))
  }

  /** The operator's own arithmetic, replicated independently: round-6
    * decimal per position, exact sum, double mean — the oracle discipline.
    */
  private def lp6(c: Long, cc: Long, v: Long): BigDecimal =
    BigDecimal(math.log((c + 1.0) / (cc + 1.0 * v)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP)

  test("bigramLmScore: hand-built corpus model, exact entropy, degenerate docs") {
    val docs = Seq(
      (1L, "a b a b"),  // bigrams (a,b)x2 (b,a)x1
      (2L, "a a"),      // (a,a)x1
      (3L, "c"),        // 1 token: no bigrams
      (4L, ""),         // empty
      (5L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = TextAnalysis.bigramLmScore(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out.length === 5) // every doc comes back
    // corpus model: c(a,b)=2 c(b,a)=1 c(a,a)=1; ctx a=3 b=1; V={a,b,c}=3
    // doc 1: ln P(b|a)=ln(3/6) twice, ln P(a|b)=ln(2/4) once — all ln 0.5
    val d1slp = lp6(2, 3, 3) * 2 + lp6(1, 1, 3)
    val d1h = (-(d1slp.toDouble) / 3) // unrounded quotient — the contract
    assert(out(0).getLong(1) === 3L)
    assert(out(0).getDouble(2) === d1h)
    assert(out(0).getDouble(3) ===
      BigDecimal(math.exp(d1h)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // doc 2: one position, P(a|a) = (1+1)/(3+3) = 1/3
    val d2h = -(lp6(1, 3, 3).toDouble) / 1
    assert(out(1).getLong(1) === 1L)
    assert(out(1).getDouble(2) === d2h)
    // docs 3-5: no bigrams → count 0, null entropy/ppl
    Seq(2, 3, 4).foreach { i =>
      assert(out(i).getLong(1) === 0L)
      assert(out(i).isNullAt(2) && out(i).isNullAt(3))
    }
  }

  test("bigramLmScore is invariant under input partitioning") {
    val docs = Seq.tabulate(60)(i => (i.toLong, s"tok${i % 7} tok${i % 3} tok${i % 5} end"))
      .toDF("doc_id", "text")
    val a = TextAnalysis.bigramLmScore(docs, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    val b = TextAnalysis.bigramLmScore(docs.repartition(13), "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    assert(a === b) // decimal-sum discipline: no partition-merge-order drift
  }

  test("fixed-reference model: OOV smoothing, and self-trained ≡ corpus-trained (VERDICT r13 #4)") {
    // reference slice: only a/b language; scored corpus adds an OOV doc
    val ref = Seq((1L, "a b a b"), (2L, "a a")).toDF("doc_id", "text")
    val model = TextAnalysis.trainBigramLm(ref, "text")
    assert(model.vocabSize === 2L) // {a, b}
    val docs = Seq(
      (1L, "a b a b"),
      (2L, "x y"),   // fully OOV: each position prices at ln(1/(1·2 + ... )) — see below
      (3L, "a q"),   // in-model context `a` (cc=3), unseen continuation q
      (4L, "")).toDF("doc_id", "text")
    val out = TextAnalysis
      .bigramLmScoreWith(docs, "doc_id", "text", model)
      .orderBy("doc_id").collect()
    // doc 1 scores exactly as in-model: c(a,b)=2 ctx(a)=3, c(b,a)=1 ctx(b)=1, V=2
    val d1slp = lp6(2, 3, 2) * 2 + lp6(1, 1, 2)
    assert(out(0).getLong(1) === 3L)
    assert(out(0).getDouble(2) === -(d1slp.toDouble) / 3)
    // doc 2: bigram (x,y) has c=0 AND cc=0 → ln(1/(0+2)) = −ln V exactly
    assert(out(1).getLong(1) === 1L)
    assert(out(1).getDouble(2) === -(lp6(0, 0, 2).toDouble))
    // doc 3: context `a` seen (cc=3), continuation unseen (c=0)
    assert(out(2).getDouble(2) === -(lp6(0, 3, 2).toDouble))
    // doc 4: no bigrams → null, same contract as the self-trained path
    assert(out(3).getLong(1) === 0L && out(3).isNullAt(2))

    // scoring a corpus against a model trained on ITSELF reproduces the
    // self-trained operator exactly (left joins degrade to inner: every
    // corpus bigram is in its own model by construction)
    val corpus = Seq.tabulate(40)(i => (i.toLong, s"w${i % 5} w${i % 3} w${i % 7} end"))
      .toDF("doc_id", "text")
    val selfScored = TextAnalysis
      .bigramLmScoreWith(corpus, "doc_id", "text",
        TextAnalysis.trainBigramLm(corpus, "text"))
      .orderBy("doc_id").collect().toSeq
    val direct = TextAnalysis.bigramLmScore(corpus, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    assert(selfScored === direct)
  }

  /** KN per-position log-prob: the operator's exact IEEE operation order
    * — ((c − D) + D·n1p·n1w/n1all)/cc — then round-6 into decimal.
    */
  private def knlp6(c: Long, cc: Long, n1p: Long, n1w: Long, n1all: Long): BigDecimal =
    BigDecimal(math.log(((c - 0.75) + 0.75 * n1p * n1w / n1all) / cc))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP)

  test("bigramLmScoreKn: hand-built continuation counts, exact entropy, " +
      "degenerate docs") {
    val docs = Seq(
      (1L, "a b a b"),  // bigrams (a,b)x2 (b,a)x1
      (2L, "a a"),      // (a,a)x1
      (3L, "c"),        // 1 token: no bigrams
      (4L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.bigramLmScoreKn(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    // model: bc = {(a,b):2, (b,a):1, (a,a):1} → n1all = 3
    // cx: a → (cc=3, n1p=2), b → (cc=1, n1p=1); cw: b → 1, a → 2
    // P(b|a) = ((2−.75) + .75·2·1/3)/3; P(a|b) = ((1−.75) + .75·1·2/3)/1;
    // P(a|a) = ((1−.75) + .75·2·2/3)/3
    val d1slp = knlp6(2, 3, 2, 1, 3) * 2 + knlp6(1, 1, 1, 2, 3)
    val d1h = -(d1slp.toDouble) / 3
    assert(out(0).getLong(1) === 3L)
    assert(out(0).getDouble(2) === d1h)
    assert(out(0).getDouble(3) ===
      BigDecimal(math.exp(d1h)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    val d2h = -(knlp6(1, 3, 2, 2, 3).toDouble) / 1
    assert(out(1).getLong(1) === 1L)
    assert(out(1).getDouble(2) === d2h)
    Seq(2, 3).foreach { i =>
      assert(out(i).getLong(1) === 0L)
      assert(out(i).isNullAt(2) && out(i).isNullAt(3))
    }
  }

  test("bigramLmScoreKn: continuation counts reach the price, and the " +
      "output is partition-invariant") {
    // "nb" follows ONLY "sa" (1 continuation context); "vr" follows 4
    // distinct contexts. Both n1w values enter the backoff term, so the
    // two docs' prices must reflect c AND the continuation geometry:
    // P(nb|sa) = ((5−.75)+.75·1·1/9)/5 ≈ .867 beats
    // P(vr|x1) = ((2−.75)+.75·1·4/9)/2 ≈ .792 — a pure-frequency model
    // with these counts orders the same way, but the EXACT values only
    // match when n1p/n1w/n1all are all wired correctly (the hand test
    // above pins them; this one pins ordering + determinism on a corpus
    // with non-trivial continuation structure).
    val corpus = Seq(
      (1L, "sa nb sa nb sa nb sa nb"),          // (sa,nb)x4 — one context
      (2L, "x1 vr x2 vr x3 vr x4 vr"),          // vr after 4 distinct contexts
      (3L, "sa nb"), (4L, "x1 vr"))
      .toDF("doc_id", "text")
    val kn = TextAnalysis.bigramLmScoreKn(corpus, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(kn(2).getDouble(3) < kn(3).getDouble(3),
      s"(sa,nb) c=5 should out-price (x1,vr) c=2: ${kn(2)} vs ${kn(3)}")
    val a = TextAnalysis.bigramLmScoreKn(corpus, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    val b = TextAnalysis.bigramLmScoreKn(corpus.repartition(13), "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    assert(a === b)
  }

  /** Order-3 KN per-position price in the engine's fixed operation order
    * (see [[graft.operators.TextAnalysis.ngramLmScoreKn]]).
    */
  private def kn3lp6(
      c: Long, cc: Long, n1p: Long,
      n2: Long, ccmid: Long, nmid: Long,
      n1w: Long, n1all: Long): BigDecimal =
    BigDecimal(math.log(
      ((c - 0.75) + 0.75 * n1p *
        (((n2 - 0.75) + 0.75 * nmid * (n1w.toDouble / n1all)) / ccmid)) / cc))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP)

  test("ngramLmScoreKn order 3: hand-built adjusted counts, degenerate docs") {
    val docs = Seq(
      (1L, "a b c a b c"), // trigrams (a,b,c)x2 (b,c,a)x1 (c,a,b)x1
      (2L, "a b d"),       // (a,b,d)x1
      (3L, "x y"),         // 2 tokens: no trigrams
      (4L, "")).toDF("doc_id", "text")
    // tc = {(a,b,c):2, (b,c,a):1, (c,a,b):1, (a,b,d):1}
    // cx: (a,b) → (cc=3, n1p=2); (b,c) → (1,1); (c,a) → (1,1)
    // md (adjusted bigrams, type counts): (b,c):1 (b,d):1 (c,a):1 (a,b):1
    // cm: b → (ccmid=2, nmid=2); c → (1,1); a → (1,1)
    // cw: every w (a,b,c,d) → 1; n1all = 4
    val out = TextAnalysis.ngramLmScoreKn(docs, "doc_id", "text", order = 3)
      .orderBy("doc_id").collect()
    val d1slp = kn3lp6(2, 3, 2, 1, 2, 2, 1, 4) * 2 +
      kn3lp6(1, 1, 1, 1, 1, 1, 1, 4) + kn3lp6(1, 1, 1, 1, 1, 1, 1, 4)
    val d1h = -(d1slp.toDouble) / 4
    assert(out(0).getLong(1) === 4L)
    assert(out(0).getDouble(2) === d1h)
    assert(out(0).getDouble(3) ===
      BigDecimal(math.exp(d1h)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    val d2h = -(kn3lp6(1, 3, 2, 1, 2, 2, 1, 4).toDouble) / 1
    assert(out(1).getLong(1) === 1L)
    assert(out(1).getDouble(2) === d2h)
    Seq(2, 3).foreach { i =>
      assert(out(i).getLong(1) === 0L)
      assert(out(i).isNullAt(2) && out(i).isNullAt(3))
    }
  }

  test("ngramLmScoreKn order 3 is invariant under input partitioning") {
    val corpus = Seq(
      (1L, "sa nb ko sa nb ko sa nb"),
      (2L, "x1 vr ko x2 vr ko x3 vr"),
      (3L, "sa nb ko"), (4L, "x1 vr ko"), (5L, "sa"), (6L, ""))
      .toDF("doc_id", "text")
    val a = TextAnalysis.ngramLmScoreKn(corpus, "doc_id", "text", order = 3)
      .orderBy("doc_id").collect().toSeq
    val b = TextAnalysis.ngramLmScoreKn(corpus.repartition(13), "doc_id", "text", order = 3)
      .orderBy("doc_id").collect().toSeq
    assert(a === b)
    // and shorter docs that DO have trigrams priced by the shared model
    assert(a(2).getLong(1) === 1L)
  }

  test("LM scorers: window-fused model statistics are row-identical to the " +
      "join-per-statistic chain (r17 lmWindowFuse gate, both arms)") {
    // the fuse computes each context/continuation statistic as a window
    // over the type table instead of a groupBy + join back into the
    // per-doc chain — sums/counts of longs over identical groups, so the
    // scored output must be EXACTLY equal (same decimals, same doubles)
    val rnd = new scala.util.Random(41)
    val alpha = Vector("sa", "nb", "ko", "x1", "vr", "qq", "zz", "mm")
    val corpus = ((1L to 60L).map { i =>
      (i, Seq.fill(rnd.nextInt(18) + 1)(alpha(rnd.nextInt(alpha.length))).mkString(" "))
    } ++ Seq((98L, "one"), (99L, ""))).toDF("doc_id", "text")
    def runAll() = Seq(
      TextAnalysis.bigramLmScore(corpus, "doc_id", "text"),
      TextAnalysis.bigramLmScoreKn(corpus, "doc_id", "text"),
      TextAnalysis.ngramLmScoreKn(corpus, "doc_id", "text", order = 3),
      TextAnalysis.ngramLmScoreKn(corpus, "doc_id", "text", order = 4),
      TextAnalysis.ngramLmScoreKn(corpus, "doc_id", "text", order = 5))
      .map(_.orderBy("doc_id").collect().toSeq)
    // the gate reads the broadcast threshold: disabled (-1) fuses orders
    // 4-5, a threshold far above the input's size keeps the join chain
    val fused = withBroadcastThreshold("-1")(runAll())
    val unfused = withBroadcastThreshold("1g")(runAll())
    fused.zip(unfused).foreach { case (f, u) => assert(f === u) }
  }

  private def withBroadcastThreshold[T](value: String)(body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("KN window fuse is read at orders 4-5 only: a disabled broadcast " +
      "threshold fuses order 4, never order 3; a large one fuses neither") {
    val corpus = Seq((1L, "sa nb ko sa nb ko x1"), (2L, "x1 vr ko sa nb"))
      .toDF("doc_id", "text")
    def hasWindow(order: Int) = TextAnalysis
      .ngramLmScoreKn(corpus, "doc_id", "text", order = order)
      .queryExecution.optimizedPlan
      .find(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Window])
      .nonEmpty
    withBroadcastThreshold("-1") {
      assert(hasWindow(4))
      assert(!hasWindow(3))
    }
    withBroadcastThreshold("1g") {
      assert(!hasWindow(4))
      assert(!hasWindow(3))
    }
  }

  test("ngramLmScoreKn orders 4-5: hand-checkable single-path corpus, " +
      "short docs carry no evidence, partitioning-invariant") {
    // a corpus whose 4-grams are all distinct except one repeated path:
    // with every type count 1 at every level except the repeated top
    // count, the interpolated probability telescopes hand-checkably
    val docs = Seq(
      (1L, "a b c d a b c d"), // 4-grams: (a,b,c,d)x2 (b,c,d,a) (c,d,a,b) (d,a,b,c)
      (2L, "a b c"),           // 3 tokens: no 4-grams
      (3L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.ngramLmScoreKn(docs, "doc_id", "text", order = 4)
      .orderBy("doc_id").collect()
    assert(out(0).getLong(1) === 5L)
    assert(!out(0).isNullAt(2) && out(0).getDouble(3) > 0)
    assert(out(1).getLong(1) === 0L && out(1).isNullAt(2))
    assert(out(2).getLong(1) === 0L && out(2).isNullAt(2))
    // order-5 partitioning invariance on a mixed corpus
    val rnd = new scala.util.Random(7)
    val alpha = Vector("sa", "nb", "ko", "x1", "vr")
    val corpus = (1L to 30L).map { i =>
      (i, Seq.fill(rnd.nextInt(16) + 1)(alpha(rnd.nextInt(alpha.length))).mkString(" "))
    }.toDF("doc_id", "text")
    val a = TextAnalysis.ngramLmScoreKn(corpus, "doc_id", "text", order = 5)
      .orderBy("doc_id").collect().toSeq
    val b = TextAnalysis.ngramLmScoreKn(corpus.repartition(13), "doc_id", "text", order = 5)
      .orderBy("doc_id").collect().toSeq
    assert(a === b)
    assert(a.exists(r => r.getLong(1) > 0))
  }
}
