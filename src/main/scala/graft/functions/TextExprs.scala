package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native language-ID argmax over a pre-split word array — bit-identical to
  * the column formulation (per language: `size(filter(words, w ->
  * w.isin(markers)))`, then a fixed-order strictly-greater argmax with
  * `"und"` when the best score is 0), but ONE pass over the word array
  * instead of one interpreted `filter` lambda per (language × word) — and
  * the caller's `split(lower(trim(text)))` is evaluated once (codegen'd)
  * instead of once per language (interpreted HOFs get no common-subexpression
  * elimination, the [[MinHashSig]]/[[SimHash64Expr]] pathology).
  *
  * The child is the WORD ARRAY (`split(lower(trim(text)), "\\s+")`), so
  * tokenization semantics are exactly Spark's own codegen'd split. Null
  * input yields "und" — the same answer the interpreted column chain's
  * three-valued logic reaches (null scores fail every `>` test and the
  * final `> 0` gate), so the two formulations agree on ALL inputs.
  *
  * Marker words may belong to several languages ("la" scores both es and fr,
  * "und" scores de): each word looks up a bitmask of the languages it marks.
  */
case class LangIdExpr(child: Expression, markers: Seq[(String, Seq[String])])
    extends UnaryExpression {
  require(markers.nonEmpty && markers.size <= 32, "1..32 languages")

  override def dataType: DataType = StringType
  override def prettyName: String = "lang_id"

  @transient private lazy val masks: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer]()
    markers.zipWithIndex.foreach { case ((_, words), i) =>
      words.foreach { w =>
        val k = UTF8String.fromString(w)
        m.merge(k, Integer.valueOf(1 << i), (a, b) => Integer.valueOf(a | b))
      }
    }
    m
  }
  @transient private lazy val langs: Array[UTF8String] =
    markers.map(m => UTF8String.fromString(m._1)).toArray
  @transient lazy val und: UTF8String = UTF8String.fromString("und")

  // null word-array ⇒ "und", never null — matches the column formulation
  override def nullable: Boolean = false
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) und else score(v.asInstanceOf[ArrayData])
  }

  override protected def nullSafeEval(input: Any): Any =
    score(input.asInstanceOf[ArrayData])

  /** The argmax loop — public so generated code can call it directly. */
  def score(words: ArrayData): UTF8String = {
    val scores = new Array[Int](langs.length)
    var i = 0
    val n = words.numElements()
    while (i < n) {
      val mask = masks.get(words.getUTF8String(i))
      if (mask != null) {
        var m = mask.intValue()
        while (m != 0) {
          val j = java.lang.Integer.numberOfTrailingZeros(m)
          scores(j) += 1
          m &= m - 1
        }
      }
      i += 1
    }
    // fixed-order strictly-greater argmax == the column fold's semantics
    var best = 0
    var k = 1
    while (k < scores.length) {
      if (scores(k) > scores(best)) best = k
      k += 1
    }
    if (scores(best) > 0) langs(best) else und
  }

  // Real codegen (round-5 A/B, NOTES.md round 5): the CodegenFallback path
  // re-materialized the input row per call; this emits one virtual call on
  // the already-evaluated word array and keeps the projection inside
  // whole-stage codegen. Null child folds to "und" inline.
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val ref = ctx.addReferenceObj("langIdExpr", this, classOf[LangIdExpr].getName)
    val c = child.genCode(ctx)
    val code =
      code"""
        ${c.code}
        UTF8String ${ev.value} = ${c.isNull} ? $ref.und() : $ref.score(${c.value});
      """
    ev.copy(code = code, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): LangIdExpr =
    copy(child = newChild)
}

/** One-pass text statistics over the RAW text — the native fusion of the
  * q20 column formulation, which made five tokenization passes (three
  * `split`s, two interpreted higher-order aggregates at ~10 µs/lambda) and
  * two regex-replace passes per row. Returns exact integer counts plus the
  * language argmax; ratios are assembled in the projection with arithmetic
  * identical to the column form, so results are bit-equal (pinned by a
  * fuzz equivalence spec in TextAnalysisSpec).
  *
  * Replicated quirk semantics (each is the column formulation's observable
  * behavior, not an approximation):
  *   - `trim` strips 0x20 ONLY; `split(_, "\\s+")` (limit -1) yields a
  *     leading/trailing EMPTY token when the trimmed text starts/ends with
  *     non-space whitespace, and `[""]` for empty text;
  *   - `n_tokens` is 0 for null-or-trim-empty text (the `tokenCount`
  *     guard), while `n_split_tokens` is the raw split size (≥ 1) — the
  *     stopword-ratio denominator;
  *   - `subword_sum` = Σ max(⌈len(w)/6⌉, 1) over the RAW split tokens
  *     (an empty token contributes 1 — including the `[""]` of empty text),
  *     lengths in CODEPOINTS;
  *   - `n_alpha` / `n_punct` / `n_nonspace` count over the UNtrimmed text
  *     ([A-Za-z]; .,;:!?; codepoints minus ASCII `\s`) — `regexp_replace`
  *     + `length` semantics, Java `\s` being ASCII-only;
  *   - marker matching folds case for ASCII bytes only: equality against
  *     the pure-ASCII/CJK marker lists is unchanged (no non-ASCII codepoint
  *     lowercases INTO a marker string: the only ASCII-producing single
  *     mappings are U+212A→k and U+0130→i, and no marker is reachable from
  *     them), and `en_hits` counts every occurrence — exactly
  *     `size(filter(split(lower(trim(text))), isin(markers)))`. NOTE the
  *     'no codepoint lowercases into a marker' analysis assumes the JVM
  *     default locale is Locale.ROOT-compatible for ASCII: Spark's `lower`
  *     delegates its non-ASCII slow path to `String.toLowerCase` with the
  *     DEFAULT locale, so under a Turkish/Azeri default a mixed token like
  *     "IS 字" lowers to "ıs" in the COLUMN formulation (no marker hit) but
  *     "is" here (hit). The locale sensitivity lives in the column
  *     formulation, not this expression — run oracle/bench JVMs with an
  *     en/ROOT default locale (they do by default in this harness);
  *   - `lang_id` is [[LangIdExpr]]'s fixed-order strictly-greater argmax.
  */
case class TextStatsExpr(child: Expression, markers: Seq[(String, Seq[String])])
    extends UnaryExpression {
  import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
  require(markers.nonEmpty && markers.size <= 32, "1..32 languages")

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("n_split_tokens", IntegerType, nullable = false),
    StructField("subword_sum", IntegerType, nullable = false),
    StructField("n_alpha", IntegerType, nullable = false),
    StructField("n_punct", IntegerType, nullable = false),
    StructField("n_nonspace", IntegerType, nullable = false),
    StructField("en_hits", IntegerType, nullable = false),
    StructField("lang_id", StringType, nullable = false)))
  override def prettyName: String = "text_stats"

  // marker lookup: ASCII-lowercased marker bytes -> language bitmask
  @transient private lazy val masks: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer]()
    markers.zipWithIndex.foreach { case ((_, words), i) =>
      words.foreach { w =>
        m.merge(UTF8String.fromString(w.toLowerCase), Integer.valueOf(1 << i),
          (a, b) => Integer.valueOf(a | b))
      }
    }
    m
  }
  @transient private lazy val langs: Array[UTF8String] =
    markers.map(m => UTF8String.fromString(m._1)).toArray
  @transient private lazy val und = UTF8String.fromString("und")
  @transient private lazy val maxMarkerBytes: Int =
    markers.flatMap(_._2).map(_.getBytes("UTF-8").length).max

  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' || b == '\r'

  override protected def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String]
    val n = text.numBytes

    // pass 1 — whole-string counts (regexp_replace semantics: untrimmed)
    var nAlpha = 0
    var nPunct = 0
    var cp = 0
    var ws = 0
    var i = 0
    while (i < n) {
      val b = text.getByte(i)
      if ((b & 0xc0) != 0x80) cp += 1
      if ((b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z')) nAlpha += 1
      else if (b == '.' || b == ',' || b == ';' || b == ':' || b == '!' || b == '?') nPunct += 1
      else if (isWs(b)) ws += 1
      i += 1
    }

    // pass 2 — token scan over the 0x20-trimmed range
    var start = 0
    var end = n
    while (start < end && text.getByte(start) == ' ') start += 1
    while (end > start && text.getByte(end - 1) == ' ') end -= 1

    var splitTokens = 0
    var subwordSum = 0
    var enHits = 0
    val scores = new Array[Int](langs.length)

    def token(tokStart: Int, tokEnd: Int): Unit = {
      splitTokens += 1
      var cpLen = 0
      var j = tokStart
      while (j < tokEnd) {
        if ((text.getByte(j) & 0xc0) != 0x80) cpLen += 1
        j += 1
      }
      subwordSum += Math.max((cpLen + 5) / 6, 1)
      val byteLen = tokEnd - tokStart
      if (byteLen > 0 && byteLen <= maxMarkerBytes) {
        val lowered = new Array[Byte](byteLen)
        var k = 0
        while (k < byteLen) {
          val b = text.getByte(tokStart + k)
          lowered(k) = if (b >= 'A' && b <= 'Z') (b + 32).toByte else b
          k += 1
        }
        val mask = masks.get(UTF8String.fromBytes(lowered))
        if (mask != null) {
          var m = mask.intValue()
          while (m != 0) {
            val j2 = java.lang.Integer.numberOfTrailingZeros(m)
            scores(j2) += 1
            if (j2 == 0) enHits += 1
            m &= m - 1
          }
        }
      }
    }

    if (start == end) {
      // trim-empty: split -> [""] (one empty token, subword 1, no markers)
      splitTokens = 1
      subwordSum = 1
    } else {
      var tokStart = start
      var j = start
      while (j < end) {
        if (isWs(text.getByte(j))) {
          token(tokStart, j) // leading \t etc. yields an empty first token
          while (j < end && isWs(text.getByte(j))) j += 1
          tokStart = j
        } else j += 1
      }
      token(tokStart, end) // split limit -1: trailing whitespace was trimmed
    }

    var best = 0
    var k = 1
    while (k < scores.length) {
      if (scores(k) > scores(best)) best = k
      k += 1
    }
    val lang = if (scores(best) > 0) langs(best) else und

    val nTokens = if (start == end) 0 else splitTokens
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nTokens, splitTokens, subwordSum, nAlpha, nPunct, cp - ws, enHits, lang))
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val ref = ctx.addReferenceObj("textStatsExpr", this, classOf[TextStatsExpr].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = (InternalRow) $ref.evalText($c);")
  }

  /** Codegen entry point (nullSafeEval is protected in the Java view). */
  def evalText(text: UTF8String): Any = nullSafeEval(text)

  override protected def withNewChildInternal(newChild: Expression): TextStatsExpr =
    copy(child = newChild)
}

/** `trim(regexp_replace(x, "\\s+", " "))` as one byte pass — the whitespace
  * collapse inside [[graft.operators.TextAnalysis.fingerprint]] (and q16's
  * dedup key), minus the regex engine. Maximal ASCII-`\s` runs become one
  * space and edges are trimmed, which is exactly the composed column form
  * (the replace turns edge runs into edge spaces; trim then strips them).
  * Case folding stays with Spark's `lower` (full unicode semantics are the
  * engine's, not re-implemented). Bit-identity fuzz-pinned in
  * TextAnalysisSpec.
  */
case class CollapseWsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "collapse_ws"

  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' || b == '\r'

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val n = s.numBytes
    val out = new Array[Byte](n)
    var o = 0
    var i = 0
    while (i < n && isWs(s.getByte(i))) i += 1 // leading run
    while (i < n) {
      val b = s.getByte(i)
      if (isWs(b)) {
        while (i < n && isWs(s.getByte(i))) i += 1
        if (i < n) { out(o) = ' '; o += 1 } // interior run -> one space; trailing run -> dropped
      } else {
        out(o) = b; o += 1; i += 1
      }
    }
    UTF8String.fromBytes(java.util.Arrays.copyOf(out, o))
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val ref = ctx.addReferenceObj("collapseWs", this, classOf[CollapseWsExpr].getName)
    defineCodeGen(ctx, ev, c => s"(UTF8String) $ref.evalStr($c)")
  }

  def evalStr(s: UTF8String): Any = nullSafeEval(s)

  override protected def withNewChildInternal(newChild: Expression): CollapseWsExpr =
    copy(child = newChild)
}

/** Consecutive `k`-word chunks of a document as one pass — the native form
  * of [[graft.operators.Dedup.chunkDedup]]'s
  * `transform(sequence(0, ⌈len/k⌉-1), i -> concat_ws(" ", slice(ws, i*k+1, k)))`
  * over `ws = split(trim(text), "\\s+")`, which paid one interpreted lambda
  * + slice + concat per chunk. Tokens follow the split(-1) quirks (leading/
  * trailing empty token around non-space whitespace edges after the
  * 0x20-only trim; `[""]` for empty text ⇒ one `""` chunk); chunk strings
  * join their tokens with single spaces exactly as `concat_ws` does,
  * including empty tokens. Bit-identity fuzz-pinned in DedupSpec.
  */
case class WordChunksExpr(child: Expression, k: Int) extends UnaryExpression {
  import org.apache.spark.sql.types.ArrayType
  require(k >= 1, "chunk size >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_chunks"

  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' || b == '\r'

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val n = s.numBytes
    var start = 0
    var end = n
    while (start < end && s.getByte(start) == ' ') start += 1
    while (end > start && s.getByte(end - 1) == ' ') end -= 1

    // token boundaries as (start, end) byte offsets, split(-1) semantics
    val tokStarts = new java.util.ArrayList[Integer]()
    val tokEnds = new java.util.ArrayList[Integer]()
    if (start == end) { tokStarts.add(0); tokEnds.add(0) } // [""]
    else {
      var tokStart = start
      var j = start
      while (j < end) {
        if (isWs(s.getByte(j))) {
          tokStarts.add(tokStart); tokEnds.add(j)
          while (j < end && isWs(s.getByte(j))) j += 1
          tokStart = j
        } else j += 1
      }
      tokStarts.add(tokStart); tokEnds.add(end)
    }

    val nTok = tokStarts.size()
    val nChunks = (nTok + k - 1) / k
    val chunks = new Array[UTF8String](nChunks)
    var c = 0
    while (c < nChunks) {
      val from = c * k
      val until = Math.min(from + k, nTok)
      var bytes = 0
      var t = from
      while (t < until) { bytes += tokEnds.get(t) - tokStarts.get(t); t += 1 }
      bytes += (until - from) - 1 // single-space joins, concat_ws-style
      val buf = new Array[Byte](Math.max(bytes, 0))
      var o = 0
      t = from
      while (t < until) {
        if (t > from) { buf(o) = ' '; o += 1 }
        var p = tokStarts.get(t).intValue()
        val e = tokEnds.get(t).intValue()
        while (p < e) { buf(o) = s.getByte(p); o += 1; p += 1 }
        t += 1
      }
      chunks(c) = UTF8String.fromBytes(buf)
      c += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(chunks.asInstanceOf[Array[Any]])
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val ref = ctx.addReferenceObj("wordChunks", this, classOf[WordChunksExpr].getName)
    defineCodeGen(ctx, ev, c => s"(ArrayData) $ref.evalChunks($c)")
  }

  def evalChunks(s: UTF8String): Any = nullSafeEval(s)

  override protected def withNewChildInternal(newChild: Expression): WordChunksExpr =
    copy(child = newChild)
}

/** OVERLAPPING stride-1 `k`-word windows of a document, in positional
  * order (element i = words i..i+k-1 joined with single spaces) — the
  * native form of
  * `transform(sequence(0, n-k), i -> array_join(slice(ws, i+1, k), ' '))`
  * over `ws = split(trim(text), "\\s+")`, which pays one interpreted
  * lambda + slice + join per window (~n windows per doc — 10× the
  * chunk count of [[WordChunksExpr]], so the HOF tax lands 10× harder).
  * Returns the EMPTY array when the doc has fewer than `k` tokens (the
  * SQL mirror is `WHERE len(ws) >= k` on the exploded form). Tokenizer
  * semantics are identical to [[WordChunksExpr]] (split(-1) quirks, 0x20
  * trim, `[""]` for empty text), so a sub-k doc contributes nothing and
  * every window string is bit-identical to DuckDB's
  * `array_to_string(ws[i+1:i+k], ' ')` — with ONE known divergence class,
  * shared with every split-based oracle in this repo: Java `\s` includes
  * vertical tab (0x0B) while DuckDB's RE2 `\s` does not, so a corpus
  * containing `\v` inside tokens would tokenize differently (no fixture
  * or generated corpus does). Fuzz-pinned in DedupSpec.
  *
  * The stride-1 shape is what substring-level dedup needs (reference for
  * the operator family: Lee et al. 2021, "Deduplicating Training Data
  * Makes Language Models Better" — repeated ≥k-token substrings across a
  * corpus, at ANY alignment): chunked windows (q55) only catch
  * duplication aligned to chunk boundaries; positional windows catch a
  * copied sentence wherever it lands.
  */
case class WordWindowsExpr(child: Expression, k: Int) extends UnaryExpression {
  import org.apache.spark.sql.types.ArrayType
  require(k >= 1, "window size >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_windows"

  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' || b == '\r'

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val n = s.numBytes
    var start = 0
    var end = n
    while (start < end && s.getByte(start) == ' ') start += 1
    while (end > start && s.getByte(end - 1) == ' ') end -= 1

    // token boundaries as (start, end) byte offsets, split(-1) semantics
    val tokStarts = new java.util.ArrayList[Integer]()
    val tokEnds = new java.util.ArrayList[Integer]()
    if (start == end) { tokStarts.add(0); tokEnds.add(0) } // [""]
    else {
      var tokStart = start
      var j = start
      while (j < end) {
        if (isWs(s.getByte(j))) {
          tokStarts.add(tokStart); tokEnds.add(j)
          while (j < end && isWs(s.getByte(j))) j += 1
          tokStart = j
        } else j += 1
      }
      tokStarts.add(tokStart); tokEnds.add(end)
    }

    val nTok = tokStarts.size()
    val nWin = Math.max(nTok - k + 1, 0)
    val wins = new Array[UTF8String](nWin)
    var w = 0
    while (w < nWin) {
      val until = w + k
      var bytes = k - 1 // single-space joins, concat_ws-style
      var t = w
      while (t < until) { bytes += tokEnds.get(t) - tokStarts.get(t); t += 1 }
      val buf = new Array[Byte](bytes)
      var o = 0
      t = w
      while (t < until) {
        if (t > w) { buf(o) = ' '; o += 1 }
        var p = tokStarts.get(t).intValue()
        val e = tokEnds.get(t).intValue()
        while (p < e) { buf(o) = s.getByte(p); o += 1; p += 1 }
        t += 1
      }
      wins(w) = UTF8String.fromBytes(buf)
      w += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(wins.asInstanceOf[Array[Any]])
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val ref = ctx.addReferenceObj("wordWindows", this, classOf[WordWindowsExpr].getName)
    defineCodeGen(ctx, ev, c => s"(ArrayData) $ref.evalWindows($c)")
  }

  def evalWindows(s: UTF8String): Any = nullSafeEval(s)

  override protected def withNewChildInternal(newChild: Expression): WordWindowsExpr =
    copy(child = newChild)
}

/** Per-document term counts as `map<string,int>` in one pass — the native
  * fusion of `explode(split(x, "\\s+"))` + `filter(w != "")` +
  * `groupBy(doc, w).count()`: the per-document aggregation happens inside
  * the expression (documents are rows, so the grouping is row-local by
  * construction), so no exploded word rows exist and the first hash
  * aggregate of the TF-IDF plan disappears. Tokens are maximal runs of
  * non-ASCII-`\s` bytes — identical to the composed form because the
  * empty tokens `split(-1)` can produce are exactly what the `!= ""`
  * filter drops. Case folding stays with the caller (`lower`), as in the
  * composed form.
  */
case class WordCountsExpr(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.types.{IntegerType, MapType}

  override def dataType: DataType = MapType(StringType, IntegerType, valueContainsNull = false)
  override def prettyName: String = "word_counts"

  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' || b == '\r'

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val n = s.numBytes
    val counts = new java.util.LinkedHashMap[UTF8String, Integer]()
    var i = 0
    while (i < n) {
      while (i < n && isWs(s.getByte(i))) i += 1
      val start = i
      while (i < n && !isWs(s.getByte(i))) i += 1
      if (i > start) {
        val buf = new Array[Byte](i - start)
        var p = start
        while (p < i) { buf(p - start) = s.getByte(p); p += 1 }
        counts.merge(UTF8String.fromBytes(buf), Integer.valueOf(1),
          (a, b) => Integer.valueOf(a + b))
      }
    }
    val keys = new Array[Any](counts.size())
    val vals = new Array[Any](counts.size())
    val it = counts.entrySet().iterator()
    var k = 0
    while (it.hasNext) {
      val e = it.next()
      keys(k) = e.getKey
      vals(k) = e.getValue.intValue()
      k += 1
    }
    import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
    new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(vals))
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val ref = ctx.addReferenceObj("wordCounts", this, classOf[WordCountsExpr].getName)
    defineCodeGen(ctx, ev, c => s"(MapData) $ref.evalCounts($c)")
  }

  def evalCounts(s: UTF8String): Any = nullSafeEval(s)

  override protected def withNewChildInternal(newChild: Expression): WordCountsExpr =
    copy(child = newChild)
}
