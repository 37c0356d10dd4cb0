package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Scalars, Vectors}
import graft.operators.{Dedup, Hierarchy, Relational, Similarity, TextAnalysis, Windows}

/** Driver contract: one `queries` entry per implemented operator family from
  * SURVEY.md §2, each with equivalent DuckDB SQL in `oracleSql` (omitted only
  * where the op is not SQL-expressible — uuid5/timeuuid, which DuckDB cannot
  * recompute without SHA-1; those are covered by the md5-based `uuid3` twin
  * query plus ScalaTest RFC vectors).
  *
  * Determinism rules used throughout (so Spark parquet output hash-matches
  * the DuckDB oracle bit-for-bit):
  *   - double sums go through an exact `decimal(18,6)` cast per row, are
  *     summed exactly, and only then cast back to double (double addition is
  *     not associative across partition orders; decimal addition is);
  *   - every query ends in a total ORDER BY;
  *   - timestamps are emitted as epoch millis (bigint), never raw;
  *   - cosine scores are rounded to 6 dp before ranking, ids break ties.
  */
object SparkEntry {

  private def T(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = s.read.parquet(s"$dir/$name.parquet")
    // events.ts has shipped as two physical parquet types across testdata
    // generations, and every downstream query expects a session-UTC
    // TIMESTAMP — normalize here so the 60-query surface never branches:
    //  - TIMESTAMP(NANOS): Spark reads it as a long (with
    //    spark.sql.legacy.parquet.nanosAsLong=true — set by Verify/Bench/
    //    Engine sessions). Integer-divide to micros (double division would
    //    lose precision above 2^53) and restore a proper UTC timestamp.
    //  - TIMESTAMP(MICROS) without tz: Spark reads TIMESTAMP_NTZ, which
    //    unix_micros/window() reject; a cast under the UTC session zone is
    //    a pure reinterpretation (no wall-clock shift).
    if (name == "events") df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // The cast is only a pure reinterpretation under a UTC session zone;
        // any other zone would silently shift every derived epoch value
        // (unix_micros, window buckets, sessionize), so fail loudly instead.
        require(s.conf.get("spark.sql.session.timeZone") == "UTC",
          s"events.ts is TIMESTAMP_NTZ: reading it requires " +
            s"spark.sql.session.timeZone=UTC, got " +
            s"'${s.conf.get("spark.sql.session.timeZone")}'")
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    } else df
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    q05LastItemDenorm(spark, "/root/testdata/sf0.001")

  // ---- §2.6 aggregations (A1/A2, TPC-H Q1 shape) -------------------------
  private def q01PricingSummary(s: SparkSession, d: String): DataFrame =
    T(s, d, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity").cast("decimal(18,6)")).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,6)")).cast("double").as("sum_base_price"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast("decimal(18,6)"))
          .cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  // ---- §2.1/§2.3 scans + null-tolerant predicates (S1, F1 shape) ---------
  private def q02FilteredScan(s: SparkSession, d: String): DataFrame =
    T(s, d, "events")
      .filter(!col("event_type").isin("error", "signup") &&
        (col("value").isNull || col("value") > 5.0))
      .select("event_id", "user_id", "event_type", "value")
      .orderBy("event_id")

  // ---- §2.4 J1 broadcast FK resolution + agg -----------------------------
  private def q03PartRevenue(s: SparkSession, d: String): DataFrame = {
    val withBrand = Relational.resolveFk(
      T(s, d, "lineitem"), T(s, d, "part"), "l_partkey", "p_partkey", "p_brand", "brand")
    Relational.resolveFk(
        withBrand, T(s, d, "supplier"), "l_suppkey", "s_suppkey", "s_name", "supplier_name")
      .groupBy("brand")
      .agg(
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast("decimal(18,6)"))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"),
        countDistinct(col("supplier_name")).as("n_suppliers"))
      .orderBy("brand")
  }

  // ---- §2.4 J2 chained dim joins (geo hierarchy) -------------------------
  private def q04GeoRollup(s: SparkSession, d: String): DataFrame =
    T(s, d, "customer")
      .join(broadcast(T(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(T(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region_name"), col("n_name").as("nation_name"))
      .agg(
        count(lit(1)).as("n_customers"),
        sum(col("c_acctbal").cast("decimal(18,6)")).cast("double").as("sum_acctbal"))
      .orderBy("region_name", "nation_name")

  // ---- §2.7 W1 top-1 per group + §2.4 J9 denormalization -----------------
  private def q05LastItemDenorm(s: SparkSession, d: String): DataFrame = {
    val last = Relational.topOnePerGroup(
      T(s, d, "lineitem"), Seq("l_orderkey"),
      Seq(col("l_shipdate").desc, col("l_linenumber").desc))
    last
      .join(T(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
      // no broadcast hint: customer grows with the corpus (unlike the
      // nation/region dims) — AQE broadcasts it only while it actually fits
      .join(T(s, d, "customer"), col("o_custkey") === col("c_custkey"))
      .select(
        col("o_orderkey"),
        col("l_linenumber").as("last_linenumber"),
        unix_millis(col("l_shipdate").cast("timestamp")).as("last_ship_ms"),
        col("o_custkey"),
        col("c_mktsegment"))
      .orderBy("o_orderkey")
  }

  // ---- §2.5 K3 / §2.7 W2 sequential ids (dim-sized only) -----------------
  private def q06SequentialIds(s: SparkSession, d: String): DataFrame =
    Relational.sequentialIds(T(s, d, "nation"), "n_name", "seq_id", 100L)
      .select("n_nationkey", "n_name", "seq_id")
      .orderBy("seq_id")

  // ---- §2.5 K1 uuid5 (rows-only: DuckDB lacks SHA-1; see q08 + tests) ----
  private def q07Uuid5Ids(s: SparkSession, d: String): DataFrame =
    T(s, d, "orders")
      .select(col("o_orderkey"), GraftFunctions.uuid5(col("o_orderkey")).as("id_uuid"))
      .orderBy("o_orderkey")

  // ---- §2.5 K1 uuid3 — md5 twin of uuid5, fully oracle-checked -----------
  private def q08Uuid3Ids(s: SparkSession, d: String): DataFrame =
    T(s, d, "orders")
      .select(col("o_orderkey"), GraftFunctions.uuid3(col("o_orderkey")).as("id_uuid"))
      .orderBy("o_orderkey")

  // ---- §2.5 K2 deterministic timeuuid (rows-only; ordering in tests) -----
  private def q09TimeuuidIds(s: SparkSession, d: String): DataFrame =
    T(s, d, "orders")
      .select(
        col("o_orderkey"),
        GraftFunctions.timeuuid(
          unix_micros(col("o_orderdate").cast("timestamp")), col("o_orderkey").cast("string"))
          .as("id_timeuuid"))
      .orderBy("o_orderkey")

  // ---- §2.4 J12 anti-join integrity ---------------------------------------
  private def q10AntiJoinOrphans(s: SparkSession, d: String): DataFrame =
    Relational.orphans(
        T(s, d, "customer"),
        T(s, d, "orders").filter(col("o_totalprice") > 300000),
        "c_custkey", "o_custkey")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  // ---- §2.1 S3 semi-join (scan by id-set) ---------------------------------
  private def q11SemiJoin(s: SparkSession, d: String): DataFrame = {
    val bigItems = T(s, d, "lineitem").filter(col("l_quantity") >= 49)
    T(s, d, "orders")
      .join(bigItems, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .select("o_orderkey", "o_orderstatus")
      .orderBy("o_orderkey")
  }

  // ---- §2.4 J6 explode many-to-many --------------------------------------
  private def q12ExplodeM2m(s: SparkSession, d: String): DataFrame =
    Relational.explodeManyToMany(
        T(s, d, "part").withColumn("type_words", split(col("p_type"), " ")),
        "p_partkey", "type_words", "word")
      .select("p_partkey", "word", "link_key")
      .orderBy("p_partkey", "word")

  // ---- §2.4 J8 bidirectional pair emission -------------------------------
  private def q13GroupPairs(s: SparkSession, d: String): DataFrame =
    Relational.bidirectionalPairs(
        T(s, d, "lineitem").select("l_orderkey", "l_suppkey"), "l_orderkey", "l_suppkey")
      .orderBy("l_orderkey", "member_a")

  // ---- §2.8 U1/U2/A4 union + distinct ------------------------------------
  private def q14UnionDistinct(s: SparkSession, d: String): DataFrame =
    T(s, d, "customer").select(col("c_nationkey").as("nationkey"))
      .unionByName(T(s, d, "supplier").select(col("s_nationkey").as("nationkey")))
      .distinct()
      .orderBy("nationkey")

  // ---- §2.8 U3 set difference --------------------------------------------
  private def q15ExceptDiff(s: SparkSession, d: String): DataFrame =
    T(s, d, "nation").select(col("n_nationkey").as("nationkey"))
      .except(T(s, d, "supplier").filter(col("s_acctbal") < 0)
        .select(col("s_nationkey").as("nationkey")))
      .orderBy("nationkey")

  // ---- dedup: exact (hash-groupBy on content fingerprint) ----------------
  private def q16DedupExact(s: SparkSession, d: String): DataFrame =
    Dedup.exact(T(s, d, "documents"), TextAnalysis.fingerprint(col("text")), "doc_id")
      .orderBy("dedup_key")

  // ---- dedup: MinHash + LSH band-bucket candidate pairs ------------------
  // rowsPerBand=4 (S-curve threshold (1/4)^(1/4) ≈ 0.71): this corpus has a
  // similarity floor — ~13% of RANDOM doc pairs sit at Jaccard ≈ 0.1 (small
  // shared vocabulary), and at r=2 a j=0.1 pair band-collides with prob
  // 4j² ≈ 4%, making the candidate set O(n²) — measured 1222 s at 100×
  // (~10⁹ pairs) vs 21 s at 10×. At r=4 the same pair collides at 4j⁴ ≈
  // 4·10⁻⁴ while true near-dups (j ≥ 0.9) keep ≥ 99.9% recall: candidates
  // stay proportional to honest duplicate content at any corpus size.
  private def q17MinhashLshPairs(s: SparkSession, d: String): DataFrame =
    Dedup.minHashLshPairs(T(s, d, "documents"), "doc_id", "text",
        shingleLen = 2, bands = 4, rowsPerBand = 4)
      .orderBy("id1", "id2")

  // ---- dedup: n-gram Jaccard ---------------------------------------------
  private def q18NgramJaccard(s: SparkSession, d: String): DataFrame = {
    val docs = T(s, d, "documents")
    val a = docs.select(col("doc_id").as("id1"),
      array_distinct(split(trim(col("text")), "\\s+")).as("w1"))
    val b = docs.select(col("doc_id").as("id2"),
      array_distinct(split(trim(col("text")), "\\s+")).as("w2"))
    a.join(b, col("id2") === col("id1") + 1)
      .select(col("id1"), col("id2"), Dedup.jaccard(col("w1"), col("w2")).as("jaccard"))
      .orderBy("id1")
  }

  // ---- dedup: SimHash bit-string -----------------------------------------
  private def q19Simhash(s: SparkSession, d: String): DataFrame =
    T(s, d, "documents")
      .select(col("doc_id"), Dedup.simHashBits(col("text"), 16).as("simhash"))
      .orderBy("doc_id")

  // ---- text analysis: tokens / quality / language-id / fingerprint -------
  private def q20TextStats(s: SparkSession, d: String): DataFrame = {
    val t = col("text")
    // ONE native pass ([[TextAnalysis.textStats]]) produces every integer
    // count; the ratio arithmetic below is the column formulation's exact
    // expression tree over those counts, so values are bit-identical to the
    // per-function form (which remains the oracle SQL + the specs'
    // documented semantics). The r4-era shape paid five tokenization passes
    // plus two regex scans per row — 0.23 ms/doc at 100×, the engine's
    // per-row cost floor; the fused pass cuts that to the md5 fingerprint +
    // one scan (A/B in NOTES.md round 5).
    T(s, d, "documents")
      .select(col("doc_id"), t, TextAnalysis.textStats(t).as("__st"))
      .select(
        col("doc_id"),
        coalesce(col("__st.n_tokens"), lit(0)).cast("long").as("n_tokens"),
        col("__st.subword_sum").cast("long").as("n_subwords"),
        (col("__st.n_alpha").cast("double") /
          greatest(length(t), lit(1)).cast("double")).as("alpha_ratio"),
        (col("__st.n_punct").cast("double") /
          greatest(length(t), lit(1)).cast("double")).as("punct_ratio"),
        (col("__st.n_nonspace").cast("double") /
          greatest(coalesce(col("__st.n_tokens"), lit(0)), lit(1)).cast("double"))
          .as("mean_word_len"),
        coalesce(col("__st.lang_id"), lit("und")).as("lang_id"),
        (col("__st.en_hits").cast("double") /
          greatest(col("__st.n_split_tokens"), lit(1)).cast("double")).as("stopword_ratio"),
        TextAnalysis.fingerprint(t).as("fp"))
      .withColumn("quality", TextAnalysis.qualityScoreFrom(
        col("alpha_ratio"), col("mean_word_len"), col("punct_ratio")))
      .select(col("doc_id"), col("n_tokens"), col("n_subwords"),
        col("alpha_ratio"), col("punct_ratio"), col("mean_word_len"),
        col("quality"), col("lang_id"), col("stopword_ratio"), col("fp"))
      .orderBy("doc_id")
  }

  // ---- event-time tumbling window agg ------------------------------------
  private def q21TumblingWindow(s: SparkSession, d: String): DataFrame =
    Windows.tumbling(T(s, d, "events"), "ts", "10 minutes", Seq("event_type"),
        Seq(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value")))
      .select(unix_millis(col("window_start")).as("window_ms"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy("window_ms", "event_type")

  // ---- event-time sliding window agg -------------------------------------
  private def q22SlidingWindow(s: SparkSession, d: String): DataFrame =
    Windows.sliding(T(s, d, "events"), "ts", "30 minutes", "10 minutes", Seq("event_type"),
        Seq(count(lit(1)).as("n_events")))
      .select(unix_millis(col("window_start")).as("window_ms"),
        col("event_type"), col("n_events"))
      .orderBy("window_ms", "event_type")

  // ---- gap-based sessionization ------------------------------------------
  private def q23Sessionize(s: SparkSession, d: String): DataFrame =
    Windows.sessionize(T(s, d, "events"), "user_id", "ts", "event_id", 1800L)
      .select("event_id", "user_id", "session_seq")
      .orderBy("event_id")

  // ---- similarity: exact cosine top-k (brute force baseline) -------------
  private def q24SimilarityTopk(s: SparkSession, d: String): DataFrame = {
    val e = T(s, d, "embeddings")
    val q = broadcast(e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv")))
    val c = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
    val scored = q.crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", round(Vectors.cosine(col("qv"), col("cv")), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk")
  }

  // ---- similarity: LSH sign-bucket near-dup pairs ------------------------
  // Operator-default auto geometry (autoSignBits: bucket count sized to the
  // corpus so expected bucket size ≈ 64) at EVERY scale — the oracle SQL
  // recomputes the identical integer bit count from count(*), so the oracle
  // compare stays exact from sf0.001 through 100× instead of pinning a fixed
  // signBits that goes quadratic the moment the corpus outgrows it (the old
  // signBits=4 ran a ~156 M-candidate verify at 10× while 100× happened to
  // clear the guard — backwards scaling from fixed geometry).
  private def q25EmbeddingNeardup(s: SparkSession, d: String): DataFrame =
    Dedup.embeddingNearDupPairs(T(s, d, "embeddings"), "vec_id", "embedding",
        threshold = 0.2)
      .orderBy("id1", "id2")

  // ---- §2.9 scalar library X1-X14 ----------------------------------------
  private def q26ScalarLibrary(s: SparkSession, d: String): DataFrame = {
    val k = col("c_custkey")
    val phoneRaw = concat(lit("("), (k % 1000).cast("string"), lit(") 555-00"),
      col("c_nationkey").cast("string"))
    T(s, d, "customer").select(
      k,
      Scalars.normalizeEmail(concat(lit("  "), col("c_name"), lit("@EXAMPLE.com "))).as("email"),
      Scalars.normalizePhone(phoneRaw).as("phone"),
      Scalars.normalizePhonePlus(phoneRaw).as("phone_intl"),
      Scalars.rewriteBucketUrl(concat(lit("gs://sibci-devel.appspot.com/avatars/"),
        k.cast("string"), lit(".png"))).as("avatar_url"),
      Scalars.formatDni(concat(lit("v-"), k.cast("string"), lit("88"))).as("dni"),
      Scalars.normalizeGender(
        when(k % 3 === 0, "Masculino").when(k % 3 === 1, "Femenino").otherwise("x")).as("gender"),
      Scalars.mimeType(
        when(k % 4 === 0, "IMAGEN").when(k % 4 === 1, "VIDEO")
          .when(k % 4 === 2, "AUDIO").otherwise("DOCUMENTO")).as("mime"),
      Scalars.pathDepth(concat(lit("/"), col("c_mktsegment"), lit("/"), col("c_name")))
        .cast("long").as("depth"),
      Scalars.pathConcat(concat(lit("/"), col("c_mktsegment")), col("c_name")).as("full_path"),
      Scalars.truncateContent(col("c_name"), 12).as("name_short")
    ).orderBy("c_custkey")
  }

  // ---- §2.9 X15/X16 crypto round-trips (oracle: identity) ----------------
  private def q27CryptoRoundtrip(s: SparkSession, d: String): DataFrame =
    T(s, d, "documents").select(
        col("doc_id"),
        GraftFunctions.aesDecrypt(
          GraftFunctions.aesEncrypt(col("text"), lit("some password")),
          lit("some password")).as("aes_rt"),
        GraftFunctions.salsa20Decrypt(
          GraftFunctions.salsa20Encrypt(col("text"), lit("legacy-key")),
          lit("legacy-key")).as("salsa_rt"))
      .orderBy("doc_id")

  // ---- §2.9 X17 re-encryption migration pipeline -------------------------
  private def q28ReencryptMigration(s: SparkSession, d: String): DataFrame = {
    val payload = when(col("doc_id") % 2 === 0,
      GraftFunctions.salsa20Encrypt(col("text"), lit("legacy-key"))).otherwise(col("text"))
    val dec = GraftFunctions.salsa20Decrypt(payload, lit("legacy-key"))
    T(s, d, "documents").select(
        col("doc_id"),
        coalesce(dec, payload).as("decrypted"),
        dec.isNotNull.as("was_encrypted"))
      .orderBy("doc_id")
  }

  // ---- §2.4 J7 iterative hierarchy resolution ----------------------------
  private def q29HierarchyResolve(s: SparkSession, d: String): DataFrame = {
    val docs = T(s, d, "documents")
    val root = docs.sparkSession.range(1).select(
      lit("/").as("path"), lit(0L).as("id"), lit(0).as("depth"),
      lit(null).cast("string").as("parent_path"))
    val langDirs = docs.select(col("lang")).distinct().select(
      concat(lit("/"), col("lang")).as("path"), lit(1).as("depth"), lit("/").as("parent_path"))
    val srcDirs = docs.select(col("lang"), col("source")).distinct().select(
      concat(lit("/"), col("lang"), lit("/"), col("source")).as("path"),
      lit(2).as("depth"), concat(lit("/"), col("lang")).as("parent_path"))
    val dirs = Relational.sequentialIds(langDirs.unionByName(srcDirs), "path", "id", 1000L)
      .withColumn("id", col("id").cast("long"))
    val leaves = docs.select(
      concat(lit("/"), col("lang"), lit("/"), col("source"), lit("/"),
        col("doc_id").cast("string")).as("path"),
      (col("doc_id") + 10000L).as("id"), lit(3).as("depth"),
      concat(lit("/"), col("lang"), lit("/"), col("source")).as("parent_path"))
    val nodes = root.unionByName(dirs.select("path", "id", "depth", "parent_path"))
      .unionByName(leaves)
    Hierarchy.resolveParentsDirect(nodes, "id", "path", "parent_path", "depth", rootId = 0L)
      .select("id", "path", "parent_id")
      .orderBy("id")
  }

  // ---- §2.4 J10 overwrite-by-join ----------------------------------------
  private def q30OverwriteByJoin(s: SparkSession, d: String): DataFrame = {
    val target = T(s, d, "customer").select("c_custkey", "c_mktsegment", "c_acctbal")
    val updates = T(s, d, "orders")
      .groupBy(col("o_custkey").as("c_custkey"))
      .agg(count(lit(1)).as("n"), max(col("o_orderpriority")).as("mp"))
      .filter(col("n") >= 15)
      .select(col("c_custkey"), concat(lit("PRIO::"), col("mp")).as("c_mktsegment"))
    Relational.overwriteByJoin(target, updates, Seq("c_custkey"))
      .orderBy("c_custkey")
  }

  // ---- §2.1 S5/X12 — JSON payload parsing + agg --------------------------
  private def q32JsonProps(s: SparkSession, d: String): DataFrame =
    T(s, d, "events")
      .select(from_json(col("props"),
        org.apache.spark.sql.types.StructType.fromDDL("k INT")).getField("k").as("k"))
      .filter(col("k").isNotNull)
      .groupBy((col("k") % 10).as("k_bucket"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
      .orderBy("k_bucket")

  // ---- §2.7 window frames: rolling aggregate per partition ---------------
  // (l_orderkey, l_linenumber) is NOT unique in this corpus, so the frame
  // order tie-breaks through quantity+price: rows still tied after that are
  // identical in the summed column, making the rolling sums order-invariant.
  private def q34RollingWindow(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"))
      .rowsBetween(-2, 0)
    T(s, d, "lineitem")
      .withColumn("rolling_qty",
        sum(col("l_quantity").cast("decimal(18,6)")).over(w).cast("double"))
      .select("l_suppkey", "l_orderkey", "l_linenumber", "rolling_qty")
      .orderBy("l_suppkey", "l_orderkey", "l_linenumber", "rolling_qty")
  }

  // ---- exact quantiles by rank (interpolation-free, engine-portable) -----
  // Two-phase range-partitioned rank ([[graft.operators.Sketches
  // .exactQuantilesByRank]]): per-group range buckets + bucket-count offsets
  // locate each quantile's bucket, and only THAT bucket's ≈ n/B rows are
  // ranked — the old `Window.partitionBy(o_orderpriority)` form sent each
  // group (n/5 of the table) through a single task's sort.
  private def q36ExactQuantiles(s: SparkSession, d: String): DataFrame =
    graft.operators.Sketches
      .exactQuantilesByRank(
        T(s, d, "orders"), "o_orderpriority", "o_totalprice", "o_orderkey",
        ps = Seq(0.5, 0.9), buckets = 256)
      .orderBy("o_orderpriority", "p")

  // ---- engine-portable HLL cardinality sketch ----------------------------
  private def q35HllDistinct(s: SparkSession, d: String): DataFrame = {
    val orders = T(s, d, "orders")
    val est = graft.operators.Sketches.hllDistinctEstimate(orders, col("o_custkey"))
    val exact = orders.agg(countDistinct(col("o_custkey")).as("exact_distinct"))
    est.crossJoin(exact)
  }

  // ---- composed training-data curation pipeline --------------------------
  private def q33CurationPipeline(s: SparkSession, d: String): DataFrame =
    graft.operators.Curation.pipeline(T(s, d, "documents"), "doc_id", "text")
      .select("doc_id")
      .orderBy("doc_id")

  // ---- curation pipeline: 64-bit scale twin (same twin structure as
  // q17→q61). Identical gates and pipeline shape to q33; the LSH stage is
  // one xxhash64/shingle + affine permutations and the Jaccard-verify join
  // carries hashed long arrays instead of shingle strings. No SQL oracle
  // (DuckDB lacks xxhash64) — rows-only here; CurationSpec pins output
  // equality with the md5 pipeline on fixture corpora.
  private def q63Curation64(s: SparkSession, d: String): DataFrame =
    graft.operators.Curation.pipeline(T(s, d, "documents"), "doc_id", "text",
        hash64 = true)
      .select("doc_id")
      .orderBy("doc_id")

  // ---- §2.9 X12 JSON serialization of list/struct fields -----------------
  // The reference stores reaction lists as JSON text in the target table
  // (`field_mapper.py:449-459`); the simulated reactions here exercise the
  // three shapes: array-of-struct → JSON, struct → JSON, null → "[]".
  private def q37JsonSerialize(s: SparkSession, d: String): DataFrame = {
    val reactions = when(col("doc_id") % 3 =!= 0,
      array(
        struct(lit("like").as("emoji"), (col("doc_id") * 7 % 100).as("user_id")),
        struct(lit("heart").as("emoji"), (col("doc_id") * 11 % 100).as("user_id"))))
    T(s, d, "documents").select(
        col("doc_id"),
        coalesce(to_json(reactions), lit("[]")).as("reactions_json"),
        to_json(struct(col("lang"), col("source"))).as("meta_json"))
      .orderBy("doc_id")
  }

  // ---- dedup: banded hyperplane LSH over embeddings (multi-band recall) --
  // 12 sign bits per band (was 8): with b-bit bands a RANDOM vector pair
  // co-buckets with prob ~(1/2)^b per band, so expected bucket size is
  // n/2^b and the in-bucket self-join costs n²/2^b — at 100× (200k vecs)
  // 8-bit buckets held ~780 members (~3·10⁸ candidate pairs); 12 bits
  // bounds buckets near the duplicate-cluster size. Exact-copy recall is
  // unaffected (identical vectors agree on every bit); like all hyperplane
  // LSH the mid-similarity recall drops with b — the cosine gate below, not
  // the bands, defines the output contract.
  private def q38EmbeddingBandLsh(s: SparkSession, d: String): DataFrame =
    Dedup.embeddingLshBandPairs(T(s, d, "embeddings"), "vec_id", "embedding",
        bands = 4, rowsPerBand = 12, threshold = 0.2)
      .orderBy("id1", "id2")

  // ---- sampling: deterministic stratified training-mix weighting ---------
  private def q39StratifiedSample(s: SparkSession, d: String): DataFrame =
    graft.operators.Sampling.stratified(
        T(s, d, "documents"), col("doc_id"), col("lang"),
        rates = Map("en" -> 0.8, "zh" -> 0.2), defaultRate = 0.5)
      .select("doc_id", "lang")
      .orderBy("doc_id")

  // ---- sampling: shard-local fixed-capacity sequence packing -------------
  private def q40PackBins(s: SparkSession, d: String): DataFrame =
    graft.operators.Sampling.packBins(
        T(s, d, "documents"), col("lang"), col("doc_id"), col("n_chars"),
        capacity = 4096L)
      .select("doc_id", "lang", "n_chars", "bin_id")
      .orderBy("doc_id")

  // ---- as-of join: latest signup at-or-before each event -----------------
  // One union + one keyed window pass — never a time-range cross-join.
  // Oracle: DuckDB's native ASOF LEFT JOIN over the same inputs.
  private def q41AsofJoin(s: SparkSession, d: String): DataFrame = {
    val base = T(s, d, "events").select(
      col("event_id"), col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("tus"))
    // right side unique per (key, time): ties take the max event id
    val signups = base.filter(col("event_type") === "signup")
      .groupBy("user_id", "tus").agg(max(col("event_id")).as("sid"))
    Relational.asofJoin(
        base.select("event_id", "user_id", "tus"), signups,
        "user_id", "tus", "tus", Seq("sid"))
      .select(col("event_id"), col("user_id"), col("asof.sid").as("last_signup_id"))
      .orderBy("event_id")
  }

  // ---- range join: events inside each error's 10-minute incident window --
  // Bucketized containment join — the equi-join collides only same-bucket
  // candidates; DuckDB verifies with a plain inequality join (IEJoin).
  private def q42RangeJoin(s: SparkSession, d: String): DataFrame = {
    val base = T(s, d, "events").select(
      col("event_id"), col("event_type"), unix_micros(col("ts")).as("tus"))
    val windows = base.filter(col("event_type") === "error").select(
      col("event_id").as("err_id"),
      col("tus").as("w_start"),
      (col("tus") + lit(600000000L)).as("w_end"))
    Relational.rangeJoin(
        base.select("event_id", "tus"), "tus", windows, "w_start", "w_end",
        bucketWidth = 600000000L)
      .groupBy("err_id")
      .agg(count(lit(1)).as("n_events_in_window"))
      .orderBy("err_id")
  }

  // ---- skew: salted two-phase aggregation ≡ plain group-by ---------------
  // The salt spreads each hot key over 16 partial groups; decimal partials
  // re-merge exactly, so the oracle's single-phase GROUP BY hash-matches.
  private def q43SaltedAgg(s: SparkSession, d: String): DataFrame =
    graft.operators.Skew.saltedGroupAgg(
        T(s, d, "events"),
        "event_type", "event_id", saltFactor = 16,
        partialAggs = Seq(count(lit(1)).as("__c"),
          sum(col("value").cast("decimal(18,6)")).as("__s")),
        finalAggs = Seq(sum(col("__c")).as("n_events"),
          sum(col("__s")).cast("double").as("sum_value")))
      .orderBy("event_type")

  // ---- exact distributed moments (decimal-sum algebraic decomposition) ---
  private def q44ExactMoments(s: SparkSession, d: String): DataFrame =
    graft.operators.Sketches.exactMoments(
        T(s, d, "events"), Seq("event_type"), col("value"))
      .orderBy("event_type")

  // ---- dedup: components over the near-dup pair graph --------------------
  // Same pair generation as q17; min-label propagation vs the oracle's
  // recursive-CTE transitive closure. Docs with no pairs are singletons.
  private def q45DedupComponents(s: SparkSession, d: String): DataFrame = {
    val docs = T(s, d, "documents")
    val pairs = Dedup.minHashLshPairs(docs, "doc_id", "text",
      shingleLen = 2, bands = 4, rowsPerBand = 4) // r=4: see q17's S-curve note
    val comp = Dedup.connectedComponents(pairs).withColumnRenamed("id", "doc_id")
    docs.select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("comp"))
      .orderBy("doc_id")
  }

  // ---- corpus stats: top-k frequent words per language -------------------
  // Explode → two-level aggregation (map-side combine on (lang, word)) →
  // per-group top-k via WindowGroupLimit; ties break on the word itself so
  // both engines rank identically.
  private def q46TopWords(s: SparkSession, d: String): DataFrame = {
    val words = T(s, d, "documents")
      .select(col("lang"), explode(split(lower(trim(col("text"))), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("lang", "word").agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("n").desc, col("word").asc)
    words.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select("lang", "rnk", "word", "n")
      .orderBy("lang", "rnk")
  }

  // ---- §2.1 S4 / §2.6 A1 per-table counts --------------------------------
  private val AllTables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // Table counts are statistics of immutable parquet files, so the engine
  // memoizes them per (session, data dir) like any catalog stats cache. The
  // first computation runs the V2 aggregate-pushdown scan (footer metadata,
  // never the data) — collected EAGERLY while the pushdown confs are scoped,
  // because any later action on a lazy plan would REPLAN under the restored
  // default confs and silently fall back to full scans. Subsequent calls
  // serve the 10-row local relation.
  private val cachedStats = new java.util.concurrent.ConcurrentHashMap[
    String, (org.apache.spark.sql.types.StructType, Array[org.apache.spark.sql.Row])]()

  /** Drops the memoized table statistics. Bench uses this to time the HONEST
    * first computation (the footer-only pushdown scan) next to the memoized
    * number — a 0.05 s map hit must not read as scan cost.
    */
  private[graft] def resetStatsCaches(): Unit = cachedStats.clear()

  /** The prepared-footer-stats pattern shared by q31 (COUNT) and q54
    * (MIN/MAX): statistics of immutable parquet files are memoized per
    * (session, data dir) like any catalog stats cache. The first computation
    * runs the V2 aggregate-pushdown scan (footer metadata, never the data) —
    * collected EAGERLY while the pushdown confs are scoped, because any
    * later action on a lazy plan would REPLAN under the restored default
    * confs and silently fall back to full scans. Subsequent calls serve the
    * collected local rows. `requiredMarkers` make the pushdown a runtime
    * contract: fail loudly if it ever silently stops planning.
    */
  private def footerStats(
      s: SparkSession,
      cacheKey: String,
      requiredMarkers: Seq[(String, Int)])(build: => DataFrame): DataFrame = {
    if (cachedStats.size > 32) cachedStats.clear() // bound stale-session entries
    val key = System.identityHashCode(s) + "|" + cacheKey
    val (schema, rows) = cachedStats.computeIfAbsent(key, _ => {
      // AQE and wide shuffles buy nothing for a handful of metadata rows:
      // the plan is pinned static + single-partition. All confs are scoped
      // to this computation and restored verbatim (effective values,
      // defaults included), so the rest of the engine keeps its source path.
      val conf = s.conf
      val prev = Seq("spark.sql.sources.useV1SourceList",
        "spark.sql.parquet.aggregatePushdown",
        "spark.sql.adaptive.enabled",
        "spark.sql.shuffle.partitions").map(k => k -> conf.get(k)).toMap
      try {
        conf.set("spark.sql.sources.useV1SourceList",
          prev("spark.sql.sources.useV1SourceList").split(",")
            .map(_.trim).filter(x => x.nonEmpty && x != "parquet").mkString(","))
        conf.set("spark.sql.parquet.aggregatePushdown", "true")
        conf.set("spark.sql.adaptive.enabled", "false")
        conf.set("spark.sql.shuffle.partitions", "1")
        val df = build
        val plan = df.queryExecution.executedPlan.toString
        // the plans union one scan PER TABLE: require the marker once per
        // scan, not "somewhere in the plan" — one table silently falling
        // back to a data scan must fail even while the others still push.
        // Markers are counted ONLY on lines carrying a PushedAggregation
        // entry, so a bare aggregate marker elsewhere in the plan can never
        // mask a scan that fell back to reading data pages.
        val pushedLines = plan.linesIterator.filter(_.contains("PushedAggregation")).mkString("\n")
        requiredMarkers.foreach { case (m, n) =>
          val found = pushedLines.sliding(m.length).count(_ == m)
          require(found >= n,
            s"parquet aggregate pushdown did not engage on every scan " +
              s"($m: $found of $n):\n$plan")
        }
        (df.schema, df.collect())
      } finally prev.foreach { case (k, v) => conf.set(k, v) }
    })
    import scala.jdk.CollectionConverters._
    s.createDataFrame(rows.toSeq.asJava, schema)
  }

  private def q31TableCounts(s: SparkSession, d: String): DataFrame =
    footerStats(s, s"q31|$d", Seq("PushedAggregation: [COUNT(*)]" -> AllTables.size)) {
      AllTables
        .map(n => T(s, d, n).agg(count(lit(1)).as("n")).select(lit(n).as("tbl"), col("n")))
        .reduce(_ unionByName _)
        .orderBy("tbl")
    }

  // ---- §2.6 MIN/MAX over parquet footer statistics (q31's COUNT twin):
  // column ranges per table, pushed to the scan — the aggregate never reads
  // a data page. Casts sit ABOVE the aggregate so the pushdown still sees
  // bare min/max on the column ------------------------------------------------
  private val MinMaxCols = Seq(
    "orders" -> "o_orderkey", "orders" -> "o_totalprice",
    "lineitem" -> "l_orderkey", "lineitem" -> "l_extendedprice",
    "part" -> "p_partkey", "customer" -> "c_custkey")

  private def q54MinMaxStats(s: SparkSession, d: String): DataFrame =
    footerStats(s, s"q54|$d",
      // "), MAX(" anchors the max to the same PushedAggregation entry as the
      // min — a bare "MAX(" could count an occurrence outside the entry
      Seq("PushedAggregation: [MIN(" -> MinMaxCols.size, "), MAX(" -> MinMaxCols.size)) {
      MinMaxCols.map { case (t, c) =>
        T(s, d, t).agg(min(col(c)).as("mn"), max(col(c)).as("mx"))
          .select(lit(t).as("tbl"), lit(c).as("col_name"),
            col("mn").cast("double").as("min_v"), col("mx").cast("double").as("max_v"))
      }.reduce(_ unionByName _).orderBy("tbl", "col_name")
    }

  // ---- 64-bit SimHash (native xxhash64 expression — the scale path next to
  // q19's md5-based oracle twin; xxhash64 has no DuckDB equivalent, so the
  // driver records a rows-only check and DedupSpec pins bit-identity to the
  // interpreted formulation) -------------------------------------------------
  private def q47Simhash64(s: SparkSession, d: String): DataFrame =
    T(s, d, "documents")
      .select(col("doc_id"), Dedup.simHash64(col("text")).as("simhash64"))
      .orderBy("doc_id")

  // ---- Gopher-style repetition signals (boilerplate/spam gates) ----------
  private def q48Repetition(s: SparkSession, d: String): DataFrame =
    TextAnalysis.repetitionSignals(T(s, d, "documents"), "doc_id", "text", n = 2)
      .orderBy("doc_id")

  // ---- int8-quantized ANN: 4× fewer shuffle bytes, scales cancel in
  // cosine so ranking runs on exact integer arithmetic -------------------
  private def q50QuantizedTopk(s: SparkSession, d: String): DataFrame = {
    val e = T(s, d, "embeddings")
      .select(col("vec_id"), Vectors.quantizeI8(col("embedding")).as("qv"))
    val q = broadcast(e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("qv").as("qa")))
    val c = e.select(col("vec_id").as("neighbor_id"), col("qv").as("qb"))
    val scored = q.crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", round(Vectors.cosineLong(col("qa"), col("qb")), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk")
  }

  // ---- span-level exact dedup: drop repeated k-word chunks across docs,
  // keep first occurrence, reassemble (the C4-style boilerplate scrub) ----
  private def q55ChunkDedup(s: SparkSession, d: String): DataFrame =
    Dedup.chunkDedup(T(s, d, "documents"), "doc_id", "text", k = 8)
      .orderBy("doc_id")

  // ---- deterministic epoch reshuffle (training-order permutation) --------
  private def q51EpochShuffle(s: SparkSession, d: String): DataFrame =
    graft.operators.Sampling.epochShuffle(T(s, d, "documents").select("doc_id"), col("doc_id"), epoch = 1)
      .select("doc_id", "shuffle_order")

  // ---- deterministic weighted mixture (training-mix composer) ------------
  private def q52Mixture(s: SparkSession, d: String): DataFrame = {
    val docs = T(s, d, "documents")
    val en = docs.filter(col("lang") === "en").select("doc_id")
    val rest = docs.filter(col("lang") =!= "en").select("doc_id")
    graft.operators.Sampling.mixture(Seq((en, col("doc_id"), 0.6), (rest, col("doc_id"), 1.5)))
      .groupBy("doc_id").agg(count(lit(1)).as("n_copies"))
      .orderBy("doc_id")
  }

  // ---- salted fact⨝dim join ≡ the plain join (the explicit-skew fallback
  // for keys AQE's splitting can't tame) ----------------------------------
  private def q53SaltedJoin(s: SparkSession, d: String): DataFrame = {
    val fact = T(s, d, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    val dim = T(s, d, "customer")
      .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
    graft.operators.Skew.saltedJoin(fact, dim, "o_custkey", "o_orderkey", saltFactor = 8)
      .groupBy("c_mktsegment")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("sum_price"))
      .orderBy("c_mktsegment")
  }

  // ---- test-set decontamination (n-gram overlap vs a benchmark slice) ----
  private def q49Decontaminate(s: SparkSession, d: String): DataFrame = {
    val docs = T(s, d, "documents")
    val benchmark = docs.filter(col("doc_id") % 97 === 0)
    Dedup.contaminatedIds(docs.filter(col("doc_id") % 97 =!= 0), benchmark,
        "doc_id", "text", n = 4)
      .orderBy("doc_id")
  }

  // ---- curation pipeline, transitive survivor rule: close the confirmed
  // near-dup pair graph (connectedComponents) and keep min id per
  // component — survivorship independent of graph shape and hash family.
  // Oracle: recursive-CTE closure over the same Jaccard-confirmed pairs.
  private def q65CurationTransitive(s: SparkSession, d: String): DataFrame =
    graft.operators.Curation.pipeline(T(s, d, "documents"), "doc_id", "text",
        transitive = true)
      .select("doc_id")
      .orderBy("doc_id")

  // ---- curation pipeline, PRODUCTION configuration: hash64 LSH + transitive
  // survivorship — the two 100 TB halves composed the way a real pipeline
  // runs them (q63 proves hash64 alone, q65 proves transitive alone; this is
  // the combination where transitive matters most, because hash64 is the
  // family whose pair-drop survivor set diverges without it). No SQL oracle
  // (DuckDB lacks xxhash64) — rows-only here; DedupSpec pins all four
  // (hash family × survivor rule) quadrants on the bridge-topology fixture,
  // with the transitive survivors identical across hash families (q65's
  // semantics exactly).
  private def q66CurationProduction(s: SparkSession, d: String): DataFrame =
    graft.operators.Curation.pipeline(T(s, d, "documents"), "doc_id", "text",
        hash64 = true, transitive = true)
      .select("doc_id")
      .orderBy("doc_id")

  // ---- near-superset (containment) duplicate pairs: doc-inside-doc
  // duplication that Jaccard-LSH structurally misses (C(A→B)=|∩|/|A| high
  // while J=|∩|/|∪| low for |B|≫|A|). Rare-shingle anchor candidates +
  // exact containment verify; fully deterministic, oracle recomputes df,
  // the (df, shingle)-ordered anchor top-k, and the division exactly.
  private def q67ContainmentPairs(s: SparkSession, d: String): DataFrame =
    Dedup.containmentPairs(T(s, d, "documents"), "doc_id", "text")
      .orderBy("id1", "id2")

  // ---- containment dedup, PRODUCTION order: curate first (exact dedup +
  // quality/lang gates + transitive near-dup removal, q65's configuration),
  // THEN hunt doc-inside-doc containment among the survivors. Order matters
  // at scale: near-dup clusters make rare-shingle anchors non-rare (each
  // anchor's df multiplies by the cluster size), inflating the candidate
  // expansion ~F² on an F×-replicated corpus — measured 224 s at 10× raw vs
  // seconds on survivors (SCALE_r09.md). Containment is the operator that
  // finds what curation's Jaccard stage structurally cannot; running it
  // downstream of curation is both the cheap order and the semantic one.
  // On the fixture corpus the verified answer is EMPTY — every raw
  // containment pair is a symmetric near-dup (J ≥ 0.82, size ratio ≈ 1)
  // that curation removes, and the synthetic text has no |B| ≫ |A|
  // doc-inside-doc structure. Non-vacuous: the full pipeline still runs
  // (sf0.01: 280 survivor candidates evaluated, max containment 0.45 —
  // nowhere near the 0.8 bar) and the DuckDB oracle derives the same
  // empty set from the same stages; DedupSpec pins the non-empty case on
  // a fixture where the structure exists.
  // Known redundancy, accepted: containmentPairs re-shingles the survivor
  // corpus although Curation.pipeline shingled the gated superset
  // internally (the oracle reuses its `sh` CTE). One extra tokenization
  // pass over ~N survivors vs keeping the operator APIs composable on
  // plain (id, text) frames — revisit only if a profile shows it matters
  // (at 100× the whole containment tier adds ~2 s on top of curation).
  private def q69ContainmentCurated(s: SparkSession, d: String): DataFrame = {
    val docs = T(s, d, "documents")
    val survivors = graft.operators.Curation
      .pipeline(docs, "doc_id", "text", transitive = true)
      .select("doc_id")
    Dedup.containmentPairs(
        docs.join(survivors, Seq("doc_id"), "left_semi"), "doc_id", "text")
      .orderBy("id1", "id2")
  }

  // ---- containment dedup, PRODUCTION order AND production hash family:
  // q69's curate-first composition with the curation stage on q66's
  // configuration (hash64 LSH + transitive survivorship) — the stack a
  // real 100 TB pipeline runs. Rows-only (DuckDB lacks xxhash64; the twin
  // pattern q63→q33 / q66→q65 established): q69 is the oracle-green md5
  // twin, and DedupSpec pins the q66↔q65 survivor-set identity this
  // composition inherits (at sf0.01 the survivor sets are SET-IDENTICAL,
  // so the containment tier sees the same input corpus modulo the
  // documented hash-family candidate margin). Exists because the suite's
  // reported cost for "containment in production order" was q69's md5
  // number (~2.1× the real production cost at 100× — VERDICT r9 #2).
  private def q72ContainmentProduction(s: SparkSession, d: String): DataFrame = {
    val docs = T(s, d, "documents")
    val survivors = graft.operators.Curation
      .pipeline(docs, "doc_id", "text", hash64 = true, transitive = true)
      .select("doc_id")
    Dedup.containmentPairs(
        docs.join(survivors, Seq("doc_id"), "left_semi"), "doc_id", "text")
      .orderBy("id1", "id2")
  }

  // ---- production-order containment with a PLANTED near-superset pair
  // (VERDICT r13 next #5): q69's curate-then-contain stack over
  // `documents` plus two deterministic literal docs ([[PlantedFixture]] —
  // the test corpus is read-only, so the doc-inside-doc structure the
  // synthetic corpus lacks is unioned on in-query, identically in both
  // engines). The planted pair survives curation (J ≈ 0.48 < 0.6) and
  // verifies at containment 1.0, so this is the first oracle-checked
  // production-order run where the containment stage actually FIRES —
  // q69/q72's empty results stay legitimate (that corpus has no such
  // structure), and this query proves the composed stack drops a doc
  // when the structure exists ---------------------------------------------
  private def q102ContainmentPlanted(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val planted = Seq(
      (PlantedFixture.ContainedId, PlantedFixture.ContainedText),
      (PlantedFixture.SupersetId, PlantedFixture.SupersetText))
      .toDF("doc_id", "text")
    val docs = T(s, d, "documents").select(col("doc_id"), col("text"))
      .unionByName(planted)
    val survivors = graft.operators.Curation
      .pipeline(docs, "doc_id", "text", transitive = true)
      .select("doc_id")
    Dedup.containmentPairs(
        docs.join(survivors, Seq("doc_id"), "left_semi"), "doc_id", "text")
      .orderBy("id1", "id2")
  }

  // ---- the FULL training-data preparation pipeline, composed end-to-end:
  // curation (exact dedup + gates + transitive near-dup) → containment
  // removal → substring-level span removal → one clean corpus
  // (doc_id, clean_text). Stage ordering rationale and the containment
  // survivor rule live on [[graft.operators.TrainPrep.pipeline]].
  private def trainPrep(s: SparkSession, d: String, hash64: Boolean): DataFrame =
    graft.operators.TrainPrep
      .pipeline(T(s, d, "documents"), "doc_id", "text", hash64 = hash64)
      .orderBy("doc_id")

  // md5 hash family — the DuckDB-oracle form (recursive-CTE curation
  // closure + capped containment + q71's substring CTEs, stitched).
  private def q73TrainPrep(s: SparkSession, d: String): DataFrame =
    trainPrep(s, d, hash64 = false)

  // production hash family (q66 config) — rows-only twin of q73 (DuckDB
  // lacks xxhash64; the q63/q66/q72 twin pattern). DedupSpec pins the
  // hash-family-independence of every stage this composition chains.
  private def q74TrainPrepProduction(s: SparkSession, d: String): DataFrame =
    trainPrep(s, d, hash64 = true)

  // ---- prep → pack: the END of the training-data pipeline. TrainPrep's
  // clean corpus is re-tokenized (whitespace count of clean_text —
  // single-space-joined by the removal pass, so size(split) IS the token
  // count; empty docs pack as 0 tokens, made explicit because both
  // engines' splitters return [''] on ''), joined back to documents for
  // the shard key (lang — one co-keyed shuffle join; the clean corpus
  // carries only doc_id/clean_text by design), then packed with the
  // q40/q60 cumulative-sum bin rule ([[graft.operators.Sampling.packBins]],
  // 1024 tokens/bin, shard-local window — never a global order). Shard key
  // here is lang for oracle comparability; a low-cardinality shard key
  // serializes each shard's cumulative sum through one window partition,
  // so a 100 TB run shards on (lang, pmod(xxhash64(doc_id), N)) instead —
  // same rule per shard, N× the parallelism (packing is inherently
  // sequential per shard; only the shard GRAIN is the scale lever).
  // Composed as ONE query so stage-interaction bugs (span removal changing
  // token counts under the packer's bin arithmetic) surface in the hash
  // compare;
  // SamplingSpec pins token conservation (clean tokens = raw tokens −
  // dup_tokens) through the same composition.
  private def q75PrepPack(s: SparkSession, d: String): DataFrame = {
    val clean = graft.operators.TrainPrep
      .pipeline(T(s, d, "documents"), "doc_id", "text", hash64 = false)
    val toks = clean
      .join(T(s, d, "documents").select(col("doc_id"), col("lang")), Seq("doc_id"))
      .withColumn("n_tokens",
        when(col("clean_text") === "", lit(0L))
          .otherwise(size(split(col("clean_text"), "\\s+")).cast("long")))
    graft.operators.Sampling
      .packBins(toks, col("lang"), col("doc_id"), col("n_tokens"), 1024L)
      .select("doc_id", "lang", "n_tokens", "bin_id")
      .orderBy("doc_id")
  }

  // ---- substring-level duplication report: stride-1 8-token windows,
  // corpus-wide duplicate detection, global-first survivor rule, merged
  // spans per doc (Lee et al. 2021 operator family — duplication at ANY
  // alignment, vs q55's chunk-boundary-aligned form). One count shuffle +
  // one marking join + a per-doc window pass; native WordWindowsExpr.
  private def q70SubstringDedup(s: SparkSession, d: String): DataFrame =
    Dedup.duplicatedSpans(T(s, d, "documents"), "doc_id", "text", k = 8)
      .orderBy("doc_id")

  // ---- the actionable form of q70: duplicated token ranges DELETED —
  // the keep-one-copy removal pass a training pipeline runs. Rows
  // preserved; clean_text whitespace-canonicalized for every doc
  // (deterministic, exactly SQL-mirrorable).
  private def q71SubstringClean(s: SparkSession, d: String): DataFrame =
    Dedup.removeDuplicatedSpans(T(s, d, "documents"), "doc_id", "text", k = 8)
      .orderBy("doc_id")

  // ---- embedding dedup with transitive survivorship: sign-bucket LSH
  // near-dup pairs (q25's auto geometry) closed into components
  // (connectedComponents), one min-id survivor per cluster — q65's
  // survivor rule applied to the embedding modality. Oracle: q25's
  // bucket-pair SQL + the q65-style recursive reachability closure.
  private def q68EmbeddingDedup(s: SparkSession, d: String): DataFrame = {
    val e = T(s, d, "embeddings")
    val pairs = Dedup.embeddingNearDupPairs(e, "vec_id", "embedding", threshold = 0.2)
    val dropped = Dedup.connectedComponents(pairs)
      .filter(col("id") =!= col("comp")).select(col("id").as("vec_id"))
    e.select(col("vec_id")).join(dropped, Seq("vec_id"), "left_anti")
      .orderBy("vec_id")
  }

  // ---- decontamination, bloom-pruned scale path. Same fixture and output
  // contract as q49 (prune + exact verify — identical result, shared
  // oracle); the exact distinct-gram table stays distributed and only a
  // Bloom filter of it rides the plan.
  private def q64DecontaminateBloom(s: SparkSession, d: String): DataFrame = {
    val docs = T(s, d, "documents")
    val benchmark = docs.filter(col("doc_id") % 97 === 0)
    Dedup.contaminatedIdsBloom(docs.filter(col("doc_id") % 97 =!= 0), benchmark,
        "doc_id", "text", n = 4)
      .orderBy("doc_id")
  }

  // ---- PII scrub + audit counts over a deterministic PII-bearing payload
  // (the synthetic corpus carries no PII, so the payload grafts typed spans
  // derived from real columns onto the text — the regexes then have real
  // work to do and the redacted output varies per row) --------------------
  private def q56PiiRedact(s: SparkSession, d: String): DataFrame = {
    val idStr = col("doc_id").cast("string")
    val phonePart = when(col("doc_id") % 3 === 0,
      concat(lit(" call +1 555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
      .otherwise(lit(""))
    val ipPart = when(col("doc_id") % 2 === 0,
      concat(lit(" from 10."), (col("doc_id") % 256).cast("string"), lit(".0.7")))
      .otherwise(lit(""))
    val payload = concat(
      col("text"), lit(" contact user"), idStr, lit("@example.com"),
      phonePart, ipPart,
      lit(" acct 9"), lpad((col("doc_id") % 100000000).cast("string"), 8, "0"))
    val counts = graft.operators.TextAnalysis.piiCounts(payload)
    T(s, d, "documents")
      .select(col("doc_id") +:
        graft.operators.TextAnalysis.redactPii(payload).as("redacted") +:
        counts.map { case (n, c) => c.as(n) }: _*)
      .orderBy("doc_id")
  }

  // ---- per-source quota cap (the "≤ N docs per domain" crawl rule) -------
  private def q57SourceQuota(s: SparkSession, d: String): DataFrame =
    graft.operators.Sampling.quotaPerKey(
      T(s, d, "documents").select("doc_id", "source"),
      col("source"), col("doc_id"), quota = 15)
      .orderBy("doc_id")

  // ---- top TF-IDF terms per document (log-free idf — see scaladoc) -------
  private def q58TfidfTerms(s: SparkSession, d: String): DataFrame =
    graft.operators.TextAnalysis.tfIdfTopTerms(T(s, d, "documents"), "doc_id", "text", k = 3)
      .orderBy("doc_id", "rnk")

  // ---- multimodal decode round-trip: synthesize a REAL binary PGM (P5)
  // per document (pixels a closed-form function of doc_id), then decode it
  // back through the pure-JVM PgmCodec and aggregate exact integer stats —
  // the oracle recomputes the pixel sum in closed form, so a header-parse
  // or pixel-offset bug anywhere in encode/decode breaks the hash ---------
  private def q59PgmDecode(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val enc = org.apache.spark.sql.Encoders.row(StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("content", BinaryType, nullable = true))))
    val media = T(s, d, "documents").select(col("doc_id").as("media_id"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val px = new Array[Byte](16 * 8)
          var i = 0
          while (i < px.length) { px(i) = ((id * 7 + i) % 256).toByte; i += 1 }
          Row(id, graft.operators.Multimodal.PgmCodec.encode(16, 8, 255, px))
        }
      }(enc)
    graft.operators.Multimodal.imageStats(media)
      .withColumnRenamed("media_id", "doc_id")
      .orderBy("doc_id")
  }

  // ---- audio decode round-trip (q59's pattern, audio modality): synthesize
  // a REAL RIFF/WAVE PCM16 clip per document — 160 mono samples at 8 kHz,
  // sample i = (7·id + i) mod 256 — then decode it back through the JDK's
  // javax.sound.sampled (WavCodec) and aggregate exact integer stats. The
  // oracle recomputes the sample sum/peak of the synthetic ramp in closed
  // form, so a RIFF-header, endianness, or frame-arithmetic bug anywhere in
  // encode/decode breaks the hash ------------------------------------------
  private def q76WavDecode(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val enc = org.apache.spark.sql.Encoders.row(StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("content", BinaryType, nullable = true))))
    val media = T(s, d, "documents").select(col("doc_id").as("media_id"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val samples = Array.tabulate[Short](160)(i => (((id * 7 + i) % 256)).toShort)
          Row(id, graft.operators.Multimodal.WavCodec.encode(8000, 1, samples))
        }
      }(enc)
    graft.operators.Multimodal.audioStats(media)
      .withColumnRenamed("media_id", "doc_id")
      .orderBy("doc_id")
  }

  // ---- PNG decode round-trip (q59's pattern, compressed-image modality):
  // synthesize a REAL grayscale PNG per document via the JDK's
  // javax.imageio (20×10, pixel i = (11·id + i) mod 256), decode it back
  // through PngCodec's cached-reader path, and aggregate exact integer
  // stats. The oracle recomputes the ramp's pixel sum in closed form —
  // 200 consecutive residues starting at a = 11·id mod 256 — so a filter/
  // IDAT/raster-layout bug anywhere in the zlib-compressed round-trip
  // breaks the hash ---------------------------------------------------------
  private def q77PngDecode(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val enc = org.apache.spark.sql.Encoders.row(StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("content", BinaryType, nullable = true))))
    val media = T(s, d, "documents").select(col("doc_id").as("media_id"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val px = new Array[Byte](20 * 10)
          var i = 0
          while (i < px.length) { px(i) = ((id * 11 + i) % 256).toByte; i += 1 }
          Row(id, graft.operators.Multimodal.PngCodec.encode(20, 10, px))
        }
      }(enc)
    graft.operators.Multimodal.imageStats(media, graft.operators.Multimodal.PngCodec)
      .withColumnRenamed("media_id", "doc_id")
      .orderBy("doc_id")
  }

  // ---- perceptual image hash (aHash): synthesize a 16×8 grayscale PNG per
  // document — pixel i = (id·(i+1)) mod 256, a multiplicative pattern whose
  // aHash VARIES across documents (an additive ramp thresholds to nearly
  // one hash corpus-wide — measured: 41.6k degenerate pairs from 500 docs)
  // — PNG-encode, decode through PngCodec, nearest-neighbor 8×8 downsample,
  // exact-integer mean threshold. The oracle recomputes the sampled pixels
  // ((id·(2·pos+1)) mod 256 — resize picks source offset 2·pos), the mean
  // rule 64·v > Σv, and the hi/lo bit packing in closed form -------------
  private def q79ImageAhash(s: SparkSession, d: String): DataFrame =
    graft.operators.Multimodal.imageAHash(
        pngMedia(s, d), graft.operators.Multimodal.PngCodec)
      .withColumnRenamed("media_id", "doc_id")
      .orderBy("doc_id")

  // ---- image near-dup pairs: the q79 hashes through 16-bit band LSH +
  // hamming ≤ 6 verify — the visual analogue of the SimHash text tier,
  // closing the loop from REAL image decode to the dedup tier. Docs with
  // id ≡ id' (mod 256) synthesize identical images (hamming 0 — the
  // duplicate-cluster story); a handful of near classes land at 2 bits ----
  private def q80ImageNeardup(s: SparkSession, d: String): DataFrame =
    graft.operators.Multimodal.imageNearDupPairs(
        graft.operators.Multimodal.imageAHash(
          pngMedia(s, d), graft.operators.Multimodal.PngCodec),
        maxHamming = 6)
      .orderBy("id1", "id2")

  // ---- audio fingerprint: 32-bit energy-envelope signature per clip —
  // synthesize a REAL RIFF PCM16 clip (160 mono samples at 8 kHz, sample
  // i = (id·(i+3)) mod 256 — multiplicative for the q79 diversity reason:
  // 246 of 256 id-classes get distinct fingerprints), decode through the
  // WavCodec fast path, 32 windows of 5 samples, bit = 32·energy > total
  // (the equal-window reduction of the exact cross-multiply rule). The
  // oracle recomputes window energies and bit packing in closed form ------
  private def q81AudioFingerprint(s: SparkSession, d: String): DataFrame =
    graft.operators.Multimodal.audioFingerprint(wavMedia(s, d), frames = 32)
      .withColumnRenamed("media_id", "doc_id")
      .orderBy("doc_id")

  // ---- audio near-dup pairs: q81 fingerprints through 4×8-bit band LSH +
  // hamming ≤ 3 verify (pigeonhole recall 1.0 at 3 bits with 4 bands) —
  // audio joins images (q80) in the dedup tier over REAL decoded bytes ----
  private def q82AudioNeardup(s: SparkSession, d: String): DataFrame =
    graft.operators.Multimodal.audioNearDupPairs(
        graft.operators.Multimodal.audioFingerprint(wavMedia(s, d), frames = 32),
        frames = 32, bands = 4, maxHamming = 3)
      .orderBy("id1", "id2")

  // ---- video fingerprint: per-frame aHash pooled by per-bit majority —
  // synthesize a REAL 4-frame clip (concatenated 16×8 binary PGMs, frame f
  // pixel i = (id·(i+1) + 17·f) mod 256), iterate the frames through
  // PgmCodec.frames, aHash each, pool. The oracle recomputes frame
  // sampling (offset 2·pos), per-frame thresholds, and the ≥-half
  // majority in closed form -----------------------------------------------
  private def q83VideoFingerprint(s: SparkSession, d: String): DataFrame =
    graft.operators.Multimodal.videoFingerprint(pgmClipMedia(s, d))
      .withColumnRenamed("media_id", "doc_id")
      .orderBy("doc_id")

  // ---- video near-dup pairs: clip fingerprints ride the SAME banded tier
  // as images (imageNearDupPairs consumes ahash_hi/ahash_lo unchanged) ----
  private def q84VideoNeardup(s: SparkSession, d: String): DataFrame =
    graft.operators.Multimodal.imageNearDupPairs(
        graft.operators.Multimodal.videoFingerprint(pgmClipMedia(s, d)),
        maxHamming = 6)
      .orderBy("id1", "id2")

  // ---- media dedup closure (VERDICT r12 next #2): the q80 pair evidence
  // closed into an ACTIONABLE survivor set — pairs → connected components
  // → one min-id survivor per perceptual cluster, unpaired images surviving
  // as singletons (the q68 recipe applied to the image modality). Oracle:
  // q80's closed-form hash + banded-pair CTEs + the q68-style recursive
  // reachability closure ----------------------------------------------------
  private def q85ImageDedup(s: SparkSession, d: String): DataFrame = {
    val media = pngMedia(s, d)
    val pairs = graft.operators.Multimodal.imageNearDupPairs(
      graft.operators.Multimodal.imageAHash(media, graft.operators.Multimodal.PngCodec),
      maxHamming = 6)
    Dedup.survivorsFromPairs(media, "media_id", pairs)
      .withColumnRenamed("media_id", "doc_id")
      .orderBy("doc_id")
  }

  // ---- BMP decode round-trip (q77's recipe, third container family):
  // synthesize a REAL 20×10 gray BMP per document via the JDK's BMP writer
  // (pixel i = (13·id + i) mod 256 — multiplier distinct from q77's 11 so
  // a container mix-up cannot alias), decode through AutoImageCodec — this
  // query pins the magic-byte SNIFF path ("BM" → BmpCodec) as well as the
  // decode, since a routing bug would land on PngCodec and emit −1s. BMP
  // is uncompressed, so the oracle recomputes the ramp stats in closed
  // form exactly as q77 does ------------------------------------------------
  private def q86BmpDecode(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val enc = org.apache.spark.sql.Encoders.row(StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("content", BinaryType, nullable = true))))
    val media = T(s, d, "documents").select(col("doc_id").as("media_id"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val px = new Array[Byte](20 * 10)
          var i = 0
          while (i < px.length) { px(i) = ((id * 13 + i) % 256).toByte; i += 1 }
          Row(id, graft.operators.Multimodal.BmpCodec.encode(20, 10, px))
        }
      }(enc)
    graft.operators.Multimodal
      .imageStats(media, graft.operators.Multimodal.AutoImageCodec)
      .withColumnRenamed("media_id", "doc_id")
      .orderBy("doc_id")
  }

  // ---- GUARD-ACTIVE image near-dup pairs (VERDICT r12 next #1): the q80
  // tier with maxBucketSize = 6 — at sf0.01 the 16-bit band buckets reach
  // size 18, so the star-collapse really fires (stars + rep cliques replace
  // the plain quadratic expansion in ~30 buckets). The oracle MIRRORS the
  // guard: per-band bucket counts, min-id rep per (band, bucket,
  // fingerprint), star pairs + small-bucket pairs + rep pairs, then the
  // same distinct + hamming ≤ 6 verify — so this is the one guarded pair
  // query whose semantics are oracle-checked rather than twin-pinned
  // (SparkEntry.guardMirroredOracles exempts it from Verify's
  // guard-activation withhold, the containment-guard precedent) -----------
  private def q87GuardedImageNeardup(s: SparkSession, d: String): DataFrame =
    graft.operators.Multimodal.imageNearDupPairs(
        graft.operators.Multimodal.imageAHash(
          pngMedia(s, d), graft.operators.Multimodal.PngCodec),
        maxHamming = 6, maxBucketSize = Some(6))
      .orderBy("id1", "id2")

  // ---- GIF decode round-trip (q86's recipe, fourth container family):
  // LZW is lossless and a gray palette indexes to its own value, so the
  // closed-form ramp oracle holds exactly as for PNG/BMP; multiplier 17
  // keeps the three compressed-container ramps mutually non-aliasing.
  // With q77 + q86 this completes the oracle matrix over every LOSSLESS
  // JDK container (JPEG, the lossy one, is pinned by spec tolerance +
  // the hamming-0 cross-container pairing instead) -------------------------
  private def q88GifDecode(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val enc = org.apache.spark.sql.Encoders.row(StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("content", BinaryType, nullable = true))))
    val media = T(s, d, "documents").select(col("doc_id").as("media_id"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val px = new Array[Byte](20 * 10)
          var i = 0
          while (i < px.length) { px(i) = ((id * 17 + i) % 256).toByte; i += 1 }
          Row(id, graft.operators.Multimodal.GifCodec.encode(20, 10, px))
        }
      }(enc)
    graft.operators.Multimodal
      .imageStats(media, graft.operators.Multimodal.AutoImageCodec)
      .withColumnRenamed("media_id", "doc_id")
      .orderBy("doc_id")
  }

  // ---- strided video fingerprint (VERDICT r12 next #5 at the oracle
  // gate): the q83 clip through frameStride=2 — frames 0 and 2 of the
  // 4-frame container are hashed, the majority pools over exactly those
  // two, and the skipped frames are still PARSED (the iterator advances)
  // but never aHashed. The oracle recomputes the same two-frame pooling
  // in closed form; a sampling bug that hashed all four frames (or the
  // wrong two) breaks bits wherever frames disagree ------------------------
  private def q89VideoStrided(s: SparkSession, d: String): DataFrame =
    graft.operators.Multimodal.videoFingerprint(pgmClipMedia(s, d), frameStride = 2)
      .withColumnRenamed("media_id", "doc_id")
      .orderBy("doc_id")

  // ---- GUARD-ACTIVE audio near-dup pairs (q87's contract for the audio
  // tier): q82 at maxBucketSize = 6 — the 32-bit fingerprint's four 8-bit
  // bands have ≤ 256 distinct values each, so at sf0.01 (500 clips) every
  // hot band bucket is oversized and the star-collapse carries most of the
  // pair set. The oracle mirrors the guard exactly as q87's does; with
  // q87 this makes BOTH media guard paths oracle-checked --------------------
  private def q90GuardedAudioNeardup(s: SparkSession, d: String): DataFrame =
    graft.operators.Multimodal.audioNearDupPairs(
        graft.operators.Multimodal.audioFingerprint(wavMedia(s, d), frames = 32),
        frames = 32, bands = 4, maxHamming = 3, maxBucketSize = Some(6))
      .orderBy("id1", "id2")

  // ---- audio resample round-trip: the q81 fixture (160 mono samples at
  // 8 kHz) nearest-frame resampled to 3 kHz (a REAL decode → sample-pick →
  // re-encode → decode chain: 60 output frames, frame j reads source
  // ⌊8j/3⌋), then q76-style exact stats. The oracle recomputes the picked
  // samples ((id·(⌊8j/3⌋+3)) mod 256) in closed form — a rounding or
  // frame-indexing bug anywhere in the resample breaks the hash ------------
  private def q91AudioResample(s: SparkSession, d: String): DataFrame =
    graft.operators.Multimodal.audioStats(
        graft.operators.Multimodal.resampleAudio(wavMedia(s, d), targetRate = 3000))
      .withColumnRenamed("media_id", "doc_id")
      .orderBy("doc_id")

  // ---- CCNet-family LM quality filter: corpus-trained add-1 bigram
  // cross-entropy + perplexity per document (TextAnalysis.bigramLmScore).
  // The oracle retrains the identical model in SQL; the decimal-sum
  // discipline makes the doc scores exact, so the hash pins the model
  // counts, the smoothing arithmetic, and the tokenizer all at once -------
  private def q92LmQuality(s: SparkSession, d: String): DataFrame =
    graft.operators.TextAnalysis.bigramLmScore(T(s, d, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  // ---- DSIR importance-weighted selection: target = the src0 slice of the
  // corpus; hashed-unigram (1024-bucket) log-likelihood-ratio scores, top
  // 100 docs kept. The oracle retrains both hashed distributions and
  // replays the exact decimal ranking ------------------------------------
  private def q93ImportanceSelect(s: SparkSession, d: String): DataFrame =
    graft.operators.Sampling.importanceSelect(
        T(s, d, "documents"), "doc_id", "text",
        isTarget = col("source") === "src0", topN = 100)
      .orderBy("rnk")

  // ---- DSIR selection through the DISTRIBUTED cutoff path (VERDICT r13
  // next #3): q93's scores, but the selection locates the rank-topN
  // boundary with range-bucketed counting, filters against it map-side,
  // and assigns ranks with a range-partitioned distributed row number —
  // the plan that survives training-budget-sized topN (hundreds of
  // millions), where TakeOrdered's single merge task cannot. Forced here
  // via takeOrderedMaxN = 0 at topN = 100 so the oracle (q93's SQL
  // verbatim) pins both paths to the same total order ---------------------
  private def q100SelectCutoff(s: SparkSession, d: String): DataFrame =
    graft.operators.Sampling.importanceSelect(
        T(s, d, "documents"), "doc_id", "text",
        isTarget = col("source") === "src0", topN = 100, takeOrderedMaxN = 0)
      .orderBy("rnk")

  // ---- q73 with the perplexity gate armed (lmMaxPpl = 31, inside the
  // corpus's 26-37 ppl spread so the stage REALLY drops docs at the gate
  // SF): curation → LM filter → containment → substring removal, one
  // stitched oracle through all four stages ------------------------------
  private def q94TrainPrepLm(s: SparkSession, d: String): DataFrame =
    graft.operators.TrainPrep
      .pipeline(T(s, d, "documents"), "doc_id", "text",
        hash64 = false, lmMaxPpl = Some(31.0))
      .orderBy("doc_id")

  // ---- fixed-reference-model LM scoring (VERDICT r13 next #4 — the
  // CCNet deployment shape): the bigram LM trains ONCE on the trusted
  // slice (source = src0) and prices the WHOLE corpus against it;
  // out-of-model bigrams smooth from count 0 (an OOV position costs
  // −ln V). The model is slice-sized, so the scoring joins broadcast.
  // The oracle retrains the slice model in SQL and replays the left-join
  // smoothing with the q92 decimal discipline ----------------------------
  private def q101LmRef(s: SparkSession, d: String): DataFrame = {
    val docs = T(s, d, "documents")
    val model = graft.operators.TextAnalysis
      .trainBigramLm(docs.filter(col("source") === "src0"), "text")
    graft.operators.TextAnalysis
      .bigramLmScoreWith(docs, "doc_id", "text", model, broadcastModel = true)
      .orderBy("doc_id")
  }

  // ---- SemDeDup (Abbas et al. 2023) — semantic dedup by CLUSTERING: the
  // learned-cell candidate geometry + the paper's keep-furthest-from-
  // centroid survivor rule, vs q68's sign-bucket + min-id. The centroid
  // seam is pinned deterministic (Forgy: the 4 lowest vec_ids' own
  // embeddings) so the oracle replays assignment, intra-cell pairs,
  // closure, AND the keep rule; production swaps in KMeans centroids
  // (semDedupAuto, spec-pinned) without touching the checked semantics --
  private def q103SemDedup(s: SparkSession, d: String): DataFrame = {
    val e = T(s, d, "embeddings")
    // k = 8, threshold = 0.35: measured on this corpus — intra-cell cosine
    // p99 is ~.31, so .2 (q68's sign-bucket bar) connects ~5% of ALL
    // intra-cell pairs and transitive closure chains 500 vectors into 4
    // survivors; .35 drops a meaningful ~18% without collapse. 8 cells
    // keeps every cell under the 4096 bucket guard through the 10x rung
    // (plain-join semantics = what the oracle mirrors).
    Dedup.semDedup(e, "vec_id", "embedding",
        Dedup.firstKCentroids(e, "vec_id", "embedding", 8), threshold = 0.35)
      .orderBy("vec_id")
  }

  // ---- interpolated Kneser-Ney bigram perplexity — the smoothing family
  // the CCNet stack deploys (KenLM = modified KN), at the bigram order,
  // beside q92's add-1 classroom form. Same decimal discipline; the KN
  // probability is one fixed-operation-order IEEE expression mirrored
  // literally in the oracle ----------------------------------------------
  private def q104LmKn(s: SparkSession, d: String): DataFrame =
    graft.operators.TextAnalysis
      .bigramLmScoreKn(T(s, d, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  // ---- interpolated Kneser-Ney at the TRIGRAM order (VERDICT r14 next
  // #4 — KenLM deploys order 4-5): q104's family climbed one order, with
  // KenLM's adjusted-count derivation (every lower-order statistic a TYPE
  // count over the trigram table). One fixed-operation-order IEEE
  // probability expression mirrored literally in the oracle; the count
  // column keeps its q106 name -------------------------------------------
  private def q106LmKn3(s: SparkSession, d: String): DataFrame =
    graft.operators.TextAnalysis
      .ngramLmScoreKn(T(s, d, "documents"), "doc_id", "text", order = 3)
      .withColumnRenamed("n_ngrams", "n_trigrams")
      .orderBy("doc_id")

  // ---- interpolated Kneser-Ney at orders 4 and 5 (VERDICT r15 next #2 —
  // the orders KenLM actually deploys): the same adjusted-count chain as
  // q106 (ngramLmScoreKn — one TYPE level per order), each order's
  // probability one fixed-operation-order expression mirrored literally
  // in the oracle ------------------------------------------------------
  private def q108LmKn4(s: SparkSession, d: String): DataFrame =
    graft.operators.TextAnalysis
      .ngramLmScoreKn(T(s, d, "documents"), "doc_id", "text", order = 4)
      .orderBy("doc_id")

  private def q109LmKn5(s: SparkSession, d: String): DataFrame =
    graft.operators.TextAnalysis
      .ngramLmScoreKn(T(s, d, "documents"), "doc_id", "text", order = 5)
      .orderBy("doc_id")

  // ---- the PRUNED two-level assignment on a CLUSTERED manifold, under
  // the oracle gate (VERDICT r15 next #3): the shipped embeddings fixture
  // is isotropic — the one regime where exact metric pruning provably
  // cannot fire — so the 3.2× pruning win lived only in dev-harness logs.
  // The q102 precedent: plant the geometry IN-QUERY, deriving 16-dim
  // vectors from vec_id with identical integer-exact literals in both
  // engines (components are dyadic rationals, so the float casts agree
  // bit-for-bit): a unit spike at (vec_id mod 8) over ±5/64 pseudo-noise
  // gives 8 tight directions — one per super-cell at G = 8, so the groups
  // are narrow and the bound really cuts (16 directions over 8 groups
  // left 2 per group and pruned almost nothing — dev/r16/q110_probe.log
  // the difference before this constant was chosen); K = 64 Forgy
  // centroids (8 per direction)
  // engage the two-level scan (K ≥ SemPruneMinCentroids), the gate probe
  // measures a kept-fraction ≪ 1 and KEEPS the pruned path, and the
  // output — assignment + 6-dp cosine + lower-id tie-break — is EXACT
  // regardless of pruning, which is precisely what the oracle hash pins.
  private def q110SemPrunedClustered(s: SparkSession, d: String): DataFrame = {
    val dv = T(s, d, "embeddings")
      .select(col("vec_id"), expr(
        """transform(sequence(0, 15), j ->
          |  CAST(CASE WHEN j = CAST(vec_id % 8 AS INT) THEN 1.0
          |       ELSE ((vec_id * (j + 7)) % 11 - 5) / 64.0 END AS FLOAT))"""
          .stripMargin).as("vec"))
    Dedup.semAssignPruned(dv, "vec_id", "vec",
        Dedup.firstKCentroids(dv, "vec_id", "vec", 64))
      .select(col("id").as("vec_id"), col("centroid_id"), col("cosc"))
      .orderBy("vec_id")
  }

  // ---- fasttext-family quality-classifier selection (VERDICT r14 next
  // #5 — the staple selection shape beside DSIR): a closed-form
  // multinomial Naive Bayes over the SAME 1024 md5-bucket hashed-unigram
  // features, trained target-vs-rest distributed, scoring docs with a
  // broadcast weight vector (+ class prior), top-100 kept through the
  // same two selection plan shapes as q93/q100. The oracle retrains the
  // classifier and replays the exact decimal ranking --------------------
  private def q107QualitySelect(s: SparkSession, d: String): DataFrame =
    graft.operators.Sampling.qualitySelect(
        T(s, d, "documents"), "doc_id", "text",
        isTarget = col("source") === "src0", topN = 100)
      .orderBy("rnk")

  // ---- q73 with the SemDeDup stage armed: curation → semantic dedup
  // (q103's operator over the CURATED survivors' embeddings, centroids
  // injected via the deterministic Forgy seam) → containment → substring
  // removal, one stitched oracle through all four stages — the q94
  // stitching pattern for the embedding modality. Pins the stage
  // INTERACTION: the semantic pass prices exactly the closure's
  // survivors, and containment prices exactly the semantic survivors ----
  private def q105TrainPrepSem(s: SparkSession, d: String): DataFrame = {
    val emb = T(s, d, "embeddings")
    graft.operators.TrainPrep.pipeline(T(s, d, "documents"), "doc_id", "text",
        embeddings = Some(emb), semThreshold = Some(0.35),
        semCentroidsDf =
          Some(Dedup.firstKCentroids(emb, "vec_id", "embedding", 8)))
      .orderBy("doc_id")
  }

  // ---- distributed BPE vocabulary learning (Sennrich et al. 2016): five
  // merge iterations over the corpus's word-count table — one corpus
  // shuffle, then per-iteration pair-count + distributed-argmax + map-only
  // greedy rewrite. The oracle replays every iteration in SQL (recursive
  // per-word merge CTEs), so the hash pins the pair arithmetic, the
  // tie-break, AND the greedy non-overlap rewrite at every step ----------
  private def q95BpeMerges(s: SparkSession, d: String): DataFrame =
    graft.operators.Bpe.learnMerges(T(s, d, "documents"), "text", numMerges = 5)
      .orderBy("merge_idx")

  // ---- the learned vocabulary APPLIED: per-doc token and subword counts
  // after the q95 merges — the compression a tokenizer-sizing pass
  // reports. The oracle reuses q95's final symbol state (word → merged
  // symbols) joined onto each doc's tokens --------------------------------
  private def q96BpeSubwords(s: SparkSession, d: String): DataFrame = {
    val merges = graft.operators.Bpe
      .learnMerges(T(s, d, "documents"), "text", numMerges = 5)
      .orderBy("merge_idx")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    graft.operators.Bpe.subwordStats(T(s, d, "documents"), "doc_id", "text", merges)
      .orderBy("doc_id")
  }

  // ---- the BPE VOCABULARY under the q95 merges: every distinct subword
  // the merged corpus produces, token ids by lexicographic rank — the id
  // assignment q98's sequences (and any downstream trainer artifact)
  // depend on. The oracle replays the rank over the q95 chain's final
  // symbol state ----------------------------------------------------------
  private def q97BpeVocab(s: SparkSession, d: String): DataFrame = {
    val merges = graft.operators.Bpe
      .learnMerges(T(s, d, "documents"), "text", numMerges = 5)
      .orderBy("merge_idx")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    graft.operators.Bpe.vocabulary(T(s, d, "documents"), "text", merges)
      .orderBy("token_id")
  }

  // ---- BPE ENCODE (VERDICT r13 next #2): per-doc token-id SEQUENCES
  // under the learned vocabulary — the artifact a packing stage consumes,
  // where q96 only counts. The full sequence is pinned per doc through an
  // md5 of the space-joined ids (bounded output rows; both engines hash
  // the identical decimal rendering), plus the count — a wrong id, a
  // wrong order, or a dropped subword anywhere breaks the doc's hash -----
  private def q98BpeEncode(s: SparkSession, d: String): DataFrame = {
    val merges = graft.operators.Bpe
      .learnMerges(T(s, d, "documents"), "text", numMerges = 5)
      .orderBy("merge_idx")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    graft.operators.Bpe.encode(T(s, d, "documents"), "doc_id", "text", merges)
      .select(col("doc_id"), col("n_ids"),
        md5(concat_ws(" ", expr("transform(token_ids, x -> CAST(x AS STRING))")))
          .as("ids_md5"))
      .orderBy("doc_id")
  }

  // ---- BPE encode → pack-split: the q98 sequence lengths fed through
  // q78's capacity-split packer (lang-sharded, 256 ids/bin) — the last
  // two stages of a tokenizer-real prep composed, so a BPE/packing
  // interaction bug (a dropped subword shifting every later cumulative
  // sum in its shard) breaks this hash. The RunTrainPrep --bpe-merges
  // tail runs exactly this composition on the cleaned corpus ------------
  private def q99BpePack(s: SparkSession, d: String): DataFrame = {
    val docs = T(s, d, "documents")
    val merges = graft.operators.Bpe
      .learnMerges(docs, "text", numMerges = 5)
      .orderBy("merge_idx")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val counts = graft.operators.Bpe.encode(docs, "doc_id", "text", merges)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .select("doc_id", "lang", "n_ids")
    graft.operators.Sampling
      .packSplit(counts, col("lang"), col("doc_id"), col("n_ids"), capacity = 256L)
      .select("doc_id", "lang", "n_ids", "seq_idx", "seq_tokens", "bin_id")
      .orderBy("doc_id", "seq_idx")
  }

  /** Shared q83/q84 fixture: one 4-frame PGM clip per document (the
    * concatenated-P5 container PgmCodec.frames parses for real).
    */
  private def pgmClipMedia(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val enc = org.apache.spark.sql.Encoders.row(StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("content", BinaryType, nullable = true))))
    T(s, d, "documents").select(col("doc_id").as("media_id"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val clip = (0 until 4).toArray.flatMap { f =>
            val px = new Array[Byte](16 * 8)
            var i = 0
            while (i < px.length) { px(i) = ((id * (i + 1) + 17 * f) % 256).toByte; i += 1 }
            graft.operators.Multimodal.PgmCodec.encode(16, 8, 255, px)
          }
          Row(id, clip)
        }
      }(enc)
  }

  /** Shared q81/q82 fixture: one 20 ms PCM16 clip per document, sample i =
    * (id·(i+3)) mod 256, really encoded as canonical RIFF bytes.
    */
  private def wavMedia(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val enc = org.apache.spark.sql.Encoders.row(StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("content", BinaryType, nullable = true))))
    T(s, d, "documents").select(col("doc_id").as("media_id"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val samples = Array.tabulate[Short](160)(i => ((id * (i + 3)) % 256).toShort)
          Row(id, graft.operators.Multimodal.WavCodec.encode(8000, 1, samples))
        }
      }(enc)
  }

  /** Shared q79/q80 fixture: one 16×8 gray PNG per document, pixel i =
    * (id·(i+1)) mod 256, really encoded through the JDK PNG writer.
    */
  private def pngMedia(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val enc = org.apache.spark.sql.Encoders.row(StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("content", BinaryType, nullable = true))))
    T(s, d, "documents").select(col("doc_id").as("media_id"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val px = new Array[Byte](16 * 8)
          var i = 0
          while (i < px.length) { px(i) = ((id * (i + 1)) % 256).toByte; i += 1 }
          Row(id, graft.operators.Multimodal.PngCodec.encode(16, 8, px))
        }
      }(enc)
  }

  // ---- capacity-overflow packing: split each doc into ≤ capacity-sized
  // sequences, then bin the sequences by the q40/q60 cumulative-sum rule —
  // the policy that makes packed output consumable by a fixed-context
  // trainer (no piece exceeds the window; token totals conserve). Capacity
  // 200 < max(n_chars) so real splitting happens at every SF ---------------
  private def q78PackSplit(s: SparkSession, d: String): DataFrame =
    graft.operators.Sampling.packSplit(
        T(s, d, "documents").select("doc_id", "source", "n_chars"),
        col("source"), col("doc_id"), col("n_chars"), capacity = 200L)
      .select("doc_id", "source", "seq_idx", "seq_tokens", "bin_id")
      .orderBy("doc_id", "seq_idx")

  // ---- shard-local sequence packing (token bins for training batches) ----
  // ---- 64-bit MinHash-LSH (scale twin of q17: one xxhash64 per shingle +
  // affine permutations instead of K md5s, long band keys instead of hex.
  // xxhash64 has no DuckDB equivalent, so the driver records a rows-only
  // check; DedupSpec pins the signature against an independent
  // reimplementation and the pair semantics on fixtures) -------------------
  private def q61Minhash64Pairs(s: SparkSession, d: String): DataFrame =
    Dedup.minHashLshPairs64(T(s, d, "documents"), "doc_id", "text",
        shingleLen = 2, bands = 4, rowsPerBand = 4) // r=4: see q17's S-curve note
      .orderBy("id1", "id2")

  // ---- interval count, sweep form (q42's aggregate without the pair
  // expansion — O((points+intervals)·log bucket) at any interval density;
  // see Relational.intervalCount's scaladoc for the 100× measurement that
  // motivated it). Same output contract as q42, same DuckDB oracle shape. --
  private def q62IntervalCount(s: SparkSession, d: String): DataFrame = {
    val base = T(s, d, "events").select(
      col("event_id"), col("event_type"), unix_micros(col("ts")).as("tus"))
    val windows = base.filter(col("event_type") === "error").select(
      col("event_id").as("err_id"),
      col("tus").as("w_start"),
      (col("tus") + lit(600000000L)).as("w_end"))
    Relational.intervalCount(
        base.select("tus"), "tus", windows, "err_id", "w_start", "w_end",
        bucketWidth = 600000000L)
      .withColumnRenamed("n_points", "n_events_in_window")
      .orderBy("err_id")
  }

  private def q60PackBins(s: SparkSession, d: String): DataFrame =
    graft.operators.Sampling.packBins(
      T(s, d, "documents").select("doc_id", "source", "n_chars"),
      col("source"), col("doc_id"), col("n_chars"), capacity = 2000L)
      .select("doc_id", "source", "bin_id")
      .orderBy("doc_id")

  def queries: Map[String, (SparkSession, String) => DataFrame] = ListMap(
    "q01_pricing_summary" -> (q01PricingSummary _),
    "q02_filtered_scan" -> (q02FilteredScan _),
    "q03_part_revenue" -> (q03PartRevenue _),
    "q04_geo_rollup" -> (q04GeoRollup _),
    "q05_last_item_denorm" -> (q05LastItemDenorm _),
    "q06_sequential_ids" -> (q06SequentialIds _),
    "q07_uuid5_ids" -> (q07Uuid5Ids _),
    "q08_uuid3_ids" -> (q08Uuid3Ids _),
    "q09_timeuuid_ids" -> (q09TimeuuidIds _),
    "q10_anti_join_orphans" -> (q10AntiJoinOrphans _),
    "q11_semi_join" -> (q11SemiJoin _),
    "q12_explode_m2m" -> (q12ExplodeM2m _),
    "q13_group_pairs" -> (q13GroupPairs _),
    "q14_union_distinct" -> (q14UnionDistinct _),
    "q15_except_diff" -> (q15ExceptDiff _),
    "q16_dedup_exact" -> (q16DedupExact _),
    "q17_minhash_lsh_pairs" -> (q17MinhashLshPairs _),
    "q18_ngram_jaccard" -> (q18NgramJaccard _),
    "q19_simhash" -> (q19Simhash _),
    "q20_text_stats" -> (q20TextStats _),
    "q21_tumbling_window" -> (q21TumblingWindow _),
    "q22_sliding_window" -> (q22SlidingWindow _),
    "q23_sessionize" -> (q23Sessionize _),
    "q24_similarity_topk" -> (q24SimilarityTopk _),
    "q25_embedding_neardup" -> (q25EmbeddingNeardup _),
    "q26_scalar_library" -> (q26ScalarLibrary _),
    "q27_crypto_roundtrip" -> (q27CryptoRoundtrip _),
    "q28_reencrypt_migration" -> (q28ReencryptMigration _),
    "q29_hierarchy_resolve" -> (q29HierarchyResolve _),
    "q30_overwrite_by_join" -> (q30OverwriteByJoin _),
    "q31_table_counts" -> (q31TableCounts _),
    "q32_json_props" -> (q32JsonProps _),
    "q33_curation_pipeline" -> (q33CurationPipeline _),
    "q34_rolling_window" -> (q34RollingWindow _),
    "q35_hll_distinct" -> (q35HllDistinct _),
    "q36_exact_quantiles" -> (q36ExactQuantiles _),
    "q37_json_serialize" -> (q37JsonSerialize _),
    "q38_embedding_band_lsh" -> (q38EmbeddingBandLsh _),
    "q39_stratified_sample" -> (q39StratifiedSample _),
    "q40_pack_bins" -> (q40PackBins _),
    "q41_asof_join" -> (q41AsofJoin _),
    "q42_range_join" -> (q42RangeJoin _),
    "q43_salted_agg" -> (q43SaltedAgg _),
    "q44_exact_moments" -> (q44ExactMoments _),
    "q45_dedup_components" -> (q45DedupComponents _),
    "q46_top_words" -> (q46TopWords _),
    "q47_simhash64" -> (q47Simhash64 _),
    "q48_repetition" -> (q48Repetition _),
    "q49_decontaminate" -> (q49Decontaminate _),
    "q50_quantized_topk" -> (q50QuantizedTopk _),
    "q51_epoch_shuffle" -> (q51EpochShuffle _),
    "q52_mixture" -> (q52Mixture _),
    "q53_salted_join" -> (q53SaltedJoin _),
    "q54_minmax_stats" -> (q54MinMaxStats _),
    "q55_chunk_dedup" -> (q55ChunkDedup _),
    "q56_pii_redact" -> (q56PiiRedact _),
    "q57_source_quota" -> (q57SourceQuota _),
    "q58_tfidf_terms" -> (q58TfidfTerms _),
    "q59_pgm_decode" -> (q59PgmDecode _),
    "q60_pack_bins" -> (q60PackBins _),
    "q61_minhash64_pairs" -> (q61Minhash64Pairs _),
    "q62_interval_count" -> (q62IntervalCount _),
    "q63_curation64" -> (q63Curation64 _),
    "q64_decontaminate_bloom" -> (q64DecontaminateBloom _),
    "q65_curation_transitive" -> (q65CurationTransitive _),
    "q66_curation_production" -> (q66CurationProduction _),
    "q67_containment_pairs" -> (q67ContainmentPairs _),
    "q68_embedding_dedup" -> (q68EmbeddingDedup _),
    "q69_containment_curated" -> (q69ContainmentCurated _),
    "q70_substring_dedup" -> (q70SubstringDedup _),
    "q71_substring_clean" -> (q71SubstringClean _),
    "q72_containment_production" -> (q72ContainmentProduction _),
    "q73_train_prep" -> (q73TrainPrep _),
    "q74_train_prep_production" -> (q74TrainPrepProduction _),
    "q75_prep_pack" -> (q75PrepPack _),
    "q76_wav_decode" -> (q76WavDecode _),
    "q77_png_decode" -> (q77PngDecode _),
    "q78_pack_split" -> (q78PackSplit _),
    "q79_image_ahash" -> (q79ImageAhash _),
    "q80_image_neardup" -> (q80ImageNeardup _),
    "q81_audio_fingerprint" -> (q81AudioFingerprint _),
    "q82_audio_neardup" -> (q82AudioNeardup _),
    "q83_video_fingerprint" -> (q83VideoFingerprint _),
    "q84_video_neardup" -> (q84VideoNeardup _),
    "q85_image_dedup" -> (q85ImageDedup _),
    "q86_bmp_decode" -> (q86BmpDecode _),
    "q87_guarded_image_neardup" -> (q87GuardedImageNeardup _),
    "q88_gif_decode" -> (q88GifDecode _),
    "q89_video_strided" -> (q89VideoStrided _),
    "q90_guarded_audio_neardup" -> (q90GuardedAudioNeardup _),
    "q91_audio_resample" -> (q91AudioResample _),
    "q92_lm_quality" -> (q92LmQuality _),
    "q93_importance_select" -> (q93ImportanceSelect _),
    "q94_train_prep_lm" -> (q94TrainPrepLm _),
    "q95_bpe_merges" -> (q95BpeMerges _),
    "q96_bpe_subwords" -> (q96BpeSubwords _),
    "q97_bpe_vocab" -> (q97BpeVocab _),
    "q98_bpe_encode" -> (q98BpeEncode _),
    "q99_bpe_pack" -> (q99BpePack _),
    "q100_select_cutoff" -> (q100SelectCutoff _),
    "q101_lm_ref" -> (q101LmRef _),
    "q102_containment_planted" -> (q102ContainmentPlanted _),
    "q103_sem_dedup" -> (q103SemDedup _),
    "q104_lm_kn" -> (q104LmKn _),
    "q105_train_prep_sem" -> (q105TrainPrepSem _),
    "q106_lm_kn3" -> (q106LmKn3 _),
    "q107_quality_select" -> (q107QualitySelect _),
    "q108_lm_kn4" -> (q108LmKn4 _),
    "q109_lm_kn5" -> (q109LmKn5 _),
    "q110_sem_pruned_clustered" -> (q110SemPrunedClustered _)
  )

  /** Oracle-checked queries whose oracle SQL MIRRORS the LSH bucket
    * guard's star-collapse semantics: activation of lsh_bucket_guard_*
    * counters is their designed behavior, not divergence from the oracle,
    * so graft.Verify reports it as a note instead of withholding the
    * output (the containment-guard precedent).
    */
  val guardMirroredOracles: Set[String] =
    Set("q87_guarded_image_neardup", "q90_guarded_audio_neardup")

  def oracleSql: Map[String, String] = OracleSql.all
}
