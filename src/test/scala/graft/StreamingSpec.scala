package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The engine is batch-only, but its per-row operators carry no batch
  * assumption: the same Column expressions drive MemoryStream micro-batches
  * unchanged.
  */
class StreamingSpec extends SparkSpecBase {
  import spark.implicits._

  test("stateless curation ops (gates + PII scrub) run unchanged on a stream") {
    // the batch curation columns are pure projections/filters, so the SAME
    // Column expressions drive a readStream plan with no code changes —
    // the property that makes the batch curation tier reusable for
    // incremental ingest
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextAnalysis
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF.toDF("doc_id", "text")
    val curated = docs
      .filter(TextAnalysis.tokenCount(col("text")) >= 3)
      .select(col("doc_id"),
        TextAnalysis.redactPii(col("text")).as("clean"),
        TextAnalysis.languageId(col("text")).as("lang"))
    val q = curated.writeStream.format("memory").queryName("curated")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, "the cat and the hat mail bob@x.example.org"),
        (2L, "too short"),
        (3L, "le chat est la ici ip 10.1.2.3"))
      q.processAllAvailable()
      input.addData((4L, "the dog and the log acct 123456789"))
      q.processAllAvailable()
      val rows = spark.table("curated").orderBy("doc_id").collect()
      assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 3L, 4L)) // gate dropped doc 2
      assert(rows(0).getString(1).endsWith("mail <EMAIL>"))
      assert(rows(1).getString(1).endsWith("ip <IP>"))
      assert(rows(2).getString(1).endsWith("acct <ID>"))
      assert(rows(0).getString(2) === "en" && rows(1).getString(2) === "fr")
    } finally q.stop()
  }

  test("applying a FROZEN BPE merge table is stream-safe: per-token subword counts match batch") {
    // Bpe.learnMerges is corpus-global (iterative argmax over corpus pair
    // counts) and stays batch; APPLYING a learned table is a stateless
    // fold per token — the tokenizer-deployment shape: train offline,
    // retokenize the live feed. Same Column expressions, no code changes.
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Bpe, TextAnalysis}
    val merges = Seq(("l", "o"), ("lo", "w")) // frozen, learned offline
    def subwords(df: org.apache.spark.sql.DataFrame) = {
      val toks = df
        .select(col("doc_id"), explode(TextAnalysis.wsTokens(col("text"))).as("__w"))
        .filter(col("__w") =!= "")
        .withColumn("__syms",
          expr("transform(sequence(1, length(__w)), i -> substring(__w, i, 1))"))
      merges.foldLeft(toks) { case (d, (a, b)) =>
          d.withColumn("__syms", Bpe.mergeFold(col("__syms"), a, b))
        }
        .select(col("doc_id"), col("__w").as("w"), size(col("__syms")).as("ns"))
    }
    val input = MemoryStream[(Long, String)]
    val q = subwords(input.toDF.toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("bpe_stream")
      .outputMode("append").start()
    val batchRows = Seq((1L, "low lower"), (2L, "slow low"), (3L, "flow"))
    try {
      input.addData(batchRows(0), batchRows(1))
      q.processAllAvailable()
      input.addData(batchRows(2))
      q.processAllAvailable()
      val streamed = spark.table("bpe_stream")
        .orderBy("doc_id", "w").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
      val batch = subwords(batchRows.toDF("doc_id", "text"))
        .orderBy("doc_id", "w").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
      assert(streamed === batch) // micro-batching invisible to the fold
      assert(batch.contains((1L, "low", 1))) // "low" fully merged
      assert(batch.contains((2L, "slow", 2))) // s + low
    } finally q.stop()
  }
}
