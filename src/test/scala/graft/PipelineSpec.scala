package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.{Destination, Entities}
import graft.run.{EntityStages, Pipeline}
import graft.transform.{Projections, Rules}

/** The overlapped cutover: closures stay on the caller's thread in
  * topological order, FK parents are written first, failures stop every
  * job before they propagate, and results equal a serial evaluation.
  */
class PipelineSpec extends SparkSpecBase {
  import spark.implicits._

  /** Six catalog entities with their FK edges: each frame joins its
    * parents' frames (all dims), so a stage reads dims that may still be
    * materialising.
    */
  private val chain = Seq("roles", "province", "municipality", "parroquia", "user", "channel")

  private def stages(onStage: String => Unit = _ => ()): Map[String, Pipeline.Stage] =
    chain.map { e =>
      e -> ((src: DataFrame, dims: Map[String, DataFrame]) => {
        onStage(e)
        val parents = EntityStages.dependencies.getOrElse(e, Nil).filter(chain.contains)
        val out = parents.foldLeft(src) { (df, p) =>
          df.join(dims(p).select(col("id"), col("n").as(s"n_$p")), Seq("id"), "left")
        }.withColumn("n", parents.map(p => col(s"n_$p")).foldLeft(col("id"))(_ + _))
          .select("id", "n")
        Map[Destination, DataFrame](Destination.Postgres -> out)
      })
    }.toMap

  private def source(collection: String): DataFrame = spark.range(0, 200).toDF("id")

  test("closures run on the caller's thread, one at a time, FK parents sunk first") {
    val caller = Thread.currentThread()
    val inside = new AtomicInteger(0)
    val events = mutable.ArrayBuffer.empty[String]
    def call[T](event: String)(body: => T): T = {
      assert(Thread.currentThread() eq caller, s"$event ran on ${Thread.currentThread()}")
      assert(inside.incrementAndGet() === 1, s"$event overlapped another closure")
      try { events += event; body } finally inside.decrementAndGet()
    }
    val pipe = new Pipeline(spark,
      c => call(s"source:$c")(source(c)),
      (e, _, df) => call(s"sink:$e")(df.count(): Unit))
    pipe.run(stages().map { case (e, st) =>
      e -> ((src: DataFrame, dims: Map[String, DataFrame]) => call(s"stage:$e")(st(src, dims)))
    })

    val topo = Entities.ordered.filter(e => chain.contains(e.name))
    def order(kind: String) = events.filter(_.startsWith(kind)).map(_.stripPrefix(kind)).toSeq
    assert(order("source:") === topo.map(_.mongo))
    assert(order("stage:") === topo.map(_.name))
    assert(order("sink:") === topo.map(_.name))
    for (e <- chain; p <- EntityStages.dependencies.getOrElse(e, Nil) if chain.contains(p))
      assert(events.indexOf(s"sink:$p") < events.indexOf(s"sink:$e"), s"$e sunk before $p")
    assert(pipe.missing.isEmpty)
    assert(pipe.report === chain.map(e => s"$e/postgres" -> 200L).toMap)
  }

  for ((where, k) <- Seq("stage" -> 0, "stage" -> 3, "sink" -> 1, "sink" -> 5)) {
    test(s"a throw in $where of entity ${chain(k)} propagates with no job left running") {
      val boom = new IllegalStateException(s"boom in $where ${chain(k)}")
      val sunk = mutable.ArrayBuffer.empty[String]
      val pipe = new Pipeline(spark, source, (e, _, df) => {
        if (where == "sink" && e == chain(k)) throw boom
        df.count()
        sunk += e
      })
      val thrown = intercept[IllegalStateException](
        pipe.run(stages(e => if (where == "stage" && e == chain(k)) throw boom)))
      assert(thrown eq boom)
      assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
      // nothing at or after the failing entity was written
      assert(!sunk.exists(e => chain.indexOf(e) >= k), sunk)
    }
  }

  test("a failing materialisation propagates its own error and stops the run") {
    val sunk = mutable.ArrayBuffer.empty[String]
    val bad = udf((x: Long) => if (x == 150L) throw new ArithmeticException("bad row") else x)
    val pipe = new Pipeline(spark, source, (e, _, df) => { df.count(); sunk += e })
    val st = stages()
    val thrown = intercept[Exception](pipe.run(st.updated("municipality",
      (src: DataFrame, dims: Map[String, DataFrame]) =>
        st("municipality")(src.withColumn("id", bad(col("id"))), dims))))
    assert(Iterator.iterate[Throwable](thrown)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage.contains("bad row")), thrown)
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
    assert(sunk.toSeq === Seq("roles", "province"))
  }

  test("report and results equal a serial evaluation of the same stages") {
    // explicit timestamps and uuids: absent ones default to the wall clock
    // and to a random uuid
    def docs(json: String*) = EntityStages.normalizeTimestamps(spark.read.json(json.map(j =>
      j.dropRight(1) + ""","createdAt":"2024-01-01T00:00:00Z","updatedAt":"2024-01-02T00:00:00Z"}""")
      .toDS))
    val users = docs(
      """{"_id":"u1","uuid":"u-1","displayName":"Ana","province":"p1","userType":"USER","isActive":true}""",
      """{"_id":"u2","uuid":"u-2","displayName":"Bea","province":"p2","userType":"USER","isActive":true}""")
    val provinces = docs(
      """{"_id":"p1","name":"Zulia","key":"ZU","isActive":true}""",
      """{"_id":"p2","name":"Lara","key":"LA","isActive":true}""")
    val province: Pipeline.Stage = (src, _) => Map(Destination.Postgres ->
      graft.operators.Relational.sequentialIds(
        Rules.geoRules(Projections.geoPostgres(src, withProvince = false,
          withMunicipality = false)), "mongo_id", "id"))
    val user: Pipeline.Stage = (src, dims) => Map(Destination.Postgres ->
      Rules.userRules(Projections.userPostgres(src), Destination.Postgres,
        provinceDim = Some(dims("province"))))
    val tmp = java.nio.file.Files.createTempDirectory("graft-pipe-serial").toString
    val pipe = new Pipeline(spark, Map("provinces" -> provinces, "users" -> users),
      Pipeline.parquetSink(tmp))
    val out = pipe.run(Map("province" -> province, "user" -> user))
    assert(pipe.report === Map("province/postgres" -> 2L, "user/postgres" -> 2L))

    val serialProvince = province(provinces, Map.empty)(Destination.Postgres)
    val serialUser = user(users, Map("province" -> serialProvince))(Destination.Postgres)
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(rows(out(("province", Destination.Postgres))) === rows(serialProvince))
    assert(rows(out(("user", Destination.Postgres))) === rows(serialUser))
    assert(rows(spark.read.parquet(s"$tmp/postgres/user")) === rows(serialUser))
  }

  test("a dry run writes nothing and reports every entity") {
    val sinks = new AtomicInteger(0)
    val pipe = new Pipeline(spark, source, (_, _, _) => sinks.incrementAndGet(): Unit,
      dryRun = true)
    val out = pipe.run(stages())
    assert(sinks.get === 0)
    assert(pipe.report === chain.map(e => s"$e/postgres" -> 200L).toMap)
    assert(out.keySet === chain.map(e => (e, Destination.Postgres: Destination)).toSet)
  }
}
