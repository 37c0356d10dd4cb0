package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files => JFiles, Paths, StandardCopyOption}

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.{Engine, RunEtl}

/** The benchmark checked against itself at tiny scale:
  * `cd perfbench && sbt test`.
  */
class BenchSelfTest extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark =
    Engine.session(master = "local[4]", shufflePartitions = 4, appName = "perfbench-selftest")
  override def afterAll(): Unit = spark.stop()

  private val work = "target/selftest"
  private val chat = new Migrate("migrate_chat", Gen.chat(600))
  private val corpus = new Curate(docs = 300)
  private def quiet = new Ctx(spark, new Tracer(spark.sparkContext, on = false, "test"))

  private lazy val benchmark: JValue = JsonMethods.parse(new String(
    JFiles.readAllBytes(Paths.get("../BENCHMARK.json")), StandardCharsets.UTF_8))
  private def declared(section: String): Seq[(String, String)] =
    (benchmark \ section).children.map(m =>
      ((m \ "name").values.toString, (m \ "unit").values.toString))

  test("BENCHMARK.json names the workloads the benchmark runs") {
    assert((benchmark \ "workloads").children.map(w => (w \ "name").values.toString) ===
      Workloads.all.map(_.name))
  }

  test("every declared metric is printed with its unit, untraced and traced") {
    for (w <- Seq(chat, corpus); trace <- Seq(false, true)) {
      val args = Main.Args(workload = w.name, seed = 7, seconds = 1, trace = trace,
        work = work, expected = s"$work/none.tsv")
      val r = Main.measure(spark, 0.0, w, args)
      assert(r.correct, r.problems.mkString("\n"))
      assert(r.metrics.map(m => (m._1, m._3)) ===
        declared(if (trace) "per_layer" else "end_to_end"), s"${w.name} trace=$trace")
      assert(r.metrics.forall(m => !m._2.isNaN && !m._2.isInfinite))
      assert(r.attempted > 0 && r.failed == 0)
    }
  }

  test("the benchmark's Pipeline drive writes what RunEtl.execute writes") {
    val in = chat.generate(spark, 7, s"$work/etl-in")
    val it = chat.iterate(quiet, in, s"$work/etl-bench")
    Files.delete(s"$work/etl-cli")
    RunEtl.execute(spark, RunEtl.parse(Seq("--source", in.dir, "--out", s"$work/etl-cli")))
    val cli = Workloads.digests(
      chat.entityTables.map(t => t -> spark.read.parquet(s"$work/etl-cli/$t")),
      chat.runTimeColumns)
    assert(cli === it.digests.filter { case (t, _) => chat.entityTables.contains(t) })
    assert(cli.values.forall(!_.startsWith("0:")), "every entity table has rows")
  }

  test("dropping one row from one output fails the gate") {
    val in = chat.generate(spark, 7, s"$work/gate-in")
    val out = s"$work/gate-out"
    val good = chat.iterate(quiet, in, out)
    val (attempted, failed, _) = Gate.judge(Seq(good), good.digests, chat)
    assert(attempted > 0 && failed == 0)

    val table = "postgres/province"
    val rows = spark.read.parquet(s"$out/$table")
    rows.orderBy("mongo_id").limit(rows.count().toInt - 1)
      .write.mode("overwrite").parquet(s"$work/gate-tmp")
    Files.delete(s"$out/$table")
    JFiles.move(Paths.get(s"$work/gate-tmp"), Paths.get(s"$out/$table"),
      StandardCopyOption.ATOMIC_MOVE)
    val (digests, checks) = chat.readBack(spark,
      new Tracer(spark.sparkContext, on = false, "test"), in, out,
      scala.collection.mutable.ArrayBuffer.empty[String])
    val damaged = Iteration(0, 0, 0, digests, checks, Nil, Map.empty)
    val (_, failedAfter, problems) = Gate.judge(Seq(damaged), good.digests, chat)
    assert(failedAfter > 0)
    assert(problems.exists(_.contains(table)), problems.mkString("\n"))
  }
}
