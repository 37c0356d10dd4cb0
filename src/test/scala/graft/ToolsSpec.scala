package graft

import org.scalatest.funsuite.AnyFunSuite

/** The dev CLI's argument handling — no session needed. */
class ToolsSpec extends AnyFunSuite {

  test("an unknown command, an unknown flag or a wrong argument count throws") {
    assert(Tools.parse(Seq("time", "q01", "/data/sf0.01", "5")) ===
      ("time", Seq("q01", "/data/sf0.01", "5")))
    assert(Tools.parse(Seq("gen", "zipf")) === ("gen zipf", Seq.empty))
    assert(Tools.parse(Seq("ladder", "sem", "/data/sf10", "-0.5")) ===
      ("ladder sem", Seq("/data/sf10", "-0.5")))
    for (bad <- Seq(
        Seq(),
        Seq("nope"),
        Seq("gen"),
        Seq("gen", "nope"),
        Seq("ladder", "sem_stages"),
        Seq("time", "q01", "/data/sf0.01", "--reps", "3"),
        Seq("-h"),
        Seq("plan", "q01"),
        Seq("plan", "q01", "/data/sf0.01", "extra")))
      intercept[IllegalArgumentException](Tools.parse(bad))
  }

  test("ab schedule: each arm runs first in half of the reps") {
    for (reps <- Seq(2, 4, 7)) {
      val s = Tools.abSchedule(reps)
      assert(s.length === reps)
      assert(s.forall(o => o.sorted === Seq("A", "B")))
      val aFirst = s.count(_.head == "A")
      assert(aFirst === (reps + 1) / 2 && s.count(_.head == "B") === reps / 2)
    }
  }

  test("GRAFT_CONF: key=value entries parse, an entry without '=' throws") {
    assert(Tools.parseConf(" a.b = 1 ;c=x=y;; ") === Seq("a.b" -> "1", "c" -> "x=y"))
    assert(Tools.parseConf("") === Seq.empty)
    intercept[IllegalArgumentException](Tools.parseConf("a=1;spark.sql.shuffle.partitions"))
    intercept[IllegalArgumentException](Tools.parseConf("=1"))
  }
}
