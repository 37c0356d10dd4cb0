package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.Scalars

/** X1–X14 scalar parity, each asserted through a real DataFrame so the
  * whole-stage-codegen path is what's tested.
  */
class ScalarsSpec extends SparkSpecBase {

  private def eval1(in: Any, f: Column => Column): Any = {
    import spark.implicits._
    val df = in match {
      case s: String => Seq(Option(s)).toDF("v")
      case null      => Seq(Option.empty[String]).toDF("v")
    }
    df.select(f(col("v"))).head().get(0)
  }

  test("X1 bucket-url rewrite hits all four reference prefixes and is idempotent") {
    val cases = Map(
      "gs://sibci-devel.appspot.com/a/b.png" -> "siscom_old/a/b.png",
      "gs://sibci-devel.appspot.com" -> "siscom_old/",
      "gs://sibci-2f7fc.appspot.com/x" -> "siscom_old/x",
      "https://other/a.png" -> "https://other/a.png")
    for ((in, want) <- cases) {
      assert(eval1(in, Scalars.rewriteBucketUrl) === want)
      assert(eval1(want, Scalars.rewriteBucketUrl) === want, "idempotence")
    }
  }

  test("X2/X3 email + phone normalization") {
    assert(eval1("  Foo@Bar.COM ", Scalars.normalizeEmail) === "foo@bar.com")
    assert(eval1("(212) 555-0187", Scalars.normalizePhone) === "2125550187")
    assert(eval1("(212) 555-0187", Scalars.normalizePhonePlus) === "+2125550187")
    assert(eval1("no digits", Scalars.normalizePhonePlus) === "")
  }

  test("X4 dni format: short passthrough, nationality letter kept, V- default") {
    assert(eval1("v-123.456.7", Scalars.formatDni) === "V-1234567")
    assert(eval1("E1234567", Scalars.formatDni) === "E-1234567")
    assert(eval1("12345678", Scalars.formatDni) === "V-12345678")
    assert(eval1("abc12", Scalars.formatDni) === "ABC12") // <7 chars: cleaned only
    assert(eval1(null, Scalars.formatDni) === null)
  }

  test("X5 gender normalization") {
    assert(eval1("Masculino", Scalars.normalizeGender) === "M")
    assert(eval1("F", Scalars.normalizeGender) === "F")
    assert(eval1("unknown", Scalars.normalizeGender) === "")
  }

  test("X9 mime mapping") {
    assert(eval1("IMAGEN", Scalars.mimeType) === "image/png")
    assert(eval1("VIDEO", Scalars.mimeType) === "video/mp4")
    assert(eval1("AUDIO", Scalars.mimeType) === "audio/mp3")
    assert(eval1("DOCUMENTO", Scalars.mimeType) === "application/pdf")
    assert(eval1("OTRO", Scalars.mimeType) === null)
  }

  test("X14 path depth and concat") {
    assert(eval1("/", Scalars.pathDepth) === 0)
    assert(eval1(null, Scalars.pathDepth) === 0)
    assert(eval1("/a", Scalars.pathDepth) === 1)
    assert(eval1("/a/b/c", Scalars.pathDepth) === 3)
    import spark.implicits._
    val p = Seq(("/", "x"), ("/a", "y")).toDF("parent", "name")
      .select(Scalars.pathConcat(col("parent"), col("name"))).collect()
    assert(p(0).getString(0) === "/x")
    assert(p(1).getString(0) === "/a/y")
  }
}
