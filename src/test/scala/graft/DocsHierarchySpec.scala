package graft

import org.apache.spark.sql.functions._

import graft.post.Denormalize
import graft.transform.{DocsHierarchy, Projections, Rules}

/** Two-phase hierarchical docs parity: level-ordered folder ids, parent
  * resolution, file path→id with miss→root, docs_roles from both phases.
  */
class DocsHierarchySpec extends SparkSpecBase {
  import spark.implicits._

  private def docsFixture() = {
    val json = Seq(
      """{"_id":"f1","name":"docs","type":"FOLDER","onFolder":"/","isActive":true,"specialRole":"ro9"}""",
      """{"_id":"f2","name":"legal","type":"FOLDER","onFolder":"/docs","isActive":true}""",
      """{"_id":"f3","name":"deep","type":"FOLDER","onFolder":"/docs/legal","isActive":true}""",
      """{"_id":"a1","title":"contrato","fileType":"PDF","onFolder":"/docs/legal","isActive":true}""",
      """{"_id":"a2","title":"suelto","fileType":"PDF","onFolder":"/fantasma","isActive":true}""",
      """{"_id":"a3","title":"raiz","fileType":"PDF","isActive":true,"specialRole":"ro9"}""")
    spark.read.json(json.toDS)
  }

  test("folders get level-ordered ids, parents resolve, files map with miss→root") {
    val roleDim = Seq(("ro9", 99L)).toDF("mongo_id", "id")
    val ruled = Rules.docsRules(Projections.docsPostgres(docsFixture()), roleDim = Some(roleDim))
    val resolved = DocsHierarchy.resolve(ruled)
    val docs = resolved.orderBy("mongo_id").collect()
      .map(r => r.getAs[String]("mongo_id") ->
        (Option(r.getAs[java.lang.Long]("id")), r.getAs[Long]("onFolder"))).toMap

    // folders: /docs id=1 (depth 1), /docs/legal id=2, /docs/legal/deep id=3
    assert(docs("f1") === (Some(1L), 0L)) // parent '/' -> root 0
    assert(docs("f2") === (Some(2L), 1L)) // parent /docs -> 1
    assert(docs("f3") === (Some(3L), 2L)) // parent /docs/legal -> 2
    // files: resolved path, unknown path -> 0, absent path -> 0
    assert(docs("a1")._2 === 2L)
    assert(docs("a2")._2 === 0L)
    assert(docs("a3")._2 === 0L)
    assert(docs("a1")._1.isEmpty) // files keep sink-assigned ids

    // docs_roles from a folder (phase 1) and a file (phase 2)
    val roles = Denormalize.docsRoles(resolved).orderBy("mongo_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(roles === Seq(("a3", 99L), ("f1", 99L)))
  }
}
