package graft.transform

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's two-phase hierarchical docs migration
  * (`etl/orchestrator.py:743-1000`): Mongo stores folder membership as
  * string paths; the relational target wants integer folder ids.
  *
  * Phase 1 — folders, shallowest first: depth = slash count of the PARENT
  * path (`:778-786`), full_path = parent + '/' + name (`:839-845`), ids
  * assigned per level, each level's parent resolved against the accumulated
  * path→id map with miss→root (`:834-835`). Phase 2 — files left-join the
  * final map, miss→0 (`:914-923`). The resolved docs keep
  * `special_role_id`, from which [[graft.post.Denormalize.docsRoles]] reads
  * docs_roles for both phases (`:961-987`, U1).
  *
  * Folder ids are minted with a global sequence — folders are dim-sized by
  * nature (path components, not corpus size), the one place W2 sequences
  * are allowed (SURVEY.md §7.4 risk 8).
  */
object DocsHierarchy {

  /** One plan reads `docsRuled` once: folder ids come from a window over
    * the folder/file split, and folders (phase 1) and files (phase 2)
    * resolve their parent path in the same broadcast join against the
    * path→id map. The map is built from that window's output, so its input
    * shuffle is reused rather than recomputed. Equivalent to the
    * level-by-level walk for any tree whose folder paths are unique (the
    * [[graft.operators.Hierarchy.resolveParentsDirect]] argument: ids are
    * assigned before parents are resolved).
    *
    * @param docsRuled output of [[Rules.docsRules]] (keeps `_tmp_on_folder`,
    *                  and `special_role_id` when a role dim was supplied)
    */
  def resolve(docsRuled: DataFrame): DataFrame = {
    // F6 — folder/file partition (type already collapses fileType||type);
    // a row whose type is null is neither and is dropped
    val isFolder = col("type") === "FOLDER"
    // folder ids: row number by full path among folders, from 1
    // (full_path = parent + '/' + name, `:839-845`)
    val nodes = docsRuled.filter(col("type").isNotNull)
      .withColumn("fparent", coalesce(Shape.nullIfEmpty(col("_tmp_on_folder")), lit("/")))
      .withColumn("fpath", graft.functions.Scalars.pathConcat(col("fparent"), col("name")))
      .withColumn("__folder_id", when(isFolder,
        row_number().over(Window.partitionBy(isFolder).orderBy(col("fpath"))).cast("long")))

    // path -> id: the root ('/' -> 0) and every folder. Folders resolve
    // their parent against both (depth-1 folders hang under the root);
    // files against the folders only, miss -> root (0) (`:914-923`)
    val root = docsRuled.sparkSession.range(1)
      .select(lit("/").as("__p_path"), lit(0L).as("__p_id"))
    val pathToId = root.unionByName(nodes.filter(isFolder)
      .select(col("fpath").as("__p_path"), col("__folder_id").as("__p_id")))
    val resolved = nodes
      .join(broadcast(pathToId),
        col("fparent") === col("__p_path") && (isFolder || col("__p_id") =!= 0L), "left")
      .withColumn("onFolder", coalesce(col("__p_id"), lit(0L)))
      .withColumn("id", col("__folder_id")) // files keep sink-assigned ids
      .drop("fparent", "fpath", "__folder_id", "__p_path", "__p_id")

    resolved.drop(docsRuled.columns.filter(_.startsWith("_tmp_")): _*)
  }
}
