package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Graph snapshot persistence — the rebuild's storage layer (SURVEY.md
  * §1.3): columnar Parquet per table, task-partitioned nodes, atomic
  * commit-by-rename.
  *
  * The reference mutates Neo4j in place under a global file lock
  * (graphDB.py:18-33); a Spark engine instead owns immutable snapshot
  * directories and commits a whole batch at once (the analog of the
  * per-file SourcetrailDB transaction, run_index_single.py:56-58, but at
  * batch granularity).
  *
  * Scale notes:
  *  - nodes are written partitioned by `part_task` (first task id) so
  *    task-scoped scans prune partitions (the reference's label-scoped
  *    scans, SURVEY.md §4);
  *  - edges are bucketable by `src` for merge-free point expands;
  *  - commit = write to `<dir>.tmp-<nonce>` then atomic rename: readers
  *    never observe a half-written snapshot.
  */
object Snapshot {
  final case class GraphSnapshot(
      nodes: DataFrame, edges: DataFrame, locations: DataFrame)

  // the tables' columns in the order [[write]] lays them out and [[read]]
  // declares them; `part_task` is the nodes' partition column
  private val NodeSchema = StructType.fromDDL("full_name STRING, " +
    "kind STRING, task_ids ARRAY<STRING>, name STRING, file_path STRING, " +
    "signature STRING, clazz STRING, code STRING, " +
    "props MAP<STRING, STRING>")
  private val EdgeSchema = StructType.fromDDL(
    "src STRING, rel_type STRING, dst STRING, props MAP<STRING, STRING>")
  private val LocationSchema = StructType.fromDDL("symbolFullName STRING, " +
    "filePath STRING, kind STRING, startLine INT, startCol INT, " +
    "endLine INT, endCol INT")

  private def laidOut(df: DataFrame, schema: StructType): DataFrame =
    df.select(schema.fieldNames.toSeq.map(col): _*)

  def write(snap: GraphSnapshot, dir: String): Unit = {
    val tmp = s"$dir.tmp-${java.util.UUID.randomUUID().toString.take(8)}"
    // sort on the point-lookup keys inside each file: parquet row-group
    // min/max stats then skip row groups on full_name/src point reads
    // (B1 lookups, expand probes) — the dir-based analog of bucketing
    // (hive-style bucketing needs a metastore table, which a snapshot
    // directory deliberately doesn't)
    // part_task leads the sort: partitionBy requires ordering on the
    // partition column, so this single sort satisfies the writer (no
    // second writer-inserted sort that could unstably reorder full_name)
    laidOut(snap.nodes, NodeSchema)
      .withColumn("part_task", coalesce(element_at(col("task_ids"), 1), lit("none")))
      .sortWithinPartitions("part_task", "full_name")
      .write.mode("overwrite").partitionBy("part_task").parquet(s"$tmp/nodes")
    laidOut(snap.edges, EdgeSchema).sortWithinPartitions("src", "rel_type")
      .write.mode("overwrite").parquet(s"$tmp/edges")
    laidOut(snap.locations, LocationSchema)
      .write.mode("overwrite").parquet(s"$tmp/locations")
    val target = Paths.get(dir)
    if (Files.exists(target)) {
      val old = Paths.get(s"$dir.old-${System.nanoTime()}")
      Files.move(target, old, StandardCopyOption.ATOMIC_MOVE)
      Files.move(Paths.get(tmp), target, StandardCopyOption.ATOMIC_MOVE)
      deleteRecursively(old)
    } else {
      Files.move(Paths.get(tmp), target, StandardCopyOption.ATOMIC_MOVE)
    }
  }

  /** Reads the three tables with their declared schemas: no job opens
    * a parquet footer to infer one. */
  def read(spark: SparkSession, dir: String): GraphSnapshot =
    GraphSnapshot(
      spark.read.schema(NodeSchema.add("part_task", StringType))
        .parquet(s"$dir/nodes").drop("part_task"),
      spark.read.schema(EdgeSchema).parquet(s"$dir/edges"),
      spark.read.schema(LocationSchema).parquet(s"$dir/locations"))

  private[store] def deleteRecursively(p: java.nio.file.Path): Unit = {
    if (Files.isDirectory(p))
      Files.list(p).forEach(deleteRecursively)
    Files.deleteIfExists(p)
  }
}
