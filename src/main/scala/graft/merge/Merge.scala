package graft.merge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.model._

/** Write-path merge — the reference's per-event Neo4j upserts
  * (graphDB.py:121-153) re-expressed as ONE set-oriented batch job.
  *
  * The reference's semantics, preserved exactly:
  *  - node upsert keyed by full_name within a task (A1): later events'
  *    properties overwrite earlier ones (last-write-wins by event order);
  *  - the 'none' placeholder label is promoted to the real kind when any
  *    event carries one (A2); a node referenced before being defined stays
  *    'none';
  *  - edge upsert keyed by (src, rel_type, dst) with last-write-wins props
  *    (A4); endpoints missing from the node stream get stub nodes;
  *  - multi-task membership is a label-set union (D5).
  *
  * Scale posture: the whole merge is two shuffles (one groupBy per table)
  * + one anti-join for stubs. Map-side partial aggregation applies to the
  * max_by aggregates; no driver-side iteration, no per-row round-trips —
  * this is where the Spark rebuild structurally beats the reference's
  * lock-serialized per-event writes (SURVEY.md §4).
  */
object Merge {

  /** Collapse a symbol-event stream into one row per full_name.
    * Event order = `seq` (within-file sequence number assigned by the
    * indexer). Properties: last non-null wins; kind: last non-'none' wins,
    * else 'none'; task_ids: set-union. */
  def mergeNodes(events: DataFrame): DataFrame = {
    // last non-null value of `c` by event order: max_by over only the
    // events that set the column (codegen'd, partial-agg friendly)
    def lww(c: String) =
      max_by(col(c), when(col(c).isNotNull, col("seq"))).as(c)
    events
      .groupBy(col("fullName").as("full_name"))
      .agg(
        // label promotion (A2): the real kind wins over the placeholder
        coalesce(max_by(col("kind"), when(col("kind") =!= Kind.None_, col("seq"))),
          lit(Kind.None_)).as("kind"),
        array_sort(array_distinct(collect_list(col("taskId")))).as("task_ids"),
        lww("name"), lww("filePath"), lww("signature"), lww("clazz"), lww("code"),
        // open-ended props: later maps overwrite earlier keys
        aggregate(
          // comparator on seq only: a struct holding a MAP is not orderable
          array_sort(collect_list(struct(col("seq"), col("props"))),
            (l, r) => when(l.getField("seq") < r.getField("seq"), -1)
              .when(l.getField("seq") > r.getField("seq"), 1).otherwise(0)),
          map().cast("map<string,string>"),
          (acc, e) => map_concat(
            map_filter(acc, (k, _) => !map_contains_key(e.getField("props"), k)),
            e.getField("props"))
        ).as("props"))
      .withColumnRenamed("filePath", "file_path")
  }

  /** Collapse an edge-event stream: one row per (src, rel_type, dst),
    * last-write-wins props (A4). */
  def mergeEdges(events: DataFrame): DataFrame =
    events
      .groupBy(col("src"), col("relType").as("rel_type"), col("dst"))
      .agg(max_by(col("props"), col("seq")).as("props"))

  /** A4's endpoint-stub rule: every edge endpoint that no node event named
    * becomes a 'none'-labeled stub node (anti-join + append). */
  def withStubs(nodes: DataFrame, edges: DataFrame, taskId: String): DataFrame =
    appendStubs(nodes,
      edges.select(col("src").as("full_name"))
        .union(edges.select(col("dst").as("full_name")))
        .groupBy("full_name").agg(array(lit(taskId)).as("task_ids")))

  /** Task-faithful stub rule for mixed-task batches: each stub carries the
    * set of task ids whose edge events referenced it (the reference's
    * add_edge creates missing endpoints under the label of the CALLING
    * task, graphDB.py:133-141 — a batch staging two tasks must not
    * attribute all stubs to the first). `edgeEvents` is the raw staged
    * stream with its `taskId` column. */
  def withStubsByTask(nodes: DataFrame, edgeEvents: DataFrame): DataFrame =
    appendStubs(nodes,
      edgeEvents.select(col("src").as("full_name"), col("taskId"))
        .union(edgeEvents.select(col("dst").as("full_name"), col("taskId")))
        .groupBy("full_name")
        .agg(array_sort(array_distinct(collect_list(col("taskId")))).as("task_ids")))

  private def appendStubs(nodes: DataFrame, endpoints: DataFrame): DataFrame =
    nodes.unionByName(stubNodes(endpoints
      .join(nodes.select("full_name"), Seq("full_name"), "left_anti")))

  /** The 'none'-labeled stub row for each (full_name, task_ids) of
    * `endpoints`: its name is the last dotted segment, every other
    * property is unset. */
  private[graft] def stubNodes(endpoints: DataFrame): DataFrame =
    endpoints.select(
      col("full_name"),
      lit(Kind.None_).as("kind"),
      col("task_ids"),
      element_at(split(col("full_name"), "\\."), -1).as("name"),
      lit(null).cast("string").as("file_path"),
      lit(null).cast("string").as("signature"),
      lit(null).cast("string").as("clazz"),
      lit(null).cast("string").as("code"),
      map().cast("map<string,string>").as("props"))

  /** Merge a freshly-indexed batch into an existing snapshot: full-outer
    * on the key, column-wise coalesce with the new side winning, label
    * promotion on kind, task-set union. (The batch analog of re-running
    * add_node over an existing graph.) */
  def upsertInto(base: DataFrame, fresh: DataFrame): DataFrame = {
    val b = base.alias("b")
    val f = fresh.alias("f")
    def pick(c: String) = coalesce(col(s"f.$c"), col(s"b.$c")).as(c)
    b.join(f, col("b.full_name") === col("f.full_name"), "full_outer")
      .select(
        coalesce(col("f.full_name"), col("b.full_name")).as("full_name"),
        // promotion: a real kind beats 'none' from either side
        coalesce(
          when(col("f.kind") =!= Kind.None_, col("f.kind")),
          when(col("b.kind") =!= Kind.None_, col("b.kind")),
          lit(Kind.None_)).as("kind"),
        array_sort(array_distinct(concat(
          coalesce(col("f.task_ids"), array()),
          coalesce(col("b.task_ids"), array())))).as("task_ids"),
        pick("name"), pick("file_path"), pick("signature"), pick("clazz"), pick("code"),
        map_concat(
          map_filter(coalesce(col("b.props"), map().cast("map<string,string>")),
            (k, _) => !map_contains_key(coalesce(col("f.props"), map().cast("map<string,string>")), k)),
          coalesce(col("f.props"), map().cast("map<string,string>"))).as("props"))
  }
}
