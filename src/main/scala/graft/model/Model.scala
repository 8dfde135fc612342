package graft.model

/** Core data model of the graft engine — a labeled property graph held in
  * columnar DataFrames (Parquet at rest), re-expressing the reference's
  * Neo4j multi-label property-graph model (reference:
  * graph_database_index/graphDB.py:65-153) in a Spark-native schema
  * (SURVEY.md §1.3).
  *
  * Design notes for scale:
  *  - `fullName` is the logical primary key; `id` is a stable 64-bit
  *    surrogate (xxhash64) so graph analytics (GraphX, closure joins) work
  *    on Long keys instead of shuffling long strings.
  *  - `labels` is multi-valued (the reference promotes a 'none' placeholder
  *    label to the real kind later — graphDB.py:82-92).
  *  - `taskIds` is multi-valued snapshot membership (update_version.py:21-44
  *    adds a new task label to carried-forward nodes).
  *  - Fixed, frequently-queried properties are real columns (columnar
  *    pruning + pushdown); the open-ended remainder lives in `props`.
  */
final case class NodeRow(
    fullName: String,
    labels: Seq[String],
    taskIds: Seq[String],
    name: String,
    filePath: Option[String],
    signature: Option[String],
    clazz: Option[String],
    code: Option[String],
    props: Map[String, String])

/** Typed edge: (src, relType, dst) is the logical key
  * (reference graphDB.py:133-153 upserts on exactly this triple). */
final case class EdgeRow(
    src: String,
    relType: String,
    dst: String,
    props: Map[String, String])

/** Source-location rows — the analog of the reference's SourcetrailDB
  * location records (reference sourcetraildb.py:161-236,
  * myClient.py:221-257). kind ∈ {SYMBOL, SCOPE, SIGNATURE, REFERENCE,
  * LOCAL, ATOMIC_RANGE, ERROR}. */
final case class LocationRow(
    symbolFullName: String,
    filePath: String,
    kind: String,
    startLine: Int,
    startCol: Int,
    endLine: Int,
    endCol: Int)

/** Node kinds that the reference materializes in the graph
  * (myClient.py:153-204). */
object Kind {
  val Module = "MODULE"
  val Class = "CLASS"
  val Function = "FUNCTION"
  val Method = "METHOD"
  val GlobalVariable = "GLOBAL_VARIABLE"
  val Field = "FIELD"
  val None_ = "none" // placeholder label, promoted later (graphDB.py:41)
  val all: Seq[String] = Seq(Module, Class, Function, Method, GlobalVariable, Field)
}

/** Edge types materialized by the reference (myClient.py:187-311,
  * ast_search/ast_manage.py:79-99,196-198). */
object Rel {
  val Contains = "CONTAINS"
  val HasMethod = "HAS_METHOD"
  val HasField = "HAS_FIELD"
  val Call = "CALL"
  val Uses = "USES"
  val Inherits = "INHERITS"
  val all: Seq[String] = Seq(Contains, HasMethod, HasField, Call, Uses, Inherits)
}

/** Indexer IR — the event vocabulary emitted by the per-file indexer
  * (the reference's AstVisitorClient callbacks, myClient.py:107-322).
  * `seq` preserves within-file event order: the reference applies events
  * one-by-one (per-event Neo4j upserts), so later property writes win and
  * 'none' labels are promoted when the real kind arrives; we batch, so the
  * merge orders each key's events by `seq` alone. `seq` restarts in every
  * file, so events of one key from two files can tie; both merge arms
  * then keep the event they meet later (`max_by`'s rule), which depends
  * on the input's partitioning. The indexer emits a symbol's events from
  * the file that defines it, so keys do not span files on real input (0
  * of 3,150 on the benchmark corpus). */
final case class SymbolEvent(
    seq: Long,
    taskId: String,
    kind: String, // may be Kind.None_ when only referenced, not defined
    fullName: String,
    name: String,
    filePath: Option[String],
    signature: Option[String],
    clazz: Option[String],
    code: Option[String],
    props: Map[String, String])

final case class EdgeEvent(
    seq: Long,
    taskId: String,
    src: String,
    relType: String,
    dst: String,
    props: Map[String, String])
