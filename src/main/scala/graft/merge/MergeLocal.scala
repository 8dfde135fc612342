package graft.merge

import scala.collection.immutable.VectorMap

import org.apache.spark.sql.Row
import org.apache.spark.unsafe.types.UTF8String

import graft.model.{EdgeEvent, EdgeRow, Kind, SymbolEvent}

/** [[Merge.mergeNodes]], [[Merge.mergeEdges]] and [[Merge.withStubs]] as
  * one in-memory fold, for an event stream that fits on the driver. Row
  * for row the same tables as the Spark aggregates, which are its
  * reference:
  *
  *  - a column takes its last non-null value by `seq`, `kind` its last
  *    non-'none' value (else 'none'), an edge the props of its last
  *    event;
  *  - between two events of one key with the same `seq` (two files
  *    naming one symbol) the one met later wins, as `max_by` keeps the
  *    later of two equal orderings; events are met in the order given;
  *  - `task_ids` are the distinct non-null task ids in Spark's string
  *    order (UTF-8 bytes);
  *  - `props` fold key-wise in `seq` order with a stable sort, as
  *    `array_sort` is, and keep `map_concat`'s entry order;
  *  - every edge endpoint that no node names becomes a stub.
  */
private[graft] object MergeLocal {

  private val Utf8Order: Ordering[String] =
    Ordering.by[String, UTF8String](UTF8String.fromString)

  /** The value of the last event (by `seq`, later on ties) for which
    * `f` is non-null, else null. */
  private def lastBySeq(es: Seq[SymbolEvent])(
      f: SymbolEvent => String): String = {
    var best: String = null
    var bestSeq = Long.MinValue
    es.foreach { e =>
      val v = f(e)
      if (v != null && (best == null || e.seq >= bestSeq)) {
        best = v
        bestSeq = e.seq
      }
    }
    best
  }

  /** One row per full_name, in [[Merge.mergeNodes]]' column order. */
  def nodes(events: Seq[SymbolEvent]): Seq[Row] =
    events.groupBy(_.fullName).iterator.map { case (key, es) =>
      val kind = lastBySeq(es)(e =>
        if (e.kind == Kind.None_) null else e.kind)
      val props = es.sortBy(_.seq).foldLeft(VectorMap.empty[String, String]) {
        (acc, e) => acc.filterNot { case (k, _) => e.props.contains(k) } ++
          e.props
      }
      Row(key, if (kind == null) Kind.None_ else kind,
        es.flatMap(e => Option(e.taskId)).distinct.sorted(Utf8Order),
        lastBySeq(es)(_.name), lastBySeq(es)(_.filePath.orNull),
        lastBySeq(es)(_.signature.orNull), lastBySeq(es)(_.clazz.orNull),
        lastBySeq(es)(_.code.orNull), props)
    }.toVector

  /** One edge per (src, rel_type, dst). */
  def edges(events: Seq[EdgeEvent]): Seq[EdgeRow] =
    events.groupBy(e => (e.src, e.relType, e.dst)).iterator.map {
      case ((src, rel, dst), es) =>
        val last = es.reduceLeft((a, b) => if (a.seq > b.seq) a else b)
        EdgeRow(src, rel, dst, last.props)
    }.toVector

  /** [[Merge.stubNodes]]' row for every endpoint of `edges` outside
    * `named`, attributed to `taskId`. */
  def stubs(named: String => Boolean, edges: Seq[EdgeRow],
      taskId: String): Seq[Row] =
    edges.iterator.flatMap(e => Iterator(e.src, e.dst)).filterNot(named)
      .distinct.map(n => Row(n, Kind.None_, Seq(taskId),
        n.substring(n.lastIndexOf('.') + 1), null, null, null, null,
        Map.empty[String, String]))
      .toVector
}
