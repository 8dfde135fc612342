package graft

/** The Cypher reads of graphbench's `serve` workload, written once for the
  * tests and tools that replay them (`PlanAudit --serve`, `PlanShapeSpec`):
  * a point read of `key`, its CALL expand, a `*1..3` walk from `caller`,
  * and the shortest CALL path from `key` to `dst`. Keys are inserted as
  * they are, unescaped. */
object ServeShapes {
  def reads(key: String, dst: String, caller: String): Seq[(String, String)] =
    Seq(
      "point" -> (s"MATCH (n {full_name: '$key'}) RETURN n.full_name AS " +
        "full_name, n.kind AS kind, n.name AS name, n.file_path AS file_path"),
      "expand" -> (s"MATCH (a {full_name: '$key'})-[:CALL]->(b) " +
        "RETURN b.full_name AS dst, b.kind AS kind"),
      "varpath" -> (s"MATCH (a {full_name: '$caller'})-[:CALL*1..3]->(b) " +
        "RETURN DISTINCT b.full_name AS dst"),
      "shortest" -> (s"MATCH p = shortestPath((a {full_name: '$key'})" +
        s"-[:CALL*]->(b {full_name: '$dst'})) RETURN length(p) AS len"))
}
