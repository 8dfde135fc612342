package graphbench

import java.nio.file.{Files, Path}

/** The graph a full ingest of the corpus must produce, recorded once per
  * corpus content hash in `expected.json` (`--mode record` writes it). */
object Expected {
  final case class Graph(nodes: Int, edges: Int, nodesSha256: String,
      edgesSha256: String) {
    def toJson: Map[String, Any] = Map("nodes" -> nodes, "edges" -> edges,
      "nodes_sha256" -> nodesSha256, "edges_sha256" -> edgesSha256)
  }

  def file(benchDir: Path): Path = benchDir.resolve("expected.json")

  private def all(benchDir: Path): Map[String, Graph] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val f = file(benchDir)
    if (!Files.exists(f)) Map.empty
    else JsonMethods.parse(Files.readString(f)) match {
      case JObject(fields) => fields.collect {
        case (sha, o: JObject) =>
          def int(k: String) = (o \ k) match {
            case JInt(v) => v.toInt
            case other => sys.error(s"expected.json: bad $k: $other")
          }
          def str(k: String) = (o \ k) match {
            case JString(v) => v
            case other => sys.error(s"expected.json: bad $k: $other")
          }
          sha -> Graph(int("nodes"), int("edges"), str("nodes_sha256"),
            str("edges_sha256"))
      }.toMap
      case _ => sys.error("expected.json: not an object")
    }
  }

  /** The recorded graph for this corpus hash; a corpus with no record
    * cannot be checked, so the run stops. */
  def load(benchDir: Path, corpusSha256: String): Graph =
    all(benchDir).getOrElse(corpusSha256, sys.error(
      s"no expected graph recorded for corpus $corpusSha256"))

  def record(benchDir: Path, corpusSha256: String, g: Graph): Unit = {
    val m = all(benchDir).map { case (k, v) => k -> v.toJson } +
      (corpusSha256 -> g.toJson)
    Files.writeString(file(benchDir), Json(m) + "\n")
  }
}
