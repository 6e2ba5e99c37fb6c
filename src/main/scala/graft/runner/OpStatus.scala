package graft.runner

import graft.spec._

/** Status state machine for one op in the store (reference
  * `op_status.py:13-39`): `new → running → completed | failed`, with
  * `ephemeral` for ops that never persist. The status file embeds the op's
  * full serialized graph, which is what makes `uuidToOp` rehydration and
  * cross-machine sharing possible (reference `local_arrow_runner.py:250-269`).
  */
object OpState {
  val New = "new"
  val Running = "running"
  val Completed = "completed"
  val Failed = "failed"
  val Ephemeral = "ephemeral"
  val all: Set[String] = Set(New, Running, Completed, Failed, Ephemeral)
}

final case class OpStatus(
    uuid: String,
    state: String,
    startedAt: Option[String] = None,
    completedAt: Option[String] = None,
    error: Option[String] = None,
    resultFormat: Option[String] = None, // parquet | json | model
    graph: Option[JObj] = None) {
  require(OpState.all(state), s"bad state $state")

  def toJson: JObj = JObj(
    "uuid" -> JString(uuid),
    "state" -> JString(state),
    "started_at" -> startedAt.map(JString(_): JValue).getOrElse(JNull),
    "completed_at" -> completedAt.map(JString(_): JValue).getOrElse(JNull),
    "error" -> error.map(JString(_): JValue).getOrElse(JNull),
    "result_format" -> resultFormat.map(JString(_): JValue).getOrElse(JNull),
    "graph" -> graph.getOrElse(JNull))

  /** Op `uuid` rebuilt from the graph this status embeds. */
  def op(uuid: String): OpSpec = {
    val g = graph.getOrElse(
      throw new IllegalStateException(s"status for $uuid has no graph"))
    Graph.deserialize(g).find(_.uuid == uuid).getOrElse(
      throw new IllegalStateException(s"graph in status for $uuid does not contain it"))
  }
}

object OpStatus {
  /** Read op `uuid`'s status file `p`; a truncated or corrupt file is an
    * error naming both. */
  def read(uuid: String, p: java.nio.file.Path): OpStatus =
    try fromJson(Json.parse(java.nio.file.Files.readString(p)))
    catch {
      case scala.util.control.NonFatal(e) => throw new IllegalStateException(
        s"corrupt status for $uuid at $p: ${e.getMessage}", e)
    }

  def fromJson(v: JValue): OpStatus = v match {
    case o: JObj =>
      def opt(n: String): Option[String] = o.get(n) match {
        case Some(JString(s)) => Some(s); case _ => None
      }
      OpStatus(
        uuid = o("uuid") match { case JString(s) => s; case x => sys.error(s"bad uuid $x") },
        state = o("state") match { case JString(s) => s; case x => sys.error(s"bad state $x") },
        startedAt = opt("started_at"),
        completedAt = opt("completed_at"),
        error = opt("error"),
        resultFormat = opt("result_format"),
        graph = o.get("graph") match { case Some(g: JObj) => Some(g); case _ => None })
    case other => throw new IllegalArgumentException(s"bad status json: $other")
  }
}
