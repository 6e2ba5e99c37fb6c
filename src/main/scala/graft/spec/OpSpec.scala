package graft.spec

import java.security.MessageDigest
import scala.collection.immutable.ListMap

/** The spec/provenance layer: every operation is an immutable case class
  * whose fields are either *dependencies* (values typed as other OpSpecs —
  * the DAG edges) or *parameters* (scalars). Identity is content-addressed:
  *
  *   uuid = s"${ClassName}_${sha256(canonicalJson)}"
  *
  * where child ops serialize as their UUIDs, so the hash is Merkle-recursive
  * through the whole upstream graph — knowing a UUID guarantees full
  * provenance of the result.
  *
  * Mirrors the reference's semantics (krnel-graph `op_spec.py:169-299`:
  * pydantic models, `model_dump` with child→UUID substitution and a "type"
  * discriminator, SHA-256 over sorted-key JSON; `ExcludeFromUUID` fields
  * serialized but not hashed, `op_spec.py:157-166,264-279`) re-expressed as
  * plain Scala: case classes + `productElementNames` + a frozen canonical
  * JSON (see [[Json]]). UUIDs are deterministic within THIS engine; they do
  * not (and cannot) equal the reference's Python-pickled hashes.
  */
trait OpSpec extends Product {

  /** Ephemeral ops are never persisted by runners — they stay lazy and fuse
    * into their consumer's plan (reference `op_spec.py:385-402`). */
  final def isEphemeral: Boolean = this.isInstanceOf[EphemeralOp]

  /** JSON field names (snake_case) excluded from the UUID hash but kept in
    * graph serialization (reference `op_spec.py:157-166`). */
  def excludeFromUuid: Set[String] = Set.empty

  final def typeName: String = getClass.getSimpleName

  /** (snake_case name, raw value) pairs in constructor order. */
  final def fieldPairs: Seq[(String, Any)] =
    productElementNames.zip(productIterator).map {
      case (n, v) => (OpSpec.camelToSnake(n), v)
    }.toSeq

  /** Immediate dependencies: every OpSpec reachable in this node's fields
    * (directly, inside Option/Seq, or as Map values), in field order. */
  final def children: Seq[OpSpec] =
    fieldPairs.flatMap { case (_, v) => OpSpec.collectOps(v) }

  /** All transitive dependencies, depth-first, deduplicated by uuid. */
  final def allDependencies: Seq[OpSpec] = {
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, OpSpec]
    def visit(op: OpSpec): Unit =
      op.children.foreach { c =>
        if (!seen.contains(c.uuid)) { seen(c.uuid) = c; visit(c) }
      }
    visit(this)
    seen.values.toSeq
  }

  /** Parameters: all fields that are NOT OpSpecs (reference
    * `op_spec.py:366-383`). */
  final def parameters: ListMap[String, Any] =
    ListMap(fieldPairs.filter { case (_, v) => OpSpec.collectOps(v).isEmpty }: _*)

  /** Serialize this node (only): children appear as their UUID strings, a
    * "type" discriminator is injected. Used both for graph files and (minus
    * excluded fields) for the UUID hash. */
  final def toJson: JObj =
    JObj(ListMap((("type", JString(typeName)) +:
      fieldPairs.map { case (n, v) => (n, OpSpec.valueToJson(v)) }): _*))

  final def canonicalJsonForUuid: String = {
    val kept = toJson.fields.filter { case (k, _) =>
      k == "type" || !excludeFromUuid.contains(k)
    }
    Json.render(JObj(kept))
  }

  final lazy val uuid: String = typeName + "_" + OpSpec.sha256(canonicalJsonForUuid)

  final def uuidHash: String = uuid.dropWhile(_ != '_').drop(1)

  override def hashCode(): Int = uuid.hashCode

  /** Rebuild this node with each OpSpec-typed field value transformed by `f`
    * (non-recursive — one level). Pure structural copy via the case-class
    * constructor. */
  final def mapChildren(f: OpSpec => OpSpec): OpSpec = {
    val newArgs = productIterator.map(v => OpSpec.mapOpsInValue(v, f)).toArray
    OpSpec.construct(getClass, newArgs)
  }

  /** Bottom-up rewrite of the whole DAG rooted here; `rule` is applied to
    * every node after its children were rewritten. Memoized by uuid so
    * shared sub-DAGs stay shared (reference `graph_transformations.py:112-160`). */
  final def transformUp(rule: OpSpec => OpSpec): OpSpec = {
    val memo = scala.collection.mutable.HashMap.empty[String, OpSpec]
    def go(op: OpSpec): OpSpec =
      memo.getOrElseUpdate(op.uuid, rule(op.mapChildren(go)))
    go(this)
  }

  /** Graph surgery (reference `op_spec.py:404-530`): rebuild the DAG with
    * `target` replaced by `replacement` everywhere (matched by uuid). */
  final def subs(target: OpSpec, replacement: OpSpec): OpSpec =
    subsAll(Seq(target -> replacement))

  /** The reference's `graph.subs(target, field=value, ...)` form: apply
    * field changes to `target` (anywhere in this graph), rebuilding the
    * whole DAG around the changed node (`op_spec.py:485-497`). */
  final def subs(target: OpSpec, changes: (String, Any)*): OpSpec =
    subsAll(Seq(target -> target.subsFields(changes: _*)))

  final def subsAll(substitutions: Seq[(OpSpec, OpSpec)]): OpSpec =
    // route through Graph.substitute: it checks the ORIGINAL uuid before
    // rewriting children, so a target whose own descendant is also a target
    // still gets replaced (a bare bottom-up transformUp would miss it — the
    // node's uuid has already changed by the time the rule sees it)
    Graph.substitute(Seq(this), substitutions).head

  /** Field-change form of subs: copy this node with named fields updated
    * (snake_case or camelCase accepted). Unknown names are an error, like
    * the reference (`op_spec.py:515-521`). */
  final def subsFields(changes: (String, Any)*): OpSpec = {
    val names = productElementNames.toIndexedSeq
    val snake = names.map(OpSpec.camelToSnake)
    val args = productIterator.toArray
    changes.foreach { case (name, value) =>
      val i = names.indexOf(name) match {
        case -1 => snake.indexOf(OpSpec.camelToSnake(name))
        case ok => ok
      }
      if (i < 0) throw new IllegalArgumentException(
        s"Invalid field name for $typeName: '$name'. Valid fields: ${snake.sorted.mkString(", ")}")
      args(i) = value
    }
    OpSpec.construct(getClass, args)
  }

  // ---------------- pseudocode rendering ----------------

  /** Stable short identifier for pseudocode/status displays. */
  final def codeIdentifier: String = typeName.toLowerCase + "_" + uuidHash.take(5)

  final def codeStatement: String = {
    val args = fieldPairs.map { case (n, v) =>
      s"  $n=${OpSpec.codeValue(v)},"
    }
    (s"$codeIdentifier = $typeName(" +: args :+ ")").mkString("\n")
  }

  /** Render this op and its dependencies as pseudocode, topologically
    * (reference `op_spec.py:569-594`). */
  final def toCode(includeBanner: Boolean = true): String = {
    val out = scala.collection.mutable.ListBuffer.empty[String]
    if (includeBanner) out += s"# Graph for $uuid"
    val seen = scala.collection.mutable.HashSet.empty[String]
    def visit(op: OpSpec): Unit = if (seen.add(op.uuid)) {
      op.children.foreach(visit)
      out += op.codeStatement
    }
    visit(this)
    out.mkString("\n\n")
  }

  /** Unified diff of two graphs' pseudocode (reference `graph_diff.py:10-51`). */
  final def diff(other: OpSpec): String =
    OpSpec.unifiedDiff(
      toCode(includeBanner = false).linesIterator.toVector,
      other.toCode(includeBanner = false).linesIterator.toVector)
}

/** Marker: never persisted, recomputed (fused) on demand. */
trait EphemeralOp { self: OpSpec => }

object OpSpec {

  def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  def camelToSnake(name: String): String =
    name
      // split an acronym run before a trailing Word: "targetNNeighbors" →
      // "targetN_Neighbors" (pydantic-style target_n_neighbors, not
      // target_nneighbors)
      .replaceAll("([A-Z]+)([A-Z][a-z])", "$1_$2")
      .replaceAll("([a-z0-9])([A-Z])", "$1_$2")
      .toLowerCase

  /** All OpSpecs inside a field value (direct, Option, Seq, Map values —
    * mirroring the reference's `map_fields` traversal,
    * `graph_transformations.py:13-36`). */
  def collectOps(v: Any): Seq[OpSpec] = v match {
    case op: OpSpec => Seq(op)
    case Some(x) => collectOps(x)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).flatMap { case (_, x) => collectOps(x) }
    case xs: Iterable[_] => xs.toSeq.flatMap(collectOps)
    case _ => Seq.empty
  }

  /** Transform OpSpecs inside a field value (one level of graph depth,
    * arbitrary container depth). */
  def mapOpsInValue(v: Any, f: OpSpec => OpSpec): Any = v match {
    case op: OpSpec => f(op)
    case Some(x) => Some(mapOpsInValue(x, f))
    case m: scala.collection.Map[_, _] =>
      m.asInstanceOf[scala.collection.Map[String, Any]]
        .map { case (k, x) => (k, mapOpsInValue(x, f)) }
    case xs: List[_] => xs.map(mapOpsInValue(_, f))
    case xs: Vector[_] => xs.map(mapOpsInValue(_, f))
    case xs: Seq[_] => xs.map(mapOpsInValue(_, f))
    case other => other
  }

  /** Field value → JSON with child ops replaced by their UUIDs (reference
    * `op_spec.py:234-252`). */
  def valueToJson(v: Any): JValue = v match {
    case op: OpSpec => JString(op.uuid)
    case None => JNull
    case Some(x) => valueToJson(x)
    case m: scala.collection.Map[_, _] =>
      JObj(ListMap(m.toSeq.map { case (k, x) => (k.toString, valueToJson(x)) }
        .sortBy(_._1): _*))
    case xs: Iterable[_] => JArr(xs.map(valueToJson).toVector)
    case other => Json.fromScala(other)
  }

  def codeValue(v: Any): String = v match {
    case op: OpSpec => op.codeIdentifier
    case None => "None"
    case Some(x) => codeValue(x)
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString)
        .map { case (k, x) => s"${codeValue(k)}: ${codeValue(x)}" }
        .mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(codeValue).mkString("[", ", ", "]")
    case other => String.valueOf(other)
  }

  /** Instantiate a case class from positional args via its (single primary)
    * constructor. Boxing handled by the JVM reflection API; a failed
    * `require` in the constructor surfaces as itself. */
  def construct(cls: Class[_], args: Array[Any]): OpSpec = {
    val ctor = cls.getConstructors
      .find(_.getParameterCount == args.length)
      .getOrElse(throw new IllegalStateException(
        s"no ${args.length}-arg constructor on ${cls.getName}"))
    try ctor.newInstance(args.map(_.asInstanceOf[AnyRef]): _*).asInstanceOf[OpSpec]
    catch { case e: java.lang.reflect.InvocationTargetException => throw e.getCause }
  }

  /** Minimal LCS-based unified-ish diff over lines. */
  def unifiedDiff(a: Vector[String], b: Vector[String]): String = {
    val n = a.length; val m = b.length
    val lcs = Array.ofDim[Int](n + 1, m + 1)
    for (i <- (n - 1) to 0 by -1; j <- (m - 1) to 0 by -1)
      lcs(i)(j) =
        if (a(i) == b(j)) lcs(i + 1)(j + 1) + 1
        else math.max(lcs(i + 1)(j), lcs(i)(j + 1))
    val out = scala.collection.mutable.ListBuffer.empty[String]
    var i = 0; var j = 0
    while (i < n && j < m) {
      if (a(i) == b(j)) { out += ("  " + a(i)); i += 1; j += 1 }
      else if (lcs(i + 1)(j) >= lcs(i)(j + 1)) { out += ("- " + a(i)); i += 1 }
      else { out += ("+ " + b(j)); j += 1 }
    }
    while (i < n) { out += ("- " + a(i)); i += 1 }
    while (j < m) { out += ("+ " + b(j)); j += 1 }
    out.mkString("\n")
  }
}
