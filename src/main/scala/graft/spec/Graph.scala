package graft.spec

import scala.collection.concurrent.TrieMap
import scala.collection.immutable.ListMap

final class UUIDMismatchException(val expected: String, val actual: OpSpec)
  extends RuntimeException(
    s"""UUID mismatch on reserialized node:
       |  expected: $expected
       |  actual:   ${actual.uuid}
       |  canonical: ${actual.canonicalJsonForUuid}
       |The definition of ${actual.typeName} has changed since the graph was
       |serialized (fields added/removed, defaults changed, canonical-JSON
       |drift).""".stripMargin)

/** Graph (de)serialization — the on-disk format of the reference
  * (`op_spec.py:701-735`):
  *
  * {{{
  * {"outputs": ["Uuid_...", ...],
  *  "nodes": {"Uuid_...": {"type": "ClassName", ...fields, deps as uuids}}}
  * }}}
  *
  * Deserialization re-verifies every node's UUID (drift → hard error with a
  * diff, reference `op_spec.py:142-155, 811-818`), detects cycles
  * (`op_spec.py:787-789`) and rejects unreachable nodes (`op_spec.py:823-826`).
  */
object Graph {

  def serialize(outputs: OpSpec*): JObj = {
    val nodes = scala.collection.mutable.LinkedHashMap.empty[String, JValue]
    def visit(op: OpSpec): Unit = if (!nodes.contains(op.uuid)) {
      nodes(op.uuid) = op.toJson
      op.children.foreach(visit)
    }
    outputs.foreach(visit)
    JObj(
      "outputs" -> JArr(outputs.map(o => JString(o.uuid): JValue).toVector),
      "nodes" -> JObj(ListMap(nodes.toSeq: _*)))
  }

  def serializeToString(outputs: OpSpec*): String =
    Json.renderPretty(serialize(outputs: _*))

  def deserialize(data: JValue): Seq[OpSpec] = {
    val obj = data match {
      case o: JObj => o
      case other => throw new IllegalArgumentException(s"graph must be an object, got $other")
    }
    val nodesData: Map[String, JObj] = obj.get("nodes") match {
      case Some(JObj(fields)) => fields.map {
        case (k, o: JObj) => (k, o)
        case (k, other) => throw new IllegalArgumentException(s"node $k must be an object, got $other")
      }
      case _ => Map.empty
    }
    val outputs: Seq[String] = obj.get("outputs") match {
      case Some(JArr(items)) => items.map {
        case JString(s) => s
        case other => throw new IllegalArgumentException(s"output uuid must be a string, got $other")
      }
      case _ => Seq.empty
    }

    val built = scala.collection.mutable.HashMap.empty[String, OpSpec]
    val inProgress = scala.collection.mutable.HashSet.empty[String]

    def construct(uuid: String): OpSpec = built.getOrElse(uuid, {
      if (inProgress(uuid))
        throw new IllegalArgumentException(s"Cycle detected in graph at node $uuid")
      inProgress += uuid
      val node = nodesData.getOrElse(uuid,
        throw new IllegalArgumentException(s"Node with UUID $uuid not found in graph data"))
      val op = OpRegistry.decode(node, construct)
      if (op.uuid != uuid) throw new UUIDMismatchException(uuid, op)
      inProgress -= uuid
      built(uuid) = op
      op
    })

    val result = outputs.map(construct)
    if (built.size != nodesData.size) {
      val unreachable = nodesData.keySet -- built.keySet
      throw new IllegalArgumentException(
        s"Unreachable nodes in graph: ${unreachable.toSeq.sorted.mkString(", ")}")
    }
    result
  }

  def deserializeString(s: String): Seq[OpSpec] = deserialize(Json.parse(s))

  /** Dependency query with field paths (reference
    * `graph_transformations.get_dependencies`, `graph_transformations.py:
    * 39-74`): every dependency reachable from the roots — excluding the
    * roots themselves — with the FIELD PATH it was found under (field name,
    * then seq index / sorted map key for nested containers). `recursive =
    * false` stops at direct children (reference depth ≤ 1); `typeFilter`
    * prunes both the result AND the descent, like the reference's
    * `filter_type` isinstance gate. First-visit wins for both path and
    * dedup, in deterministic field order.
    */
  def dependencies(roots: Seq[OpSpec], recursive: Boolean = true,
                   typeFilter: OpSpec => Boolean = _ => true)
    : Seq[(OpSpec, Seq[Any])] = {
    val seen = scala.collection.mutable.HashSet.empty[String]
    val traversed = scala.collection.mutable.HashSet.empty[String]
    val results = scala.collection.mutable.ListBuffer.empty[(OpSpec, Seq[Any])]
    def collectWithPath(v: Any, path: Seq[Any]): Seq[(OpSpec, Seq[Any])] =
      v match {
        case op: OpSpec => Seq((op, path))
        case Some(x) => collectWithPath(x, path)
        case m: scala.collection.Map[_, _] =>
          m.toSeq.sortBy(_._1.toString).flatMap { case (k, x) =>
            collectWithPath(x, path :+ k.toString)
          }
        case xs: Iterable[_] => xs.toSeq.zipWithIndex.flatMap { case (x, i) =>
          collectWithPath(x, path :+ i)
        }
        case _ => Seq.empty
      }
    def visit(op: OpSpec, depth: Int, path: Seq[Any]): Unit = {
      if (!recursive && depth > 1) return
      if (!typeFilter(op)) return
      // descend each node's fields ONCE: a diamond-shaped DAG re-reached
      // through another path contributes nothing new below it (first-visit
      // wins for both dedup and paths), and without this gate traversal is
      // O(paths) — exponential on deep shared lineages
      if (traversed.add(op.uuid)) {
        op.fieldPairs.foreach { case (name, v) =>
          collectWithPath(v, path :+ name).foreach { case (child, p) =>
            visit(child, depth + 1, p)
          }
        }
      }
      if (depth > 0 && seen.add(op.uuid)) results += ((op, path))
    }
    roots.foreach(visit(_, 0, Seq.empty))
    results.toList
  }

  /** The subset of `roots` that other roots depend on, directly or
    * transitively (reference `get_dependencies` inter-root usage,
    * `tests/test_graph_transformations.py:593-690`) — useful for ordering
    * multi-output materialization. */
  def interRootDependencies(roots: Seq[OpSpec]): Seq[OpSpec] = {
    val rootIds = roots.map(_.uuid).toSet
    val depIds = dependencies(roots).map(_._1.uuid).toSet
    roots.filter(r => rootIds.contains(r.uuid) && depIds.contains(r.uuid))
  }

  /** Multi-root substitution (reference `graph_transformations.py:112-160`):
    * rewrite several output roots against the same substitution set with a
    * SHARED memo, so sub-DAGs shared between roots stay reference-identical
    * after the rewrite. */
  def substitute(roots: Seq[OpSpec],
                 substitutions: Seq[(OpSpec, OpSpec)]): Seq[OpSpec] = {
    val byUuid = substitutions.map { case (t, r) => t.uuid -> r }.toMap
    val memo = scala.collection.mutable.HashMap.empty[String, OpSpec]
    def go(op: OpSpec): OpSpec =
      memo.getOrElseUpdate(op.uuid,
        byUuid.getOrElse(op.uuid, {
          val rewritten = op.mapChildren(go)
          byUuid.getOrElse(rewritten.uuid, rewritten)
        }))
    roots.map(go)
  }
}

/** Graph decoding: the deserialization half of the spec layer. An op's
  * primary-constructor fields are its whole definition (the encoder walks
  * them, [[OpSpec.fieldPairs]]), so one decoder serves every op class: it
  * reads each field from the snake_case key the encoder wrote, checks its
  * JSON kind against the constructor parameter's type, and rebuilds the op
  * through [[OpSpec.construct]] (reference `op_spec.py:738-766` finds the
  * class by name and validates the same fields). A type name resolves to a
  * concrete op case class in `graft.spec`, or to a custom op class
  * registered through `LocalSparkRunner.registerImplementation`.
  */
object OpRegistry {

  import scala.reflect.runtime.{universe => ru}

  // (field path, JSON value, uuid resolver) => field value
  private type Read = (String, JValue, String => OpSpec) => Any
  private final case class Field(name: String, optional: Boolean, read: Read)

  private val custom = TrieMap.empty[String, Class[_ <: OpSpec]]
  private val fieldCache = TrieMap.empty[Class[_], Seq[Field]]

  /** The built-in op class named `typeName`, if `graft.spec.<typeName>` is
    * a concrete op case class. */
  private def builtIn(typeName: String): Option[Class[_ <: OpSpec]] = {
    val loaded =
      if (typeName.isEmpty || !typeName.forall(Character.isJavaIdentifierPart)) None
      else try Some(Class.forName(s"graft.spec.$typeName", false, getClass.getClassLoader))
      catch { case _: ClassNotFoundException | _: LinkageError => None }
    loaded.filter(isOpCaseClass).map(_.asSubclass(classOf[OpSpec]))
  }

  /** Register a custom op class for decoding. The store keys results by
    * simple class name, so a name a built-in op or another registered class
    * already holds is rejected. */
  private[graft] def register(cls: Class[_ <: OpSpec]): Unit = {
    val name = cls.getSimpleName
    if (builtIn(name).isDefined) throw new IllegalArgumentException(
      s"custom op ${cls.getName} has the name of the built-in op $name")
    fields(cls)
    custom.putIfAbsent(name, cls).filter(_ != cls).foreach { prior =>
      throw new IllegalArgumentException(
        s"custom op ${cls.getName} has the name of the registered op ${prior.getName}")
    }
  }

  /** Rebuild one serialized node; `resolve` maps a dependency uuid to its
    * already-decoded op. */
  def decode(node: JObj, resolve: String => OpSpec): OpSpec = {
    val typeName = node.get("type") match {
      case Some(JString(s)) => s
      case other => throw new IllegalArgumentException(s"bad type field $other")
    }
    val cls = custom.get(typeName).orElse(builtIn(typeName)).getOrElse(
      throw new IllegalArgumentException(
        s"Class with name $typeName not found in OpSpec registry"))
    val args = fields(cls).map { f =>
      node.get(f.name) match {
        case Some(v) => f.read(s"$typeName.${f.name}", v, resolve)
        case None if f.optional => None
        case None => throw new IllegalArgumentException(
          s"field '$typeName.${f.name}' is missing")
      }
    }
    OpSpec.construct(cls, args.toArray)
  }

  private def isOpCaseClass(cls: Class[_]): Boolean =
    classOf[OpSpec].isAssignableFrom(cls) &&
      !java.lang.reflect.Modifier.isAbstract(cls.getModifiers) &&
      synchronized(ru.runtimeMirror(cls.getClassLoader).classSymbol(cls).isCaseClass)

  // runtime reflection runs under the object lock; decoding afterwards
  // touches only the cached readers
  private def fields(cls: Class[_]): Seq[Field] =
    fieldCache.getOrElse(cls, synchronized(fieldCache.getOrElseUpdate(cls, {
      if (!isOpCaseClass(cls)) throw new IllegalArgumentException(
        s"${cls.getName} is not a concrete op case class")
      val mirror = ru.runtimeMirror(cls.getClassLoader)
      mirror.classSymbol(cls).primaryConstructor.asMethod.paramLists.head.map { p =>
        val t = p.typeSignature
        Field(OpSpec.camelToSnake(p.name.decodedName.toString),
          t <:< ru.typeOf[Option[Any]], reader(mirror, t))
      }
    })))

  private def bad(path: String, v: JValue, want: String): Nothing =
    throw new IllegalArgumentException(s"field '$path': expected $want, got $v")

  private def reader(mirror: ru.Mirror, t: ru.Type): Read = {
    import ru.typeOf
    val d = t.dealias
    if (d =:= typeOf[String]) {
      case (_, JString(s), _) => s
      case (n, v, _) => bad(n, v, "string")
    } else if (d =:= typeOf[Long]) {
      case (_, JLong(l), _) => l
      case (_, JDouble(x), _) if x.isWhole => x.toLong
      case (n, v, _) => bad(n, v, "integer")
    } else if (d =:= typeOf[Double]) {
      case (_, JDouble(x), _) => x
      case (_, JLong(l), _) => l.toDouble
      case (n, v, _) => bad(n, v, "number")
    } else if (d =:= typeOf[Boolean]) {
      case (_, JBool(b), _) => b
      case (n, v, _) => bad(n, v, "boolean")
    } else if (d =:= typeOf[Any]) {
      (_, v, _) => Json.toScala(v)
    } else if (d <:< typeOf[OpSpec]) {
      val kind = mirror.runtimeClass(d)
      val read: Read = {
        case (n, JString(uuid), resolve) =>
          val op = resolve(uuid)
          if (!kind.isInstance(op)) throw new IllegalArgumentException(
            s"field '$n': expected ${kind.getSimpleName}, got $uuid")
          op
        case (n, v, _) => bad(n, v, "uuid string")
      }
      read
    } else if (d <:< typeOf[Option[Any]]) {
      val inner = reader(mirror, d.typeArgs.head)
      val read: Read = {
        case (_, JNull, _) => None
        case (n, v, resolve) => Some(inner(n, v, resolve))
      }
      read
    } else if (d <:< typeOf[Map[String, Any]]) {
      val inner = reader(mirror, d.typeArgs(1))
      val read: Read = {
        case (n, JObj(fs), resolve) =>
          fs.map { case (k, v) => (k, inner(s"$n.$k", v, resolve)) }.toMap
        case (n, v, _) => bad(n, v, "object")
      }
      read
    } else if (d <:< typeOf[Seq[Any]]) {
      val inner = reader(mirror, d.typeArgs.head)
      val read: Read = {
        case (n, JArr(items), resolve) => items.map(inner(n, _, resolve))
        case (n, v, _) => bad(n, v, "array")
      }
      read
    } else throw new IllegalArgumentException(s"op field type $t cannot be decoded")
  }
}
