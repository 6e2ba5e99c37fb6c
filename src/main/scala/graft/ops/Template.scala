package graft.ops

import scala.collection.mutable

/** Minimal Jinja-compatible template engine (pure Scala, serializable) for
  * `JinjaTemplatizeOp` (reference `dataset_ops.py:187-219`,
  * `local_arrow_runner.py:869-931`). The reference uses jinja2 with custom
  * filters `drop_nulls` and `repr`; the container has no JVM Jinja
  * dependency, so this implements the subset the reference's tests exercise:
  *
  *   - `{{ expr }}` interpolation, where expr is a variable path
  *     (`a.b`, `a["k"]`, `a[0]`) with optional `| filter` chains
  *   - filters: upper, lower, trim, length, repr (Python repr), drop_nulls,
  *     default(x), join(sep), first, last
  *   - `{% if expr %} / {% elif %} / {% else %} / {% endif %}` with Python
  *     truthiness; comparisons `== != < <= > >=`; `and/or/not`
  *   - `{% for x in expr %} ... {% endfor %}`
  *
  * Values are JVM shapes produced by Spark rows: String, Long/Int, Double,
  * Boolean, null, Seq[Any], Map[String, Any].
  *
  * Used per-row inside a Scala UDF; the compiled AST is built once per
  * executor (template is a closure constant), so the hot loop is just an AST
  * walk — codegen-adjacent cost, no reparse per row. Simple `{{var}}`-only
  * templates should instead be lowered to `concat`/`format_string` by the
  * caller (see q_templatize in `catalog.RelationalQueries`) to stay fully
  * in Tungsten.
  */
object Template {

  sealed trait Node
  case class Text(s: String) extends Node
  case class Interp(expr: Expr) extends Node
  case class If(branches: List[(Expr, List[Node])], orElse: List[Node]) extends Node
  case class For(varName: String, expr: Expr, body: List[Node]) extends Node

  sealed trait Expr
  case class Path(root: String, steps: List[Step], filters: List[Filter]) extends Expr
  case class LitStr(s: String) extends Expr
  case class LitNum(d: Double, isInt: Boolean) extends Expr
  case class Cmp(op: String, l: Expr, r: Expr) extends Expr
  case class BoolOp(op: String, l: Expr, r: Expr) extends Expr
  case class NotOp(e: Expr) extends Expr

  sealed trait Step
  case class Attr(name: String) extends Step
  case class Index(i: Int) extends Step
  case class Key(k: String) extends Step
  /** Python-style string method call, e.g. `items.split(',')`,
    * `item.strip()` — the reference's own templatize tests use these
    * (`tests/test_local_arrow_runner.py:900`). */
  case class Method(name: String, args: List[Expr]) extends Step

  case class Filter(name: String, args: List[Expr])

  /** Compile a template string to an AST. Throws IllegalArgumentException on
    * syntax errors (reference: jinja2 TemplateSyntaxError).
    */
  def compile(template: String): List[Node] = {
    val toks = lex(template)
    val (nodes, rest) = parseNodes(toks, Nil)
    if (rest.nonEmpty) throw new IllegalArgumentException(
      s"unexpected ${rest.head} at top level")
    nodes
  }

  def render(nodes: List[Node], ctx: Map[String, Any]): String = {
    val sb = new StringBuilder
    renderInto(nodes, ctx, sb)
    sb.toString
  }

  def render(template: String, ctx: Map[String, Any]): String =
    render(compile(template), ctx)

  // ---------- lexer ----------
  private sealed trait Tok
  private case class TText(s: String) extends Tok
  private case class TVar(s: String) extends Tok    // {{ ... }}
  private case class TStmt(s: String) extends Tok   // {% ... %}

  private def lex(t: String): List[Tok] = {
    val out = mutable.ListBuffer[Tok]()
    var i = 0
    val n = t.length
    val text = new StringBuilder
    def flush(): Unit = { if (text.nonEmpty) { out += TText(text.toString); text.clear() } }
    while (i < n) {
      if (i + 1 < n && t(i) == '{' && t(i + 1) == '{') {
        val end = t.indexOf("}}", i + 2)
        if (end < 0) throw new IllegalArgumentException("unclosed {{")
        flush(); out += TVar(t.substring(i + 2, end).trim); i = end + 2
      } else if (i + 1 < n && t(i) == '{' && t(i + 1) == '%') {
        val end = t.indexOf("%}", i + 2)
        if (end < 0) throw new IllegalArgumentException("unclosed {%")
        flush(); out += TStmt(t.substring(i + 2, end).trim); i = end + 2
      } else { text.append(t(i)); i += 1 }
    }
    flush()
    out.toList
  }

  // ---------- parser ----------
  private def parseNodes(toks: List[Tok], stop: List[String]): (List[Node], List[Tok]) = {
    val out = mutable.ListBuffer[Node]()
    var rest = toks
    while (rest.nonEmpty) {
      rest.head match {
        case TText(s) => out += Text(s); rest = rest.tail
        case TVar(s) => out += Interp(parseExpr(s)); rest = rest.tail
        case TStmt(s) =>
          val kw = s.split("\\s+", 2)(0)
          if (stop.contains(kw)) return (out.toList, rest)
          kw match {
            case "if" =>
              val (node, r) = parseIf(s.stripPrefix("if").trim, rest.tail)
              out += node; rest = r
            case "for" =>
              val m = "^(\\w+)\\s+in\\s+(.+)$".r.findFirstMatchIn(s.stripPrefix("for").trim)
                .getOrElse(throw new IllegalArgumentException(s"bad for: $s"))
              val (body, r) = parseNodes(rest.tail, List("endfor"))
              r match {
                case TStmt(e) :: rr if e.trim == "endfor" =>
                  out += For(m.group(1), parseExpr(m.group(2)), body); rest = rr
                case _ => throw new IllegalArgumentException("missing endfor")
              }
            case other => throw new IllegalArgumentException(s"unknown tag $other")
          }
      }
    }
    (out.toList, Nil)
  }

  private def parseIf(cond: String, toks: List[Tok]): (Node, List[Tok]) = {
    val branches = mutable.ListBuffer[(Expr, List[Node])]()
    var orElse: List[Node] = Nil
    var currentCond = parseExpr(cond)
    var rest = toks
    var done = false
    while (!done) {
      val (body, r) = parseNodes(rest, List("elif", "else", "endif"))
      r match {
        case TStmt(s) :: rr =>
          val kw = s.split("\\s+", 2)(0)
          kw match {
            case "elif" =>
              branches += ((currentCond, body))
              currentCond = parseExpr(s.stripPrefix("elif").trim)
              rest = rr
            case "else" =>
              branches += ((currentCond, body))
              val (eb, r2) = parseNodes(rr, List("endif"))
              r2 match {
                case TStmt(e) :: rr2 if e.trim == "endif" =>
                  orElse = eb; rest = rr2; done = true
                case _ => throw new IllegalArgumentException("missing endif")
              }
            case "endif" =>
              branches += ((currentCond, body)); rest = rr; done = true
            case other => throw new IllegalArgumentException(s"unexpected $other in if")
          }
        case _ => throw new IllegalArgumentException("missing endif")
      }
    }
    (If(branches.toList, orElse), rest)
  }

  /** expr := orExpr; handles `a and b or not c`, comparisons, paths w/ filters */
  private[ops] def parseExpr(s0: String): Expr = {
    val s = s0.trim
    // lowest precedence: or
    splitTop(s, " or ") match {
      case Some((l, r)) => return BoolOp("or", parseExpr(l), parseExpr(r))
      case None =>
    }
    splitTop(s, " and ") match {
      case Some((l, r)) => return BoolOp("and", parseExpr(l), parseExpr(r))
      case None =>
    }
    if (s.startsWith("not ")) return NotOp(parseExpr(s.substring(4)))
    for (op <- List("==", "!=", "<=", ">=", "<", ">")) {
      splitTop(s, s" $op ") match {
        case Some((l, r)) => return Cmp(op, parseExpr(l), parseExpr(r))
        case None =>
          // also without spaces
          splitTop(s, op) match {
            case Some((l, r)) if !op.startsWith("<") || !l.endsWith("<") =>
              return Cmp(op, parseExpr(l), parseExpr(r))
            case _ =>
          }
      }
    }
    parsePrimary(s)
  }

  /** split on `sep` at top level (outside quotes/brackets/parens) */
  private def splitTop(s: String, sep: String): Option[(String, String)] = {
    var depth = 0; var inStr = false; var q = ' '
    var i = 0
    while (i <= s.length - sep.length) {
      val c = s(i)
      if (inStr) { if (c == q) inStr = false }
      else c match {
        case '"' | '\'' => inStr = true; q = c
        case '[' | '(' => depth += 1
        case ']' | ')' => depth -= 1
        case _ =>
          if (depth == 0 && s.regionMatches(i, sep, 0, sep.length))
            return Some((s.substring(0, i), s.substring(i + sep.length)))
      }
      i += 1
    }
    None
  }

  private def parsePrimary(s0: String): Expr = {
    val s = s0.trim
    if (s.isEmpty) throw new IllegalArgumentException("empty expression")
    if ((s.startsWith("\"") && s.endsWith("\"") && s.length >= 2) ||
        (s.startsWith("'") && s.endsWith("'") && s.length >= 2))
      return LitStr(s.substring(1, s.length - 1))
    if (s.matches("-?\\d+")) return LitNum(s.toDouble, isInt = true)
    if (s.matches("-?\\d+\\.\\d+")) return LitNum(s.toDouble, isInt = false)
    if (s == "true" || s == "True") return LitNum(1, isInt = true)
    if (s == "false" || s == "False") return LitNum(0, isInt = true)
    // path with filters: a.b["k"][0] | f1 | f2(arg)
    val parts = splitAllTop(s, '|')
    val pathStr = parts.head.trim
    val filters = parts.tail.map(parseFilter)
    val (root, steps) = parsePath(pathStr)
    Path(root, steps, filters)
  }

  private def splitAllTop(s: String, sep: Char): List[String] = {
    val out = mutable.ListBuffer[String]()
    var depth = 0; var inStr = false; var q = ' '
    var start = 0
    for (i <- s.indices) {
      val c = s(i)
      if (inStr) { if (c == q) inStr = false }
      else c match {
        case '"' | '\'' => inStr = true; q = c
        case '[' | '(' => depth += 1
        case ']' | ')' => depth -= 1
        case `sep` if depth == 0 => out += s.substring(start, i); start = i + 1
        case _ =>
      }
    }
    out += s.substring(start)
    out.toList
  }

  private def parseFilter(s0: String): Filter = {
    val s = s0.trim
    val p = s.indexOf('(')
    if (p < 0) Filter(s, Nil)
    else {
      if (!s.endsWith(")")) throw new IllegalArgumentException(s"bad filter $s")
      val name = s.substring(0, p)
      val argsStr = s.substring(p + 1, s.length - 1).trim
      val args = if (argsStr.isEmpty) Nil
                 else splitAllTop(argsStr, ',').map(parseExpr)
      Filter(name, args)
    }
  }

  private def parsePath(s: String): (String, List[Step]) = {
    val rootM = "^(\\w+)".r.findFirstIn(s)
      .getOrElse(throw new IllegalArgumentException(s"bad path: $s"))
    var rest = s.substring(rootM.length)
    val steps = mutable.ListBuffer[Step]()
    while (rest.nonEmpty) {
      if (rest.startsWith(".")) {
        val m = "^\\.(\\w+)".r.findFirstMatchIn(rest)
          .getOrElse(throw new IllegalArgumentException(s"bad path at $rest"))
        val afterName = rest.substring(m.matched.length)
        if (afterName.startsWith("(")) {
          // method call: find the matching ')' (string-literal aware)
          var depth = 0; var inStr = false; var q = ' '; var end = -1
          var i = 0
          while (i < afterName.length && end < 0) {
            val c = afterName(i)
            if (inStr) { if (c == q) inStr = false }
            else c match {
              case '"' | '\'' => inStr = true; q = c
              case '(' => depth += 1
              case ')' => depth -= 1; if (depth == 0) end = i
              case _ =>
            }
            i += 1
          }
          if (end < 0) throw new IllegalArgumentException(s"unclosed ( in $s")
          val argsStr = afterName.substring(1, end).trim
          val args = if (argsStr.isEmpty) Nil
                     else splitAllTop(argsStr, ',').map(parseExpr)
          steps += Method(m.group(1), args)
          rest = afterName.substring(end + 1)
        } else {
          steps += Attr(m.group(1)); rest = afterName
        }
      } else if (rest.startsWith("[")) {
        val end = rest.indexOf(']')
        if (end < 0) throw new IllegalArgumentException(s"unclosed [ in $s")
        val inner = rest.substring(1, end).trim
        if (inner.matches("-?\\d+")) steps += Index(inner.toInt)
        else if ((inner.startsWith("\"") && inner.endsWith("\"")) ||
                 (inner.startsWith("'") && inner.endsWith("'")))
          steps += Key(inner.substring(1, inner.length - 1))
        else throw new IllegalArgumentException(s"bad subscript $inner")
        rest = rest.substring(end + 1)
      } else throw new IllegalArgumentException(s"bad path at: $rest")
    }
    (rootM, steps.toList)
  }

  // ---------- eval ----------
  private def renderInto(nodes: List[Node], ctx: Map[String, Any], sb: StringBuilder): Unit =
    nodes.foreach {
      case Text(s) => sb.append(s)
      case Interp(e) => sb.append(toStr(eval(e, ctx)))
      case If(branches, orElse) =>
        branches.find { case (c, _) => truthy(eval(c, ctx)) } match {
          case Some((_, body)) => renderInto(body, ctx, sb)
          case None => renderInto(orElse, ctx, sb)
        }
      case For(v, e, body) =>
        // jinja2's `loop` context variable (index/index0/first/last/length);
        // inner loops shadow outer, like jinja
        def iterate(items: Seq[Any]): Unit = {
          val n = items.length
          items.iterator.zipWithIndex.foreach { case (item, i) =>
            val loopCtx = Map(
              "index" -> (i + 1).toLong, "index0" -> i.toLong,
              "first" -> (i == 0), "last" -> (i == n - 1),
              "length" -> n.toLong)
            renderInto(body, ctx + (v -> item) + ("loop" -> loopCtx), sb)
          }
        }
        eval(e, ctx) match {
          case seq: Seq[_] => iterate(seq)
          case m: Map[_, _] => iterate(m.keys.toSeq)
          case s: String => iterate(s.map(_.toString))
          case null | Undefined => ()
          case other => throw new IllegalArgumentException(s"cannot iterate $other")
        }
    }

  private[ops] def eval(e: Expr, ctx: Map[String, Any]): Any = e match {
    case LitStr(s) => s
    case LitNum(d, isInt) => if (isInt) d.toLong else d
    case NotOp(x) => !truthy(eval(x, ctx))
    case BoolOp("and", l, r) => if (!truthy(eval(l, ctx))) false else truthy(eval(r, ctx))
    case BoolOp("or", l, r) => if (truthy(eval(l, ctx))) true else truthy(eval(r, ctx))
    case BoolOp(op, _, _) => throw new IllegalArgumentException(op)
    case Cmp(op, l, r) =>
      val (lv, rv) = (eval(l, ctx), eval(r, ctx))
      compareVals(op, lv, rv)
    case Path(root, steps, filters) =>
      // jinja2 distinguishes a MISSING variable (Undefined: renders "",
      // falsy) from a present None (renders "None") — mirror that
      var v: Any = ctx.getOrElse(root, Undefined)
      for (st <- steps) v = step(v, st, ctx)
      // Undefined stays distinct through the filter chain: jinja2's
      // `default` fires ONLY for undefined variables, never for a present
      // None (which renders as 'None'). Other filters see Undefined the way
      // jinja2's str-coercing filters do — as str(Undefined) == "".
      for (f <- filters)
        v = applyFilter(f,
          if (f.name == "default" || v != Undefined) v else "", ctx)
      v
  }

  /** jinja2's Undefined sentinel: missing variables, not null values. */
  private[ops] case object Undefined

  private def step(v: Any, s: Step, ctx: Map[String, Any]): Any = (v, s) match {
    case (Undefined, _) => Undefined
    case (null, _) => null
    case (recv, Method(name, argExprs)) =>
      val args = argExprs.map(eval(_, ctx))
      (recv, name, args) match {
        // python str methods the reference's templates rely on
        case (s0: String, "split", Nil) => s0.trim.split("\\s+").toSeq.filter(_.nonEmpty)
        case (s0: String, "split", List(sep: String)) =>
          // python semantics: explicit separator keeps empty fields
          s0.split(java.util.regex.Pattern.quote(sep), -1).toSeq
        case (s0: String, "strip", Nil) => s0.trim
        case (s0: String, "lstrip", Nil) => s0.dropWhile(_.isWhitespace)
        case (s0: String, "rstrip", Nil) => s0.reverse.dropWhile(_.isWhitespace).reverse
        case (s0: String, "upper", Nil) => s0.toUpperCase
        case (s0: String, "lower", Nil) => s0.toLowerCase
        case (s0: String, "title", Nil) =>
          s0.split("(?<=\\s)|(?=\\s)").map(w =>
            if (w.nonEmpty && w.head.isLetter) w.head.toUpper + w.tail.toLowerCase else w).mkString
        case (s0: String, "replace", List(a: String, b: String)) => s0.replace(a, b)
        case (s0: String, "startswith", List(p: String)) => s0.startsWith(p)
        case (s0: String, "endswith", List(p: String)) => s0.endsWith(p)
        case (s0: String, "join", List(xs: Seq[_])) => xs.map(toStr).mkString(s0)
        case (xs: Seq[_], "count", Nil) => xs.length.toLong
        case _ => throw new IllegalArgumentException(
          s"unsupported method .$name(${args.mkString(", ")}) on ${recv.getClass.getSimpleName}")
      }
    case (m: Map[_, _], Attr(a)) => m.asInstanceOf[Map[String, Any]].getOrElse(a, null)
    case (m: Map[_, _], Key(k)) => m.asInstanceOf[Map[String, Any]].getOrElse(k, null)
    case (seq: Seq[_], Index(i)) =>
      val idx = if (i < 0) seq.length + i else i
      if (idx >= 0 && idx < seq.length) seq(idx) else null
    case (str: String, Index(i)) =>
      val idx = if (i < 0) str.length + i else i
      if (idx >= 0 && idx < str.length) str(idx).toString else null
    case (r: org.apache.spark.sql.Row, Attr(a)) =>
      try r.getAs[Any](a) catch { case _: Exception => null }
    case (r: org.apache.spark.sql.Row, Key(k)) =>
      try r.getAs[Any](k) catch { case _: Exception => null }
    case (other, st) => throw new IllegalArgumentException(s"cannot apply $st to $other")
  }

  private def applyFilter(f: Filter, v: Any, ctx: Map[String, Any]): Any = f.name match {
    case "upper" => toStr(v).toUpperCase
    case "lower" => toStr(v).toLowerCase
    case "trim" => toStr(v).trim
    case "length" | "count" => v match {
      case s: String => s.length.toLong
      case s: Seq[_] => s.length.toLong
      case m: Map[_, _] => m.size.toLong
      case _ => throw new IllegalArgumentException(s"no length for $v")
    }
    case "int" => v match {
      // jinja2 int filter: lossy parse, 0 on failure
      case l: Long => l
      case i: Int => i.toLong
      case d: Double => d.toLong
      case f: Float => f.toLong
      case b: Boolean => if (b) 1L else 0L
      case s: String => try s.trim.toDouble.toLong catch { case _: Exception => 0L }
      case _ => 0L
    }
    case "float" => v match {
      case d: Double => d
      case f: Float => f.toDouble
      case l: Long => l.toDouble
      case i: Int => i.toDouble
      case s: String => try s.trim.toDouble catch { case _: Exception => 0.0 }
      case _ => 0.0
    }
    case "title" =>
      toStr(v).split("(?<=\\s)|(?=\\s)").map(w =>
        if (w.nonEmpty && w.head.isLetter) w.head.toUpper + w.tail.toLowerCase else w)
        .mkString
    case "first" => v match { case s: Seq[_] => s.headOption.orNull; case s: String => s.headOption.map(_.toString).orNull; case _ => null }
    case "last" => v match { case s: Seq[_] => s.lastOption.orNull; case s: String => s.lastOption.map(_.toString).orNull; case _ => null }
    case "join" =>
      val sep = f.args.headOption.map(a => toStr(eval(a, ctx))).getOrElse("")
      v match { case s: Seq[_] => s.map(toStr).mkString(sep); case _ => toStr(v) }
    case "default" =>
      // jinja2: default fires for Undefined only — unless the optional
      // second arg (`boolean=true`) extends it to all falsy values
      val alsoFalsy = f.args.lift(1).exists(a => truthy(eval(a, ctx)))
      if (v == Undefined || (alsoFalsy && !truthy(v))) eval(f.args.head, ctx)
      else v
    case "repr" => pyRepr(v)
    case "drop_nulls" => dropNulls(v)
    case other => throw new IllegalArgumentException(s"unknown filter $other")
  }

  /** reference custom filter (`local_arrow_runner.py:876-884`): recursively
    * drop null values from lists and dicts. */
  private def dropNulls(v: Any): Any = v match {
    case s: Seq[_] => s.filter(_ != null).map(dropNulls)
    case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
      .filter(_._2 != null).map { case (k, x) => k -> dropNulls(x) }
    case other => other
  }

  /** Python `repr` semantics for the shapes we carry (reference registers
    * builtin `repr` as a filter, `local_arrow_runner.py:893`). */
  def pyRepr(v: Any): String = v match {
    case null => "None"
    case true => "True"
    case false => "False"
    case s: String =>
      val hasS = s.contains("'"); val hasD = s.contains("\"")
      val (q, body) =
        if (hasS && !hasD) ("\"", s)
        else ("'", if (hasS) s.replace("'", "\\'") else s)
      q + body.flatMap {
        case '\\' if !(hasS && !hasD) => "\\\\"
        case '\n' => "\\n"; case '\t' => "\\t"; case '\r' => "\\r"
        case c => c.toString
      } + q
    case d: Double => if (d == d.floor && !d.isInfinite && math.abs(d) < 1e16) s"${d.toLong}.0" else d.toString
    case f: Float => pyRepr(f.toDouble)
    case s: Seq[_] => s.map(pyRepr).mkString("[", ", ", "]")
    case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
      .map { case (k, x) => s"${pyRepr(k)}: ${pyRepr(x)}" }.mkString("{", ", ", "}")
    case other => other.toString
  }

  private def truthy(v: Any): Boolean = v match {
    case Undefined => false
    case null => false
    case b: Boolean => b
    case s: String => s.nonEmpty
    case l: Long => l != 0
    case i: Int => i != 0
    case d: Double => d != 0.0
    case s: Seq[_] => s.nonEmpty
    case m: Map[_, _] => m.nonEmpty
    case _ => true
  }

  private def compareVals(op: String, l: Any, r: Any): Boolean = {
    def num(x: Any): Option[Double] = x match {
      case i: Int => Some(i.toDouble); case l: Long => Some(l.toDouble)
      case d: Double => Some(d); case f: Float => Some(f.toDouble)
      case _ => None
    }
    (num(l), num(r)) match {
      case (Some(a), Some(b)) => op match {
        case "==" => a == b; case "!=" => a != b
        case "<" => a < b; case "<=" => a <= b
        case ">" => a > b; case ">=" => a >= b
      }
      case _ =>
        val (a, b) = (toStr(l), toStr(r))
        op match {
          case "==" => l == r
          case "!=" => l != r
          case "<" => a < b; case "<=" => a <= b
          case ">" => a > b; case ">=" => a >= b
        }
    }
  }

  /** jinja2 string coercion: None → "None", bools → True/False, ints plain,
    * floats with .0, lists/dicts via repr-of-elements. */
  def toStr(v: Any): String = v match {
    case Undefined => ""
    case null => "None"
    case true => "True"
    case false => "False"
    case d: Double => if (d == d.floor && !d.isInfinite && math.abs(d) < 1e16) s"${d.toLong}.0" else d.toString
    case f: Float => toStr(f.toDouble)
    case s: Seq[_] => s.map(pyRepr).mkString("[", ", ", "]")
    case m: Map[_, _] => pyRepr(m)
    case other => other.toString
  }
}
