package graft.template

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Bridges the mini-Jinja engine to Spark columns.
 *
 * Fast path: a template made of literal text, `{{ expr }}` outputs,
 * `{% if %}` / `{% elif %}` / `{% else %}` blocks and `{% for %}` loops over
 * a column's `.split("<sep>")` compiles to a native Column expression — no
 * UDF, no optimization barrier (SURVEY.md §4 "Jinja UDFs are optimization
 * barriers"). Expressions cover bare names, the common string methods /
 * filters (`.upper/.lower/.strip/.lstrip/.rstrip/.replace/.zfill`, `|int`,
 * `|float`, `|trim`, `|upper`, `|lower`, `|string`, `|replace`, `|round`),
 * literals and `loop.index/index0/first/last/length`; conditions cover
 * same-kind `==`/`!=`, `is none`, truthiness and `not`/`and`/`or`. The
 * compiler tracks the value kind (string / integral / floating / boolean)
 * through the chain so every native expression mirrors the interpreter bit
 * for bit, including `toStr`'s whole-double rendering ("2.0", "123456789.0"
 * — NOT Java's "1.23456789E8") and Python/Java whitespace semantics (`strip`
 * = chars ≤ 0x20, `lstrip/rstrip` = `\s`). Anything else falls back to the
 * interpreter: `{% set %}`, macros, loops over other iterables, ordering
 * (`<`, `<=`, `>`, `>=`), `in`, cross-kind comparisons, comparisons used as
 * values, and truthiness, comparisons, methods or filters on a date /
 * decimal / float / boolean column.
 *
 * General path: rows are serialized with to_json(struct(*)) (codegen'd),
 * then a String=>String UDF parses the JSON into the engine's value model and
 * renders. Numbers stay Long/Double, nested structs become maps — matching
 * the reference's row-dict context (reference earthmover/util.py:82-85).
 */
object RowTemplates {

  /** A Column that renders `source` per row. `bindValue` additionally binds
    * the Jinja variable `value` to the named column (modify_columns
    * semantics, reference operations/column.py:99-104). */
  def templateColumn(df: DataFrame, source: String, bindValue: Option[String] = None): Column = {
    val tpl = Jinja.compile(source)
    nativeColumn(tpl, df.schema, bindValue).getOrElse(interpretedColumn(df, tpl, bindValue))
  }

  /** The interpreter over each row's JSON rendering, as a String=>String UDF. */
  private[graft] def interpretedColumn(df: DataFrame, tpl: Jinja.Template,
                                       bindValue: Option[String]): Column = {
    val render = udf { json: String =>
      val base = Jinja.Json.parse(json).asInstanceOf[Map[String, Any]]
      // __row_data__: the row's self-reference, as the reference injects
      // for destination templates (util.py:82-85, destination.py:164-171).
      // The reference's dict is cyclic (row_data['__row_data__'] =
      // row_data); with immutable maps one level of self-nesting is
      // enough for the documented DEFAULT_TEMPLATE idiom
      // `__row_data__.pop('__row_data__').items()` — the pop returns the
      // inner map, whose items are exactly the row's fields.
      val ctx = base + ("__row_data__" -> (base + ("__row_data__" -> base)))
      tpl.render(bindValue.fold(ctx)(v => ctx + ("value" -> base.getOrElse(v, null))))
    }
    render(to_json(struct(df.columns.map(col).toIndexedSeq: _*),
      Map("ignoreNullFields" -> "false")))
  }

  /** Value kind tracked through native compilation — mirrors the dynamic
    * types the interpreter sees after the JSON round-trip (string columns →
    * String, integral → Long, floating → Double; `loop.first/last` →
    * Boolean). */
  private sealed trait Kind
  private case object KStr extends Kind
  private case object KLong extends Kind
  private case object KDouble extends Kind
  private case object KBool extends Kind
  // KOther: bare `{{ col }}` output and `is none` tests only (legacy
  // cast-to-string rendering, e.g. dates/decimals/booleans/floats) —
  // methods/filters/tests fall back to the interpreter because their
  // dynamic types diverge from the JSON model
  private case object KOther extends Kind

  private def kindOf(dt: DataType): Kind = dt match {
    case StringType => KStr
    case ByteType | ShortType | IntegerType | LongType => KLong
    // NOT FloatType: cast(float→string) renders "0.1" but the JSON round
    // trip gives the widened double 0.10000000149…, so floats keep the
    // legacy bare-output rendering only
    case DoubleType => KDouble
    case _ => KOther
  }

  /** What a name means at one point of a template: a value, the `loop`
    * object of the enclosing `for` (element index and array size), or a
    * name the interpreter may have rebound. A `for` variable — `loop`
    * included — stays set after its loop ends and is reset on every pass
    * of an enclosing loop, so outside its own loop such a name needs the
    * interpreter. */
  private sealed trait Binding
  private final case class Value(c: Column, k: Kind) extends Binding
  private final case class Loop(i: Column, n: Column) extends Binding
  private case object Rebound extends Binding

  // Java String.trim strips chars ≤ U+0020 from both ends; Jinja's
  // lstrip/rstrip in the interpreter use regex \s. Mirror each exactly.
  private def javaTrim(c: Column): Column =
    regexp_replace(regexp_replace(c, "^[\\x00-\\x20]+", ""), "[\\x00-\\x20]+$", "")

  /** Scala's `Double#toLong` as a native expression: NaN → 0, saturates at
    * Long.{Min,Max}Value, truncates toward zero otherwise, null-safe. An
    * ANSI-mode plain cast would throw on overflow instead. */
  private def doubleToLongExpr(d: Column): Column =
    when(d.isNull, lit(null).cast(LongType))
      .when(isnan(d), lit(0L))
      .when(d >= lit(Long.MaxValue.toDouble), lit(Long.MaxValue))
      .when(d <= lit(Long.MinValue.toDouble), lit(Long.MinValue))
      .otherwise(d.cast(LongType))

  /** Interpreter `toStr` as a native expression: Long renders as digits,
    * whole doubles < 1e15 as "<long>.0", everything else via Java
    * Double.toString (which Spark's double→string cast matches). */
  private def toStrExpr(c: Column, kind: Kind): Column = kind match {
    case KStr => c
    case KLong => c.cast(StringType)
    case KOther => c.cast(StringType) // legacy bare-output rendering
    case KBool => when(c, lit("True")).otherwise(lit("False"))
    case KDouble =>
      val d = c.cast(DoubleType)
      when(d.isNotNull && d === floor(d) && abs(d) < lit(1e15),
        concat(d.cast(LongType).cast(StringType), lit(".0")))
        .otherwise(d.cast(StringType))
  }

  /** Compile whole templates to a native Column, or None when any node
    * needs the interpreter. Only produces expressions whose results are
    * bit-identical to `Jinja.Template.render` (CompiledTemplateSpec pins
    * the parity on an adversarial value matrix). */
  private[graft] def nativeColumn(tpl: Jinja.Template, schema: StructType,
                                  bindValue: Option[String]): Option[Column] =
    new Compiler(schema, bindValue).nodes(tpl.nodes, reboundIn(tpl.nodes).map(_ -> Rebound).toMap)

  /** Names a `for` anywhere in `ns` binds (its variables and `loop`). */
  private def reboundIn(ns: List[Jinja.Node]): Set[String] = ns.flatMap {
    case Jinja.For(vars, _, body) => vars.toSet + "loop" ++ reboundIn(body)
    case Jinja.If(branches, orElse) => branches.flatMap(b => reboundIn(b._2)) ++ reboundIn(orElse)
    case _ => Nil
  }.toSet

  private final class Compiler(schema: StructType, bindValue: Option[String]) {
    type Scope = Map[String, Binding]

    private def lookup(name: String, scope: Scope): Option[Binding] =
      scope.get(name).orElse {
        val column = if (name == "value" && bindValue.isDefined) bindValue.get else name
        schema.fields.find(_.name == column).map(f => Value(col(column), kindOf(f.dataType)))
      }

    /** Concatenation of the nodes' renderings; never null. */
    def nodes(ns: List[Jinja.Node], scope: Scope): Option[Column] = {
      val parts = ns.map(node(_, scope))
      if (parts.forall(_.isDefined)) Some(parts.flatten match {
        case Nil => lit("")
        case one :: Nil => one
        case many => concat(many: _*)
      }) else None
    }

    private def node(n: Jinja.Node, scope: Scope): Option[Column] = n match {
      case Jinja.Text(s) => Some(lit(s))
      case Jinja.Output(e) =>
        // null renders as "" (interpreter toStr(null)), applied at output so
        // chain-internal null semantics stay the interpreter's
        expr(e, scope).map { case (c, k) => coalesce(toStrExpr(c, k), lit("")) }
      case Jinja.If(branches, orElse) =>
        val arms = branches.map { case (c, body) =>
          for (cc <- cond(c, scope); bc <- nodes(body, scope)) yield (cc, bc) }
        val otherwise = nodes(orElse, scope)
        if (arms.forall(_.isDefined) && otherwise.isDefined) {
          val (c0, b0) = arms.head.get
          Some(arms.tail.flatten.foldLeft(when(c0, b0)) { case (w, (c, b)) => w.when(c, b) }
            .otherwise(otherwise.get))
        } else None
      case Jinja.For(List(v), iter, body) => forLoop(v, iter, body, scope)
      case _ => None // {% set %}, macros, two-variable loops
    }

    /** `{% for v in s.split("<sep>") %}` over a string column:
      * `array_join(transform(split(s, sep, -1), (v, i) => body), "")`. A null
      * string iterates nothing (the interpreter's `null => Nil`). */
    private def forLoop(v: String, iter: Jinja.Expr, body: List[Jinja.Node],
                        scope: Scope): Option[Column] = iter match {
      case Jinja.Method(t, "split", List(Jinja.Lit(sep: String))) =>
        expr(t, scope).collect { case (c, KStr) => split(c, java.util.regex.Pattern.quote(sep), -1) }
          .flatMap { arr =>
            // transform builds its lambda eagerly, so the body is compiled
            // once, against the lambda's element and index variables
            var compiled: Option[Column] = None
            val rendered = transform(arr, { (x, i) =>
              compiled = nodes(body, scope + (v -> Value(x, KStr)) + ("loop" -> Loop(i, size(arr))) ++
                reboundIn(body).map(_ -> Rebound))
              compiled.getOrElse(lit(""))
            })
            compiled.map(_ => coalesce(array_join(rendered, ""), lit("")))
          }
      case _ => None
    }

    /** Compile an expression to a native (Column, Kind), or None when it
      * needs the interpreter. */
    private def expr(e: Jinja.Expr, scope: Scope): Option[(Column, Kind)] = e match {
      case Jinja.Lit(s: String) => Some((lit(s), KStr))
      case Jinja.Lit(l: Long) => Some((lit(l), KLong))
      case Jinja.Lit(d: Double) => Some((lit(d), KDouble))
      case Jinja.Lit(b: Boolean) => Some((lit(b), KBool))
      // negative literals parse as a unary minus
      case Jinja.UnOp("-", Jinja.Lit(l: Long)) => expr(Jinja.Lit(-l), scope)
      case Jinja.UnOp("-", Jinja.Lit(d: Double)) => expr(Jinja.Lit(-d), scope)
      case Jinja.Ident(name) => lookup(name, scope).collect { case Value(c, k) => (c, k) }
      case Jinja.Attr(Jinja.Ident(name), field) => lookup(name, scope).collect {
        case Loop(i, n) => field match {
          case "index" => Some(((i + 1).cast(LongType), KLong))
          case "index0" => Some((i.cast(LongType), KLong))
          case "first" => Some((i === 0, KBool))
          case "last" => Some((i === n - 1, KBool))
          case "length" => Some((n.cast(LongType), KLong))
          case _ => None
        }
      }.flatten

      case Jinja.Method(t, name, args) => expr(t, scope).flatMap {
        case (c, KStr) => (name, args) match {
          case ("upper", Nil) => Some((upper(c), KStr))
          case ("lower", Nil) => Some((lower(c), KStr))
          case ("strip", Nil) => Some((javaTrim(c), KStr))
          case ("lstrip", Nil) => Some((regexp_replace(c, "^\\s+", ""), KStr))
          case ("rstrip", Nil) => Some((regexp_replace(c, "\\s+$", ""), KStr))
          case ("replace", List(Jinja.Lit(a: String), Jinja.Lit(b: String))) =>
            Some((replace(c, lit(a), lit(b)), KStr))
          case ("zfill", List(Jinja.Lit(n: Long))) =>
            // Python zfill never truncates (unlike lpad): prepend the deficit
            Some((concat(repeat(lit("0"),
              greatest(lit(n.toInt) - length(c), lit(0))), c), KStr))
          case _ => None
        }
        case _ => None // interpreter raises on non-string method targets
      }

      case Jinja.Filter(t, name, args) => expr(t, scope).flatMap {
        case (_, KOther | KBool) => None // dynamic-type divergence: interpreter only
        case (c, k) =>
        // literal-arg guards are exact-shape: a string-literal default
        // (`|int('42')`) falls back to the interpreter rather than silently
        // using the wrong default
        def longArg: Option[Long] = args match {
          case Nil => Some(0L)
          case List(Jinja.Lit(l: Long)) => Some(l)
          case _ => None
        }
        (name, args) match {
          case ("int", _) if longArg.isDefined =>
            val d = longArg.get
            k match {
              case KLong => Some((coalesce(c, lit(d)), KLong))
              case KDouble => Some((coalesce(doubleToLongExpr(c), lit(d)), KLong))
              case _ =>
                // interpreter: trim → toLong, else toDouble.toLong, else default
                val t0 = javaTrim(c)
                Some((coalesce(t0.try_cast(LongType),
                  doubleToLongExpr(t0.try_cast(DoubleType)), lit(d)), KLong))
            }
          case ("float", dflt) if dflt.isEmpty ||
              (dflt.sizeIs == 1 && dflt.head.isInstanceOf[Jinja.Lit] &&
                dflt.head.asInstanceOf[Jinja.Lit].v.isInstanceOf[Number]) =>
            val d = dflt.headOption.collect {
              case Jinja.Lit(x: Double) => x
              case Jinja.Lit(l: Long) => l.toDouble
            }.getOrElse(0.0)
            k match {
              case KDouble | KLong => Some((coalesce(c.cast(DoubleType), lit(d)), KDouble))
              case _ => Some((coalesce(javaTrim(c).try_cast(DoubleType), lit(d)), KDouble))
            }
          case ("round", _) if k != KStr && longArg.isDefined =>
            // numeric targets only: the interpreter's asDouble THROWS on a
            // bad string, which a null-producing cast can't mirror.
            // coalesce first: interpreter asDouble(null) = 0.0; HALF_EVEN
            // via bround, like the interpreter's BigDecimal setScale
            Some((bround(coalesce(c.cast(DoubleType), lit(0.0)), longArg.get.toInt), KDouble))
          case ("trim", Nil) => Some((javaTrim(toStrExpr(c, k)), KStr))
          case ("upper", Nil) => Some((upper(toStrExpr(c, k)), KStr))
          case ("lower", Nil) => Some((lower(toStrExpr(c, k)), KStr))
          case ("string", Nil) => Some((toStrExpr(c, k), KStr))
          case ("replace", List(Jinja.Lit(a: String), Jinja.Lit(b: String))) =>
            Some((replace(toStrExpr(c, k), lit(a), lit(b)), KStr))
          case _ => None
        }
      }
      case _ => None
    }

    /** `truthy(eval(e))` as a never-null boolean Column. `and`/`or` return
      * one of their operands, so their truthiness is that of the operands. */
    private def cond(e: Jinja.Expr, scope: Scope): Option[Column] = e match {
      case Jinja.BinOp("and", l, r) => for (a <- cond(l, scope); b <- cond(r, scope)) yield a && b
      case Jinja.BinOp("or", l, r) => for (a <- cond(l, scope); b <- cond(r, scope)) yield a || b
      case Jinja.UnOp("not", x) => cond(x, scope).map(!_)
      case Jinja.BinOp("==", l, r) => equal(l, r, scope)
      case Jinja.BinOp("!=", l, r) => equal(l, r, scope).map(!_)
      case _ => expr(e, scope).flatMap { case (c, k) => truthy(c, k) }
    }

    /** The interpreter's `jEq` where it needs no cross-kind rule: `is none`
      * on any column, and same-kind pairs (null equals only null). Any other
      * pair needs the interpreter. `<=>` rather than `===`: operands may both
      * be literals, and Spark warns on a trivially true `===`. */
    private def equal(l: Jinja.Expr, r: Jinja.Expr, scope: Scope): Option[Column] = (l, r) match {
      case (Jinja.Lit(null), Jinja.Lit(null)) => None
      case (x, Jinja.Lit(null)) => expr(x, scope).map(_._1.isNull)
      case (Jinja.Lit(null), x) => expr(x, scope).map(_._1.isNull)
      case _ =>
        for ((a, ka) <- expr(l, scope); (b, kb) <- expr(r, scope) if ka == kb && ka != KOther)
          yield a <=> b
    }

    private def truthy(c: Column, k: Kind): Option[Column] = {
      def isNot(v: Any): Column = c.isNotNull && !(c <=> lit(v))
      k match {
        case KStr => Some(isNot(""))
        case KLong => Some(isNot(0L))
        case KDouble => Some(isNot(0.0))
        case KBool => Some(c <=> lit(true))
        case KOther => None
      }
    }
  }
}
