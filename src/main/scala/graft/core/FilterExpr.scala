package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col, lit}

/** Partition-filter mini-language, modeled on the reference's typed AST
  * walker (zcollection/partitioning/expression.py:1-189): comparisons
  * (`== != < <= > >=`), `and`/`or`/`not`, `in`/`not in`,
  * `is [not] null`, integer/fractional/string literals, and
  * partition-key names. Unlike the reference, the
  * compiled form is BOTH a driver-side predicate (for partition listing)
  * and a Catalyst [[Column]] over the partition columns, so the same
  * expression prunes partitions inside Spark's planner — no directory
  * walk is ever needed on the read path.
  */
object FilterExpr {

  sealed trait Ast
  case object True extends Ast
  final case class And(l: Ast, r: Ast) extends Ast
  final case class Or(l: Ast, r: Ast) extends Ast
  final case class Not(e: Ast) extends Ast
  /** `left op right` where operands are names or literals. */
  final case class Cmp(op: String, left: Operand, right: Operand) extends Ast
  final case class In(name: String, values: Seq[Any], negated: Boolean) extends Ast
  /** `name is null` / `name is not null`. */
  final case class IsNull(name: String, negated: Boolean) extends Ast

  sealed trait Operand
  final case class Name(n: String) extends Operand
  final case class Lit(v: Any) extends Operand // Long, Double, or String

  final class ParseException(msg: String) extends IllegalArgumentException(msg)

  // --- tokenizer --------------------------------------------------

  private sealed trait Tok
  private case class TName(s: String) extends Tok
  private case class TInt(v: Long) extends Tok
  private case class TNum(v: Double) extends Tok
  private case class TStr(s: String) extends Tok
  private case class TSym(s: String) extends Tok

  private def tokenize(s: String): List[Tok] = {
    val out = scala.collection.mutable.ListBuffer.empty[Tok]
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c.isLetter || c == '_') {
        val j = s.indexWhere(ch => !(ch.isLetterOrDigit || ch == '_'), i)
        val end = if (j < 0) s.length else j
        out += TName(s.substring(i, end)); i = end
      } else if (c.isDigit || (c == '-' && i + 1 < s.length && s.charAt(i + 1).isDigit)) {
        var j = i + 1
        while (j < s.length && s.charAt(j).isDigit) j += 1
        // fractional literal: digits '.' digits (a bare trailing dot is
        // left for the symbol handler to reject, like any stray '.')
        if (j + 1 < s.length && s.charAt(j) == '.' && s.charAt(j + 1).isDigit) {
          j += 1
          while (j < s.length && s.charAt(j).isDigit) j += 1
          out += TNum(s.substring(i, j).toDouble); i = j
        } else {
          out += TInt(s.substring(i, j).toLong); i = j
        }
      } else if (c == '\'' || c == '"') {
        val end = s.indexOf(c, i + 1)
        if (end < 0) throw new ParseException(s"unterminated string at $i in: $s")
        out += TStr(s.substring(i + 1, end)); i = end + 1
      } else {
        val two = if (i + 1 < s.length) s.substring(i, i + 2) else ""
        if (Set("==", "!=", "<=", ">=").contains(two)) { out += TSym(two); i += 2 }
        else if ("<>()[],".indexOf(c) >= 0) { out += TSym(c.toString); i += 1 }
        else throw new ParseException(s"unexpected character '$c' at $i in: $s")
      }
    }
    out.toList
  }

  // --- recursive-descent parser -----------------------------------

  def parse(expr: String): Ast = {
    if (expr == null || expr.trim.isEmpty) return True
    var toks = tokenize(expr)

    def peek: Option[Tok] = toks.headOption
    def next(): Tok = { val t = toks.head; toks = toks.tail; t }
    def expect(sym: String): Unit = next() match {
      case TSym(`sym`) => ()
      case t           => throw new ParseException(s"expected '$sym', got $t")
    }

    def parseOr(): Ast = {
      var l = parseAnd()
      while (peek.contains(TName("or"))) { next(); l = Or(l, parseAnd()) }
      l
    }
    def parseAnd(): Ast = {
      var l = parseNot()
      while (peek.contains(TName("and"))) { next(); l = And(l, parseNot()) }
      l
    }
    def parseNot(): Ast = peek match {
      case Some(TName("not")) => next(); Not(parseNot())
      case _                  => parseCmp()
    }
    def parseOperandOrParen(): Either[Ast, Operand] = next() match {
      case TSym("(") =>
        // Could be a parenthesized boolean expr OR a literal tuple; a tuple
        // only appears after `in`, which parseCmp handles before coming here.
        val inner = parseOr(); expect(")"); Left(inner)
      case TName(n) => Right(Name(n))
      case TInt(v)  => Right(Lit(v))
      case TNum(v)  => Right(Lit(v))
      case TStr(v)  => Right(Lit(v))
      case t        => throw new ParseException(s"unexpected token $t")
    }
    def parseTuple(): Seq[Any] = {
      val open = next() match {
        case TSym(s @ ("(" | "[")) => s
        case t => throw new ParseException(s"expected list after 'in', got $t")
      }
      val close = if (open == "(") ")" else "]"
      val vals = scala.collection.mutable.ListBuffer.empty[Any]
      var done = false
      while (!done) {
        next() match {
          case TInt(v)        => vals += v
          case TNum(v)        => vals += v
          case TStr(v)        => vals += v
          case TSym(`close`)  => done = true
          case TSym(",")      => ()
          case t => throw new ParseException(s"unexpected token in list: $t")
        }
        if (!done && peek.contains(TSym(close))) { next(); done = true }
      }
      vals.toSeq
    }
    def parseCmp(): Ast = {
      parseOperandOrParen() match {
        case Left(ast) => ast
        case Right(first) =>
          peek match {
            case Some(TName("in")) =>
              next()
              first match {
                case Name(n) => In(n, parseTuple(), negated = false)
                case _ => throw new ParseException("'in' requires a name on the left")
              }
            case Some(TName("is")) =>
              next()
              val negated = peek.contains(TName("not"))
              if (negated) next()
              next() match {
                case TName("null") => first match {
                  case Name(n) => IsNull(n, negated)
                  case _ => throw new ParseException("'is [not] null' requires a name")
                }
                case t => throw new ParseException(s"expected 'null' after 'is', got $t")
              }
            case Some(TName("not")) =>
              next()
              next() match {
                case TName("in") =>
                  first match {
                    case Name(n) => In(n, parseTuple(), negated = true)
                    case _ => throw new ParseException("'not in' requires a name")
                  }
                case t => throw new ParseException(s"expected 'in' after 'not', got $t")
              }
            case Some(TSym(op @ ("==" | "!=" | "<" | "<=" | ">" | ">="))) =>
              // support python-style chains: a <= b < c
              var ast: Ast = null
              var left = first
              while (peek.exists { case TSym(o) => Set("==", "!=", "<", "<=", ">", ">=")(o); case _ => false }) {
                val TSym(o) = next(): @unchecked
                val right = parseOperandOrParen() match {
                  case Right(r)  => r
                  case Left(_)   => throw new ParseException("boolean expr not allowed as comparison operand")
                }
                val c = Cmp(o, left, right)
                ast = if (ast == null) c else And(ast, c)
                left = right
              }
              ast
            case _ =>
              throw new ParseException(s"dangling operand $first")
          }
      }
    }

    val result = parseOr()
    if (toks.nonEmpty) throw new ParseException(s"trailing tokens: $toks")
    result
  }

  // --- compile to Catalyst Column (partition pruning path) --------

  def toColumn(ast: Ast): Column = ast match {
    case True      => lit(true)
    case And(l, r) => toColumn(l) && toColumn(r)
    case Or(l, r)  => toColumn(l) || toColumn(r)
    case Not(e)    => !toColumn(e)
    case In(n, vs, neg) =>
      val c = col(n).isin(vs: _*)
      if (neg) !c else c
    case IsNull(n, neg) => if (neg) col(n).isNotNull else col(n).isNull
    case Cmp(op, l, r) =>
      val (lc, rc) = (operandCol(l), operandCol(r))
      op match {
        case "==" => lc === rc
        case "!=" => lc =!= rc
        case "<"  => lc < rc
        case "<=" => lc <= rc
        case ">"  => lc > rc
        case ">=" => lc >= rc
      }
  }

  private def operandCol(o: Operand): Column = o match {
    case Name(n) => col(n)
    case Lit(v)  => lit(v)
  }

  /** Driver-side evaluation against a decoded partition key (used by
    * `Collection.partitions()`, mirroring the reference's predicate over
    * partition-key dicts). */
  def eval(ast: Ast, key: Map[String, Any]): Boolean = ast match {
    case True      => true
    case And(l, r) => eval(l, key) && eval(r, key)
    case Or(l, r)  => eval(l, key) || eval(r, key)
    case Not(e)    => !eval(e, key)
    case In(n, vs, neg) =>
      val v = keyValue(key, n)
      val hit = vs.exists(x => valueEq(v, x))
      if (neg) !hit else hit
    case IsNull(n, neg) =>
      val isNull = keyValue(key, n) == null
      if (neg) !isNull else isNull
    case Cmp(op, l, r) =>
      val (lv, rv) = (operandValue(l, key), operandValue(r, key))
      val c = valueCompare(lv, rv)
      op match {
        case "=="  => c == 0
        case "!="  => c != 0
        case "<"   => c < 0
        case "<="  => c <= 0
        case ">"   => c > 0
        case ">="  => c >= 0
      }
  }

  /** Every column name the expression references. */
  def names(ast: Ast): Set[String] = ast match {
    case True           => Set.empty
    case And(l, r)      => names(l) ++ names(r)
    case Or(l, r)       => names(l) ++ names(r)
    case Not(e)         => names(e)
    case In(n, _, _)    => Set(n)
    case IsNull(n, _)   => Set(n)
    case Cmp(_, l, r)   => Seq(l, r).collect { case Name(n) => n }.toSet
  }

  /** Three-valued eval: `None` when a referenced column is absent from
    * `key` (or two values aren't comparable) — the partial-knowledge
    * path behind [[mayMatch]]. Kleene logic: AND is false if either side
    * is false, OR is true if either side is true, regardless of the
    * other side being unknown. */
  def evalOpt(ast: Ast, key: Map[String, Any]): Option[Boolean] = ast match {
    case True      => Some(true)
    case And(l, r) => (evalOpt(l, key), evalOpt(r, key)) match {
      case (Some(false), _) | (_, Some(false)) => Some(false)
      case (Some(true), Some(true))            => Some(true)
      case _                                   => None
    }
    case Or(l, r) => (evalOpt(l, key), evalOpt(r, key)) match {
      case (Some(true), _) | (_, Some(true)) => Some(true)
      case (Some(false), Some(false))        => Some(false)
      case _                                 => None
    }
    case Not(e) => evalOpt(e, key).map(!_)
    case In(n, vs, neg) => key.get(n).flatMap { v =>
      try {
        val hit = vs.exists(x => valueEq(v, x))
        Some(if (neg) !hit else v != null && hit)
      } catch { case _: ParseException => None }
    }
    case IsNull(n, neg) => key.get(n).map { v =>
      if (neg) v != null else v == null
    }
    case Cmp(op, l, r) =>
      def value(o: Operand): Option[Any] = o match {
        case Name(n) => key.get(n)
        case Lit(v)  => Some(v)
      }
      (value(l), value(r)) match {
        case (Some(a), Some(b)) =>
          try {
            val c = valueCompare(a, b)
            Some(op match {
              case "=="  => c == 0
              case "!="  => c != 0
              case "<"   => c < 0
              case "<="  => c <= 0
              case ">"   => c > 0
              case ">="  => c >= 0
            })
          } catch { case _: ParseException => None }
        case _ => None
      }
  }

  /** What [[evalPartition]] can prove about a predicate over EVERY row
    * of one partition: the key is fully known (values may be NULL — the
    * `__HIVE_DEFAULT_PARTITION__` directory), so each leaf touching a
    * key column evaluates the SAME for every row of the partition. */
  sealed trait PartEval
  /** TRUE for every row — the partition as a whole is selected. */
  case object AllRows extends PartEval
  /** FALSE for every row — no row selected, definitively. */
  case object NoRows extends PartEval
  /** UNKNOWN (SQL three-valued) for every row — a WHERE selects no row
    * either, but distinct from [[NoRows]] because `NOT UNKNOWN` is
    * still UNKNOWN while `NOT FALSE` is TRUE. */
  case object UnknownRows extends PartEval
  /** The predicate touches a non-key column — rows can disagree. */
  case object RowDependent extends PartEval

  /** REPLACE WHERE's partition decision under SQL THREE-VALUED logic.
    * Unlike [[evalOpt]] (partial knowledge: an absent column is simply
    * unknown), here the partition key is COMPLETE and a NULL key value
    * makes a comparison uniformly UNKNOWN for every row — which a WHERE
    * clause definitively does NOT select, so the partition can be KEPT
    * without a row scan. Combination is conservative where soundness
    * demands it: `UnknownRows` meeting `RowDependent` yields
    * `RowDependent` (per-row the AND/OR can only be FALSE/UNKNOWN, but
    * an ENCLOSING `NOT` could turn that mix into selected-some rows, so
    * the uniformity claim is dropped rather than audited). */
  def evalPartition(ast: Ast, key: Map[String, Any]): PartEval = ast match {
    case True => AllRows
    case And(l, r) => (evalPartition(l, key), evalPartition(r, key)) match {
      case (NoRows, _) | (_, NoRows)             => NoRows
      case (RowDependent, _) | (_, RowDependent) => RowDependent
      case (UnknownRows, _) | (_, UnknownRows)   => UnknownRows
      case _                                     => AllRows
    }
    case Or(l, r) => (evalPartition(l, key), evalPartition(r, key)) match {
      case (AllRows, _) | (_, AllRows)           => AllRows
      case (RowDependent, _) | (_, RowDependent) => RowDependent
      case (UnknownRows, _) | (_, UnknownRows)   => UnknownRows
      case _                                     => NoRows
    }
    case Not(e) => evalPartition(e, key) match {
      case AllRows => NoRows
      case NoRows  => AllRows
      case other   => other
    }
    case In(n, vs, neg) => key.get(n) match {
      case None       => RowDependent
      case Some(null) => UnknownRows // NULL [NOT] IN (...) is UNKNOWN
      case Some(v) =>
        try {
          val hit = vs.exists(x => x != null && valueEq(v, x))
          if (hit) { if (neg) NoRows else AllRows }
          else if (vs.exists(_ == null)) UnknownRows // miss decided by a NULL element
          else if (neg) AllRows else NoRows
        } catch { case _: ParseException => RowDependent }
    }
    case IsNull(n, neg) => key.get(n) match {
      case None => RowDependent
      case Some(v) =>
        val sel = if (neg) v != null else v == null
        if (sel) AllRows else NoRows
    }
    case Cmp(op, l, r) =>
      def value(o: Operand): Option[Any] = o match {
        case Name(n) => key.get(n)
        case Lit(v)  => Some(v)
      }
      (value(l), value(r)) match {
        case (None, _) | (_, None)             => RowDependent
        case (Some(null), _) | (_, Some(null)) => UnknownRows
        case (Some(a), Some(b)) =>
          try {
            val c = valueCompare(a, b)
            val sel = op match {
              case "=="  => c == 0
              case "!="  => c != 0
              case "<"   => c < 0
              case "<="  => c <= 0
              case ">"   => c > 0
              case ">="  => c >= 0
            }
            if (sel) AllRows else NoRows
          } catch { case _: ParseException => RowDependent }
      }
  }

  /** Could a row of a container described by `key` match? Containers
    * expose only some columns (partition keys), so predicates over the
    * others are unknown -> kept. Used for partition pruning when the
    * filter also touches data columns (e.g. an axis range). */
  def mayMatch(ast: Ast, key: Map[String, Any]): Boolean =
    !evalOpt(ast, key).contains(false)

  /** Could a row of a file whose `name` values span `[lo, hi]` match?
    * The zone-map file-pruning predicate: `decodeLit` maps the
    * expression's literals into the stats domain (None = not decodable
    * -> unknown), `cmp` orders that domain. `nullCount`, when recorded,
    * reasons about NULL rows too (the interval only describes non-null
    * values): `name is null` is provably false in a zero-null file, and
    * `name is not null` provably true for EVERY row of the same file
    * (so negations stay sound: a file with nulls makes both predicates
    * row-dependent -> unknown). Conservative: anything undecidable keeps
    * the file. */
  def mayMatchInterval(ast: Ast, name: String, lo: Any, hi: Any,
                       decodeLit: Any => Option[Any],
                       cmp: (Any, Any) => Int,
                       nullCount: Option[Long] = None): Boolean = {
    // Some(false) = provably NO row of such a file satisfies; None = maybe
    def definite(a: Ast): Option[Boolean] = a match {
      case True      => Some(true)
      case IsNull(n, neg) if n == name =>
        // definite() speaks for EVERY abstract row of the file at once:
        // only a zero-null file makes nullness row-INdependent. A file
        // with some nulls satisfies neither branch definitively.
        if (nullCount.contains(0L)) Some(neg) else None
      case IsNull(_, _) => None
      case And(l, r) => (definite(l), definite(r)) match {
        case (Some(false), _) | (_, Some(false)) => Some(false)
        case (Some(true), Some(true))            => Some(true)
        case _                                   => None
      }
      case Or(l, r) => (definite(l), definite(r)) match {
        case (Some(true), _) | (_, Some(true)) => Some(true)
        case (Some(false), Some(false))        => Some(false)
        case _                                 => None
      }
      case Not(e) => definite(e).map(!_)
      case In(n, vs, false) if n == name =>
        val decoded = vs.map(decodeLit)
        if (decoded.forall(_.isDefined) &&
            decoded.flatten.forall(x => cmp(x, lo) < 0 || cmp(x, hi) > 0)) Some(false)
        else None
      case In(_, _, _) => None
      case Cmp(op, Name(n), Lit(v)) if n == name => cmpInterval(op, v)
      case Cmp(op, Lit(v), Name(n)) if n == name => cmpInterval(flip(op), v)
      case Cmp(_, _, _) => None
    }
    def cmpInterval(op: String, litv: Any): Option[Boolean] = decodeLit(litv).flatMap { x =>
      op match {
        case "==" => if (cmp(x, lo) < 0 || cmp(x, hi) > 0) Some(false) else None
        case "<"  => if (cmp(lo, x) >= 0) Some(false) else None
        case "<=" => if (cmp(lo, x) > 0) Some(false) else None
        case ">"  => if (cmp(hi, x) <= 0) Some(false) else None
        case ">=" => if (cmp(hi, x) < 0) Some(false) else None
        case "!=" => if (cmp(lo, hi) == 0 && cmp(lo, x) == 0) Some(false) else None
        case _    => None
      }
    }
    def flip(op: String): String = op match {
      case "<" => ">"; case "<=" => ">="; case ">" => "<"; case ">=" => "<="; case o => o
    }
    !definite(ast).contains(false)
  }

  /** The interval `name` must lie in for the WHOLE expression to match —
    * the zone-map/partition-prune companion to [[mayMatchInterval]].
    * Conservative: AND intersects bounds, OR unions them (and only
    * contributes if BOTH branches are bounded), NOT and foreign
    * predicates contribute nothing. `(None, None)` = unbounded. */
  def impliedInterval(ast: Ast, name: String, decodeLit: Any => Option[Any],
                      cmp: (Any, Any) => Int): (Option[Any], Option[Any]) = {
    def min(a: Any, b: Any) = if (cmp(a, b) <= 0) a else b
    def max(a: Any, b: Any) = if (cmp(a, b) >= 0) a else b
    def merge(a: (Option[Any], Option[Any]), b: (Option[Any], Option[Any]),
              intersect: Boolean): (Option[Any], Option[Any]) =
      if (intersect)
        ((a._1 ++ b._1).reduceOption(max), (a._2 ++ b._2).reduceOption(min))
      else // union: unbounded on a side if EITHER branch is
        (for (x <- a._1; y <- b._1) yield min(x, y),
         for (x <- a._2; y <- b._2) yield max(x, y))
    def go(a: Ast): (Option[Any], Option[Any]) = a match {
      case And(l, r) => merge(go(l), go(r), intersect = true)
      case Or(l, r)  => merge(go(l), go(r), intersect = false)
      case In(n, vs, false) if n == name =>
        val ds = vs.map(decodeLit)
        if (ds.nonEmpty && ds.forall(_.isDefined))
          (ds.flatten.reduceOption(min), ds.flatten.reduceOption(max))
        else (None, None)
      case Cmp(op, Name(`name`), Lit(v)) => bound(op, v)
      case Cmp(op, Lit(v), Name(`name`)) => bound(flipOp(op), v)
      case _ => (None, None)
    }
    def bound(op: String, litv: Any): (Option[Any], Option[Any]) =
      decodeLit(litv).map { x =>
        op match {
          case "==" => (Some(x), Some(x))
          case ">" | ">=" => (Some(x), None) // open vs closed folds into key-level inclusiveness
          case "<" | "<=" => (None, Some(x))
          case _ => (None, None)
        }
      }.getOrElse((None, None))
    go(ast)
  }

  /** Could any row of a file whose `name` column is ALL NULL match? The
    * schema-generation prune predicate (files committed before an
    * `addVariable` hold only nulls for it). Tracks the SET of
    * three-valued outcomes the expression can take over such rows —
    * comparisons/IN on `name` are uniformly NULL, `is [not] null` is
    * uniformly true/false, foreign predicates can be anything — and
    * combines with full Kleene semantics (so `not (w == 5)` is NULL,
    * never true, and `w == 5 and day == 3` prunes even though `day` is
    * row-dependent). A row matches only on TRUE: prune iff TRUE is
    * impossible. */
  def mayMatchAllNull(ast: Ast, name: String): Boolean = {
    val T: Option[Boolean] = Some(true)
    val F: Option[Boolean] = Some(false)
    val N: Option[Boolean] = None
    val Any = Set(T, F, N)
    def and3(x: Option[Boolean], y: Option[Boolean]): Option[Boolean] =
      if (x == F || y == F) F else if (x == N || y == N) N else T
    def or3(x: Option[Boolean], y: Option[Boolean]): Option[Boolean] =
      if (x == T || y == T) T else if (x == N || y == N) N else F
    def possible(a: Ast): Set[Option[Boolean]] = a match {
      case True                            => Set(T)
      case IsNull(n, neg) if n == name     => Set(if (neg) F else T)
      case IsNull(_, _)                    => Set(T, F) // non-name nullness varies, never NULL
      case Cmp(_, Name(n), _) if n == name => Set(N)
      case Cmp(_, _, Name(n)) if n == name => Set(N)
      case Cmp(_, _, _)                    => Any
      case In(n, _, _) if n == name        => Set(N)
      case In(_, _, _)                     => Any
      case Not(e)                          => possible(e).map(_.map(!_))
      case And(l, r) =>
        for (x <- possible(l); y <- possible(r)) yield and3(x, y)
      case Or(l, r) =>
        for (x <- possible(l); y <- possible(r)) yield or3(x, y)
    }
    possible(ast).contains(T)
  }

  /** A finite value set S such that the WHOLE expression can only match
    * rows with `name` ∈ S — the bloom-filter pruning companion to
    * [[impliedInterval]]. `None` = no finite implication. AND: either
    * branch's implication suffices (prefer the smaller set — fewer bloom
    * probes); OR: BOTH branches must imply one, union. Negations and
    * foreign predicates imply nothing — conservative like the rest of
    * the prune layer. */
  def impliedValueSet(ast: Ast, name: String): Option[Seq[Any]] = ast match {
    case And(l, r) =>
      (impliedValueSet(l, name), impliedValueSet(r, name)) match {
        case (Some(a), Some(b)) => Some(if (a.size <= b.size) a else b)
        case (a, b)             => a.orElse(b)
      }
    case Or(l, r) =>
      for (a <- impliedValueSet(l, name); b <- impliedValueSet(r, name))
        yield (a ++ b).distinct
    case In(n, vs, false) if n == name           => Some(vs)
    case Cmp("==", Name(n), Lit(v)) if n == name => Some(Seq(v))
    case Cmp("==", Lit(v), Name(n)) if n == name => Some(Seq(v))
    case _                                       => None
  }

  private def flipOp(op: String): String = op match {
    case "<" => ">"; case "<=" => ">="; case ">" => "<"; case ">=" => "<="; case o => o
  }

  private def keyValue(key: Map[String, Any], n: String): Any =
    key.getOrElse(n, throw new ParseException(s"unknown partition key '$n'; have ${key.keys.mkString(",")}"))

  private def operandValue(o: Operand, key: Map[String, Any]): Any = o match {
    case Name(n) => keyValue(key, n)
    case Lit(v)  => v
  }

  private def toLongOpt(v: Any): Option[Long] = v match {
    case l: Long  => Some(l)
    case i: Int   => Some(i.toLong)
    case s: Short => Some(s.toLong)
    case b: Byte  => Some(b.toLong)
    case _        => None
  }

  private def toDoubleOpt(v: Any): Option[Double] = v match {
    case d: Double => Some(d)
    case f: Float  => Some(f.toDouble)
    case _         => toLongOpt(v).map(_.toDouble)
  }

  /** A timestamp partition key as its Hive directory names it: the wall
    * clock of Spark's `Cast(ts AS STRING)` in the session time zone,
    * fraction trimmed ('2024-01-01 10:00:00.5'). It compares by time
    * with a string literal of any fraction width — the SQL face renders
    * '2024-01-01 10:00:00.500000' — and with nothing else (a
    * [[ParseException]]: the partition is kept, never decided). */
  final case class WallClockKey(time: java.time.LocalDateTime, raw: String) {
    override def toString: String = raw
  }

  object WallClockKey {
    /** 'yyyy-MM-dd[ HH:mm[:ss[.f…]]]' → wall clock; None otherwise. */
    def parse(s: String): Option[java.time.LocalDateTime] =
      scala.util.Try(java.time.LocalDateTime.parse(s.replace(' ', 'T')))
        .orElse(scala.util.Try(java.time.LocalDate.parse(s).atStartOfDay())).toOption
  }

  private def wallClock(v: Any): java.time.LocalDateTime = v match {
    case w: WallClockKey => w.time
    case s: String => WallClockKey.parse(s).getOrElse(
      throw new ParseException(s"'$s' is not a timestamp"))
    case other => throw new ParseException(s"cannot compare $other with a timestamp key")
  }

  private def valueEq(a: Any, b: Any): Boolean = (a, b) match {
    case (_: WallClockKey, _) | (_, _: WallClockKey) => wallClock(a) == wallClock(b)
    case _ => numericEq(a, b)
  }

  private def numericEq(a: Any, b: Any): Boolean = (toLongOpt(a), toLongOpt(b)) match {
    case (Some(x), Some(y)) => x == y
    case _ => (toDoubleOpt(a), toDoubleOpt(b)) match {
      case (Some(x), Some(y)) => x == y
      case _                  => a == b
    }
  }

  private def valueCompare(a: Any, b: Any): Int = (a, b) match {
    case (_: WallClockKey, _) | (_, _: WallClockKey) => wallClock(a).compareTo(wallClock(b))
    case _ => numericCompare(a, b)
  }

  private def numericCompare(a: Any, b: Any): Int = (toLongOpt(a), toLongOpt(b)) match {
    case (Some(x), Some(y)) => java.lang.Long.compare(x, y)
    case _ => (toDoubleOpt(a), toDoubleOpt(b)) match {
      case (Some(x), Some(y)) => java.lang.Double.compare(x, y)
      case _ => (a, b) match {
        case (x: String, y: String) => x.compareTo(y)
        case _ => throw new ParseException(s"cannot compare $a with $b")
      }
    }
  }
}
