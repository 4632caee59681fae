package graft.sources

import org.apache.spark.sql.sources._

import graft.core.FilterExpr

/** Spark data-source [[Filter]]s -> graft's [[FilterExpr]] skip stack:
  * [[toAst]] is the weakening translation reads prune with, and
  * [[toAstExact]] the exact one that DELETE pushdown, `REPLACE WHERE`
  * and claimed read filters need. */
object SourceFilters {
  private type Ast = FilterExpr.Ast

  /** Catalyst source filters → FilterExpr, best-effort: the top-level
    * array is a conjunction, so unconvertible members simply drop
    * (prune less, never wrong). INSIDE a conversion the translation is
    * polarity-tracked WEAKENING: the produced AST only ever prunes, so
    * it is safe whenever the true predicate IMPLIES it. In positive
    * polarity an `And` may drop an unconvertible conjunct
    * (`a AND f(x)` → `a`, so `(a AND f(x)) OR b` still prunes on
    * `a OR b`); under an odd number of `Not`s the roles flip — an `Or`
    * may drop a disjunct (`NOT (a OR f(x))` → `NOT a` ⊇ the true rows)
    * while `And` must convert exactly (dropping a conjunct there would
    * STRENGTHEN the negation and prune wrongly). */
  private[graft] def toAst(fs: Array[Filter], known: Set[String],
                           zone: java.time.ZoneId = java.time.ZoneOffset.UTC): Ast =
    fs.flatMap(f => conv(f, known, zone))
      .reduceOption(FilterExpr.And(_, _)).getOrElse(FilterExpr.True)

  /** EXACT translation or refusal — no weakening anywhere. The DSv2
    * `DELETE FROM` path needs the AST to hold on precisely the SQL
    * predicate's TRUE rows (a weaker AST would delete extra rows), so
    * any unconvertible node refuses the whole conjunction and the
    * caller reports `canDeleteWhere = false`. */
  private[graft] def toAstExact(fs: Array[Filter], known: Set[String],
                                zone: java.time.ZoneId): Option[Ast] = {
    val parts = fs.map(f => conv(f, known, zone, strict = true))
    if (parts.contains(None)) None
    else Some(parts.flatten.reduceOption(FilterExpr.And(_, _)).getOrElse(FilterExpr.True))
  }

  private val TsFmt =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  /** Literals in FilterExpr's domain (Long / Double / String). Temporal
    * values render as the session-zone wall-clock string the mini-
    * language parses back to the same micros (and that Spark's
    * string→timestamp cast reads identically at the row level) — so
    * `WHERE ts >= timestamp'…'` prunes the axis zone maps. Decimals and
    * binaries refuse the conversion. */
  private def litOf(v: Any, zone: java.time.ZoneId): Option[Any] = v match {
    case null       => None
    case i: Int     => Some(i.toLong)
    case l: Long    => Some(l)
    case s: Short   => Some(s.toLong)
    case b: Byte    => Some(b.toLong)
    case f: Float   => Some(f.toDouble)
    case d: Double  => Some(d)
    case s: String  => Some(s)
    case u: org.apache.spark.unsafe.types.UTF8String => Some(u.toString)
    case t: java.sql.Timestamp =>
      Some(TsFmt.format(t.toInstant.atZone(zone).toLocalDateTime))
    case t: java.time.Instant =>
      Some(TsFmt.format(t.atZone(zone).toLocalDateTime))
    case t: java.time.LocalDateTime => Some(TsFmt.format(t)) // NTZ wallclock
    case d: java.sql.Date => Some(d.toLocalDate.toString)
    case d: java.time.LocalDate => Some(d.toString)
    case _          => None
  }

  private def cmp(op: String, a: String, v: Any, known: Set[String],
                  zone: java.time.ZoneId): Option[Ast] =
    if (!known(a)) None
    else litOf(v, zone).map(x => FilterExpr.Cmp(op, FilterExpr.Name(a), FilterExpr.Lit(x)))

  private def conv(f: Filter, known: Set[String], zone: java.time.ZoneId,
                   pos: Boolean = true, strict: Boolean = false): Option[Ast] = f match {
    case EqualTo(a, v)            => cmp("==", a, v, known, zone)
    case GreaterThan(a, v)        => cmp(">", a, v, known, zone)
    case GreaterThanOrEqual(a, v) => cmp(">=", a, v, known, zone)
    case LessThan(a, v)           => cmp("<", a, v, known, zone)
    case LessThanOrEqual(a, v)    => cmp("<=", a, v, known, zone)
    case In(a, vs) if known(a) =>
      val ls = vs.toSeq.map(litOf(_, zone))
      if (ls.nonEmpty && ls.forall(_.isDefined))
        Some(FilterExpr.In(a, ls.flatten, negated = false))
      else None
    case IsNull(a) if known(a)    => Some(FilterExpr.IsNull(a, negated = false))
    case IsNotNull(a) if known(a) => Some(FilterExpr.IsNull(a, negated = true))
    case And(l, r) =>
      (conv(l, known, zone, pos, strict), conv(r, known, zone, pos, strict)) match {
        case (Some(cl), Some(cr))         => Some(FilterExpr.And(cl, cr))
        // positive polarity: And is implied by each conjunct, so the
        // convertible one alone is a sound (weaker) pruning predicate
        case (one, other) if pos && !strict => one.orElse(other)
        case _                            => None
      }
    case Or(l, r) =>
      (conv(l, known, zone, pos, strict), conv(r, known, zone, pos, strict)) match {
        case (Some(cl), Some(cr))         => Some(FilterExpr.Or(cl, cr))
        // negative polarity: keeping one disjunct STRENGTHENS the
        // subtree, which WEAKENS the enclosing Not — NOT(a OR f)
        // implies NOT(a), so pruning on NOT(a) keeps a superset.
        // Sound only under an odd number of Nots.
        case (one, other) if !pos && !strict => one.orElse(other)
        case _                            => None
      }
    case Not(x) => conv(x, known, zone, !pos, strict).map(FilterExpr.Not(_))
    // DELETE FROM with no WHERE arrives as the literal TRUE predicate
    case _: AlwaysTrue  => Some(FilterExpr.True)
    case _: AlwaysFalse => Some(FilterExpr.Not(FilterExpr.True))
    case _      => None
  }
}
