package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{EliminateSubqueryAliases, UnresolvedAttribute}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference,
  Cast, Exists, Expression, InSubquery, ListQuery, OuterReference, PlanExpression,
  ScalarSubquery, And => CAnd, EqualTo => CEqualTo, Literal => CLiteral}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.{coalesce, col, lit, when}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.sources.{Filter => SFilter}
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.core.{Collection, FilterExpr, WhenMatched, WhenNotMatchedBySource}

/** The resolved DML target: a graft collection behind a [[GraftTable]] —
  * the catalog face (`graft.db.t`) or the path face (`CREATE TABLE ...
  * USING graft` and temp views over `spark.read.format("graft")`).
  * `output` covers data AND derived partition columns (`day`...), so
  * predicates over either bind; assignments to derived columns are
  * refused downstream. */
private[sources] final case class DmlTarget(root: String, pinned: Boolean,
                                            attrs: Seq[Attribute])

private[sources] object DmlTarget {
  def unapply(plan: LogicalPlan): Option[DmlTarget] =
    EliminateSubqueryAliases(plan) match {
      case r: DataSourceV2Relation => r.table match {
        case gt: GraftTable =>
          Some(DmlTarget(gt.root, gt.pinned, r.output ++ r.metadataOutput))
        case _ => None
      }
      case _ => None
    }
}

/** Post-hoc analyzer rule completing the SQL DML triangle on graft
  * tables. Spark rewrites `UPDATE` / `MERGE INTO` (and row-level
  * `DELETE`) only for `SupportsRowLevelOperations` tables; everything
  * else fails at CheckAnalysis. This rule intercepts the RESOLVED
  * statements over graft targets and lowers them onto the proven
  * file-granular copy-on-write engine paths instead:
  *
  *  - `UPDATE t SET ... WHERE p` → [[Collection.updateWhereCols]]: `p`
  *    applies row-exactly as a Column, while its V1-translatable
  *    conjuncts WEAKEN into the [[FilterExpr]] skip stack, so only
  *    files whose stats admit a match rewrite (the Delta/Iceberg
  *    copy-on-write UPDATE shape — arbitrary predicates, still
  *    file-granular whenever any conjunct prunes);
  *  - `DELETE FROM t WHERE p` with `p` OUTSIDE the exact-translation
  *    domain → [[Collection.deleteWhereCols]], same weakened-pruning
  *    scheme (exactly-translatable deletes keep Spark's native
  *    `SupportsDeleteV2` path through [[GraftTable.deleteWhere]]);
  *  - `MERGE INTO t USING s ON t.k = s.k WHEN ...` →
  *    [[Collection.mergeInto]]: equality keys from the ON conjunction,
  *    matched/not-matched actions mapped onto
  *    [[WhenMatched]]/`insertUnmatched`/[[WhenNotMatchedBySource]]
  *    (the full ANSI three-leg MERGE, including the BY SOURCE sync
  *    leg), first-match-wins composition for `UPDATE`+`DELETE` action
  *    pairs; `WHEN NOT MATCHED AND <cond> THEN INSERT *` gates the
  *    engine's insert leg (r11b). Out-of-model shapes (non-equi ON,
  *    schema evolution) refuse loudly — never approximated.
  *
  * Reference analogue: the collection surface the zcollection library
  * exposes only through Python `update`/`drop` calls
  * (collection/base.py:162-798) becomes ANSI SQL DML here.
  */
case class GraftDmlRule(spark: SparkSession) extends Rule[LogicalPlan] {

  import GraftDmlRule._

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case u @ UpdateTable(DmlTarget(t), assignments, condition) if u.resolved =>
      requireWritable(t, "UPDATE")
      val kept = assignments.flatMap { a =>
        val (key, keyName) = a.key match {
          case ar: AttributeReference => (ar, ar.name)
          case other => refuse(s"UPDATE SET target must be a top-level column, got ${other.sql}")
        }
        // assignment alignment expands identity assignments (c := c) over
        // every untouched column — drop them or the axis/partition-column
        // guard would refuse its own no-ops
        if (isIdentity(key, a.value)) None
        else Some(keyName -> a.value)
      }
      // r12: subqueries in SET values (uncorrelated scalars spliced as
      // typed literals; IN/EXISTS as computed flag columns) lift through
      // the same machinery as condition subqueries
      val (cond2, setVals2, subs) =
        extractSubqueries(condition, t, "UPDATE", kept.map(_._2))
      val sets = kept.map(_._1).zip(setVals2.map(selfCol(_, t, "UPDATE SET")))
      val condCol = cond2.map(selfCol(_, t, "UPDATE")).getOrElse(lit(true))
      GraftUpdateCommand(t.root, sets, condCol, pruneFilters(condition), subs)

    // exactly-translatable deletes keep Spark's native SupportsDeleteV2
    // path; every other DELETE takes the row-level fallback here
    case d @ DeleteFromTable(DmlTarget(t), condition) if d.resolved &&
        !exactlyTranslatable(spark, t, condition) =>
      requireWritable(t, "DELETE")
      val (cond2, _, subs) = extractSubqueries(Some(condition), t, "DELETE")
      GraftDeleteCommand(t.root, selfCol(cond2.get, t, "DELETE"),
        pruneFilters(Some(condition)), subs)

    case m: MergeIntoTable if m.resolved && DmlTarget.unapply(m.targetTable).isDefined =>
      val t = DmlTarget.unapply(m.targetTable).get
      requireWritable(t, "MERGE INTO")
      if (m.withSchemaEvolution)
        refuse("MERGE WITH SCHEMA EVOLUTION is not supported — ALTER TABLE ... ADD COLUMN first")
      val src = m.sourceTable
      val tIds = t.attrs.map(_.exprId).toSet
      val sIds = src.output.map(_.exprId).toSet

      val on: Seq[String] = conjuncts(m.mergeCondition).map {
        case CEqualTo(l: AttributeReference, r: AttributeReference) =>
          val (tc, sc) =
            if (tIds(l.exprId) && sIds(r.exprId)) (l, r)
            else if (tIds(r.exprId) && sIds(l.exprId)) (r, l)
            else refuse("ON must equate a target column with a source column")
          if (!tc.name.equalsIgnoreCase(sc.name))
            refuse(s"ON joins target '${tc.name}' to source '${sc.name}' — merge keys " +
              "must share a name (alias the source column)")
          tc.name
        case other =>
          refuse(s"ON supports only AND-ed key equalities, got: ${other.sql}")
      }

      def tsCol(e0: Expression, what: String): Column = {
        val e = inlineWith(e0)
        noSubquery(e, what)
        Bridge.column(e.transform {
          case a: AttributeReference if tIds(a.exprId) => UnresolvedAttribute(Seq("t", a.name))
          case a: AttributeReference if sIds(a.exprId) => UnresolvedAttribute(Seq("s", a.name))
          case a: AttributeReference =>
            refuse(s"$what references '${a.name}', which binds to neither the target nor the source")
        })
      }
      def gated(c: Column): Column = coalesce(c, lit(false))

      /** SET assignments → Column map; `gate` (a pre-built, null-safe
        * boolean Column in t/s terms — callers coalesce NULL to false)
        * confines the assignment to rows where it holds. */
      def assignMap(as: Seq[Assignment], gate: Option[Column]): Map[String, Column] =
        as.flatMap { a =>
          val key = a.key match {
            case ar: AttributeReference if tIds(ar.exprId) => ar
            case other => refuse(s"MERGE SET target must be a target column, got ${other.sql}")
          }
          if (isIdentity(key, a.value)) None
          else {
            val v = tsCol(a.value, "MERGE SET")
            Some(key.name -> (gate match {
              case Some(g) => when(g, v).otherwise(col(s"t.${key.name}"))
              case None    => v
            }))
          }
        }.toMap

      /** First-match-wins gate for the SECOND action after `WHEN MATCHED
        * AND <c> THEN DELETE`: ANSI says an UNKNOWN first condition is
        * NOT satisfied, so the row must fall through to the update leg —
        * the negation has to be of the null-COALESCED delete gate
        * (`!gated(c)`), never `NOT(c)` (NULL -> NULL -> coalesced false
        * would wrongly carry the row unchanged; r13 fix, mirrors the
        * UPDATE-first branches' `notC`). */
      def afterDeleteGate(c: Expression, uc: Option[Expression]): Column = {
        val notDel = !gated(tsCol(c, "MERGE DELETE"))
        uc match {
          case None    => notDel
          case Some(u) => notDel && gated(tsCol(u, "MERGE"))
        }
      }

      /** `UPDATE SET *` / `INSERT *` equivalence: EVERY target DATA
        * column assigned its same-named source column verbatim — the
        * engine's UpdateAll / whole-row insert. Coverage of the full
        * data schema is required (r12 fix): the analyzer does NOT align
        * MERGE assignments for this table, so a narrow
        * `SET value = s.value` arrives as a one-element list —
        * star-collapsing it would silently replace EVERY column of
        * matched rows. One readOnly manifest-root read at analysis. */
      lazy val targetDataCols: Set[String] = graft.core.Collection
        .open(spark, t.root, readOnly = true).schema.fieldNames
        .map(_.toLowerCase).toSet
      def isStarShape(as: Seq[Assignment]): Boolean =
        as.nonEmpty && as.forall { a =>
          (a.key, stripCasts(a.value)) match {
            case (k: AttributeReference, v: AttributeReference) =>
              sIds(v.exprId) && v.name.equalsIgnoreCase(k.name)
            case _ => false
          }
        } && {
          val assigned = as.map(_.key.asInstanceOf[AttributeReference].name.toLowerCase)
          targetDataCols.subsetOf(assigned.toSet)
        }

      val whenMatched: WhenMatched = m.matchedActions match {
        case Seq() => WhenMatched.UpdateCols(Map.empty, None)
        case Seq(UpdateStarAction(None)) => WhenMatched.UpdateAll
        // r12: conditional SET * — gated whole-row replacement (rows may
        // re-home, like unconditional SET *); NULL gate carries
        case Seq(UpdateStarAction(Some(c))) =>
          WhenMatched.UpdateAllIf(tsCol(c, "MERGE"))
        case Seq(UpdateAction(None, as, _)) if isStarShape(as) => WhenMatched.UpdateAll
        case Seq(UpdateAction(Some(c), as, _)) if isStarShape(as) =>
          WhenMatched.UpdateAllIf(tsCol(c, "MERGE"))
        case Seq(UpdateAction(c, as, _)) =>
          WhenMatched.UpdateCols(
            assignMap(as, c.map(g => gated(tsCol(g, "MERGE")))), None)
        case Seq(DeleteAction(None)) => WhenMatched.Delete
        case Seq(DeleteAction(Some(c))) =>
          WhenMatched.UpdateCols(Map.empty, Some(gated(tsCol(c, "MERGE DELETE"))))
        // r12b: gated SET * composed with DELETE (first-match-wins in
        // both orders, folded into UpdateAllIf's deleteWhen)
        case Seq(UpdateStarAction(None), DeleteAction(_)) =>
          WhenMatched.UpdateAll // unconditional first action: delete unreachable
        case Seq(UpdateStarAction(Some(c)), DeleteAction(dc)) =>
          val notC = !gated(tsCol(c, "MERGE"))
          val del = dc match {
            case None    => notC
            case Some(d) => notC && gated(tsCol(d, "MERGE DELETE"))
          }
          WhenMatched.UpdateAllIf(tsCol(c, "MERGE"), Some(del))
        case Seq(UpdateAction(Some(c), as, _), DeleteAction(dc)) if isStarShape(as) =>
          val notC = !gated(tsCol(c, "MERGE"))
          val del = dc match {
            case None    => notC
            case Some(d) => notC && gated(tsCol(d, "MERGE DELETE"))
          }
          WhenMatched.UpdateAllIf(tsCol(c, "MERGE"), Some(del))
        case Seq(DeleteAction(None), UpdateStarAction(_)) =>
          WhenMatched.Delete // delete wins every match
        case Seq(DeleteAction(Some(c)), UpdateStarAction(uc)) =>
          WhenMatched.UpdateAllIf(afterDeleteGate(c, uc),
            Some(gated(tsCol(c, "MERGE DELETE"))))
        case Seq(DeleteAction(Some(c)), UpdateAction(uc, as, _)) if isStarShape(as) =>
          WhenMatched.UpdateAllIf(afterDeleteGate(c, uc),
            Some(gated(tsCol(c, "MERGE DELETE"))))
        case Seq(UpdateAction(uc, as, _), DeleteAction(dc)) => uc match {
          // unconditional first action wins every match: delete unreachable
          case None => if (isStarShape(as)) WhenMatched.UpdateAll
                       else WhenMatched.UpdateCols(assignMap(as, None), None)
          case Some(c) =>
            val notC = !gated(tsCol(c, "MERGE"))
            val del = dc match {
              case None    => notC
              case Some(d) => notC && gated(tsCol(d, "MERGE DELETE"))
            }
            WhenMatched.UpdateCols(
              assignMap(as, Some(gated(tsCol(c, "MERGE")))), Some(del))
        }
        case Seq(DeleteAction(dc), UpdateAction(uc, as, _)) => dc match {
          case None => WhenMatched.Delete // delete wins every match
          case Some(c) =>
            WhenMatched.UpdateCols(assignMap(as, Some(afterDeleteGate(c, uc))),
              Some(gated(tsCol(c, "MERGE DELETE"))))
        }
        case other => refuse(s"unsupported WHEN MATCHED combination (${other.size} actions)")
      }

      // the NOT MATCHED leg has no target row — its condition may
      // reference only source columns (s.-terms for the engine's join)
      def sOnly(e0: Expression, what: String): Column = {
        val e = inlineWith(e0)
        noSubquery(e, what)
        Bridge.column(e.transform {
          case a: AttributeReference if sIds(a.exprId) => UnresolvedAttribute(Seq("s", a.name))
          case a: AttributeReference =>
            refuse(s"$what may reference only source columns, got '${a.name}'")
        })
      }
      // r12: explicit-column INSERT — `WHEN NOT MATCHED [AND <cond>]
      // THEN INSERT (cols) VALUES (exprs)`: each assignment's value is
      // s-only (there is no target row in that leg) and becomes the
      // engine's insert projection; the analyzer has already aligned
      // the assignment list to the full target schema (unassigned
      // columns arrive as NULL literals), so the map is total.
      def insertProj(as: Seq[Assignment]): Map[String, Column] =
        as.map { a =>
          val key = a.key match {
            case ar: AttributeReference if tIds(ar.exprId) => ar
            case other =>
              refuse(s"INSERT target must be a target column, got ${other.sql}")
          }
          key.name -> sOnly(a.value, "WHEN NOT MATCHED INSERT VALUES")
        }.toMap
      val (insertUnmatched, insertGate, insertProjection) = m.notMatchedActions match {
        case Seq() => (false, None, None)
        case Seq(InsertStarAction(None)) => (true, None, None)
        case Seq(InsertAction(None, as)) if isStarShape(as) => (true, None, None)
        // CONDITIONAL INSERT (r11b): `WHEN NOT MATCHED AND <cond> THEN
        // INSERT *` gates the engine's insert leg (NULL = skip, SQL)
        case Seq(InsertStarAction(Some(c))) =>
          (true, Some(sOnly(c, "WHEN NOT MATCHED AND")), None)
        case Seq(InsertAction(Some(c), as)) if isStarShape(as) =>
          (true, Some(sOnly(c, "WHEN NOT MATCHED AND")), None)
        case Seq(InsertAction(c, as)) =>
          (true, c.map(sOnly(_, "WHEN NOT MATCHED AND")), Some(insertProj(as)))
        case _ =>
          refuse("WHEN NOT MATCHED supports at most one INSERT action")
      }

      // the sync leg: target rows no source row matches (t.-terms only —
      // there IS no source row to reference)
      def tOnly(e0: Expression, what: String): Column = {
        val e = inlineWith(e0)
        noSubquery(e, what)
        Bridge.column(e.transform {
          case a: AttributeReference if tIds(a.exprId) => UnresolvedAttribute(Seq("t", a.name))
          case a: AttributeReference =>
            refuse(s"$what may reference only target columns, got '${a.name}'")
        })
      }
      val bySource: WhenNotMatchedBySource = m.notMatchedBySourceActions match {
        case Seq() => WhenNotMatchedBySource.Keep
        case Seq(DeleteAction(c)) =>
          WhenNotMatchedBySource.Delete(c.map(tOnly(_, "NOT MATCHED BY SOURCE")))
        case Seq(UpdateAction(c, as, _)) =>
          val asm = as.flatMap { a =>
            val key = a.key match {
              case ar: AttributeReference if tIds(ar.exprId) => ar
              case other => refuse(s"MERGE SET target must be a target column, got ${other.sql}")
            }
            if (isIdentity(key, a.value)) None
            else Some(key.name -> tOnly(a.value, "NOT MATCHED BY SOURCE SET"))
          }.toMap
          WhenNotMatchedBySource.Update(asm, c.map(tOnly(_, "NOT MATCHED BY SOURCE")))
        case other =>
          refuse(s"unsupported WHEN NOT MATCHED BY SOURCE combination (${other.size} actions)")
      }

      GraftMergeCommand(t.root, src, on, whenMatched, insertUnmatched, bySource,
        insertGate, insertProjection)
  }

  /** SUBQUERY predicates in DELETE/UPDATE conditions (r11, the r10
    * verdict's #2): every UNCORRELATED, single-column `IN (SELECT ...)`
    * — under any enclosing boolean structure, so `NOT IN` comes free —
    * and uncorrelated `EXISTS` is lifted out of the condition and
    * replaced by a flag-column placeholder; the command evaluates each
    * subquery ONCE at run time and computes the flag with EXACT SQL
    * three-valued semantics through a left join ([[GraftDmlCommands
    * .subqueryAugment]]), so the engine's row predicate sees precisely
    * the values `IN` would produce (TRUE on match; FALSE on no-match
    * against a null-free result or an empty result; NULL otherwise).
    * Top-level POSITIVE `col IN (...)` conjuncts additionally feed the
    * subquery result's [min, max] into the skip-layer prune at run time
    * — file-granular deletes keyed by a dimension stay file-granular.
    * Correlated subqueries (and scalar subqueries) still refuse loudly
    * downstream — never approximated. */
  private def extractSubqueries(condition: Option[Expression], t: DmlTarget,
      what: String,
      setValues: Seq[Expression] = Nil)
      : (Option[Expression], Seq[Expression], Seq[DmlSubquery]) = {
    // top-level positive IN conjuncts are bounds-eligible (a negated or
    // OR-nested IN must not strengthen the prune). SET values (r12) are
    // never top-level — their subqueries choose values, not rows, so
    // they must not constrain the prune.
    val topLevel = condition.map(conjuncts(_).toSet).getOrElse(Set.empty[Expression])
    val subs = Seq.newBuilder[DmlSubquery]
    var i = 0
    def rewrite(cond: Expression): Expression = cond.transform {
      // r12b: 2-column TUPLE IN — exact SQL three-valued semantics via
      // null-pattern decomposition into pure hash joins (subqueryAugment);
      // wider tuples keep the refusal (pattern count grows 2^k)
      case InSubquery(Seq(a, b), lq: ListQuery) if !lq.isCorrelated =>
        val flag = s"_zc_subq_$i"; i += 1
        subs += DmlSubquery(flag, lq.plan, null, None, isExists = false,
          tupleValues = Seq(selfCol(a, t, s"$what IN"),
            selfCol(b, t, s"$what IN")))
        UnresolvedAttribute(Seq(flag))
      case in @ InSubquery(values, lq: ListQuery) if !lq.isCorrelated =>
        val v = values match {
          case Seq(one) => one
          case _ => refuse(s"IN tuples wider than 2 columns are not supported in $what — " +
            "rewrite as MERGE INTO with a source table")
        }
        val flag = s"_zc_subq_$i"; i += 1
        val boundsKey = v match {
          case a: AttributeReference if topLevel(in) => Some(a.name)
          case _                                     => None
        }
        subs += DmlSubquery(flag, lq.plan, selfCol(v, t, s"$what IN"),
          boundsKey, isExists = false)
        UnresolvedAttribute(Seq(flag))
      case in @ InSubquery(values, lq: ListQuery) =>
        // CORRELATED IN (r11b): `x IN (SELECT e FROM s WHERE s.k = t.k
        // [AND rest])` decorrelates into a DISTINCT (key..., value)
        // PAIR table plus per-key group facts; the flag replays SQL's
        // three-valued IN PER GROUP — FALSE when the row's group is
        // EMPTY (even for null x), TRUE on a pair match, NULL when x is
        // null or the group holds a null value, FALSE otherwise — so
        // the correlated NOT IN null trap is group-local, exactly SQL.
        val v = values match {
          case Seq(one) => one
          case _ => refuse(s"multi-column IN tuples are not supported in $what — " +
            "rewrite as MERGE INTO with a source table")
        }
        val (pairsPlan, pairs) = decorrelateIn(lq, what)
        val flag = s"_zc_subq_$i"; i += 1
        val boundsKey = pairs match {
          case Seq((a, _)) if topLevel(in) => Some(a.name)
          case _                           => None
        }
        subs += DmlSubquery(flag, pairsPlan, selfCol(v, t, s"$what IN"),
          boundsKey, isExists = false,
          corrValues = pairs.map(p => selfCol(p._1, t, s"$what IN")))
        UnresolvedAttribute(Seq(flag))
      case sc: ScalarSubquery if !sc.isCorrelated =>
        // UNCORRELATED SCALAR (r11b): evaluated once at run time with
        // exact SQL semantics — empty result = NULL, a second row is a
        // runtime error — and spliced in as a typed literal column.
        val flag = s"_zc_subq_$i"; i += 1
        subs += DmlSubquery(flag, sc.plan, null, None, isExists = false,
          scalarType = sc.dataType)
        UnresolvedAttribute(Seq(flag))
      case sc: ScalarSubquery =>
        // CORRELATED SCALAR (r12b): `(SELECT agg(x) FROM s WHERE s.k =
        // t.k [AND rest])` decorrelates into one per-key GROUP BY
        // evaluated once; the value joins back by key. Rows whose key
        // has no group get NULL — exactly the empty-subquery scalar —
        // EXCEPT count, whose empty-group value is 0 (spliced as the
        // join's coalesce default, the standard count-bug fix).
        val (aggPlan, pairs, emptyDefault) = decorrelateScalar(sc, what)
        val flag = s"_zc_subq_$i"; i += 1
        subs += DmlSubquery(flag, aggPlan, null, None, isExists = false,
          scalarType = sc.dataType,
          corrValues = pairs.map(p => selfCol(p._1, t, s"$what scalar")),
          scalarEmptyDefault = emptyDefault)
        UnresolvedAttribute(Seq(flag))
      case ex: Exists if !ex.isCorrelated =>
        val flag = s"_zc_subq_$i"; i += 1
        subs += DmlSubquery(flag, ex.plan, null, None, isExists = true)
        UnresolvedAttribute(Seq(flag))
      case ex: Exists =>
        // CORRELATED EXISTS (r11b): decorrelate the equality-correlated
        // shape — `EXISTS (SELECT ... FROM s WHERE s.k = t.k AND rest)`
        // — into a DISTINCT key-set plan evaluated once; the flag joins
        // the target against it (EXISTS is two-valued, so NOT EXISTS
        // rides the enclosing boolean structure for free, and a NULL
        // outer key never matches — exactly the semantics the dropped
        // equality filter would have produced).
        val (keysPlan, pairs) = decorrelateExists(ex, what)
        val flag = s"_zc_subq_$i"; i += 1
        val boundsKey = pairs match {
          case Seq((a, _)) if topLevel(ex) => Some(a.name)
          case _                           => None
        }
        subs += DmlSubquery(flag, keysPlan, null, boundsKey, isExists = true,
          corrValues = pairs.map(p => selfCol(p._1, t, s"$what EXISTS")))
        UnresolvedAttribute(Seq(flag))
    }
    (condition.map(rewrite), setValues.map(rewrite), subs.result())
  }

  /** Decorrelate a correlated EXISTS whose ONLY outer references are
    * top-level equality conjuncts `outer = innerExpr` in one Filter
    * reachable through Project/Distinct/SubqueryAlias wrappers (the
    * ubiquitous real-world shape). Returns the key-set plan —
    * `Distinct(Project(innerKeys, Filter(rest, child)))` — plus the
    * (outerAttr, innerKey) pairs in key order. Projections above the
    * filter drop safely (row EXISTENCE is invariant under projection);
    * anything else — non-equality correlation, correlation below a
    * join/aggregate, nested subqueries — refuses loudly, never
    * approximated. */
  private def decorrelateExists(ex: Exists,
      what: String): (LogicalPlan, Seq[(AttributeReference, Expression)]) = {
    def bail(why: String): Nothing =
      refuse(s"correlated EXISTS in $what supports only top-level equality " +
        s"correlation (`outer_col = inner_expr` conjuncts in one WHERE) — $why; " +
        "rewrite anything else as MERGE INTO with a source table")
    def hasOuter(e: Expression): Boolean = e.exists(_.isInstanceOf[OuterReference])
    // nested subqueries could hide outer references inside plans this
    // expression-level scan cannot see — refuse the whole class
    if (ex.plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[PlanExpression[_]]))))
      bail("the subquery nests another subquery")
    @annotation.tailrec
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case SubqueryAlias(_, child)                          => strip(child)
      case Project(es, child) if !es.exists(hasOuter)       => strip(child)
      case Distinct(child)                                  => strip(child)
      case other                                            => other
    }
    strip(ex.plan) match {
      case Filter(cond, child) if !child.exists(_.expressions.exists(hasOuter)) =>
        val (corr, rest) = conjuncts(cond).partition(hasOuter)
        val pairs = corr.map {
          case CEqualTo(OuterReference(a: AttributeReference), inner) if !hasOuter(inner) =>
            (a, inner)
          case CEqualTo(inner, OuterReference(a: AttributeReference)) if !hasOuter(inner) =>
            (a, inner)
          case other => bail(s"unsupported correlated conjunct: ${other.sql}")
        }
        if (pairs.isEmpty) bail("no correlated equality found in the WHERE")
        val base = rest.reduceOption(CAnd).map(Filter(_, child)).getOrElse(child)
        val proj = pairs.zipWithIndex.map { case ((_, inner), k) =>
          Alias(inner, s"_zc_ck_$k")()
        }
        (Distinct(Project(proj, base)), pairs)
      case _ =>
        bail("the outer reference is not in a directly-reachable WHERE clause")
    }
  }

  /** Decorrelate a correlated IN's ListQuery — the single projected
    * value above an equality-correlated Filter (through SubqueryAlias/
    * Distinct wrappers). Returns the DISTINCT `(key..., value)` PAIR
    * plan — keys as `_zc_ck_*`, the value as `_zc_inv`, null values
    * KEPT (the per-group null fact drives the three-valued flag) — plus
    * the (outerAttr, innerKey) pairs in key order. */
  private def decorrelateIn(lq: ListQuery,
      what: String): (LogicalPlan, Seq[(AttributeReference, Expression)]) = {
    def bail(why: String): Nothing =
      refuse(s"correlated IN in $what supports only `SELECT <value> FROM ... WHERE " +
        s"outer_col = inner_expr [AND rest]` — $why; " +
        "rewrite anything else as MERGE INTO with a source table")
    def hasOuter(e: Expression): Boolean = e.exists(_.isInstanceOf[OuterReference])
    if (lq.plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[PlanExpression[_]]))))
      bail("the subquery nests another subquery")
    @annotation.tailrec
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case SubqueryAlias(_, child) => strip(child)
      case Distinct(child)         => strip(child)
      case other                   => other
    }
    strip(lq.plan) match {
      case Project(Seq(valExpr), inner0) if !hasOuter(valExpr) =>
        strip(inner0) match {
          case Filter(cond, child) if !child.exists(_.expressions.exists(hasOuter)) =>
            val (corr, rest) = conjuncts(cond).partition(hasOuter)
            val pairs = corr.map {
              case CEqualTo(OuterReference(a: AttributeReference), ie) if !hasOuter(ie) =>
                (a, ie)
              case CEqualTo(ie, OuterReference(a: AttributeReference)) if !hasOuter(ie) =>
                (a, ie)
              case other => bail(s"unsupported correlated conjunct: ${other.sql}")
            }
            if (pairs.isEmpty) bail("no correlated equality found in the WHERE")
            val base = rest.reduceOption(CAnd).map(Filter(_, child)).getOrElse(child)
            val inv = valExpr match {
              case a: Alias => a.child
              case x        => x
            }
            val proj = pairs.zipWithIndex.map { case ((_, ie), k) =>
              Alias(ie, s"_zc_ck_$k")()
            } :+ Alias(inv, "_zc_inv")()
            (Distinct(Project(proj, base)), pairs)
          case _ => bail("the outer reference is not in the subquery's WHERE clause")
        }
      case _ => bail("the subquery must project exactly one value above the correlated WHERE")
    }
  }

  /** Decorrelate an equality-correlated SCALAR subquery into a per-key
    * plan evaluated once, joined back by key (keys as `_zc_ck_*`, the
    * value as `_zc_sc_v`, a constant `_zc_sc_p` presence marker).
    * Supported shapes (r13, generalizing r12b's single bare aggregate):
    *
    *  - UNGROUPED aggregate with the value being ANY expression over
    *    aggregates (`SELECT 2*max(x)+1 ...`): one row per key; a key
    *    with no rows splices the expression evaluated on the EMPTY
    *    input — each aggregate at its SQL empty-input value via
    *    `defaultResult` (count 0, min/max/sum/avg NULL): the COUNT-bug
    *    fix propagated through the expression, the same evaluation
    *    Spark's own RewriteCorrelatedScalarSubquery performs;
    *  - UNGROUPED + HAVING: the having predicate rides the projection
    *    (`_zc_sc_h`) instead of filtering — a having-rejected key must
    *    yield NULL (SQL's empty result), NOT the empty-input default,
    *    so presence and rejection stay distinguishable; the splice
    *    default statically evaluates having-on-empty;
    *  - GROUP BY [+ HAVING]: one row per (key, group), having filters,
    *    then a per-key collapse carries the exact surviving-row count
    *    (`_zc_sc_n`) — >1 is SQL's "more than one row" runtime error
    *    (raised at execution), 0 rows is NULL.
    *
    * Returns the plan, the (outerAttr, innerKey) pairs, and the
    * empty-key splice default as a foldable Column (None = NULL).
    * Non-equality correlation, outer references outside the aggregate's
    * WHERE, and nested subqueries refuse loudly — never approximated. */
  private def decorrelateScalar(sc: ScalarSubquery,
      what: String): (LogicalPlan, Seq[(AttributeReference, Expression)], Option[Column]) = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.{
      AggregateExpression, Count, First}
    import org.apache.spark.sql.catalyst.expressions.{CaseWhen, NamedExpression}
    def bail(why: String): Nothing =
      refuse(s"correlated scalar subqueries in $what support an aggregate " +
        s"(optionally GROUP BY / HAVING / an expression over the aggregates) " +
        s"over equality correlation (`... WHERE inner = t.outer [AND rest]`) — $why; " +
        "rewrite anything else as MERGE INTO with a source table")
    def hasOuter(e: Expression): Boolean = e.exists(_.isInstanceOf[OuterReference])
    if (sc.plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[PlanExpression[_]]))))
      bail("the subquery nests another subquery")
    @annotation.tailrec
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case SubqueryAlias(_, child) => strip(child)
      case other                   => other
    }
    // an aggregate's SQL value over EMPTY input: count-family 0 (their
    // declared defaultResult), everything else NULL
    def onEmpty(e: Expression): Expression = e.transform {
      case ae: AggregateExpression =>
        ae.aggregateFunction.defaultResult
          .getOrElse(CLiteral.create(null, ae.dataType)): Expression
    }
    val (agg, havingOpt, outOpt) = strip(sc.plan) match {
      case Project(Seq(out), Filter(having, a: Aggregate)) => (a, Some(having), Some(out))
      case Filter(having, a: Aggregate)                    => (a, Some(having), None)
      case a: Aggregate                                    => (a, None, None)
      case _ => bail("the subquery must be a (possibly grouped) aggregate")
    }
    if (agg.groupingExpressions.exists(hasOuter)) bail("outer reference in GROUP BY")
    if (havingOpt.exists(hasOuter)) bail("outer reference in HAVING")
    if (agg.aggregateExpressions.exists(hasOuter)) bail("outer reference in the projected value")
    strip(agg.child) match {
      case Filter(cond, child) if !child.exists(_.expressions.exists(hasOuter)) =>
        val (corr, rest) = conjuncts(cond).partition(hasOuter)
        val pairs = corr.map {
          case CEqualTo(OuterReference(a: AttributeReference), ie) if !hasOuter(ie) =>
            (a, ie)
          case CEqualTo(ie, OuterReference(a: AttributeReference)) if !hasOuter(ie) =>
            (a, ie)
          case other => bail(s"unsupported correlated conjunct: ${other.sql}")
        }
        if (pairs.isEmpty) bail("no correlated equality found in the WHERE")
        val base = rest.reduceOption(CAnd).map(Filter(_, child)).getOrElse(child)
        val keyAliases = pairs.zipWithIndex.map { case ((_, ie), k) =>
          Alias(ie, s"_zc_ck_$k")()
        }
        val keyExprs: Seq[Expression] = keyAliases.map(_.child)
        val pTrue = Alias(CLiteral(true), "_zc_sc_p")()
        if (agg.groupingExpressions.isEmpty) {
          // one row per key pre-having: inline the (optional) Project
          // and having over the aggregate outputs into flat expressions
          val byId = agg.aggregateExpressions.map(ne => ne.exprId -> ne).toMap
          def inline(e: Expression): Expression = e.transformUp {
            case a: AttributeReference if byId.contains(a.exprId) =>
              byId(a.exprId) match { case al: Alias => al.child; case o => o }
          }
          val valueExpr = outOpt match {
            case Some(al: Alias)              => inline(al.child)
            case Some(a)                      => inline(a)
            case None => agg.aggregateExpressions match {
              case Seq(al: Alias) => al.child
              case _ => bail("the subquery must project exactly one value")
            }
          }
          val havingExpr = havingOpt.map(inline)
          val proj: Seq[NamedExpression] =
            keyAliases ++ Seq(Alias(valueExpr, "_zc_sc_v")()) ++
              havingExpr.map(h => Alias(h, "_zc_sc_h")()) ++ Seq(pTrue)
          val plan = Aggregate(keyExprs, proj, base)
          val default = havingExpr match {
            case None    => Bridge.column(onEmpty(valueExpr))
            case Some(h) =>
              // empty input: the ungrouped agg row exists iff having
              // passes on the empty-input values (NULL having = reject)
              Bridge.column(CaseWhen(Seq((onEmpty(h), onEmpty(valueExpr))), None))
          }
          (plan, pairs, Some(default))
        } else {
          // grouped: per-(key, group) rows, having filters, per-key
          // collapse with the exact surviving multiplicity
          val innerAgg = Aggregate(keyExprs ++ agg.groupingExpressions,
            keyAliases ++ agg.aggregateExpressions, base)
          val filtered = havingOpt.map(Filter(_, innerAgg)).getOrElse(innerAgg)
          val valueRef: Expression = outOpt match {
            // a Project alias above the having Filter is NOT produced by
            // innerAgg — contribute its child (an expression over the
            // filtered aggregate's outputs); a bare attribute passes
            case Some(al: Alias) => al.child
            case Some(a)         => a
            case None => agg.aggregateExpressions match {
              case Seq(al: Alias) => al.toAttribute
              case _ => bail("the subquery must project exactly one value")
            }
          }
          val keyAttrs: Seq[NamedExpression] = keyAliases.map(_.toAttribute)
          val top = Aggregate(keyAttrs,
            keyAttrs ++ Seq(
              Alias(First(valueRef, ignoreNulls = false).toAggregateExpression(),
                "_zc_sc_v")(),
              Alias(Count(CLiteral(1)).toAggregateExpression(), "_zc_sc_n")(),
              pTrue),
            filtered)
          (top, pairs, None) // zero surviving groups = NULL
        }
      case _ => bail("the outer reference is not in the aggregate's WHERE clause")
    }
  }

  /** Predicate/value over the TARGET's columns only → a Column in plain
    * column-name terms (resolves against the engine's rewrite scan). */
  /** Inline Catalyst `With` common-expression blocks (the analyzer's
    * RuntimeReplaceable form for nullif/ifnull/...) by substituting
    * each ref with its definition — duplicated evaluation, identical
    * semantics. Required before attribute rewriting: a `With` node
    * re-checks its defs' dataType mid-transform, which explodes once a
    * child is an UnresolvedAttribute (r12b). */
  private def inlineWith(e: Expression): Expression = e.transformUp {
    case w: org.apache.spark.sql.catalyst.expressions.With =>
      val defs = w.defs.map(d => d.id -> d.child).toMap
      w.child.transformUp {
        case r: org.apache.spark.sql.catalyst.expressions.CommonExpressionRef =>
          defs(r.id)
      }
  }

  private def selfCol(e0: Expression, t: DmlTarget, what: String): Column = {
    val e = inlineWith(e0)
    noSubquery(e, what)
    val ids = t.attrs.map(_.exprId).toSet
    Bridge.column(e.transform {
      case a: AttributeReference =>
        if (!ids.contains(a.exprId))
          refuse(s"$what references '${a.name}', which does not bind to the target table")
        UnresolvedAttribute.quoted(a.name)
    })
  }

  /** The predicate's V1-translatable conjuncts — each independently
    * weakenable into the pruning AST (engine re-checks rows exactly). */
  private def pruneFilters(condition: Option[Expression]): Seq[SFilter] =
    condition.toSeq.flatMap(conjuncts).flatMap(Bridge.translateFilter)
}

object GraftDmlRule {

  private[sources] def refuse(msg: String): Nothing =
    throw new UnsupportedOperationException("graft SQL DML: " + msg)

  private def requireWritable(t: DmlTarget, what: String): Unit =
    if (t.pinned)
      refuse(s"$what on a VERSION/TIMESTAMP AS OF pin — time-travel reads are immutable")

  private def noSubquery(e: Expression, what: String): Unit =
    if (e.exists(_.isInstanceOf[PlanExpression[_]]))
      refuse(s"correlated or scalar subqueries are not supported in $what — " +
        "uncorrelated IN (SELECT ...)/EXISTS and equality-correlated IN/EXISTS " +
        "work in DELETE/UPDATE conditions (r11); " +
        "rewrite anything else as MERGE INTO with a source table")

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case CAnd(l, r) => conjuncts(l) ++ conjuncts(r)
    case x          => Seq(x)
  }

  private def stripCasts(e: Expression): Expression = e match {
    case a: Alias => stripCasts(a.child)
    case c: Cast  => stripCasts(c.child)
    case x        => x
  }

  /** `c := c` (modulo alignment casts) — the no-op assignments alignment
    * synthesizes for untouched columns. */
  private def isIdentity(key: AttributeReference, value: Expression): Boolean =
    stripCasts(value) match {
      case v: AttributeReference => v.exprId == key.exprId
      case _                     => false
    }

  /** Would Spark's native exact-translation DELETE path succeed? Checked
    * with the SAME translator chain the V2 path lands on — all conjuncts
    * must reach the [[FilterExpr]] domain exactly. */
  private def exactlyTranslatable(spark: SparkSession, t: DmlTarget,
                                  condition: Expression): Boolean = {
    val filters = conjuncts(condition).map(Bridge.translateFilter)
    if (filters.contains(None)) return false
    val zone = java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone",
      java.util.TimeZone.getDefault.getID))
    SourceFilters.toAstExact(filters.flatten.toArray, t.attrs.map(_.name).toSet, zone)
      .isDefined
  }
}

/** One lifted DML subquery: `flag` is the placeholder column the
  * rewritten condition references, `plan` the (resolved, uncorrelated)
  * subquery — for a decorrelated EXISTS, its DISTINCT key-set plan with
  * columns `_zc_ck_*` — `value` the IN's left side over target columns
  * (null for EXISTS), `boundsKey` the bare column name whose prune
  * range the subquery's [min, max] may strengthen (top-level positive
  * IN, or single-key top-level EXISTS), `corrValues` the decorrelated
  * EXISTS's outer key columns in `_zc_ck_*` order (empty otherwise). */
private[sources] final case class DmlSubquery(flag: String, plan: LogicalPlan,
    value: Column, boundsKey: Option[String], isExists: Boolean,
    corrValues: Seq[Column] = Nil,
    scalarType: org.apache.spark.sql.types.DataType = null,
    tupleValues: Seq[Column] = Nil,
    scalarEmptyDefault: Option[Column] = None)

/** Shared output shape: each DML command reports its rewritten-file
  * count (the file-granularity observable — `spark.sql("UPDATE ...")`
  * returns it as a one-row result). */
private[sources] object GraftDmlCommands {
  def filesOutput: Seq[Attribute] = Seq(
    org.apache.spark.sql.catalyst.expressions.AttributeReference(
      "files_rewritten", IntegerType, nullable = false)())

  def pruneAst(session: SparkSession, c: Collection, prune: Seq[SFilter]): FilterExpr.Ast = {
    val zone = java.time.ZoneId.of(session.conf.get("spark.sql.session.timeZone",
      java.util.TimeZone.getDefault.getID))
    SourceFilters.toAst(prune.toArray,
      c.readSchema.fieldNames.toSet, zone)
  }

  /** Evaluate each lifted subquery ONCE and build (a) the frame
    * `augment` that computes its flag column with EXACT SQL IN
    * three-valued semantics, and (b) the prune-AST strengthening from
    * bounds-eligible subqueries' [min, max]:
    *
    *  - `x IN (S)` = TRUE on a match; FALSE when S is EMPTY (even for
    *    null x) or when nothing matched and S is null-free and x is
    *    non-null; NULL otherwise — computed as a left join against
    *    `S.distinct` plus two driver-side aggregates (count, nulls),
    *    broadcast up to the DV collect cap so the victim scan's
    *    `input_file_name` lineage survives (a bigger S shuffles and the
    *    engine falls back to the rewrite leg, never to wrong rows);
    *  - uncorrelated EXISTS = one count, a constant flag. */
  def subqueryAugment(session: SparkSession, ast: FilterExpr.Ast,
      subs: Seq[DmlSubquery]): (DataFrame => DataFrame, FilterExpr.Ast, () => Unit) = {
    import org.apache.spark.sql.functions._
    var outAst = ast
    // Every subquery shape below consumes its decorrelated plan through
    // one count/bounds ACTION plus one to five broadcast views (the
    // 2-column tuple-IN null-pattern decomposition is the five-view
    // worst case) — without a cache each consumer re-executes the whole
    // subquery plan, up to SIX evaluations per statement (r16, measured:
    // the evaluations were over a third of zc_sql_delete_in2's DELETE
    // time). The decorrelated plan is already projected to the key
    // columns, so the cache holds exactly the narrow key set — the
    // full-width-cache-vs-pruning failure that sank the applyBranchDiff
    // persist cannot arise. The caller releases via the returned thunk
    // AFTER the command commits (the broadcast views capture the cached
    // plan).
    val persisted = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def litOf(v: Any): Option[FilterExpr.Lit] = v match {
      case l: Long => Some(FilterExpr.Lit(l))
      case x: Int => Some(FilterExpr.Lit(x.toLong))
      case sh: Short => Some(FilterExpr.Lit(sh.toLong))
      case b: Byte => Some(FilterExpr.Lit(b.toLong))
      case d: Double => Some(FilterExpr.Lit(d))
      case f: Float => Some(FilterExpr.Lit(f.toDouble))
      case str: String => Some(FilterExpr.Lit(str))
      case _ => None // exotic key domain: prune-nothing, still exact
    }
    def strengthen(key: Option[String], lo: Any, hi: Any): Unit =
      for (k <- key; l <- Option(lo).flatMap(litOf); h <- Option(hi).flatMap(litOf)) {
        val range = FilterExpr.And(
          FilterExpr.Cmp(">=", FilterExpr.Name(k), l),
          FilterExpr.Cmp("<=", FilterExpr.Name(k), h))
        outAst = if (outAst == FilterExpr.True) range else FilterExpr.And(outAst, range)
      }
    // one count for broadcast gating; key min/max ONLY when a bounds key
    // can strengthen the prune (a multi-key or non-top-level subquery's
    // min/max would be computed and thrown away)
    def countAndBounds(sub: DataFrame, boundsKey: Option[String]): (Long, Any, Any) =
      if (boundsKey.isDefined) {
        val st = sub.agg(count(lit(1)).as("n"),
          min(col("_zc_ck_0")).as("lo"), max(col("_zc_ck_0")).as("hi")).collect()(0)
        (st.getLong(0), st.get(1), st.get(2))
      } else (sub.agg(count(lit(1))).collect()(0).getLong(0), null, null)
    val steps: Seq[DataFrame => DataFrame] = subs.zipWithIndex.map { case (s, i) =>
      val subRaw = Bridge.ofRows(session, s.plan)
      // Measured exception (r16 A/B, BenchOne min-of-8): the correlated
      // IN shape LOSES ~0.5 s under the cache — its decorrelated plan is
      // a DISTINCT pair table whose cache build serializes behind the
      // count action, where un-cached its two broadcast views build
      // CONCURRENTLY (redundant compute is wall-clock-free on an idle
      // local pool). Every other shape wins; that one stays un-cached.
      val corrIn = s.corrValues.nonEmpty && !s.isExists && s.scalarType == null &&
        s.tupleValues.isEmpty
      val sub =
        if (corrIn) subRaw
        else {
          val p = subRaw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          persisted += p
          p
        }
      if (s.isExists && s.corrValues.nonEmpty) {
        // decorrelated EXISTS: the DISTINCT key-set plan evaluated ONCE;
        // the flag is a key match through a (broadcast-gated) left join
        // against keys + a hit marker. EXISTS is two-valued — a NULL
        // outer key never equals, so it lands FALSE through the
        // coalesce, exactly what the dropped correlated filter yields.
        val (n, lo, hi) = countAndBounds(sub, s.boundsKey)
        strengthen(s.boundsKey, lo, hi)
        val hit = s"_zc_ck_hit_$i"
        val keys0 = sub.withColumn(hit, lit(true))
        val keys = if (n <= Collection.DvBroadcastMaxRows) broadcast(keys0) else keys0
        val cond = s.corrValues.zipWithIndex
          .map { case (v, k) => v === col(s"_zc_ck_$k") }.reduce(_ && _)
        val ckCols = s.corrValues.indices.map(k => s"_zc_ck_$k") :+ hit
        (df: DataFrame) => df.join(keys, cond, "left")
          .withColumn(s.flag, coalesce(col(hit), lit(false)))
          .drop(ckCols: _*)
      } else if (s.isExists) {
        val exists = sub.limit(1).count() > 0
        (df: DataFrame) => df.withColumn(s.flag, lit(exists))
      } else if (s.scalarType != null && s.corrValues.nonEmpty) {
        // CORRELATED SCALAR (r12b, generalized r13): the decorrelated
        // per-key plan evaluated once; values join back by key (unique
        // per key by construction — never a row multiplication). The
        // plan's `_zc_sc_p` presence marker distinguishes an ABSENT key
        // (splice the empty-input default — the COUNT-bug fix carried
        // through arbitrary expressions) from a present key whose value
        // is legitimately NULL; an `_zc_sc_h` column is the having
        // verdict (rejected = NULL, SQL's empty result); an `_zc_sc_n`
        // column is the surviving-group count of a GROUP BY shape —
        // more than one is SQL's scalar-cardinality runtime error.
        val ckCols = s.corrValues.indices.map(k => s"_zc_ck_$k")
        val (n, _, _) = countAndBounds(sub, None)
        val has = sub.columns.toSet
        val vc = s"_zc_sc_v_$i"; val pc = s"_zc_sc_p_$i"
        val nc = s"_zc_sc_n_$i"; val hc = s"_zc_sc_h_$i"
        val vals0 = sub.withColumnRenamed("_zc_sc_v", vc)
          .withColumnRenamed("_zc_sc_p", pc)
          .withColumnRenamed("_zc_sc_n", nc)
          .withColumnRenamed("_zc_sc_h", hc)
        val vals = if (n <= Collection.DvBroadcastMaxRows) broadcast(vals0) else vals0
        val keyCond = s.corrValues.zipWithIndex
          .map { case (v, k) => v === col(s"_zc_ck_$k") }.reduce(_ && _)
        (df: DataFrame) => {
          val joined = df.join(vals, keyCond, "left")
          val defaultCol = s.scalarEmptyDefault.getOrElse(lit(null)).cast(s.scalarType)
          var value = when(col(pc).isNull, defaultCol)
          if (has.contains("_zc_sc_n"))
            value = value.when(col(nc) > 1, raise_error(lit(
              "scalar subquery in DML returned more than one row")).cast(s.scalarType))
          if (has.contains("_zc_sc_h"))
            value = value.when(!coalesce(col(hc), lit(false)),
              lit(null).cast(s.scalarType))
          val finalValue = value.otherwise(col(vc).cast(s.scalarType))
          joined.withColumn(s.flag, finalValue)
            .drop(ckCols: _*).drop(vc, pc, nc, hc)
        }
      } else if (s.scalarType != null) {
        val rows = sub.limit(2).collect()
        if (rows.length > 1)
          throw new IllegalStateException(
            "scalar subquery in DML returned more than one row")
        val v = if (rows.isEmpty) null else rows(0).get(0)
        val litCol = Bridge.column(
          org.apache.spark.sql.catalyst.expressions.Literal.create(v, s.scalarType))
        (df: DataFrame) => df.withColumn(s.flag, litCol)
      } else if (s.tupleValues.nonEmpty) {
        // 2-column TUPLE IN (r12b): `(p, q) IN (SELECT x, y ...)` with
        // EXACT three-valued semantics, decomposed by null pattern into
        // pure (broadcast-gated) hash joins — no nested loop:
        //  TRUE    iff some row matches both components (nulls never =);
        //  UNKNOWN iff no full match but some row is COMPATIBLE
        //          ((p=x or p/x null) and (q=y or q/y null)), which by
        //          pattern reduces to: both probes null -> any row;
        //          p null -> some y null OR q in Y; q null symmetric;
        //          both non-null -> some (null,null) row OR q in
        //          {y : x null} OR p in {x : y null};
        //  FALSE   otherwise (including an empty subquery).
        val Seq(p, q) = s.tupleValues
        val sc = sub.columns
        val x = col(sc(0)); val y = col(sc(1))
        val st = sub.agg(count(lit(1)).as("n"),
          coalesce(sum(when(x.isNull, 1L).otherwise(0L)), lit(0L)).as("nx"),
          coalesce(sum(when(y.isNull, 1L).otherwise(0L)), lit(0L)).as("ny"),
          coalesce(sum(when(x.isNull && y.isNull, 1L).otherwise(0L)), lit(0L)).as("nb"))
          .collect()(0)
        val n = st.getLong(0)
        val hasXNull = st.getLong(1) > 0
        val hasYNull = st.getLong(2) > 0
        val hasBothNull = st.getLong(3) > 0
        def bc(df: DataFrame) = if (n <= Collection.DvBroadcastMaxRows) broadcast(df) else df
        val mx = s"_zc_t_mx_$i"; val my = s"_zc_t_my_$i"; val mh = s"_zc_t_mh_$i"
        val ya = s"_zc_t_ya_$i"; val yah = s"_zc_t_yah_$i"
        val xa = s"_zc_t_xa_$i"; val xah = s"_zc_t_xah_$i"
        val yn = s"_zc_t_yn_$i"; val ynh = s"_zc_t_ynh_$i"
        val xn = s"_zc_t_xn_$i"; val xnh = s"_zc_t_xnh_$i"
        val m    = bc(sub.where(x.isNotNull && y.isNotNull)
          .select(x.as(mx), y.as(my)).distinct().withColumn(mh, lit(true)))
        val yAll = bc(sub.where(y.isNotNull).select(y.as(ya)).distinct()
          .withColumn(yah, lit(true)))
        val xAll = bc(sub.where(x.isNotNull).select(x.as(xa)).distinct()
          .withColumn(xah, lit(true)))
        val yXn  = bc(sub.where(x.isNull && y.isNotNull).select(y.as(yn)).distinct()
          .withColumn(ynh, lit(true)))
        val xYn  = bc(sub.where(y.isNull && x.isNotNull).select(x.as(xn)).distinct()
          .withColumn(xnh, lit(true)))
        (df: DataFrame) => {
          val j = df
            .join(m, p === col(mx) && q === col(my), "left")
            .join(yAll, q === col(ya), "left")
            .join(xAll, p === col(xa), "left")
            .join(yXn, q === col(yn), "left")
            .join(xYn, p === col(xn), "left")
          val unknown = lit(null).cast("boolean")
          val flag =
            if (n == 0L) lit(false)
            else when(coalesce(col(mh), lit(false)), lit(true))
              .when(p.isNull && q.isNull, unknown)
              .when(p.isNull,
                when(lit(hasYNull) || coalesce(col(yah), lit(false)), unknown)
                  .otherwise(lit(false)))
              .when(q.isNull,
                when(lit(hasXNull) || coalesce(col(xah), lit(false)), unknown)
                  .otherwise(lit(false)))
              .otherwise(
                when(lit(hasBothNull) || coalesce(col(ynh), lit(false)) ||
                    coalesce(col(xnh), lit(false)), unknown)
                  .otherwise(lit(false)))
          j.withColumn(s.flag, flag)
            .drop(mx, my, mh, ya, yah, xa, xah, yn, ynh, xn, xnh)
        }
      } else if (s.corrValues.nonEmpty) {
        // correlated IN: the decorrelated DISTINCT (key..., value) pair
        // table drives SQL's three-valued IN PER GROUP — FALSE when the
        // row's key group is empty (even for a null probe), TRUE on a
        // pair match, NULL when the probe is null or the group holds a
        // null value, FALSE otherwise. Two broadcast-gated left joins:
        // per-key group facts, then the exact pair match (both unique
        // by construction — never a row multiplication).
        val ckCols = s.corrValues.indices.map(k => s"_zc_ck_$k")
        val (n, lo, hi) = countAndBounds(sub, s.boundsKey)
        strengthen(s.boundsKey, lo, hi)
        val grpHit = s"_zc_g_hit_$i"; val grpNull = s"_zc_g_null_$i"
        val groups0 = sub.groupBy(ckCols.map(col): _*)
          .agg(max(col("_zc_inv").isNull).as(grpNull))
          .withColumn(grpHit, lit(true))
        val mHit = s"_zc_m_hit_$i"; val mVal = s"_zc_m_v_$i"
        val matches0 = sub.where(col("_zc_inv").isNotNull)
          .withColumnRenamed("_zc_inv", mVal)
          .withColumn(mHit, lit(true))
        val (groups, matches) =
          if (n <= Collection.DvBroadcastMaxRows) (broadcast(groups0), broadcast(matches0))
          else (groups0, matches0)
        val keyCond = s.corrValues.zipWithIndex
          .map { case (v, k) => v === col(s"_zc_ck_$k") }.reduce(_ && _)
        (df: DataFrame) => {
          val withGroup = df.join(groups, keyCond, "left").drop(ckCols: _*)
          val withMatch = withGroup
            .join(matches, keyCond && s.value === col(mVal), "left")
          val flag = when(col(grpHit).isNull, lit(false))
            .when(coalesce(col(mHit), lit(false)), lit(true))
            .when(s.value.isNull || col(grpNull), lit(null).cast("boolean"))
            .otherwise(lit(false))
          withMatch.withColumn(s.flag, flag)
            .drop(ckCols: _*).drop(grpHit, grpNull, mHit, mVal)
        }
      } else {
        val vCol = sub.columns.head
        val stats = sub.agg(count(lit(1)).as("n"), count(col(vCol)).as("nn"),
          min(col(vCol)).as("lo"), max(col(vCol)).as("hi")).collect()(0)
        val n = stats.getLong(0)
        val hasNull = n > stats.getLong(1)
        val joinName = s"_zc_subq_v_$i"
        val vals0 = sub.select(col(vCol).as(joinName)).where(col(joinName).isNotNull).distinct()
        val vals = if (n <= Collection.DvBroadcastMaxRows) broadcast(vals0) else vals0
        strengthen(s.boundsKey, stats.get(2), stats.get(3))
        (df: DataFrame) => {
          val joined = df.join(vals, s.value === col(joinName), "left")
          val flag =
            if (n == 0L) lit(false)
            else when(col(joinName).isNotNull, lit(true))
              .otherwise(when(s.value.isNull || lit(hasNull),
                lit(null).cast("boolean")).otherwise(lit(false)))
          joined.withColumn(s.flag, flag).drop(joinName)
        }
      }
    }
    (steps.foldLeft(identity[DataFrame] _)((acc, f) => acc.andThen(f)), outAst,
      () => persisted.foreach(_.unpersist(blocking = false)))
  }
}

/** `UPDATE graft table` lowered onto [[Collection.updateWhereCols]]. */
case class GraftUpdateCommand(root: String, sets: Seq[(String, Column)],
                              cond: Column, prune: Seq[SFilter],
                              subs: Seq[DmlSubquery] = Nil)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftDmlCommands.filesOutput
  override def run(session: SparkSession): Seq[Row] = {
    // `UPDATE t SET v = v`: identity pruning leaves no assignment — a
    // legal no-op statement, not an engine error
    if (sets.isEmpty) return Seq(Row(0))
    val c = Collection.open(session, root)
    val ast0 = GraftDmlCommands.pruneAst(session, c, prune)
    val (augment, ast, release) = GraftDmlCommands.subqueryAugment(session, ast0, subs)
    try Seq(Row(c.updateWhereCols(cond, ast, sets.toMap, augment).size))
    finally release()
  }
}

/** Row-level `DELETE FROM` fallback (predicate outside the exact
  * pushdown domain) lowered onto [[Collection.deleteWhereCols]]. */
case class GraftDeleteCommand(root: String, cond: Column, prune: Seq[SFilter],
                              subs: Seq[DmlSubquery] = Nil)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftDmlCommands.filesOutput
  override def run(session: SparkSession): Seq[Row] = {
    val c = Collection.open(session, root)
    val ast0 = GraftDmlCommands.pruneAst(session, c, prune)
    val (augment, ast, release) = GraftDmlCommands.subqueryAugment(session, ast0, subs)
    try Seq(Row(c.deleteWhereCols(cond, ast, augment).size))
    finally release()
  }
}

/** `MERGE INTO graft table` lowered onto [[Collection.mergeInto]]. The
  * source plan re-analyzes at run time (it was resolved as part of the
  * original statement). */
case class GraftMergeCommand(root: String, source: LogicalPlan, on: Seq[String],
                             whenMatched: WhenMatched, insertUnmatched: Boolean,
                             bySource: WhenNotMatchedBySource,
                             insertGate: Option[Column] = None,
                             insertProjection: Option[Map[String, Column]] = None)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftDmlCommands.filesOutput
  override def run(session: SparkSession): Seq[Row] = {
    val c = Collection.open(session, root)
    val src = Bridge.ofRows(session, source)
    Seq(Row(c.mergeInto(src, on, whenMatched, insertUnmatched, bySource,
      insertGate, insertProjection).size))
  }
}
