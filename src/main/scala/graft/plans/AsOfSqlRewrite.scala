package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, BinaryExpression, Cast, EqualTo, Expression, IsNotNull, PredicateHelper}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.{Cross, Inner, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{BooleanType, DataType, TimestampType}

/** SQL surface for the as-of join WITHOUT forking Spark's parser: analysts
  * write a standard join whose condition carries the boolean marker
  * function
  *
  *   SELECT e.event_id, o.best_price
  *   FROM events e JOIN order_prices o
  *     ON e.user_id = o.o_custkey AND graft_asof(e.ts, o.o_orderdate)
  *
  * and [[RewriteAsOfJoin]] (injected via `GraftExtensions` /
  * [[AsOfStrategy.setup]]) rewrites the analyzed Join into
  * [[AsOfJoinNode]], planned by [[AsOfStrategy]] as the sort-merge as-of
  * operator. INNER join = matched rows only; LEFT join = unmatched left
  * rows keep nulls. Because the rewrite happens AFTER analysis, Catalyst's
  * join attribute dedup has already run — self-joins work unaliased here,
  * unlike the programmatic `AsOfJoin.merge`.
  */
case class GraftAsOfMarker(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_asof"
  // Deliberately NOT Unevaluable: evaluable-looking markers are folded
  // into join conditions by PushPredicateThroughJoin (Unevaluable fails
  // canEvaluateWithinJoin), which is exactly where the rewrite looks. If
  // the rewrite declined and the marker survives to execution, fail with
  // guidance instead of a generic cannot-evaluate error.
  override def eval(input: InternalRow): Any =
    throw new UnsupportedOperationException(
      "graft_asof(leftTime, rightTime) is an as-of join marker, not an " +
        "evaluable predicate. Write it as a top-level AND conjunct of an " +
        "INNER/LEFT equi-join condition (every other conjunct must be a " +
        "simple column equality between the two sides), and make sure " +
        "GraftExtensions (or GraftFunctions.register) is active so " +
        "RewriteAsOfJoin can rewrite the join.")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): GraftAsOfMarker = copy(left = l, right = r)
}

object RewriteAsOfJoin extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(l, r, jt, Some(cond), _)
        if (jt == Inner || jt == Cross || jt == LeftOuter) &&
          cond.exists(_.isInstanceOf[GraftAsOfMarker]) =>
      rewrite(l, r, jt == Inner || jt == Cross,
        splitConjunctivePredicates(cond)).getOrElse(j)

    // comma-join/WHERE form: PushPredicateThroughJoin pushes the equi
    // conjuncts into the join but keeps the marker in a Filter above it
    // (Unevaluable fails canEvaluateWithinJoin) — match that shape too
    case f @ Filter(cond, Join(l, r, jt, joinCond, _))
        if (jt == Inner || jt == Cross) &&
          cond.exists(_.isInstanceOf[GraftAsOfMarker]) =>
      val conj = splitConjunctivePredicates(cond) ++
        joinCond.toSeq.flatMap(splitConjunctivePredicates)
      rewrite(l, r, inner = true, conj).getOrElse(f)
  }

  private def rewrite(l: LogicalPlan, r: LogicalPlan,
      inner: Boolean, conj: Seq[Expression]): Option[LogicalPlan] = {
    val markers = conj.collect { case m: GraftAsOfMarker => m }
    val rest = conj.filterNot(_.isInstanceOf[GraftAsOfMarker])
    val equis: Seq[Option[(Attribute, Attribute)]] = rest.map {
      case EqualTo(a: Attribute, b: Attribute)
          if l.outputSet.contains(a) && r.outputSet.contains(b) => Some((a, b))
      case EqualTo(b: Attribute, a: Attribute)
          if l.outputSet.contains(a) && r.outputSet.contains(b) => Some((a, b))
      case _ => None
    }
    if (markers.length != 1 || !equis.forall(_.isDefined)) return None
    val m = markers.head
    // orient the marker's (leftTime, rightTime) by which side each
    // argument's references come from
    val oriented: Option[(Expression, Expression)] =
      if (m.left.references.nonEmpty && m.right.references.nonEmpty &&
        m.left.references.subsetOf(l.outputSet) &&
        m.right.references.subsetOf(r.outputSet)) Some((m.left, m.right))
      else if (m.left.references.nonEmpty && m.right.references.nonEmpty &&
        m.left.references.subsetOf(r.outputSet) &&
        m.right.references.subsetOf(l.outputSet)) Some((m.right, m.left))
      else None
    oriented.map { case (lt, rt) =>
      val zone = Some(conf.sessionLocalTimeZone)
      val (lk, rk) = equis.flatten.unzip
      // SQL equality is null-rejecting, but the merge exec's RowOrdering
      // compares null == null — a user-written `e.k = o.k` must not turn
      // into null-matching semantics. Filter null right keys always (they
      // can never match); null LEFT keys only under inner — a LEFT join
      // keeps them as unmatched rows, which the filtered right side now
      // guarantees (no null-keyed right rows remain to pair with them).
      def notNullFilter(child: LogicalPlan, keys: Seq[Attribute]): LogicalPlan =
        keys.filter(_.nullable).map(IsNotNull(_): Expression)
          .reduceOption(And) match {
          case Some(cond) => Filter(cond, child)
          case None => child
        }
      val lFiltered = if (inner) notNullFilter(l, lk) else l
      val rFiltered = notNullFilter(r, rk)
      // value attrs KEEP the right side's exprIds so downstream
      // references resolve unchanged; LEFT join makes them nullable
      val valueAttrs =
        if (inner) r.output else r.output.map(_.withNullability(true))
      AsOfJoinNode(lFiltered, rFiltered, lk, rk,
        Cast(lt, TimestampType, zone), Cast(rt, TimestampType, zone),
        valueExprs = r.output, valueAttrs = valueAttrs, inner = inner)
    }
  }
}
