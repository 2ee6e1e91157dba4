package graft.lake

import org.apache.spark.sql.catalyst.expressions._

/** Catalyst filter → [[LakePredicate]] conjunct extraction, shared by
  * the SQL read path ([[graft.plans.LakeSqlRule]] pushes WHERE
  * conjuncts into `scan(preds)`) and the DML planner ([[LakeDml]]
  * bounds a statement's touched-file footprint from manifest stats
  * without a data scan).
  *
  * Sound by construction: every extracted predicate is IMPLIED by the
  * original condition evaluating to TRUE (strict bounds relax to
  * inclusive ones, NULL-condition rows satisfy nothing), and callers
  * only ever use the predicates to DROP provably-dead dirs/files or
  * to UPPER-bound a matched set — never to replace the exact filter.
  */
private[graft] object PredicateExtract {

  /** The literal side, through type-coercion wrappers: `id = 317`
    * analyzes as `EqualTo(id, Cast(317 AS BIGINT))` — any
    * deterministic foldable expression collapses to its value
    * (constant folding has not run yet at analysis time).
    */
  private object Lit {
    def unapply(e: Expression): Option[Literal] = e match {
      case l: Literal => Some(l)
      case _ if e.foldable && e.deterministic =>
        scala.util.Try(Literal.create(e.eval(), e.dataType)).toOption
      case _ => None
    }
  }

  /** The attribute side, through NO-OP casts (in-list coercion wraps
    * `id IN (...)` as `cast(id as bigint) IN (...)` even when id is
    * already bigint; a type-CHANGING cast never strips — pushing the
    * raw column against a differently-typed probe is not implied).
    */
  private object Attr {
    def unapply(e: Expression): Option[AttributeReference] = e match {
      case a: AttributeReference => Some(a)
      case c: Cast if c.dataType == c.child.dataType => unapply(c.child)
      case _ => None
    }
  }

  def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other     => Seq(other)
  }

  /** Simple comparison conjuncts of `cond` over attributes in `attrs`,
    * as [[LakePredicate]]s.
    */
  def extract(cond: Expression, attrs: AttributeSet): Seq[LakePredicate] = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToScala
    import graft.lake.{LakePredicate => LP}
    def value(l: Literal): Option[Any] =
      if (l.value == null) None else Some(convertToScala(l.value, l.dataType))
    conjuncts(cond).flatMap {
      case EqualTo(Attr(a), Lit(l)) if attrs.contains(a) =>
        value(l).map(LP.EqualTo(a.name, _))
      case EqualTo(Lit(l), Attr(a)) if attrs.contains(a) =>
        value(l).map(LP.EqualTo(a.name, _))
      case GreaterThanOrEqual(Attr(a), Lit(l)) if attrs.contains(a) =>
        value(l).map(LP.GtEq(a.name, _))
      case LessThanOrEqual(Lit(l), Attr(a)) if attrs.contains(a) =>
        value(l).map(LP.GtEq(a.name, _))
      case LessThanOrEqual(Attr(a), Lit(l)) if attrs.contains(a) =>
        value(l).map(LP.LtEq(a.name, _))
      case GreaterThanOrEqual(Lit(l), Attr(a)) if attrs.contains(a) =>
        value(l).map(LP.LtEq(a.name, _))
      // strict bounds relax to inclusive — still implied, still prune
      case GreaterThan(Attr(a), Lit(l)) if attrs.contains(a) =>
        value(l).map(LP.GtEq(a.name, _))
      case LessThan(Lit(l), Attr(a)) if attrs.contains(a) =>
        value(l).map(LP.GtEq(a.name, _))
      case LessThan(Attr(a), Lit(l)) if attrs.contains(a) =>
        value(l).map(LP.LtEq(a.name, _))
      case GreaterThan(Lit(l), Attr(a)) if attrs.contains(a) =>
        value(l).map(LP.LtEq(a.name, _))
      // IN over literals → multi-point pruning (non-null values only;
      // a NULL element never equals-true, so dropping it is implied)
      case In(Attr(a), list) if attrs.contains(a) &&
          list.nonEmpty && list.forall(Lit.unapply(_).isDefined) =>
        val vs = list.flatMap(e => value(Lit.unapply(e).get))
        if (vs.isEmpty) None else Some(LP.In(a.name, vs))
      case _ => None
    }
  }

  /** Extraction for a DataFrame-API condition: analyze
    * `df.where(cond)` (no job — analysis only) so names resolve and
    * coercions apply, then extract from the top Filter.
    */
  def fromCondition(df: org.apache.spark.sql.DataFrame,
                    cond: org.apache.spark.sql.Column): Seq[LakePredicate] =
    scala.util.Try {
      df.where(cond).queryExecution.analyzed.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          extract(f.condition, f.child.outputSet)
      }.getOrElse(Nil)
    }.getOrElse(Nil)

  /** LOSSLESS covering extraction for metadata-DML proofs: Some only
    * when EVERY conjunct of `cond` maps to a [[FileStats.KeyPred]] —
    * strictness preserved (relaxing `>` to `>=` prunes soundly but
    * proves unsoundly), values typed by the column into the numeric
    * key domain. Any unmappable conjunct (OR, functions, string/binary
    * domains, null literal, unresolved attr) → None and the caller
    * must not use the coverage proof.
    */
  def covering(cond: Expression, attrs: AttributeSet): Option[Seq[FileStats.KeyPred]] = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToScala
    def cover(a: AttributeReference, op: String, l: Literal): Option[FileStats.KeyPred] =
      if (!attrs.contains(a) || l.value == null) None
      else FileStats.probeKey(convertToScala(l.value, l.dataType), a.dataType)
        .filter(_.isLeft).map(k => new FileStats.KeyPred(a.name, op, Seq(Some(k))))
    val covers = conjuncts(cond).map {
      case EqualTo(Attr(a), Lit(l))            => cover(a, "in", l)
      case EqualTo(Lit(l), Attr(a))            => cover(a, "in", l)
      case GreaterThanOrEqual(Attr(a), Lit(l)) => cover(a, "gteq", l)
      case LessThanOrEqual(Lit(l), Attr(a))    => cover(a, "gteq", l)
      case GreaterThan(Attr(a), Lit(l))        => cover(a, "gt", l)
      case LessThan(Lit(l), Attr(a))           => cover(a, "gt", l)
      case LessThanOrEqual(Attr(a), Lit(l))    => cover(a, "lteq", l)
      case GreaterThanOrEqual(Lit(l), Attr(a)) => cover(a, "lteq", l)
      case LessThan(Attr(a), Lit(l))           => cover(a, "lt", l)
      case GreaterThan(Lit(l), Attr(a))        => cover(a, "lt", l)
      case _ => None
    }
    if (covers.exists(_.isEmpty)) None else Some(covers.flatten)
  }

  /** [[covering]] for a DataFrame-API condition (analysis only). */
  def coveringFromCondition(df: org.apache.spark.sql.DataFrame,
                            cond: org.apache.spark.sql.Column)
      : Option[Seq[FileStats.KeyPred]] =
    scala.util.Try {
      df.where(cond).queryExecution.analyzed.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          covering(f.condition, f.child.outputSet)
      }.flatten
    }.toOption.flatten
}
