package graft.plans

import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Filter, HintInfo, Join, JoinHint, LeafNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule

import graft.operators.SketchPlanner
import graft.operators.SketchPlanner.{ChainStep, StarStep}

/** AUTOMATIC sketch-driven join-chain reorder — the round-13 verdict's
  * "engine-behavior" close of the planner arc: `SketchPlanner.planChain`
  * prices and builds the right join tree, but a user had to CALL it;
  * this [[Rule]] detects a left-deep LINEAR equi-join chain over base
  * relations in an optimized logical plan, prices its edges from
  * per-side CMS sketches, and rebuilds the tree in
  * [[SketchPlanner.decideChain]]'s greedy order with broadcast hints —
  * so an existing `a.join(b, "k1").join(c, "k2").join(d, "k3")` query
  * gets the reorder without being rewritten by hand.
  *
  * Called, not installed: a query that wants the reorder applies the
  * rule to its own optimized plan
  * (`GraftSqlBridge.optimizedWith(df, RewriteChainJoin)`); the session
  * optimizer never runs it, so no other query's plan changes. Pricing
  * EXECUTES bounded sketch jobs — the same execute-inside-planning
  * shape as AQE's runtime stats and dynamic partition pruning's
  * subquery, costing one counting scan per (table, key) whose shuffle
  * payload is the constant-size sketch; the session-level
  * [[SketchPlanner.SketchCatalog]] makes repeat decisions over the same
  * corpus free. Those sketch queries go through the session optimizer,
  * which does not hold this rule, so they are never priced themselves.
  *
  * Conservative matching, in the RewriteWindowTopK tradition:
  *   - INNER joins only, single `EqualTo` between attributes, no
  *     existing join hints (never fight an explicit user hint);
  *   - every chain side must be a base relation — a leaf, optionally
  *     under deterministic Project/Filter (the subtrees are re-executed
  *     for sketching, so they must be cheap scans and deterministic);
  *   - LINEAR chains (join i's chain-side key comes from table i) price
  *     through `decideChainCols`' greedy segment merge; STAR shapes
  *     (every key from the spine-bottom fact, each dim on a DISTINCT
  *     fact key — the q48 market-share tree) price through
  *     [[SketchPlanner.decideStar]]: most-selective dim first,
  *     broadcast under the budget (round-14 verdict task 3). A mixed
  *     shape (snowflake branch off a dim) matches neither — untouched;
  *   - ≥ 3 tables (a 2-table "chain" has nothing to reorder).
  *
  * Safety: inner-join reorder with unchanged conditions is semantics-
  * preserving; a `Project(original output, ...)` on top restores the
  * exact attribute order so any parent (positional consumers included)
  * is untouched. Attribute-only Projects BETWEEN spine joins (using-
  * join key drops) are seen through and not rebuilt — every attribute
  * they pruned is re-pruned by the top Project, and downstream
  * EnsureRequirements/AQE never see a semantic difference
  * (ChainReorderSpec pins result equality and the rewritten plan's
  * canonical equality with `buildChain`'s).
  *
  * One pass: the rewrite is a single top-down walk that replaces the
  * outermost chain whole and never descends into its replacement, so
  * each chain is priced once per application, and a left-to-right
  * decision with no hints returns the node unchanged.
  */
object RewriteChainJoin extends Rule[LogicalPlan] {

  /** tables(i) ⋈ tables(i+1) on conds(i) = (attr of table i, attr of
    * table i+1) — the decideChain convention extracted from a plan. */
  private case class Chain(tables: Vector[LogicalPlan],
                           conds: Vector[(Attribute, Attribute)])

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val session = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession).orNull
    if (session == null) plan else rewrite(session, plan)
  }

  /** Top-down manual recursion: rewrite the OUTERMOST chain whole and do
    * not descend into its replacement (its children are base relations).
    * The preferred anchor is the `Project(pl, join)` PAIR — the analyzer
    * always leaves such a projection over a using-join chain and the
    * optimizer's top user projection survives above it — because the
    * Project tells us exactly which attributes the world above needs, so
    * the rebuilt tree prunes like the original (no duplicate join keys
    * riding to the top). A bare Join anchor (positional or expression
    * parents) gets the conservative form: keep everything, restore the
    * exact output order with a Project. */
  private def rewrite(s: SparkSession, plan: LogicalPlan): LogicalPlan =
    plan match {
      case p @ Project(pl, j: Join) =>
        reordered(s, j, AttributeSet(pl.flatMap(_.references))) match {
          case Some(r) => r.map(Project(pl, _)).getOrElse(p)
          case None => p.mapChildren(rewrite(s, _))
        }
      case j: Join =>
        reordered(s, j, j.outputSet) match {
          // restore the original attribute order for positional parents
          case Some(r) => r.map(Project(j.output, _)).getOrElse(j)
          case None => j.mapChildren(rewrite(s, _))
        }
      case other => other.mapChildren(rewrite(s, _))
    }

  /** None when `j` roots neither a chain of ≥ 3 tables nor a star;
    * otherwise the rebuilt tree, or Some(None) when the decision IS the
    * plan as written. */
  private def reordered(s: SparkSession, j: Join,
      needed: AttributeSet): Option[Option[LogicalPlan]] =
    extract(j).filter(_.tables.size >= 3).map(reorder(s, _, needed))
      .orElse(extractStar(j).map(reorderStar(s, _, needed)))

  /** Price and rebuild; None when the decision IS the existing plan. */
  private def reorder(s: SparkSession, ch: Chain,
      needed: AttributeSet): Option[LogicalPlan] = {
    val steps = price(s, ch)
    val leftToRightNoHints = ch.conds.indices.map(i =>
      ChainStep(i, bcastLeft = false, bcastRight = false))
    if (steps == leftToRightNoHints) None // the plan is already the decision
    else Some(build(ch, steps, needed))
  }

  /** Attribute-only Projects between spine joins (using-join key drops /
    * pruning) are transparent for extraction; the sides they fed keep
    * their own subtrees verbatim. */
  private def stripSpineProjects(p: LogicalPlan): LogicalPlan = p match {
    case Project(pl, child) if pl.forall(_.isInstanceOf[AttributeReference]) =>
      stripSpineProjects(child)
    case other => other
  }

  /** A chain side we are willing to (a) treat as a unit and (b) re-scan
    * for sketching: a leaf under deterministic Project/Filter only. */
  private def isBaseRelation(p: LogicalPlan): Boolean = p match {
    case _: LeafNode => true
    case Project(pl, c) if pl.forall(_.deterministic) => isBaseRelation(c)
    case Filter(cond, c) if cond.deterministic => isBaseRelation(c)
    case _ => false
  }

  private def extract(plan: LogicalPlan): Option[Chain] = plan match {
    case Join(l, r, Inner, Some(cond), hint) if hint == JoinHint.NONE &&
        isBaseRelation(r) =>
      val base: Option[Chain] = stripSpineProjects(l) match {
        case inner: Join => extract(inner)
        case _ if isBaseRelation(l) => Some(Chain(Vector(l), Vector.empty))
        case _ => None
      }
      for {
        ch <- base
        oriented <- orient(cond, ch, r)
        // LINEAR: the chain-side key must come from the LAST table
        if ch.tables.last.outputSet.contains(oriented._1)
      } yield Chain(ch.tables :+ r, ch.conds :+ oriented)
    case _ => None
  }

  /** Normalize an equi-condition to (chain-side attr, new-table attr). */
  private def orient(cond: Expression, ch: Chain,
      r: LogicalPlan): Option[(Attribute, Attribute)] = cond match {
    case EqualTo(a: AttributeReference, b: AttributeReference) =>
      def inChain(x: Attribute) = ch.tables.exists(_.outputSet.contains(x))
      if (inChain(a) && r.outputSet.contains(b)) Some((a, b))
      else if (inChain(b) && r.outputSet.contains(a)) Some((b, a))
      else None
    case _ => None
  }

  /** Price the chain's edges — decideChain over DataFrames wrapped from
    * the extracted subtrees. */
  private def price(s: SparkSession, ch: Chain): Seq[ChainStep] =
    SketchPlanner.decideChainCols(
      ch.tables.map(t => GraftSqlBridge.ofRows(s, t)),
      ch.conds.map { case (ca, ra) =>
        (GraftSqlBridge.column(ca), GraftSqlBridge.column(ra))
      })

  // ───────────────────────── star shapes ─────────────────────────

  /** One fact (the spine's bottom-left base relation) joined by N ≥ 2
    * dims, every equi-key on the FACT side — the TPC-H shape q48's
    * market-share tree takes (round-14 verdict task 3). conds(i) =
    * (fact attr, dim attr) for dims(i). */
  private case class Star(fact: LogicalPlan, dims: Vector[LogicalPlan],
                          conds: Vector[(Attribute, Attribute)])

  /** Match a left-deep spine of hint-free inner EqualTo joins whose
    * right sides are base relations. Each spine entry attaches either
    * to the FACT (opening a new branch) or to exactly one EARLIER
    * branch (extending it — the SNOWFLAKE case, r15 verdict task 6:
    * the TPC-H q5/q48 shape where region→nation chains hang off a
    * customer/supplier dim). Branches collapse into single dim
    * subtrees — the spine joins that built them fold back in their
    * written order — and the star is (fact, collapsed branches), each
    * branch anchored on a DISTINCT fact key (two branches sharing one
    * fact key are closer to a chain through that key; stay
    * conservative). The decider then prices each COLLAPSED branch as
    * one dim: |fact ⋈ branch| retention orders the branches, the
    * branch's own output count decides its broadcast. */
  private def extractStar(plan: LogicalPlan): Option[Star] = {
    def spine(p: LogicalPlan)
        : Option[(LogicalPlan, Vector[(LogicalPlan, Expression)])] = p match {
      case Join(l, r, Inner, Some(cond), hint) if hint == JoinHint.NONE &&
          isBaseRelation(r) =>
        stripSpineProjects(l) match {
          case inner: Join =>
            spine(inner).map { case (f, ds) => (f, ds :+ ((r, cond))) }
          // the fact keeps its OWN subtree verbatim (projection included
          // — stripping it would widen every intermediate row); the
          // strip is only for seeing through spine projects to the Join
          case _ if isBaseRelation(l) => Some((l, Vector((r, cond))))
          case _ => None
        }
      case _ => None
    }
    for {
      (fact, ds) <- spine(plan)
      if ds.size >= 2
      star <- assembleBranches(fact, ds)
    } yield star
  }

  /** Fold spine entries into fact-anchored branches: an entry whose key
    * comes from the fact opens a branch; one whose key comes from an
    * existing branch joins INTO that branch (in written order, original
    * condition, hint-free). Declines on any other attachment. */
  private def assembleBranches(fact: LogicalPlan,
      ds: Vector[(LogicalPlan, Expression)]): Option[Star] = {
    type B = (LogicalPlan, (Attribute, Attribute)) // (branch plan, fact cond)
    val folded = ds.foldLeft(Option(Vector.empty[B])) {
      case (accOpt, (r, cond)) => accOpt.flatMap { acc =>
        cond match {
          case EqualTo(a: AttributeReference, b: AttributeReference) =>
            val oriented = // (anchor-side attr, attr in r)
              if (r.outputSet.contains(b) && !r.outputSet.contains(a))
                Some((a: Attribute, b: Attribute))
              else if (r.outputSet.contains(a) && !r.outputSet.contains(b))
                Some((b: Attribute, a: Attribute))
              else None
            oriented.flatMap { case (x, y) =>
              if (fact.outputSet.contains(x))
                Some(acc :+ ((r: LogicalPlan, (x, y))))
              else acc.indexWhere(_._1.outputSet.contains(x)) match {
                case -1 => None // attaches to nothing we track
                case i =>
                  val (bp, fc) = acc(i)
                  Some(acc.updated(i,
                    (Join(bp, r, Inner, Some(cond), JoinHint.NONE), fc)))
              }
            }
          case _ => None
        }
      }
    }
    folded.filter(bs => bs.size >= 2 &&
        bs.map(_._2._1.exprId).distinct.size == bs.size)
      .map(bs => Star(fact, bs.map(_._1), bs.map(_._2)))
  }

  /** Price and rebuild a star; None when the decision is the literal
    * order with no broadcast hints — the plan as written. */
  private def reorderStar(s: SparkSession, st: Star,
      needed: AttributeSet): Option[LogicalPlan] = {
    val steps = priceStar(s, st)
    val literal = st.conds.indices.map(i => StarStep(i, bcastDim = false))
    if (steps == literal) None
    else Some(buildStar(st, steps, needed))
  }

  private def priceStar(s: SparkSession, st: Star): Seq[StarStep] =
    SketchPlanner.decideStar(
      GraftSqlBridge.ofRows(s, st.fact),
      st.dims.map(d => GraftSqlBridge.ofRows(s, d)),
      st.conds.map { case (fa, da) =>
        (GraftSqlBridge.column(fa), GraftSqlBridge.column(da))
      })

  /** Fold the fact through the dims in decided order with the original
    * EqualTo conditions; broadcast hints land on the dim side. Every
    * non-final join is topped with a Project pruned to what the world
    * above plus the not-yet-joined conditions still need, in child
    * output order — the plan ColumnPruning produces for the manual
    * [[SketchPlanner.buildStar]] fold, which keeps the rewrite
    * canonically comparable and intermediate rows narrow. */
  private def buildStar(st: Star, steps: Seq[StarStep],
      needed: AttributeSet): LogicalPlan = {
    var acc: LogicalPlan = st.fact
    steps.zipWithIndex.foreach { case (sp, k) =>
      val (fa, da) = st.conds(sp.edge)
      val hint = JoinHint(None,
        if (sp.bcastDim) Some(HintInfo(strategy = Some(BROADCAST))) else None)
      val joined = Join(acc, st.dims(sp.edge), Inner,
        Some(EqualTo(fa, da)), hint)
      acc =
        if (k == steps.size - 1) joined
        else {
          val keep = needed ++ AttributeSet(steps.drop(k + 1)
            .flatMap(s2 => Seq(st.conds(s2.edge)._1, st.conds(s2.edge)._2)))
          val out = joined.output.filter(keep.contains)
          if (out == joined.output) joined else Project(out, joined)
        }
    }
    acc
  }

  /** buildChain's segment-patching merge, emitting logical Joins with
    * the ORIGINAL conditions and broadcast hints from the decision.
    * Every NON-FINAL merge is topped with a using-join-ordered Project
    * ([key, left others, right others]) FILTERED to the attributes the
    * world above still needs (`needed` from the anchor + every
    * not-yet-merged edge condition) — exactly the plan the analyzer's
    * using-join projection plus the optimizer's ColumnPruning produce
    * for `buildChain`, which is what makes the rewritten plan
    * canonicalize equal to it and keeps intermediate joins from
    * shipping duplicate key columns. The final merge stays bare: the
    * anchor's own Project sits directly above it, as CollapseProject
    * leaves it in the manual plan. */
  private def build(ch: Chain, steps: Seq[ChainStep],
      needed: AttributeSet): LogicalPlan = {
    var segs = ch.tables.indices.map(i => (i, i, ch.tables(i))).toVector
    val remaining = scala.collection.mutable.Set(ch.conds.indices: _*)
    steps.zipWithIndex.foreach { case (st, k) =>
      val j = segs.indexWhere(_._2 == st.edge)
      require(j >= 0 && j < segs.size - 1, s"step $st does not fit $segs")
      remaining -= st.edge
      val (l, r) = (segs(j), segs(j + 1))
      val (ca, ra) = ch.conds(st.edge)
      val hint = JoinHint(
        if (st.bcastLeft) Some(HintInfo(strategy = Some(BROADCAST))) else None,
        if (st.bcastRight) Some(HintInfo(strategy = Some(BROADCAST))) else None)
      val joined = Join(l._3, r._3, Inner, Some(EqualTo(ca, ra)), hint)
      val node: LogicalPlan =
        if (k == steps.size - 1) joined
        else {
          val keep = needed ++ AttributeSet(
            remaining.toSeq.flatMap(i => Seq(ch.conds(i)._1, ch.conds(i)._2)))
          // ra stays a CANDIDATE and lives or dies by `keep` like every
          // other attribute: using-origin chains never need it (the
          // buildChain-canonical drop), but an EqualTo-origin chain's
          // root output legitimately carries it (bare-Join anchor) and
          // the restoring top Project must still resolve
          val out = (ca +: (l._3.output.filterNot(_.exprId == ca.exprId) ++
            r._3.output)).filter(keep.contains)
          Project(out, joined)
        }
      segs = segs.patch(j, Vector((l._1, r._2, node)), 2)
    }
    segs.head._3
  }
}
