package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Cross, FullOuter, Inner, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType
import graft.joins.SpatialPredicate
import graft.functions.GeomScalars
import RangeJoinShapes.hasEquiConjunct

/** Planner-level large-large spatial join — the 100 TB path for SQL users.
  *
  * When a join condition carries a spatial predicate and NEITHER side fits
  * the broadcast threshold, rewrites the logical join into the
  * grid-partitioned form (the reference's out-of-core partitioned join,
  * rust/sedona-spatial-join/src/partitioning/kdb.rs:20-46 multi-assignment
  * + dedup, re-expressed with Spark relational operators):
  *
  *   Join(L, R, pred(lg, rg))
  *     =>
  *   Project(L.out ++ R.out,
  *     Join(Generate(explode(gridcells(lg)), L)  as L + __lcell,
  *          Generate(explode(gridcells(rg)), R)  as R + __rcell,
  *          Inner, __lcell = __rcell
  *                 AND pred(lg, rg)
  *                 AND refcell(lg, rg) = __lcell))   -- reference-point dedup
  *
  * The rewritten join has an equi-conjunct on the cell id, so Catalyst
  * plans a shuffled hash / sort-merge join: the shuffle machinery, AQE
  * skew-split (hot cells), and codegen all apply — exactly what a
  * hand-rolled out-of-core spatial join would have to re-implement.
  * ST_DWithin / ST_Distance < d joins expand the left envelope by d for
  * cell assignment and dedup, so cross-cell pairs within d still co-locate.
  *
  * Grid bounds come from `spark.graft.join.grid.bounds` ("xmin,ymin,
  * xmax,ymax") when set; otherwise a bounds pre-pass (min/max of the two
  * sides' envelopes — a partial-aggregated single-column scan, the Spark
  * analog of the reference's bbox sampling, option.rs:110-120) runs once at
  * optimization time. Resolution from `spark.graft.join.grid.nx/ny`
  * (default 64x64; size so a cell holds O(10k) rows at your scale).
  * `spark.graft.join.grid.enabled=false` disables the rewrite (falls back
  * to BroadcastNestedLoopJoin).
  *
  * Join types: INNER / CROSS, plus two through [[OuterFromInner]]:
  * large-large LEFT OUTER (this rule's rewrite over a row-id-tagged left)
  * and FULL OUTER at every size (the plain inner join over both tagged
  * sides).
  */
case class GridSpatialJoinRule(session: SparkSession) extends Rule[LogicalPlan] {

  private def conf(key: String, default: String): String =
    session.conf.getOption(key).getOrElse(default)

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (conf("spark.graft.join.grid.enabled", "true") != "true") return plan
    plan.transformUp {
      case j @ Join(left, right, jt, Some(cond), _)
          if (jt == Inner || jt == Cross) && !hasEquiConjunct(cond, left, right)
            && bothLarge(left, right) =>
        SpatialPredicate.extract(cond, left, right) match {
          case Some(ex) if ex.distance.forall(_.references.subsetOf(left.outputSet)) =>
            rewrite(left, right, ex).getOrElse(j)
          case _ => j
        }
      case j @ Join(left, right, LeftOuter, Some(cond), _)
          if !hasEquiConjunct(cond, left, right) && bothLarge(left, right) =>
        SpatialPredicate.extract(cond, left, right) match {
          case Some(ex) if ex.distance.forall(_.references.subsetOf(left.outputSet)) =>
            OuterFromInner(session, j)(t => rewrite(t.left, t.right, ex)).getOrElse(j)
          case _ => j
        }
      // FULL OUTER fires at EVERY size: without the rewrite Spark's only
      // plan is a BroadcastNestedLoopJoin (correct, quadratic refine), so
      // even the broadcast-sized case wins from inner-join + anti-pads —
      // the plain inner join re-enters planning and takes the broadcast
      // index path (small side) or this rule's grid path (both large).
      case j @ Join(left, right, FullOuter, Some(cond), _)
          if !j.isStreaming && !hasEquiConjunct(cond, left, right) &&
            SpatialPredicate.extract(cond, left, right).isDefined =>
        OuterFromInner(session, j)(Some(_)).getOrElse(j)
    }
  }

  private def bothLarge(left: LogicalPlan, right: LogicalPlan): Boolean = {
    val threshold = session.sessionState.conf.autoBroadcastJoinThreshold
    if (threshold < 0) true // broadcast disabled: grid is the only distributed path
    else left.stats.sizeInBytes > threshold && right.stats.sizeInBytes > threshold
  }

  private def rewrite(
      left: LogicalPlan, right: LogicalPlan,
      ex: SpatialPredicate.Extracted): Option[LogicalPlan] = {
    val b = GeomScalars.registry
    bounds(left, right, ex).map { case (xmin, ymin, xmax, ymax) =>
      val nx = conf("spark.graft.join.grid.nx", "64").toInt
      val ny = conf("spark.graft.join.grid.ny", "64").toInt
      val gridLits = Seq[Expression](Literal(xmin), Literal(ymin), Literal(xmax),
        Literal(ymax), Literal(nx), Literal(ny))
      // Each side parses its WKB once (sd_envelope4 projected as a column);
      // cell explode, bbox overlap and reference-point dedup run on the
      // envelope doubles — codegen'd arithmetic, no per-pair parse. DWithin
      // expands the left envelope by d so cells/ref-point of the pair's
      // d-neighbourhood intersection stay consistent on both paths.
      def envProject(child: LogicalPlan, geom: Expression, name: String,
          expand: Option[Expression]): (LogicalPlan, AttributeReference) = {
        val rawAlias = Alias(b("sd_envelope4")(Seq(geom)), s"${name}raw")()
        val p1 = Project(child.output :+ rawAlias, child)
        val rawRef = p1.output.last
        def item(k: Int): Expression = GetArrayItem(rawRef, Literal(k))
        val e4: Expression = expand match {
          case Some(d0) =>
            // optimizer-built expressions skip analyzer coercion: force the
            // radius to double before the envelope arithmetic
            val d = if (d0.dataType == org.apache.spark.sql.types.DoubleType) d0
              else Cast(d0, org.apache.spark.sql.types.DoubleType)
            CreateArray(Seq(
              Subtract(item(0), d), Subtract(item(1), d),
              Add(item(2), d), Add(item(3), d)))
          case None => rawRef
        }
        val p2 = Project(child.output :+ Alias(e4, name)(), p1)
        (p2, p2.output.last.asInstanceOf[AttributeReference])
      }
      val (lSide, l4) = envProject(left, ex.leftGeom, "__l4", ex.distance)
      val (rSide, r4) = envProject(right, ex.rightGeom, "__r4", None)
      val lcell = AttributeReference("__lcell", LongType, nullable = false)()
      val rcell = AttributeReference("__rcell", LongType, nullable = false)()
      def gen(child: LogicalPlan, e4: Expression, cellAttr: AttributeReference) =
        Generate(Explode(b("sd_gridcells4")(e4 +: gridLits)),
          unrequiredChildIndex = Nil, outer = false, qualifier = None,
          generatorOutput = Seq(cellAttr), child = child)
      val lgen = gen(lSide, l4, lcell)
      val rgen = gen(rSide, r4, rcell)
      def li(k: Int): Expression = GetArrayItem(l4, Literal(k))
      def ri(k: Int): Expression = GetArrayItem(r4, Literal(k))
      val bboxOverlap = Seq(
        LessThanOrEqual(li(0), ri(2)), LessThanOrEqual(ri(0), li(2)),
        LessThanOrEqual(li(1), ri(3)), LessThanOrEqual(ri(1), li(3))).reduce[Expression](And)
      // arithmetic twin of Grid.cellOf (Floor is LongType; 0-clamp makes
      // trunc-toward-zero and floor agree, so ids match sd_gridcells4)
      def cellc(x: Expression, mn: Double, mx: Double, n: Int): Expression =
        Least(Seq(Greatest(Seq(
          Floor(Multiply(Divide(Subtract(x, Literal(mn)), Literal(mx - mn)),
            Literal(n.toDouble))), Literal(0L))), Literal((n - 1).toLong)))
      val dedup = EqualTo(Add(
        Multiply(cellc(Greatest(Seq(li(1), ri(1))), ymin, ymax, ny), Literal(nx.toLong)),
        cellc(Greatest(Seq(li(0), ri(0))), xmin, xmax, nx)), lcell)
      val refine: Expression = ex.distance match {
        case Some(d) => b("st_dwithin")(Seq(ex.leftGeom, ex.rightGeom, d))
        case None => b(ex.predName)(Seq(ex.leftGeom, ex.rightGeom))
      }
      val newCond = (Seq[Expression](EqualTo(lcell, rcell), bboxOverlap, dedup, refine) ++
        ex.remainder).reduce(And)
      Project(left.output ++ right.output,
        Join(lgen, rgen, Inner, Some(newCond), JoinHint.NONE))
    }
  }

  /** Grid extent: pinned via conf, else a min/max envelope pre-pass over
    * both (already filter-pushed, column-pruned) children. */
  private def bounds(
      left: LogicalPlan, right: LogicalPlan,
      ex: SpatialPredicate.Extracted): Option[(Double, Double, Double, Double)] = {
    conf("spark.graft.join.grid.bounds", "auto") match {
      case "auto" =>
        def side(plan: LogicalPlan, geom: Expression): Option[(Double, Double, Double, Double)] = {
          // one envelope aggregate = one WKB parse per row (vs 4 min/max
          // kernel aggregates), partial-merged map-side
          val node = Aggregate(Nil, Seq(Alias(
            graft.functions.StEnvelopeAgg(geom).toAggregateExpression(), "e")()), plan)
          val rows = session.sessionState.executePlan(node).executedPlan.executeCollect()
          if (rows.isEmpty || rows(0).isNullAt(0)) None
          else {
            val env = graft.geom.GeomIO.read(rows(0).getBinary(0)).getEnvelopeInternal
            if (env.isNull) None
            else Some((env.getMinX, env.getMinY, env.getMaxX, env.getMaxY))
          }
        }
        for {
          (lx0, ly0, lx1, ly1) <- side(left, ex.leftGeom)
          (rx0, ry0, rx1, ry1) <- side(right, ex.rightGeom)
        } yield (math.min(lx0, rx0), math.min(ly0, ry0),
          math.max(lx1, rx1), math.max(ly1, ry1))
      case s =>
        val p = s.split(",").map(_.trim.toDouble)
        require(p.length == 4, s"spark.graft.join.grid.bounds must be xmin,ymin,xmax,ymax, got: $s")
        Some((p(0), p(1), p(2), p(3)))
    }
  }
}
