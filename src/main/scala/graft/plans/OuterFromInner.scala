package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
import org.apache.spark.sql.catalyst.plans.{FullOuter, Inner, JoinType, LeftAnti, LeftOuter, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint, LogicalPlan, Project}
import org.apache.spark.sql.functions.{lit, monotonically_increasing_id}
import org.apache.spark.sql.graft.DatasetBridge
import org.apache.spark.storage.StorageLevel
import graft.CacheRegistry

/** Non-inner join types from an inner join rewrite. The reference's
  * spatial join is one operator serving every join type
  * (rust/sedona-spatial-join/src/exec.rs:88); the grid, sphere and banded
  * rules each rewrite only an INNER join, and this one construction
  * assembles the other types around it:
  *
  *   L' = L + lid                  -- row-id tag, persisted: every branch
  *   R' = R + rid  (FULL OUTER)       must see one id set
  *   inner = rewrite(L' JOIN R' ON cond)
  *   LEFT SEMI / LEFT ANTI = L' semi / anti matched(lid)
  *   LEFT OUTER = inner ∪ (L' ANTI matched(lid)) × nulls
  *   FULL OUTER = pairs ⋈ L' ⋈ R'
  *                ∪ (L' ANTI matched(lid)) × nulls ∪ nulls × (R' ANTI matched(rid))
  *
  * For FULL OUTER only the narrow (lid, rid) pair set is persisted: the
  * inner join executes once, and the wide matched rows rebuild through
  * equi joins against the persisted sides. The matched-id sets are
  * distinct long sets, broadcast-sized wherever the inner result itself
  * is computable.
  *
  * All column plumbing is positional, so sides that share column names
  * are fine. A child that already has a column named like one of the tags
  * makes the construction decline before it persists anything; a later
  * decline releases every cache it registered.
  */
object OuterFromInner {

  /** Row-id tag of the left side, of the right side, and the matched-id
    * column of the semi/anti joins. */
  val LeftId = "__ofi_lid"
  val RightId = "__ofi_rid"
  val MatchedId = "__ofi_mid"

  private val joinTypes = Set[JoinType](LeftOuter, LeftSemi, LeftAnti, FullOuter)

  /** The plan for `j`'s join type, or None. `inner` rewrites an inner join
    * over the tagged children (same condition, same attribute ids plus the
    * tags) into a plan with the join's output columns in order. */
  def apply(session: SparkSession, j: Join)(
      inner: Join => Option[LogicalPlan]): Option[LogicalPlan] = {
    val tagTaken = (j.left.output ++ j.right.output).exists(a =>
      Seq(LeftId, RightId, MatchedId).exists(_.equalsIgnoreCase(a.name)))
    if (!joinTypes(j.joinType) || tagTaken) return None

    var pinned = List.empty[DataFrame]
    def pin(df: DataFrame): DataFrame = {
      pinned ::= CacheRegistry.register(df.persist(StorageLevel.MEMORY_AND_DISK))
      pinned.head
    }
    def decline(): Option[LogicalPlan] = {
      pinned.foreach(CacheRegistry.release)
      None
    }
    def col(a: Attribute): Column = DatasetBridge.column(a)
    def out(df: DataFrame): Seq[Attribute] = df.queryExecution.analyzed.output
    def tagged(side: LogicalPlan, tag: String): DataFrame =
      pin(DatasetBridge.ofRows(session, side).withColumn(tag, monotonically_increasing_id()))
    def nulls(side: LogicalPlan): Seq[Column] =
      side.output.map(a => lit(null).cast(a.dataType))
    def matched(id: Attribute, from: DataFrame): DataFrame =
      from.select(col(id).as(MatchedId)).distinct()
    // rows of a tagged side whose tag (its last column) is / is not in ids
    def byTag(side: DataFrame, ids: DataFrame, how: String): DataFrame =
      side.join(ids, col(out(side).last) === col(out(ids).head), how)

    val lDF = tagged(j.left, LeftId)
    val rDF = if (j.joinType == FullOuter) Some(tagged(j.right, RightId)) else None
    val innerJoin = Join(lDF.queryExecution.analyzed,
      rDF.fold(j.right)(_.queryExecution.analyzed), Inner, j.condition, JoinHint.NONE)
    val innerDF = inner(innerJoin) match {
      case Some(p) => DatasetBridge.ofRows(session, p)
      case None => return decline()
    }
    val innerOut = out(innerDF)
    if (innerOut.length != innerJoin.output.length) return decline()
    val nL = j.left.output.length
    val lid = innerOut(nL)
    val lCols = j.left.output.map(col)
    val result = j.joinType match {
      case LeftSemi => byTag(lDF, matched(lid, innerDF), "left_semi").select(lCols: _*)
      case LeftAnti => byTag(lDF, matched(lid, innerDF), "left_anti").select(lCols: _*)
      case LeftOuter =>
        innerDF.select(innerOut.patch(nL, Nil, 1).map(col): _*)
          .unionAll(byTag(lDF, matched(lid, innerDF), "left_anti")
            .select(lCols ++ nulls(j.right): _*))
      case _ => // FullOuter
        val r = rDF.get
        val pairs = pin(innerDF.select(col(lid).as(LeftId), col(innerOut.last).as(RightId)))
        val Seq(pl, pr) = out(pairs)
        // pairs' lineage holds both sides, so this is a self-join and Spark
        // re-ids the repeated side: take the wide row by position
        val rejoined = pairs.join(lDF, col(pl) === col(out(lDF).last))
          .join(r, col(pr) === col(out(r).last))
        val rjOut = out(rejoined)
        if (rjOut.length != 2 + innerOut.length) return decline()
        rejoined.select(rjOut.drop(2).patch(nL, Nil, 1).dropRight(1).map(col): _*)
          .unionAll(byTag(lDF, matched(pl, pairs), "left_anti")
            .select(lCols ++ nulls(j.right): _*))
          .unionAll(byTag(r, matched(pr, pairs), "left_anti")
            .select(nulls(j.left) ++ j.right.output.map(col): _*))
    }
    val plan = result.queryExecution.optimizedPlan
    if (plan.output.length != j.output.length) return decline()
    Some(Project(j.output.zip(plan.output).map { case (orig, a) =>
      Alias(a, orig.name)(exprId = orig.exprId)
    }, plan))
  }
}
