package graft

import java.util.concurrent.ConcurrentHashMap

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.util.QueryExecutionListener

/** Tracks DataFrames persisted *internally* by graft rewrites and pipeline
  * ops (outer-join row-id tagging in [[graft.plans.OuterFromInner]],
  * minhash/jaccard signature reuse, DBSCAN/CC lineage barriers) and
  * releases them automatically once a consuming query finishes.
  *
  * Without this, optimizer-time persists pin their whole input in the
  * block-manager cache for the session lifetime — at 100 TB that is an
  * unbounded leak. Release is matched by cache-builder identity — when a
  * completed query's optimized plan references the registered cache's
  * InMemoryRelation — or, for caches consumed through an InternalRow RDD
  * lineage barrier (whose downstream plans never carry the
  * InMemoryRelation, only a LogicalRDD leaf), by the identity of that
  * leaf RDD ([[registerForRdd]]). Either way the cache did its job and is
  * dropped (non-blocking).
  *
  * `releaseAll()` is the manual release path for long-lived sessions that
  * never run the consuming action to completion (e.g. abandoned queries).
  */
object CacheRegistry {

  /** barrier = minimum QueryExecution id (exclusive) a completed query
    * must carry for its sweep to release this cache; Long.MinValue means
    * "any referencing query releases" (the planner-rule case, where the
    * CONSUMING query's QueryExecution was created before the rule — and
    * thus the registration — ran inside its optimization).
    * leafRdd = identity token for barrier-style consumers (None for
    * plain IMR-matched caches). */
  private final case class Entry(barrier: Long,
      leafRdd: Option[org.apache.spark.rdd.RDD[_]])

  private val caches = new ConcurrentHashMap[DataFrame, Entry]()
  private val hooked = ConcurrentHashMap.newKeySet[SparkSession]()

  private def hook(spark: SparkSession): Unit =
    if (hooked.add(spark)) spark.listenerManager.register(new SweepListener)

  /** Sample the monotone QueryExecution id counter: a fresh trivial
    * Dataset's QueryExecution carries the next id — nothing executes. */
  private def qeBarrier(spark: SparkSession, afterCurrent: Boolean): Long =
    if (afterCurrent) spark.range(0).queryExecution.id else Long.MinValue

  /** Register a df that the caller has just persisted; returns it.
    *
    * `afterCurrent = true` arms the release only for queries whose
    * QueryExecution is created AFTER this call (ADVICE r17): an operator
    * that runs an eager stats action over the cache before handing the
    * consuming DataFrame back (bm25/unigram corpus stats) must not have
    * that action's async onSuccess sweep release the cache out from
    * under the real consumers — the release should fire on the gate
    * query, which is created later. Leave it false for planner-rule
    * registrations, where the consuming query's QueryExecution predates
    * the registration by construction. */
  def register(df: DataFrame, afterCurrent: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    hook(spark)
    caches.put(df, Entry(qeBarrier(spark, afterCurrent), None))
    df
  }

  /** Register a persisted df whose consumers re-enter through an
    * InternalRow-RDD lineage barrier (`DatasetBridge.internalDf` over
    * `leaf`): their plans carry the LogicalRDD leaf, never the cache's
    * InMemoryRelation, so the sweep matches on the leaf RDD's identity
    * instead. Before opt r18 these barrier caches were never swept at
    * all — every DBSCAN/CC invocation pinned its intermediates for the
    * session lifetime. */
  def registerForRdd(df: DataFrame, leaf: org.apache.spark.rdd.RDD[_],
      afterCurrent: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    hook(spark)
    caches.put(df, Entry(qeBarrier(spark, afterCurrent), Some(leaf)))
    df
  }

  /** Release ONE tracked cache immediately (abandoned-rewrite bail-out
    * path: a planner rule that persisted intermediates but then declined
    * the rewrite must not leave them pinned for the session). */
  def release(df: DataFrame): Unit = {
    caches.remove(df)
    try df.unpersist(blocking = false) catch { case NonFatal(_) => () }
  }

  /** Manual release path: unpersist every tracked internal cache now. */
  def releaseAll(): Unit = {
    caches.forEach { (df, _) =>
      try df.unpersist(blocking = false) catch { case NonFatal(_) => () }
    }
    caches.clear()
  }

  /** Number of internal caches currently pinned (test/ops visibility). */
  def pinnedCount: Int = caches.size()

  private def builderOf(df: DataFrame): Option[AnyRef] =
    try df.sparkSession.sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .map(_.cachedRepresentation.cacheBuilder)
    catch { case NonFatal(_) => None }

  private final class SweepListener extends QueryExecutionListener {
    private def sweep(qe: QueryExecution): Unit = {
      if (caches.isEmpty) return
      val (builders, rdds) =
        try {
          val b = Set.newBuilder[AnyRef]
          val r = Set.newBuilder[AnyRef]
          qe.optimizedPlan.foreach {
            case im: InMemoryRelation => b += (im.cacheBuilder: AnyRef)
            case l: org.apache.spark.sql.execution.LogicalRDD => r += (l.rdd: AnyRef)
            case _ => ()
          }
          (b.result(), r.result())
        } catch { case NonFatal(_) => (Set.empty[AnyRef], Set.empty[AnyRef]) }
      if (builders.isEmpty && rdds.isEmpty) return
      caches.forEach { (df, entry) =>
        if (qe.id > entry.barrier) {
          val hit = entry.leafRdd match {
            case Some(leaf) => rdds.exists(_ eq leaf)
            case None => builderOf(df).exists(b => builders.exists(_ eq b))
          }
          if (hit) {
            caches.remove(df)
            try df.unpersist(blocking = false) catch { case NonFatal(_) => () }
          }
        }
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      sweep(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      sweep(qe)
  }
}
