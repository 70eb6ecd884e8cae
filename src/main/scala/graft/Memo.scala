package graft

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one registry of process-global intermediates: every memo or
  * pinned frame a query keeps past its own return lives here, under
  * one of two scopes.
  *
  *  - QUERY scope ([[Memo.query]], [[Memo.frames]], [[Memo.blocks]]):
  *    storage a query pins for its consumer (the shingle universe,
  *    cached frames behind a lazily-consumed result, truncated-lineage
  *    cluster blocks). ONE [[releaseQuery]] frees all of it — the call
  *    a harness makes between queries, and a long-lived session makes
  *    once its results are consumed (truncated lineage cannot
  *    recompute: release only after use).
  *  - STAGED scope ([[Memo.staged]]): fixtures staged once and reused
  *    across queries (warehouses, staged parquet, model fits). One
  *    entry per memo; a request under a different key runs the old
  *    entry's release action and rebuilds. Fixed-path stages
  *    ([[TmpDirs.fixed]]) need exactly this rule — the path is
  *    name-only, so a stale entry would silently serve the previous
  *    corpus' files — and it bounds every other stage at one entry.
  *
  * Entries are keyed by (session, sfDir); an entry whose context has
  * stopped is dropped, unreleased, on the next access (the
  * [[graft.sources.SessionConf]] sweep). Each memo locks on itself,
  * not on one shared map: builds nest (the WARC manifest stages the
  * WARC shards, the eval scores fit the split model), and a shared
  * `ConcurrentHashMap.computeIfAbsent` throws "Recursive update" on a
  * nested build. */
object Memo {
  type Key = (SparkSession, String)

  private def live(sc: SparkContext): Boolean = !sc.isStopped

  sealed trait Releasable { def release(): Unit }

  private val queryScope = scala.collection.mutable.ArrayBuffer[Releasable]()

  private def register[M <: Releasable](m: M): M =
    queryScope.synchronized { queryScope += m; m }

  /** Free every query-scoped memo and pin. */
  def releaseQuery(): Unit =
    queryScope.synchronized(queryScope.toList).foreach(_.release())

  /** A memo of one value per key; `staged` holds at most one entry,
    * releasing it when asked for another key. */
  final class Keyed[V] private[Memo] (unpin: (Key, V) => Unit, staged: Boolean)
      extends Releasable {
    private val entries = scala.collection.mutable.HashMap[Key, V]()

    def apply(spark: SparkSession, sfDir: String)(build: Key => V): V = synchronized {
      val key = (spark, sfDir)
      entries.filterInPlace((k, _) => live(k._1.sparkContext))
      entries.getOrElse(key, {
        if (staged) release()
        val v = build(key)
        entries(key) = v
        v
      })
    }

    def release(): Unit = synchronized {
      entries.foreach { case (k, v) => if (live(k._1.sparkContext)) unpin(k, v) }
      entries.clear()
    }

    private[graft] def size: Int = synchronized(entries.size)
  }

  /** Values pinned until released. */
  final class Pins[A] private[Memo] (context: A => SparkContext, unpin: A => Unit)
      extends Releasable {
    private val held = scala.collection.mutable.ArrayBuffer[A]()

    def add(a: A): Unit = synchronized {
      held.filterInPlace(p => live(context(p)))
      held += a
    }

    def release(): Unit = synchronized {
      held.foreach(p => if (live(context(p))) unpin(p))
      held.clear()
    }
  }

  def query[V](unpin: V => Unit): Keyed[V] =
    register(new Keyed[V]((_, v) => unpin(v), staged = false))

  /** Cached frames, unpersisted on release. */
  def frames(): Pins[DataFrame] =
    register(new Pins[DataFrame](_.sparkSession.sparkContext, _.unpersist(blocking = false)))

  /** Persisted RDD blocks, unpersisted on release. */
  def blocks(): Pins[RDD[_]] =
    register(new Pins[RDD[_]](_.sparkContext, _.unpersist(blocking = false)))

  def staged[V](unstage: (Key, V) => Unit = (_: Key, _: V) => ()): Keyed[V] =
    new Keyed(unstage, staged = true)
}
