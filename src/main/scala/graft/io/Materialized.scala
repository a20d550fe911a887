package graft.io

import java.lang.ref.WeakReference
import java.util.concurrent.{ConcurrentHashMap, TimeoutException}
import java.util.function.{Function => JFunction}

import scala.concurrent.{Await, Promise}
import scala.util.Success

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Process-lifetime cache of expensive deterministic intermediates —
  * the in-session stand-in for the materialized table a production
  * pipeline writes once and joins many times (e.g. the near-dup groups
  * table: three downstream operators consume it, and connected
  * components is the costliest stage of each).
  *
  * [[Checkpoints.pin]] materializes the result (executor-local blocks
  * by default — the same storage class a cluster materialization would
  * use before promotion to a real table; a reliable checkpoint dir when
  * `spark.graft.checkpoint.reliable` is set) and truncates lineage, so
  * every consumer reuses the computed rows instead of replanning the
  * whole CC pipeline.
  * Entries key on (session, label): results are deterministic per source
  * path and fixtures are immutable — a mutating deployment would key on
  * a snapshot/version id, exactly as with [[CorpusStats]].
  */
object Materialized {

  /** Guaranteed-unique per-session id. `System.identityHashCode` is NOT
    * unique: a new session can collide with a stopped one and receive a
    * cached DataFrame whose checkpoint blocks are gone. The WeakHashMap
    * holds sessions weakly (identity semantics — SparkSession doesn't
    * override equals), so the id mapping itself never pins a session.
    */
  private val sessionIds = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())

  private[graft] def sessionId(s: SparkSession): String =
    sessionIds.computeIfAbsent(s, new JFunction[SparkSession, String] {
      def apply(k: SparkSession): String = java.util.UUID.randomUUID().toString
    })

  /** A cache entry: its frame completes when the build does. */
  private final case class Entry(owner: WeakReference[SparkSession], frame: Promise[DataFrame])

  private val cache = new ConcurrentHashMap[String, Entry]()

  /** Access count per label (the `|fixture` suffix stripped), warm
    * builds included — the consumer-count side of warm-phase cost
    * governance: a shared table whose build costs more than its
    * consumers save is a net-negative materialization (observed: a
    * 125 s build serving ~6 s of query time), and the bench can only
    * flag that trade if it can see how often each entry is actually
    * consumed.
    */
  private val accesses = new ConcurrentHashMap[String, java.util.concurrent.atomic.LongAdder]()

  private[graft] def accessCounts: Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    accesses.asScala.map { case (k, v) => k -> v.sum() }.toMap
  }

  private[graft] def resetAccessCounts(): Unit = accesses.clear()

  /** Drop entries whose owning session is gone or stopped: their
    * checkpoint blocks no longer exist, and keeping them would pin the
    * frames (and transitively the sessions) for process lifetime.
    */
  private def evictDead(): Unit = {
    val it = cache.entrySet().iterator()
    while (it.hasNext) {
      val owner = it.next().getValue.owner.get()
      if (owner == null || owner.sparkContext.isStopped) it.remove()
    }
  }

  /** The materialized frame for `label`, built at most once per
    * (session, label) while the session lives. The first caller builds on
    * its own thread; a caller that arrives during the build waits for it,
    * at most [[graft.FanOut.Timeout]]. A failed build is not cached: its
    * waiters see the failure and the next call builds again. `compute`
    * must be deterministic; callers apply any output ordering AFTER this
    * call so the cached plan stays sort-free. `layout = true` pins through
    * [[Checkpoints.pinLayout]], which keeps the computed output
    * partitioning, so iterative consumers co-locate on the table instead
    * of re-exchanging it. It writes no session conf, so layout builds on
    * concurrent threads need no lock and no build order.
    */
  def of(session: SparkSession, label: String, layout: Boolean = false)
      (compute: => DataFrame): DataFrame = {
    evictDead()
    accesses.computeIfAbsent(label.takeWhile(_ != '|'),
      new JFunction[String, java.util.concurrent.atomic.LongAdder] {
        def apply(k: String) = new java.util.concurrent.atomic.LongAdder
      }).increment()
    val key = s"${sessionId(session)}|$label"
    // putIfAbsent, NOT computeIfAbsent: builds nest (the undirected-edge
    // table computes the edge table inside its own of-block), and a nested
    // computeIfAbsent on the same map throws "Recursive update" whenever
    // the two keys hash to the same bin
    val cached = cache.get(key)
    if (cached != null) built(cached, label)
    else {
      val mine = Entry(new WeakReference(session), Promise[DataFrame]())
      val building = cache.putIfAbsent(key, mine)
      if (building != null) built(building, label)
      else try {
        val df = if (layout) Checkpoints.pinLayout(compute) else Checkpoints.pin(compute)
        mine.frame.success(df)
        df
      } catch { case e: Throwable =>
        cache.remove(key, mine)
        mine.frame.failure(e)
        throw e
      }
    }
  }

  /** The entry's frame, or its build's failure: at once for a finished
    * build, else after waiting for the build at most [[graft.FanOut.Timeout]].
    */
  private def built(e: Entry, label: String): DataFrame = {
    val f = e.frame.future
    if (!f.isCompleted)
      try Await.ready(f, graft.FanOut.Timeout)
      catch { case _: TimeoutException =>
        throw new TimeoutException(s"shared table '$label' not built within ${graft.FanOut.Timeout}")
      }
    f.value.get.get
  }

  /** Visible for tests: number of cached entries. */
  private[graft] def cacheSize: Int = cache.size

  /** Visible for tests: this session's cached (label, frame) pairs —
    * lets a structural spec sweep every materialized table's physical
    * shape (partition counts) without knowing who built it.
    */
  private[graft] def entriesFor(session: SparkSession): Seq[(String, DataFrame)] = {
    import scala.jdk.CollectionConverters._
    val sid = sessionId(session)
    cache.asScala.toSeq.collect { case (k, e) if k.startsWith(sid + "|") =>
      e.frame.future.value.collect { case Success(df) => k.drop(sid.length + 1) -> df }
    }.flatten
  }

  /** Visible for tests: drop all cached intermediates. */
  private[graft] def clear(): Unit = cache.clear()
}
