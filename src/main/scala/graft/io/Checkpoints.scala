package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftshim.Classic

/** Lineage-truncation policy for the iterative / two-pass operators
  * ([[graft.ops.Prefix]], connected components, [[Materialized]], the
  * PPJoin token tables).
  *
  * Default is `localCheckpoint`: blocks live on executors, which is the
  * cheapest pin and exactly right at local[32] — but those blocks die
  * with their executor, so on a real cluster with dynamic allocation or
  * preemption a lost executor invalidates the pinned layout mid-query.
  * Setting `spark.graft.checkpoint.reliable=true` (plus a directory via
  * `spark.graft.checkpoint.dir`, or a pre-set
  * `sparkContext.setCheckpointDir`) switches every pin site to a
  * RELIABLE checkpoint on the shared filesystem: same plan shape, same
  * eager/lazy semantics, blocks survive executor loss. The toggle is
  * read per call, so a session can flip it between pipelines.
  */
object Checkpoints {

  /** When `true`, pin via reliable `df.checkpoint` instead of
    * `df.localCheckpoint`.
    */
  val ReliableKey = "spark.graft.checkpoint.reliable"

  /** Checkpoint directory to install on the context the first time a
    * reliable pin runs (ignored if the context already has one).
    */
  val DirKey = "spark.graft.checkpoint.dir"

  private def reliable(s: SparkSession): Boolean =
    s.conf.getOption(ReliableKey).exists(_.toBoolean)

  private def ensureDir(s: SparkSession): Unit =
    if (s.sparkContext.getCheckpointDir.isEmpty) {
      val dir = s.conf.getOption(DirKey).getOrElse(throw new IllegalStateException(
        s"$ReliableKey=true but no checkpoint dir: set $DirKey or call setCheckpointDir"))
      s.sparkContext.setCheckpointDir(dir)
    }

  /** Materialize-and-truncate `df` under the session's policy. Eager
    * pins compute now (the two-pass layout contract); lazy pins
    * truncate lineage at first materialization (the iterative-loop
    * contract).
    */
  def pin(df: DataFrame, eager: Boolean = true): DataFrame = {
    val s = df.sparkSession
    if (reliable(s)) { ensureDir(s); df.checkpoint(eager) }
    else df.localCheckpoint(eager)
  }

  /** Pin with a GUARANTEED-preserved output partitioning. Under AQE the
    * physical plan reports Unknown partitioning until its final plan
    * materializes, and `Dataset.checkpoint` captures the partitioning
    * at construction — so a normally-pinned table loses its layout and
    * every consumer re-exchanges it (measured: the PageRank edge table
    * re-shuffled EVERY iteration despite being hash-partitioned on the
    * join key at build). This variant plans and pins the subplan in a
    * copy of the session with AQE off ([[graft.Session.withoutAqe]]), so
    * the checkpointed LogicalRDD carries the real hashpartitioning, then
    * hands the pinned plan back to `df`'s session: iterative consumers
    * co-locate on it for free, and `df`'s session conf is never written.
    * Use for session-materialized tables whose layout is the point
    * (edge/node tables repartitioned on their join key); plain [[pin]]
    * keeps AQE for everything else.
    */
  def pinLayout(df: DataFrame): DataFrame = {
    val planner = graft.Session.withoutAqe(df.sparkSession)
    val pinned = pin(Classic.ofRows(planner, df.queryExecution.analyzed), eager = true)
    Classic.ofRows(df.sparkSession, pinned.queryExecution.logical)
  }

  /** `.pinned(...)` chain syntax for call sites. */
  implicit class PinOps(private val df: DataFrame) extends AnyVal {
    def pinned(eager: Boolean = true): DataFrame = pin(df, eager)
  }
}
