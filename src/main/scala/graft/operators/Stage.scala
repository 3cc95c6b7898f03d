package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.ColumnBridge

/** The eager-checkpoint lifecycle of the operators' staged frames.
  *
  * An eager `localCheckpoint` cuts a frame's lineage to materialized
  * blocks: iterative operators keep a constant plan depth, and a frame
  * read many times is computed once. Those blocks are RDD-level, so
  * `Dataset.unpersist` does not free them; left alone they live until a
  * GC proves them unreachable and the ContextCleaner runs (dead
  * per-round blocks once piled up faster than that and exhausted a
  * 63 GB scratch volume in an sf30 label propagation). Every staged
  * frame an operator frees is freed here, at the point its last reader
  * is done, never by a GC tick.
  *
  * A checkpoint that is never released (a frame the operator's lazy
  * result is built on) stays a plain `localCheckpoint` call.
  */
private[graft] object Stage {

  /** `df` checkpointed eagerly, handed to `f`, and released when `f`
    * returns or throws. `f`'s result must not be a lazy plan over the
    * staged frame (it would read released blocks); a lazy result built
    * on checkpoints `f` made itself is fine.
    */
  def using[A](df: DataFrame)(f: DataFrame => A): A = {
    val staged = df.localCheckpoint(true)
    try f(staged) finally ColumnBridge.releaseCheckpoint(staged)
  }

  /** [[using]] with the staged frame hash-partitioned and sorted on
    * `key`, and that layout kept: a later join or aggregation on `key`
    * reuses it, so an iterative operator's edge-sized exchange and sort
    * drop out of every round (only the vertex-sized side shuffles).
    * The sort matters as much as the partitioning: the checkpoint
    * captures outputOrdering too, so a sort-merge join on `key` skips
    * the per-round re-sort of the staged side as well. The checkpoint
    * runs with AQE off ([[withoutAqe]]): an adaptive plan reports
    * UnknownPartitioning until runtime, so a checkpoint captured under
    * AQE forgets its layout and every round re-shuffles it.
    */
  def partitioned[A](df: DataFrame, key: String)(f: DataFrame => A): A = {
    val owner = df.sparkSession
    val staged = ColumnBridge.ofRows(withoutAqe(owner), ColumnBridge.analyzed(df))
      .repartition(col(key)).sortWithinPartitions(col(key))
      .localCheckpoint(true)
    // re-bind the checkpoint (a LogicalRDD carrying the layout) to the
    // caller's session, so downstream plans compose as before
    try f(ColumnBridge.ofRows(owner, ColumnBridge.analyzed(staged)))
    finally ColumnBridge.releaseCheckpoint(staged)
  }

  /** A clone of `owner` (`newSession()`: shared SparkContext, cache and
    * data, a private SQLConf) that plans under the owner's runtime
    * confs with AQE off. The toggle never touches the caller's session,
    * so concurrent queries on it never observe it and a concurrent conf
    * change is never clobbered by a restore.
    */
  def withoutAqe(owner: SparkSession): SparkSession = {
    val cloned = owner.newSession()
    // newSession() seeds its SQLConf from the static SparkConf, not the
    // owner's runtime conf; static keys throw on set and are skipped
    owner.conf.getAll.foreach { case (k, v) =>
      try cloned.conf.set(k, v) catch { case _: Exception => () }
    }
    cloned.conf.set("spark.sql.adaptive.enabled", "false")
    cloned
  }

  /** The round loop of the iterative operators. Starting from `init`,
    * each round `step` builds the next round from the previous one, or
    * returns None to stop before building it. A built round is
    * checkpointed eagerly; once it is materialized the previous round
    * is released (`init` too, when `init` is itself a checkpoint: pass
    * a projection of a frame that must outlive the loop). `done` is
    * asked of every materialized round; true stops the loop there.
    *
    * Returns the last round, which stays staged for the caller's lazy
    * result, and whether the loop stopped (None or `done`) before
    * `maxRounds` rounds ran out. A fixed-round loop always builds and
    * is never done, so it reports false.
    */
  def iterate(init: DataFrame, maxRounds: Int)(
      step: DataFrame => Option[DataFrame],
      done: DataFrame => Boolean = _ => false): (DataFrame, Boolean) = {
    @annotation.tailrec
    def loop(prev: DataFrame, round: Int): (DataFrame, Boolean) =
      if (round == maxRounds) (prev, false)
      else step(prev) match {
        case None => (prev, true)
        case Some(df) =>
          val next = df.localCheckpoint(true)
          ColumnBridge.releaseCheckpoint(prev)
          if (done(next)) (next, true) else loop(next, round + 1)
      }
    loop(init, 0)
  }

  /** [[iterate]] run only for what `step` learns on the driver: the
    * last round is released too, so nothing the loop staged outlives it.
    */
  def drain(init: DataFrame, maxRounds: Int)(
      step: DataFrame => Option[DataFrame]): Unit =
    ColumnBridge.releaseCheckpoint(iterate(init, maxRounds)(step)._1)
}
