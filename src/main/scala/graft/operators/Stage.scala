package graft.operators

import java.util.UUID
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** The one owner of the operators' staged frames: only this object calls
  * `localCheckpoint` and releases what it made.
  *
  * A `localCheckpoint` cuts a frame's lineage to stored blocks: iterative
  * operators keep a constant plan depth, and a frame read many times is
  * computed once. Those blocks are RDD-level, so `Dataset.unpersist`
  * does not free them; left alone they live until a GC proves them
  * unreachable and the ContextCleaner runs (dead per-round blocks once
  * piled up faster than that and exhausted a 63 GB scratch volume in an
  * sf30 label propagation). So every staged frame has an owner here:
  *
  *  - a frame read only inside one call is staged by [[using]] or
  *    [[partitioned]] and released when the call returns or throws;
  *  - a round of [[iterate]] is released once the next round is stored;
  *  - a frame an operator's lazy result is built on ([[scoped]], and the
  *    last round [[iterate]] returns) belongs to the query scope of the
  *    thread that staged it, released by [[releaseScope]];
  *  - a frame a streaming query reads in every micro-batch ([[forStream]])
  *    is released when that query terminates.
  *
  * `graft.SparkEntry.queries` releases the scope before every build, so a
  * query's staged blocks live until the next build on the same thread,
  * never until a GC tick. The scope is keyed by thread, not by session:
  * an operator that stages on a `newSession()` clone ([[withoutAqe]])
  * stays in its caller's scope, and concurrent queries on sibling
  * sessions of one SparkContext never release each other's frames. It
  * records RDD ids only, so a frame staged by a caller that never
  * releases its scope is still freed by the ContextCleaner once dropped.
  */
private[graft] object Stage {

  /** The live staged RDDs of this thread's query scope: id -> context. */
  private val scope = ThreadLocal.withInitial[mutable.Map[Int, SparkContext]](
    () => mutable.Map.empty)

  /** The RDD behind a staged frame: its analyzed plan is a LogicalRDD. */
  private def stagedRdd(staged: DataFrame): Option[RDD[_]] =
    staged.queryExecution.analyzed match {
      case r: LogicalRDD => Some(r.rdd)
      case _ => None
    }

  /** Frees the blocks behind a staged frame once its last reader is
    * done. `blocking = false`: a fire-and-forget RPC.
    */
  private def release(staged: DataFrame): Unit =
    stagedRdd(staged).foreach { r =>
      scope.get().remove(r.id)
      r.unpersist(blocking = false)
    }

  /** `df` staged for the lazy result an operator builds on it: eagerly
    * (the frame is computed now) or lazily (at the first action that
    * reads it). It lives until this thread's query scope is released
    * ([[releaseScope]]). [[using]], [[partitioned]] and [[iterate]]
    * stage through here too and release their frames sooner, so a frame
    * whose release an exception skipped still leaves with the scope.
    * Curried for `Dataset.transform`:
    * `df.transform(Stage.scoped(eager = false))`.
    */
  def scoped(eager: Boolean)(df: DataFrame): DataFrame = {
    val staged = df.localCheckpoint(eager)
    stagedRdd(staged).foreach(r => scope.get()(r.id) = r.sparkContext)
    staged
  }

  /** Releases every frame this thread's query scope still holds. A
    * result built on one of them must not be read afterwards: it fails.
    */
  def releaseScope(): Unit = {
    val live = scope.get()
    live.foreach { case (id, sc) =>
      sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false))
    }
    live.clear()
  }

  /** `df` checkpointed eagerly, handed to `f`, and released when `f`
    * returns or throws. `f`'s result must not be a lazy plan over the
    * staged frame (it would read released blocks); a lazy result built
    * on frames `f` staged itself is fine.
    */
  def using[A](df: DataFrame)(f: DataFrame => A): A = {
    val staged = scoped(eager = true)(df)
    try f(staged) finally release(staged)
  }

  /** `df` checkpointed eagerly for the streaming query `start` starts on
    * it, and released when that query terminates (or `start` throws).
    * Not in the thread's query scope: the stream outlives the call that
    * started it, and a later build on that thread must not release a
    * frame its next micro-batch reads.
    */
  def forStream(df: DataFrame)(start: DataFrame => StreamingQuery): StreamingQuery = {
    val staged = df.localCheckpoint(true)
    val streams = df.sparkSession.streams
    object onEnd extends StreamingQueryListener {
      @volatile var query: Option[UUID] = None
      private val ended = new AtomicBoolean(false)
      def end(): Unit = if (ended.compareAndSet(false, true)) {
        streams.removeListener(this)
        stagedRdd(staged).foreach(_.unpersist(blocking = false))
      }
      def onQueryStarted(e: QueryStartedEvent): Unit = ()
      def onQueryProgress(e: QueryProgressEvent): Unit = ()
      def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        if (query.contains(e.id)) end()
    }
    streams.addListener(onEnd)
    val q = try start(staged) catch { case e: Throwable => onEnd.end(); throw e }
    onEnd.query = Some(q.id)
    // a query that ended before its id was recorded: the listener missed it
    if (!q.isActive) onEnd.end()
    q
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
      .transform(scoped(eager = true))
    // re-bind the checkpoint (a LogicalRDD carrying the layout) to the
    // caller's session, so downstream plans compose as before
    try f(ColumnBridge.ofRows(owner, ColumnBridge.analyzed(staged)))
    finally release(staged)
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
    * Returns the last round, which stays in the query scope for the
    * caller's lazy result, and whether the loop stopped (None or `done`)
    * before `maxRounds` rounds ran out. A fixed-round loop always builds
    * and is never done, so it reports false.
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
          val next = scoped(eager = true)(df)
          release(prev)
          if (done(next)) (next, true) else loop(next, round + 1)
      }
    loop(init, 0)
  }

  /** [[iterate]] run only for what `step` learns on the driver: the
    * last round is released too, so nothing the loop staged outlives it.
    */
  def drain(init: DataFrame, maxRounds: Int)(
      step: DataFrame => Option[DataFrame]): Unit =
    release(iterate(init, maxRounds)(step)._1)
}
