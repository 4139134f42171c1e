package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * The one per-session registry behind graft's long-lived intermediates:
 * memoized tables keyed by (session, corpus, name) and the tracked
 * `localCheckpoint()`s the pair engines and graph operators mint.
 *
 * '''Memos.''' [[apply]] returns the SAME DataFrame object for a key, so
 * repeated queries share one file index / one persisted table instead of
 * hoping cache-manager plan matching re-finds it (and nothing is ever
 * re-persisted). An entry is either OWNED (`persisted = true`: its
 * `build` persisted it, [[release]] unpersists it) or a plain VIEW (a
 * file-index read, a lazy filter over an owned table): views are only
 * dropped, because unpersisting one would uncache whatever equivalent
 * plan a user cached on their own.
 *
 * '''Checkpoints.''' A local checkpoint materializes a DataFrame as
 * persisted executor blocks and TRUNCATES its lineage — right inside
 * iterative and multi-branch operators (kCore, LPA, linkPredict,
 * bandedHammingPairs), but Spark only frees those blocks when the
 * ContextCleaner happens to GC the RDD, so a long-lived session would
 * accumulate executor storage. Two call shapes:
 *  - [[checkpoint]] — checkpoint AND register: for tables the operator's
 *    RESULT still references (it reads the blocks lazily). Freed by
 *    [[release]] / [[releaseCheckpoints]].
 *  - [[free]] — immediate unpersist: for per-round tables an iterative
 *    loop has SUPERSEDED. Callers free a round only after the successor
 *    round materialized.
 * Checkpoint blocks are the ONLY copy of their data: a result built by a
 * checkpointing operator must be materialized (collected / written)
 * before release; re-executing it afterwards fails rather than silently
 * recomputing.
 *
 * WARNING — checkpoints are SESSION-scoped, memos are corpus-scoped: a
 * checkpoint carries no corpus identity (it is minted deep inside an
 * operator that never sees a path), so [[release]] of corpus A also
 * frees the checkpoints backing any still-held result built from corpus
 * B in the SAME session, and re-executing such a result afterwards
 * throws (its lineage is truncated). Materialize results from every
 * corpus you care about before releasing ANY corpus, or use one session
 * per corpus. Corpus B's memo entries survive the release.
 *
 * '''Stop hook.''' A session's entries are dropped when its SparkContext
 * ends, by one `onApplicationEnd` listener registered on the session's
 * first insert — no later graft call is needed, and the hot lookup path
 * carries no sweep of stopped sessions. Stop races are closed on the
 * registering side: the scope is inserted first; on an already-stopped
 * context the hook fires immediately; a context that stops WHILE the
 * listener is being added is caught by a post-registration `isStopped`
 * re-check (SparkContext sets its stopped flag before ApplicationEnd is
 * dispatched, so a missed dispatch implies the re-check sees it); and a
 * listener bus that already shut down surfaces as IllegalStateException
 * and fires the hook inline. The hook may therefore fire twice in these
 * windows — it is a conditional map removal, so that is harmless.
 */
private[graft] object SessionMemo {

  private final case class Entry(df: DataFrame, persisted: Boolean)

  /** One session's state: memo entries by (corpus, name) and its tracked
    * checkpoints. Lives until the session's stop hook fires. */
  private final class Scope {
    val memos = scala.collection.concurrent.TrieMap.empty[(String, String), Entry]
    val checkpoints = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
  }

  private val scopes = scala.collection.concurrent.TrieMap.empty[SparkSession, Scope]

  private def scopeOf(s: SparkSession): Scope = scopes.get(s) match {
    case Some(sc) => sc
    case None =>
      val fresh = new Scope
      // insert-first (not getOrElseUpdate): the immediate-fire paths below
      // remove the key, and getOrElseUpdate would re-insert it AFTER its
      // update block — a permanent entry strongly retaining the stopped
      // session. A stopped session's caller gets the detached `fresh`
      // scope, so its insert leaves nothing behind.
      scopes.putIfAbsent(s, fresh).getOrElse {
        def fire(): Unit = scopes.remove(s, fresh)
        if (s.sparkContext.isStopped) fire()
        else try {
          s.sparkContext.addSparkListener(new SparkListener {
            override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
              fire()
          })
          if (s.sparkContext.isStopped) fire()
        } catch {
          // LiveListenerBus already stopped — the context is down
          case _: IllegalStateException => fire()
        }
        fresh
      }
  }

  /** The memoized DataFrame for (`s`, `corpus`, `name`), built on first
    * use. `persisted` declares whether `build` persisted its result (then
    * [[release]] unpersists it) or returns a view (then it is only
    * dropped). Every input `build` reads besides `corpus` must be folded
    * into `name`. */
  def apply(s: SparkSession, corpus: String, name: String, persisted: Boolean)(
      build: => DataFrame): DataFrame =
    scopeOf(s).memos.getOrElseUpdate((corpus, name), Entry(build, persisted)).df

  /** Eagerly localCheckpoint `df` and register the blocks for release. */
  def checkpoint(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint()
    scopeOf(cp.sparkSession).checkpoints.add(cp)
    cp
  }

  /** Unpersist the checkpointed blocks behind `cp` NOW (asynchronous
    * block removal — the RDD id is freed from the persistent-RDD map
    * immediately). Safe only once nothing will re-read `cp`. */
  def free(cp: DataFrame): Unit =
    org.apache.spark.sql.GraftBridge.checkpointRdds(cp)
      .foreach(_.unpersist(blocking = false))

  /** Free every tracked checkpoint of `s`; its memo entries stay. */
  def releaseCheckpoints(s: SparkSession): Unit =
    scopes.get(s).foreach { sc =>
      var cp = sc.checkpoints.poll()
      while (cp != null) { free(cp); cp = sc.checkpoints.poll() }
    }

  /** Drop `corpus`'s memo entries (unpersisting the owned ones) and free
    * every tracked checkpoint of `s` — see the WARNING above. */
  def release(s: SparkSession, corpus: String): Unit = {
    scopes.get(s).foreach { sc =>
      sc.memos.keys.filter(_._1 == corpus).foreach { k =>
        sc.memos.remove(k).foreach(e => if (e.persisted) e.df.unpersist())
      }
    }
    releaseCheckpoints(s)
  }

  /** Test probe: the (corpus, name) memo keys and the tracked-checkpoint
    * count held for `s`; None when `s` has no scope (never used, or its
    * stop hook fired). */
  def probe(s: SparkSession): Option[(Set[(String, String)], Int)] =
    scopes.get(s).map(sc => (sc.memos.keySet.toSet, sc.checkpoints.size))
}
