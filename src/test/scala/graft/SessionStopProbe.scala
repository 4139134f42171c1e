package graft

import org.apache.spark.sql.SparkSession

/**
 * Forked-JVM probe for [[SessionMemo]]'s stop hook: populate the
 * registry (table memo, co-order memo, tracked checkpoints), STOP the
 * session, and verify the stop hook dropped the session's scope with no
 * later graft call — the retention scenario the round-10 ADVICE flagged
 * (a session that stops and is never followed by another graft call
 * used to be held, with its queued DataFrames, for the JVM lifetime).
 * Runs in its own JVM because stopping the shared test SparkContext
 * would kill every other suite. Exit 0 = clean, 1 = retained,
 * 2 = never populated, 3 = a post-stop insert left an entry.
 */
object SessionStopProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val scratch = java.nio.file.Files.createTempDirectory("graft_probe").toString
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", 2)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", scratch)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    // populate: a memoized table read, the memoized co-order edge build,
    // and a tracked checkpoint (via a graph operator, the real call shape)
    require(Queries.t(spark, dir, "region").count() > 0)
    require(Queries.coOrderEdges(spark, dir, 49).count() >= 0)
    val lp = operators.Graph.labelPropagation(
      Seq((1L, 2L), (2L, 3L)).toDF("u", "v"), 1)
    require(lp.count() == 3)
    val populated = SessionMemo.probe(spark).exists { case (memos, cps) =>
      memos.nonEmpty && cps > 0 }
    // built while the context is live: the post-stop insert below must
    // not need one
    val prebuilt = spark.emptyDataFrame
    spark.stop()
    // the stop hook must have fired synchronously-enough: the listener
    // bus drains before SparkContext.stop returns
    val clean = SessionMemo.probe(spark).isEmpty
    if (!populated) { System.err.println("PROBE: registries never populated"); sys.exit(2) }
    if (!clean) {
      System.err.println(s"PROBE: retained after stop — ${SessionMemo.probe(spark)}")
      sys.exit(1)
    }
    // a memo insert on an ALREADY-stopped session: the hook must fire
    // inline and leave no entry behind (the round-11 review found
    // getOrElseUpdate re-inserting the key AFTER the immediate-fire
    // block — a permanent strong retention of the stopped session)
    var built = 0
    val got = SessionMemo(spark, dir, "probe-post-stop", persisted = false) {
      built += 1; prebuilt
    }
    if (built != 1 || (got ne prebuilt) || SessionMemo.probe(spark).nonEmpty) {
      System.err.println(s"PROBE: post-stop insert leaked — " +
        s"built=$built entry=${SessionMemo.probe(spark)}")
      sys.exit(3)
    }
    println("PROBE: clean")
    sys.exit(0)
  }
}
