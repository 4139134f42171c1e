package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** [[QueryMetrics]]: a window holds exactly the stages of its body —
  * none of an action that returned just before it, all of its own —
  * with no sleep to settle the listener bus. */
class QueryMetricsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** A fresh plan each call: re-running one Dataset would reuse its
    * shuffle output and skip the map stage. */
  private def shuffleHeavy(): Long =
    spark.range(0, 40000, 1, 4).repartition(8).selectExpr("sum(id)").head().getLong(0)

  test("a window right after a shuffle-heavy action reports only its own shuffle-free stage") {
    for (round <- 1 to 20) {
      assert(shuffleHeavy() == 40000L * 39999 / 2)
      val w = QueryMetrics.measure(spark)(
        spark.sparkContext.parallelize(1 to 600, 3).map(_ * 2).count())
      assert(w.result == 600)
      assert(w.stages.map(_.tasks) == Seq(3), s"round $round: ${w.stages}")
      assert(w.shuffleWriteBytes == 0L, s"round $round: ${w.stages}")
      assert(w.stages.head.shuffleReadRows == 0L && w.stages.head.inputRows == 0L)
    }
  }

  test("a window's shuffle bytes equal the same body measured alone, and add up") {
    val alone = QueryMetrics.measure(spark)(shuffleHeavy())
    assert(alone.shuffleWriteBytes > 0L)
    assert(alone.stages.exists(_.shuffleWriteRows == 40000L), alone.stages)
    for (_ <- 1 to 5) {
      spark.range(0, 20000, 1, 4).repartition(3).count()
      val again = QueryMetrics.measure(spark)(shuffleHeavy())
      assert(again.shuffleWriteBytes == alone.shuffleWriteBytes, again.stages)
      assert(again.stages.size == alone.stages.size, again.stages)
    }
    val twice = QueryMetrics.measure(spark) { shuffleHeavy(); shuffleHeavy() }
    assert(twice.shuffleWriteBytes == 2 * alone.shuffleWriteBytes, twice.stages)
    assert(twice.stages.map(_.id).distinct.size == twice.stages.size)
  }

  /** Makes the shared listener-bus queue lag, as a heavy listener in a
    * busy application does: each stage completion costs it a fixed chunk of
    * CPU work, and every event posted behind it waits. A window that
    * skipped either drain would then miss its own last stage or receive
    * the previous action's. */
  private final class SlowListener extends SparkListener {
    @volatile var sink = 0L
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      var h = e.stageInfo.stageId.toLong
      var i = 0
      while (i < 40000000) { h = h * 6364136223846793005L + 1442695040888963407L; i += 1 }
      sink = h
    }
  }

  test("behind a lagging listener bus, windows still hold exactly their own stages") {
    val sc = spark.sparkContext
    val slow = new SlowListener
    sc.addSparkListener(slow)
    try {
      val alone = QueryMetrics.measure(spark)(shuffleHeavy())
      assert(alone.shuffleWriteBytes > 0L, alone.stages)
      for (round <- 1 to 5) {
        assert(shuffleHeavy() == 40000L * 39999 / 2)
        val w = QueryMetrics.measure(spark)(sc.parallelize(1 to 600, 3).map(_ * 2).count())
        assert(w.stages.map(_.tasks) == Seq(3), s"round $round: ${w.stages}")
        assert(w.shuffleWriteBytes == 0L, s"round $round: ${w.stages}")
        val again = QueryMetrics.measure(spark)(shuffleHeavy())
        assert(again.shuffleWriteBytes == alone.shuffleWriteBytes, s"round $round: ${again.stages}")
      }
    } finally sc.removeSparkListener(slow)
  }

  test("a failing body rethrows and leaves later windows exact") {
    val sc = spark.sparkContext
    val boom = intercept[IllegalStateException](
      QueryMetrics.measure(spark)(throw new IllegalStateException("boom")))
    assert(boom.getMessage == "boom")
    // a later window still sees exactly its own stage
    val w = QueryMetrics.measure(spark)(sc.parallelize(1 to 10, 2).count())
    assert(w.stages.map(_.tasks) == Seq(2))
  }

  private def mainSources: Seq[java.nio.file.Path] = {
    val sources = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.size > 10, s"expected the main sources under ${Paths.get("src/main").toAbsolutePath}")
    sources
  }

  /** Main source file name -> occurrences of `token`, where it occurs. */
  private def filesWith(token: String): Map[String, Int] = {
    val pattern = java.util.regex.Pattern.quote(token).r
    mainSources.map(p => p.getFileName.toString ->
        pattern.findAllMatchIn(new String(Files.readAllBytes(p), "UTF-8")).size)
      .filter(_._2 > 0).toMap
  }

  test("src/main has one stage meter: addSparkListener only in QueryMetrics and SessionMemo") {
    assert(filesWith("addSparkListener") == Map("QueryMetrics.scala" -> 1, "SessionMemo.scala" -> 1),
      "per-stage measurement belongs in QueryMetrics; SessionMemo's is its stop hook")
  }

  test("src/main settles nothing by sleeping: Thread.sleep only in the Sources/Sinks retry backoffs") {
    assert(filesWith("Thread.sleep") == Map("Sources.scala" -> 1, "Sinks.scala" -> 1),
      "drain the listener bus (QueryMetrics) instead of sleeping")
  }
}
