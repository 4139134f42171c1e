package perfbench

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.streaming.StreamingIngest

/** The streaming layer: `StreamingIngest.startScrubbedIngest` drains a
  * landing directory one file per trigger (`Trigger.AvailableNow`) into a
  * fresh store that every micro-batch both probes and appends. Progress
  * comes from the benchmark's StreamingQueryListener. */
object StreamProbe {
  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  /** One drain; returns the streaming layer metrics and the store checks
    * (no duplicate fingerprint, `expected` rows stored). */
  def run(ctx: Ctx, landing: String, root: String, expected: Long)
      : (Seq[(String, Double)], Seq[Check]) = {
    val docs = ctx.spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").json(landing)
    val store = s"$root/store"
    val q = ctx.spans("streaming.drain") {
      val q = StreamingIngest.startScrubbedIngest(docs, store, s"$root/checkpoint")
      q.awaitTermination()
      q
    }
    q.exception.foreach(e => throw e)
    ctx.drain()
    val ps = ctx.streams.progress(q.id).filter(_.numInputRows > 0)
    def dur(k: String) = Stats.median(ps.map(p =>
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
    val stored = StreamingIngest.scrubbedCorpus(ctx.spark, store)
    val rows = stored.count()
    val dupFp = stored.groupBy(col("fp")).count().filter(col("count") > 1).count()
    val metrics = Seq(
      "streaming.batches" -> ps.size.toDouble,
      "streaming.first_batch_s" -> ps.head.batchDuration / 1e3,
      "streaming.batch_p50_s" -> Stats.median(ps.map(_.batchDuration / 1e3)),
      "streaming.add_batch_ms" -> dur("addBatch"),
      "streaming.planning_ms" -> dur("queryPlanning"),
      "streaming.commit_ms" -> dur("commitOffsets"),
      "streaming.store_mb" -> Files.size(store) / 1048576.0)
    (metrics, Seq(
      Check("stream.unique_fp", dupFp == 0, s"$dupFp duplicated fingerprints"),
      Check("stream.stored_count", rows == expected, s"stored=$rows expected=$expected")))
  }
}
