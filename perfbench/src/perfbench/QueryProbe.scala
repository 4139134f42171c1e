package perfbench

import scala.collection.mutable

import graft.{NorthStar, SparkEntry}

/** The query layer: a fixed subset of `SparkEntry.queries` over generated
  * harness tables, driven through the `noop` sink (`count()` prunes real
  * work), the order permuted by the seed inside each tier, with
  * `NorthStar.releaseCaches` after each pass. The first pass warms the
  * plans and is not reported. */
object QueryProbe {
  private def storedMb(ctx: Ctx): Double = {
    ctx.drain()
    ctx.spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0
  }

  /** Per-tier and per-query seconds of the second pass, the cache
    * residency around its release, and the row count of every query
    * (written to `rowsOut` with the oracle SQL, for the runner's DuckDB
    * comparison). */
  def run(ctx: Ctx, dir: String, order: Seq[String], rowsOut: String): Seq[(String, Double)] = {
    val s = ctx.spans
    def pass(): Seq[Double] = order.map { q =>
      val t0 = System.nanoTime()
      s(s"queries.${q.take(1)}")(s(s"query.$q")(SparkEntry.queries(q)(ctx.spark, dir)
        .write.format("noop").mode("overwrite").save()))
      (System.nanoTime() - t0) / 1e9
    }
    def release(): (Double, Double) = {
      val held = storedMb(ctx)
      val t0 = System.nanoTime()
      s("caches.release")(NorthStar.releaseCaches(ctx.spark, dir))
      (held, (System.nanoTime() - t0) / 1e9)
    }
    val enabled = s.enabled
    s.enabled = false
    pass(); release()
    s.enabled = enabled
    val lat = order.zip(pass())
    val (held, releaseS) = release()
    val leftover = storedMb(ctx)
    val rows = order.sorted.map(q => q -> SparkEntry.queries(q)(ctx.spark, dir).count())
    NorthStar.releaseCaches(ctx.spark, dir)
    java.nio.file.Files.write(java.nio.file.Paths.get(rowsOut), Json.render(mutable.LinkedHashMap(
      "rows" -> mutable.LinkedHashMap(rows: _*),
      "oracle_sql" -> mutable.LinkedHashMap(order.sorted.map(q =>
        q -> SparkEntry.oracleSql.getOrElse(q, "")): _*))).getBytes("UTF-8"))
    val tiers = lat.groupBy(_._1.take(1)).map { case (t, xs) => s"queries.${t}_s" -> xs.map(_._2).sum }
    tiers.toSeq.sorted ++ lat.map { case (q, v) => s"query.${q}_s" -> v } ++ Seq(
      "queries.query_p50_s" -> Stats.median(lat.map(_._2)),
      "caches.persisted_mb" -> held, "caches.release_s" -> releaseS,
      "caches.leftover_mb" -> leftover)
  }
}
