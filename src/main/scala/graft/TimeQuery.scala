package graft
/** Dev tool: time one query N times in a single session.
  * Usage: runMain graft.TimeQuery <sfDir> <queryName> [reps] */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val name = args(1)
    val reps = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // shared engine config ([[SessionDefaults]]) — timings transfer to
    // the bench session because the configuration IS the bench's
    val spark = SessionDefaults.local(cpus)
    spark.range(1000).selectExpr("sum(id)").collect()
    for (i <- 1 to reps) {
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(name)(spark, sfDir).count()
      println(f"[timequery] $name rep$i: ${(System.nanoTime() - t0) / 1e9}%.2f s rows=$n")
    }
    spark.stop()
  }
}
