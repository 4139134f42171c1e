package graft
/** Dev tool: print the formatted physical plan of one or more queries.
  * Usage: runMain graft.Explain <sfDir> <queryName> [queryName ...] */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    // shared engine config ([[SessionDefaults]]) so printed plans come
    // from the same optimizer configuration Bench/Verify run (r18)
    val spark = SessionDefaults.local("4", logLevel = "ERROR")
    args.tail.foreach { name =>
      println(s"========== $name ==========")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
