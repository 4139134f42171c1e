package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** [[ScaleDryRun]]'s generic `<queries> x <factor>` run: replicated
  * graph inputs are disjoint copies (the row-count law at factor 3),
  * the noop sink counts what count() counts, and factor-x corpora are
  * keyed by their source. */
class ScaleDryRunSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** A small lineitem + supplier source with `orders` orders of three
    * lines each; quantities 45..50, so the minQty 46 co-order graph of
    * g11 is non-empty, and nation-0 suppliers seed g12. */
  private def source(orders: Int): String = {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_sdr_src").toString
    (1 to orders).flatMap(o => (0 until 3).map(j =>
        (o.toLong, ((o * 7 + j * 5) % 25 + 1).toLong, ((o + j) % 8 + 1).toLong,
          45.0 + (o + j) % 6)))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
      .write.parquet(s"$dir/lineitem.parquet")
    (1 to 8).map(k => (k.toLong, k % 3)).toDF("s_suppkey", "s_nationkey")
      .write.parquet(s"$dir/supplier.parquet")
    dir
  }

  private def quietly[T](body: => T): T =
    Console.withOut(new java.io.ByteArrayOutputStream())(body)

  private def workDir(): String = Files.createTempDirectory("graft_sdr_work").toString

  test("disjoint-copy law: at factor 3, g11 and g12 return exactly 3x their 1x rows") {
    val src = source(60)
    val work = workDir()
    val rows = quietly(ScaleDryRun.run(spark, src, 3, work,
      Seq("g11_lpa_labels", "g12_ppr"), noop = false))
      .map(m => (m.corpus, m.query) -> m.rows).toMap
    for (q <- Seq("g11_lpa_labels", "g12_ppr")) {
      val one = rows((s"$src (1x)", q))
      assert(one > 0, s"$q is empty on the 1x fixture")
      assert(rows(("3x", q)) == 3 * one, s"$q: ${rows(("3x", q))} rows at 3x vs $one at 1x")
    }
    // the warm-up found exactly the tables the two queries read
    val synth = ScaleDryRun.corpusDir(src, 3, work)
    assert(new java.io.File(synth).list().toSet == Set("lineitem.parquet", "supplier.parquet"))
    // every key is disjoint across copies — including l_orderkey, which
    // no vertex carries (a shared order would only add cross-copy edges)
    for ((table, key) <- Seq("lineitem" -> "l_orderkey", "lineitem" -> "l_partkey",
                             "lineitem" -> "l_suppkey", "supplier" -> "s_suppkey")) {
      def distinct(dir: String) =
        spark.read.parquet(s"$dir/$table.parquet").select(key).distinct().count()
      assert(distinct(synth) == 3 * distinct(src), s"$table.$key copies collide")
    }
  }

  test("the noop sink counts the rows count() counts") {
    val src = source(30)
    val q = Seq("g12_ppr")
    val counted = quietly(ScaleDryRun.run(spark, src, 1, workDir(), q, noop = false))
    val sunk = quietly(ScaleDryRun.run(spark, src, 1, workDir(), q, noop = true))
    assert(sunk.map(_.rows) == counted.map(_.rows))
    assert(sunk.forall(_.window.stages.nonEmpty))
  }

  test("two sources in one workDir produce two factor-x corpora") {
    val (a, b) = (source(20), source(40))
    val work = workDir()
    val tables = Set("lineitem", "supplier")
    val dirA = quietly(ScaleDryRun.corpora(spark, a, 2, work, tables)).last._2
    val dirB = quietly(ScaleDryRun.corpora(spark, b, 2, work, tables)).last._2
    assert(dirA != dirB)
    assert(spark.read.parquet(s"$dirA/lineitem.parquet").count() == 2 * 20 * 3)
    assert(spark.read.parquet(s"$dirB/lineitem.parquet").count() == 2 * 40 * 3)
  }

  test("a table without a factor-x generator fails before anything is measured") {
    val e = intercept[IllegalArgumentException](
      ScaleDryRun.corpora(spark, source(5), 2, workDir(), Set("lineitem", "orders")))
    assert(e.getMessage.contains("orders"))
  }
}
