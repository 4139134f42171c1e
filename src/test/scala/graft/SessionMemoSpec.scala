package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.storage.StorageLevel

/** [[SessionMemo]]: memo entries are corpus-scoped, checkpoints are
  * session-scoped, views are dropped but never unpersisted, every input
  * of a build is part of its key, and a session's stop hook frees its
  * scope without any later graft call. */
class SessionMemoSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Names memoized for `corpus` in the shared test session. */
  private def names(corpus: String): Set[String] =
    SessionMemo.probe(spark).fold(Set.empty[String])(_._1.collect {
      case (c, n) if c == corpus => n })

  private def tracked: Int = SessionMemo.probe(spark).fold(0)(_._2)

  /** A fresh corpus directory with the tables the registry's build
    * functions read: region (file-index memo), lineitem (co-order
    * edges) and 64-dim embeddings (sigTable). */
  private def corpus(): String = {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_memo").toString
    Seq((0L, "AFRICA")).toDF("r_regionkey", "r_name")
      .write.parquet(s"$dir/region.parquet")
    Seq((1L, 10L, 50.0), (1L, 11L, 50.0), (2L, 10L, 49.0), (2L, 12L, 60.0))
      .toDF("l_orderkey", "l_partkey", "l_quantity")
      .write.parquet(s"$dir/lineitem.parquet")
    (0 until 8).map(i => (i.toLong,
        Seq.tabulate(64)(j => ((i * 31 + j * 17) % 13 - 6).toFloat)))
      .toDF("vec_id", "embedding")
      .write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("a stopped session's registry entries are dropped by the stop hook alone") {
    // forked JVM: stopping a SparkContext in-process would take the
    // shared test session down with it
    val java = sys.props("java.home") + "/bin/java"
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar",
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val cmd = Seq(java) ++ addOpens ++ Seq(
      "-Xmx2g", "-cp", sys.props("java.class.path"),
      "graft.SessionStopProbe", corpus())
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    val rc = p.waitFor()
    assert(rc == 0, s"probe exit $rc:\n${out.linesIterator.toSeq.takeRight(15).mkString("\n")}")
    assert(out.contains("PROBE: clean"))
  }

  test("releaseCaches(s, dirA) keeps dirB's memo entries but frees every tracked checkpoint") {
    val s = spark
    import s.implicits._
    val (dirA, dirB) = (corpus(), corpus())
    Queries.t(spark, dirA, "region")
    val viewB = Queries.t(spark, dirB, "region")
    val ownedB = SessionMemo(spark, dirB, "owned", persisted = true) {
      Seq(1, 2, 3).toDF("x").persist()
    }
    assert(ownedB.count() == 3)
    val cp = SessionMemo.checkpoint(Seq(4, 5).toDF("y"))
    val cpRdds = org.apache.spark.sql.GraftBridge.checkpointRdds(cp).map(_.id)
    assert(cpRdds.nonEmpty && tracked > 0)

    NorthStar.releaseCaches(spark, dirA)

    assert(names(dirA).isEmpty)
    assert(names(dirB) == Set("table/region", "owned"),
      "releasing corpus A must not touch corpus B's entries")
    assert(Queries.t(spark, dirB, "region") eq viewB)
    assert(ownedB.storageLevel != StorageLevel.NONE,
      "corpus B's owned table was unpersisted by corpus A's release")
    assert(tracked == 0, "checkpoints are session-scoped: all must be freed")
    assert(cpRdds.forall(id => !spark.sparkContext.getPersistentRDDs.contains(id)))

    NorthStar.releaseCaches(spark, dirB)
    assert(names(dirB).isEmpty)
    assert(ownedB.storageLevel == StorageLevel.NONE)
  }

  test("releaseCaches drops a memoized table read without uncaching the user's own cache of it") {
    val dir = corpus()
    assert(Queries.t(spark, dir, "region").count() == 1)
    val mine = spark.read.parquet(s"$dir/region.parquet").cache()
    assert(mine.count() == 1)
    // the memo's read resolves to the SAME cached plan — so unpersisting
    // the memo entry would uncache the user's table
    assert(Queries.t(spark, dir, "region").storageLevel != StorageLevel.NONE)
    NorthStar.releaseCaches(spark, dir)
    assert(names(dir).isEmpty)
    assert(mine.storageLevel != StorageLevel.NONE,
      "releaseCaches unpersisted a view entry and dropped the user's cache")
    mine.unpersist()
  }

  test("sigTable calls that differ only in spark.graft.annIndexDir do not share an entry") {
    val dir = corpus()
    val root = Files.createTempDirectory("graft_memo_idx").toString
    NorthStar.releaseCaches(spark, dir)
    try {
      val live = NorthStar.sigTable(spark, dir, 512, 8)
      spark.conf.set("spark.graft.annIndexDir", root)
      val viaIndex = NorthStar.sigTable(spark, dir, 512, 8)
      assert(!(viaIndex eq live), "the annIndexDir conf must be part of the key")
      assert(viaIndex.queryExecution.executedPlan.toString.contains(root))
      assert(names(dir).count(_.startsWith("sig/")) == 2)
      spark.conf.unset("spark.graft.annIndexDir")
      assert(NorthStar.sigTable(spark, dir, 512, 8) eq live)
    } finally {
      spark.conf.unset("spark.graft.annIndexDir")
      NorthStar.releaseCaches(spark, dir)
    }
    assert(!names(dir).exists(_.startsWith("sig/")))
  }

  test("src/main has one session registry: TrieMap appears only in SessionMemo.scala") {
    val sources = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.size > 10, s"expected the main sources under ${Paths.get("src/main").toAbsolutePath}")
    val withTrieMap = sources.filter(p =>
      new String(Files.readAllBytes(p), "UTF-8").contains("TrieMap"))
      .map(_.getFileName.toString).toSet
    assert(withTrieMap == Set("SessionMemo.scala"),
      "a new ad-hoc session registry belongs in SessionMemo")
  }
}
