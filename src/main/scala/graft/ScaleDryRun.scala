package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Scale dry-run: run harness queries on the source corpus (1x) and on a
 * synthesized factor-x corpus with the SAME statistics, and report per
 * query its output rows, wall time, shuffle-write bytes (the budget that
 * binds on a cluster) and its top-3 stages by executor CPU with their
 * task counts — all from one [[QueryMetrics]] window. Results land in
 * SCALE.md.
 *
 * Usage: `ScaleDryRun <src> <factor> <workDir> <q1,q2,...|study> [count|noop]`
 *
 * '''Query list.''' The queries are driven by `count()` (default) or by
 * the noop sink (`noop`: count() prunes map-only projections and
 * cardinality-preserving joins, so their kernels never run under it; the
 * noop row count is observed on the same execution). One untimed
 * warm-up of the list at 1x puts JIT, codegen and parquet-footer costs
 * outside the table and records which tables the list reads; then per
 * corpus (1x, and factor-x when factor > 1) the list runs IN ORDER with
 * no release between queries — so `g12_ppr,g02_pagerank,g12_ppr` shows
 * the edge memo cold, shared and warm, and repeating a query puts its
 * memo builds outside its second row. Caches and checkpoints are
 * released at the end of each corpus, and the storage left after the
 * release is printed. Factor 1 profiles the list on the source alone.
 *
 * '''Synthesized inputs.''' documents are drawn from the source corpus's
 * empirical unigram/length distributions with the same planted near-dup
 * rate; embeddings are seeded unit-normalized gaussians (the source
 * profile: isotropic unit vectors); lineitem (the columns the co-order
 * and supplier-part graphs read) and supplier are `factor` DISJOINT
 * copies, so graph work scales exactly linearly and a super-linear row
 * count, wall or shuffle number indicts the operator, not the corpus. A
 * list reading any other table runs at factor 1 only. The document
 * corpus keeps the source's ~30-word vocabulary on purpose: growing the
 * doc count under a FIXED vocabulary is the adversarial direction for
 * shingle-based candidate generation (every shingle's document
 * frequency grows with the corpus).
 *
 * Generation is seeded and CACHED per table by its `_SUCCESS` marker
 * under `<workDir>/<source dir name>_<factor>x`, so reruns skip it; two
 * sources with the same directory name share that key.
 *
 * '''Studies''' exercise APIs no harness query exposes: `clustered` (the
 * s10 bucketed-ANN study on clustered corpora), `lsh` (the at-scale
 * CorpusPipeline with the LSH pair stage, and measured vs banding-math
 * LSH candidate counts), `wave10` (scrubbed-ingest gate per-batch cost),
 * `wave12` (batch-RTBF store maintenance and the fluency-gated ingest)
 * and `wave13` (the RTBF cascade over a store family).
 */
object ScaleDryRun {

  /** Rx documents with source-corpus word/length/near-dup statistics. */
  def synthesizeDocs(spark: SparkSession, srcDir: String, factor: Int,
                     plantedDupRate: Double = 0.01): DataFrame = {
    import spark.implicits._
    val src = spark.read.parquet(s"$srcDir/documents.parquet")
      .select(col("text"), col("lang"), col("source")).collect()
    val texts = src.map(_.getString(0))
    val langs = src.map(_.getString(1))
    val sources = src.map(_.getString(2))
    val words = texts.flatMap(_.split("\\s+")).filter(_.nonEmpty)
    val lens = texts.map(_.split("\\s+").count(_.nonEmpty))
    val n = texts.length * factor
    val rnd = new scala.util.Random(4242)
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String)]
    var id = 0L
    var i = 0
    while (i < n) {
      val len = lens(rnd.nextInt(lens.length))
      val body = Array.fill(len)(words(rnd.nextInt(words.length))).mkString(" ")
      rows += ((id, body, langs(rnd.nextInt(langs.length)),
        sources(rnd.nextInt(sources.length))))
      id += 1
      if (rnd.nextDouble() < plantedDupRate) {
        // planted near-dup: same doc with one word swapped (J well above
        // the 0.8 threshold at these lengths)
        val toks = body.split(" ")
        toks(rnd.nextInt(toks.length)) = words(rnd.nextInt(words.length))
        rows += ((id, toks.mkString(" "), langs(rnd.nextInt(langs.length)),
          sources(rnd.nextInt(sources.length))))
        id += 1
      }
      i += 1
    }
    rows.toSeq.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("int"))
      .repartition(32)
  }

  /** Rx embeddings: seeded unit-normalized gaussians, source labels. */
  def synthesizeEmbeddings(spark: SparkSession, srcDir: String,
                           factor: Int): DataFrame = {
    import spark.implicits._
    val src = spark.read.parquet(s"$srcDir/embeddings.parquet")
    val labels = src.select(col("label")).as[Int].collect()
    val n = labels.length * factor
    val dim = 64
    val rnd = new scala.util.Random(2424)
    val rows = (0 until n).map { i =>
      val v = Array.fill(dim)(rnd.nextGaussian().toFloat)
      val nrm = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      (i.toLong, v.map(_ / nrm), labels(rnd.nextInt(labels.length)))
    }
    rows.toDF("vec_id", "embedding", "label").repartition(32)
  }

  /**
   * CLUSTERED embeddings — the realistic large-corpus profile (topics /
   * templates / sources): fixed-size tight gaussian clusters, cluster
   * COUNT grows with n (bigger corpora have more content modes, not
   * fatter ones). Distributed generation (one task group per cluster
   * range), seeded per (cluster, member) so any n prefix-agrees.
   */
  def synthesizeClusteredEmbeddings(spark: SparkSession, n: Long,
                                    perCluster: Int = 32,
                                    dim: Int = 64): DataFrame = {
    import spark.implicits._
    val nClusters = n / perCluster
    def unit(r: scala.util.Random): Array[Double] = {
      val g = Array.fill(dim)(r.nextGaussian())
      val nm = math.sqrt(g.map(x => x * x).sum)
      g.map(_ / nm)
    }
    spark.range(nClusters).repartition(32).as[Long].flatMap { c =>
      val center = unit(new scala.util.Random(77000L + c))
      (0 until perCluster).map { i =>
        val u = unit(new scala.util.Random(c * 100003L + i))
        val raw = Array.tabulate(dim)(j => center(j) + 0.2 * u(j))
        val nm = math.sqrt(raw.map(x => x * x).sum)
        (c * perCluster + i, raw.map(x => (x / nm).toFloat), (c % 10).toInt)
      }
    }.toDF("vec_id", "embedding", "label")
  }

  /** Candidate-pair count of the banded LSH join (sum of C(m,2) over
    * (band, bandhash) buckets — what the equi-join materializes before
    * the estimate/verify stages). */
  private def lshCandidates(hs: DataFrame, k: Int, bands: Int): Long = {
    import graft.functions.{TextFunctions => TF}
    hs.select(col("doc_id"),
        posexplode(TF.lshBandHashes(TF.minhashFromHashes(col("hs"), k), k, bands))
          .as(Seq("band", "bh")))
      .groupBy(col("band"), col("bh")).agg(count(lit(1)).as("m"))
      .agg(sum(expr("m * (m - 1) div 2"))).head().getLong(0)
  }

  /** Banding-math prediction: E[candidates] = Σ_pairs P(cand | J(pair)),
    * P = 1-(1-J^r)^bands, estimated from a seeded sample of pairs. */
  private def predictedCandidates(hs: DataFrame, k: Int, bands: Int,
                                  totalPairs: Double): Double = {
    val r = k / bands
    val ic = graft.functions.Hashing.sortedIntersectCount(col("ha"), col("hb"))
    val a = hs.select(col("doc_id").as("ia"), col("hs").as("ha"))
      .orderBy(rand(7)).limit(400)
    val b = hs.select(col("doc_id").as("ib"), col("hs").as("hb"))
      .orderBy(rand(13)).limit(400)
    val mean = a.crossJoin(b).filter(col("ia") < col("ib"))
      .select((ic.cast("double") /
        (size(col("ha")) + size(col("hb")) - ic)).as("j"))
      .select(avg(lit(1.0) - pow(lit(1.0) - pow(col("j"), lit(r.toDouble)),
        lit(bands.toDouble))))
      .head().getDouble(0)
    mean * totalPairs
  }

  private def fmtBytes(b: Long): String =
    if (b >= (1L << 30)) f"${b / (1L << 30).toDouble}%.2f GiB"
    else if (b >= (1L << 20)) f"${b / (1L << 20).toDouble}%.1f MiB"
    else f"${b / 1024.0}%.1f KiB"

  /** Generate-if-absent, keyed on the `_SUCCESS` marker under `path`. */
  private def materialize(spark: SparkSession, path: String)
                         (gen: => DataFrame): Unit = {
    if (!new java.io.File(s"$path/_SUCCESS").exists()) {
      val t0 = System.nanoTime()
      gen.write.mode("overwrite").parquet(path)
      println(s"-- generated $path in ${(System.nanoTime() - t0) / 1000000000L} s")
    } else println(s"-- reusing cached $path")
  }

  /** Where the factor-x corpus of `srcDir` lives: keyed by the source
    * directory's name AND the factor, so a run on a second source does
    * not silently reuse the first source's corpus. */
  private[graft] def corpusDir(srcDir: String, factor: Int, workDir: String): String =
    s"$workDir/${new java.io.File(srcDir).getName}_${factor}x"

  /** Write `factor` disjoint copies of the lineitem columns the graph
    * queries read (orderkey, partkey, suppkey, quantity) and of supplier
    * into `dir`: every key is offset per copy, so the co-order and the
    * supplier-part graphs of the copies share no vertex. */
  private[graft] def replicateLineitem(spark: SparkSession, srcDir: String,
                                       factor: Int, dir: String): Unit = {
    val keys = Seq("l_orderkey", "l_partkey", "l_suppkey")
    val li = spark.read.parquet(s"$srcDir/lineitem.parquet")
      .select(keys.map(k => col(k).cast("long").as(k)) :+ col("l_quantity"): _*)
    val sup = spark.read.parquet(s"$srcDir/supplier.parquet")
      .select(col("s_suppkey").cast("long").as("s_suppkey"), col("s_nationkey"))
    val b = li.agg(max(col("l_orderkey")), max(col("l_partkey")),
      max(col("l_suppkey"))).first()
    require(!b.isNullAt(0), s"cannot replicate: $srcDir lineitem is empty")
    val maxS = sup.agg(max(col("s_suppkey"))).first()
    val (offO, offP) = (b.getLong(0) + 1L, b.getLong(1) + 1L)
    val offS = (if (maxS.isNullAt(0)) b.getLong(2) else b.getLong(2).max(maxS.getLong(0))) + 1L
    // supplierPartEdges maps parts to partkey + 10^7; replicated part
    // ids must stay below that offset so the two id spaces stay disjoint
    require(offP * factor < 10000000L,
      s"part id space overflow: ${offP * factor} >= 1e7")
    // and replicated supplier ids must stay below it too, or a supplier
    // id collides with an offset part id
    require(offS * factor < 10000000L,
      s"supplier id space overflow: ${offS * factor} >= 1e7")
    val copy = explode(sequence(lit(0L), lit(factor - 1L))).as("c")
    materialize(spark, s"$dir/lineitem.parquet") {
      li.select(col("*"), copy).select(
        (col("l_orderkey") + col("c") * offO).as("l_orderkey"),
        (col("l_partkey") + col("c") * offP).as("l_partkey"),
        (col("l_suppkey") + col("c") * offS).as("l_suppkey"),
        col("l_quantity"))
    }
    materialize(spark, s"$dir/supplier.parquet") {
      sup.select(col("*"), copy).select(
        (col("s_suppkey") + col("c") * offS).as("s_suppkey"), col("s_nationkey"))
    }
  }

  /** The corpora a run measures — `(label, dir)` for the source, then
    * for the factor-x corpus (factor > 1) with `tables` materialized. */
  private[graft] def corpora(spark: SparkSession, srcDir: String, factor: Int,
                             workDir: String, tables: Set[String]): Seq[(String, String)] = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    if (factor == 1) return Seq(s"$srcDir (1x)" -> srcDir)
    val unknown = tables -- Set("documents", "embeddings", "lineitem", "supplier")
    require(unknown.isEmpty, s"no factor-x generator for ${unknown.toSeq.sorted
      .mkString(", ")}: run this list at factor 1")
    val dir = corpusDir(srcDir, factor, workDir)
    if (tables("documents"))
      materialize(spark, s"$dir/documents.parquet")(synthesizeDocs(spark, srcDir, factor))
    if (tables("embeddings"))
      materialize(spark, s"$dir/embeddings.parquet")(synthesizeEmbeddings(spark, srcDir, factor))
    if (tables("lineitem") || tables("supplier"))
      replicateLineitem(spark, srcDir, factor, dir)
    Seq(s"$srcDir (1x)" -> srcDir, s"${factor}x" -> dir)
  }

  /** Names of the `<dir>/<name>.parquet` tables read by the actions
    * `body` runs — every successful action's analyzed plan, subqueries
    * included (checkpointing operators read their inputs in their own
    * eager actions, which are seen here too). */
  private def tablesRead(spark: SparkSession, dir: String)(body: => Unit): Set[String] = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val root = new org.apache.hadoop.fs.Path(new java.io.File(dir).getAbsolutePath).toUri.getPath
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.hadoop.fs.Path]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.analyzed.collectWithSubqueries { case r: LogicalRelation => r.relation }
          .foreach {
            case h: HadoopFsRelation => h.location.rootPaths.foreach(seen.add)
            case _ =>
          }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { body; org.apache.spark.sql.GraftBridge.drainListenerBus(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    seen.asScala.collect {
      case p if p.getParent.toUri.getPath == root && p.getName.endsWith(".parquet") =>
        p.getName.stripSuffix(".parquet")
    }.toSet
  }

  /** Persisted-RDD count + cached bytes — the storage-flatness probe. */
  private def storageSummary(spark: SparkSession): String = {
    val info = spark.sparkContext.getRDDStorageInfo
    s"${info.length} RDDs / ${fmtBytes(info.map(i => i.memSize + i.diskSize).sum)}"
  }

  /** Run `df` to completion and return its row count: `count()`, or the
    * noop sink with the count observed on the same execution. */
  private def drive(df: DataFrame, noop: Boolean): Long =
    if (!noop) df.count()
    else {
      val rows = org.apache.spark.sql.Observation()
      df.observe(rows, count(lit(1)).as("n"))
        .write.mode("overwrite").format("noop").save()
      rows.get("n").asInstanceOf[Long]
    }

  /** One measured query on one corpus. */
  final case class Measured(corpus: String, query: String,
                            window: QueryMetrics.Window[Long]) {
    def rows: Long = window.result
  }

  /** The generic `<queries> x <factor>` run (see the object doc); prints
    * each row as it is measured and returns them all. */
  private[graft] def run(spark: SparkSession, srcDir: String, factor: Int,
                         workDir: String, queries: Seq[String],
                         noop: Boolean): Seq[Measured] = {
    val unknown = queries.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    def query(q: String, dir: String) = SparkEntry.queries(q)(spark, dir)
    val read = tablesRead(spark, srcDir)(queries.foreach(q => drive(query(q, srcDir), noop)))
    NorthStar.releaseCaches(spark, srcDir)
    corpora(spark, srcDir, factor, workDir, read).flatMap { case (label, dir) =>
      println("| corpus | query | rows | wall s | shuffle write | top-3 stages by CPU (tasks, cpu) |")
      println("|---|---|---|---|---|---|")
      val rows = queries.map { q =>
        val m = Measured(label, q, QueryMetrics.measure(spark)(drive(query(q, dir), noop)))
        val top = m.window.stages.sortBy(-_.cpuMs).take(3)
          .map(s => s"${s.tasks} tasks, ${s.cpuMs} ms").mkString("; ")
        println(f"| $label | $q | ${m.rows} | ${m.window.wallS}%.1f " +
          f"| ${fmtBytes(m.window.shuffleWriteBytes)} | $top |")
        m
      }
      // releaseCaches frees the session's tracked checkpoints too
      NorthStar.releaseCaches(spark, dir)
      println(s"-- storage after releasing $label: ${storageSummary(spark)}")
      rows
    }
  }

  /** A study's measurement: (result, wall s, shuffle-write bytes). */
  private def measured[T](spark: SparkSession)(body: => T): (T, Double, Long) = {
    val w = QueryMetrics.measure(spark)(body)
    (w.result, w.wallS, w.shuffleWriteBytes)
  }

  /** The at-scale dedup forms no harness query runs: CorpusPipeline with
    * the LSH pair stage (d13's verdict pipeline without its exact pair
    * join, which a fixed-vocabulary corpus makes quadratic), and the LSH
    * candidate count measured vs the banding-math prediction. */
  private def lshStudy(spark: SparkSession, srcDir: String, factor: Int,
                       workDir: String): Unit = {
    println("| corpus | step | rows | wall s | shuffle write |")
    println("|---|---|---|---|---|")
    for ((label, dir) <- corpora(spark, srcDir, factor, workDir, Set("documents"))) {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val (n2, t2, sb2) = measured(spark)(
        graft.pipeline.CorpusPipeline.run(docs, lshPairs = true).corpus.count())
      println(f"| $label | d13 pipeline (LSH pair stage) | $n2 | $t2%.1f | ${fmtBytes(sb2)} |")
      val nDocs = docs.count()
      val hs = graft.operators.Dedup
        .shingleHashTable(docs, "doc_id", "text", 3).persist()
      hs.count()
      val (cand, t, sb) = measured(spark)(lshCandidates(hs, 128, 32))
      val pred = predictedCandidates(hs, 128, 32, nDocs.toDouble * (nDocs - 1) / 2)
      println(f"| $label | LSH candidate pairs (measured vs banding-math) " +
        f"| $cand vs ${pred.toLong} | $t%.1f | ${fmtBytes(sb)} |")
      hs.unpersist()
      NorthStar.releaseCaches(spark, dir)
    }
  }

  /** The s10 bucketed-ANN clustered study: candidate growth, recall vs
    * exact, wall vs the all-pairs sketch cascade. `factor >= 100` adds
    * the 100× point (204,800 vectors) to the candidate-growth curve —
    * the scale where the all-pairs cascade (s06: 21 G pair-hammings)
    * stops being runnable on one box at all. */
  private def clusteredStudy(spark: SparkSession, workDir: String,
                            factor: Int): Unit = {
    import graft.functions.{VectorFunctions => VF}
    import graft.operators.AnnJoin
    // probes=3: at scaled nCells a tight cluster near a 3-way Voronoi
    // boundary splits across cells; the third probe recovers those pairs
    // (measured: recall 0.946 -> over the 0.95 bar at n=20k) for a ~1.5x
    // candidate cost that leaves the fraction well under 1e-1
    val dim = 64; val perCluster = 32; val probes = 3
    def signatures(emb: DataFrame): DataFrame = {
      val sig = emb.select(col("vec_id"),
        VF.bitSignature(col("embedding"), dim, 512).as("sig")).persist()
      sig.count()
      sig
    }
    // 1x/10x/30x of sf0.1's 2,000-vector scale; nCells ~ n/64 keeps the
    // expected cell population constant — the knob a production corpus
    // turns as it grows
    val sizes = Seq(2048L, 20480L, 61440L) ++
      (if (factor >= 100) Seq(204800L) else Nil)
    println("| n (clustered) | nCells | candidates | pair space | fraction " +
      "| cand/n | s10 wall s | s10 shuffle |")
    println("|---|---|---|---|---|---|---|---|")
    val dirs = sizes.map { n =>
      val dir = s"$workDir/clustered_$n"
      materialize(spark, s"$dir/embeddings.parquet")(
        synthesizeClusteredEmbeddings(spark, n, perCluster, dim))
      dir
    }
    for ((n, dir) <- sizes.zip(dirs)) {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val nCells = (n / 64).toInt.max(16)
      val cells = AnnJoin.cellAssignments(emb, "vec_id", "embedding",
        dim, nCells, probes)
      val nCand = AnnJoin.candidatePairs(cells).count()
      val pairSpace = n.toDouble * (n - 1) / 2
      val sig = signatures(emb)
      val (rows, t, sb) = measured(spark)(
        AnnJoin.bucketedKnnJoin(emb, sig, "vec_id", "embedding",
          dim, nCells, probes, cands = 96, k = 3).count())
      println(f"| $n | $nCells | $nCand | ${pairSpace.toLong} " +
        f"| ${nCand / pairSpace}%.5f | ${nCand.toDouble / n}%.1f " +
        f"| $t%.1f | ${fmtBytes(sb)} |")
      sig.unpersist()
    }
    // retrieval shape (s11) at the LARGEST corpus: 10% query side vs
    // 90% index side — the batch-RAG probe a training pipeline runs
    {
      val nL = sizes.last; val dirL = dirs.last
      val embL = spark.read.parquet(s"$dirL/embeddings.parquet")
      val sigL = signatures(embL)
      val isQ = col("vec_id") % 10 === 0
      val (rRows, rT, rSb) = measured(spark)(
        AnnJoin.bucketedKnnJoinAgainst(
          embL.filter(isQ), embL.filter(!isQ),
          sigL.filter(isQ), sigL.filter(!isQ),
          "vec_id", "embedding", dim, (nL / 64).toInt, probes,
          cands = 96, k = 3).count())
      println(f"s11 retrieval at n=$nL (10%% queries vs 90%% index): " +
        f"$rRows rows, $rT%.1f s, ${fmtBytes(rSb)} shuffle")
      sigL.unpersist()
    }
    // head-to-head at 10x: all-pairs sketch cascade (s06 shape) vs
    // bucketed, same corpus, plus recall vs the exact join (s04 shape)
    val dir10 = dirs(1); val n10 = sizes(1)
    val emb10 = spark.read.parquet(s"$dir10/embeddings.parquet")
    val sig10 = signatures(emb10)
    val nCells10 = (n10 / 64).toInt
    val (bRows, bT, bSb) = measured(spark)(
      AnnJoin.bucketedKnnJoin(emb10, sig10, "vec_id", "embedding",
        dim, nCells10, probes, cands = 96, k = 3).count())
    val (aRows, aT, aSb) = measured(spark)(
      SparkEntry.queries("s06_ann_knn_join")(spark, dir10).count())
    val (eRows, eT, eSb) = measured(spark)(
      SparkEntry.queries("s04_knn_join")(spark, dir10).count())
    println()
    println(s"head-to-head at n=$n10 (clustered):")
    println("| approach | rows | wall s | shuffle write |")
    println("|---|---|---|---|")
    println(f"| s10 bucketed (nCells=$nCells10) | $bRows | $bT%.1f | ${fmtBytes(bSb)} |")
    println(f"| s06 all-pairs sketch | $aRows | $aT%.1f | ${fmtBytes(aSb)} |")
    println(f"| s04 exact | $eRows | $eT%.1f | ${fmtBytes(eSb)} |")
    // persist both result sets: intersect + counts would otherwise
    // re-execute the quadratic exact join (the study's costliest stage)
    // twice more for no output change
    val exact = SparkEntry.queries("s04_knn_join")(spark, dir10)
      .select(col("vec_id"), col("neighbor_id")).persist()
    val bucketed = AnnJoin.bucketedKnnJoin(emb10, sig10, "vec_id", "embedding",
      dim, nCells10, probes, cands = 96, k = 3)
      .select(col("vec_id"), col("neighbor_id")).persist()
    val hit = exact.intersect(bucketed).count()
    val truths = exact.count()
    exact.unpersist(); bucketed.unpersist()
    println(f"s10 recall vs exact top-3 at n=$n10: ${hit.toDouble / truths}%.4f " +
      s"($hit of $truths)")
    sig10.unpersist()
    NorthStar.releaseCaches(spark, dir10)
  }

  /** Ingest one FIXED 500-doc arrival batch into a store seeded from
    * `dir`'s corpus, both batches through `gate`, and print the arrival
    * batch's admitted count, wall and shuffle. Arrivals: 250 re-crawls
    * (same text, fresh session PII, shifted ids — must be REJECTED on
    * the scrubbed fingerprint) + 250 genuinely-new docs. */
  private def ingestRow(spark: SparkSession, label: String, dir: String,
                        store: String, gate: DataFrame => DataFrame): Unit = {
    import graft.streaming.StreamingIngest
    // every capture carries crawl-salted volatile session PII (the d25
    // shape) — salt 1 at seed time, salt 2 on the re-crawl, scrubbing
    // both to the same "... sess <EMAIL>" form
    def capture(docs: DataFrame, salt: Int): DataFrame =
      docs.select(col("doc_id"),
        concat(col("text"), lit(" sess s"),
          (col("doc_id") * 7 + lit(salt.toLong)).cast("string"),
          lit("@example.com")).as("text"))
    val corpus = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(store), true)
    // backfill batch 0 (trigger-capped in production per the operator
    // doc; fine at study scale)
    StreamingIngest.scrubbedIngestBatch(capture(corpus, 1), store, 0L, gate)
    val base = corpus.orderBy(col("doc_id")).limit(500)
    val arrivals = capture(base.limit(250), 2)
      .select((col("doc_id") + 900000000L).as("doc_id"), col("text"))
      .unionByName(base.orderBy(col("doc_id").desc).limit(250)
        .select((col("doc_id") + 910000000L).as("doc_id"),
          concat(col("text"), lit(" novel payload "),
            col("doc_id")).as("text")))
      .persist()
    arrivals.count() // materialize the study input OUTSIDE the window:
    // the global orderBy over the factor-x corpus is harness plumbing
    // (a 2.6 MiB text exchange at 10x) and must not pollute the
    // gate's per-batch measurement
    val (_, t, sb) = measured(spark)(
      StreamingIngest.scrubbedIngestBatch(arrivals, store, 1L, gate))
    val admitted = spark.read.parquet(store)
      .filter(col("_batch_id") === 1L).count()
    arrivals.unpersist()
    println(f"| $label | 500 | $admitted | $t%.1f | ${fmtBytes(sb)} |")
    fs.delete(new org.apache.hadoop.fs.Path(store), true)
  }

  /** Streaming-gate scale posture (round 13): the scrubbed-ingest
    * gate's PER-BATCH cost must be batch-sized as the STORE grows — the
    * store-side probe scans corpus fingerprints map-side against the
    * broadcast batch fp set, so batch shuffle bytes should stay flat
    * while the store scales; only the (map-side, shuffle-free) probe
    * scan grows ([[ingestRow]] with no gate). */
  private def wave10Study(spark: SparkSession, srcDir: String, factor: Int,
                          workDir: String): Unit = {
    println("| store | arrivals | admitted | wall s | shuffle write |")
    println("|---|---|---|---|---|")
    for ((label, dir) <- corpora(spark, srcDir, factor, workDir, Set("documents")))
      ingestRow(spark, label, dir, // testdata dirs are read-only
        s"$workDir/scrub_store_${new java.io.File(dir).getName}", identity)
  }

  /** A `_batch_id`-range-partitioned pseudonymized store (5k docs per
    * partition; every doc carries its own linkable address) and a
    * 64-request ledger naming docs in exactly TWO of its partitions
    * (ids 100-131 and 5100-5131) — the shared input of the RTBF studies. */
  private def rtbfStore(corpus: DataFrame, key: String): (DataFrame, DataFrame) = {
    import corpus.sparkSession.implicits._
    import graft.functions.{TextFunctions => TF}
    val store = corpus.select(col("doc_id"),
        TF.pseudonymizePii(concat(col("text"), lit(" contact user"),
          col("doc_id"), lit("@example.com")), key).as("pseudo"))
      .withColumn("_batch_id", (col("doc_id") / lit(5000L)).cast("long"))
    val ledger = ((100L to 131L) ++ (5100L to 5131L))
      .map(id => ("EMAIL", s"user$id@example.com")).toDF("label", "value")
    (store, ledger)
  }

  /** Round-16 surfaces' scale posture. Two claims, each measured 1× vs
    * factor-×:
    *
    * (a) BATCH-RTBF STORE MAINTENANCE (`Rtbf.applyLedgerToStore`): the
    * ledger pass over a `_batch_id`-partitioned pseudonymized store is
    * one map-only boolean scan (LinksAnyTag — no join, no rewrite on
    * the probe side) plus a rewrite of ONLY the partitions holding
    * linked docs — so as the store grows with the ledger fixed, the
    * scan grows linearly (unavoidable: every row must be probed once)
    * but the REWRITE cost stays pinned to the hit partitions, and
    * shuffle stays at the rewritten partitions' size.
    *
    * (b) FLUENCY-GATED INGEST (`startFluencyGatedIngest`'s batch body):
    * wave10's flat-per-batch contract lifted to the full CCNet prefix
    * (scrub → quality → LM gate → exact dedup) — a fixed 500-doc
    * arrival batch against a factor-× seeded store must cost
    * batch-sized shuffle regardless of store size (the store-side probe
    * scans corpus fingerprints map-side against the broadcast batch fp
    * set; the LM tables are reference-bounded broadcasts trained ONCE).
    */
  private def wave12Study(spark: SparkSession, srcDir: String, factor: Int,
                          workDir: String): Unit = {
    import graft.operators.{LmFluency, Rtbf}
    val corpusDirs = corpora(spark, srcDir, factor, workDir, Set("documents"))
    val key = "wave12-rtbf-key"

    println("| store | rows | parts | ledger | hit parts | wall s | shuffle write |")
    println("|---|---|---|---|---|---|---|")
    for ((label, dir) <- corpusDirs) {
      val corpus = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val nRows = corpus.count()
      val store = s"$workDir/rtbf_store_${new java.io.File(dir).getName}"
      val fs = new org.apache.hadoop.fs.Path(store)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      // a fresh store per run keeps the pass idempotent-but-not-vacuous
      fs.delete(new org.apache.hadoop.fs.Path(store), true)
      val (rows, ledger) = rtbfStore(corpus, key)
      rows.write.partitionBy("_batch_id").parquet(store)
      val nParts = fs.listStatus(new org.apache.hadoop.fs.Path(store))
        .count(_.getPath.getName.startsWith("_batch_id="))
      val (hit, t, sb) = measured(spark)(
        Rtbf.applyLedgerToStore(spark, store, "pseudo", ledger, key, mac = false))
      println(f"| $label | $nRows | $nParts | 64 | ${hit.size} | $t%.1f | ${fmtBytes(sb)} |")
      fs.delete(new org.apache.hadoop.fs.Path(store), true)
    }

    println()
    println("| store | arrivals | admitted | wall s | shuffle write |")
    println("|---|---|---|---|---|")
    // the curated reference the LM trains on — the 1x src0 slice at
    // every scale (the reference is GIVEN, not part of the stream)
    val refDocs = spark.read.parquet(s"$srcDir/documents.parquet")
      .filter(col("source") === "src0").select(col("text"))
    val model = LmFluency.train(refDocs).persisted()
    for ((label, dir) <- corpusDirs)
      ingestRow(spark, label, dir,
        s"$workDir/fluency_store_${new java.io.File(dir).getName}",
        graft.streaming.StreamingIngest.fluencyGate(model))
    model.unpersist()
  }

  /** RTBF cascade scale posture (round 17): one Rtbf.cascadeStores pass
    * over a factor-x store FAMILY — the pseudonymized corpus store
    * (with its derived fp column), a doc-keyed vector artifact, and an
    * unpartitioned cell sidecar. Expected shapes: the linked-id
    * derivation is one map-only boolean scan of the corpus store; the
    * artifact hit probe is a semi-join against the (ledger-bounded,
    * AQE-broadcast) id set; corpus and artifact rewrites touch ONLY hit
    * partitions, so their cost is pinned to the ledger's spread, not
    * the store size. The one deliberately linear piece is the sidecar
    * purge — a whole-file rewrite of narrow (id, cell) rows (sidecars
    * have no partition handle by design; the gate self-heals from an
    * absent sidecar, so production can also just drop it). */
  private def wave13Study(spark: SparkSession, srcDir: String, factor: Int,
                          workDir: String): Unit = {
    import graft.functions.{TextFunctions => TF}
    import graft.operators.Rtbf
    val key = "wave13-rtbf-key"
    println("| family | rows | hit parts | corpus hit ids | vec hit ids | sidecar dropped | wall s | shuffle write |")
    println("|---|---|---|---|---|---|---|---|")
    for ((label, dir) <- corpora(spark, srcDir, factor, workDir, Set("documents"))) {
      val corpus = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val nRows = corpus.count()
      val tag = new java.io.File(dir).getName
      val store = s"$workDir/cascade_store_$tag"
      val vecStore = s"$workDir/cascade_vec_$tag"
      val cells = s"$workDir/cascade_cells_$tag"
      val fs = new org.apache.hadoop.fs.Path(store)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      Seq(store, vecStore, cells).foreach(p =>
        fs.delete(new org.apache.hadoop.fs.Path(p), true))
      // corpus store WITH the derived fp column (the cascade recomputes
      // it in hit partitions)
      val (rows, ledger) = rtbfStore(corpus, key)
      rows.withColumn("fp", TF.fingerprint(col("pseudo")))
        .write.partitionBy("_batch_id").parquet(store)
      // doc-keyed vector artifact (content irrelevant to the purge) +
      // unpartitioned sidecar over the same ids
      corpus.select(col("doc_id").as("vec_id"),
          array(col("doc_id").cast("float"),
            (col("doc_id") % 97).cast("float")).as("embedding"))
        .withColumn("_batch_id", (col("vec_id") / lit(5000L)).cast("long"))
        .write.partitionBy("_batch_id").parquet(vecStore)
      corpus.select(col("doc_id").as("vec_id"),
          pmod(col("doc_id"), lit(256L)).as("cell"))
        .write.parquet(cells)
      val (report, t, sb) = measured(spark)(
        Rtbf.cascadeStores(spark, store, "pseudo", ledger, key, mac = false,
          derived = Seq("fp" -> TF.fingerprint(col("pseudo"))),
          artifactStores = Seq(vecStore -> "vec_id"),
          sidecars = Seq(cells -> "vec_id")))
      println(f"| $label | $nRows | ${report.corpusPartitions.size}+" +
        f"${report.artifactPartitions(vecStore).size} hit | " +
        f"${report.corpusPartitions.mkString(",")} | " +
        f"${report.artifactPartitions(vecStore).mkString(",")} | " +
        f"${report.sidecarRowsDropped(cells)} | $t%.1f | ${fmtBytes(sb)} |")
      Seq(store, vecStore, cells).foreach(p =>
        fs.delete(new org.apache.hadoop.fs.Path(p), true))
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 4 && args.length <= 5 &&
      args.lift(4).forall(Set("count", "noop")),
      "usage: ScaleDryRun <src> <factor> <workDir> <q1,q2,...|study> [count|noop]")
    val Array(srcDir, factorArg, workDir, what) = args.take(4)
    val factor = factorArg.toInt
    val spark = SessionDefaults.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    try what match {
      case "clustered" => clusteredStudy(spark, workDir, factor)
      case "lsh" => lshStudy(spark, srcDir, factor, workDir)
      case "wave10" => wave10Study(spark, srcDir, factor, workDir)
      case "wave12" => wave12Study(spark, srcDir, factor, workDir)
      case "wave13" => wave13Study(spark, srcDir, factor, workDir)
      case list => run(spark, srcDir, factor, workDir, list.split(",").toSeq,
        noop = args.lift(4).contains("noop"))
    } finally spark.stop()
  }
}
