package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{Hashing, TextFunctions => TF}
import graft.operators.Dedup
import graft.pipeline.CorpusPipeline

/** Text kernels over the workload's own documents, in ns/row of executor
  * CPU: each kernel's CPU through `noop` minus that of a plain length
  * projection over the same cached rows (the documents repeated
  * `Copies` times, so a kernel runs long enough to read), median of
  * `Reps` runs. */
object KernelProbes {
  private val Copies = 20
  private val Reps = 3
  private val kernels: Seq[(String, Column => Column)] = Seq(
    "functions.scrub_pii_ns_row" -> (t => TF.scrubPii(t)),
    "functions.quality_keep_ns_row" -> (t => TF.qualityKeep(t)),
    "functions.fingerprint_ns_row" -> (t => TF.fingerprint(t)),
    "functions.shingle5_ns_row" -> (t => Hashing.shingleHashSet(TF.tokens(t), 5)))

  def run(ctx: Ctx, docs: DataFrame): Seq[(String, Double)] = {
    val text = docs.select(col("text"), explode(sequence(lit(1), lit(Copies))).as("copy"))
      .select(col("text")).repartition(ctx.cores).persist()
    val rows = text.count().toDouble
    def cpu(name: String, f: Column => Column): Double = Stats.median(Seq.fill(Reps)(
      ctx.spans(name)(ctx.cpuOf(text.select(f(col("text")).as("k"))
        .write.format("noop").mode("overwrite").save())).toDouble))
    val base = cpu("functions.baseline", t => length(t))
    val out = kernels.map { case (name, f) =>
      name -> math.max(0.0, cpu(name.stripSuffix("_ns_row"), f) - base) / rows
    }
    text.unpersist()
    out
  }
}

/** LLM-corpus preparation: `CorpusPipeline.run` then `write` over a seeded
  * corpus with planted exact dups, near-dups, PII and eval overlap. Its
  * traced run also probes the kernels, the Dedup operators and the
  * streaming ingest gate over a landing directory of the same kind of
  * documents. */
final class CorpusPrep(c: Ctx) extends Workload(c) {
  private val docsPath = ctx.in("docs.parquet")
  private def docs: DataFrame = ctx.spark.read.parquet(docsPath)
  private def corpusPath(n: Int) = ctx.out(s"it$n/corpus")
  private var probeChecks = Seq.empty[Check]

  def records: Long = ctx.metaLong("docs")
  def inputBytes: Long = Files.size(docsPath)

  def iteration(n: Int): Unit = {
    val s = ctx.spans
    val r = s("pipeline.corpus.run")(CorpusPipeline.run(docs))
    s("pipeline.corpus.write")(CorpusPipeline.write(r, corpusPath(n)))
  }

  override def layer(traced: Seq[Iter]): Seq[(String, Double)] =
    Seq("pipeline.corpus.read_amp" ->
      Stats.median(traced.map(_.stage.inputRecords.toDouble / records)))

  override def probes(): Seq[(String, Double)] = {
    val s = ctx.spans
    val kernels = KernelProbes.run(ctx, docs)
    // the Dedup calls CorpusPipeline makes, on its near-dup stage input:
    // scrubbed, quality-kept, one doc per exact fingerprint
    val scrubbed = docs.withColumn("text", TF.scrubPii(col("text")))
      .filter(TF.qualityKeep(col("text")))
    val keep = scrubbed.groupBy(TF.fingerprint(col("text"))).agg(min(col("doc_id")).as("doc_id"))
    val exact = scrubbed.join(keep, Seq("doc_id"), "left_semi")
    def timed[T](name: String)(body: => T): (T, Double) = {
      val t0 = System.nanoTime(); val v = s(name)(body); (v, (System.nanoTime() - t0) / 1e9)
    }
    val (hs, hsS) = timed("operators.shingle_table") {
      val h = Dedup.shingleHashTable(exact, "doc_id", "text", 3).persist(); h.count(); h
    }
    val (pairs, pairsS) = timed("operators.jaccard_pairs") {
      val p = Dedup.jaccardPairsExact(hs, 0.8).persist(); p.count(); p
    }
    val (_, compS) = timed("operators.components") {
      Dedup.connectedComponents(pairs.select(col("doc_a"), col("doc_b")))
        .write.format("noop").mode("overwrite").save()
    }
    val pairsOut = pairs.count().toDouble
    pairs.unpersist(); hs.unpersist()
    val (streaming, streamChecks) = StreamProbe.run(ctx, ctx.in("stream/landing"),
      ctx.out("probe-stream"), ctx.metaLong("stream_distinct_docs"))
    probeChecks = streamChecks
    kernels ++ streaming ++ Seq("operators.shingle_table_s" -> hsS,
      "operators.jaccard_pairs_s" -> pairsS, "operators.pairs_out" -> pairsOut,
      "operators.components_s" -> compS)
  }

  private def lines(file: String): Seq[String] =
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get(ctx.in(file)))
      .asScala.toSeq.filter(_.nonEmpty)

  def checks(first: Int, last: Int): Seq[Check] = {
    val spark = ctx.spark
    val losers = lines("exact_dup_losers.txt").map(_.toLong).toSet
    val contaminated = lines("contaminated.txt").map(_.toLong).toSet
    val groups = lines("near_dup_groups.txt").map(_.split(",").map(_.toLong).toSet)
    val hashes = Seq(first, last).distinct.map { n =>
      val out = spark.read.parquet(corpusPath(n))
      val survivors = out.select(col("doc_id")).collect().map(_.getLong(0)).sorted
      val ids = survivors.toSet
      val sharedFp = out.groupBy(TF.fingerprint(col("text"))).count()
        .filter(col("count") > 1).count()
      val evalLeft = out.filter(col("source") === ctx.meta("eval_source")).count()
      val hash = java.util.Arrays.hashCode(survivors)
      (n, hash, Seq(
        Check(s"it$n.unique_fingerprints", sharedFp == 0, s"$sharedFp shared fingerprints"),
        Check(s"it$n.no_eval_source", evalLeft == 0, s"$evalLeft eval-source docs left"),
        Check(s"it$n.exact_dup_losers_gone", (losers & ids).isEmpty,
          s"${(losers & ids).size} of ${losers.size} left"),
        Check(s"it$n.contaminated_gone", (contaminated & ids).isEmpty,
          s"${(contaminated & ids).size} of ${contaminated.size} left"),
        Check(s"it$n.near_dup_groups", groups.forall(g => (g & ids).size <= 1),
          s"${groups.count(g => (g & ids).size > 1)} of ${groups.size} groups keep >1"),
        Check(s"it$n.survivors", survivors.nonEmpty, s"${survivors.length} survivors")))
    }
    hashes.flatMap(_._3) ++ probeChecks :+ Check("survivor_hash_stable",
      hashes.map(_._2).distinct.size == 1, hashes.map(h => s"it${h._1}=${h._2}").mkString(" "))
  }
}
