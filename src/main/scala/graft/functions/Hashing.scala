package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Custom Catalyst expressions for the hashing ops Spark lacks as
 * built-ins: SimHash, a polynomial rolling-hash fingerprint, shingle
 * hash sets, MinHash signatures (SURVEY.md §7.1 M5 / §7.2
 * "MinHash/HLL-style sketches need custom").
 *
 * Every expression here implements `doGenCode`, so projections using
 * them stay inside whole-stage codegen: the generated code calls the
 * expression's JIT-compiled `compute` kernel through a captured
 * reference (the same pattern Spark's own complex expressions use) —
 * one static-shaped call per row, primitive loops inside, no
 * interpreted-projection fallback for the surrounding operators.
 * FNV-1a 64 is the base hash where the value itself is part of the
 * oracle contract — public-domain, allocation-free, deterministic.
 */
object Fnv {
  final val Offset = 0xcbf29ce484222325L
  final val Prime = 0x100000001b3L

  def hashBytes(bytes: Array[Byte]): Long = {
    var h = Offset
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= Prime
      i += 1
    }
    h
  }

  /**
   * FNV-1a with a murmur3-style avalanche finalizer (fmix64). Raw FNV-1a
   * is NOT avalanche-mixed: bit 0 of the hash is exactly the parity of
   * the input bytes' low bits (the multiply by an odd prime preserves
   * bit 0), and nearby bits stay strongly correlated for short, similar
   * keys. Any use that derives ±1 signs or pseudo-random reals from
   * individual hash bits MUST go through this (measured on the raw
   * hash: all 64 "random" LSH hyperplanes collapsed to ±one vector, and
   * the 16 IVF centroids had mean pairwise |cos| 0.70 with duplicates;
   * with the finalizer both are indistinguishable from random). The
   * finalizer constants are murmur3's public-domain fmix64.
   */
  def mixed(bytes: Array[Byte]): Long = {
    var h = hashBytes(bytes)
    h ^= (h >>> 33)
    h *= 0xff51afd7ed558ccdL
    h ^= (h >>> 33)
    h *= 0xc4ceb9fe1a85ec53L
    h ^= (h >>> 33)
    h
  }
}

/**
 * SimHash-64 of an array<string> token column: per token take FNV-1a64,
 * accumulate +1/-1 per bit position, emit the sign bit vector. Documents
 * with small Hamming distance between SimHashes are near-duplicates.
 */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  def compute(arr: ArrayData): Long = {
    val counts = new Array[Int](64)
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val h = Fnv.hashBytes(arr.getUTF8String(i).getBytes)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(compute(input.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("simhashExpr", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/**
 * Polynomial rolling-hash fingerprint of an array<string> token column:
 * H = Σ token_hash_i · P^(n-1-i) mod 2^64 — order-sensitive (unlike a
 * bag-of-words hash), single pass.
 */
case class RollingHash(child: Expression) extends UnaryExpression {

  private final val P = 1099511628211L

  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_hash"

  def compute(arr: ArrayData): Long = {
    var h = 0L
    var i = 0
    while (i < arr.numElements()) {
      val th = if (arr.isNullAt(i)) 0L else Fnv.hashBytes(arr.getUTF8String(i).getBytes)
      h = h * P + th
      i += 1
    }
    h
  }

  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(compute(input.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("rollingExpr", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): RollingHash =
    copy(child = newChild)
}

/**
 * Distinct word-n-gram shingles from a token array — single pass, one
 * expression. Semantics identical to
 * `array_distinct(transform(sequence(0, size-n), i => concat_ws(" ",
 * slice(tks, i+1, n))))` with the short-document collapse to one
 * whole-text shingle, but evaluated as one call per row instead of
 * ~size interpreted lambda invocations building intermediate arrays.
 * Null tokens are skipped without a separator, exactly as concat_ws
 * drops them.
 */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"

  def compute(tks: ArrayData): ArrayData = {
    val m = tks.numElements()
    val out = new java.util.LinkedHashSet[UTF8String]()
    if (m < n) {
      val sb = new java.lang.StringBuilder()
      var i = 0
      var first = true
      while (i < m) {
        if (!tks.isNullAt(i)) {
          if (!first) sb.append(' ')
          sb.append(tks.getUTF8String(i).toString)
          first = false
        }
        i += 1
      }
      out.add(UTF8String.fromString(sb.toString))
    } else {
      var i = 0
      while (i <= m - n) {
        val sb = new java.lang.StringBuilder()
        var j = 0
        var first = true
        while (j < n) {
          if (!tks.isNullAt(i + j)) {
            if (!first) sb.append(' ')
            sb.append(tks.getUTF8String(i + j).toString)
            first = false
          }
          j += 1
        }
        out.add(UTF8String.fromString(sb.toString))
        i += 1
      }
    }
    val arr = new Array[AnyRef](out.size())
    val it = out.iterator()
    var i = 0
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    new GenericArrayData(arr)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("shinglesExpr", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

/**
 * SORTED DISTINCT xxhash64 values of the word-n-gram shingles of a token
 * array — the whole d03/d04 shingling stage fused into one primitive
 * pass. Value-compatible with
 * `array_sort(array_distinct(transform(word_shingles(tks, n), s =>
 * xxhash64(s))))`: each element is the builtin `xxhash64` (seed 42) of
 * the space-joined n-gram, so MinHash signatures built from this column
 * are bit-identical to ones built from materialized shingle strings —
 * but the strings are never emitted, sized, or shuffled. The sorted
 * order is the input contract of [[SortedLongIntersectCount]].
 *
 * Why hashes instead of strings: Jaccard over 64-bit-hashed shingle
 * sets equals Jaccard over the string sets up to hash collisions
 * (probability ~n²/2⁶⁵ per document pair — negligible at any corpus
 * size this engine targets), and the downstream join/verify stages then
 * move 8-byte longs instead of ~30-byte strings and intersect by merge
 * instead of string-hashing.
 */
case class ShingleHashSet(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hash_set"

  private def hashGram(tks: ArrayData, from: Int, len: Int): Long = {
    // build the space-joined gram (nulls skipped, concat_ws semantics)
    // as one UTF8String, then hash its bytes exactly as builtin xxhash64
    var count = 0
    var j = 0
    while (j < len) {
      if (!tks.isNullAt(from + j)) count += 1
      j += 1
    }
    val parts = new Array[UTF8String](count)
    var p = 0
    j = 0
    while (j < len) {
      if (!tks.isNullAt(from + j)) { parts(p) = tks.getUTF8String(from + j); p += 1 }
      j += 1
    }
    val s = UTF8String.concatWs(UTF8String.fromString(" "), parts: _*)
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
  }

  def compute(tks: ArrayData): ArrayData = {
    val m = tks.numElements()
    val buf =
      if (m < n) Array(hashGram(tks, 0, m))
      else {
        val raw = new Array[Long](m - n + 1)
        var i = 0
        while (i <= m - n) { raw(i) = hashGram(tks, i, n); i += 1 }
        raw
      }
    java.util.Arrays.sort(buf)
    // in-place dedup over the sorted buffer
    var w = 0
    var i = 0
    while (i < buf.length) {
      if (w == 0 || buf(i) != buf(w - 1)) { buf(w) = buf(i); w += 1 }
      i += 1
    }
    new GenericArrayData(if (w == buf.length) buf else java.util.Arrays.copyOf(buf, w))
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("shingleHashExpr", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleHashSet =
    copy(child = newChild)
}

/**
 * |a ∩ b| for two SORTED long arrays — one merge pass, no per-element
 * hashing or set allocation. The exact-verify kernel of the dedup tier:
 * `array_intersect` on string arrays builds a hash set of interned
 * strings per row; this is two pointers over primitive longs.
 * Input contract: both arrays sorted ascending, no nulls
 * ([[ShingleHashSet]] output).
 */
case class SortedLongIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_long_intersect_count"

  def compute(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Integer.valueOf(compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("intersectExpr", this)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.compute($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedLongIntersectCount =
    copy(left = newLeft, right = newRight)
}

/**
 * Number of positionally-equal components between two equal-length long
 * arrays — the MinHash signature-agreement count (estimated Jaccard =
 * count / k). Replaces the interpreted
 * `size(filter(zip_with(a, b, _===_), identity))` formulation in the
 * d04 candidate prefilter.
 */
case class SigMatchCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "sig_match_count"

  def compute(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var i = 0
    var c = 0
    while (i < n) {
      if (a.getLong(i) == b.getLong(i)) c += 1
      i += 1
    }
    c
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Integer.valueOf(compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sigMatchExpr", this)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.compute($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SigMatchCount =
    copy(left = newLeft, right = newRight)
}

/**
 * MinHash signature of an `array<long>` element-hash column: one pass per
 * row computing all k minima in primitive loops — sig[j] = min over
 * elements of xxhash64(h, j), bit-identical to the builtin-HOF
 * formulation `transform(sequence(0,k-1), j => array_min(transform(h0,
 * h => xxhash64(h, j))))` but without k×|h0| interpreted closure calls
 * per row (the lambda path costs ~10× more on the harness corpus).
 */
case class MinHashSignature(child: Expression, k: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  def compute(arr: ArrayData): ArrayData = {
    val buf = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        // two-arg builtin xxhash64(h, j): seed 42, args fold in order
        val base = XXH64.hashLong(arr.getLong(i), 42L)
        var j = 0
        while (j < k) {
          val v = XXH64.hashInt(j, base)
          if (v < buf(j)) buf(j) = v
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(buf)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minhashExpr", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

/**
 * The oracle-expressible MinHash hash family: component j's hash of a
 * token is splitmix64-style finalization of (fnv1a64(token) XOR a
 * golden-ratio seed for j) — two multiply-xorshift rounds. Every step is
 * mod-2^64 integer arithmetic (multiply, xor, unsigned shift), so an
 * external SQL engine replays it bit-exactly in HUGEINT residues
 * (see NorthStar.mixSql), unlike XXH64 whose byte-block framing makes a
 * SQL twin impractical. Mins are over SIGNED longs, matching the SQL
 * twin's signed-residue conversion before MIN.
 */
object MinHashMix {
  final val Golden = 0x9E3779B97F4A7C15L
  final val M1 = 0xBF58476D1CE4E5B9L
  final val M2 = 0x94D049BB133111EBL

  def mix(h: Long, j: Int): Long = {
    var z = h ^ ((j + 1) * Golden)
    z *= M1
    z ^= z >>> 32
    z *= M2
    z ^= z >>> 29
    z
  }
}

/**
 * MinHash signature of an array<string> token column under the
 * [[MinHashMix]] family: one FNV base hash per token, k mixed mins —
 * single pass, no intermediate hash array. Prefer [[MinHashSignature]]
 * (XXH64) when no SQL oracle needs to replay the signature.
 */
case class FnvMinHashSignature(child: Expression, k: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "fnv_minhash_signature"

  def compute(arr: ArrayData): ArrayData = {
    val buf = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val h = Fnv.hashBytes(arr.getUTF8String(i).getBytes)
        var j = 0
        while (j < k) {
          val v = MinHashMix.mix(h, j)
          if (v < buf(j)) buf(j) = v
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(buf)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("fnvMinhashExpr", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): FnvMinHashSignature =
    copy(child = newChild)
}

/**
 * FNV-1a-64 checksum of a binary column — the "codec checksum" stage of
 * the multimodal decode path, in-place over the payload bytes (no
 * Dataset-encoder round-trip).
 */
case class FnvChecksum(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "fnv_checksum"

  def compute(data: Array[Byte]): Long = Fnv.hashBytes(data)

  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(compute(input.asInstanceOf[Array[Byte]]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("fnvExpr", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): FnvChecksum =
    copy(child = newChild)
}

/**
 * Normalized byte histogram of a binary column: dim bins of
 * count(byte % dim) / max(len, 1) — the deterministic stand-in "feature
 * vector" of the multimodal decode stage (Multimodal.FakeCodec), as a
 * single-pass Catalyst expression.
 */
case class ByteHistogram(child: Expression, dim: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "byte_histogram"

  def compute(data: Array[Byte]): ArrayData = {
    val hist = new Array[Double](dim)
    var i = 0
    while (i < data.length) {
      hist((data(i) & 0xff) % dim) += 1.0
      i += 1
    }
    val n = math.max(data.length, 1).toDouble
    var b = 0
    while (b < dim) { hist(b) /= n; b += 1 }
    new GenericArrayData(hist)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("histExpr", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): ByteHistogram =
    copy(child = newChild)
}

/**
 * Unicode NFC (canonical composition) normalization of a string column —
 * the text-cleaning primitive Spark lacks as a built-in (combining
 * sequences like `a` + U+0301 compose to `á`, so byte-level dedup and
 * hashing see one canonical form; without it the same visible text
 * fingerprints differently depending on the producer's encoder).
 * Backed by `java.text.Normalizer` (the JDK's ICU-derived implementation
 * of UAX #15 — a stable public spec, which is what makes the result
 * engine-independent and oracle-checkable against DuckDB's
 * nfc_normalize). Already-normalized text is detected with the cheap
 * `isNormalized` quick-check, so the common case allocates nothing new.
 */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"

  def compute(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nfcExpr", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

/**
 * Pass-Join probe windows: for a prefix of length `lb`, the DISTINCT
 * (p, len) substring probes that can possibly match some partner
 * segment — partner length la ∈ [lb−k, lb+k], where pa/len are the
 * partner's pigeonhole segment boundaries floor(la·i/(k+1)) computed
 * with the SAME double arithmetic as the segment side.
 *
 * r18 — MULTI-MATCH-AWARE selection (Li/Deng/Feng ICDE'11, the
 * substring-selection lemma): for the 0-based segment index i the
 * probe window is
 *     p ∈ [pa − i, pa + i] ∩ [pa + Δ − (k−i), pa + Δ + (k−i)],
 * Δ = lb − la, instead of r17's uniform [pa − k, pa + k].
 * RECALL PROOF (why no true pair is lost): fix an optimal transcript
 * with e = ed(a,b) ≤ k edits; let u_i = edits strictly before segment
 * i's start, t_i = edits inside segment i (segments partition a, so
 * Σt_i = e), and g(i) = u_i − i. g(0) = 0, g(k+1) = e − (k+1) < 0, and
 * each step moves by t_i − 1 — down-steps are exactly −1 and occur
 * exactly at preserved segments (t_i = 0). Descending from 0 past
 * e−k−1 in unit down-steps, g must take the value e−k ≤ 0 at some
 * preserved segment i; there u_i = e−k+i ≤ i and the edits after it
 * are e − u_i = k−i. The preserved segment's shift s = p − pa is the
 * net signed insert−delete count before it, so |s| ≤ u_i ≤ i, and the
 * suffix must absorb the rest: |Δ − s| ≤ k−i. That segment's probe
 * therefore lies inside the window above — every true pair still
 * meets at ≥ 1 (segh, window) match, and both windows sit inside the
 * join's |p − pa| ≤ k filter, so emitted probes never widen it.
 * Candidates only SHRINK (probes that could never witness a true pair
 * are no longer emitted); output identity is pinned by the exact
 * bounded-levenshtein verify plus the brute-force ScalaCheck law and
 * the set-equality unit test against a literal transcription of the
 * lemma (HashingSpec).
 * Probe volume: per (la, i) the window width is ≤ 2·min(i, k−i) + 1,
 * summing to ~k²/2 + k anchors-worth instead of r17's (2k+1)(k+1) —
 * another ~3× fewer substring+FNV probes at the d09 shape (k = 8).
 */
case class PassJoinProbeWindows(child: Expression, maxDist: Int)
    extends UnaryExpression {
  require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
  private val nSeg = (maxDist + 1).toDouble

  // binding to a non-int column must fail at analysis, not as a
  // runtime ClassCastException in nullSafeEval (r18, advisor note).
  // checkInputDataTypes, not ExpectsInputTypes: AbstractDataType is
  // private[sql] (the repo-wide constraint noted on DotProduct).
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == IntegerType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires an INT length column, got ${child.dataType.catalogString}")

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("p", IntegerType, nullable = false),
      StructField("len", IntegerType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "passjoin_probe_windows"

  // nearly every corpus row shares lb == prefixLen, so the enumeration
  // + sort + dedup below would re-run identically per row — memoize the
  // last (lb, result). One immutable pair field, @volatile so a racily
  // shared instance publishes the pair safely and at worst recomputes.
  // The cached ArrayData must stay immutable: it is handed out as-is to
  // every row with the same lb, so no consumer may write into it.
  @transient @volatile private var lastWindows: (Int, ArrayData) = null

  def compute(lb: Int): ArrayData = {
    val cached = lastWindows
    if (cached != null && cached._1 == lb) return cached._2
    val k = maxDist
    var buf = new Array[Long](1024)
    var n = 0
    var la = math.max(lb - k, 1)
    val laHi = lb + k
    while (la <= laHi) {
      val delta = lb - la
      var i = 0
      while (i <= k) {
        // EXACTLY the segment side's boundary arithmetic:
        // floor(cast(la as double) * i / (k+1)) — same IEEE ops, same
        // association, so a true partner's (pa, len) is reproduced bit
        // for bit and its window provably contains the matching probe
        val s0 = math.floor(la.toDouble * i.toDouble / nSeg).toInt
        val e0 = math.floor(la.toDouble * (i + 1).toDouble / nSeg).toInt
        val len = e0 - s0
        if (len > 0) {
          val pa = s0 + 1
          // multi-match-aware window (see class doc): prefix edits ≤ i
          // bound the shift, suffix edits ≤ k−i bound shift − Δ
          var p = math.max(math.max(pa - i, pa + delta - (k - i)), 1)
          val hi = math.min(math.min(pa + i, pa + delta + (k - i)),
            lb - len + 1)
          while (p <= hi) {
            if (n == buf.length) buf = java.util.Arrays.copyOf(buf, n * 2)
            buf(n) = (p.toLong << 32) | len.toLong
            n += 1
            p += 1
          }
        }
        i += 1
      }
      la += 1
    }
    java.util.Arrays.sort(buf, 0, n)
    var w = 0
    var j = 0
    while (j < n) {
      if (w == 0 || buf(j) != buf(w - 1)) { buf(w) = buf(j); w += 1 }
      j += 1
    }
    val out = new Array[Any](w)
    var t = 0
    while (t < w) {
      out(t) = new GenericInternalRow(
        Array[Any]((buf(t) >>> 32).toInt, (buf(t) & 0xffffffffL).toInt))
      t += 1
    }
    val res = new GenericArrayData(out)
    lastWindows = (lb, res)
    res
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("passJoinProbeExpr", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): PassJoinProbeWindows =
    copy(child = newChild)
}

object Hashing {
  import org.apache.spark.sql.GraftBridge.{column, expression}

  /** Pass-Join distinct probe (p, len) windows — see
    * [[PassJoinProbeWindows]]. */
  def passJoinProbeWindows(lb: Column, maxDist: Int): Column =
    column(PassJoinProbeWindows(expression(lb), maxDist))

  def nfcNormalize(text: Column): Column = column(NfcNormalize(expression(text)))

  def simhash64(tokens: Column): Column = column(SimHash64(expression(tokens)))
  def rollingHash(tokens: Column): Column = column(RollingHash(expression(tokens)))
  def fnvChecksum(data: Column): Column = column(FnvChecksum(expression(data)))
  def byteHistogram(data: Column, dim: Int): Column =
    column(ByteHistogram(expression(data), dim))
  def shingleHashSet(tokens: Column, n: Int): Column =
    column(ShingleHashSet(expression(tokens), n))
  def sortedIntersectCount(a: Column, b: Column): Column =
    column(SortedLongIntersectCount(expression(a), expression(b)))
  def sigMatchCount(a: Column, b: Column): Column =
    column(SigMatchCount(expression(a), expression(b)))
  def fnvMinhashSignature(tokens: Column, k: Int): Column =
    column(FnvMinHashSignature(expression(tokens), k))

  /** MinHash sketch aggregate over a column of element hashes — see
    * [[MinHashAgg]]. Use in groupBy(...).agg(minhashAgg(xxhash64(col), k)). */
  def minhashAgg(elementHash: Column, k: Int): Column =
    column(MinHashAgg(expression(elementHash), k).toAggregateExpression())

  /** Element-wise-min merge of per-row MinHash signatures — see
    * [[MinHashMergeAgg]]. Use with a [[TextFunctions.minhashFromHashes]]
    * signature column: groupBy(...).agg(minhashMergeAgg(col("sig"), k)). */
  def minhashMergeAgg(sig: Column, k: Int): Column =
    column(MinHashMergeAgg(expression(sig), k).toAggregateExpression())

  /** KMV bottom-k distinct sketch over a column of element hashes — see
    * [[KmvSketchAgg]]. Use in groupBy(...).agg(kmvSketch(hash, k)). */
  def kmvSketch(elementHash: Column, k: Int): Column =
    column(KmvSketchAgg(expression(elementHash), k).toAggregateExpression())

  /** Distinct-count estimate from a [[KmvSketchAgg]] array: exact size
    * when the sketch is unsaturated, else (k−1)/frac where frac is the
    * k-th smallest hash scaled into [0, 1). Every step (long→double cast,
    * exact /2^64 scaling, conditional +1.0 unsigned fixup, final divide)
    * is plain IEEE754 an oracle engine replays identically. */
  def kmvEstimate(kmv: Column, k: Int): Column = {
    import org.apache.spark.sql.functions._
    val kth = element_at(kmv, k)
    val frac = kth.cast("double") / lit(1.8446744073709552E19) +
      when(kth < 0, lit(1.0)).otherwise(lit(0.0))
    when(size(kmv) < k, size(kmv).cast("double"))
      .otherwise(lit((k - 1).toDouble) / frac)
  }

  /** Estimated Jaccard between two MinHash signatures: the fraction of
    * equal components (k must match). */
  def minhashEstJaccard(sigA: Column, sigB: Column): Column = {
    import org.apache.spark.sql.functions._
    sigMatchCount(sigA, sigB).cast("double") / size(sigA)
  }

  /** Hamming distance between two 64-bit signatures (built-in bit_count). */
  def hammingDist(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.bit_count(a.bitwiseXOR(b))
}
