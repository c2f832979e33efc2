package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.catalyst.expressions.XXH64

/** Static vector/sketch kernels callable from generated code. These replace
  * interpreted higher-order-function pipelines (`zip_with`+`aggregate`
  * lambdas run row-at-a-time with per-element boxing) in the hot paths —
  * measured ~50-100× on the dedup/ANN workloads. Deterministic: sequential
  * left-to-right folds, fixed seeds.
  */
object VecMath {

  /** Carter-Wegman universal hash h(x) = (a·x + b) mod (2^61 − 1) — the
    * 2-independent family whose KMV distinct-count guarantees are proven in
    * Bar-Yossef et al. (RANDOM 2002). Chosen over xxh64 for ONE property:
    * the arithmetic is pure integer mod a Mersenne prime, so an external
    * SQL engine with 128-bit integers replays it in one line
    * (`(a::HUGEINT * x + b) % (2^61-1)`) and sketch queries become
    * row-level oracle-able. The 128-bit product is done in 64-bit ops:
    * `Math.multiplyHigh` + the Mersenne fold 2^64 ≡ 8 (mod M).
    */
  def hash61(x: Long, a: Long, b: Long): Long = {
    val M  = (1L << 61) - 1
    val xm = ((x % M) + M) % M
    val hi = Math.multiplyHigh(a, xm) // a, xm < 2^61 → product < 2^122, non-negative
    val lo = a * xm                   // wrapping low 64 bits
    var r  = hi * 8 + (lo >>> 61) + (lo & M) // hi < 2^58; each term < 2^61
    r = (r & M) + (r >>> 61)
    if (r >= M) r -= M
    r += b % M
    if (r >= M) r -= M
    r
  }

  /** Cosine similarity of two float vectors in double precision (sequential
    * fold order — bit-stable, matches the SQL-oracle formulation).
    */
  def cosineFF(a: ArrayData, b: ArrayData): Double = {
    val x = a.toFloatArray()
    val y = b.toFloatArray()
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val xi = x(i).toDouble; val yi = y(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    val den = math.sqrt(na) * math.sqrt(nb)
    if (den == 0.0) 0.0 else dot / den
  }

  private def hashUtf8(s: org.apache.spark.unsafe.types.UTF8String, seed: Long): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, seed)

  /** Distinct word n-gram shingles (space-tokenized, empties dropped; texts
    * shorter than n words yield one whole-text shingle). First-occurrence
    * order, matching `array_distinct` semantics.
    */
  def wordShingles(text: org.apache.spark.unsafe.types.UTF8String, n: Int): ArrayData = {
    val toks = text.toString.split(" ").filter(_.nonEmpty)
    val seen = new java.util.LinkedHashSet[String]()
    if (toks.length >= n) {
      var i = 0
      while (i + n <= toks.length) {
        val sb = new java.lang.StringBuilder()
        var j  = 0
        while (j < n) { if (j > 0) sb.append(' '); sb.append(toks(i + j)); j += 1 }
        seen.add(sb.toString)
        i += 1
      }
    } else {
      seen.add(String.join(" ", toks: _*))
    }
    val out = new Array[Any](seen.size)
    val it  = seen.iterator()
    var i   = 0
    while (it.hasNext) {
      out(i) = org.apache.spark.unsafe.types.UTF8String.fromString(it.next()); i += 1
    }
    new GenericArrayData(out)
  }

  /** Distinct word n-gram shingle HASHES — the allocation-free sibling of
    * [[wordShingles]] for pipelines that only ever hash the shingles
    * (MinHash banding, Jaccard-by-intersection, shingle equi-joins): no
    * token strings, no shingle strings, no UTF8String output array. Words
    * are found by scanning the raw UTF8 bytes for spaces and hashed in
    * place; a shingle's hash chains its n word hashes through xxhash64, so
    * the value depends only on the word SEQUENCE (not on the whitespace
    * between them). Output is sorted distinct — order is immaterial to every
    * consumer and sorted output is deterministic.
    *
    * Two docs share a shingle hash iff they share the word n-gram, up to a
    * 64-bit collision (~10⁻¹⁵ per within-doc pair) — the same trade every
    * hashed-set operator in this repo documents.
    */
  def wordShingleHashes(text: org.apache.spark.unsafe.types.UTF8String, n: Int): ArrayData = {
    val base  = text.getBaseObject
    val off   = text.getBaseOffset
    val len   = text.numBytes
    // Pass 1: word spans (start, end) over the raw bytes.
    var starts = new Array[Int](16)
    var ends   = new Array[Int](16)
    var nw     = 0
    var i      = 0
    while (i <= len) {
      if (i == len || org.apache.spark.unsafe.Platform.getByte(base, off + i) == ' '.toByte) {
        // token ended at i (empty tokens dropped implicitly below)
      } else {
        val start = i
        while (i < len && org.apache.spark.unsafe.Platform.getByte(base, off + i) != ' '.toByte) i += 1
        if (nw == starts.length) {
          starts = java.util.Arrays.copyOf(starts, nw * 2)
          ends   = java.util.Arrays.copyOf(ends, nw * 2)
        }
        starts(nw) = start; ends(nw) = i; nw += 1
      }
      i += 1
    }
    val wh = new Array[Long](nw)
    i = 0
    while (i < nw) {
      wh(i) = XXH64.hashUnsafeBytes(base, off + starts(i), ends(i) - starts(i), 0x517cc1b727220a95L)
      i += 1
    }
    // Pass 2: chain word hashes per window; sort + unique.
    val m   = if (nw >= n) nw - n + 1 else 1
    val out = new Array[Long](m)
    i = 0
    while (i < m) {
      var h = 0x9e3779b97f4a7c15L
      var j = i
      val end = if (nw >= n) i + n else nw
      while (j < end) { h = XXH64.hashLong(wh(j), h); j += 1 }
      out(i) = h
      i += 1
    }
    java.util.Arrays.sort(out)
    var uniq = 1
    i = 1
    while (i < m) { if (out(i) != out(i - 1)) { out(uniq) = out(i); uniq += 1 }; i += 1 }
    new GenericArrayData(if (uniq == m) out else java.util.Arrays.copyOf(out, uniq))
  }

  /** POSITIONAL hashes of every n-LINE span of a document: element i is the
    * chained xxhash64 of lines i..i+n-1 (split on '\n'). Unlike
    * [[wordShingleHashes]] the output is NOT sorted or deduplicated — the
    * array index IS the span's starting line, which span-level dedup needs to
    * map a duplicate hash back to the lines it covers. Fewer than n lines →
    * empty array (no spans, document untouched by span dedup). Hash-of-line-
    * hashes equality stands in for span-string equality with the usual
    * ~1e-15 per-pair collision odds.
    */
  def lineSpanHashes(text: org.apache.spark.unsafe.types.UTF8String, n: Int): ArrayData = {
    val lines = text.toString.split("\n", -1)
    if (lines.length < n) return new GenericArrayData(Array.emptyLongArray)
    val lh = new Array[Long](lines.length)
    var i  = 0
    while (i < lines.length) {
      val b = lines(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      lh(i) = XXH64.hashUnsafeBytes(b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
        b.length, 0x517cc1b727220a95L)
      i += 1
    }
    val m   = lines.length - n + 1
    val out = new Array[Long](m)
    i = 0
    while (i < m) {
      var h = 0x9e3779b97f4a7c15L
      var j = i
      while (j < i + n) { h = XXH64.hashLong(lh(j), h); j += 1 }
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }

  /** MinHash signature over shingle HASHES: element i = min over shingles of
    * xxhash64(shingleHash, seed=i) — [[minhashSig]] for the string-free path.
    */
  def minhashSigLong(hashes: ArrayData, k: Int): ArrayData = {
    val n   = hashes.numElements()
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var j = 0
    while (j < n) {
      val s = hashes.getLong(j)
      var i = 0
      while (i < k) {
        val h = XXH64.hashLong(s, i.toLong)
        if (h < sig(i)) sig(i) = h
        i += 1
      }
      j += 1
    }
    new GenericArrayData(sig)
  }

  /** MinHash signature: element i = min over shingles of xxhash64(shingle,
    * seed=i). One tight loop, k×|shingles| hashes, no boxing.
    */
  def minhashSig(shingles: ArrayData, k: Int): ArrayData = {
    val n   = shingles.numElements()
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var j = 0
    while (j < n) {
      val s = shingles.getUTF8String(j)
      var i = 0
      while (i < k) {
        val h = hashUtf8(s, i.toLong)
        if (h < sig(i)) sig(i) = h
        i += 1
      }
      j += 1
    }
    new GenericArrayData(sig)
  }

  /** Within-bucket exact-cosine pair scoring: input is one LSH bucket's
    * (id, vector) items; output is every i<j pair with cosine ≥ threshold.
    * This fuses candidate expansion and verification into the aggregation
    * output row — the pair list is never materialized as a DataFrame, so
    * the per-pair verify JOINs (and their broadcast-threshold cliff)
    * disappear from the embedding dedup plan entirely. Norms are computed
    * once per item, dots once per pair; accumulation order matches
    * [[cosineFF]] bit-for-bit.
    */
  def cosinePairs(items: ArrayData, threshold: Double): ArrayData = {
    val n     = items.numElements()
    val ids   = new Array[Long](n)
    val vecs  = new Array[Array[Float]](n)
    val norms = new Array[Double](n)
    var i = 0
    while (i < n) {
      val row = items.getStruct(i, 2)
      ids(i)  = row.getLong(0)
      val v   = row.getArray(1).toFloatArray()
      vecs(i) = v
      var na = 0.0; var j = 0
      while (j < v.length) { val x = v(j).toDouble; na += x * x; j += 1 }
      norms(i) = math.sqrt(na)
      i += 1
    }
    val out = new java.util.ArrayList[Any]()
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        val a = vecs(i); val b = vecs(j)
        val m = math.min(a.length, b.length)
        var dot = 0.0; var k = 0
        while (k < m) { dot += a(k).toDouble * b(k).toDouble; k += 1 }
        val den = norms(i) * norms(j)
        val cos = if (den == 0.0) 0.0 else dot / den
        if (cos >= threshold && ids(i) != ids(j)) {
          val (lo, hi) = if (ids(i) < ids(j)) (ids(i), ids(j)) else (ids(j), ids(i))
          out.add(org.apache.spark.sql.catalyst.InternalRow(lo, hi, cos))
        }
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** All ordered index pairs (i<j) of a bigint id array as one flat
    * struct array — the within-bucket candidate-pair expansion. One tight
    * loop replacing a nested interpreted-HOF pipeline (transform∘transform∘
    * flatten) that paid per-element lambda dispatch and boxing.
    */
  def idPairs(ids: ArrayData): ArrayData = {
    val n   = ids.numElements()
    val out = new Array[Any](n * (n - 1) / 2)
    var k   = 0
    var i   = 0
    while (i < n) {
      val a = ids.getLong(i)
      var j = i + 1
      while (j < n) {
        out(k) = org.apache.spark.sql.catalyst.InternalRow(a, ids.getLong(j))
        k += 1; j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Positional k-token window hashes — the token-granularity sibling of
    * [[lineSpanHashes]]: element i is the order-sensitive chained xxhash of
    * tokens i..i+k−1. Splits on single spaces KEEPING empties
    * (`split(" ", -1)`) so window positions line up exactly with a rebuild
    * via `posexplode(split(text, " ", -1))`. Texts shorter than k tokens
    * yield no windows (they cannot host a ≥k-token duplicated run).
    */
  def tokenSpanHashes(text: org.apache.spark.unsafe.types.UTF8String, k: Int): ArrayData = {
    val toks = text.toString.split(" ", -1)
    if (toks.length < k) return new GenericArrayData(Array.emptyLongArray)
    val th = new Array[Long](toks.length)
    var i  = 0
    while (i < toks.length) {
      val b = toks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      th(i) = XXH64.hashUnsafeBytes(b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
        b.length, 0x9ae16a3b2f90404fL)
      i += 1
    }
    val m   = toks.length - k + 1
    val out = new Array[Long](m)
    i = 0
    while (i < m) {
      var h = 0x517cc1b727220a95L
      var j = i
      while (j < i + k) { h = XXH64.hashLong(th(j), h); j += 1 }
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }

  /** One-pass positional segment removal: drop the segments of `text`
    * (split on `sep`, empties kept) whose positions appear in `rm`; returns
    * (clean, n_kept, n_removed). Duplicate / out-of-range positions are
    * ignored via the hash set, so callers can feed raw overlapping-window
    * position lists without a distinct. This replaces a
    * `transform(keptPos, p -> element_at(split(text), p+1))` projection
    * whose interpreted lambda RE-SPLIT the text per element — O(L²) per
    * document, measured ~6× the whole operator's cost at the 500k-doc
    * point; the kernel is one O(L) pass. `sep = " "` is the token face,
    * `sep = "\n"` the line face.
    */
  def removePositions(text: org.apache.spark.unsafe.types.UTF8String, rm: ArrayData, sep: String): org.apache.spark.sql.catalyst.InternalRow = {
    val toks = text.toString.split(java.util.regex.Pattern.quote(sep), -1)
    val rmSet = new java.util.HashSet[Int]()
    var i = 0
    while (i < rm.numElements()) {
      val p = rm.getInt(i)
      if (p >= 0 && p < toks.length) rmSet.add(p)
      i += 1
    }
    val sb = new java.lang.StringBuilder()
    var kept = 0
    i = 0
    while (i < toks.length) {
      if (!rmSet.contains(i)) {
        if (kept > 0) sb.append(sep)
        sb.append(toks(i))
        kept += 1
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(
      org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString),
      kept.toLong,
      (toks.length - kept).toLong)
  }

  /** Within-document duplicate-line removal (the CCNet per-document cleanup:
    * drop every repeat of a line already seen in the SAME doc, keeping first
    * occurrences in order). One pass, one hash set per row; returns
    * (clean, n_kept, n_removed). Corpus-level dedup is [[DedupOps]]'
    * business — this is the map-side, shuffle-free, per-row face.
    */
  def dedupLines(text: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val lines = text.toString.split("\n", -1)
    val seen  = new java.util.HashSet[String]()
    val sb    = new java.lang.StringBuilder()
    var kept  = 0
    var i     = 0
    while (i < lines.length) {
      if (seen.add(lines(i))) {
        if (kept > 0) sb.append('\n')
        sb.append(lines(i))
        kept += 1
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(
      org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString),
      kept.toLong,
      (lines.length - kept).toLong)
  }

  /** Exact integer dot product of two int8-quantized vectors stored as
    * array<bigint> (the [[graft.functions.AnnSearch.quantizeInt8Vec]]
    * layout). 64 products of |q| ≤ 127 sum to ≤ ~10⁶ — nowhere near long
    * overflow — and integer addition is order-independent, so the result is
    * exact and engine-portable with NO floating-point summation caveats.
    */
  def int8Dot(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0L
    var i = 0
    while (i < n) { s += a.getLong(i) * b.getLong(i); i += 1 }
    s
  }

  /** Exact integer squared L2 distance between two micro-quantized vectors
    * (array<bigint>, the [[ClusterOps]] 1e6-floor layout). Components ≤ ~2e6
    * square to ≤ 4e12; 64 of them sum to ≤ ~3e14 — far from long overflow —
    * and integer sums are order-independent, so the distance is exact and
    * engine-portable (the pairwise form of what
    * [[NearestCentroidExpr]] computes against its literal centroid set).
    */
  def l2Dist2(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0L
    var i = 0
    while (i < n) { val d = a.getLong(i) - b.getLong(i); s += d * d; i += 1 }
    s
  }

  /** 64-bit SimHash over tokens: bit b set iff Σ ±1 (by bit b of
    * xxhash64(token, 42)) is positive.
    */
  def simhash64(tokens: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n      = tokens.numElements()
    var j      = 0
    while (j < n) {
      val h = hashUtf8(tokens.getUTF8String(j), 42L)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      j += 1
    }
    var out = 0L
    var b   = 0
    while (b < 64) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }
}

private object NativeExprs {
  def requireArrayOf(e: Expression, elem: DataType, what: String): TypeCheckResult =
    e.dataType match {
      case ArrayType(et, _) if et == elem => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(s"$what expects array<${elem.simpleString}>, got ${other.simpleString}")
    }
}

/** cosine(array<float>, array<float>) → double, codegen'd. */
case class CosineSimExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult = {
    val l = NativeExprs.requireArrayOf(left, FloatType, "cosine_sim")
    if (l != TypeCheckResult.TypeCheckSuccess) l
    else NativeExprs.requireArrayOf(right, FloatType, "cosine_sim")
  }
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecMath.cosineFF(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VecMath.cosineFF($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimExpr =
    copy(left = l, right = r)
}

/** token_span_hashes(string, k) → positional array<bigint>, codegen'd
  * (see [[VecMath.tokenSpanHashes]]).
  */
case class TokenSpanHashesExpr(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"token_span_hashes expects string, got ${child.dataType.simpleString}")
  override protected def nullSafeEval(input: Any): Any =
    VecMath.tokenSpanHashes(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecMath.tokenSpanHashes($c, $k)")
  override protected def withNewChildInternal(c: Expression): TokenSpanHashesExpr = copy(child = c)
}

/** dedup_lines(string) → struct<clean string, n_kept bigint,
  * n_removed bigint>, codegen'd (see [[VecMath.dedupLines]]).
  */
case class DedupLinesExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("clean", StringType, nullable = false),
    StructField("n_kept", LongType, nullable = false),
    StructField("n_removed", LongType, nullable = false)))
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"dedup_lines expects string, got ${child.dataType.simpleString}")
  override protected def nullSafeEval(input: Any): Any =
    VecMath.dedupLines(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecMath.dedupLines($c)")
  override protected def withNewChildInternal(c: Expression): DedupLinesExpr = copy(child = c)
}

/** remove_positions(string, array<int>, sep) →
  * struct<clean string, n_kept bigint, n_removed bigint>, codegen'd (see
  * [[VecMath.removePositions]]).
  */
case class RemovePositionsExpr(left: Expression, right: Expression, sep: String) extends BinaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("clean", StringType, nullable = false),
    StructField("n_kept", LongType, nullable = false),
    StructField("n_removed", LongType, nullable = false)))
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(s"remove_positions expects string, got ${left.dataType.simpleString}")
    else NativeExprs.requireArrayOf(right, IntegerType, "remove_positions")
  override protected def nullSafeEval(t: Any, r: Any): Any =
    VecMath.removePositions(
      t.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], r.asInstanceOf[ArrayData], sep)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sepRef = ctx.addReferenceObj("sep", sep, "java.lang.String")
    defineCodeGen(ctx, ev, (t, r) => s"graft.functions.VecMath.removePositions($t, $r, $sepRef)")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): RemovePositionsExpr =
    copy(left = l, right = r)
}

/** int8_dot(array<bigint>, array<bigint>) → bigint, codegen'd — exact
  * integer dot product for quantized-vector ANN scoring (see
  * [[VecMath.int8Dot]]).
  */
case class Int8DotExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = {
    val l = NativeExprs.requireArrayOf(left, LongType, "int8_dot")
    if (l != TypeCheckResult.TypeCheckSuccess) l
    else NativeExprs.requireArrayOf(right, LongType, "int8_dot")
  }
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecMath.int8Dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VecMath.int8Dot($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Int8DotExpr =
    copy(left = l, right = r)
}

/** l2_dist2(array<bigint>, array<bigint>) → bigint, codegen'd
  * (see [[VecMath.l2Dist2]] — the pairwise ADC scoring kernel).
  */
case class L2Dist2Expr(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = {
    val l = NativeExprs.requireArrayOf(left, LongType, "l2_dist2")
    if (l != TypeCheckResult.TypeCheckSuccess) l
    else NativeExprs.requireArrayOf(right, LongType, "l2_dist2")
  }
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecMath.l2Dist2(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VecMath.l2Dist2($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): L2Dist2Expr =
    copy(left = l, right = r)
}

/** hash61(bigint) → bigint in [0, 2^61−1): SQL-replayable universal hash
  * (see [[VecMath.hash61]]), codegen'd.
  */
case class Hash61Expr(child: Expression, a: Long, b: Long) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"hash61 needs BIGINT, got ${child.dataType}")
  override protected def nullSafeEval(input: Any): Any =
    VecMath.hash61(input.asInstanceOf[Long], a, b)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecMath.hash61($c, ${a}L, ${b}L)")
  override protected def withNewChildInternal(c: Expression): Hash61Expr = copy(child = c)
}

/** minhash_sig(array<string>, k) → array<bigint>, codegen'd. */
case class MinHashSigExpr(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    NativeExprs.requireArrayOf(child, StringType, "minhash_sig")
  override protected def nullSafeEval(input: Any): Any =
    VecMath.minhashSig(input.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecMath.minhashSig($c, $k)")
  override protected def withNewChildInternal(c: Expression): MinHashSigExpr = copy(child = c)
}

/** cosine_pairs(array<struct<id bigint, vec array<float>>>, threshold) →
  * array<struct<id_a, id_b, cos>>, codegen'd — fused within-bucket pair
  * expansion + exact-cosine verification (see [[VecMath.cosinePairs]]).
  */
case class CosinePairsExpr(child: Expression, threshold: Double) extends UnaryExpression {
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("id_a", LongType, nullable = false),
      StructField("id_b", LongType, nullable = false),
      StructField("cos", DoubleType, nullable = false))),
    containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StructType(Array(a, b)), _)
        if a.dataType == LongType && b.dataType.isInstanceOf[ArrayType] &&
          b.dataType.asInstanceOf[ArrayType].elementType == FloatType =>
      TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"cosine_pairs expects array<struct<bigint, array<float>>>, got ${other.simpleString(8)}")
  }
  override protected def nullSafeEval(input: Any): Any =
    VecMath.cosinePairs(input.asInstanceOf[ArrayData], threshold)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecMath.cosinePairs($c, ${threshold}D)")
  override protected def withNewChildInternal(c: Expression): CosinePairsExpr = copy(child = c)
}

/** word_shingle_hashes(string, n) → sorted distinct array<bigint>, codegen'd
  * — the string-free shingle path (see [[VecMath.wordShingleHashes]]).
  */
case class WordShingleHashesExpr(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"word_shingle_hashes expects string, got ${child.dataType.simpleString}")
  override protected def nullSafeEval(input: Any): Any =
    VecMath.wordShingleHashes(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecMath.wordShingleHashes($c, $n)")
  override protected def withNewChildInternal(c: Expression): WordShingleHashesExpr = copy(child = c)
}

/** line_span_hashes(string, n) → positional array<bigint>, codegen'd
  * (see [[VecMath.lineSpanHashes]]).
  */
case class LineSpanHashesExpr(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"line_span_hashes expects string, got ${child.dataType.simpleString}")
  override protected def nullSafeEval(input: Any): Any =
    VecMath.lineSpanHashes(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecMath.lineSpanHashes($c, $n)")
  override protected def withNewChildInternal(c: Expression): LineSpanHashesExpr = copy(child = c)
}

/** minhash_sig_long(array<bigint>, k) → array<bigint>, codegen'd. */
case class MinHashSigLongExpr(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    NativeExprs.requireArrayOf(child, LongType, "minhash_sig_long")
  override protected def nullSafeEval(input: Any): Any =
    VecMath.minhashSigLong(input.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecMath.minhashSigLong($c, $k)")
  override protected def withNewChildInternal(c: Expression): MinHashSigLongExpr = copy(child = c)
}

/** simhash64(array<string>) → bigint, codegen'd. */
case class SimHash64Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    NativeExprs.requireArrayOf(child, StringType, "simhash64")
  override protected def nullSafeEval(input: Any): Any =
    VecMath.simhash64(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecMath.simhash64($c)")
  override protected def withNewChildInternal(c: Expression): SimHash64Expr = copy(child = c)
}

/** word_shingles(string, n) → array<string>, codegen'd. */
case class WordShinglesExpr(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"word_shingles expects string, got ${child.dataType.simpleString}")
  override protected def nullSafeEval(input: Any): Any =
    VecMath.wordShingles(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecMath.wordShingles($c, $n)")
  override protected def withNewChildInternal(c: Expression): WordShinglesExpr = copy(child = c)
}

/** id_pairs(array<bigint>) → array<struct<id_a,id_b>>, codegen'd: all i<j
  * pairs of a (sorted) bucket id list.
  */
case class IdPairsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("id_a", LongType, nullable = false),
      StructField("id_b", LongType, nullable = false))),
    containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    NativeExprs.requireArrayOf(child, LongType, "id_pairs")
  override protected def nullSafeEval(input: Any): Any =
    VecMath.idPairs(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecMath.idPairs($c)")
  override protected def withNewChildInternal(c: Expression): IdPairsExpr = copy(child = c)
}

/** srp_buckets(array<float>) → array<int>: `probes` sign-random-projection
  * bucket ids per hash table (flat, table-major: element t*probes+q is table
  * t's q-th probe). Probe 0 is the exact sign bucket; probe q>0 flips the
  * bit whose hyperplane margin |dot| is q-th smallest — standard multi-probe
  * LSH, which buys recall without extra tables (the near-miss bucket is the
  * one across the closest hyperplane). The hyperplanes live inside the
  * expression node (not as literal columns) — a 4-table × 12-plane × 64-dim
  * config as `typedLit`s would be a ~3000-node expression tree that
  * dominates analysis+codegen time; here it is one node and one tight loop.
  */
case class SrpBucketsExpr(child: Expression, planes: Array[Array[Array[Double]]], probes: Int = 1)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    NativeExprs.requireArrayOf(child, FloatType, "srp_buckets")

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  /** Public so generated code can call it. */
  def compute(arr: ArrayData): ArrayData = {
    val v   = arr.toFloatArray()
    val out = new Array[Int](planes.length * probes)
    var t   = 0
    while (t < planes.length) {
      val table   = planes(t)
      val margins = new Array[Double](table.length)
      var bucket  = 0
      var p       = 0
      while (p < table.length) {
        val plane = table(p)
        var dot   = 0.0
        var i     = 0
        val n     = math.min(v.length, plane.length)
        while (i < n) { dot += v(i) * plane(i); i += 1 }
        if (dot >= 0) bucket |= (1 << p)
        margins(p) = math.abs(dot)
        p += 1
      }
      out(t * probes) = bucket
      // probe q flips the q-th-smallest-margin bit (selection by scan —
      // probes and plane counts are tiny)
      val used = new Array[Boolean](table.length)
      var q = 1
      while (q < probes) {
        var best    = -1
        var bestVal = Double.MaxValue
        var j       = 0
        while (j < table.length) {
          if (!used(j) && margins(j) < bestVal) { best = j; bestVal = margins(j) }
          j += 1
        }
        used(best) = true
        out(t * probes + q) = bucket ^ (1 << best)
        q += 1
      }
      t += 1
    }
    new GenericArrayData(out)
  }

  // Interpreted eval via fallback: the per-row work (tables×planes×dim mults)
  // dwarfs the codegen/interpretation overhead, and inlining the plane matrix
  // into generated Java would blow up the method size.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("srpExpr", this, classOf[SrpBucketsExpr].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }
  override protected def withNewChildInternal(c: Expression): SrpBucketsExpr = copy(child = c)
}

/** nearest_centroid_l2(array<bigint>) → struct<cluster bigint, dist2 bigint>:
  * exact-integer argmin-L2² assignment of a micro-quantized vector against a
  * model-sized centroid table riding in as a reference object (the
  * [[SrpBucketsExpr]] pattern) — the Lloyd-iteration hot loop with NO join,
  * NO shuffle, and NO floating point, so the assignment is order-independent
  * and bit-identical on any engine. `cids`/`cents` must be parallel arrays
  * sorted cid-ascending: the scan uses strict `<`, so distance ties
  * deterministically take the smallest cid (mirroring the oracle's
  * `ORDER BY d, cid` row_number tie-break).
  */
case class NearestCentroidExpr(child: Expression, cids: Array[Long], cents: Array[Array[Long]])
    extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("cluster", LongType, nullable = false),
    StructField("dist2", LongType, nullable = false)))
  override def checkInputDataTypes(): TypeCheckResult =
    NativeExprs.requireArrayOf(child, LongType, "nearest_centroid_l2")

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  /** Public so generated code can call it. */
  def compute(arr: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val v = arr.toLongArray()
    var bestC = -1L
    var bestD = Long.MaxValue
    var c = 0
    while (c < cents.length) {
      val cen = cents(c)
      val n   = math.min(v.length, cen.length)
      var d   = 0L
      var j   = 0
      while (j < n) { val t = v(j) - cen(j); d += t * t; j += 1 }
      if (d < bestD) { bestD = d; bestC = cids(c) }
      c += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(bestC, bestD)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ncExpr", this, classOf[NearestCentroidExpr].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }
  override protected def withNewChildInternal(c: Expression): NearestCentroidExpr = copy(child = c)
}

/** lang_id(string) → string: stopword-heuristic language ID in ONE pass over
  * the text's tokens. Semantics match the declarative form exactly — score =
  * number of DISTINCT whitespace tokens present in each language's stopword
  * list, argmax with ties broken by list precedence, "und" when nothing hits —
  * but the work is a single tokenize + hash-map probe per distinct token,
  * instead of 5 independent split/distinct/intersect pipelines (which, folded
  * through nested `when`s, duplicated exponentially and ran interpreted).
  */
case class LangIdExpr(child: Expression, langs: Seq[(String, Seq[String])]) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"lang_id expects string, got ${child.dataType.simpleString}")

  @transient private lazy val langNames: Array[org.apache.spark.unsafe.types.UTF8String] =
    langs.map(l => org.apache.spark.unsafe.types.UTF8String.fromString(l._1)).toArray
  @transient private lazy val und = org.apache.spark.unsafe.types.UTF8String.fromString("und")
  // stopword → indices of the languages whose list contains it (a word may
  // appear in several lists, e.g. "de"/"la"/"un" in both es and fr)
  @transient private lazy val wordToLangs: java.util.HashMap[String, Array[Int]] = {
    val m = new java.util.HashMap[String, Array[Int]]()
    langs.zipWithIndex.foreach { case ((_, words), i) =>
      words.foreach { w =>
        val prev = m.get(w)
        m.put(w, if (prev == null) Array(i) else prev :+ i)
      }
    }
    m
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  /** Public so generated code can call it. */
  def compute(text: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String = {
    val counts = new Array[Int](langs.length)
    val seen   = new java.util.HashSet[String]()
    val toks   = text.toString.split(" ")
    var j      = 0
    while (j < toks.length) {
      val t = toks(j)
      if (t.nonEmpty && seen.add(t)) {
        val ls = wordToLangs.get(t)
        if (ls != null) { var i = 0; while (i < ls.length) { counts(ls(i)) += 1; i += 1 } }
      }
      j += 1
    }
    var best = 0
    var i    = 1
    while (i < counts.length) { if (counts(i) > counts(best)) best = i; i += 1 }
    if (counts(best) == 0) und else langNames(best)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("langIdExpr", this, classOf[LangIdExpr].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }
  override protected def withNewChildInternal(c: Expression): LangIdExpr = copy(child = c)
}

/** token_counts(string, stopwords) → struct<n_tokens, n_stop, n_alpha>:
  * whitespace token count, non-distinct stopword occurrence count, and count
  * of tokens containing at least one ASCII letter, in ONE pass — replaces
  * interpreted `filter` lambdas that each re-tokenized the text per row
  * (n_alpha in particular would otherwise be a per-word rlike lambda — the
  * SCALING.md interpreted-HOF trap). Tokens split on BOTH space and newline
  * so multi-line pages count the same as flat text.
  */
case class TokenCountsExpr(child: Expression, stopwords: Seq[String]) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_stop", LongType, nullable = false),
    StructField("n_alpha", LongType, nullable = false)))
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"token_counts expects string, got ${child.dataType.simpleString}")

  @transient private lazy val stopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    stopwords.foreach(s.add)
    s
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  /** Public so generated code can call it. */
  def compute(text: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val toks   = text.toString.split("[ \n]")
    var nTok   = 0L
    var nStop  = 0L
    var nAlpha = 0L
    var i      = 0
    while (i < toks.length) {
      val t = toks(i)
      if (t.nonEmpty) {
        nTok += 1
        if (stopSet.contains(t)) nStop += 1
        var j = 0
        var alpha = false
        while (!alpha && j < t.length) {
          val c = t.charAt(j)
          alpha = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
          j += 1
        }
        if (alpha) nAlpha += 1
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(nTok, nStop, nAlpha)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("tokenCountsExpr", this, classOf[TokenCountsExpr].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }
  override protected def withNewChildInternal(c: Expression): TokenCountsExpr = copy(child = c)
}

/** c4_line_clean(string) → struct<clean string, n_kept int, n_dropped int>:
  * the C4 line-level cleaning rules (Raffel et al., "Exploring the Limits of
  * Transfer Learning with a Unified Text-to-Text Transformer", JMLR 2020,
  * §2.2 — the public web-corpus recipe behind C4) applied in ONE codegen'd
  * pass per document:
  *
  *   - keep only lines ending in terminal punctuation (`.` `!` `?` `"`);
  *   - drop lines with fewer than `minWords` space-separated words;
  *   - drop lines whose lowercase form contains "lorem ipsum" (placeholder
  *     text) or "javascript" (browser-warning boilerplate);
  *   - drop lines containing `{` (leaked code).
  *
  * Kept lines re-join with `\n`; kept/dropped counts ride along for corpus
  * stats. An `array_join(filter(split(...), lambda), ...)` spelling of the
  * same rules runs the lambda INTERPRETED per line (the SCALING.md item-2
  * trap); this is a single scan-speed projection. Rules are exactly
  * mirrorable in ANSI SQL (regexp `[.!?"]$` + contains), so the registry row
  * carries a full row-level DuckDB oracle.
  */
case class C4LineCleanExpr(child: Expression, minWords: Int) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("clean", StringType, nullable = false),
    StructField("n_kept", IntegerType, nullable = false),
    StructField("n_dropped", IntegerType, nullable = false)))
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"c4_line_clean expects string, got ${child.dataType.simpleString}")

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  private def keep(line: String): Boolean = {
    if (line.isEmpty) return false
    val last = line.charAt(line.length - 1)
    if (last != '.' && last != '!' && last != '?' && last != '"') return false
    var words = 0
    var inWord = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (c == ' ') inWord = false
      else if (!inWord) { words += 1; inWord = true }
      i += 1
    }
    if (words < minWords) return false
    if (line.indexOf('{') >= 0) return false
    val lower = line.toLowerCase(java.util.Locale.ROOT)
    lower.indexOf("lorem ipsum") < 0 && lower.indexOf("javascript") < 0
  }

  /** Public so generated code can call it. */
  def compute(text: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val lines   = text.toString.split("\n", -1)
    val sb      = new java.lang.StringBuilder
    var kept    = 0
    var dropped = 0
    var i       = 0
    while (i < lines.length) {
      if (keep(lines(i))) {
        if (kept > 0) sb.append('\n')
        sb.append(lines(i))
        kept += 1
      } else dropped += 1
      i += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(
      org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString), kept, dropped)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("c4CleanExpr", this, classOf[C4LineCleanExpr].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }
  override protected def withNewChildInternal(c: Expression): C4LineCleanExpr = copy(child = c)
}

/** deflate_ratio(string) → double: compressed-size / raw-size under DEFLATE
  * (level 6) — the standard corpus quality signal for boilerplate and
  * near-random text (low ratio ⇒ repetitive, ~1 ⇒ high-entropy). One pass,
  * bounded memory, no external libs (java.util.zip). Engine-specific output
  * (ratio depends on the deflate implementation) ⇒ rows-only query column,
  * value-tested in ScalaTest.
  */
case class DeflateRatioExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"deflate_ratio expects string, got ${child.dataType.simpleString}")

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  /** Public so generated code can call it. */
  def compute(text: org.apache.spark.unsafe.types.UTF8String): Double = {
    val raw = text.getBytes
    if (raw.isEmpty) return 1.0
    val d = new java.util.zip.Deflater(6, false)
    try {
      d.setInput(raw)
      d.finish()
      val buf   = new Array[Byte](8192)
      var total = 0L
      while (!d.finished()) total += d.deflate(buf)
      total.toDouble / raw.length
    } finally d.end()
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("deflateExpr", this, classOf[DeflateRatioExpr].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }
  override protected def withNewChildInternal(c: Expression): DeflateRatioExpr = copy(child = c)
}

/** repetition_signals(string) → struct of 11 ppm-quantized repetition
  * diagnostics + composite keep flag — the repetition half of the
  * Gopher/MassiveText filter (Rae et al., arXiv:2112.11446, table A1; the
  * quality half is [[Curation.gopherQuality]]):
  *
  *   - duplicate-LINE fraction and duplicate-line CHARACTER fraction (an
  *     occurrence is "duplicate" when its line value appears ≥2 times in
  *     the doc — all occurrences of a repeated value count, the paper's
  *     convention);
  *   - top word-n-gram character fraction for n = 2, 3, 4 (characters of
  *     the single most frequent n-gram × its count / total token
  *     characters; count ties broken by lexicographically smallest n-gram
  *     so the value is deterministic and engine-portable — tokens here are
  *     ASCII, where Java UTF-16 order == DuckDB byte order);
  *   - duplicate word-n-gram character COVERAGE fraction for n = 5..10
  *     (characters at token positions covered by at least one n-gram
  *     occurring ≥2 times, each position counted ONCE — the union, not the
  *     sum, so overlapping windows don't double-count).
  *
  * All fractions are ppm BIGINTs by integer division (⌊10⁶·num/den⌋, 0
  * when the denominator is 0): integer outputs cannot hash-diverge on FP
  * rounding or summation order across engines. `keep` applies the paper's
  * thresholds (0.30 / 0.20; 0.20 / 0.18 / 0.16; 0.15 / 0.14 / 0.13 / 0.12
  * / 0.11 / 0.10). Tokens = text split on space/newline, empties dropped;
  * lines = split on newline (empties kept) — matching the SQL replay
  * exactly. One pass per n-gram size over one doc's tokens, bounded
  * per-row hash maps, pure map-side projection: ZERO shuffle at any
  * corpus size.
  */
case class RepetitionSignalsExpr(child: Expression) extends UnaryExpression {
  import RepetitionSignalsExpr._
  override def dataType: DataType = StructType(
    fieldNames.map(f => StructField(f, LongType, nullable = false)))
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"repetition_signals expects string, got ${child.dataType.simpleString}")

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  /** Public so generated code can call it. */
  def compute(text: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val s     = text.toString
    val out   = new Array[Long](12)

    // Lines: split on \n, empties kept (an all-empty pair of lines IS a
    // duplicate — same as the SQL replay's string_split).
    val lines = s.split("\n", -1)
    val lineCnt = new java.util.HashMap[String, Integer]()
    var i = 0
    while (i < lines.length) {
      inc(lineCnt, lines(i))
      i += 1
    }
    var lineChars = 0L; var dupOcc = 0L; var dupChars = 0L
    val it = lineCnt.entrySet().iterator()
    while (it.hasNext) {
      val e  = it.next()
      val c  = e.getValue.toLong
      val ll = e.getKey.length.toLong
      lineChars += c * ll
      if (c >= 2) { dupOcc += c; dupChars += c * ll }
    }
    out(0) = ppm(dupOcc, lines.length.toLong)
    out(1) = ppm(dupChars, lineChars)

    // Tokens: split on space OR newline, empties dropped.
    val rawToks = s.split("[ \n]", -1)
    var nTok = 0
    i = 0
    while (i < rawToks.length) { if (!rawToks(i).isEmpty) nTok += 1; i += 1 }
    val toks = new Array[String](nTok)
    var j = 0
    i = 0
    while (i < rawToks.length) {
      if (!rawToks(i).isEmpty) { toks(j) = rawToks(i); j += 1 }
      i += 1
    }
    var tokChars = 0L
    i = 0
    while (i < nTok) { tokChars += toks(i).length.toLong; i += 1 }

    // Top n-gram char fraction, n = 2..4. Keys are space-joined (tokens
    // contain no spaces), so concat-length = key.length - (n-1).
    var n = 2
    while (n <= 4) {
      val cnt = ngramCounts(toks, nTok, n)
      var bestC = 0
      var bestK: String = null
      val e = cnt.entrySet().iterator()
      while (e.hasNext) {
        val kv = e.next()
        val c  = kv.getValue.intValue
        if (c > bestC || (c == bestC && bestK != null && kv.getKey.compareTo(bestK) < 0)) {
          bestC = c; bestK = kv.getKey
        }
      }
      val mass = if (bestK == null) 0L else bestC.toLong * (bestK.length - (n - 1)).toLong
      out(n) = ppm(mass, tokChars)
      n += 1
    }

    // Duplicate n-gram coverage fraction, n = 5..10: positions covered by
    // ≥1 n-gram with count ≥2, each counted once.
    val covered = new Array[Boolean](nTok)
    n = 5
    while (n <= 10) {
      val cnt = ngramCounts(toks, nTok, n)
      java.util.Arrays.fill(covered, false)
      var p = 0
      while (p + n <= nTok) {
        if (cnt.get(joinRange(toks, p, n)).intValue >= 2) {
          var q = p
          while (q < p + n) { covered(q) = true; q += 1 }
        }
        p += 1
      }
      var mass = 0L
      p = 0
      while (p < nTok) { if (covered(p)) mass += toks(p).length.toLong; p += 1 }
      out(n) = ppm(mass, tokChars)
      n += 1
    }

    out(11) =
      if (out(0) <= 300000L && out(1) <= 200000L &&
          out(2) <= 200000L && out(3) <= 180000L && out(4) <= 160000L &&
          out(5) <= 150000L && out(6) <= 140000L && out(7) <= 130000L &&
          out(8) <= 120000L && out(9) <= 110000L && out(10) <= 100000L) 1L
      else 0L
    org.apache.spark.sql.catalyst.InternalRow(out(0), out(1), out(2), out(3),
      out(4), out(5), out(6), out(7), out(8), out(9), out(10), out(11))
  }

  private def inc(m: java.util.HashMap[String, Integer], k: String): Unit = {
    val v = m.get(k)
    m.put(k, if (v == null) Integer.valueOf(1) else Integer.valueOf(v.intValue + 1))
  }

  private def ngramCounts(toks: Array[String], nTok: Int, n: Int): java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    var p = 0
    while (p + n <= nTok) {
      inc(m, joinRange(toks, p, n))
      p += 1
    }
    m
  }

  private def joinRange(toks: Array[String], from: Int, n: Int): String = {
    val sb = new java.lang.StringBuilder()
    var q = from
    while (q < from + n) {
      if (q > from) sb.append(' ')
      sb.append(toks(q))
      q += 1
    }
    sb.toString
  }

  private def ppm(num: Long, den: Long): Long = if (den <= 0L) 0L else num * 1000000L / den

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("repSigExpr", this, classOf[RepetitionSignalsExpr].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }
  override protected def withNewChildInternal(c: Expression): RepetitionSignalsExpr = copy(child = c)
}

object RepetitionSignalsExpr {
  val fieldNames: Seq[String] = Seq(
    "dup_line_ppm", "dup_line_char_ppm",
    "top2_ppm", "top3_ppm", "top4_ppm",
    "dup5_ppm", "dup6_ppm", "dup7_ppm", "dup8_ppm", "dup9_ppm", "dup10_ppm",
    "keep")
}

/** bpe_apply(array<string>, a, b) → array<string>: one BPE merge applied
  * greedily left-to-right (Sennrich et al., ACL 2016: after a merge at i
  * the scan continues at i+2, so "aaa" under (a,a) → [aa, a]). The merge
  * pair is a per-ROUND scalar, not per-row data — it rides the expression
  * as reference objects, keeping the kernel codegen'd with no extra
  * columns.
  */
case class BpeApplyExpr(child: Expression, a: String, b: String) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    NativeExprs.requireArrayOf(child, StringType, "bpe_apply")
  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  /** Public so generated code can call it. */
  def compute(syms: ArrayData): ArrayData = {
    val n   = syms.numElements()
    val out = new java.util.ArrayList[org.apache.spark.unsafe.types.UTF8String](n)
    val ua  = org.apache.spark.unsafe.types.UTF8String.fromString(a)
    val ub  = org.apache.spark.unsafe.types.UTF8String.fromString(b)
    val uab = org.apache.spark.unsafe.types.UTF8String.fromString(a + b)
    var i = 0
    while (i < n) {
      if (i < n - 1 && syms.getUTF8String(i) == ua && syms.getUTF8String(i + 1) == ub) {
        out.add(uab); i += 2
      } else {
        out.add(syms.getUTF8String(i)); i += 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeApplyExpr", this, classOf[BpeApplyExpr].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }
  override protected def withNewChildInternal(c: Expression): BpeApplyExpr = copy(child = c)
}

/** bpe_token_count(string) → bigint: tokens the text encodes to under an
  * ORDERED learned merge list (the serving face of BPE training): each
  * whitespace word → chars + `</w>`, every merge applied greedily in
  * training order, counts summed across words. Map-side only — the merge
  * list is a broadcast-sized reference object, the corpus never shuffles.
  * Engine-specific sequential semantics (greedy in-word merging) ⇒ the
  * registry row is rows-only; values are closed-form-gated in ScalaTest.
  */
case class BpeTokenCountExpr(child: Expression, merges: Seq[(String, String)]) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"bpe_token_count expects string, got ${child.dataType.simpleString}")
  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  /** Public so generated code can call it. */
  def compute(text: org.apache.spark.unsafe.types.UTF8String): Long = {
    val words = text.toString.split("[ \n]", -1)
    var total = 0L
    var w = 0
    while (w < words.length) {
      if (!words(w).isEmpty) {
        var syms = new java.util.ArrayList[String](words(w).length + 1)
        var c = 0
        while (c < words(w).length) { syms.add(String.valueOf(words(w).charAt(c))); c += 1 }
        syms.add("</w>")
        val it = merges.iterator
        while (it.hasNext && syms.size > 1) {
          val (a, b) = it.next()
          val merged = new java.util.ArrayList[String](syms.size)
          var i = 0
          while (i < syms.size) {
            if (i < syms.size - 1 && syms.get(i) == a && syms.get(i + 1) == b) {
              merged.add(a + b); i += 2
            } else { merged.add(syms.get(i)); i += 1 }
          }
          syms = merged
        }
        total += syms.size
      }
      w += 1
    }
    total
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeCountExpr", this, classOf[BpeTokenCountExpr].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }
  override protected def withNewChildInternal(c: Expression): BpeTokenCountExpr = copy(child = c)
}

/** Column API for the native kernels. */
object NativeFns {
  def cosine_sim(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSimExpr(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  def hash61(x: Column, a: Long, b: Long): Column =
    ColumnBridge.column(Hash61Expr(ColumnBridge.expression(x), a, b))
  def minhash_sig(shingles: Column, k: Int): Column =
    ColumnBridge.column(MinHashSigExpr(ColumnBridge.expression(shingles), k))
  def simhash64(tokens: Column): Column =
    ColumnBridge.column(SimHash64Expr(ColumnBridge.expression(tokens)))
  def id_pairs(ids: Column): Column =
    ColumnBridge.column(IdPairsExpr(ColumnBridge.expression(ids)))
  def lang_id(text: Column, langs: Seq[(String, Seq[String])]): Column =
    ColumnBridge.column(LangIdExpr(ColumnBridge.expression(text), langs))
  def token_counts(text: Column, stopwords: Seq[String]): Column =
    ColumnBridge.column(TokenCountsExpr(ColumnBridge.expression(text), stopwords))
  def deflate_ratio(text: Column): Column =
    ColumnBridge.column(DeflateRatioExpr(ColumnBridge.expression(text)))
  def c4_line_clean(text: Column, minWords: Int = 3): Column =
    ColumnBridge.column(C4LineCleanExpr(ColumnBridge.expression(text), minWords))
  def srp_buckets(vec: Column, planes: Array[Array[Array[Double]]], probes: Int = 1): Column =
    ColumnBridge.column(SrpBucketsExpr(ColumnBridge.expression(vec), planes, probes))
  def word_shingles(text: Column, n: Int): Column =
    ColumnBridge.column(WordShinglesExpr(ColumnBridge.expression(text), n))
  def word_shingle_hashes(text: Column, n: Int): Column =
    ColumnBridge.column(WordShingleHashesExpr(ColumnBridge.expression(text), n))
  def minhash_sig_long(hashes: Column, k: Int): Column =
    ColumnBridge.column(MinHashSigLongExpr(ColumnBridge.expression(hashes), k))
  def line_span_hashes(text: Column, n: Int): Column =
    ColumnBridge.column(LineSpanHashesExpr(ColumnBridge.expression(text), n))
  def cosine_pairs(items: Column, threshold: Double): Column =
    ColumnBridge.column(CosinePairsExpr(ColumnBridge.expression(items), threshold))
  def int8_dot(a: Column, b: Column): Column =
    ColumnBridge.column(Int8DotExpr(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  def l2_dist2(a: Column, b: Column): Column =
    ColumnBridge.column(L2Dist2Expr(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  def nearest_centroid_l2(qv: Column, cids: Array[Long], cents: Array[Array[Long]]): Column =
    ColumnBridge.column(NearestCentroidExpr(ColumnBridge.expression(qv), cids, cents))
  def token_span_hashes(text: Column, k: Int): Column =
    ColumnBridge.column(TokenSpanHashesExpr(ColumnBridge.expression(text), k))
  def remove_positions(text: Column, rm: Column, sep: String): Column =
    ColumnBridge.column(RemovePositionsExpr(ColumnBridge.expression(text), ColumnBridge.expression(rm), sep))
  def dedup_lines(text: Column): Column =
    ColumnBridge.column(DedupLinesExpr(ColumnBridge.expression(text)))
  def repetition_signals(text: Column): Column =
    ColumnBridge.column(RepetitionSignalsExpr(ColumnBridge.expression(text)))
  def bpe_apply(syms: Column, a: String, b: String): Column =
    ColumnBridge.column(BpeApplyExpr(ColumnBridge.expression(syms), a, b))
  def bpe_token_count(text: Column, merges: Seq[(String, String)]): Column =
    ColumnBridge.column(BpeTokenCountExpr(ColumnBridge.expression(text), merges))
}
