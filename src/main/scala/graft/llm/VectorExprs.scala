package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass vector/signature expressions with whole-stage codegen support.
  *
  * Why custom expressions: the composable built-in forms (32 ×
  * array_min(transform(…)) for MinHash, 3 × aggregate(zip_with(…)) for
  * cosine) re-evaluate their array inputs per lane — measured 50-200 s at
  * sf0.1. Each expression here does its work in a single primitive loop
  * (`compute`), and implements doGenCode so its children (splits, scans)
  * stay inside whole-stage codegen rather than falling back to interpreted
  * evaluation (a CodegenFallback expression re-interprets its whole child
  * subtree per row — measured ~2 ms/row for a transform-built child).
  */
private[llm] object MinHashCore {
  final val Golden = 0x9e3779b97f4a7c15L

  def fmix64(x0: Long): Long = {
    var x = x0
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^= x >>> 33
    x
  }

  /** MinHash lanes over word n-gram shingles of a token array. Each shingle
    * hash is a mix-chain of per-token xxh64s (no string materialization);
    * MIN is duplicate-idempotent so shingles need no dedup here.
    */
  def signature(tokens: ArrayData, shingleN: Int, numHashes: Int): Array[Long] = {
    val nTok = tokens.numElements()
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val tokHash = new Array[Long](nTok)
    var i = 0
    while (i < nTok) {
      tokHash(i) =
        if (tokens.isNullAt(i)) 0L
        else {
          val s = tokens.getUTF8String(i)
          org.apache.spark.sql.catalyst.expressions.XXH64
            .hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
        }
      i += 1
    }
    val nShingles = math.max(nTok - shingleN + 1, 1)
    i = 0
    while (i < nShingles) {
      var base = 0x2545f4914f6cdd1dL
      var k = 0
      while (k < shingleN && i + k < nTok) {
        base = java.lang.Long.rotateLeft(base ^ (tokHash(i + k) * Golden), 27) * 5 + 0x52dce729L
        k += 1
      }
      var j = 0
      while (j < numHashes) {
        val h = fmix64(base ^ (j * Golden))
        if (h < mins(j)) mins(j) = h
        j += 1
      }
      i += 1
    }
    mins
  }
}

/** MinHash signature (array<long> of `numHashes` lanes) over the word
  * `shingleN`-gram shingles of a token array.
  */
case class MinHashSig(child: Expression, shingleN: Int, numHashes: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  def compute(tokens: ArrayData): ArrayData =
    new GenericArrayData(MinHashCore.signature(tokens, shingleN, numHashes))

  override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("minhashSig", this, classOf[MinHashSig].getName)
      s"${ev.value} = $ref.compute($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** LSH band buckets of a MinHash signature (MinHashSig's output): each
  * band of `numHashes/bands` consecutive lanes is hash-combined into one
  * bucket value in a single primitive loop. Reading the signature column
  * (not the tokens) lets one per-doc signature feed both the banding and
  * the est-Jaccard re-attach without recomputing the lanes.
  */
case class MinHashBands(child: Expression, bands: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_bands"

  def compute(sig: ArrayData): ArrayData = {
    val n = sig.numElements()
    require(n % bands == 0, s"bands ($bands) must divide the signature length ($n)")
    val rows = n / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = b * MinHashCore.Golden
      var r = 0
      while (r < rows) {
        h = java.lang.Long.rotateLeft(h ^ (sig.getLong(b * rows + r) * MinHashCore.Golden), 27) * 5 + 0x52dce729L
        r += 1
      }
      out(b) = h
      b += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("minhashBands", this, classOf[MinHashBands].getName)
      s"${ev.value} = $ref.compute($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashBands =
    copy(child = newChild)
}

/** Distinct word n-gram shingles of a token array, joined with single
  * spaces — string-identical to the SQL form
  * `toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]` over distinct i.
  */
case class Shingles(child: Expression, n: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingles"

  def compute(toks: ArrayData): ArrayData =
    new GenericArrayData(Shingles.distinct(toks, n).toArray.asInstanceOf[Array[AnyRef]])

  override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("shingles", this, classOf[Shingles].getName)
      s"${ev.value} = $ref.compute($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): Shingles =
    copy(child = newChild)
}

object Shingles {

  /** The distinct shingles of `toks`, in first-occurrence order; at least
    * one (fewer than `n` tokens make one shorter shingle).
    */
  def distinct(toks: ArrayData, n: Int): java.util.LinkedHashSet[UTF8String] = {
    val nTok = toks.numElements()
    val out = new java.util.LinkedHashSet[UTF8String]()
    val sep = UTF8String.fromString(" ")
    val nShingles = math.max(nTok - n + 1, 1)
    var i = 0
    while (i < nShingles) {
      val parts = new java.util.ArrayList[UTF8String](n)
      var k = 0
      while (k < n && i + k < nTok) {
        if (!toks.isNullAt(i + k)) parts.add(toks.getUTF8String(i + k))
        k += 1
      }
      out.add(UTF8String.concatWs(sep, parts.toArray(new Array[UTF8String](parts.size)): _*))
      i += 1
    }
    out
  }
}

/** Exact Jaccard of the distinct word `n`-gram shingle sets of two token
  * arrays: the value of `size(array_intersect(sa, sb)) /
  * size(array_union(sa, sb))` over `sa`, `sb` = [[Shingles]] of each
  * side, computed from one shingle set per side with no shingle,
  * intersect or union array materialized. Every side has at least one
  * shingle, so the union is never empty.
  */
case class ShingleJaccard(left: Expression, right: Expression, n: Int)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "shingle_jaccard"

  def compute(a: ArrayData, b: ArrayData): Double = {
    val sa = Shingles.distinct(a, n)
    val sb = Shingles.distinct(b, n)
    var inter = 0
    val it = sb.iterator()
    while (it.hasNext) if (sa.contains(it.next())) inter += 1
    inter.toDouble / (sa.size + sb.size - inter)
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val ref = ctx.addReferenceObj("shingleJaccard", this, classOf[ShingleJaccard].getName)
      s"${ev.value} = $ref.compute($a, $b);"
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): ShingleJaccard =
    copy(left = newLeft, right = newRight)
}

/** Cosine similarity of two numeric arrays in one pass, accumulating in
  * double with the same left-to-right order as the composable
  * aggregate(zip_with(...)) form — results are bit-identical to it (and to
  * the DuckDB oracle's list_cosine_similarity over DOUBLE[]).
  *
  * Degenerate inputs are defined, not undefined: a null element counts as
  * 0.0 (it contributes nothing to dot or norm), and a zero-norm side yields
  * 0.0 rather than 0/0 = NaN — NaN would poison downstream top-k ordering.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  @transient private lazy val elemX = left.dataType.asInstanceOf[ArrayType].elementType
  @transient private lazy val elemY = right.dataType.asInstanceOf[ArrayType].elementType

  def compute(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = if (a.isNullAt(i)) 0.0 else num(a, i, elemX)
      val yi = if (b.isNullAt(i)) 0.0 else num(b, i, elemY)
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0
    else dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val ref = ctx.addReferenceObj("cosineSim", this, classOf[CosineSim].getName)
      s"${ev.value} = $ref.compute($a, $b);"
    })

  private def num(a: ArrayData, i: Int, t: DataType): Double = t match {
    case FloatType => a.getFloat(i).toDouble
    case DoubleType => a.getDouble(i)
    case LongType => a.getLong(i).toDouble
    case IntegerType => a.getInt(i).toDouble
    case _ => throw new IllegalArgumentException(s"unsupported element type $t")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

/** Double dot product over two numeric-array columns, in one codegen'd
  * primitive loop. This is the fusion target of
  * `plans.FuseVectorKernels`: its null semantics deliberately REPLICATE
  * the declarative `aggregate(zip_with(a, b, (x,y) => x*y), 0.0, _+_)`
  * form it replaces — a length mismatch or any null element yields NULL
  * (zip_with pads the shorter array with nulls; one null product nulls
  * the whole running sum) — so the rewrite is semantics-preserving, not
  * merely close. Contrast CosineSim, whose null→0 policy is its own
  * documented choice.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dot"

  @transient private lazy val elemX = left.dataType.asInstanceOf[ArrayType].elementType
  @transient private lazy val elemY = right.dataType.asInstanceOf[ArrayType].elementType

  def compute(a: ArrayData, b: ArrayData): Any = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      s += num(a, i, elemX) * num(b, i, elemY)
      i += 1
    }
    s
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val ref = ctx.addReferenceObj("graftDot", this, classOf[DotProduct].getName)
      val tmp = ctx.freshName("dotRes")
      s"""
         |java.lang.Double $tmp = (java.lang.Double) $ref.compute($a, $b);
         |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp.doubleValue(); }
       """.stripMargin
    })

  private def num(a: ArrayData, i: Int, t: DataType): Double = t match {
    case FloatType => a.getFloat(i).toDouble
    case DoubleType => a.getDouble(i)
    case LongType => a.getLong(i).toDouble
    case IntegerType => a.getInt(i).toDouble
    case _ => throw new IllegalArgumentException(s"unsupported element type $t")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Exact integer dot product over two int-array columns — the quantized
  * ADC scan kernel. Higher-order `aggregate(zip_with(…))` is
  * CodegenFallback and re-interprets per row; this is one primitive loop
  * with real codegen, and integer accumulation means the score (and any
  * ranking over it) is exact on every engine. Null elements count as 0,
  * matching the double kernels; length mismatch uses the common prefix.
  */
case class IntDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "int_dot"

  def compute(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      val xi = if (a.isNullAt(i)) 0L else a.getInt(i).toLong
      val yi = if (b.isNullAt(i)) 0L else b.getInt(i).toLong
      acc += xi * yi
      i += 1
    }
    acc
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val ref = ctx.addReferenceObj("intDot", this, classOf[IntDotProduct].getName)
      s"${ev.value} = $ref.compute($a, $b);"
    })

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(IntegerType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs array<int> inputs, got ${left.dataType} / ${right.dataType}")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): IntDotProduct =
    copy(left = newLeft, right = newRight)
}

/** The `k` nearest centroid ids for a vector, by cosine descending (ties:
  * lower centroid id), computed in ONE pass per row against a plan-held
  * centroid matrix — the IVF assignment/probe kernel.
  *
  * Why an expression and not a join: the former crossJoin+row_number form
  * exploded the corpus ×nlist and then shuffled the expanded rows
  * (embeddings included) just to pick each row's argmax — a scale-killer at
  * real nlist. Here centroids ride along like a broadcast-hash-join build
  * side (an IVF index's centroids are small by construction: 10⁴ × 64
  * doubles ≈ 5 MB), assignment happens at scan speed, and nothing shuffles.
  *
  * Cosine accumulation matches CosineSim (and DuckDB's
  * list_cosine_similarity over DOUBLE[]) term-for-term, so assignments and
  * probe sets are oracle-reproducible bit-for-bit.
  */
case class NearestCentroids(
    child: Expression, centroidIds: Array[Int], centroids: Array[Array[Double]], k: Int)
    extends UnaryExpression {

  require(centroidIds.length == centroids.length, "ids/vectors must align")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "nearest_centroids"

  @transient private lazy val elem = child.dataType.asInstanceOf[ArrayType].elementType
  @transient private lazy val centroidNorms: Array[Double] = centroids.map { c =>
    var s = 0.0; var i = 0
    while (i < c.length) { s += c(i) * c(i); i += 1 }
    math.sqrt(s)
  }

  def compute(emb: ArrayData): ArrayData = {
    val n = emb.numElements()
    val sims = new Array[Double](centroids.length)
    var nx = 0.0
    var i = 0
    while (i < n) {
      val xi = if (emb.isNullAt(i)) 0.0 else num(emb, i)
      nx += xi * xi
      i += 1
    }
    val normX = math.sqrt(nx)
    var c = 0
    while (c < centroids.length) {
      val cv = centroids(c)
      val m = math.min(n, cv.length)
      var dot = 0.0
      i = 0
      while (i < m) {
        val xi = if (emb.isNullAt(i)) 0.0 else num(emb, i)
        dot += xi * cv(i)
        i += 1
      }
      val denom = normX * centroidNorms(c)
      sims(c) = if (denom == 0.0) 0.0 else dot / denom
      c += 1
    }
    val kk = math.min(k, centroids.length)
    val out = new Array[Int](kk)
    val taken = new Array[Boolean](centroids.length)
    var r = 0
    while (r < kk) {
      var best = -1
      c = 0
      while (c < centroids.length) {
        if (!taken(c) && (best < 0 || sims(c) > sims(best))) best = c
        c += 1
      }
      taken(best) = true
      out(r) = centroidIds(best)
      r += 1
    }
    new GenericArrayData(out)
  }

  private def num(a: ArrayData, i: Int): Double = elem match {
    case FloatType => a.getFloat(i).toDouble
    case DoubleType => a.getDouble(i)
    case LongType => a.getLong(i).toDouble
    case IntegerType => a.getInt(i).toDouble
    case t => throw new IllegalArgumentException(s"unsupported element type $t")
  }

  override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("nearestCentroids", this, classOf[NearestCentroids].getName)
      s"${ev.value} = $ref.compute($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): NearestCentroids =
    copy(child = newChild)
}

/** Banded random-hyperplane LSH buckets: `bands` bucket values, each from
  * `bitsPerBand` sign bits of dot products with deterministic pseudo-random
  * hyperplanes (hash-derived — executors need no shared RNG state), all in
  * one pass: bands × bits × dim multiply-adds per row.
  *
  * Banding is what makes hyperplane LSH usable for near-dup detection: a
  * pair at cosine c collides per bit with p = 1 - acos(c)/π, per band with
  * p^bits, and is missed by ALL bands with (1-p^bits)^bands — so bands can
  * drive the miss probability to oracle-grade (≤1e-6) at high thresholds.
  * (At LOW thresholds — c ≲ 0.5, p ≈ 0.6 — no (bits, bands) choice beats
  * the brute-force quadratic: candidate cost scales as bands·n²/2^bits
  * while recall needs bands ≥ 14/p^bits, and (2p)^bits > 28 forces bits
  * so large that bands explodes. That regime belongs to the exact
  * baseline; see Similarity.bruteForcePairs.)
  */
case class HyperplaneBands(child: Expression, bitsPerBand: Int, bands: Int)
    extends UnaryExpression {

  require(bitsPerBand >= 1 && bitsPerBand <= 63, "bitsPerBand in [1,63]")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hyperplane_bands"

  @transient private lazy val elem = child.dataType.asInstanceOf[ArrayType].elementType

  def compute(emb: ArrayData): ArrayData = {
    val n = emb.numElements()
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var bucket = 0L
      var j = 0
      while (j < bitsPerBand) {
        val bit = b * bitsPerBand + j
        var dot = 0.0
        var i = 0
        while (i < n) {
          val xi = if (emb.isNullAt(i)) 0.0 else num(emb, i)
          // hyperplane component in [-1, 1): fmix64 of (bit, dim) → uniform
          val h = MinHashCore.fmix64(bit * MinHashCore.Golden + 0x9e3779b9L * i + 1)
          // (h >>> 11) is 53 bits; × 2^-52 − 1 spans [-1, 2-2^-52) ≈ [-1, 1)
          // (a 2^-53 multiplier here once made every component negative —
          // all normals in one orthant, sign bits correlated, buckets
          // collapsed; HyperplaneSignSpec pins the component distribution)
          dot += xi * ((h >>> 11) * 2.220446049250313e-16 - 1.0)
          i += 1
        }
        if (dot > 0) bucket |= (1L << j)
        j += 1
      }
      // fold the band index in so (band, bucket) keys never collide across bands
      out(b) = bucket | (b.toLong << bitsPerBand)
      b += 1
    }
    new GenericArrayData(out)
  }

  private def num(a: ArrayData, i: Int): Double = elem match {
    case FloatType => a.getFloat(i).toDouble
    case DoubleType => a.getDouble(i)
    case LongType => a.getLong(i).toDouble
    case IntegerType => a.getInt(i).toDouble
    case t => throw new IllegalArgumentException(s"unsupported element type $t")
  }

  override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("hyperplaneBands", this, classOf[HyperplaneBands].getName)
      s"${ev.value} = $ref.compute($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBands =
    copy(child = newChild)
}

/** Product-quantization encoder: the `m` subspace code ids for a vector,
  * in ONE pass against plan-held integer codebooks — the PQ index-build
  * kernel (reference has no ANN; this is the beyond-reference scale
  * layer, FAISS-style IVFPQ's storage half).
  *
  * Each input element is quantized to round-half-away(x·2¹⁶) — exactly
  * the integer grid `Similarity.trainCentroidCodes` trains on — and each
  * subspace picks the codebook entry minimizing integer squared
  * Euclidean distance (ties: lowest code id). All-integer arithmetic
  * means the codes (and any ADC ranking built on them) reproduce
  * bit-for-bit on any engine, so the whole PQ pipeline stays
  * oracle-checkable despite float inputs. Null elements quantize to 0,
  * matching the other kernels; vectors shorter than m·subDim treat
  * missing elements as 0.
  */
case class PqCodes(child: Expression, codebooks: Array[Array[Array[Long]]])
    extends UnaryExpression {

  require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty), "empty codebook")
  private val subDim = codebooks(0)(0).length
  require(codebooks.forall(_.forall(_.length == subDim)),
    "all codebook entries must share the subspace dimension")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_codes"

  @transient private lazy val elem = child.dataType.asInstanceOf[ArrayType].elementType

  private def quantized(a: ArrayData, i: Int): Long = {
    if (i >= a.numElements() || a.isNullAt(i)) return 0L
    val x = elem match {
      case FloatType => a.getFloat(i).toDouble
      case DoubleType => a.getDouble(i)
      case LongType => a.getLong(i).toDouble
      case IntegerType => a.getInt(i).toDouble
      case t => throw new IllegalArgumentException(s"unsupported element type $t")
    }
    val v = x * 65536.0
    if (v < 0) -math.round(-v) else math.round(v)
  }

  def compute(emb: ArrayData): ArrayData = {
    val m = codebooks.length
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      val book = codebooks(s)
      val base = s * subDim
      var best = 0
      var bestDist = Long.MaxValue
      var c = 0
      while (c < book.length) {
        val cent = book(c)
        var d = 0L
        var i = 0
        while (i < subDim) {
          val t = quantized(emb, base + i) - cent(i)
          d += t * t
          i += 1
        }
        if (d < bestDist) { bestDist = d; best = c }
        c += 1
      }
      out(s) = best
      s += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("pqCodes", this, classOf[PqCodes].getName)
      s"${ev.value} = $ref.compute($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): PqCodes =
    copy(child = newChild)
}

/** Deterministic Rademacher random projection: outDim integer components
  * proj[j] = Σ_i quant(x_i) · s(i, j), with signs s ∈ {+1, −1} derived
  * from a hash of (i, j) — no RNG, no shared state, so executors agree
  * and any engine can replay it. Johnson–Lindenstrauss with ±1 entries
  * (Achlioptas 2003, public result): inner products and norms are
  * preserved in expectation with variance 1/outDim, which is what makes
  * 64→32-dim reduction a sound pre-step for LSH/clustering at 100 TB —
  * half the bytes through every shuffle that follows.
  *
  * The sign hash is a 3-step multiply–xorshift chain over 32-bit values
  * (k·2654435761, then twice (h ⊕ h≫16)·C mod 2³²) — chosen because a
  * SQL oracle can replay it with every intermediate < 2⁶³ (no unsigned
  * wraparound needed), yet its sign rows decorrelate like true random
  * ±1 rows (measured: mean |row corr| 0.14 = the ideal-RNG value; the
  * raw Knuth top bit alone is a golden-rotation lattice whose rows can
  * be IDENTICAL — mean |corr| 0.49 — which visibly corrupted projected
  * cosines before mixing).
  *
  * Inputs are quantized to round-half-away(x·2¹⁶) integers first (same
  * grid as the k-means/PQ trainers), so components are exact int64 sums:
  * bit-reproducible cross-engine, oracle-checkable.
  */
case class SignProject(child: Expression, outDim: Int)
    extends UnaryExpression {

  require(outDim >= 1, "outDim must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "sign_project"

  @transient private lazy val elem = child.dataType.asInstanceOf[ArrayType].elementType

  private def quantized(a: ArrayData, i: Int): Long = {
    if (a.isNullAt(i)) return 0L
    val x = elem match {
      case FloatType => a.getFloat(i).toDouble
      case DoubleType => a.getDouble(i)
      case LongType => a.getLong(i).toDouble
      case IntegerType => a.getInt(i).toDouble
      case t => throw new IllegalArgumentException(s"unsupported element type $t")
    }
    val v = x * 65536.0
    if (v < 0) -math.round(-v) else math.round(v)
  }

  def compute(emb: ArrayData): ArrayData = {
    val n = emb.numElements()
    val qz = new Array[Long](n)
    var i = 0
    while (i < n) { qz(i) = quantized(emb, i); i += 1 }
    val out = new Array[Long](outDim)
    var j = 0
    while (j < outDim) {
      var acc = 0L
      i = 0
      while (i < n) {
        var h = ((i.toLong * outDim + j + 1) * 2654435761L) % 4294967296L
        h = ((h ^ (h >>> 16)) * 40503L) % 4294967296L
        h = ((h ^ (h >>> 16)) * 1566083941L) % 4294967296L
        acc += (if (h < 2147483648L) qz(i) else -qz(i))
        i += 1
      }
      out(j) = acc
      j += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("signProject", this, classOf[SignProject].getName)
      s"${ev.value} = $ref.compute($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): SignProject =
    copy(child = newChild)
}

/** PQ asymmetric-distance (ADC) score: Σ_s lut[s][codes[s]] — the scan
  * kernel of a PQ search. `left` is a row's code array (one int per
  * subspace), `right` the query's lookup table (per subspace, the
  * integer dot product of the quantized query slice with every codebook
  * entry). The corpus side touches only its m-byte-ish codes — the whole
  * point of PQ: the scan reads codes, never embeddings. Integer
  * accumulation keeps ranking exact on every engine. Out-of-range or
  * null codes contribute 0 (matching the other kernels' null → 0).
  */
case class PqAdc(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "pq_adc"

  def compute(codes: ArrayData, lut: ArrayData): Long = {
    val m = math.min(codes.numElements(), lut.numElements())
    var acc = 0L
    var s = 0
    while (s < m) {
      if (!codes.isNullAt(s) && !lut.isNullAt(s)) {
        val sub = lut.getArray(s)
        val c = codes.getInt(s)
        if (c >= 0 && c < sub.numElements() && !sub.isNullAt(c)) acc += sub.getLong(c)
      }
      s += 1
    }
    acc
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val ref = ctx.addReferenceObj("pqAdc", this, classOf[PqAdc].getName)
      s"${ev.value} = $ref.compute($a, $b);"
    })

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val okL = left.dataType match {
      case ArrayType(IntegerType, _) => true
      case _ => false
    }
    val okR = right.dataType match {
      case ArrayType(ArrayType(LongType, _), _) => true
      case _ => false
    }
    if (okL && okR)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs (array<int>, array<array<bigint>>), got ${left.dataType} / ${right.dataType}")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): PqAdc =
    copy(left = newLeft, right = newRight)
}

/** Residual-PQ encoder: codes quantize r = quant(x) − cc(assigned), the
  * list-relative residual, against per-subspace residual codebooks —
  * the code half of a true IVFPQ (coarse term + residual refinement).
  * `left` is the embedding, `right` the row's assigned coarse centroid
  * id (computed by NearestCentroids in the same plan); the coarse code
  * matrix rides along so the residual never materializes as a column.
  * Integer subtraction on the ×2¹⁶ grid is exact, so codes replay
  * bit-for-bit in SQL. Unknown centroid ids fall back to the zero
  * centroid (residual = the vector itself).
  */
case class ResidualPqCodes(left: Expression, right: Expression,
    coarseCodes: Array[Array[Long]], books: Array[Array[Array[Long]]])
    extends BinaryExpression {

  require(books.nonEmpty && books.forall(_.nonEmpty), "empty codebook")
  private val subDim = books(0)(0).length
  require(books.forall(_.forall(_.length == subDim)),
    "all codebook entries must share the subspace dimension")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "residual_pq_codes"

  @transient private lazy val elem = left.dataType.asInstanceOf[ArrayType].elementType

  private def quantized(a: ArrayData, i: Int): Long = {
    if (i >= a.numElements() || a.isNullAt(i)) return 0L
    val x = elem match {
      case FloatType => a.getFloat(i).toDouble
      case DoubleType => a.getDouble(i)
      case LongType => a.getLong(i).toDouble
      case IntegerType => a.getInt(i).toDouble
      case t => throw new IllegalArgumentException(s"unsupported element type $t")
    }
    val v = x * 65536.0
    if (v < 0) -math.round(-v) else math.round(v)
  }

  def compute(emb: ArrayData, cidAny: Any): ArrayData = {
    val cid = cidAny.asInstanceOf[Int]
    val cc: Array[Long] =
      if (cid >= 0 && cid < coarseCodes.length) coarseCodes(cid) else null
    val m = books.length
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      val book = books(s)
      val base = s * subDim
      var best = 0
      var bestDist = Long.MaxValue
      var c = 0
      while (c < book.length) {
        val cent = book(c)
        var d = 0L
        var i = 0
        while (i < subDim) {
          val ccv = if (cc != null && base + i < cc.length) cc(base + i) else 0L
          val t = quantized(emb, base + i) - ccv - cent(i)
          d += t * t
          i += 1
        }
        if (d < bestDist) { bestDist = d; best = c }
        c += 1
      }
      out(s) = best
      s += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val ref = ctx.addReferenceObj("residualPq", this, classOf[ResidualPqCodes].getName)
      s"${ev.value} = $ref.compute($a, (Object) $b);"
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): ResidualPqCodes =
    copy(left = newLeft, right = newRight)
}

object VectorExprs {
  import org.apache.spark.sql.graft.ColumnBridge

  /** MinHash signature over word n-gram shingles of `tokens`. */
  def minhashSig(tokens: Column, shingleN: Int, numHashes: Int): Column =
    ColumnBridge.column(MinHashSig(ColumnBridge.expression(tokens), shingleN, numHashes))

  /** LSH band buckets of a [[minhashSig]] signature column. */
  def minhashBands(sig: Column, bands: Int): Column =
    ColumnBridge.column(MinHashBands(ColumnBridge.expression(sig), bands))

  /** Exact integer dot product of two int-array columns (the ADC scan). */
  def intDot(a: Column, b: Column): Column =
    ColumnBridge.column(IntDotProduct(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Double dot product (the `aggregate(zip_with(…))` fusion kernel). */
  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def cosineSim(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSim(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Distinct word n-gram shingle strings of a token array. */
  def shingleArray(tokens: Column, n: Int): Column =
    ColumnBridge.column(Shingles(ColumnBridge.expression(tokens), n))

  /** Exact word `n`-gram shingle Jaccard of two token-array columns. */
  def shingleJaccard(a: Column, b: Column, n: Int): Column =
    ColumnBridge.column(ShingleJaccard(ColumnBridge.expression(a), ColumnBridge.expression(b), n))

  /** The k nearest centroid ids (cosine desc, ties by id) per vector. */
  def nearestCentroids(emb: Column, centroidIds: Array[Int],
                       centroids: Array[Array[Double]], k: Int): Column =
    ColumnBridge.column(NearestCentroids(ColumnBridge.expression(emb), centroidIds, centroids, k))

  /** Banded random-hyperplane LSH bucket values for a vector. */
  def hyperplaneBands(emb: Column, bitsPerBand: Int, bands: Int): Column =
    ColumnBridge.column(HyperplaneBands(ColumnBridge.expression(emb), bitsPerBand, bands))

  /** Per-subspace PQ code ids (integer L2 argmin, ties by code id). */
  def pqCodes(emb: Column, codebooks: Array[Array[Array[Long]]]): Column =
    ColumnBridge.column(PqCodes(ColumnBridge.expression(emb), codebooks))

  /** PQ ADC score: per-subspace LUT lookups summed in exact integers. */
  def pqAdc(codes: Column, lut: Column): Column =
    ColumnBridge.column(PqAdc(ColumnBridge.expression(codes), ColumnBridge.expression(lut)))

  /** Deterministic Rademacher projection to outDim integer components. */
  def signProject(emb: Column, outDim: Int): Column =
    ColumnBridge.column(SignProject(ColumnBridge.expression(emb), outDim))

  /** Residual-PQ code ids given the row's assigned coarse centroid. */
  def residualPqCodes(emb: Column, centroidId: Column,
                      coarseCodes: Array[Array[Long]],
                      books: Array[Array[Array[Long]]]): Column =
    ColumnBridge.column(ResidualPqCodes(
      ColumnBridge.expression(emb), ColumnBridge.expression(centroidId), coarseCodes, books))
}
