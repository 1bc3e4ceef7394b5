package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the hot loops the built-in
  * higher-order functions can't run fast: `aggregate`/`zip_with`/
  * `transform` are CodegenFallback AND interpret their lambda once per
  * element with boxing — a 64-dim dot product costs ~200 interpreted
  * Expression.eval calls per row-pair. These replace that with a tight
  * primitive loop (and whole-stage codegen for the dot product), which
  * is what makes brute-force cosine viable at bench scale and the LSH
  * signatures cheap at 100 TB.
  */
object VectorExpressions {

  /** dot(a, b) over array<double> OR array<float> (each side
    * independently) — whole-stage-codegen'd tight loop. Float elements
    * are widened to double BEFORE the multiply, which is EXACT (every
    * float is representable as a double), so `dot(f, g)` is
    * bit-identical to `dot(cast(f as array<double>), cast(g))` — the
    * r18 optimization that lets pair joins shuffle float32 embeddings
    * at half the row width with no Cast allocation and provably
    * unchanged results.
    */
  case class DotProduct(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "graft_dot"

    private def isFloat(e: Expression): Boolean = e.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val lf = isFloat(left)
      val rf = isFloat(right)
      val n = math.min(x.numElements(), y.numElements())
      var s = 0.0
      var i = 0
      while (i < n) {
        val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
        val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
        s += xv * yv
        i += 1
      }
      s
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val s = ctx.freshName("s")
        // the (double) casts keep the multiply in double even for two
        // float sides — float*float would round in float first and
        // break the cast-then-dot equivalence
        def get(arr: String, e: Expression) =
          if (isFloat(e)) s"((double) $arr.getFloat($i))"
          else s"$arr.getDouble($i)"
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $s = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  $s += ${get(a, left)} * ${get(b, right)};
           |}
           |${ev.value} = $s;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** The MinHash affine hash family h_j(x) = (a_j·x + b_j) mod p with
    * p = 2³¹−1 — ONE source of truth shared by the signature
    * expressions AND the DuckDB oracle SQL builders (which splice
    * a_j/b_j as literals): a constant derived twice would let the gate
    * verify against a stale family. Products stay < 2⁶² (a_j, x < p),
    * exact in BIGINT on both engines.
    */
  object MinHashFamily {
    val P = 2147483647L
    def a(j: Int): Long = Math.floorMod(0x9E3779B97F4A7C15L * (j + 1), P - 1) + 1
    def b(j: Int): Long = Math.floorMod(0xC2B2AE3D27D4EB4FL * (j + 7), P)
  }

  /** The engine-portable 52-bit base hash: the first 13 hex chars of
    * md5 parsed as an integer (< 2⁵²) — the q41 md5-threshold
    * discipline applied to signature hashing. DuckDB replays it as a
    * positional digit sum over substr(md5(x), i, 1); Spark's
    * xxhash64, by contrast, is not reproducible there (SURVEY §5.3).
    */
  private[graft] def md5Hash52(bytes: Array[Byte]): Long = {
    // the first 13 hex chars are the first 52 bits of the digest,
    // big-endian — assembled straight from the raw bytes (r18: the
    // md5Hex + substring + parseLong form allocated two strings per
    // gram in the portable-hash gates' hottest loop; a spec pins this
    // equal to the hex-parse form on random inputs)
    val d = org.apache.commons.codec.digest.DigestUtils.md5(bytes)
    ((d(0) & 0xffL) << 44) | ((d(1) & 0xffL) << 36) | ((d(2) & 0xffL) << 28) |
      ((d(3) & 0xffL) << 20) | ((d(4) & 0xffL) << 12) | ((d(5) & 0xffL) << 4) |
      ((d(6) & 0xf0L) >>> 4)
  }

  /** MinHash signature over an array<string> of shingles: one pass per
    * row computing all `numHashes` minima — O(shingles × hashes) tight
    * loop instead of `numHashes` interpreted array traversals. Hash
    * family: h_j(s) = (a_j · (xxh64(s) mod p) + b_j) mod p, p = 2³¹−1
    * (identical to graft.ext.Dedup.minhashSignature's definition).
    */
  case class MinHashSig(child: Expression, numHashes: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    // returns NULL for empty shingle arrays even when the child is
    // non-nullable — without this override the planner would fold an
    // isNotNull filter on the result to true
    override def nullable: Boolean = true
    override def prettyName: String = "graft_minhash"

    private val P = MinHashFamily.P
    private val as = Array.tabulate(numHashes)(MinHashFamily.a)
    private val bs = Array.tabulate(numHashes)(MinHashFamily.b)

    override def nullSafeEval(v: Any): Any = {
      val arr = v.asInstanceOf[ArrayData]
      val n = arr.numElements()
      if (n == 0) return null // see MinHashNgramSig: no sentinel collisions
      val mins = Array.fill(numHashes)(Long.MaxValue)
      var i = 0
      while (i < n) {
        val s = arr.getUTF8String(i)
        val h = Math.floorMod(xxh64(s), P)
        var j = 0
        while (j < numHashes) {
          val hv = Math.floorMod(as(j) * h + bs(j), P)
          if (hv < mins(j)) mins(j) = hv
          j += 1
        }
        i += 1
      }
      ArrayData.toArrayData(mins)
    }

    private def xxh64(s: UTF8String): Long =
      org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        s, StringType, 42L)

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** MinHash signature over word n-grams, built from a token array in
    * one pass: for each window of n tokens, hash the space-joined gram
    * and update all `numHashes` minima. Duplicated grams can't change a
    * minimum, so no distinct step is needed — this fuses what would be
    * tokens→transform(slice+concat_ws)→array_distinct→minhash (four
    * interpreted array traversals) into a single tight loop.
    *
    * `portableHash` selects the base hash under the affine family:
    * false → xxh64(seed 42) mod p, the fast production default; true →
    * the md5-13-hex [[md5Hash52]] mod p, bit-replayable by the DuckDB
    * oracle — the flavor every hash GATE runs (SURVEY §5.3). The two
    * flavors are independent draws of the same MinHash estimator; a
    * parity spec pins their pair sets equal on gate data.
    */
  case class MinHashNgramSig(child: Expression, n: Int, numHashes: Int,
      portableHash: Boolean = false)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = true // NULL when fewer than n tokens
    override def prettyName: String = "graft_minhash_ngram"

    private val P = MinHashFamily.P
    private val as = Array.tabulate(numHashes)(MinHashFamily.a)
    private val bs = Array.tabulate(numHashes)(MinHashFamily.b)
    private val space = UTF8String.fromString(" ")

    override def nullSafeEval(v: Any): Any = {
      val toks = v.asInstanceOf[ArrayData]
      val nToks = toks.numElements()
      // No grams → NULL, not a sentinel signature: [Long.MaxValue × k]
      // would be IDENTICAL for every short/empty doc, making all of
      // them collide in every LSH band as certain "duplicates".
      if (nToks < n) return null
      val mins = Array.fill(numHashes)(Long.MaxValue)
      var i = 0
      while (i <= nToks - n) {
        val parts = new Array[UTF8String](n)
        var w = 0
        while (w < n) { parts(w) = toks.getUTF8String(i + w); w += 1 }
        val gram = UTF8String.concatWs(space, parts: _*)
        val h =
          if (portableHash) Math.floorMod(md5Hash52(gram.getBytes), P)
          else Math.floorMod(
            org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
              gram, StringType, 42L), P)
        var j = 0
        while (j < numHashes) {
          val hv = Math.floorMod(as(j) * h + bs(j), P)
          if (hv < mins(j)) mins(j) = hv
          j += 1
        }
        i += 1
      }
      ArrayData.toArrayData(mins)
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** 64-bit SimHash over a token array: per bit, majority vote of the
    * tokens' xxh64 bits (multiset semantics — each occurrence votes).
    * One pass per row; replaces an explode + 64-conditional-sum groupBy
    * (a full shuffle of every token) with a narrow map.
    *
    * `portableHash` = true switches to the oracle-replayable flavor:
    * votes come from the 52 bits of [[md5Hash52]] (signature width
    * [[SimHash64.portableBits]]), and a token-less doc returns NULL
    * instead of the all-zero signature — an empty doc carries no
    * similarity evidence, and a shared zero signature would make every
    * empty doc a certain "duplicate" of every other (the
    * MinHashNgramSig sentinel rationale).
    */
  case class SimHash64(child: Expression, portableHash: Boolean = false)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def nullable: Boolean = true // portable flavor: NULL on no tokens
    override def prettyName: String = "graft_simhash"
    private val bits = if (portableHash) SimHash64.portableBits else 64

    override def nullSafeEval(v: Any): Any = {
      val toks = v.asInstanceOf[ArrayData]
      val counts = new Array[Int](bits)
      val n = toks.numElements()
      if (portableHash && n == 0) return null
      var i = 0
      while (i < n) {
        val h =
          if (portableHash) md5Hash52(toks.getUTF8String(i).getBytes)
          else org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
            toks.getUTF8String(i), StringType, 42L)
        var b = 0
        while (b < bits) {
          if (((h >>> b) & 1L) != 0) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
        i += 1
      }
      var sig = 0L
      var b = 0
      while (b < bits) { if (counts(b) > 0) sig |= (1L << b); b += 1 }
      sig
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  object SimHash64 {
    /** Width of the portable signature: 13 md5 hex chars = 52 bits —
      * the widest integer the oracle can rebuild digit-by-digit in
      * exact BIGINT arithmetic. Splits evenly into 4 pigeonhole blocks
      * of 13 bits for the candidate join.
      */
    val portableBits = 52
  }

  /** Random-hyperplane LSH signature over array<double>: bit i of the
    * result = sign(v · plane_{i+planeOffset}), planes derived
    * deterministically from (bit index, dim) via a splitmix64 mix. One
    * O(dim × bits) loop per row. `planeOffset` selects an independent
    * plane family, so callers can stack k signatures into a k×64-bit
    * sketch (offset = k*64) when banding needs more than 64 bits.
    * Whole-stage-codegen'd: banded callers evaluate dozens of these per
    * row (one per band), so interpreted dispatch would dominate the
    * tight dot-product loops.
    */
  case class HyperplaneSig(child: Expression, dim: Int, bits: Int, planeOffset: Int = 0)
      extends UnaryExpression {
    require(dim > 0 && bits > 0 && bits <= 64,
      s"graft_hyperplane_sig: need dim > 0 and 0 < bits <= 64, got dim=$dim bits=$bits")
    // offset must start a fresh plane family: a partial overlap (e.g.
    // offset=32 with bits=64) would silently reuse planes and produce
    // correlated signatures across "independent" families
    require(planeOffset >= 0 && planeOffset % bits == 0,
      s"graft_hyperplane_sig: planeOffset must be a non-negative multiple of bits, got offset=$planeOffset bits=$bits")
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_hyperplane_sig"

    private val planes: Array[Array[Double]] = Array.tabulate(bits) { i0 =>
      val i = i0 + planeOffset
      Array.tabulate(dim) { d =>
        var z = (i.toLong * 0x9E3779B97F4A7C15L) + (d.toLong * 0xBF58476D1CE4E5B9L) + 0x94D049BB133111EBL
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        z = z ^ (z >>> 31)
        z.toDouble / Long.MaxValue.toDouble
      }
    }

    override def nullSafeEval(v: Any): Any = {
      val arr = v.asInstanceOf[ArrayData]
      val n = math.min(arr.numElements(), dim)
      var sig = 0L
      var i = 0
      while (i < bits) {
        val plane = planes(i)
        var d = 0.0
        var j = 0
        while (j < n) { d += arr.getDouble(j) * plane(j); j += 1 }
        if (d > 0) sig |= (1L << i)
        i += 1
      }
      sig
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, arr => {
        val planesRef = ctx.addReferenceObj("planes", planes, "double[][]")
        val n = ctx.freshName("n")
        val sig = ctx.freshName("sig")
        val i = ctx.freshName("i")
        val j = ctx.freshName("j")
        val d = ctx.freshName("d")
        val plane = ctx.freshName("plane")
        s"""
           |int $n = java.lang.Math.min($arr.numElements(), $dim);
           |long $sig = 0L;
           |for (int $i = 0; $i < $bits; $i++) {
           |  double[] $plane = $planesRef[$i];
           |  double $d = 0.0;
           |  for (int $j = 0; $j < $n; $j++) {
           |    $d += $arr.getDouble($j) * $plane[$j];
           |  }
           |  if ($d > 0) $sig |= (1L << $i);
           |}
           |${ev.value} = $sig;
         """.stripMargin
      })

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** All `bands` LSH band keys in ONE pass: band b's key is the
    * `rowsPerBand`-bit signature over planes [b·r, (b+1)·r) — bit-
    * identical to `bands` separate `HyperplaneSig(_, dim, r, b*r)`
    * calls (the unit spec asserts this), but evaluated as a single
    * expression. Banded callers previously built an array of dozens of
    * independent signature expressions; under whole-stage codegen that
    * inlined dozens of dot-product loops into one oversized generated
    * method (past the JIT's huge-method limit → interpreted bytecode).
    * One expression, one tight loop, one dispatch per row.
    */
  case class HyperplaneBandKeys(child: Expression, dim: Int, rowsPerBand: Int, bands: Int)
      extends UnaryExpression with CodegenFallback {
    require(dim > 0 && rowsPerBand > 0 && rowsPerBand <= 64 && bands > 0,
      s"graft_hyperplane_band_keys: need dim > 0, 0 < rowsPerBand <= 64, bands > 0; " +
        s"got dim=$dim rowsPerBand=$rowsPerBand bands=$bands")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_hyperplane_band_keys"

    private val totalBits = rowsPerBand * bands
    // plane i here == plane (i) of HyperplaneSig(bits=r, offset=b*r)
    // for b = i/r — same splitmix64 derivation, same global indices
    private val planes: Array[Array[Double]] = Array.tabulate(totalBits) { i =>
      Array.tabulate(dim) { d =>
        var z = (i.toLong * 0x9E3779B97F4A7C15L) + (d.toLong * 0xBF58476D1CE4E5B9L) + 0x94D049BB133111EBL
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        z = z ^ (z >>> 31)
        z.toDouble / Long.MaxValue.toDouble
      }
    }

    override def nullSafeEval(v: Any): Any = {
      val arr = v.asInstanceOf[ArrayData]
      val n = math.min(arr.numElements(), dim)
      val keys = new Array[Long](bands)
      var i = 0
      while (i < totalBits) {
        val plane = planes(i)
        var d = 0.0
        var j = 0
        while (j < n) { d += arr.getDouble(j) * plane(j); j += 1 }
        if (d > 0) keys(i / rowsPerBand) |= (1L << (i % rowsPerBand))
        i += 1
      }
      ArrayData.toArrayData(keys)
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Product-quantization encode (Jégou/Douze/Schmid, TPAMI 2011):
    * split the vector into m subvectors of dsub dims; per subspace,
    * emit the index of the nearest codebook centroid (squared
    * Euclidean). Output is m bytes — a 16-32× compression of a
    * float32 embedding, which is what makes billion-vector ANN fit in
    * memory. One fused pass per row.
    */
  case class PqEncode(child: Expression, codebooks: Array[Array[Array[Double]]])
      extends UnaryExpression with CodegenFallback {
    private val m = codebooks.length
    private val ksub = codebooks(0).length
    private val dsub = codebooks(0)(0).length
    require(m > 0 && ksub > 1 && ksub <= 256,
      s"graft_pq_encode: need 1 < ksub <= 256 (byte codes), got m=$m ksub=$ksub")
    override def dataType: DataType = BinaryType
    override def prettyName: String = "graft_pq_encode"

    override def nullSafeEval(v: Any): Any = {
      val arr = v.asInstanceOf[ArrayData]
      val codes = new Array[Byte](m)
      var sub = 0
      while (sub < m) {
        val base = sub * dsub
        val cb = codebooks(sub)
        var bestK = 0
        var bestD = Double.MaxValue
        var k = 0
        while (k < ksub) {
          val c = cb(k)
          var d = 0.0
          var j = 0
          while (j < dsub) {
            val diff = arr.getDouble(base + j) - c(j)
            d += diff * diff
            j += 1
          }
          if (d < bestD) { bestD = d; bestK = k }
          k += 1
        }
        codes(sub) = bestK.toByte
        sub += 1
      }
      codes
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** ADC (asymmetric distance computation) table for one query:
    * flattened m×ksub array where entry (sub, k) = dot(q_sub,
    * centroid_k of subspace sub). Computed ONCE per query row; scoring
    * a candidate then costs m table lookups instead of dim multiplies.
    */
  case class PqAdcTable(child: Expression, codebooks: Array[Array[Array[Double]]])
      extends UnaryExpression with CodegenFallback {
    private val m = codebooks.length
    private val ksub = codebooks(0).length
    private val dsub = codebooks(0)(0).length
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def prettyName: String = "graft_pq_adc_table"

    override def nullSafeEval(v: Any): Any = {
      val arr = v.asInstanceOf[ArrayData]
      val table = new Array[Double](m * ksub)
      var sub = 0
      while (sub < m) {
        val base = sub * dsub
        val cb = codebooks(sub)
        var k = 0
        while (k < ksub) {
          val c = cb(k)
          var d = 0.0
          var j = 0
          while (j < dsub) { d += arr.getDouble(base + j) * c(j); j += 1 }
          table(sub * ksub + k) = d
          k += 1
        }
        sub += 1
      }
      ArrayData.toArrayData(table)
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** ADC approximate dot product: sum over subspaces of
    * table[sub·ksub + code[sub]] ≈ dot(query, vector). The candidate
    * side never touches its original floats — m byte lookups per pair.
    */
  case class PqAdcDot(left: Expression, right: Expression, ksub: Int)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "graft_pq_adc_dot"

    // left = codes (binary), right = adc table (array<double>)
    override def nullSafeEval(codesAny: Any, tableAny: Any): Any = {
      val codes = codesAny.asInstanceOf[Array[Byte]]
      val table = tableAny.asInstanceOf[ArrayData]
      var s = 0.0
      var sub = 0
      while (sub < codes.length) {
        s += table.getDouble(sub * ksub + (codes(sub) & 0xFF))
        sub += 1
      }
      s
    }

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }


  /** Word-n-gram repetition stats from a token array in ONE pass:
    * struct(n_ngrams, n_distinct). Replaces the HOF chain
    * sequence → transform(concat_ws) → array_distinct — three
    * interpreted array traversals per row, each lambda step an
    * interpreted Expression.eval — with a single windowed loop over a
    * hash set. Distinct is EXACT (UTF8String equality, no hashing
    * shortcut): the q73 oracle compares counts bit-for-bit.
    */
  case class NgramStats(child: Expression, n: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StructType(Seq(
      StructField("n_ngrams", LongType, nullable = false),
      StructField("n_distinct", LongType, nullable = false)))
    override def prettyName: String = "graft_ngram_stats"
    private val space = UTF8String.fromString(" ")

    override def nullSafeEval(v: Any): Any = {
      val toks = v.asInstanceOf[ArrayData]
      val windows = math.max(0, toks.numElements() - n + 1)
      if (windows == 0) return InternalRow(0L, 0L)
      val seen = new java.util.HashSet[UTF8String](windows * 2)
      var i = 0
      while (i < windows) {
        val parts = new Array[UTF8String](n)
        var w = 0
        while (w < n) { parts(w) = toks.getUTF8String(i + w); w += 1 }
        seen.add(UTF8String.concatWs(space, parts: _*))
        i += 1
      }
      InternalRow(windows.toLong, seen.size.toLong)
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Distinct md5 fingerprints of word n-grams from a token array in
    * one pass, first-occurrence order, over at most `maxTokens` tokens
    * (the per-row bound that keeps an outlier document from building a
    * GB-sized gram array). Emits the RAW 16-byte digest (BinaryType),
    * not the 32-char hex string: the fingerprints exist only to be
    * shuffled, distinct-ed, and equi-joined, and the binary form
    * halves every one of those exchanges' key bytes — measured −29%
    * on the contamination tier's dominant train-side distinct at 256×
    * sf0.1 (SCALE.md). hex(digest) is bijective with md5Hex, so
    * distinct counts and join hit-sets are bit-identical to the hex
    * flavor and every count-valued oracle (which replays its own md5
    * strings in DuckDB) is unaffected. Same commons-codec digest
    * Spark's own `md5` uses, so hex-ing a fingerprint recovers the
    * portable oracle form exactly. Fuses slice → sequence →
    * transform(concat_ws) → transform(md5) → array_distinct into one
    * loop.
    */
  case class NgramMd5Fingerprints(child: Expression, n: Int, maxTokens: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(BinaryType, containsNull = false)
    override def prettyName: String = "graft_ngram_md5"
    private val space = UTF8String.fromString(" ")

    override def nullSafeEval(v: Any): Any = {
      val toks = v.asInstanceOf[ArrayData]
      val nToks = math.min(toks.numElements(), maxTokens)
      val windows = math.max(0, nToks - n + 1)
      // ByteBuffer wrapper: byte[] hashes by reference, the buffer by
      // content — dedup must be by digest value
      val seen = new java.util.LinkedHashSet[java.nio.ByteBuffer]
      var i = 0
      while (i < windows) {
        val parts = new Array[UTF8String](n)
        var w = 0
        while (w < n) { parts(w) = toks.getUTF8String(i + w); w += 1 }
        val gram = UTF8String.concatWs(space, parts: _*)
        seen.add(java.nio.ByteBuffer.wrap(
          org.apache.commons.codec.digest.DigestUtils.md5(gram.getBytes)))
        i += 1
      }
      val out = new Array[Any](seen.size)
      val it = seen.iterator()
      var j = 0
      while (it.hasNext) { out(j) = it.next().array(); j += 1 }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** POSITIONAL md5 fingerprints of word n-grams from a token array
    * in one pass: array<struct<pos:int, g:binary>> with 1-based
    * positions, one entry per window — the [[NgramMd5Fingerprints]]
    * sibling for the span-dedup family (scrub / maximal spans /
    * contamination rewrite), which needs WHERE each gram sits, not
    * just the distinct set. Replaces the interpreted HOF chain
    * sequence → transform(struct(pos, unhex(md5(concat_ws(slice)))))
    * — per window: a slice allocation, a concat, an md5-to-HEX
    * string, and an unhex BACK to bytes, every step an interpreted
    * Expression.eval — with a single loop that feeds token bytes
    * straight into a reused MessageDigest (no hex round-trip, no
    * slice array, no concatenated string). hex(digest) equals
    * Spark's `md5(concat_ws(" ", slice(...)))` on every window
    * (same commons-codec digest definition; VectorExpressionsSpec
    * pins array-for-array equality against the HOF chain), so every
    * count- and span-valued oracle that replays md5 strings in
    * DuckDB is unaffected.
    */
  case class PositionalNgramMd5(child: Expression, n: Int)
      extends UnaryExpression with CodegenFallback {
    require(n >= 1, s"PositionalNgramMd5: need n >= 1, got $n")
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("pos", IntegerType, nullable = false),
      StructField("g", BinaryType, nullable = false))), containsNull = false)
    override def prettyName: String = "graft_positional_ngram_md5"

    override def nullSafeEval(v: Any): Any = {
      val toks = v.asInstanceOf[ArrayData]
      val windows = math.max(0, toks.numElements() - n + 1)
      val md = PositionalNgramMd5.digests.get()
      val out = new Array[Any](windows)
      var i = 0
      while (i < windows) {
        md.reset()
        // concat_ws semantics: a null token is skipped along with its
        // separator (an all-null window digests the empty string)
        var joined = false
        var w = 0
        while (w < n) {
          if (!toks.isNullAt(i + w)) {
            if (joined) md.update(' '.toByte)
            md.update(toks.getUTF8String(i + w).getBytes)
            joined = true
          }
          w += 1
        }
        out(i) = InternalRow(i + 1, md.digest())
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  object PositionalNgramMd5 {
    // one digest per thread, reset per window: expression instances are
    // shared across concurrently-running tasks in local mode, and
    // DigestUtils.md5 would allocate a fresh MessageDigest per window
    private val digests = new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }
  }

  /** Per-term occurrence counts of a CONSTANT term list over a token
    * array in ONE pass — the q73 fused-expression discipline applied to
    * the BM25 tf stage: k `filter(toks, x -> x = t)` HOF calls evaluate
    * interpreted and traverse the array k times; this hashes each token
    * once against the term index. Output slot i is the count of
    * terms(i).
    */
  case class TermCounts(child: Expression, terms: Seq[String])
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_term_counts"
    @transient private lazy val index: java.util.HashMap[UTF8String, Integer] = {
      val m = new java.util.HashMap[UTF8String, Integer](terms.size * 2)
      terms.zipWithIndex.foreach { case (t, i) =>
        m.put(UTF8String.fromString(t), Integer.valueOf(i))
      }
      m
    }

    override def nullSafeEval(v: Any): Any = {
      val toks = v.asInstanceOf[ArrayData]
      val counts = new Array[Long](terms.size)
      val n = toks.numElements()
      var i = 0
      while (i < n) {
        val idx = index.get(toks.getUTF8String(i))
        if (idx != null) counts(idx.intValue) += 1L
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(counts)
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Unicode normalization (NFC/NFKC/NFD/NFKD) as a whole-stage-
    * codegen expression over `java.text.Normalizer` — the first text
    * operator of any multilingual corpus pipeline: the same word
    * arrives precomposed (é = U+00E9) from one site and decomposed
    * (e + U+0301) from another, and every downstream exact operator
    * (fingerprints, gram hashing, dedup, token counts) silently
    * splits identity on the byte difference unless the corpus is
    * folded to one form first. NFC is the web's canonical form (and
    * what W3C mandates for comparison); NFKC additionally folds
    * compatibility variants (fullwidth ASCII, ligatures) and is what
    * BPE-style tokenizers normalize with. No Spark built-in exposes
    * this; the JRE implementation is allocation-free on
    * already-normalized input via the `isNormalized` fast path —
    * which is ~all real text, so the common case costs one scan and
    * ZERO copies (the input UTF8String passes straight through).
    */
  case class UnicodeNormalize(child: Expression, form: String)
      extends UnaryExpression {
    require(Seq("NFC", "NFKC", "NFD", "NFKD").contains(form),
      s"UnicodeNormalize: unknown form $form")
    @transient private lazy val javaForm = java.text.Normalizer.Form.valueOf(form)
    override def dataType: DataType = StringType
    override def prettyName: String = "graft_unicode_normalize"

    override def nullSafeEval(v: Any): Any = {
      val u = v.asInstanceOf[UTF8String]
      val s = u.toString
      if (java.text.Normalizer.isNormalized(s, javaForm)) u
      else UTF8String.fromString(java.text.Normalizer.normalize(s, javaForm))
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, in => {
        val formRef = ctx.addReferenceObj("form", javaForm,
          "java.text.Normalizer.Form")
        val s = ctx.freshName("s")
        s"""
           |java.lang.String $s = $in.toString();
           |if (java.text.Normalizer.isNormalized($s, $formRef)) {
           |  ${ev.value} = $in;
           |} else {
           |  ${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
           |    java.text.Normalizer.normalize($s, $formRef));
           |}
         """.stripMargin
      })

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  // ------------------------------------------------- Column wrappers

  def dot(a: Column, b: Column): Column =
    Bridge.column(DotProduct(
      Bridge.expression(a), Bridge.expression(b)))

  def minhashSig(shingles: Column, numHashes: Int): Column =
    Bridge.column(MinHashSig(Bridge.expression(shingles), numHashes))

  def minhashNgramSig(tokens: Column, n: Int, numHashes: Int,
      portableHash: Boolean = false): Column =
    Bridge.column(MinHashNgramSig(Bridge.expression(tokens), n, numHashes,
      portableHash))

  def simhash64(tokens: Column, portableHash: Boolean = false): Column =
    Bridge.column(SimHash64(Bridge.expression(tokens), portableHash))

  def ngramStats(tokens: Column, n: Int): Column =
    Bridge.column(NgramStats(Bridge.expression(tokens), n))

  def ngramMd5Fingerprints(tokens: Column, n: Int, maxTokens: Int): Column =
    Bridge.column(NgramMd5Fingerprints(Bridge.expression(tokens), n, maxTokens))

  def positionalNgramMd5(tokens: Column, n: Int): Column =
    Bridge.column(PositionalNgramMd5(Bridge.expression(tokens), n))

  def termCounts(tokens: Column, terms: Seq[String]): Column =
    Bridge.column(TermCounts(Bridge.expression(tokens), terms))

  def hyperplaneSig(emb: Column, dim: Int, bits: Int): Column =
    Bridge.column(HyperplaneSig(Bridge.expression(emb), dim, bits))

  def hyperplaneSig(emb: Column, dim: Int, bits: Int, planeOffset: Int): Column =
    Bridge.column(HyperplaneSig(Bridge.expression(emb), dim, bits, planeOffset))

  def hyperplaneBandKeys(emb: Column, dim: Int, rowsPerBand: Int, bands: Int): Column =
    Bridge.column(HyperplaneBandKeys(Bridge.expression(emb), dim, rowsPerBand, bands))


  def pqEncode(emb: Column, codebooks: Array[Array[Array[Double]]]): Column =
    Bridge.column(PqEncode(Bridge.expression(emb), codebooks))

  def pqAdcTable(emb: Column, codebooks: Array[Array[Array[Double]]]): Column =
    Bridge.column(PqAdcTable(Bridge.expression(emb), codebooks))

  def pqAdcDot(codes: Column, table: Column, ksub: Int): Column =
    Bridge.column(PqAdcDot(Bridge.expression(codes), Bridge.expression(table), ksub))

  def unicodeNormalize(text: Column, form: String = "NFC"): Column =
    Bridge.column(UnicodeNormalize(Bridge.expression(text), form))
}
