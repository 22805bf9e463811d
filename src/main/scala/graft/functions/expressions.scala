package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, ImplicitCastInputTypes, Literal, QuaternaryExpression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the similarity / dedup hot paths.
  *
  * Higher-order functions (`transform`/`aggregate`/`zip_with`) are
  * interpreted per element — fine for narrow enrichment, but a cosine
  * or set-intersection evaluated per *candidate pair* inside a join
  * pays ~µs-per-element interpreter overhead, which dominates at LSH
  * scale. These expressions run the whole kernel as one tight JVM
  * loop per call; [[CosineSimilarity]] additionally participates in
  * whole-stage codegen via doGenCode.
  *
  * Registered as SQL functions by [[graft.GraftExtensions]]
  * (SparkSessionExtensions), callable from the DataFrame API with
  * `call_function("graft_cosine_sim", a, b)`.
  */
object expressions // scaladoc anchor

/** cosine(a, b) over double arrays (float arrays arrive via implicit
  * upcast), computed in one pass: dot, |a|², |b|². Deterministic
  * left-to-right accumulation — matches a sequential fold exactly. */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    CosineSimilarity.compute(x, y)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.CosineSimilarity.compute($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object CosineSimilarity {
  /** Shared by interpreted eval and generated code. */
  def compute(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i)
      val yi = y.getDouble(i)
      dot += xi * yi
      na += xi * xi
      nb += yi * yi
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }
}

/** jaccard(a, b) of two string arrays treated as sets. */
case class JaccardSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes with CodegenFallback {

  override def inputTypes =
    Seq(ArrayType(StringType), ArrayType(StringType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_jaccard"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val sa = new java.util.HashSet[UTF8String]()
    var i = 0
    while (i < x.numElements()) { sa.add(x.getUTF8String(i)); i += 1 }
    val sb = new java.util.HashSet[UTF8String]()
    var inter = 0
    i = 0
    while (i < y.numElements()) {
      val s = y.getUTF8String(i)
      if (sb.add(s) && sa.contains(s)) inter += 1
      i += 1
    }
    val union = sa.size + sb.size - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** minhash_sig(hashed_shingles, numHashes): signature[j] = unsigned
  * min over the 64-bit shingle hashes x of the multiply-add
  * permutation `permA(j)·x + permB(j) mod 2^64` ([[GHash]]). Operates
  * on the [[HashShingles]] representation so shingle strings are
  * hashed once per document and never re-touched; one native pass per
  * hash function. Each permutation is a true bijection of Z_2^64
  * (odd multiplier), and the whole computation is replayable in
  * HUGEINT SQL — which is what flips the MinHash operators from
  * rows-only to hash-checked in the oracle. Empty input → all
  * elements [[GHash.EmptySigElement]] (unsigned max). */
case class MinHashSignature(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes =
    Seq(ArrayType(LongType), IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_sig"

  override def nullSafeEval(a: Any, n: Any): Any =
    MinHashSignature.compute(a.asInstanceOf[ArrayData], n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, n) =>
      s"${ev.value} = graft.functions.MinHashSignature.compute($a, $n);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object MinHashSignature {
  /** Shared by interpreted eval and generated code. */
  def compute(arr: ArrayData, numHashes: Int): ArrayData = {
    val sig = new Array[Long](numHashes)
    var j = 0
    while (j < numHashes) {
      val pa = GHash.permA(j)
      val pb = GHash.permB(j)
      var best = GHash.EmptySigElement // unsigned max
      var i = 0
      while (i < arr.numElements()) {
        val v = pa * arr.getLong(i) + pb
        if (java.lang.Long.compareUnsigned(v, best) < 0) best = v
        i += 1
      }
      sig(j) = best
      j += 1
    }
    new GenericArrayData(sig)
  }
}

/** simhash_bits(tokens, nBits): classic SimHash — one 64-bit token
  * hash `gmix64(fnv1a(token))` ([[GHash]], oracle-replayable); bit b
  * of the hash votes ±1 into counter b; sign of the counter is the
  * output bit. nBits is capped at 64 (the token hash width) and
  * enforced — a wider request would silently reuse bits 0..63 via the
  * wrapping shift. */
case class SimHashBits(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes =
    Seq(ArrayType(StringType), IntegerType)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_simhash_bits"

  override def nullSafeEval(a: Any, n: Any): Any =
    SimHashBits.compute(a.asInstanceOf[ArrayData], n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, n) =>
      s"${ev.value} = graft.functions.SimHashBits.compute($a, $n);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object SimHashBits {
  /** Shared by interpreted eval and generated code. */
  def compute(arr: ArrayData, nBits: Int): ArrayData = {
    val counters = SimHashCore.voteCounters(arr, nBits)
    val bits = new Array[Int](nBits)
    var b = 0
    while (b < nBits) { bits(b) = if (counters(b) > 0) 1 else 0; b += 1 }
    new GenericArrayData(bits)
  }
}

/** The per-token SimHash voting loop shared by [[SimHashBits]] and
  * [[SimHash64]] — one place to change the hashing scheme so the
  * array and packed signatures can never fall out of agreement.
  *
  * Token hash = gmix64(fnv1a(token)) ([[GHash]]): the FNV fold and
  * the xorshift-multiply finalizer are both exact HUGEINT SQL, so
  * SimHash signatures are oracle-replayable bit-for-bit. */
object SimHashCore {
  /** FNV-1a 64 over a UTF8String's bytes without copying — identical
    * to [[GHash.fnv1a]] on the string's UTF-8 encoding. */
  def fnv1aUtf8(s: UTF8String): Long = {
    var h = GHash.FnvOffset
    var i = 0
    val n = s.numBytes()
    while (i < n) {
      h = (h ^ (s.getByte(i) & 0xFF)) * GHash.FnvPrime
      i += 1
    }
    h
  }

  def voteCounters(arr: ArrayData, nBits: Int): Array[Int] = {
    // th >>> b wraps the shift count mod 64: beyond 64 bits the votes
    // would silently duplicate bits 0..63
    require(nBits >= 1 && nBits <= 64, s"nBits must be in [1, 64], got $nBits")
    val counters = new Array[Int](nBits)
    var i = 0
    while (i < arr.numElements()) {
      val th = GHash.gmix64(fnv1aUtf8(arr.getUTF8String(i)))
      var b = 0
      while (b < nBits) {
        if (((th >>> b) & 1L) == 1L) counters(b) += 1 else counters(b) -= 1
        b += 1
      }
      i += 1
    }
    counters
  }
}

/** simhash64(tokens): 64-bit SimHash packed into one BIGINT — the
  * same voting scheme as [[SimHashBits]] (gmix64(fnv1a(token)) bit
  * votes via [[SimHashCore]], bit b of the output = sign of counter b)
  * but emitting a single long. One scalar per doc: band extraction
  * downstream is a
  * shift+mask, hamming distance is `bit_count(a ^ b)` — both
  * codegen'd built-ins — and the column is sortable/hashable by any
  * external comparator (an array<int> signature is not). */
case class SimHash64(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash64"

  override def nullSafeEval(a: Any): Any =
    SimHash64.compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.SimHash64.compute($a);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object SimHash64 {
  /** Shared by interpreted eval and generated code. */
  def compute(arr: ArrayData): Long = {
    val counters = SimHashCore.voteCounters(arr, 64)
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (counters(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }
}

/** token_hash(s) → gmix64(fnv1a(s)): the scalar form of the per-token
  * hash every signature family already uses ([[SimHashCore]] /
  * [[GHash]]) — exposed so bounded-state sketch operators
  * ([[graft.text.Sketches]]) hash EXPLODED token streams with the
  * same SQL-replayable chain the array expressions use internally. */
case class TokenHash64(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_token_hash"

  override def nullSafeEval(s: Any): Any =
    TokenHash64.compute(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.TokenHash64.compute($s);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object TokenHash64 {
  /** Shared by interpreted eval and generated code. */
  def compute(s: UTF8String): Long =
    GHash.gmix64(SimHashCore.fnv1aUtf8(s))
}

/** hash_shingles(arr<string>) → sorted distinct arr<long> (FNV-1a 64
  * over UTF-8 bytes — [[GHash.fnv1a]], SQL-replayable). Hashing once
  * per *document* turns the per-*pair* join payload from ~5 KB of
  * string arrays into packed longs, and lets jaccard run as a merge
  * over sorted arrays with zero allocation — the difference between
  * 360 µs and ~3 µs per candidate pair. 64-bit hashes make
  * within-pair collisions (~1e-15) irrelevant. */
case class HashShingles(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_hash_shingles"

  override def nullSafeEval(a: Any): Any =
    HashShingles.compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.HashShingles.compute($a);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object HashShingles {
  /** Shared by interpreted eval and generated code. */
  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) {
      hs(i) = SimHashCore.fnv1aUtf8(arr.getUTF8String(i))
      i += 1
    }
    java.util.Arrays.sort(hs)
    // in-place dedup of the sorted array
    var w = 0
    i = 0
    while (i < n) {
      if (i == 0 || hs(i) != hs(i - 1)) { hs(w) = hs(i); w += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(hs, w))
  }
}

/** Sorted distinct 64-bit hash array packed to a 32-bit binary set:
  * each hash truncated to its low 32 bits, re-deduped, re-sorted, and
  * laid out as 4 big-endian bytes per element with NO per-element
  * encoding overhead — the storage form of the streaming verify
  * gate's shingle store (StreamingIngest), measured at 2.7× corpus
  * bytes in its raw `array<long>` form. Truncation moves the
  * hash-collision probability from 2^-64 to 2^-32: for ~200-shingle
  * documents a cross-document pair gains a spurious intersection
  * element with probability ~|A|·|B|/2^32 ≈ 1e-5 — far below the
  * near-dup thresholds the gate verifies at (its effect on a jaccard
  * near 0.9 is ±1/|A∪B|), and BOTH gate sides are packed through this
  * same kernel so the two engines compare identical 32-bit sets. */
case class PackHashes32(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(ArrayType(LongType))
  override def dataType: DataType = BinaryType
  override def prettyName: String = "graft_pack_hashes32"

  override def nullSafeEval(a: Any): Any =
    PackHashes32.compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.PackHashes32.compute($a);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object PackHashes32 {
  /** Shared by interpreted eval and generated code. */
  def compute(arr: ArrayData): Array[Byte] = {
    val n = arr.numElements()
    val hs = new Array[Int](n)
    var i = 0
    while (i < n) { hs(i) = arr.getLong(i).toInt; i += 1 }
    java.util.Arrays.sort(hs)
    var w = 0
    i = 0
    while (i < n) {
      if (i == 0 || hs(i) != hs(i - 1)) { hs(w) = hs(i); w += 1 }
      i += 1
    }
    val out = new Array[Byte](w * 4)
    i = 0
    while (i < w) {
      val v = hs(i)
      out(i * 4) = (v >>> 24).toByte
      out(i * 4 + 1) = (v >>> 16).toByte
      out(i * 4 + 2) = (v >>> 8).toByte
      out(i * 4 + 3) = v.toByte
      i += 1
    }
    out
  }
}

/** jaccard of two [[PackHashes32]] sets: merge intersection straight
  * over the packed bytes, no allocation. Both inputs MUST come from
  * the same packing kernel (sorted distinct 32-bit, 4 bytes BE). */
case class JaccardPacked32(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(BinaryType, BinaryType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_jaccard_packed32"

  override def nullSafeEval(a: Any, b: Any): Any =
    JaccardPacked32.compute(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.JaccardPacked32.compute($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object JaccardPacked32 {
  private def at(b: Array[Byte], i: Int): Int =
    ((b(i * 4) & 0xff) << 24) | ((b(i * 4 + 1) & 0xff) << 16) |
      ((b(i * 4 + 2) & 0xff) << 8) | (b(i * 4 + 3) & 0xff)

  /** Shared by interpreted eval and generated code. */
  def compute(x: Array[Byte], y: Array[Byte]): Double = {
    val nx = x.length / 4
    val ny = y.length / 4
    var i = 0
    var j = 0
    var inter = 0
    while (i < nx && j < ny) {
      val xi = at(x, i)
      val yj = at(y, j)
      if (xi == yj) { inter += 1; i += 1; j += 1 }
      else if (xi < yj) i += 1
      else j += 1
    }
    val union = nx + ny - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }
}

/** jaccard of two sorted distinct long arrays: merge intersection,
  * no allocation. */
case class JaccardSortedLong(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_jaccard_sorted"

  override def nullSafeEval(a: Any, b: Any): Any =
    JaccardSortedLong.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.JaccardSortedLong.compute($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object JaccardSortedLong {
  /** Shared by interpreted eval and generated code. */
  def compute(x: ArrayData, y: ArrayData): Double = {
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0
    var j = 0
    var inter = 0
    while (i < nx && j < ny) {
      val xi = x.getLong(i)
      val yj = y.getLong(j)
      if (xi == yj) { inter += 1; i += 1; j += 1 }
      else if (xi < yj) i += 1
      else j += 1
    }
    val union = nx + ny - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }
}

/** bucket_pairs(members, rowsPerBand, band, minAgree) — in-bucket LSH
  * candidate enumeration. `members` is the collect_list of
  * struct(id: long, sig: array<long>) for one (band, bucket) group;
  * the expression emits struct(id_a, id_b) for every i<j pair that
  *   (1) has this band as its FIRST fully-agreeing band (so a pair
  *       colliding in several bands is emitted exactly once, with no
  *       post-join DISTINCT), and
  *   (2) agrees on ≥ minAgree of the signature components (the
  *       signature IS an unbiased jaccard estimator, so a floor of
  *       (threshold − margin)·H kills the mass of low-jaccard
  *       candidates before they ever become rows).
  *
  * This replaces a self-join whose output materialized every candidate
  * as a row carrying two full shingle arrays: the quadratic candidate
  * scan now runs as one tight JVM loop per bucket over ids+signatures
  * only, and only surviving pairs are materialized. Skew note: a hot
  * bucket still costs O(B²) comparisons — banding width controls B;
  * at ~100 ns per failed candidate this out-scales the row-based form
  * by ~2 orders of magnitude. */
case class BucketPairs(
    first: Expression,
    second: Expression,
    third: Expression,
    fourth: Expression,
) extends QuaternaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("id_a", LongType), StructField("id_b", LongType))),
    containsNull = false)
  override def prettyName: String = "graft_bucket_pairs"

  override def nullSafeEval(m: Any, r: Any, b: Any, a: Any): Any = {
    val members = m.asInstanceOf[ArrayData]
    val rpb = r.asInstanceOf[Int]
    val band = b.asInstanceOf[Int]
    val minAgree = a.asInstanceOf[Int]
    val n = members.numElements()
    val ids = new Array[Long](n)
    val sigs = new Array[ArrayData](n)
    var i = 0
    while (i < n) {
      val row = members.getStruct(i, 2)
      ids(i) = row.getLong(0)
      sigs(i) = row.getArray(1)
      i += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        val x = sigs(i)
        val y = sigs(j)
        val h = math.min(x.numElements(), y.numElements())
        // first fully-agreeing band and total agreement in one pass
        var agree = 0
        var firstBand = -1
        var k = 0
        while (k < h) {
          if (x.getLong(k) == y.getLong(k)) agree += 1
          k += 1
        }
        if (agree >= minAgree) {
          var bd = 0
          while (firstBand == -1 && (bd + 1) * rpb <= h) {
            var p = bd * rpb
            var all = true
            while (all && p < (bd + 1) * rpb) {
              if (x.getLong(p) != y.getLong(p)) all = false
              p += 1
            }
            if (all) firstBand = bd
            bd += 1
          }
          if (firstBand == band) {
            val lo = math.min(ids(i), ids(j))
            val hi = math.max(ids(i), ids(j))
            out += org.apache.spark.sql.catalyst.InternalRow(lo, hi)
          }
        }
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): Expression =
    copy(first = f, second = s, third = t, fourth = q)
}

/** rep_first_band(repSig, sig, rowsPerBand, minAgree) — the per-ROW
  * emission rule of the linear representative path for oversized LSH
  * buckets: returns the FIRST band index on which the two signatures
  * fully agree, or -1 when there is none or total agreement is below
  * `minAgree`. A caller that has joined each member row to its
  * bucket's min-id representative emits the (rep, member) pair where
  * `rep_first_band(...) = band` — only at the pair's first
  * fully-agreeing band, deliberately mirroring [[BucketPairs]] so the
  * small-bucket all-pairs branch and this one compose without a
  * post-union DISTINCT, with no per-bucket member list materialized
  * anywhere. The recall trade on a hot bucket is documented at the
  * call site: members similar to each other but not to the
  * representative are not proposed. */
case class RepFirstBand(
    first: Expression,
    second: Expression,
    third: Expression,
    fourth: Expression,
) extends QuaternaryExpression with CodegenFallback {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_rep_first_band"

  override def nullSafeEval(xa: Any, ya: Any, r: Any, a: Any): Any = {
    val x = xa.asInstanceOf[ArrayData]
    val y = ya.asInstanceOf[ArrayData]
    val rpb = r.asInstanceOf[Int]
    val minAgree = a.asInstanceOf[Int]
    val h = math.min(x.numElements(), y.numElements())
    var agree = 0
    var k = 0
    while (k < h) {
      if (x.getLong(k) == y.getLong(k)) agree += 1
      k += 1
    }
    if (agree < minAgree) return -1
    var firstBand = -1
    var bd = 0
    while (firstBand == -1 && (bd + 1) * rpb <= h) {
      var p = bd * rpb
      var all = true
      while (all && p < (bd + 1) * rpb) {
        if (x.getLong(p) != y.getLong(p)) all = false
        p += 1
      }
      if (all) firstBand = bd
      bd += 1
    }
    firstBand
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): Expression =
    copy(first = f, second = s, third = t, fourth = q)
}


/** srp_sig(vec, nBits, salt) — sign-random-projection LSH signature
  * as one INT (nBits ≤ 32): bit j = [vec · plane(salt, j) > 0], with
  * plane components pseudo-random in [-0.5, 0.5) derived from the
  * [[GHash]] multiply–gmix64 chain ([[GHash.srpPlane]]) — exact
  * HUGEINT SQL, so SRP bucket membership is oracle-replayable. The
  * interpreted higher-order-function formulation in
  * [[graft.sim.Similarity.lshSignatureHof]] produces bit-identical
  * signatures. The HOF form re-enters the interpreter per vector
  * element per bit; this kernel is one tight loop — the difference
  * between an LSH index build that is signature-bound and one that is
  * scan-bound. */
case class SrpSignature(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes with CodegenFallback {

  override def inputTypes =
    Seq(ArrayType(DoubleType), IntegerType, IntegerType)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_srp_sig"

  override def nullSafeEval(v: Any, n: Any, s: Any): Any = {
    val vec = v.asInstanceOf[ArrayData]
    val nBits = n.asInstanceOf[Int]
    val salt = s.asInstanceOf[Int]
    val dim = vec.numElements()
    var sig = 0
    var j = 0
    while (j < nBits) {
      val a = GHash.srpA(salt, j)
      val b = GHash.srpB(salt, j)
      var proj = 0.0
      var i = 0
      while (i < dim) {
        val m = (GHash.gmix64(a * (i + 1L) + b) >>> 54) / 1024.0 - 0.5
        proj += vec.getDouble(i) * m
        i += 1
      }
      if (proj > 0.0) sig |= (1 << j)
      j += 1
    }
    sig
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** poly_fold(arr<long>, seed) — wrapping polynomial fold
  * `acc = acc·FnvPrime + v mod 2^64` over a long array, starting from
  * `seed`. Used for LSH band buckets (fold of a signature slice):
  * unlike Spark's murmur3 `hash()`, the fold is exact HUGEINT SQL
  * (`list_reduce` with `*`/`+`/`%`), so band bucket assignment — and
  * therefore the candidate pair set — is oracle-replayable. */
case class PolyFoldLong(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(ArrayType(LongType), LongType)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_poly_fold"

  override def nullSafeEval(a: Any, s: Any): Any =
    PolyFoldLong.compute(a.asInstanceOf[ArrayData], s.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, s) =>
      s"${ev.value} = graft.functions.PolyFoldLong.compute($a, $s);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object PolyFoldLong {
  /** Shared by interpreted eval and generated code. */
  def compute(arr: ArrayData, seed: Long): Long = {
    var acc = seed
    var i = 0
    while (i < arr.numElements()) {
      acc = acc * GHash.FnvPrime + arr.getLong(i)
      i += 1
    }
    acc
  }
}

/** bloom_suspicion(grams, masks, width) →
  * struct(n_grams int, n_suspect int): over the gram array, count the
  * non-empty grams and those whose `gmix64(fnv1a(gram))` hits ALL
  * depth rows of the Bloom bit masks (CMS multiply-add buckets — the
  * exact arithmetic of [[graft.text.Sketches]].bloomTest, one wrapping
  * long multiply + AND per row). `masks`/`width` must be FOLDABLE
  * (plan literals — the bounded bloomMasks collect): they evaluate
  * once into primitive arrays, so each gram costs one FNV pass plus
  * depth bit probes in a tight loop instead of per-gram interpreted
  * lambda machinery with `element_at` probes. Honest pricing (noop-
  * sink bench, sf0.1): tp16 END-TO-END is flat (7.48 vs 7.43 s) —
  * the stage is dominated by the shared tokenize+shingle HOF chain,
  * not the probes — so the kernel's value here is the simpler plan
  * (one struct eval vs two HOF filters) and probe cost that stays
  * negligible as depth/width grow. Empty-string grams are skipped from BOTH
  * counts — the single empty gram a zero-token document produces
  * under the clamped shingle slice must not count. */
case class BloomSuspicion(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes with CodegenFallback {

  override def inputTypes = Seq(ArrayType(StringType), ArrayType(ArrayType(LongType)), IntegerType)
  override def dataType: DataType = StructType(Seq(
    StructField("n_grams", IntegerType, nullable = false),
    StructField("n_suspect", IntegerType, nullable = false)))
  override def prettyName: String = "graft_bloom_suspicion"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (!second.foldable || !third.foldable)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires literal masks and width")
    else super.checkInputDataTypes()
  }

  private lazy val masks: Array[Array[Long]] = {
    val outer = second.eval().asInstanceOf[ArrayData]
    val ms = Array.tabulate(outer.numElements())(j =>
      outer.getArray(j).toLongArray())
    // Probe-side twin of bloomMasks' build-side require (the
    // Sketches.bloomTest rule): a masks/width mismatch silently
    // corrupts membership — fail loudly at first eval instead.
    ms.foreach(m => require(m.length == math.max(width / 64, 1),
      s"mask word count ${m.length} != width $width / 64 — masks built for a different width"))
    ms
  }
  private lazy val width: Int = third.eval().asInstanceOf[Int]
  private lazy val widthMask: Long = width - 1L
  private lazy val permA: Array[Long] = Array.tabulate(masks.length)(GHash.permA)
  private lazy val permB: Array[Long] = Array.tabulate(masks.length)(GHash.permB)

  override def nullSafeEval(a: Any, m: Any, w: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val depth = masks.length
    var grams = 0
    var suspect = 0
    var i = 0
    while (i < n) {
      val g = arr.getUTF8String(i)
      if (g != null && g.numBytes() > 0) {
        grams += 1
        val h = GHash.gmix64(SimHashCore.fnv1aUtf8(g))
        var ok = true
        var j = 0
        while (ok && j < depth) {
          val b = (h * permA(j) + permB(j)) & widthMask
          ok = (masks(j)((b >>> 6).toInt) & (1L << (b & 63L))) != 0L
          j += 1
        }
        if (ok) suspect += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](grams, suspect))
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** dsir_score(grams, deltas, buckets) →
  * struct(n_grams int, dsum decimal(28,12)): the DSIR per-document
  * importance sum as ONE tight loop — bucket = gmix64(fnv1a(gram)) &
  * (buckets−1), term = deltas[bucket] cast to DECIMAL(18,12) via
  * Spark's own Decimal conversion (precomputed per bucket at init, so
  * the loop pays one hash + one BigDecimal.add per gram), accumulated
  * exactly. Bit-identical to `sum(cast(delta as decimal(18,12)))` over
  * the exploded batch because decimal addition is exact and order-free
  * — the admission scorer's equality with the shuffled batch scorer is
  * arithmetic, not luck. `deltas`/`buckets` must be plan literals. */
case class DsirScore(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes with CodegenFallback {

  override def inputTypes = Seq(ArrayType(StringType), ArrayType(DoubleType), IntegerType)
  override def dataType: DataType = StructType(Seq(
    StructField("n_grams", IntegerType, nullable = false),
    StructField("dsum", DecimalType(28, 12), nullable = false)))
  override def prettyName: String = "graft_dsir_score"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (!second.foldable || !third.foldable)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires literal deltas and buckets")
    else super.checkInputDataTypes()
  }

  private lazy val buckets: Int = third.eval().asInstanceOf[Int]
  private lazy val bucketMask: Long = buckets - 1L
  // Each bucket's delta pre-converted with the SAME arithmetic the
  // batch path's cast runs — Spark's Decimal(double) goes through
  // Double.toString (BigDecimal.valueOf), then HALF_UP to scale 12 —
  // held as java BigDecimal so the per-gram work is one exact add.
  private lazy val terms: Array[java.math.BigDecimal] = {
    val arr = second.eval().asInstanceOf[ArrayData].toDoubleArray()
    require(arr.length == buckets, s"deltas length ${arr.length} != buckets $buckets")
    arr.map(d => java.math.BigDecimal.valueOf(d)
      .setScale(12, java.math.RoundingMode.HALF_UP))
  }

  override def nullSafeEval(a: Any, m: Any, w: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var acc = java.math.BigDecimal.ZERO
    var grams = 0
    var i = 0
    while (i < n) {
      val g = arr.getUTF8String(i)
      if (g != null) {
        grams += 1
        val b = (GHash.gmix64(SimHashCore.fnv1aUtf8(g)) & bucketMask).toInt
        acc = acc.add(terms(b))
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](grams, Decimal(acc, 28, 12)))
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** shingles(text, k) → array<string>: the distinct word-k-gram list —
  * ONE kernel replacing the interpreted chain
  * `array_distinct(transform(sequence(...), i → concat_ws(' ',
  * slice(tokens(normalized(text)), i+1, k))))` that every shingle
  * consumer paid per row (regex lower/replace/trim/split plus a
  * per-gram lambda with slice+concat allocations). Bit-identical
  * semantics, proven element-for-element against the HOF chain by
  * TextDedupSpec:
  *   - lowercase via UTF8String.toLowerCase (the exact `lower()` code
  *     path), tokens split on java-regex `\s` byte class
  *     {space, \t, \n, \x0B, \f, \r} — ASCII-only, same as the
  *     `split(trim(x), "\\s+")` the chain runs (UTF-8 multibyte units
  *     never collide with ASCII bytes, so the byte scan is safe);
  *   - k = 1 → distinct tokens; k > 1 → grams at i = 0..max(n−k, 0)
  *     with the CLAMPED slice, so a doc shorter than k yields its
  *     whole text as one gram and an empty doc yields [""] — the HOF
  *     chain's documented edge, preserved so downstream `""` guards
  *     keep working;
  *   - distinct keeps first-occurrence order (array_distinct). */
private[functions] object Tokenize {
  def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'

  /** Lowercase the UTF8String (the exact `lower()` code path) and
    * return token byte ranges over the java-regex `\s` byte class —
    * ASCII-only, same as `split(trim(x), "\\s+")`; UTF-8 multibyte
    * units never collide with ASCII bytes, so the byte scan is safe.
    * Returns (bytes, starts, ends). */
  def tokenize(t: UTF8String): (Array[Byte], java.util.ArrayList[Int], java.util.ArrayList[Int]) = {
    val bytes = t.toLowerCase.getBytes
    val starts = new java.util.ArrayList[Int]()
    val ends = new java.util.ArrayList[Int]()
    var i = 0
    val n = bytes.length
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      if (i < n) {
        starts.add(i)
        while (i < n && !isWs(bytes(i))) i += 1
        ends.add(i)
      }
    }
    (bytes, starts, ends)
  }

  def slice(bytes: Array[Byte], s: Int, e: Int): UTF8String =
    UTF8String.fromBytes(java.util.Arrays.copyOfRange(bytes, s, e))

  /** Tokens `lo..hi` joined by single spaces, as one byte copy. */
  def joined(bytes: Array[Byte], starts: java.util.ArrayList[Int],
      ends: java.util.ArrayList[Int], lo: Int, hi: Int): UTF8String = {
    var len = hi - lo // single spaces between tokens
    var j = lo
    while (j <= hi) { len += ends.get(j) - starts.get(j); j += 1 }
    val out = new Array[Byte](len)
    var p = 0
    j = lo
    while (j <= hi) {
      val l = ends.get(j) - starts.get(j)
      System.arraycopy(bytes, starts.get(j), out, p, l)
      p += l
      if (j < hi) { out(p) = ' '; p += 1 }
      j += 1
    }
    UTF8String.fromBytes(out)
  }
}

/** tokens(text) → array<string>: the normalized whitespace tokens —
  * one kernel loop ≡ `tokens(normalized(text))` (lowercase, split on
  * java-\s runs, leading/trailing dropped, NON-distinct, in order).
  * The entry point for every per-token operator (LM scoring, BM25,
  * sketches, DSIR) that previously paid the regex chain per row. */
case class Tokens(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_tokens"

  override def nullSafeEval(t: Any): Any =
    Tokens.compute(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.Tokens.compute($t);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object Tokens {
  /** Shared by interpreted eval and generated code. */
  def compute(t: UTF8String): ArrayData = {
    val (bytes, starts, ends) = Tokenize.tokenize(t)
    val n = starts.size()
    val arr = new Array[Any](n)
    var j = 0
    while (j < n) { arr(j) = Tokenize.slice(bytes, starts.get(j), ends.get(j)); j += 1 }
    new GenericArrayData(arr)
  }
}

/** eval_once(expr) — IDENTITY on its child, flagged non-deterministic
  * so the optimizer will not duplicate or reorder it (the guide §4.4
  * remedy for expensive expressions, applied to a native kernel
  * instead of a Python UDF). The curation chain computes a
  * [[TextStats]] struct column and then FILTERS on fields derived
  * from it; `PushDownPredicate` would inline the whole kernel into
  * the filter predicate once per conjunct (and `CollapseProject`
  * once per consumer), and whole-stage-codegen Filter nodes do no
  * subexpression elimination — measured 2.8–5.8× regressions on
  * tp1/tp2/tp12 when the kernels joined codegen without this
  * barrier. Wrapping the ONE struct evaluation in eval_once pins it
  * to its own Project; every consumer (including the pushed-down
  * filter) references the computed column. The child is genuinely
  * deterministic — the flag is strictly an optimizer barrier, so
  * values, oracle replays and retries are unaffected. */
case class EvalBarrier(child: Expression) extends UnaryExpression {
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override lazy val deterministic: Boolean = false
  override def prettyName: String = "graft_eval_once"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    child.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    child.genCode(ctx)

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Canonical pattern strings for [[TextStats]], shared with
  * [[graft.text.TextAnalysis]]; the oracle SQL (`CurationQueries`,
  * `TextQueries`) replays the same patterns in DuckDB. The kernel runs
  * none of them as a regex: [[MarkerTable]] parses each marker pattern
  * into its word list at init and fails loudly if one leaves the
  * `(?i)\b(w1|…|wn)\b` form, and the punct byte class is read off
  * [[PunctPattern]]. */
object GraftTextPatterns {
  val LangMarkers: Seq[(String, String)] = Seq(
    "en" -> "(?i)\\b(the|and|of|to|in|is|that|with|for|was)\\b",
    "de" -> "(?i)\\b(der|die|das|und|ist|nicht|ein|eine|mit|von)\\b",
    "fr" -> "(?i)\\b(le|la|les|et|est|une|des|dans|pour|que)\\b",
    "es" -> "(?i)\\b(el|los|las|es|una|para|con|por|del|como)\\b",
  )
  val ZhPattern = "[\\u4e00-\\u9fff]"
  val PunctPattern = "[\\p{Punct}]"
}

/** The marker words of a `LangMarkers` list as an open-addressing
  * table from a packed word to the bitmask of its languages (bit i =
  * the i-th pattern). A word packs into a Long one byte per 8 bits
  * ([[MarkerTable.pack]]), so it holds at most 8 bytes; its bytes are
  * nonzero, so key 0 marks an empty slot, whose mask is 0.
  * `minLen`/`maxLen` bound the word lengths, so a scanner looks up
  * only runs that can hit. */
private[functions] final class MarkerTable private (
    keys: Array[Long], masks: Array[Int], val minLen: Int, val maxLen: Int) {

  /** The language bitmask of a packed lowercase word, 0 if none. */
  def lookup(key: Long): Int = masks(MarkerTable.slot(keys, key))
}

private[functions] object MarkerTable {
  private val Form = """\(\?i\)\\b\(([a-z]+(?:\|[a-z]+)*)\)\\b""".r

  def pack(word: String): Long = word.foldLeft(0L)((k, c) => (k << 8) | c)

  /** The slot holding `key`, or the empty slot where it would go. */
  private def slot(keys: Array[Long], key: Long): Int = {
    var i = ((key * 0x9E3779B97F4A7C15L) >>> (64 - Integer.numberOfTrailingZeros(keys.length))).toInt
    while (keys(i) != 0L && keys(i) != key) i = (i + 1) & (keys.length - 1)
    i
  }

  def apply(markers: Seq[(String, String)]): MarkerTable = {
    require(markers.nonEmpty && markers.size <= 32,
      s"marker table needs 1 to 32 languages, got ${markers.size}")
    val words = markers.zipWithIndex.flatMap { case ((lang, pattern), i) =>
      val alts = pattern match {
        case Form(alts) => alts.split('|').toSeq
        case _ => throw new IllegalArgumentException(
          s"marker pattern of '$lang' must have the form (?i)\\b(w1|…|wn)\\b " +
            s"with [a-z]+ words, got: $pattern")
      }
      alts.map { w =>
        require(w.length <= 8, s"marker word '$w' of '$lang' is longer than the 8-byte key")
        w -> (1 << i)
      }
    }.groupMapReduce(_._1)(_._2)(_ | _)
    val size = Integer.highestOneBit(math.max(16, words.size * 4) - 1) << 1
    val keys = new Array[Long](size)
    val masks = new Array[Int](size)
    words.foreach { case (w, mask) =>
      val i = slot(keys, pack(w))
      keys(i) = pack(w)
      masks(i) = mask
    }
    new MarkerTable(keys, masks, words.keys.map(_.length).min, words.keys.map(_.length).max)
  }
}

/** text_stats(text) → struct<n_chars, n_tokens, tok_chars, punct, zh,
  * en, de, fr, es>: every scalar the cheap text annotators (language
  * id, quality score, token stats) consume, in ONE pass over the UTF-8
  * bytes — no String conversion and no regex. Per field:
  *   - n_chars: `UTF8String.numChars` (step by each lead byte's length);
  *   - n_tokens, tok_chars: the raw-byte whitespace tokenize (≡ the
  *     `split(trim(x), "\\s+")` boundaries — the [[Tokenize]] byte-class
  *     argument — WITHOUT lowercasing, so per-token char counts equal
  *     `length()` of the raw split tokens);
  *   - punct: ASCII bytes in POSIX `[:punct:]` (`\p{Punct}`, 32 chars;
  *     `_` counts although it is also a word byte);
  *   - zh: 3-byte sequences that decode to U+4E00–U+9FFF;
  *   - en/de/fr/es: maximal runs of word bytes `[A-Za-z0-9_]` whose
  *     ASCII lowercase is in that language's [[GraftTextPatterns]]
  *     word list. Every byte ≥ 0x80 is a non-word byte, so a marker
  *     word next to a non-ASCII letter, digit or combining mark counts:
  *     the ASCII word boundary of RE2 (the DuckDB oracle) and of
  *     java.util.regex from JDK 19 on, where JDK 17's `\b` is Unicode-
  *     aware. Case folding is ASCII-only: `ſ` and `K` (U+212A) stay
  *     non-word bytes, where RE2's `(?i)` folds them to `s` and `k`.
  * On every input where no marker word touches a non-ASCII letter,
  * digit or combining mark, the counts equal the `(?i)\b(…)\b` regex
  * loops this kernel replaced (TextStatsSpec). The downstream
  * annotators are plain arithmetic over the struct. Participates in
  * whole-stage codegen (one static-call doGenCode, the
  * [[CosineSimilarity]] pattern), so an annotator Project stays one
  * starred codegen span and WSCG subexpression elimination shares ONE
  * kernel evaluation per row across every annotator in the
  * projection. */
case class TextStats(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = StructType(Seq(
    StructField("n_chars", IntegerType, nullable = false),
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("tok_chars", LongType, nullable = false),
    StructField("punct", IntegerType, nullable = false),
    StructField("zh", IntegerType, nullable = false),
    StructField("en", IntegerType, nullable = false),
    StructField("de", IntegerType, nullable = false),
    StructField("fr", IntegerType, nullable = false),
    StructField("es", IntegerType, nullable = false)))
  override def prettyName: String = "graft_text_stats"

  override def nullSafeEval(t: Any): Any =
    TextStats.compute(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextStats.compute($c);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object TextStats {
  private val Markers = MarkerTable(GraftTextPatterns.LangMarkers)
  require(GraftTextPatterns.LangMarkers.map(_._1) == Seq("en", "de", "fr", "es"),
    "LangMarkers must list the struct's marker fields en, de, fr, es in order")

  private final val Word = 1
  private final val Punct = 2
  private final val Ws = 4

  /** Class bits per byte value: Word `[A-Za-z0-9_]`, Punct
    * [[GraftTextPatterns.PunctPattern]] (ASCII only), Ws the java-`\s`
    * bytes of [[Tokenize.isWs]]. Bytes ≥ 0x80 have no class. */
  private val Cls: Array[Byte] = {
    val punct = GraftTextPatterns.PunctPattern.r
    Array.tabulate(256) { i =>
      val c = i.toChar
      val ascii = i < 0x80
      ((if (ascii && (c.isLetterOrDigit || c == '_')) Word else 0) |
        (if (ascii && punct.matches(c.toString)) Punct else 0) |
        (if (Tokenize.isWs(i.toByte)) Ws else 0)).toByte
    }
  }

  /** Shared by interpreted eval and generated code. */
  def compute(u: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val bytes = u.getBytes
    val n = bytes.length
    val markers = Markers
    val minLen = markers.minLen
    val maxLen = markers.maxLen
    val hits = new Array[Int](4)
    var nChars = 0
    var charStart = 0
    var nTokens = 0
    var tokChars = 0L
    var inTok = false
    var punct = 0
    var zh = 0
    var run = 0 // length of the current word run
    var key = 0L // its first maxLen bytes, lowercased and packed
    var p = 0
    while (p < n) {
      val b = bytes(p)
      val cls = Cls(b & 0xFF)
      if (p == charStart) {
        nChars += 1
        charStart += UTF8String.numBytesForFirstByte(b)
      }
      if ((cls & Ws) != 0) inTok = false
      else {
        if (!inTok) { nTokens += 1; inTok = true }
        if ((b & 0xC0) != 0x80) tokChars += 1
      }
      if ((cls & Punct) != 0) punct += 1
      if ((cls & Word) != 0) {
        // `| 0x20` lowercases A-Z and leaves digits; `_` becomes 0x7F,
        // which no marker word contains
        if (run < maxLen) key = (key << 8) | (b | 0x20)
        run += 1
      } else {
        if (run >= minLen && run <= maxLen) addHits(hits, markers.lookup(key))
        run = 0
        key = 0L
        val lead = b & 0xFF
        if (lead >= 0xE4 && lead <= 0xE9 && p + 2 < n) {
          val b1 = bytes(p + 1)
          val b2 = bytes(p + 2)
          if ((b1 & 0xC0) == 0x80 && (b2 & 0xC0) == 0x80) {
            val cp = ((lead & 0x0F) << 12) | ((b1 & 0x3F) << 6) | (b2 & 0x3F)
            if (cp >= 0x4E00 && cp <= 0x9FFF) zh += 1
          }
        }
      }
      p += 1
    }
    if (run >= minLen && run <= maxLen) addHits(hits, markers.lookup(key))
    org.apache.spark.sql.catalyst.InternalRow(
      nChars, nTokens, tokChars, punct, zh, hits(0), hits(1), hits(2), hits(3))
  }

  private def addHits(hits: Array[Int], mask: Int): Unit = {
    var m = mask
    while (m != 0) {
      hits(Integer.numberOfTrailingZeros(m)) += 1
      m &= m - 1
    }
  }
}

/** token_tf(text) → array<struct<t:string, tf:bigint>>: per-document
  * TERM FREQUENCIES over the normalized whitespace tokens (the
  * [[Tokens]] kernel's token stream folded through one hash map),
  * first-occurrence order. This is the MAP-SIDE replacement for the
  * `explode(tokens) → groupBy(doc, token) → count` idiom: term counts
  * are a per-document statistic, so computing them inside the row
  * kernel removes the full-vocabulary (doc, token) exchange — the
  * largest shuffle of the BM25/classifier indexing paths — entirely.
  * Σ tf over the array equals the token count (doc length), so doc
  * lengths fold narrowly from the same array. */
case class TokenTf(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("t", StringType, nullable = false),
      StructField("tf", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_token_tf"

  override def nullSafeEval(t: Any): Any =
    TokenTf.compute(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TokenTf.compute($c);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object TokenTf {
  /** Shared by interpreted eval and generated code. */
  def compute(t: UTF8String): ArrayData = {
    val (bytes, starts, ends) = Tokenize.tokenize(t)
    val n = starts.size()
    val counts = new java.util.LinkedHashMap[UTF8String, java.lang.Long]()
    var j = 0
    while (j < n) {
      val tok = Tokenize.slice(bytes, starts.get(j), ends.get(j))
      val prev = counts.get(tok)
      counts.put(tok,
        java.lang.Long.valueOf(if (prev == null) 1L else prev.longValue + 1L))
      j += 1
    }
    val arr = new Array[Any](counts.size())
    val it = counts.entrySet().iterator()
    var w = 0
    while (it.hasNext) {
      val e = it.next()
      arr(w) = org.apache.spark.sql.catalyst.InternalRow(e.getKey, e.getValue.longValue)
      w += 1
    }
    new GenericArrayData(arr)
  }
}

/** A driver-built object a BM25 kernel reads on the executors: the
  * broadcast travels in the plan as an object literal, and `label`
  * is what `explain` prints for it. */
final class Bm25Handle[T](val bc: org.apache.spark.broadcast.Broadcast[T], label: String)
    extends Serializable {
  def value: T = bc.value
  override def toString: String = label
}

/** The query side of one BM25 call, built once on the driver
  * ([[graft.text.Bm25]]) and broadcast to both BM25 kernels: the
  * distinct query terms (a term's id is its index), the queries
  * holding each term (a query's index is its position in `queryIds`),
  * and each query id as a Catalyst value of `queryIdType`. */
final class Bm25Queries(
    val terms: Array[UTF8String],
    val termQueries: Array[Array[Int]],
    val queryIds: Array[Any],
    val queryIdType: DataType,
) extends Serializable {

  @transient private lazy val ids: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer](terms.length * 2)
    var i = 0
    while (i < terms.length) { m.put(terms(i), i); i += 1 }
    m
  }

  /** Term id of `bytes[start, end)`, or -1 when no query holds it. */
  def termId(bytes: Array[Byte], start: Int, end: Int): Int = {
    val id = ids.get(UTF8String.fromBytes(bytes, start, end - start))
    if (id == null) -1 else id.intValue
  }

  // Per-thread scratch: the value is shared by every task of an
  // executor, and each document resets only the slots it touched.
  @transient private lazy val scratchTl: ThreadLocal[Bm25Scratch] =
    ThreadLocal.withInitial(() => new Bm25Scratch(terms.length, queryIds.length))
  private[functions] def scratch: Bm25Scratch = scratchTl.get()
}

private[functions] final class Bm25Scratch(nTerms: Int, nQueries: Int) {
  val tf = new Array[Int](nTerms)
  val touchedTerms = new Array[Int](nTerms)
  val sum = new Array[Long](nQueries)
  // 0 = untouched, 1 = touched with only null contributions, 2 = has a sum
  val state = new Array[Byte](nQueries)
  val touchedQueries = new Array[Int](nQueries)
  // unscaled sums that left the long range, per query; rare
  var big: Array[java.math.BigInteger] = _
}

/** Corpus statistics of one BM25 call as the scoring kernel needs
  * them: per-term idf (NaN for a term `maxDfFraction` pruned), k1, b
  * and avgdl. */
final class Bm25Stats(val idf: Array[Double], val k1: Double, val b: Double, val avgdl: Double)
    extends Serializable

/** graft_bm25_postings(text, queries) → struct(dl int, t array<int>,
  * tf array<int>): one document's token count and the term frequency
  * of each QUERY term it holds — the same lowercase and java-`\s`
  * split as [[Tokens]], scanned once without materializing a token,
  * and counted only for terms in the broadcast [[Bm25Queries]], so no
  * full-vocabulary map is built. A null text has no tokens. */
case class Bm25Postings(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes with CodegenFallback {

  override def inputTypes = Seq(StringType, ObjectType(classOf[Bm25Handle[_]]))
  override def dataType: DataType = Bm25Postings.Type
  override def nullable: Boolean = false
  override def prettyName: String = "graft_bm25_postings"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (!right.foldable)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires the query handle as a literal")
    else super.checkInputDataTypes()

  @transient private lazy val queries: Bm25Queries =
    right.eval().asInstanceOf[Bm25Handle[Bm25Queries]].value

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    Bm25Postings.compute(left.eval(input).asInstanceOf[UTF8String], queries)

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object Bm25Postings {
  val Type: StructType = StructType(Seq(
    StructField("dl", IntegerType, nullable = false),
    StructField("t", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("tf", ArrayType(IntegerType, containsNull = false), nullable = false)))

  /** Shared by interpreted eval and the no-Spark specs. */
  def compute(t: UTF8String, q: Bm25Queries): org.apache.spark.sql.catalyst.InternalRow = {
    val s = q.scratch
    var dl = 0
    var hits = 0
    if (t != null) {
      // Tokenize.tokenize's scan, without recording the token bounds
      val bytes = t.toLowerCase.getBytes
      val n = bytes.length
      var i = 0
      while (i < n) {
        while (i < n && Tokenize.isWs(bytes(i))) i += 1
        if (i < n) {
          val start = i
          while (i < n && !Tokenize.isWs(bytes(i))) i += 1
          dl += 1
          val id = q.termId(bytes, start, i)
          if (id >= 0) {
            if (s.tf(id) == 0) { s.touchedTerms(hits) = id; hits += 1 }
            s.tf(id) += 1
          }
        }
      }
    }
    val ids = new Array[Int](hits)
    val tfs = new Array[Int](hits)
    var j = 0
    while (j < hits) {
      val id = s.touchedTerms(j)
      ids(j) = id
      tfs(j) = s.tf(id)
      s.tf(id) = 0
      j += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(dl,
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(ids),
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(tfs))
  }
}

/** graft_bm25_score(postings, queries, stats) → array<struct(q, s
  * decimal(28,12))>: one document scored against every query that
  * shares a term with it. Each (document, term) contribution is the
  * expression tree of the SQL form, in its IEEE operation order —
  * idf · (tf · (k1 + 1)) / (tf + k1 · ((1 − b) + b · dl / avgdl)),
  * with idf computed on the driver by `StrictMath.log` as Spark's
  * `Log` does — then Spark's non-ANSI `CAST(_ AS DECIMAL(18,12))`
  * (`Decimal(double)` rounded HALF_UP; an overflow is null and the
  * sum skips it). The per-query sums are exact: unscaled longs with
  * `addExact`, falling back to `BigInteger` on overflow, so they equal
  * Spark's `sum` of the DECIMAL(18,12) terms in any order. A query
  * whose contributions were all null sums to null; a sum beyond
  * DECIMAL(28,12) is null, as the non-ANSI `sum` makes it. */
case class Bm25Score(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes with CodegenFallback {

  override def inputTypes = Seq(Bm25Postings.Type,
    ObjectType(classOf[Bm25Handle[_]]), ObjectType(classOf[Bm25Handle[_]]))
  override def prettyName: String = "graft_bm25_score"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (!second.foldable || !third.foldable)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires the query and stats handles as literals")
    else super.checkInputDataTypes()

  @transient private lazy val queries: Bm25Queries =
    second.eval().asInstanceOf[Bm25Handle[Bm25Queries]].value
  @transient private lazy val stats: Bm25Stats =
    third.eval().asInstanceOf[Bm25Handle[Bm25Stats]].value

  // the query id type is fixed on the driver, with the handle
  override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("q", queries.queryIdType),
      StructField("s", DecimalType(28, 12)))),
    containsNull = false)

  override def nullSafeEval(p: Any, q: Any, s: Any): Any =
    Bm25Score.compute(p.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow], queries, stats)

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

object Bm25Score {
  /** Unscaled marker of a null DECIMAL(18,12) contribution; a real
    * one lies within ±(10^18 − 1). */
  val NullContribution: Long = Long.MinValue

  private val MaxSum = java.math.BigInteger.TEN.pow(28)

  /** Spark's non-ANSI `CAST(c AS DECIMAL(18,12))` as an unscaled long. */
  def toDecimal12(c: Double): Long =
    try {
      val d = Decimal(c)
      if (d.changePrecision(18, 12)) d.toUnscaledLong else NullContribution
    } catch { case _: NumberFormatException => NullContribution }

  /** Shared by interpreted eval and the no-Spark specs. */
  def compute(p: org.apache.spark.sql.catalyst.InternalRow, q: Bm25Queries,
      st: Bm25Stats): ArrayData = {
    val ts = p.getArray(1)
    val tfs = p.getArray(2)
    val n = ts.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val s = q.scratch
    val dl = p.getInt(0).toDouble
    val kp1 = st.k1 + 1.0
    val norm = st.k1 * ((1.0 - st.b) + st.b * dl / st.avgdl)
    var touched = 0
    var j = 0
    while (j < n) {
      val t = ts.getInt(j)
      val idf = st.idf(t)
      if (!java.lang.Double.isNaN(idf)) {
        val tf = tfs.getInt(j).toDouble
        val c = toDecimal12(idf * (tf * kp1) / (tf + norm))
        val qs = q.termQueries(t)
        var k = 0
        while (k < qs.length) {
          val qi = qs(k)
          if (s.state(qi) == 0) { s.touchedQueries(touched) = qi; touched += 1; s.state(qi) = 1 }
          if (c != NullContribution) {
            if (s.state(qi) == 1) { s.sum(qi) = c; s.state(qi) = 2 }
            else if (s.big != null && s.big(qi) != null)
              s.big(qi) = s.big(qi).add(java.math.BigInteger.valueOf(c))
            else
              try s.sum(qi) = Math.addExact(s.sum(qi), c)
              catch {
                case _: ArithmeticException =>
                  if (s.big == null) s.big = new Array[java.math.BigInteger](s.sum.length)
                  s.big(qi) = java.math.BigInteger.valueOf(s.sum(qi))
                    .add(java.math.BigInteger.valueOf(c))
              }
          }
          k += 1
        }
      }
      j += 1
    }
    val out = new Array[Any](touched)
    var w = 0
    while (w < touched) {
      val qi = s.touchedQueries(w)
      val sum: Decimal =
        if (s.state(qi) == 1) null
        else if (s.big != null && s.big(qi) != null) {
          val b = s.big(qi)
          s.big(qi) = null
          if (b.abs.compareTo(MaxSum) >= 0) null
          else Decimal(new java.math.BigDecimal(b, 12), 28, 12)
        } else Decimal(s.sum(qi), 28, 12)
      out(w) = org.apache.spark.sql.catalyst.InternalRow(q.queryIds(qi), sum)
      s.state(qi) = 0
      w += 1
    }
    new GenericArrayData(out)
  }
}

/** ngrams(text) → array<string>: DSIR's feature list — ALL unigrams
  * in order, then all adjacent bigrams in order, NON-distinct (counts
  * matter for a multinomial). ≡ ImportanceResampling.ngramsOf over
  * the normalized tokens, as one kernel loop. */
case class Ngrams(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_ngrams"

  override def nullSafeEval(t: Any): Any =
    Ngrams.compute(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.Ngrams.compute($t);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object Ngrams {
  /** Shared by interpreted eval and generated code. */
  def compute(t: UTF8String): ArrayData = {
    val (bytes, starts, ends) = Tokenize.tokenize(t)
    val n = starts.size()
    val out = new Array[Any](if (n >= 2) 2 * n - 1 else n)
    var j = 0
    while (j < n) { out(j) = Tokenize.slice(bytes, starts.get(j), ends.get(j)); j += 1 }
    var g = 0
    while (g < n - 1) { out(n + g) = Tokenize.joined(bytes, starts, ends, g, g + 1); g += 1 }
    new GenericArrayData(out)
  }
}

case class Shingles(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(StringType, IntegerType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingles"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val base = super.checkInputDataTypes()
    if (base.isFailure) base
    else if (!right.foldable)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a literal k")
    else {
      val k = right.eval()
      if (k == null || k.asInstanceOf[Int] < 1)
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires k >= 1")
      else base
    }
  }

  override def nullSafeEval(t: Any, kAny: Any): Any =
    Shingles.compute(t.asInstanceOf[UTF8String], kAny.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, k) =>
      s"${ev.value} = graft.functions.Shingles.compute($t, $k);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object Shingles {
  /** Shared by interpreted eval and generated code. */
  def compute(t: UTF8String, k: Int): ArrayData = {
    val (bytes, starts, ends) = Tokenize.tokenize(t)
    val nTok = starts.size()
    val seen = new java.util.LinkedHashSet[UTF8String]()
    if (k <= 1) {
      var j = 0
      while (j < nTok) {
        seen.add(Tokenize.slice(bytes, starts.get(j), ends.get(j)))
        j += 1
      }
    } else {
      // grams at i = 0..max(nTok-k, 0), slice clamped to the end —
      // including the [""] empty-doc gram the HOF chain produces
      val last = math.max(nTok - k, 0)
      var g = 0
      while (g <= last) {
        val hi = math.min(g + k, nTok) - 1
        if (hi < g) seen.add(UTF8String.EMPTY_UTF8)
        else seen.add(Tokenize.joined(bytes, starts, ends, g, hi))
        g += 1
      }
    }
    val arr = new Array[Any](seen.size())
    val it = seen.iterator()
    var w = 0
    while (it.hasNext) { arr(w) = it.next(); w += 1 }
    new GenericArrayData(arr)
  }
}

object GraftFunctions {
  type Description = (FunctionIdentifier, ExpressionInfo, FunctionBuilder)

  private def desc(name: String, usage: String, builder: FunctionBuilder): Description =
    (new FunctionIdentifier(name), new ExpressionInfo(classOf[CosineSimilarity].getName, name, usage), builder)

  val all: Seq[Description] = Seq(
    desc("graft_cosine_sim", "cosine similarity of two numeric arrays",
      args => CosineSimilarity(args(0), args(1))),
    desc("graft_jaccard", "jaccard similarity of two string arrays as sets",
      args => JaccardSimilarity(args(0), args(1))),
    desc("graft_minhash_sig", "minhash signature of a string array",
      args => MinHashSignature(args(0), args.lift(1).getOrElse(Literal(32)))),
    desc("graft_simhash_bits", "simhash bit signature of a string array",
      args => SimHashBits(args(0), args.lift(1).getOrElse(Literal(64)))),
    desc("graft_simhash64", "64-bit simhash of a string array packed into a bigint",
      args => SimHash64(args(0))),
    desc("graft_hash_shingles", "sorted distinct 64-bit hashes of a string array",
      args => HashShingles(args(0))),
    desc("graft_jaccard_sorted", "jaccard of two sorted distinct long arrays",
      args => JaccardSortedLong(args(0), args(1))),
    desc("graft_pack_hashes32", "sorted distinct long hashes packed to a 32-bit binary set",
      args => PackHashes32(args(0))),
    desc("graft_jaccard_packed32", "jaccard of two packed 32-bit binary hash sets",
      args => JaccardPacked32(args(0), args(1))),
    desc("graft_bucket_pairs", "LSH candidate pairs within one (band,bucket) member list",
      args => BucketPairs(args(0), args(1), args(2), args(3))),
    desc("graft_rep_first_band", "first fully-agreeing band of two minhash signatures, -1 below min agreement",
      args => RepFirstBand(args(0), args(1), args(2), args(3))),
    desc("graft_srp_sig", "sign-random-projection LSH signature of a numeric array",
      args => SrpSignature(args(0), args.lift(1).getOrElse(Literal(16)),
        args.lift(2).getOrElse(Literal(0)))),
    desc("graft_poly_fold", "wrapping polynomial fold of a long array from a seed",
      args => PolyFoldLong(args(0), args(1))),
    desc("graft_token_hash", "gmix64(fnv1a(s)) scalar token hash",
      args => TokenHash64(args(0))),
    desc("graft_bloom_suspicion", "per-doc (n_grams, n_suspect) counts against literal Bloom masks",
      args => BloomSuspicion(args(0), args(1), args(2))),
    desc("graft_dsir_score", "per-doc (n_grams, decimal importance sum) against literal bucket deltas",
      args => DsirScore(args(0), args(1), args(2))),
    desc("graft_wide_sketch", "all five token-family sketch partials in one aggregation pass",
      args => {
        def litInt(e: Expression, name: String): Int = e match {
          case Literal(v: Int, IntegerType) => v
          case other => throw new IllegalArgumentException(
            s"graft_wide_sketch: $name must be an int literal, got $other")
        }
        WideSketchAgg(args(0), args(1), args(2),
          litInt(args(3), "cmsDepth"), litInt(args(4), "cmsWidth"),
          litInt(args(5), "kmvK"), litInt(args(6), "hllP"),
          litInt(args(7), "mgK"), litInt(args(8), "bloomDepth"),
          litInt(args(9), "bloomWidth"))
      }),
    desc("graft_shingles", "distinct word-k-gram array of normalized text",
      args => Shingles(args(0), args(1))),
    desc("graft_tokens", "normalized whitespace tokens of text, non-distinct, in order",
      args => Tokens(args(0))),
    desc("graft_token_tf", "per-document (token, tf) pairs of normalized text, first-occurrence order",
      args => TokenTf(args(0))),
    desc("graft_text_stats", "char/token/punct/lang-marker counts of text in one pass",
      args => TextStats(args(0))),
    desc("graft_ngrams", "non-distinct unigrams then adjacent bigrams of normalized text",
      args => Ngrams(args(0))),
    desc("graft_bm25_postings", "per-document (length, query-term ids, tfs) against a broadcast BM25 query-term map",
      args => Bm25Postings(args(0), args(1))),
    desc("graft_bm25_score", "per-document (query id, decimal BM25 score) rows against broadcast query terms and corpus stats",
      args => Bm25Score(args(0), args(1), args(2))),
    desc("graft_eval_once", "identity optimizer barrier: the child is evaluated exactly once per row",
      args => EvalBarrier(args(0))),
  )
}
