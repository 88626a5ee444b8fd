package graft.functions

import java.security.MessageDigest
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Hashing expressions for the dedup hot path.
  *
  * The original formulation hashed every shingle once PER SEED
  * (`md5(concat(shingle, seed))` x8) and parsed hex via `conv` (BigInteger) —
  * ~18 us per op, 26 s for the sf0.1 corpus. These expressions compute ONE
  * md5 per input and derive seed variants with a universal-hash affine mix
  * `(A_i * base32 + B_i) mod (2^31-1)` — arithmetic small enough to be exact
  * in both engines (product < 2^62, no BIGINT overflow in DuckDB).
  *
  * DuckDB equivalents (oracle side):
  *   base32 = CAST(('0x'||substr(md5(s),1,15)) AS BIGINT) & 4294967295
  *   mh_i   = min over shingles of (A_i * base32 + B_i) % 2147483647
  *
  * Per-row work (hundreds of shingles) dwarfs interpretation overhead, so
  * CodegenFallback costs nothing measurable here.
  */
object HashFunctions {

  /** Affine mix pairs (odd A < 2^30, B < 2^30) — fixed engine constants.
    * The first 8 are the original hand-picked values (d2's public signature
    * surface depends on them); the remaining 56 are derived deterministically
    * from md5 so both engines can embed identical literals. 64 total supports
    * the d3 LSH parameterization (8 bands x 8 rows).
    */
  private val digest = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** First 15 hex chars of md5 as a non-negative long (= 60 bits). */
  def hash60(bytes: Array[Byte]): Long = {
    val d = digest.get()
    d.reset()
    val h = d.digest(bytes)
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (h(i) & 0xffL); i += 1 }
    (v << 4) | ((h(7) >> 4) & 0xfL)
  }

  val MaxHashes = 64
  val A: Array[Long] = Array(
    387420489L, 268435459L, 536870923L, 715827883L,
    111111113L, 999999937L, 624485141L, 846572969L) ++
    Array.tabulate(56)(i => (hash60(s"graft-minhash-A-${i + 8}".getBytes("UTF-8")) & ((1L << 30) - 1)) | 1L)
  val B: Array[Long] = Array(
    12582917L, 897654321L, 31415927L, 271828183L,
    41421357L, 173205081L, 577215665L, 141592653L) ++
    Array.tabulate(56)(i => hash60(s"graft-minhash-B-${i + 8}".getBytes("UTF-8")) & ((1L << 30) - 1))
  val Mod: Long = 2147483647L // 2^31 - 1

  private def hash60FromDigest(h: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (h(i) & 0xffL); i += 1 }
    (v << 4) | ((h(7) >> 4) & 0xfL)
  }

  /** Fused normalize-string -> 5-gram shingles -> MinHash: identical values
    * to `minhashSigs(transform(sequence(1, greatest(len-4,1)), i ->
    * substring(s, i, 5)), n)` but hashing the UTF-8 byte windows in place —
    * no per-shingle UTF8String, no 300-element array per row. Code-point
    * offsets are tracked so multibyte text windows match `substring`
    * exactly.
    */
  def minhashText(u: UTF8String, numHashes: Int): ArrayData = {
    val bytes = u.getBytes
    var nChars = 0
    var i = 0
    while (i < bytes.length) { if ((bytes(i) & 0xc0) != 0x80) nChars += 1; i += 1 }
    val offs = new Array[Int](nChars + 1)
    var c = 0; i = 0
    while (i < bytes.length) {
      if ((bytes(i) & 0xc0) != 0x80) { offs(c) = i; c += 1 }
      i += 1
    }
    offs(nChars) = bytes.length
    val nShingles = math.max(nChars - 4, 1)
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val d = digest.get()
    var s = 0
    while (s < nShingles) {
      val from = offs(math.min(s, nChars))
      val until = offs(math.min(s + 5, nChars))
      d.reset()
      d.update(bytes, from, until - from)
      val base = hash60FromDigest(d.digest()) & 0xffffffffL
      var k = 0
      while (k < numHashes) {
        val h = (A(k) * base + B(k)) % Mod
        if (h < mins(k)) mins(k) = h
        k += 1
      }
      s += 1
    }
    new GenericArrayData(mins)
  }

  /** Fused tokenize -> word-3-gram -> hash60 -> sorted distinct: identical
    * values to `sort_array(array_distinct(transform(sequence(0, n-3), i ->
    * hash60(concat_ws(' ', toks[i], toks[i+1], toks[i+2])))))` over
    * `split(trim(text), "\\s+")` — but the md5 digests stream straight over
    * the token byte ranges (ASCII whitespace bytes never occur inside UTF-8
    * continuation sequences, so byte scanning matches java \s+ exactly);
    * no token array, no concatenated gram strings.
    */
  def gramHashes(u: UTF8String): ArrayData = {
    val bytes = u.getBytes
    def isWs(b: Byte): Boolean =
      b == 32 || b == 9 || b == 10 || b == 11 || b == 12 || b == 13
    // Replicate `split(trim(text), "\\s+")` exactly: Spark's trim strips
    // ASCII SPACE only, and Spark's split (limit -1, unlike java's default)
    // KEEPS empty tokens at BOTH ends when the trimmed text starts/ends
    // with other whitespace (\t \n \x0B \f \r) — DuckDB's
    // regexp_split_to_array behaves identically, so the scan must too
    var lo = 0
    var hi = bytes.length
    while (lo < hi && bytes(lo) == 32) lo += 1
    while (hi > lo && bytes(hi - 1) == 32) hi -= 1
    val leadingEmpty = lo < hi && isWs(bytes(lo))
    val trailingEmpty = lo < hi && isWs(bytes(hi - 1))
    // token byte ranges within [lo, hi)
    var nRuns = 0
    var i = lo
    while (i < hi) {
      if (!isWs(bytes(i)) && (i == lo || isWs(bytes(i - 1)))) nRuns += 1
      i += 1
    }
    val nToks = nRuns + (if (leadingEmpty) 1 else 0) + (if (trailingEmpty) 1 else 0)
    if (nToks < 3) return new GenericArrayData(Array.empty[Long])
    val starts = new Array[Int](nToks); val ends = new Array[Int](nToks)
    var t = -1
    if (leadingEmpty) { t = 0; starts(0) = lo; ends(0) = lo } // empty token
    i = lo
    while (i < hi) {
      if (!isWs(bytes(i))) {
        if (i == lo || isWs(bytes(i - 1))) { t += 1; starts(t) = i }
        ends(t) = i + 1
      }
      i += 1
    }
    if (trailingEmpty) { t += 1; starts(t) = hi; ends(t) = hi } // empty token
    val d = digest.get()
    val space = Array(' '.toByte)
    val out = new Array[Long](nToks - 2)
    var g = 0
    while (g < nToks - 2) {
      d.reset()
      d.update(bytes, starts(g), ends(g) - starts(g))
      d.update(space)
      d.update(bytes, starts(g + 1), ends(g + 1) - starts(g + 1))
      d.update(space)
      d.update(bytes, starts(g + 2), ends(g + 2) - starts(g + 2))
      out(g) = hash60FromDigest(d.digest())
      g += 1
    }
    java.util.Arrays.sort(out)
    // dedup in place on the sorted array
    var w = 0
    var r = 1
    while (r < out.length) {
      if (out(r) != out(w)) { w += 1; out(w) = out(r) }
      r += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, w + 1))
  }

  def minhashSigs(shingles: ArrayData, numHashes: Int): ArrayData = {
    val n = shingles.numElements()
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val s = shingles.getUTF8String(i)
      if (s != null) {
        val base = hash60(s.getBytes) & 0xffffffffL
        var k = 0
        while (k < numHashes) {
          val h = (A(k) * base + B(k)) % Mod
          if (h < mins(k)) mins(k) = h
          k += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }
}

/** `graft_minhash_sigs(array<string>[, numHashes]) -> array<long>`: MinHash
  * values (default 8, up to [[HashFunctions.MaxHashes]]).
  */
case class MinHashSigs(child: Expression, numHashes: Int) extends UnaryExpression with CodegenFallback {
  require(numHashes > 0 && numHashes <= HashFunctions.MaxHashes,
    s"numHashes must be in 1..${HashFunctions.MaxHashes}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    HashFunctions.minhashSigs(input.asInstanceOf[ArrayData], numHashes)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `graft_minhash_text(str[, numHashes]) -> array<long>`: fused 5-gram
  * shingling + MinHash over a (pre-normalized) string — the hot-path twin of
  * [[MinHashSigs]] with no intermediate shingle array.
  */
case class MinHashText(child: Expression, numHashes: Int) extends UnaryExpression with CodegenFallback {
  require(numHashes > 0 && numHashes <= HashFunctions.MaxHashes,
    s"numHashes must be in 1..${HashFunctions.MaxHashes}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    HashFunctions.minhashText(input.asInstanceOf[UTF8String], numHashes)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `graft_gram_hashes(text) -> array<long>`: fused word-3-gram fingerprint
  * set (sorted distinct hash60 values) — the d5 verification input.
  */
case class GramHashes(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    HashFunctions.gramHashes(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `graft_hash60(string) -> long`: md5-prefix hash, JVM-native (no conv/BigInteger). */
case class Hash60(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    HashFunctions.hash60(input.asInstanceOf[UTF8String].getBytes)
  // real codegen (a static call), not CodegenFallback: row-grain probes
  // (bloom pruning, fingerprinting) sit inside hot projections, and a
  // fallback expression would knock the whole stage out of codegen
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
    : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashFunctions.hash60($c.getBytes())")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `graft_sorted_intersect(array<long>, array<long>) -> int`: intersection
  * cardinality of two SORTED distinct long arrays by linear merge walk — no
  * per-call hash set, no boxing. |A∪B| derives as |A|+|B|-|A∩B|, so one call
  * yields exact Jaccard for the near-dup verification joins.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with CodegenFallback {
  override def dataType: DataType = IntegerType
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements(); val ny = y.numElements()
    var i = 0; var j = 0; var n = 0
    while (i < nx && j < ny) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { n += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    n
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `graft_sig_agree(array<long>, array<long>) -> int`: positions where two
  * equal-length MinHash signatures agree, in one primitive loop. Replaces
  * `size(filter(zip_with(a, b, (x,y) -> x = y), v -> v))` on the scoredPairs
  * hot path — that chain evaluates INTERPRETED per signature position (a
  * lambda bind + boxed boolean per element, 64 per candidate pair; millions
  * of pairs at the sf10 gate). Identical semantics for the equal-length
  * arrays the LSH family produces; for defensively-unequal lengths the
  * zip_with form null-pads (null never counts), so min-length is the same.
  */
case class SigAgreeCount(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = IntegerType
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = Math.min(x.numElements(), y.numElements())
    var i = 0; var c = 0
    while (i < n) {
      // null slots never count as agreement (UnsafeArrayData.getLong returns
      // 0 for them, so two nulls would otherwise match) — mirrors the
      // zip_with + filter reference form, which skips null comparisons.
      // Unreachable from LSH signatures (minhashSigs emits dense arrays) but
      // the function is session-registered and callable on any array.
      if (!x.isNullAt(i) && !y.isNullAt(i) && x.getLong(i) == y.getLong(i)) c += 1
      i += 1
    }
    c
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `graft_simhash_agg(hash: long) -> long`: 60-bit SimHash over a group's
  * token hashes in ONE aggregate pass — per-bit majority votes accumulate in a
  * 60-int buffer (update: +-1 per bit, merge: elementwise add, eval: pack bits
  * with positive votes). Replaces the explode-per-bit formulation: same result
  * as `sum(CASE WHEN votes > 0 THEN 1<<b END)` over per-(doc,b) vote sums, at
  * 1/60th the shuffled rows and with map-side partial aggregation.
  *
  * Width is 60 (not 64) because [[HashFunctions.hash60]] is the portable
  * 60-bit token hash: 15 md5 hex digits is the widest prefix DuckDB can CAST
  * to BIGINT without sign overflow, and a 60-bit fingerprint stays positive,
  * keeping every derived shift/band below the engine's 2^62 arithmetic bound.
  * Banding splits it into 4 x 15-bit bands (32768-value key space each).
  */
case class SimHashAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[Array[Int]]
  with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {

  import SimHashAgg.Width

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def createAggregationBuffer(): Array[Int] = new Array[Int](Width)

  override def update(buf: Array[Int], input: InternalRow): Array[Int] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      var b = 0
      while (b < Width) {
        buf(b) += (if (((h >> b) & 1L) == 1L) 1 else -1)
        b += 1
      }
    }
    buf
  }

  override def merge(a: Array[Int], b: Array[Int]): Array[Int] = {
    var i = 0
    while (i < Width) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Int]): Any = {
    var out = 0L
    var b = 0
    while (b < Width) {
      if (buf(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  override def serialize(buf: Array[Int]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 * Width)
    buf.foreach(bb.putInt)
    bb.array()
  }
  override def deserialize(bytes: Array[Byte]): Array[Int] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(Width)(bb.getInt())
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SimHashAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SimHashAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(c: Expression): SimHashAgg = copy(child = c)
}

object SimHashAgg {
  /** Fingerprint width in bits — the full entropy of the portable hash60. */
  val Width = 60
}

/** Bounded k-minimum-values collector: keeps the k smallest distinct-input
  * longs per group in a size-capped max-heap and evals to the ascending
  * array. This is the mergeable per-key KMV sketch a production pipeline
  * maintains per domain/language/source: constant O(k) state per group,
  * map-side partial aggregation, one shuffle — replacing the
  * window-rank-per-group formulation whose sort degenerates to one fat
  * partition per key. Inputs are assumed pre-deduplicated (KMV is defined
  * over distinct hashes); duplicates would bias the estimator, so callers
  * dedup first — exactly what the oracle's DISTINCT CTE does.
  */
case class KMinAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[java.util.PriorityQueue[java.lang.Long]]
  with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def createAggregationBuffer(): java.util.PriorityQueue[java.lang.Long] =
    new java.util.PriorityQueue[java.lang.Long](java.util.Collections.reverseOrder[java.lang.Long]())

  private def offer(heap: java.util.PriorityQueue[java.lang.Long], h: Long): Unit =
    if (heap.size < k) heap.offer(h)
    else if (heap.peek() > h) { heap.poll(); heap.offer(h) }

  override def update(heap: java.util.PriorityQueue[java.lang.Long], input: InternalRow): java.util.PriorityQueue[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) offer(heap, v.asInstanceOf[Long])
    heap
  }

  override def merge(a: java.util.PriorityQueue[java.lang.Long], b: java.util.PriorityQueue[java.lang.Long]): java.util.PriorityQueue[java.lang.Long] = {
    val it = b.iterator()
    while (it.hasNext) offer(a, it.next())
    a
  }

  override def eval(heap: java.util.PriorityQueue[java.lang.Long]): Any = {
    val arr = new Array[Long](heap.size)
    var i = 0
    val it = heap.iterator()
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    java.util.Arrays.sort(arr)
    new GenericArrayData(arr)
  }

  override def serialize(heap: java.util.PriorityQueue[java.lang.Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 8 * heap.size)
    bb.putInt(heap.size)
    val it = heap.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }
  override def deserialize(bytes: Array[Byte]): java.util.PriorityQueue[java.lang.Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val heap = createAggregationBuffer()
    var i = 0
    while (i < n) { heap.offer(bb.getLong()); i += 1 }
    heap
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KMinAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KMinAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(c: Expression): KMinAgg = copy(child = c)
}
