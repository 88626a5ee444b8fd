package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expressions for the vector hot path.
  *
  * The brute-force cosine queries originally used `aggregate(zip_with(...))`
  * higher-order functions — semantically right, but HOF lambdas are
  * interpreted per element (an allocation + virtual call per multiply),
  * which at |pairs| x 64 dims dominated the bench. [[DotProduct]] is the
  * codegen replacement: a tight `for` loop over the two ArrayData buffers
  * inside whole-stage codegen — the preference-order (b) path from the
  * build guidelines (compose > custom Expression > custom operator).
  *
  * Summation order is index-ascending, identical to the HOF fold and to
  * DuckDB's list functions, so oracle parity is bit-exact.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def nullIntolerant: Boolean = true

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |${ev.value} = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${ev.value} += $a.getDouble($i) * $b.getDouble($i);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Squared euclidean distance — index-ascending `(x[i]-y[i])^2` accumulation,
  * the exact IEEE sequence of [[CellTopN]]'s inner loop (and of the
  * `aggregate(sequence(...))` fold / DuckDB's list_sum form). Exists for the
  * DIFFERENTIAL IVF twin (`operators.Differential`): its explode-argmin
  * assignment needs the distance as a materialized column, and the HOF fold
  * is interpreted per element (215 s at the sf10 rung, projected to hours at
  * sf100). The algorithm under differential test — all-pairs explode +
  * partial-aggregated struct-min argmin, vs CellTopN's fused insertion
  * top-k — is unchanged; only the scalar kernel compiles.
  */
case class SquaredDistance(left: Expression, right: Expression)
    extends BinaryExpression {

  override def nullIntolerant: Boolean = true

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { val d = x.getDouble(i) - y.getDouble(i); s += d * d; i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |${ev.value} = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = $a.getDouble($i) - $b.getDouble($i);
         |  ${ev.value} += $d * $d;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Shared per-task decode of the broadcast centroid array: within any one
  * plan instance the `cs` argument is a constant (it rides a single-row
  * broadcast), so the struct-array is unpacked ONCE per task into primitive
  * `Array[Array[Double]]` / `Array[Long]` — the per-row hot loop then does
  * pure double math with no accessor allocation (a per-row `getStruct` +
  * `getArray` per centroid cost ~45M short-lived objects per 100k x 448
  * assignment before this).
  */
trait CentroidDecode {
  @transient private var cids: Array[Long] = _
  @transient private var cents: Array[Array[Double]] = _
  @transient private var cachedBytes: Array[Byte] = _

  /** Cache validity is decided by a no-copy BYTE comparison against a
    * snapshot taken at decode time (`ByteArrayMethods.arrayEquals` over the
    * UnsafeArrayData's region — ~5 µs for a 448 x 64 codebook vs ~100 µs to
    * re-decode). Bytes equal => value equal, so this is SOUND for any
    * caller: per-row-varying codebooks simply re-decode every row (no
    * silent staleness), and the engine's broadcast-constant call sites hit
    * every time. Identity or region checks alone would NOT be sound —
    * whole-stage codegen reuses row buffers, so the same base + offset can
    * hold different bytes on the next row.
    */
  private def cacheValid(cs: ArrayData): Boolean = cs match {
    case u: org.apache.spark.sql.catalyst.expressions.UnsafeArrayData =>
      cachedBytes != null && u.getSizeInBytes == cachedBytes.length &&
        org.apache.spark.unsafe.array.ByteArrayMethods.arrayEquals(
          u.getBaseObject, u.getBaseOffset,
          cachedBytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
          cachedBytes.length)
    case _ => false // non-unsafe input: decode every call (correct, uncached)
  }

  protected def decoded(cs: ArrayData): (Array[Long], Array[Array[Double]]) = {
    if (!cacheValid(cs)) {
      val k = cs.numElements()
      val ids = new Array[Long](k)
      val cc = new Array[Array[Double]](k)
      var j = 0
      while (j < k) {
        val row = cs.getStruct(j, 2)
        ids(j) = row.getLong(0)
        cc(j) = row.getArray(1).toDoubleArray()
        j += 1
      }
      cids = ids; cents = cc
      cachedBytes = cs match {
        case u: org.apache.spark.sql.catalyst.expressions.UnsafeArrayData =>
          val copy = new Array[Byte](u.getSizeInBytes)
          org.apache.spark.unsafe.Platform.copyMemory(
            u.getBaseObject, u.getBaseOffset,
            copy, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, copy.length)
          copy
        case _ => null
      }
    }
    (cids, cents)
  }
}

/** The n smallest squared-euclidean (dist2, cid) centroid entries in ascending
  * (dist2, cid) order, selected in compiled code: a sort-then-slice over a
  * per-centroid distance array pays an interpreted comparator call per
  * struct comparison (k log k of them per row — the dominant cost of cell
  * ranking at k ~ sqrt(corpus)); this is one O(k * n) insertion pass with
  * primitive comparisons. n = 1 is the Lloyd argmin; n = NProbe is the IVF
  * probe set. Tie-break identical to array_sort/array_min on the struct:
  * lexicographic (dist2, cid).
  */
case class CellTopN(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    with CentroidDecode {

  override def nullIntolerant: Boolean = true

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("dist2", DoubleType, nullable = false),
        org.apache.spark.sql.types.StructField("cid", org.apache.spark.sql.types.LongType, nullable = false))),
      containsNull = false)

  override def nullSafeEval(a: Any, b: Any, nAny: Any): Any = {
    val v = a.asInstanceOf[ArrayData].toDoubleArray()
    val (cids, cents) = decoded(b.asInstanceOf[ArrayData])
    val topN = math.max(1, nAny.asInstanceOf[Number].intValue())
    val k = cids.length
    val m = math.min(topN, k)
    val bestD = Array.fill(m)(Double.PositiveInfinity)
    val bestC = Array.fill(m)(Long.MaxValue)
    var j = 0
    while (j < k) {
      val cid = cids(j)
      val c = cents(j)
      val dims = math.min(v.length, c.length)
      var s = 0.0
      var i = 0
      while (i < dims) { val dx = v(i) - c(i); s += dx * dx; i += 1 }
      // insertion into the sorted top-m buffer ((dist2, cid) ascending)
      if (s < bestD(m - 1) || (s == bestD(m - 1) && cid < bestC(m - 1))) {
        var p = m - 1
        while (p > 0 && (s < bestD(p - 1) || (s == bestD(p - 1) && cid < bestC(p - 1)))) {
          bestD(p) = bestD(p - 1); bestC(p) = bestC(p - 1); p -= 1
        }
        bestD(p) = s; bestC(p) = cid
      }
      j += 1
    }
    val out = new Array[Any](m)
    var p = 0
    while (p < m) { out(p) = InternalRow(bestD(p), bestC(p)); p += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** Element-wise exact sum of decimal vectors — the aggregation half of a
  * distributed centroid update. Input: array<decimal(p,s)> (cast upstream by
  * Spark's own double→decimal cast so the per-element rounding is identical
  * to the `sum(CAST(x AS DECIMAL))` form); buffer: exact java BigDecimal
  * per dimension (addition is exact and order-independent, so the result is
  * engine- and partitioning-independent); output: array<double>, each
  * element the sum's `doubleValue` — the same value `CAST(sum AS DOUBLE)`
  * yields.
  *
  * Replaces the posexplode → groupBy(cid, dim) → groupBy(cid) centroid
  * update: instead of exploding the corpus x dims and shuffling row-level
  * (cid, dim, x) triples, the map side combines every partition down to one
  * k x dims buffer and the shuffle carries only those — the mergeable-sketch
  * shape that keeps a Lloyd iteration at one tiny shuffle at any corpus
  * size.
  */
case class VecSumDec(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[Array[java.math.BigDecimal]]
  with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {

  private lazy val (prec, scale) = child.dataType match {
    case org.apache.spark.sql.types.ArrayType(dt: org.apache.spark.sql.types.DecimalType, _) =>
      (dt.precision, dt.scale)
    case t => throw new IllegalArgumentException(s"graft_vecsum_dec needs array<decimal>, got $t")
  }

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def createAggregationBuffer(): Array[java.math.BigDecimal] = null

  /** Dimension-wise sum semantics for ragged input: the buffer grows to the
    * longest array seen, missing dimensions contribute nothing, and null
    * elements are skipped (SQL sum-over-nulls) — a public SQL function must
    * not index-crash on a shorter/longer row or a null element (e.g. a
    * non-ANSI overflow-to-null cast upstream).
    */
  private def grown(buf: Array[java.math.BigDecimal], n: Int): Array[java.math.BigDecimal] =
    if (buf == null) Array.fill(n)(java.math.BigDecimal.ZERO)
    else if (buf.length >= n) buf
    else {
      val out = java.util.Arrays.copyOf(buf, n)
      var i = buf.length
      while (i < n) { out(i) = java.math.BigDecimal.ZERO; i += 1 }
      out
    }

  override def update(
      buf: Array[java.math.BigDecimal], input: InternalRow): Array[java.math.BigDecimal] = {
    val v = child.eval(input)
    if (v == null) return buf
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val acc = grown(buf, n)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val d = arr.getDecimal(i, prec, scale)
        if (d != null) acc(i) = acc(i).add(d.toJavaBigDecimal)
      }
      i += 1
    }
    acc
  }

  override def merge(
      a: Array[java.math.BigDecimal], b: Array[java.math.BigDecimal]): Array[java.math.BigDecimal] = {
    if (a == null) return b
    if (b == null) return a
    val acc = grown(a, b.length)
    var i = 0
    while (i < b.length) { acc(i) = acc(i).add(b(i)); i += 1 }
    acc
  }

  override def eval(buf: Array[java.math.BigDecimal]): Any =
    if (buf == null) null
    else ArrayData.toArrayData(buf.map(_.doubleValue()))

  override def serialize(buf: Array[java.math.BigDecimal]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(buf)
    oos.close()
    bos.toByteArray
  }
  override def deserialize(bytes: Array[Byte]): Array[java.math.BigDecimal] = {
    val ois = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes))
    ois.readObject().asInstanceOf[Array[java.math.BigDecimal]]
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VecSumDec =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VecSumDec =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(c: Expression): VecSumDec = copy(child = c)
}
