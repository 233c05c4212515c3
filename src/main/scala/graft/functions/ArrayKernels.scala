package graft.functions

import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, BoundReference, Expression,
  InterpretedUnsafeProjection, UnaryExpression, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil, TypeUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Array kernels for the similarity/dedup operators (SURVEY.md §2.D).
  *
  * The DataFrame-API equivalents (zip_with + aggregate lambdas, or a
  * 64-column min() aggregation for MinHash) evaluate interpreted
  * per-element; these expressions run one fused loop per row inside
  * whole-stage codegen. Numerics match the declarative forms exactly:
  * sequential left-to-right double accumulation (DuckDB-oracle parity).
  */
object ArrayKernels {

  /** cosine(a, b) = dot/(|a||b|), sequential fold over double arrays. */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i)
      val y = b.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** MinHash band keys: k min-hashes from the murmur3 family
    * (seed = hash index), folded into `bands` keys of k/bands rows
    * each (band contents hashed together with the band index mixed
    * in). One pass over the shingle array. */
  def minhashBands(shingles: ArrayData, k: Int, bands: Int): ArrayData = {
    val mins = new Array[Int](k)
    java.util.Arrays.fill(mins, Int.MaxValue)
    val n = shingles.numElements()
    var i = 0
    while (i < n) {
      val bytes = shingles.getUTF8String(i).getBytes
      var j = 0
      while (j < k) {
        val h = IcebergHash.murmur3(bytes, j)
        if (h < mins(j)) mins(j) = h
        j += 1
      }
      i += 1
    }
    val rows = k / bands
    val out = new Array[Int](bands)
    var b = 0
    while (b < bands) {
      var acc = b // mix the band index so identical row-slices differ
      var r = 0
      while (r < rows) {
        acc = acc * 0x01000193 ^ mins(b * rows + r)
        r += 1
      }
      out(b) = acc
      b += 1
    }
    new GenericArrayData(out.map(Int.box))
  }

  /** Exact Jaccard over two string arrays (set semantics). */
  def jaccard(a: ArrayData, b: ArrayData): Double = {
    val setA = new java.util.HashSet[UTF8String]()
    var i = 0
    while (i < a.numElements()) { setA.add(a.getUTF8String(i)); i += 1 }
    val setB = new java.util.HashSet[UTF8String]()
    i = 0
    while (i < b.numElements()) { setB.add(b.getUTF8String(i)); i += 1 }
    var inter = 0
    val it = setA.iterator()
    while (it.hasNext) if (setB.contains(it.next())) inter += 1
    val union = setA.size + setB.size - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }

  /** Overlap coefficient |A∩B| / min(|A|,|B|) of two SORTED long
    * arrays by linear merge — no per-element boxing, no hash set;
    * the verify kernel of the containment set-similarity join. */
  def sortedOverlap(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements(); val m = b.numElements()
    var i = 0; var j = 0; var inter = 0
    while (i < n && j < m) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    val mn = if (n < m) n else m
    if (mn == 0) 1.0 else inter.toDouble / mn
  }

  /** Spark's `round(x, scale)` on a double: HALF_UP on the shortest
    * decimal form of `x`; NaN and infinities pass through. */
  def roundHalfUp(x: Double, scale: Int): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Index of the codebook entry nearest to `v` by cosine, -1 when there
    * is none. A codebook is an array of struct<cluster, centroid> sorted
    * by cluster (`CentroidCodebook`); entries with a null centroid are
    * skipped, and ties keep the earlier entry, the lower cluster.
    *  - `scale` < 0 ranks the raw cosine as `max_by` does: in SQL double
    *    order (NaN above every number), a null vector matching nothing.
    *  - `scale` >= 0 ranks `round(cosine, scale)` as the minimum of its
    *    negation does: NaN below every number, and a null vector, whose
    *    cosines all tie at null, takes the first entry. */
  def nearestCentroid(v: ArrayData, book: ArrayData, scale: Int): Int = {
    val n = book.numElements()
    if (v == null) return if (scale >= 0 && n > 0) 0 else -1
    var best = -1
    var bestCos = 0.0
    var i = 0
    while (i < n) {
      val entry = book.getStruct(i, 2)
      if (!entry.isNullAt(1)) {
        val raw = cosine(v, entry.getArray(1))
        val cos = if (scale >= 0) roundHalfUp(raw, scale) else raw
        if (best < 0 ||
            (if (scale >= 0) SQLOrderingUtil.compareDoubles(-cos, -bestCos) < 0
             else SQLOrderingUtil.compareDoubles(cos, bestCos) > 0)) {
          best = i
          bestCos = cos
        }
      }
      i += 1
    }
    best
  }

  /** The clusters of the `k` codebook entries nearest to `v`, best
    * first, in the order of a window over (cosine DESC, cluster): SQL
    * double order (NaN first), ties in codebook order. A null vector's
    * cosines all tie at null, so it gets the first `k` entries. Entries
    * with a null centroid are skipped. */
  def topCentroids(v: ArrayData, book: ArrayData, k: Int,
      clusterType: DataType): ArrayData = {
    val top = new Array[Int](k)
    val topCos = new Array[Double](k)
    var m = 0
    var i = 0
    while (i < book.numElements()) {
      val entry = book.getStruct(i, 2)
      if (!entry.isNullAt(1)) {
        val cos = if (v == null) 0.0 else cosine(v, entry.getArray(1))
        var p = m
        while (p > 0 && SQLOrderingUtil.compareDoubles(cos, topCos(p - 1)) > 0) p -= 1
        if (p < k) {
          val last = math.min(m, k - 1)
          System.arraycopy(top, p, top, p + 1, last - p)
          System.arraycopy(topCos, p, topCos, p + 1, last - p)
          top(p) = i
          topCos(p) = cos
          m = last + 1
        }
      }
      i += 1
    }
    new GenericArrayData(Array.tabulate[Any](m) { j =>
      val entry = book.getStruct(top(j), 2)
      if (entry.isNullAt(0)) null else InternalRow.copyValue(entry.get(0, clusterType))
    })
  }

  def cosineSim(a: Column, b: Column): Column =
    GraftShim.column(CosineSim(GraftShim.expression(a), GraftShim.expression(b)))

  def sortedOverlapCol(a: Column, b: Column): Column =
    GraftShim.column(SortedOverlap(GraftShim.expression(a), GraftShim.expression(b)))

  def minhashBandKeys(shingles: Column, k: Int, bands: Int): Column =
    GraftShim.column(MinHashBands(GraftShim.expression(shingles), k, bands))

  def jaccardSim(a: Column, b: Column): Column =
    GraftShim.column(JaccardSim(GraftShim.expression(a), GraftShim.expression(b)))

  /** Aggregate: the codebook of per-cluster mean vectors, one row. */
  def centroidCodebook(cluster: Column, vec: Column, dim: Int): Column =
    GraftShim.column(CentroidCodebook(GraftShim.expression(cluster),
      GraftShim.expression(vec), dim).toAggregateExpression())

  /** The cluster of `book`'s entry nearest to `vec`; `scale` >= 0 ranks
    * `round(cosine, scale)` instead of the raw cosine. */
  def nearestCentroid(vec: Column, book: Column, scale: Int = -1): Column =
    GraftShim.column(NearestCentroid(GraftShim.expression(vec),
      GraftShim.expression(book), scale))

  /** The clusters of `book`'s `k` entries nearest to `vec`, best first. */
  def topCentroids(vec: Column, book: Column, k: Int): Column =
    GraftShim.column(TopCentroids(GraftShim.expression(vec),
      GraftShim.expression(book), k))
}

case class CosineSim(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    ArrayKernels.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.ArrayKernels$$.MODULE$$.cosine($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
    copy(left = l, right = r)
  override def prettyName: String = "cosine_sim"
}

case class MinHashBands(child: Expression, k: Int, bands: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    ArrayKernels.minhashBands(v.asInstanceOf[ArrayData], k, bands)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.ArrayKernels$$.MODULE$$.minhashBands($c, $k, $bands)")
  override protected def withNewChildInternal(newChild: Expression): MinHashBands =
    copy(child = newChild)
  override def prettyName: String = "minhash_bands"
}

case class SortedOverlap(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    ArrayKernels.sortedOverlap(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.ArrayKernels$$.MODULE$$.sortedOverlap($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedOverlap =
    copy(left = l, right = r)
  override def prettyName: String = "sorted_overlap"
}

case class JaccardSim(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    ArrayKernels.jaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.ArrayKernels$$.MODULE$$.jaccard($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaccardSim =
    copy(left = l, right = r)
  override def prettyName: String = "jaccard_sim"
}

/** Per-cluster mean vectors over (cluster, vector) rows, as ONE value:
  * the codebook array<struct<cluster, centroid: array<double>>>, sorted
  * by cluster (null first). Dimension `d` of a centroid is `avg(vec[d])`
  * over the cluster's rows to the bit: a double sum in input order,
  * merged across partial buffers as `avg` merges, then one divide by the
  * count of non-null values (null when there are none). A null vector
  * adds nothing but still gives its cluster an entry, as a group of
  * `avg` does; `dim` fixes the centroid width, and elements past a
  * shorter vector's end count as null.
  *
  * A grouping `avg` per dimension carries 2 * `dim` buffer columns, too
  * many for whole-stage codegen, and yields a row per cluster that must
  * be reassembled; this buffer is one map from cluster to sums and
  * counts, and its one output row broadcasts whole. */
case class CentroidCodebook(cluster: Expression, vec: Expression, dim: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[java.util.HashMap[Any, CentroidCodebook.Sums]]
    with BinaryLike[Expression] {
  import CentroidCodebook.Sums
  type Buffer = java.util.HashMap[Any, Sums]

  override def left: Expression = cluster
  override def right: Expression = vec
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("cluster", cluster.dataType),
    StructField("centroid", ArrayType(DoubleType, containsNull = true)))),
    containsNull = false)
  override def prettyName: String = "centroid_codebook"

  override def checkInputDataTypes(): TypeCheckResult = vec.dataType match {
    case ArrayType(DoubleType, _) if dim > 0 => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs an array<double> vector and a positive dim, got $other and $dim")
  }

  override def createAggregationBuffer(): Buffer = new java.util.HashMap[Any, Sums]()

  private def sumsOf(buf: Buffer, key: Any): Sums = {
    var s = buf.get(key)
    if (s == null) {
      s = new Sums(new Array[Double](dim), new Array[Long](dim))
      buf.put(InternalRow.copyValue(key), s)
    }
    s
  }

  override def update(buf: Buffer, input: InternalRow): Buffer = {
    val s = sumsOf(buf, cluster.eval(input))
    val v = vec.eval(input).asInstanceOf[ArrayData]
    if (v != null) {
      val n = math.min(dim, v.numElements())
      var i = 0
      while (i < n) {
        if (!v.isNullAt(i)) {
          s.sums(i) += v.getDouble(i)
          s.counts(i) += 1
        }
        i += 1
      }
    }
    buf
  }

  override def merge(buf: Buffer, other: Buffer): Buffer = {
    other.forEach { (key, o) =>
      val s = sumsOf(buf, key)
      var i = 0
      while (i < dim) {
        s.sums(i) += o.sums(i)
        s.counts(i) += o.counts(i)
        i += 1
      }
    }
    buf
  }

  override def eval(buf: Buffer): Any = {
    val ordering = TypeUtils.getInterpretedOrdering(cluster.dataType)
    val keys = new java.util.ArrayList[Any](buf.keySet())
    keys.sort((a, b) =>
      if (a == null) (if (b == null) 0 else -1)
      else if (b == null) 1
      else ordering.compare(a, b))
    val entries = new Array[Any](keys.size)
    var j = 0
    while (j < entries.length) {
      val s = buf.get(keys.get(j))
      entries(j) = InternalRow(keys.get(j), new GenericArrayData(Array.tabulate[Any](dim) { i =>
        if (s.counts(i) == 0) null else s.sums(i) / s.counts(i).toDouble
      }))
      j += 1
    }
    new GenericArrayData(entries)
  }

  // one row per partial buffer: array<struct<cluster, sums, counts>>
  private lazy val bufferProjection = InterpretedUnsafeProjection.createProjection(Seq(
    BoundReference(0, ArrayType(StructType(Seq(
      StructField("cluster", cluster.dataType),
      StructField("sums", ArrayType(DoubleType, containsNull = false)),
      StructField("counts", ArrayType(LongType, containsNull = false)))),
      containsNull = false), nullable = false)))

  override def serialize(buf: Buffer): Array[Byte] = {
    val rows = new java.util.ArrayList[Any](buf.size)
    buf.forEach { (key, s) =>
      rows.add(InternalRow(key, new GenericArrayData(s.sums), new GenericArrayData(s.counts)))
    }
    bufferProjection(InternalRow(new GenericArrayData(rows.toArray))).getBytes
  }

  override def deserialize(bytes: Array[Byte]): Buffer = {
    val row = new UnsafeRow(1)
    row.pointTo(bytes, bytes.length)
    val rows = row.getArray(0)
    val buf = createAggregationBuffer()
    var j = 0
    while (j < rows.numElements()) {
      val r = rows.getStruct(j, 3)
      val key = if (r.isNullAt(0)) null else r.get(0, cluster.dataType)
      buf.put(InternalRow.copyValue(key),
        new Sums(r.getArray(1).toDoubleArray(), r.getArray(2).toLongArray()))
      j += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): CentroidCodebook =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): CentroidCodebook =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CentroidCodebook =
    copy(cluster = l, vec = r)
}

object CentroidCodebook {
  /** Running per-dimension sums and non-null counts of one cluster. */
  final class Sums(val sums: Array[Double], val counts: Array[Long])
}

/** A codebook lookup for one vector: the vector may be null (the kernels
  * rank its cosines as null), a null codebook gives null. */
abstract class CodebookLookup extends BinaryExpression {
  override def nullable: Boolean = true
  protected def clusterType: DataType =
    right.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType].fields(0).dataType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _), ArrayType(StructType(Array(_,
        StructField(_, ArrayType(DoubleType, _), _, _))), _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (v, b) => TypeCheckResult.TypeCheckFailure(s"$prettyName needs an array<double> " +
      s"vector and an array<struct<cluster, array<double>>> codebook, got $v and $b")
  }

  protected def lookup(v: ArrayData, book: ArrayData): Any

  override def eval(input: InternalRow): Any = {
    val book = right.eval(input)
    if (book == null) null
    else lookup(left.eval(input).asInstanceOf[ArrayData], book.asInstanceOf[ArrayData])
  }

  /** Java code that sets `ev.value`/`ev.isNull` from `v` (null when the
    * vector is) and the non-null codebook `book`. */
  protected def lookupCode(ctx: CodegenContext, ev: ExprCode, v: String, book: String): String

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val v = left.genCode(ctx)
    val b = right.genCode(ctx)
    ev.copy(code = code"""
      ${v.code}
      ${b.code}
      boolean ${ev.isNull} = true;
      ${CodeGenerator.javaType(dataType)} ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
      if (!${b.isNull}) {
        ${lookupCode(ctx, ev, s"(${v.isNull} ? null : ${v.value})", b.value.toString)}
      }""")
  }
}

/** The cluster of the codebook entry nearest to the vector
  * (`ArrayKernels.nearestCentroid`): the argmax of a vector's cosine
  * against every centroid without grouping by vector. */
case class NearestCentroid(left: Expression, right: Expression, scale: Int)
    extends CodebookLookup {
  override def dataType: DataType = clusterType
  override def prettyName: String = "nearest_centroid"

  protected def lookup(v: ArrayData, book: ArrayData): Any = {
    val i = ArrayKernels.nearestCentroid(v, book, scale)
    if (i < 0) null else book.getStruct(i, 2).get(0, dataType)
  }

  protected def lookupCode(ctx: CodegenContext, ev: ExprCode, v: String, book: String): String = {
    val idx = ctx.freshName("idx")
    val entry = s"$book.getStruct($idx, 2)"
    s"""int $idx = graft.functions.ArrayKernels$$.MODULE$$.nearestCentroid($v, $book, $scale);
       |if ($idx >= 0 && !$entry.isNullAt(0)) {
       |  ${ev.isNull} = false;
       |  ${ev.value} = ${CodeGenerator.getValue(entry, dataType, "0")};
       |}""".stripMargin
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): NearestCentroid =
    copy(left = l, right = r)
}

/** The clusters of the `k` codebook entries nearest to the vector, best
  * first (`ArrayKernels.topCentroids`): a per-vector top-k without a
  * window. */
case class TopCentroids(left: Expression, right: Expression, k: Int) extends CodebookLookup {
  override def dataType: DataType = ArrayType(clusterType, containsNull = true)
  override def prettyName: String = "top_centroids"
  override def checkInputDataTypes(): TypeCheckResult =
    if (k > 0) super.checkInputDataTypes()
    else TypeCheckResult.TypeCheckFailure(s"$prettyName needs k > 0, got $k")

  protected def lookup(v: ArrayData, book: ArrayData): Any =
    ArrayKernels.topCentroids(v, book, k, clusterType)

  protected def lookupCode(ctx: CodegenContext, ev: ExprCode, v: String, book: String): String = {
    val t = ctx.addReferenceObj("clusterType", clusterType, classOf[DataType].getName)
    s"""${ev.isNull} = false;
       |${ev.value} = graft.functions.ArrayKernels$$.MODULE$$.topCentroids($v, $book, $k, $t);"""
      .stripMargin
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): TopCentroids =
    copy(left = l, right = r)
}
