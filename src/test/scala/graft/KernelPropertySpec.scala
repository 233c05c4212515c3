package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{ArrayKernels, IcebergHash, TextHash}
import scala.util.Random

/** Property-style checks for the hashing/similarity kernels, over
  * seeded random samples (deterministic across runs). */
class KernelPropertySpec extends AnyFunSuite {
  private val rnd = new Random(42)

  private def randString(): String =
    Random.javaRandomToRandom(new java.util.Random(rnd.nextLong()))
      .alphanumeric.take(rnd.nextInt(30)).mkString

  test("bucket is always in [0, n) across the long range") {
    val samples = Seq(0L, 1L, -1L, Long.MaxValue, Long.MinValue) ++
      (1 to 1000).map(_ => rnd.nextLong())
    samples.foreach { v =>
      val b = IcebergHash.bucketLong(v, 16)
      assert(b >= 0 && b < 16, s"v=$v b=$b")
    }
  }

  test("bucket over strings is deterministic and range-bound") {
    (1 to 500).foreach { _ =>
      val s = randString()
      val b1 = IcebergHash.bucketUtf8(UTF8String.fromString(s), 32)
      val b2 = IcebergHash.bucketUtf8(UTF8String.fromString(s), 32)
      assert(b1 === b2)
      assert(b1 >= 0 && b1 < 32)
    }
  }

  test("decimal single-value codec round-trips random values exactly") {
    import org.apache.spark.sql.types.DecimalType
    import graft.table.iceberg.IcebergTypes
    (1 to 500).foreach { _ =>
      val precision = 1 + rnd.nextInt(38)
      val scale = rnd.nextInt(precision + 1)
      val d = DecimalType(precision, scale)
      // random unscaled value within precision
      val digits = 1 + rnd.nextInt(precision)
      val unscaled = new java.math.BigInteger(
        (if (rnd.nextBoolean()) "-" else "") +
          (1 to digits).map(_ => rnd.nextInt(10)).mkString.dropWhile(_ == '0')
            .padTo(1, '0').mkString)
      val v = new java.math.BigDecimal(unscaled, scale)
      val back = IcebergTypes.decodeToCanonical(d, IcebergTypes.encode(d, v))
      assert(back === Some(v.toPlainString), s"$d $v -> $back")
      // value-order comparator property: encode/decode preserves order
      val v2 = v.add(java.math.BigDecimal.valueOf(1L, scale))
      val s1 = IcebergTypes.decodeToCanonical(d, IcebergTypes.encode(d, v)).get
      val s2 = IcebergTypes.decodeToCanonical(d, IcebergTypes.encode(d, v2)).get
      assert(new java.math.BigDecimal(s1).compareTo(new java.math.BigDecimal(s2)) < 0)
    }
  }

  test("nested Iceberg type forms round-trip random Spark schemas") {
    import org.apache.spark.sql.types._
    import graft.table.iceberg.IcebergTypes
    val primitives = Seq(BooleanType, IntegerType, LongType, FloatType,
      DoubleType, StringType, DateType, TimestampType, BinaryType,
      DecimalType(12, 3))
    def randType(depth: Int): DataType =
      if (depth == 0) primitives(rnd.nextInt(primitives.size))
      else rnd.nextInt(4) match {
        case 0 => StructType((1 to 1 + rnd.nextInt(3)).map(i =>
          StructField(s"f$i", randType(depth - 1), nullable = rnd.nextBoolean())))
        case 1 => ArrayType(randType(depth - 1), containsNull = rnd.nextBoolean())
        case 2 => MapType(randType(0), randType(depth - 1),
          valueContainsNull = rnd.nextBoolean())
        case _ => primitives(rnd.nextInt(primitives.size))
      }
    (1 to 200).foreach { _ =>
      val t = randType(1 + rnd.nextInt(3))
      var next = 0
      val alloc = () => { next += 1; next }
      val back = IcebergTypes.toSpark(IcebergTypes.toIcebergNested(t, alloc))
      assert(back === t, s"round-trip drifted: $t -> $back")
    }
  }

  test("murmur3 distributes: 1000 sequential keys fill most of 32 buckets") {
    val hit = (0 until 1000).map(i => IcebergHash.bucketLong(i.toLong, 32)).toSet
    assert(hit.size >= 28, s"only ${hit.size} buckets hit")
  }

  private def arr(xs: Seq[String]) =
    new GenericArrayData(xs.map(UTF8String.fromString).toArray[Any])

  test("KMV sketch: order/partition-insensitive, exact below k, bounded error above") {
    import graft.functions.KmvDistinct
    def sketch(keys: Seq[Long]): Array[Long] =
      keys.foldLeft(KmvDistinct.zero)(KmvDistinct.reduce)
    // exact regime: < k distinct keys → finish returns the exact count
    val small = (1 to 40).map(_ => rnd.nextLong()).distinct
    assert(KmvDistinct.finish(sketch(small)) === small.size.toDouble)
    // duplicates never inflate the state
    assert(KmvDistinct.finish(sketch(small ++ small)) === small.size.toDouble)
    // estimator regime: the k smallest of a set are order-insensitive,
    // so any partitioning + merge order gives the identical sketch
    val big = (1 to 5000).map(_ => rnd.nextLong()).distinct
    val whole = sketch(big)
    val shuffled = rnd.shuffle(big)
    val parts = shuffled.grouped(617).map(sketch).toList
    val merged = parts.reduce(KmvDistinct.merge)
    val mergedRev = parts.reverse.reduce(KmvDistinct.merge)
    assert(whole.toSeq === merged.toSeq)
    assert(whole.toSeq === mergedRev.toSeq)
    // k=64 → stderr ~1/sqrt(62) ≈ 12.7%; assert within 5 sigma
    val est = KmvDistinct.finish(whole)
    assert(math.abs(est - big.size) / big.size < 0.64,
      s"estimate $est too far from ${big.size}")
  }

  test("jaccard is bounded, reflexive, and symmetric") {
    (1 to 200).foreach { _ =>
      val a = Seq.fill(rnd.nextInt(20) + 1)(randString())
      val b = Seq.fill(rnd.nextInt(20) + 1)(randString())
      val j = ArrayKernels.jaccard(arr(a), arr(b))
      assert(j >= 0.0 && j <= 1.0)
      assert(ArrayKernels.jaccard(arr(a), arr(a)) === 1.0)
      assert(ArrayKernels.jaccard(arr(b), arr(a)) === j)
    }
  }

  test("cosine of a vector with itself is 1") {
    (1 to 200).foreach { _ =>
      val v = Array.fill(16)(rnd.nextDouble() * 200 - 100)
      if (v.exists(x => math.abs(x) > 1e-3)) {
        val a = new GenericArrayData(v.map(Double.box).toArray[Any])
        assert(math.abs(ArrayKernels.cosine(a, a) - 1.0) < 1e-9)
      }
    }
  }

  test("simhash is deterministic; disjoint vocab differs") {
    (1 to 200).foreach { _ =>
      val s = randString() + " " + randString()
      assert(TextHash.simhash64(UTF8String.fromString(s)) ===
        TextHash.simhash64(UTF8String.fromString(s)))
    }
    val a = TextHash.simhash64(UTF8String.fromString("alpha beta gamma delta"))
    val b = TextHash.simhash64(UTF8String.fromString("one two three four"))
    assert(a !== b)
  }

  test("z-key normalizations are order-preserving at full width") {
    import graft.functions.ZOrderKeys._
    def unsignedLt(a: Long, b: Long) = java.lang.Long.compareUnsigned(a, b) < 0
    val longs = (Seq(Long.MinValue, -3000000000L, -1L, 0L, 1L,
      Int.MaxValue.toLong + 5, Long.MaxValue) ++
      (1 to 500).map(_ => rnd.nextLong())).distinct.sorted
    longs.sliding(2).foreach { case Seq(a, b) =>
      assert(unsignedLt(normSignedLong(a), normSignedLong(b)), s"$a < $b")
    }
    val doubles = (Seq(Double.NegativeInfinity, -1e300, -1.5, -0.0, 0.0,
      Double.MinPositiveValue, 2.5, 1e300, Double.PositiveInfinity) ++
      (1 to 500).map(_ => rnd.nextGaussian() * 1e12)).distinct.sorted
    doubles.sliding(2).foreach { case Seq(a, b) =>
      if (a < b) // -0.0/0.0 dedup survives .distinct but compares equal
        assert(unsignedLt(normDouble(a), normDouble(b)), s"$a < $b")
    }
    val strings = (1 to 300).map(_ => randString()).distinct.sorted
    strings.sliding(2).foreach { case Seq(a, b) =>
      val (na, nb) = (normPrefix(a.getBytes("UTF-8")),
        normPrefix(b.getBytes("UTF-8")))
      assert(unsignedLt(na, nb) || na == nb, s"$a <= $b") // 8-byte prefix ties
    }
  }

  test("n-way interleave is order-preserving per dimension") {
    import graft.functions.ZOrderKeys._
    def cmp(a: Array[Byte], b: Array[Byte]): Int = {
      var i = 0
      while (i < a.length) {
        val d = (a(i) & 0xff) - (b(i) & 0xff)
        if (d != 0) return d
        i += 1
      }
      0
    }
    (2 to 4).foreach { n =>
      val fixed = Array.fill(n)(rnd.nextLong())
      (0 until n).foreach { dim =>
        val samples = (1 to 200).map(_ => rnd.nextLong())
          .sortWith(java.lang.Long.compareUnsigned(_, _) < 0)
        val keys = samples.map { v =>
          val vals = fixed.clone(); vals(dim) = v; interleave(vals)
        }
        keys.sliding(2).foreach { case Seq(a, b) =>
          assert(cmp(a, b) <= 0, s"n=$n dim=$dim")
        }
      }
    }
  }

  test("sortedOverlap equals the naive set overlap on random arrays") {
    (1 to 300).foreach { _ =>
      val a = (1 to rnd.nextInt(60))
        .map(_ => rnd.nextInt(100).toLong).distinct.sorted
      val b = (1 to rnd.nextInt(60))
        .map(_ => rnd.nextInt(100).toLong).distinct.sorted
      val got = ArrayKernels.sortedOverlap(
        new GenericArrayData(a.toArray), new GenericArrayData(b.toArray))
      val mn = math.min(a.size, b.size)
      val expected =
        if (mn == 0) 1.0
        else a.toSet.intersect(b.toSet).size.toDouble / mn
      assert(got === expected, s"a=$a b=$b")
    }
  }

  test("zOrder2 de-interleaves back to its (LSB-dropped) inputs") {
    def unspread(z: Long): Long = {
      var x = z & 0x5555555555555555L
      x = (x | (x >> 1)) & 0x3333333333333333L
      x = (x | (x >> 2)) & 0x0f0f0f0f0f0f0f0fL
      x = (x | (x >> 4)) & 0x00ff00ff00ff00ffL
      x = (x | (x >> 8)) & 0x0000ffff0000ffffL
      (x | (x >> 16)) & 0xffffffffL
    }
    val samples = Seq(0, 1, -1, Int.MaxValue, Int.MinValue) ++
      (1 to 1000).map(_ => rnd.nextInt())
    for (a <- samples.take(40); b <- samples.take(40)) {
      val z = graft.functions.ZOrderKeys.zOrder2(a, b)
      assert(z >= 0, s"z key must keep the sign bit clear: a=$a b=$b")
      val ua = ((a ^ Int.MinValue).toLong & 0xffffffffL) >>> 1
      val ub = ((b ^ Int.MinValue).toLong & 0xffffffffL) >>> 1
      assert(unspread(z) === ua && unspread(z >> 1) === ub,
        s"interleave not bijective at a=$a b=$b")
    }
  }

  test("zOrder2 keys agree iff both LSB-dropped dimensions agree") {
    (1 to 500).foreach { _ =>
      val (a1, b1) = (rnd.nextInt(), rnd.nextInt())
      val (a2, b2) = (rnd.nextInt(), rnd.nextInt())
      val eq = ((a1 ^ a2) & ~1) == 0 && ((b1 ^ b2) & ~1) == 0
      assert((graft.functions.ZOrderKeys.zOrder2(a1, b1) ==
        graft.functions.ZOrderKeys.zOrder2(a2, b2)) === eq)
    }
  }

  test("minhash bands: subset similarity raises band agreement") {
    def bands(xs: Seq[String]) =
      (0 until 16).map(i => ArrayKernels.minhashBands(arr(xs), 64, 16).getInt(i))
    val base = (1 to 40).map(i => s"sh_$i")
    val near = base.drop(2) ++ Seq("x_1", "x_2") // ~90% overlap
    val far = (100 to 140).map(i => s"sh_$i")
    val agreeNear = bands(base).zip(bands(near)).count { case (x, y) => x == y }
    val agreeFar = bands(base).zip(bands(far)).count { case (x, y) => x == y }
    assert(agreeNear > agreeFar)
    assert(agreeFar === 0)
  }

  // ---- codebook kernels, against the declarative forms they replace --

  private def vecs(n: Int, dim: Int): Seq[Array[Double]] =
    Seq.fill(n)(Array.fill(dim)(rnd.nextGaussian() * math.pow(10, rnd.nextInt(7) - 3)))

  /** Codebook rows (cluster, centroid) with exact ties: cluster 4 repeats
    * cluster 1's centroid, cluster 6 is cluster 2's scaled by 3 (equal up
    * to rounding error), and cluster 7 repeats cluster 5's. */
  private def tiedCodebook(dim: Int): Seq[(Int, Array[Double])] = {
    val base = vecs(6, dim)
    Seq(0 -> base(0), 1 -> base(1), 2 -> base(2), 3 -> base(3), 4 -> base(1).clone,
      5 -> base(4), 6 -> base(2).map(_ * 3), 7 -> base(4).clone)
  }

  test("nearest and top-k centroids equal the declarative argmax and window") {
    import SparkTestSession.spark
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.catalyst.expressions.Literal
    import graft.functions.{NearestCentroid, TopCentroids}
    val s = spark
    import s.implicits._
    val dim = 8
    val book = tiedCodebook(dim)
    // queries include the centroids themselves, so exact ties occur
    val qs = (vecs(150, dim) ++ book.map(_._2)).zipWithIndex
      .map { case (v, i) => (i.toLong, v.toSeq) }
    val q = qs.toDF("vec_id", "emb")
    val cents = book.map { case (c, v) => (c, v.toSeq) }.toDF("cluster", "cemb")
    val codebook = cents.agg(sort_array(collect_list(struct(col("cluster"), col("cemb"))))
      .as("book"))
    val pairs = q.crossJoin(cents)
      .withColumn("cos", ArrayKernels.cosineSim(col("emb"), col("cemb")))
    val byRank = Window.partitionBy(col("vec_id")).orderBy(col("cos").desc, col("cluster"))
    val ranked = pairs.withColumn("r", row_number().over(byRank))
    val argmax = ranked.filter(col("r") === 1)
      .select(col("vec_id"), col("cluster")).as[(Long, Int)].collect().toMap
    val rounded = pairs.groupBy(col("vec_id"))
      .agg(min(struct((-round(col("cos"), 6)).as("neg"), col("cluster"))).as("best"))
      .select(col("vec_id"), col("best.cluster")).as[(Long, Int)].collect().toMap
    val top3 = ranked.filter(col("r") <= 3).groupBy(col("vec_id"))
      .agg(sort_array(collect_list(struct(col("r"), col("cluster")))).as("t"))
      .select(col("vec_id"), col("t.cluster")).as[(Long, Seq[Int])].collect().toMap
    val got = q.crossJoin(codebook).select(col("vec_id"),
        ArrayKernels.nearestCentroid(col("emb"), col("book")),
        ArrayKernels.nearestCentroid(col("emb"), col("book"), 6),
        ArrayKernels.topCentroids(col("emb"), col("book"), 3),
        ArrayKernels.topCentroids(col("emb"), col("book"), 20))
      .as[(Long, Int, Int, Seq[Int], Seq[Int])].collect()
    assert(got.length === qs.size)
    val bookValue = codebook.queryExecution.toRdd.first().getArray(0).copy()
    got.foreach { case (id, near, near6, t3, t20) =>
      assert(near === argmax(id), s"raw argmax of vector $id")
      assert(near6 === rounded(id), s"rounded argmin of vector $id")
      assert(t3 === top3(id), s"top-3 window of vector $id")
      assert(t20.size === book.size && t20.take(3) === t3)
      // the interpreted path agrees with the generated code
      val v = Literal.create(qs(id.toInt)._2.toArray, ArrayType(DoubleType))
      val b = Literal(bookValue, codebook.schema("book").dataType)
      assert(NearestCentroid(v, b, -1).eval() === near)
      assert(NearestCentroid(v, b, 6).eval() === near6)
      assert(TopCentroids(v, b, 3).eval().asInstanceOf[ArrayData].toIntArray().toSeq === t3)
    }
    // the duplicated centroids tie exactly, and ties go to the lower cluster
    assert(got.exists(_._2 == 1) && !got.exists(_._2 == 4))
    assert(got.exists(_._2 == 5) && !got.exists(_._2 == 7))
    // a null vector matches nothing raw, takes the first entry rounded and
    // the first k entries in the window
    val nul = Literal.create(null, ArrayType(DoubleType))
    val b = Literal(bookValue, codebook.schema("book").dataType)
    assert(NearestCentroid(nul, b, -1).eval() === null)
    assert(NearestCentroid(nul, b, 6).eval() === 0)
    assert(TopCentroids(nul, b, 2).eval().asInstanceOf[ArrayData].toIntArray().toSeq === Seq(0, 1))
  }

  test("centroid codebook equals the per-dimension avg bit for bit, skipping nulls") {
    import SparkTestSession.spark
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions._
    val dim = 6
    val schema = StructType(Seq(StructField("label", IntegerType),
      StructField("emb", ArrayType(DoubleType, containsNull = true))))
    val rows = vecs(400, dim).map { v =>
      val label = rnd.nextInt(5)
      if (rnd.nextInt(20) == 0) Row(label, null) // a null embedding
      else if (rnd.nextInt(20) == 0) Row(label, v.toSeq.updated(rnd.nextInt(dim), null))
      else Row(label, v.toSeq)
    } ++ Seq.fill(3)(Row(9, null)) // a cluster of null embeddings only
    // several input partitions, so partial buffers merge
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
    val avgs = (0 until dim).map(i => avg(col("emb").getItem(i)))
    val expected = df.groupBy(col("label")).agg(avgs.head, avgs.tail: _*)
      .collect().map(r => r.getInt(0) -> (1 to dim).map(i => r.get(i))).toMap
    val book = df.agg(ArrayKernels.centroidCodebook(col("label"), col("emb"), dim).as("book"))
      .collect().head.getSeq[Row](0)
    assert(book.map(_.getInt(0)) === expected.keys.toSeq.sorted)
    book.foreach { e =>
      val means = e.getSeq[Any](1)
      expected(e.getInt(0)).zip(means).foreach {
        case (a: Double, b: Double) =>
          assert(java.lang.Double.doubleToRawLongBits(a) ===
            java.lang.Double.doubleToRawLongBits(b), s"cluster ${e.getInt(0)}: $a != $b")
        case (a, b) => assert(a === b)
      }
    }
    assert(book.last.getSeq[Any](1) === Seq.fill(dim)(null))
    // an empty input is an empty codebook
    assert(df.filter(lit(false))
      .agg(ArrayKernels.centroidCodebook(col("label"), col("emb"), dim))
      .collect().head.getSeq[Row](0).isEmpty)
  }
}
