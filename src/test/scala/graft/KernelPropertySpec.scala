package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions._

/** ScalaCheck-generated property tests for the custom codegen
  * kernels: each property evaluates a fixed seeded sample of random
  * inputs in ONE Spark job and compares against a scala-side
  * reference implementation (so codegen and interpreted paths are
  * both exercised through the real expression). */
class KernelPropertySpec extends AnyFunSuite {
  import TestSession._

  private def sample[A](g: Gen[A], n: Int, seed: Long): Seq[A] =
    Gen.listOfN(n, g).apply(Gen.Parameters.default, Seed(seed))
      .getOrElse(fail("scalacheck generation failed"))

  private val tokenGen: Gen[Seq[String]] =
    Gen.choose(0, 30).flatMap(k =>
      Gen.listOfN(k, Gen.oneOf("a", "b", "c", "d", "e", "f")).map(_.toSeq))

  private val vecGen: Gen[Seq[Float]] =
    Gen.listOfN(8, Gen.chooseNum(-1.0f, 1.0f)).map(_.toSeq)

  test("property: sorted_jaccard equals the set formula |A∩B|/|A∪B|") {
    import spark.implicits._
    val rows = sample(Gen.zip(tokenGen, tokenGen), 200, 42L)
    val got = rows.toDF("a", "b")
      .select(sorted_jaccard(
        array_sort(array_distinct(col("a"))),
        array_sort(array_distinct(col("b")))).as("j"))
      .collect().map(_.getDouble(0))
    rows.zip(got).foreach { case ((a, b), j) =>
      val (sa, sb) = (a.toSet, b.toSet)
      val expected =
        if (sa.union(sb).isEmpty) 0.0
        else sa.intersect(sb).size.toDouble / sa.union(sb).size
      assert(j === expected, s"a=$a b=$b")
    }
  }

  test("property: text_shingles equals sliding-window concatenation") {
    import spark.implicits._
    val rows = sample(tokenGen, 200, 43L)
    val got = rows.toDF("t")
      .select(text_shingles(col("t"), 3).as("sh"))
      .collect().map(_.getSeq[String](0))
    rows.zip(got).foreach { case (t, sh) =>
      val expected =
        if (t.length < 3) Seq.empty
        else t.sliding(3).map(_.mkString(" ")).toSeq
      assert(sh === expected, s"tokens=$t")
    }
  }

  test("property: simhash64 is token-order invariant; hamming is symmetric") {
    import spark.implicits._
    val rng = new scala.util.Random(44L)
    val rows = sample(tokenGen, 200, 44L).filter(_.nonEmpty)
      .map(t => (t, rng.shuffle(t)))
    val got = rows.toDF("t", "shuffled")
      .select(simhash64(col("t")).as("h1"),
        simhash64(col("shuffled")).as("h2"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    got.foreach { case (h1, h2) => assert(h1 === h2) }
  }

  test("property: minhash_bands is order- and duplicate-invariant, length=bands") {
    import spark.implicits._
    val rng = new scala.util.Random(45L)
    val rows = sample(tokenGen, 200, 45L).filter(_.nonEmpty)
      .map(t => (t, rng.shuffle(t ++ t.take(3))))
    val got = rows.toDF("t", "mutated")
      .select(minhash_bands(col("t"), 16, 4).as("b1"),
        minhash_bands(col("mutated"), 16, 4).as("b2"))
      .collect().map(r => (r.getSeq[Long](0), r.getSeq[Long](1)))
    got.foreach { case (b1, b2) =>
      assert(b1.length === 16)
      assert(b1 === b2, "duplicates/order changed a min-hash band")
    }
  }

  test("property: md5_minhash_bands is order/duplicate-invariant, 60-bit, length=bands") {
    import spark.implicits._
    val rng = new scala.util.Random(47L)
    val rows = sample(tokenGen, 200, 47L).filter(_.nonEmpty)
      .map(t => (t, rng.shuffle(t ++ t.take(3))))
    val got = rows.toDF("t", "mutated")
      .select(md5_minhash_bands(col("t"), 4, 2).as("b1"),
        md5_minhash_bands(col("mutated"), 4, 2).as("b2"))
      .collect()
      .map(r => (r.getSeq[Long](0), r.getSeq[Long](1)))
    got.foreach { case (b1, b2) =>
      assert(b1.length === 4)
      assert(b1 === b2, "duplicates/order changed an md5 min-hash band")
      b1.foreach(k => assert((k >>> 60) === 0L))
    }
  }

  test("property: md5_simhash60 is order-invariant and 60-bit bounded") {
    import spark.implicits._
    val rng = new scala.util.Random(48L)
    val rows = sample(tokenGen, 200, 48L).filter(_.nonEmpty)
      .map(t => (t, rng.shuffle(t)))
    val got = rows.toDF("t", "shuffled")
      .select(md5_simhash60(col("t")).as("h1"),
        md5_simhash60(col("shuffled")).as("h2"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    got.foreach { case (h1, h2) =>
      assert(h1 === h2)
      assert((h1 >>> 60) === 0L)
    }
  }

  test("property: md5_rhp_lsh is positive-scale-invariant and bounded by planes") {
    import spark.implicits._
    val rows = sample(vecGen, 200, 49L).map(v =>
      (v.toArray, v.map(_ * 7.0f).toArray))
    val got = rows.toDF("v", "scaled")
      .select(md5_rhp_lsh(col("v"), 8).as("b1"),
        md5_rhp_lsh(col("scaled"), 8).as("b2"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    got.foreach { case (b1, b2) =>
      assert(b1 >= 0L && b1 < 256L)
      // floor(7e6 * x) sign-matches floor(1e6 * x) except exactly at
      // dot == 0 boundaries, which the generator avoids w.h.p.
      assert(b1 === b2, "positive scaling flipped a hyperplane bit")
    }
  }

  test("property: cosine_argmax agrees with a brute-force scala argmax") {
    import spark.implicits._
    val cents = sample(vecGen, 8, 50L).zipWithIndex
      .map { case (v, i) => (i.toLong, v.toArray) }
    val rows = sample(vecGen, 100, 51L).map(_.toArray)
    val got = rows.map(Tuple1(_)).toDF("v")
      .crossJoin(Seq(Tuple1(cents)).toDF("cents"))
      .select(cosine_argmax(col("v"),
        col("cents").cast(
          "array<struct<centroid_id:bigint,c_emb:array<float>>>")).as("cid"))
      .collect().map(_.getLong(0))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i)
      }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
    }
    rows.zip(got).foreach { case (v, cid) =>
      val expected = cents.map { case (id, c) => (id, cos(v, c)) }
        .sortBy { case (id, s) => (-s, id) }.head._1
      assert(cid === expected)
    }
  }

  test("property: l2_argmin agrees with a brute-force scala argmin (code AND d2)") {
    import spark.implicits._
    val cents = sample(vecGen, 8, 52L).zipWithIndex
      .map { case (v, i) => (i.toLong, v.toArray) }
    val rows = sample(vecGen, 100, 53L).map(_.toArray)
    val got = rows.map(Tuple1(_)).toDF("v")
      .crossJoin(Seq(Tuple1(cents)).toDF("cents"))
      .select(l2_argmin(col("v"),
        col("cents").cast(
          "array<struct<code:bigint,c_v:array<float>>>")).as("m"))
      .select(col("m.code"), col("m.d2"))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    def d2(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0
      for (i <- a.indices) {
        val d = a(i).toDouble - b(i).toDouble; s += d * d
      }
      s
    }
    rows.zip(got).foreach { case (v, (code, dist)) =>
      val expected = cents.map { case (id, c) => (id, d2(v, c)) }
        .sortBy { case (id, s) => (s, id) }.head
      assert(code === expected._1)
      assert(dist === expected._2)
    }
  }

  test("property: cosine_sim is symmetric and within [-1, 1]") {
    import spark.implicits._
    val rows = sample(Gen.zip(vecGen, vecGen), 200, 46L)
      .map { case (a, b) => (a.toArray, b.toArray) }
    val got = rows.toDF("a", "b")
      .select(cosine_sim(col("a"), col("b")).as("ab"),
        cosine_sim(col("b"), col("a")).as("ba"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    got.foreach { case (ab, ba) =>
      assert(ab === ba)
      assert(ab >= -1.0000001 && ab <= 1.0000001)
    }
  }

  test("property: Kernels.cosine over unsafe arrays equals the generic " +
    "path bit for bit (random, zero and NaN vectors)") {
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import graft.functions.Kernels
    val wide: Gen[Array[Float]] = Gen.choose(0, 70).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-1e3f, 1e3f)).map(_.toArray))
    val zeros = Array(Array.fill(64)(0.0f), Array.fill(64)(-0.0f), Array.empty[Float])
    val nans = Array(Array.fill(64)(Float.NaN),
      Array.tabulate(64)(i => if (i == 7) Float.NaN else i.toFloat),
      Array.tabulate(64)(i => if (i == 3) Float.PositiveInfinity else 1.0f))
    val vecs = sample(wide, 200, 47L).toArray ++ zeros ++ nans
    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    val pairs = vecs.indices.flatMap(i =>
      Seq(i, (i * 7 + 3) % vecs.length, vecs.length - 1 - i).map(j => (vecs(i), vecs(j))))
    pairs.foreach { case (a, b) =>
      val generic = Kernels.cosine(new GenericArrayData(a.map(x => x: Any)),
        new GenericArrayData(b.map(x => x: Any)))
      val unsafe = Kernels.cosine(UnsafeArrayData.fromPrimitiveArray(a),
        UnsafeArrayData.fromPrimitiveArray(b))
      val mixed = Kernels.cosine(UnsafeArrayData.fromPrimitiveArray(a),
        new GenericArrayData(b.map(x => x: Any)))
      assert(bits(unsafe) === bits(generic), s"a=${a.toSeq} b=${b.toSeq}")
      assert(bits(mixed) === bits(generic), s"a=${a.toSeq} b=${b.toSeq}")
    }
    assert(pairs.exists { case (a, b) =>
      Kernels.cosine(UnsafeArrayData.fromPrimitiveArray(a),
        UnsafeArrayData.fromPrimitiveArray(b)).isNaN })
  }

  test("property: CMS bucket family lands in range with distinct per-depth constants") {
    import graft.functions.Kernels
    val P = 2147483647L
    val depth = 8; val width = 256
    val consts = (0 until depth).map { d =>
      (1L + Kernels.md5Prefix60("cms:a:" + d) % (P - 1),
        Kernels.md5Prefix60("cms:b:" + d) % P)
    }
    // the affine constants must be pairwise distinct — identical
    // depths would void the min-over-depths estimate
    assert(consts.distinct.size === depth)
    val words = sample(Gen.alphaNumStr.suchThat(_.nonEmpty), 300, 11L)
    for (w <- words) {
      val h28 = java.lang.Long.parseLong(
        java.security.MessageDigest.getInstance("MD5")
          .digest(w.getBytes("UTF-8"))
          .take(4).map(b => f"$b%02x").mkString.take(7), 16)
      assert(h28 >= 0 && h28 < (1L << 28))
      for ((ca, cb) <- consts) {
        // the arithmetic the SQL twin runs: every intermediate must
        // stay BIGINT-positive and the bucket in [0, width)
        val prod = ca * h28 + cb
        assert(prod > 0 && prod < (1L << 60))
        val bucket = (prod % P) % width
        assert(bucket >= 0 && bucket < width)
      }
    }
  }
}
