package graft.functions

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Single-pass LSH hash expressions: codegen/eval agreement, statistical
  * behavior of the MinHash estimate, and banding stability.
  */
class HashExpressionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def shingleDf = Seq(
    (1L, Seq("a b c", "b c d", "c d e", "d e f")),
    (2L, Seq("a b c", "b c d", "c d e", "d e x")), // 3/5 jaccard with 1
    (3L, Seq("q r s", "r s t")),
    (4L, Seq.empty[String])
  ).toDF("id", "sh")

  test("minhash: identical shingle sets → identical signatures; empty set → MaxValue sentinels") {
    val sig = shingleDf.select($"id", HashExpressions.minhash($"sh", 32).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sig(1).length == 32)
    assert(sig(1) != sig(3))
    assert(sig(4).forall(_ == Long.MaxValue))
    // deterministic across evaluations
    val again = shingleDf.select(HashExpressions.minhash($"sh", 32)).collect()
    assert(again.map(_.getSeq[Long](0)).head == sig(1))
  }

  test("minhash estimate approximates true jaccard on planted sets") {
    // sets share 3 of 5 distinct shingles → J = 3/5
    val est = shingleDf.where($"id".isin(1, 2))
      .select(HashExpressions.minhash($"sh", 512).as("sig"))
      .collect().map(_.getSeq[Long](0))
    val same = est(0).zip(est(1)).count { case (a, b) => a == b }
    val j = same.toDouble / 512
    assert(math.abs(j - 0.6) < 0.1, s"est=$j want ~0.6")
  }

  test("minhashLanes (hoisted lane loop) == per-seed XXH64.hashLong, bit for bit") {
    // the r16 strength reduction hoists hashLong's seed-independent input
    // mix out of the 64-lane loop — any algebra slip here would silently
    // change every minhash signature (and with it q_dedup_minhash's
    // declared output), so the helper is pinned against the original
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val rnd = new scala.util.Random(20260818)
    val hs = Seq(0L, 1L, -1L, Long.MinValue, Long.MaxValue, 42L) ++
      Seq.fill(200)(rnd.nextLong())
    for (h <- hs; k <- Seq(1, 16, 64)) {
      val viaHelper = Array.fill(k)(Long.MaxValue)
      HashRuntime.minhashLanes(h, viaHelper)
      val viaXxh = Array.tabulate(k)(s => XXH64.hashLong(h, s))
      assert(viaHelper.toSeq == viaXxh.toSeq, s"lane mismatch for h=$h k=$k")
    }
    // and min-accumulation semantics: a second window only lowers lanes
    val acc = Array.fill(8)(Long.MaxValue)
    HashRuntime.minhashLanes(7L, acc)
    val first = acc.clone()
    HashRuntime.minhashLanes(9L, acc)
    acc.zip(first).zipWithIndex.foreach { case ((now, was), s) =>
      assert(now == math.min(was, XXH64.hashLong(9L, s)))
    }
  }

  test("firstAgreePos == array_position(zip_with(_ === _), true) on band-hash arrays") {
    val rnd = new scala.util.Random(16)
    // random pairs with planted agreements at controlled first positions
    val rows = (0 until 300).map { i =>
      val n = 1 + rnd.nextInt(16)
      val a = Array.fill(n)(rnd.nextLong())
      val b = Array.fill(n)(rnd.nextLong())
      if (i % 3 == 0) { val p = rnd.nextInt(n); b(p) = a(p) } // ≥1 agreement
      if (i % 7 == 0) Array.copy(a, 0, b, 0, n) // full agreement → pos 1
      (a.toSeq, b.toSeq)
    }
    val df = rows.toDF("a", "b")
    val got = df.select(HashExpressions.firstAgreePos($"a", $"b")).collect().map(_.getLong(0))
    val want = df.select(
      array_position(zip_with($"a", $"b", (x, y) => x === y), lit(true))).collect()
      .map(_.getLong(0))
    assert(got.toSeq == want.toSeq)
    // interpreted eval agrees with the plan path
    val lit2 = org.apache.spark.sql.catalyst.expressions.Literal.create(
      rows.head._1, org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType))
    val lit3 = org.apache.spark.sql.catalyst.expressions.Literal.create(
      rows.head._2, org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType))
    assert(FirstAgreePos(lit2, lit3).eval(null) == want.head)
  }

  test("firstAgreePos skips null slots: eval == codegen == array_position(zip_with) on nullable arrays") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, GenerateUnsafeProjection}
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val rnd = new scala.util.Random(678)
    // small value range so nulls sit beside real agreements, and both-null
    // slots, which a getLong-only loop would read as 0 == 0
    def arr(n: Int) = Seq.fill(n)(if (rnd.nextInt(3) == 0) None else Some(rnd.nextInt(3).toLong))
    val rows = Seq(
      (Seq(None, Some(1L)), Seq(None, Some(1L))),
      (Seq(None, Some(0L)), Seq(Some(0L), Some(0L))),
      (Seq(None, None), Seq(None, None)),
      (Seq.empty[Option[Long]], Seq(Some(1L)))) ++
      (0 until 200).map(_ => (arr(1 + rnd.nextInt(6)), arr(1 + rnd.nextInt(6))))
    // repartition keeps ConvertToLocalRelation from folding the plan path
    val df = rows.zipWithIndex.map { case ((a, b), i) => (i, a, b) }
      .toDF("i", "a", "b").repartition(2)
    def inRowOrder(c: org.apache.spark.sql.Column) =
      df.select($"i", c).collect().sortBy(_.getInt(0)).map(_.getLong(1)).toSeq
    val want = inRowOrder(
      array_position(zip_with($"a", $"b", (x, y) => x === y), lit(true)))
    assert(want.contains(2L) && want.contains(0L))
    assert(inRowOrder(HashExpressions.firstAgreePos($"a", $"b")) == want)
    val t = ArrayType(LongType, containsNull = true)
    val expr = FirstAgreePos(BoundReference(0, t, nullable = true),
      BoundReference(1, t, nullable = true))
    val codegen = GenerateUnsafeProjection.generate(Seq(expr))
    val got = rows.map { case (a, b) =>
      val row = InternalRow(new GenericArrayData(a.map(_.orNull[Any])),
        new GenericArrayData(b.map(_.orNull[Any])))
      val evalPos = expr.eval(row)
      assert(codegen(row).getLong(0) == evalPos, s"eval != codegen on $a, $b")
      evalPos
    }
    assert(got == want)
    // band-hash arrays declare null-free elements: their loop has no checks
    val free = ArrayType(LongType, containsNull = false)
    val code = FirstAgreePos(BoundReference(0, free, nullable = false),
      BoundReference(1, free, nullable = false)).genCode(new CodegenContext).code.toString
    assert(!code.contains("isNullAt"), code)
  }

  test("interpreted eval matches codegen result") {
    // force interpreted path by eval'ing the expression directly
    val shingles = Seq("a b c", "b c d", "c d e")
    val arrExpr = org.apache.spark.sql.catalyst.expressions.Literal.create(
      shingles, org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType))
    val interpreted = MinHashSignatures(arrExpr, 16).eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray.toSeq
    val viaPlan = Seq(Tuple1(shingles)).toDF("sh")
      .select(HashExpressions.minhash($"sh", 16)).collect().head.getSeq[Long](0)
    assert(interpreted == viaPlan)

    val simInterp = SimHash64(arrExpr).eval(null).asInstanceOf[Long]
    val simPlan = Seq(Tuple1(shingles)).toDF("sh")
      .select(HashExpressions.simhash64($"sh")).collect().head.getLong(0)
    assert(simInterp == simPlan)
  }

  test("simhash: identical sets → same signature, disjoint sets differ, empty → 0") {
    val sig = shingleDf.select($"id", HashExpressions.simhash64($"sh").as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig(3) != sig(1))
    assert(sig(4) == 0L)
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    // near-identical sets → small hamming distance
    assert(hamming(sig(1), sig(2)) < hamming(sig(1), sig(3)))
  }

  test("band hashes: equal bands collide, any differing row changes its band only") {
    val df = Seq(
      (1L, Seq(10L, 20L, 30L, 40L)),
      (2L, Seq(10L, 20L, 30L, 41L)) // band 1 differs (2 bands × 2 rows)
    ).toDF("id", "sig")
    val bh = df.select($"id", HashExpressions.bandHashes($"sig", 2).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(bh(1)(0) == bh(2)(0), "identical first band must collide")
    assert(bh(1)(1) != bh(2)(1), "differing second band must not collide")
  }

  test("minhashTokens: matches string-shingle minhash estimates; short/empty inputs") {
    // identical token arrays → identical signatures; estimate still tracks jaccard
    val docs = Seq(
      (1L, (1 to 40).map(i => s"w$i")),
      (2L, (1 to 40).map(i => s"w$i")),                       // identical
      (3L, ((1 to 30).map(i => s"w$i") ++ (100 to 109).map(i => s"w$i"))), // ~70% shared tokens
      (4L, (200 to 240).map(i => s"w$i")),                    // disjoint
      (5L, Seq("only")),                                      // < n tokens
      (6L, Seq.empty[String])                                 // empty
    ).toDF("id", "toks")
    val sig = docs.select($"id", HashExpressions.minhashTokens($"toks", 3, 128).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def est(a: Seq[Long], b: Seq[Long]) = a.zip(b).count { case (x, y) => x == y } / 128.0
    assert(sig(1L) == sig(2L))
    assert(est(sig(1L), sig(3L)) > 0.3, "overlapping docs should agree on many minima")
    assert(est(sig(1L), sig(4L)) < 0.1, "disjoint docs should agree on almost none")
    assert(sig(5L).length == 128 && sig(5L) != sig(6L))
    assert(sig(6L).forall(_ == Long.MaxValue), "empty input matches nothing")
    // interpreted eval == codegen
    val lit = org.apache.spark.sql.catalyst.expressions.Literal.create(
      (1 to 40).map(i => s"w$i"), org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType))
    val interp = MinHashTokens(lit, 3, 128).eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray.toSeq
    assert(interp == sig(1L))
  }

  test("simhashTokens: identical == 0 hamming, near-dup < unrelated, dup windows ignored") {
    val docs = Seq(
      (1L, (1 to 30).map(i => s"w$i")),
      (2L, (1 to 30).map(i => s"w$i")),                  // identical
      (3L, ((1 to 28).map(i => s"w$i") ++ Seq("x", "y"))), // near-dup
      (4L, (100 to 130).map(i => s"w$i")),               // unrelated
      (5L, ((1 to 30).map(i => s"w$i") ++ (1 to 30).map(i => s"w$i"))), // doubled content
      (6L, Seq.empty[String])
    ).toDF("id", "toks")
    val sig = docs.select($"id", HashExpressions.simhashTokens($"toks", 2).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sig(1L), sig(2L)) == 0)
    assert(ham(sig(1L), sig(3L)) < ham(sig(1L), sig(4L)))
    // doubled content repeats every interior window PLUS adds a bridge
    // window ("w30 w1"); distinct-window voting keeps the signature close
    assert(ham(sig(1L), sig(5L)) <= 2)
    assert(sig(6L) == 0L)
    // interpreted == codegen
    val lit = org.apache.spark.sql.catalyst.expressions.Literal.create(
      (1 to 30).map(i => s"w$i"), org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType))
    assert(SimHashTokens(lit, 2).eval(null).asInstanceOf[Long] == sig(1L))
  }

  test("signature agreement fraction") {
    val df = Seq((Seq(1L, 2L, 3L, 4L), Seq(1L, 2L, 9L, 4L))).toDF("a", "b")
    val r = df.select(HashExpressions.signatureAgreement($"a", $"b")).collect().head.getDouble(0)
    assert(r == 0.75)
  }

  test("audio stats: hand-computed energy + mean-crossings, empty, eval==codegen") {
    import org.apache.spark.sql.functions.col
    // bytes [10, 20, 10]: n=3, tot=40, energy=600; v*n-tot = [-10, 20, -10]
    // → two sign changes
    val df = Seq((0L, Array[Byte](10, 20, 10)), (1L, Array.empty[Byte]),
      (2L, Array[Byte](5, 5, 5, 5))).toDF("id", "payload")
    val got = df.select(col("id"), HashExpressions.audioStats(col("payload")).as("st"))
      .select(col("id"), col("st.n_samples"), col("st.energy"), col("st.mean_crossings"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got(0L) == ((3L, 600L, 2L)))
    assert(got(1L) == ((0L, 0L, 0L)))
    assert(got(2L) == ((4L, 100L, 0L)), "flat signal never crosses its mean")
    // interpreted eval agrees with the codegen'd column path
    val ir = AudioStatsBytes.stats(Array[Byte](10, 20, 10))
    assert(ir.getLong(0) == 3L && ir.getLong(1) == 600L && ir.getLong(2) == 2L)
  }

  test("binLength == length(bin(x)) for every long, including 0, negatives and extremes") {
    // the r15 integer intrinsic behind the |bin| whole-bits surprisal
    // family must be value-identical to the builtin string chain
    val edges = Seq(0L, 1L, -1L, 2L, 3L, 63L, 64L, 255L, 256L,
      Long.MaxValue, Long.MinValue, Long.MaxValue - 1, Long.MinValue + 1) ++
      (0 to 62).map(1L << _) ++ (0 to 62).map(i => (1L << i) - 1) ++
      { val r = new scala.util.Random(42); Seq.fill(200)(r.nextLong()) }
    val df = edges.toDF("v")
    val bad = df.select(col("v"),
        HashExpressions.binLength(col("v")).as("fast"),
        length(bin(col("v"))).as("ref"))
      .where(col("fast") =!= col("ref"))
      .collect()
    assert(bad.isEmpty, s"binLength diverges at: ${bad.map(_.getLong(0)).mkString(",")}")
    // null propagates
    val n = Seq[java.lang.Long](null).toDF("v")
      .select(HashExpressions.binLength(col("v"))).collect()
    assert(n.head.isNullAt(0))
  }
}
