package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bloom decontamination, vocabulary/OOV, resample, pooling, and quantile
  * binning on constructed fixtures: one-sided-error and inflation bounds
  * for the filter, exact counts for the rest, layout independence
  * throughout.
  */
class SignalOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // deterministic mini-corpus: 40 docs of cycling words, every 8th doc is
  // a benchmark item
  private def corpusDf = {
    val words = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta")
    (0 until 40).map { i =>
      val text = (0 until 12).map(j => words((i * 3 + j) % words.length)).mkString(" ")
      (i.toLong, text)
    }.toDF("doc_id", "text")
  }

  // ---------------- Bloom ----------------

  test("bloom contamination has no false negatives vs the exact operator (both hash lanes)") {
    val docs = corpusDf
    val corpus = docs.where(col("doc_id") % 8 =!= 0)
    val bench = docs.where(col("doc_id") % 8 === 0)
    // production lane vs exact production operator (same xxhash gram family)
    val exact = Dedup.ngramContamination(corpus, bench, "doc_id", "text", shingle = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val bloom = Bloom.ngramContaminationBloom(corpus, bench, "doc_id", "text",
      shingle = 3, mBits = 1 << 12, k = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(bloom.keySet == exact.keySet)
    exact.foreach { case (id, e) =>
      assert(bloom(id) >= e - 1e-9, s"doc $id: bloom ${bloom(id)} < exact $e")
    }
    // fixture lane: same one-sided-error property against a fixture-hash
    // exact containment computed inline
    val grams = (df: org.apache.spark.sql.DataFrame) =>
      df.select(col("doc_id"), explode(array_distinct(
        Dedup.fixtureWindowHashes(col("text"), 3))).as("g"))
    val pool = grams(bench).select("g").distinct().withColumn("hit", lit(1))
    val exactFix = grams(corpus).join(pool, Seq("g"), "left")
      .groupBy("doc_id").agg((count(col("hit")).cast("double") / count(lit(1))).as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val bloomFix = Bloom.ngramContaminationBloomFixture(corpus, bench, "doc_id", "text",
      shingle = 3, mBits = 1 << 12, k = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    exactFix.foreach { case (id, e) =>
      assert(bloomFix(id) >= e - 1e-6, s"doc $id: fixture bloom ${bloomFix(id)} < exact $e")
    }
  }

  test("bloom false-positive inflation stays small at the sized load factor") {
    val docs = corpusDf
    val corpus = docs.where(col("doc_id") % 8 =!= 0)
    val bench = docs.where(col("doc_id") % 8 === 0)
    val exact = Dedup.ngramContamination(corpus, bench, "doc_id", "text", shingle = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // ~350 distinct grams * 3 positions in 2^12 bits → load ~0.23,
    // per-gram fp ≈ (1-e^-0.23)^3 ≈ 0.9% → mean inflation well under 5%
    val bloom = Bloom.ngramContaminationBloom(corpus, bench, "doc_id", "text",
      shingle = 3, mBits = 1 << 12, k = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val meanInflation = exact.keys.map(id => bloom(id) - exact(id)).sum / exact.size
    assert(meanInflation >= 0.0 && meanInflation < 0.05,
      s"mean inflation $meanInflation out of expected band")
  }

  test("bloom results are layout-independent") {
    val docs = corpusDf
    val corpus = docs.where(col("doc_id") % 8 =!= 0)
    val bench = docs.where(col("doc_id") % 8 === 0)
    def run(c: org.apache.spark.sql.DataFrame) =
      Bloom.ngramContaminationBloomFixture(c, bench, "doc_id", "text",
        shingle = 3, mBits = 1 << 12, k = 3)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(run(corpus) == run(corpus.repartition(7)))
  }

  // ---------------- Vocabulary / OOV ----------------

  test("oovRate: exact counts on a hand fixture") {
    val docs = Seq(
      (1L, "cat dog cat"),        // cat,dog in vocab (minCount 2)
      (2L, "dog bird"),           // bird appears once → oov
      (3L, "CAT unique2 dog")     // lowercased → cat known; unique2 oov
    ).toDF("doc_id", "text")
    val r = Vocabulary.oovRate(docs, "doc_id", "text", minCount = 2)
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    assert(r(1L) == ((3L, 0L)))
    assert(r(2L) == ((2L, 1L)))
    assert(r(3L) == ((3L, 1L)))
  }

  test("oov distilled kernel == join path, including the over-budget fallback") {
    // r16: under the distill budget oovRate scores through one codegen'd
    // membership scan; with maxDistillEntries = 0 every vocabulary is
    // over budget and the corpus-join path runs — both must agree on
    // every row, including whitespace-laden and zero-token docs
    val docs = Seq(
      (0L, "the quick fox the quick dog"), (1L, "the the the"),
      (2L, "zq9 unseen tokens only"), (3L, ""), (4L, "   "),
      (5L, "\tThe QUICK fox\n"), (6L, "the  quick   fox")
    ).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val kernel = rows(Vocabulary.oovRate(docs, "doc_id", "text", minCount = 2))
    val joined = rows(Vocabulary.oovRate(docs, "doc_id", "text", minCount = 2,
      maxDistillEntries = 0))
    assert(kernel == joined && kernel.nonEmpty)
    // same for the reference-vocabulary entry
    val vocab = Vocabulary.vocabulary(docs.where(col("doc_id") < 2), "doc_id", "text", 1)
    val kA = rows(Vocabulary.oovRateAgainst(docs, "doc_id", "text", vocab))
    val jA = rows(Vocabulary.oovRateAgainst(docs, "doc_id", "text", vocab,
      maxDistillEntries = 0))
    assert(kA == jA && kA.nonEmpty)
  }

  test("OovRateScore compares by structure: equal vocabularies, equal and canonically equal expressions") {
    // two distills of one vocabulary yield separately built collections;
    // the expression must still compare equal, or canonicalization and
    // exchange reuse treat the same scoring column as two different ones
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.types.StringType
    val text = AttributeReference("text", StringType)()
    val a = graft.functions.OovRateScore(text, Array("the", "quick").toSeq)
    val b = graft.functions.OovRateScore(text, Seq("the", "quick"))
    assert(a == b && a.hashCode == b.hashCode)
    assert(a.canonicalized == b.canonicalized && a.semanticEquals(b))
    assert(a != graft.functions.OovRateScore(text, Seq("the")))
  }

  test("oovRateAgainst: reference-vocabulary scoring") {
    val docs = Seq((1L, "alpha beta gamma"), (2L, "alpha nope")).toDF("doc_id", "text")
    val vocab = Seq("alpha", "beta").toDF("word").withColumn("n", lit(99L))
    val r = Vocabulary.oovRateAgainst(docs, "doc_id", "text", vocab)
      .collect().map(x => x.getLong(0) -> x.getLong(2)).toMap
    assert(r(1L) == 1L && r(2L) == 1L)
  }

  // ---------------- Resample ----------------

  test("resample: gap-fill rows, zero counts, exact sums, forward fill") {
    // key 1: buckets 0 and 3 active; key 2: single bucket
    val events = Seq(
      (1L, 5L, 1.5), (1L, 7L, 2.5),        // bucket 0, total 4.0
      (1L, 35L, 10.0),                      // bucket 3
      (2L, 21L, 7.0)                        // bucket 2
    ).toDF("user_id", "ts", "value")
    val r = Resample.resample(events, "user_id", "ts", "value", bucketWidth = 10L)
      .collect().map(x => (x.getLong(0), x.getLong(1)) ->
        ((x.getLong(2), x.getDouble(3), x.getDouble(4)))).toMap
    assert(r.size == 5) // key1: buckets 0..3 → 4 rows; key2: 1 row
    assert(r((1L, 0L)) == ((2L, 4.0, 4.0)))
    assert(r((1L, 1L)) == ((0L, 0.0, 4.0)))  // gap: n=0, ffill carries 4.0
    assert(r((1L, 2L)) == ((0L, 0.0, 4.0)))
    assert(r((1L, 3L)) == ((1L, 10.0, 10.0)))
    assert(r((2L, 2L)) == ((1L, 7.0, 7.0)))
  }

  // ---------------- Pooling ----------------

  test("meanPoolExact: exact per-dimension averages") {
    val vecs = Seq(
      (1L, Array(1.0f, 2.0f)), (1L, Array(3.0f, 6.0f)),
      (2L, Array(10.0f, 0.0f))
    ).toDF("grp", "embedding")
    val r = Pooling.meanPoolExact(vecs, "grp", "embedding")
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(3)).toMap
    assert(r((1L, 0L)) == 2.0 && r((1L, 1L)) == 4.0)
    assert(r((2L, 0L)) == 10.0 && r((2L, 1L)) == 0.0)
  }

  test("meanPool (array-native) agrees with the exact explode twin") {
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 64).map { i =>
      (i.toLong / 4, Array.fill(16)(rnd.nextFloat() * 2 - 1))
    }.toDF("grp", "embedding")
    val exact = Pooling.meanPoolExact(vecs, "grp", "embedding")
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(3)).toMap
    val pooled = Pooling.meanPool(vecs, "grp", "embedding")
      .collect().map { x =>
        val vec = x.getSeq[Double](2)
        x.getLong(0) -> vec
      }.toMap
    // the exact twin quantizes each addend through DECIMAL(28,8): the two
    // paths can legitimately differ by ~1e-8 per element
    exact.foreach { case ((g, dim), v) =>
      assert(math.abs(pooled(g)(dim.toInt) - v) < 1e-7,
        s"group $g dim $dim: ${pooled(g)(dim.toInt)} vs $v")
    }
  }

  // ---------------- byQuantile ----------------

  test("byQuantile: near-equal bin sizes, order-respecting cuts, layout independence") {
    val df = (0 until 103).map(i => (i.toLong, (i * 37 % 103).toDouble)).toDF("id", "score")
    val binned = Split.byQuantile(df, "score", "id", nBins = 10)
    val rows = binned.collect().map(x => (x.getLong(0), x.getDouble(1), x.getInt(2)))
    // sizes differ by at most 1
    val sizes = rows.groupBy(_._3).view.mapValues(_.size).toMap
    assert(sizes.keySet == (0 until 10).toSet)
    assert(sizes.values.max - sizes.values.min <= 1)
    // cuts respect score order
    val byBin = rows.groupBy(_._3)
    (0 until 9).foreach { b =>
      assert(byBin(b).map(_._2).max <= byBin(b + 1).map(_._2).min)
    }
    // layout independence
    val again = Split.byQuantile(df.repartition(5), "score", "id", nBins = 10)
      .collect().map(x => x.getLong(0) -> x.getInt(2)).toMap
    assert(again == rows.map(x => x._1 -> x._3).toMap)
  }

  test("byQuantileApprox: exact-mode cuts are the ceil(p*n)-rank elements; value-based bins; ties share a bin") {
    // n = 103 chosen so p*n is never integral — the rank rule ceil(p*n)
    // must hold away from the easy divisible case
    val n = 103
    val df = (0 until n).map(i => (i.toLong, (i * 37 % n).toDouble)).toDF("id", "score")
    val binned = Split.byQuantileApprox(df, "score", nBins = 10, accuracy = 1000000)
    val rows = binned.collect().map(x => (x.getLong(0), x.getDouble(1), x.getInt(2)))
    // local reference: cuts = sorted(score)[ceil(p*n) - 1], bin = #cuts < score
    val sorted = rows.map(_._2).sorted
    val cuts = (1 until 10).map(b => sorted(math.ceil(b.toDouble / 10 * n).toInt - 1))
    val expect = rows.map { case (id, s, _) => id -> cuts.count(_ < s) }.toMap
    assert(rows.map(x => x._1 -> x._3).toMap == expect)
    // layout independence (sketch merge across a different partitioning)
    val again = Split.byQuantileApprox(df.repartition(7), "score", 10, 1000000)
      .collect().map(x => x.getLong(0) -> x.getInt(2)).toMap
    assert(again == expect)
    // ties share a bin: constant column -> everything in bin 0
    val const = (0 until 40).map(i => (i.toLong, 5.0)).toDF("id", "score")
    assert(Split.byQuantileApprox(const, "score", 4, 1000000)
      .collect().forall(_.getInt(2) == 0))
  }

  test("byQuantileApprox: nulls take the top bin; sketch regime stays monotone") {
    val withNulls = ((0 until 50).map(i => (i.toLong, Some(i.toDouble))) :+
      (99L, Option.empty[Double])).toDF("id", "score")
    val b = Split.byQuantileApprox(withNulls, "score", 5, 1000000)
      .collect().map(x => x.getLong(0) -> x.getInt(2)).toMap
    assert(b(99L) == 4, "null score lands in the top bin (NULLS LAST discipline)")
    // sketch regime (accuracy << n): bins still respect score order and
    // sizes stay near n/nBins within the GK rank-error envelope
    val big = (0 until 10000).map(i => (i.toLong, (i * 7919 % 10000).toDouble)).toDF("id", "score")
    val sk = Split.byQuantileApprox(big, "score", 10, accuracy = 100)
      .collect().map(x => (x.getDouble(1), x.getInt(2)))
    val byBin = sk.groupBy(_._2)
    assert(byBin.keySet == (0 until 10).toSet)
    (0 until 9).foreach { b =>
      assert(byBin(b).map(_._1).max <= byBin(b + 1).map(_._1).min) }
    // rank error <= n/accuracy = 100 per cut edge
    byBin.values.foreach(v => assert(math.abs(v.size - 1000) <= 200, s"bin size ${v.size}"))
  }

  test("assignBins: empty cut list bins non-null scores 0, nulls still take the top bin") {
    // the empty-profile edge (all-null or empty static profile): the
    // scaladoc's 'nulls take the top bin' contract must hold here too,
    // matching the non-empty path's NULLS LAST discipline
    val df = Seq((1L, Some(3.0)), (2L, Option.empty[Double])).toDF("id", "score")
    val b = Split.assignBins(df, "score", Seq.empty, nBins = 5)
      .collect().map(x => x.getLong(0) -> x.getInt(2)).toMap
    assert(b == Map(1L -> 0, 2L -> 4))
    // degenerate nBins = 1: everything (nulls included) is bin 0
    assert(Split.assignBins(df, "score", Seq.empty, 1)
      .collect().forall(_.getInt(2) == 0))
  }

  test("byQuantileApproxBy: independent cut edges per group; null score takes the group top bin") {
    // group a: scores 0..99 (quartile cuts 25/50/75-ish); group b: scores
    // 1000..1019 — a global quantile would put ALL of b in the top bin
    val rows = (0 until 100).map(i => ("a", i.toLong, Some(i.toDouble))) ++
      (0 until 20).map(i => ("b", 100L + i, Some(1000.0 + i))) :+
      (("a", 999L, Option.empty[Double]))
    val df = rows.toDF("src", "id", "score")
    val got = Split.byQuantileApproxBy(df, "src", "score", nBins = 4, accuracy = 1000000)
      .collect().map(x => x.getLong(1) -> x.getInt(3)).toMap
    // local reference per group: cuts at rank ceil(p*n), bin = #cuts < score
    def bins(scores: Seq[Double]): Map[Double, Int] = {
      val sorted = scores.sorted
      val cuts = (1 until 4).map(b => sorted(math.ceil(b / 4.0 * scores.size).toInt - 1))
      scores.map(s => s -> cuts.count(_ < s)).toMap
    }
    val ba = bins((0 until 100).map(_.toDouble))
    val bb = bins((0 until 20).map(1000.0 + _))
    (0 until 100).foreach(i => assert(got(i.toLong) == ba(i.toDouble)))
    (0 until 20).foreach(i => assert(got(100L + i) == bb(1000.0 + i),
      s"group b must use its OWN quartiles, got ${got(100L + i)} for ${1000 + i}"))
    assert(got(999L) == 3, "null score lands in the group's top bin")
    // every group spans all four bins — the per-group independence claim
    assert((0 until 20).map(i => got(100L + i)).toSet == Set(0, 1, 2, 3))
  }

  test("byQuantileApproxBy plan: assignment is a broadcast join — the only shuffle is the cut sketch") {
    val df = (0 until 500).map(i => (s"s${i % 4}", i.toLong, (i * 37 % 500).toDouble))
      .toDF("src", "id", "score")
    val binned = Split.byQuantileApproxBy(df, "src", "score", nBins = 4, accuracy = 1000000)
    binned.collect()
    val p = binned.queryExecution.executedPlan.toString
      .split("\\+- == Initial Plan ==")(0)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"cut assignment must ride a broadcast join:\n$p")
    // the data side must never shuffle for ASSIGNMENT: the one allowed
    // hashpartitioning exchange is the grouped sketch aggregate on src
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles <= 1, s"expected at most the sketch-agg shuffle, got $shuffles:\n$p")
  }

  test("curriculumSampleApprox: same keep ladder over value-based sketch bins") {
    val df = (0 until 2000).map(i => (i.toLong, (i * 37 % 2000).toDouble)).toDF("id", "score")
    val rates = (1L to 10L).map(b => (b, 10L))
    val kept = Split.curriculumSampleApprox(df, "score", "id", rates, accuracy = 1000000)
      .collect().map(x => (x.getLong(0), x.getInt(2)))
    // local reference: value-based bins from ceil(p*n)-rank cuts, then the
    // LCG threshold ladder — exactly the operator's two halves
    val scores = df.collect().map(r => r.getLong(0) -> r.getDouble(1))
    val sorted = scores.map(_._2).sorted
    val cuts = (1 until 10).map(b => sorted(math.ceil(b / 10.0 * 2000).toInt - 1))
    val thr = rates.map { case (n, d) => n * 2147483648L / d }
    def lcg(id: Long): Long = (((id ^ (id >>> 31)) & 2147483647L) * 1103515245L + 12345L) & 2147483647L
    val expect = scores.collect { case (id, s)
      if lcg(id) < thr(cuts.count(_ < s)) => id }.toSet
    assert(kept.map(_._1).toSet == expect)
  }

  test("curriculumSample: keep decision replays from (id, bin); rates honored per bin") {
    val df = (0 until 2000).map(i => (i.toLong, (i * 37 % 2000).toDouble)).toDF("id", "score")
    val rates = (1L to 10L).map(b => (b, 10L))
    val kept = Split.curriculumSample(df, "score", "id", rates)
      .collect().map(x => (x.getLong(0), x.getInt(2)))
    // every kept row satisfies the threshold; every satisfying row is kept
    val bins = Split.byQuantile(df, "score", "id", 10)
      .collect().map(x => x.getLong(0) -> x.getInt(2)).toMap
    val thr = rates.map { case (n, d) => n * 2147483648L / d }
    def lcg(id: Long): Long = (((id ^ (id >>> 31)) & 2147483647L) * 1103515245L + 12345L) & 2147483647L
    val expect = bins.filter { case (id, b) => lcg(id) < thr(b) }.keySet
    assert(kept.map(_._1).toSet == expect)
    // per-bin keep counts roughly track the rate ladder (200 per bin)
    val byBin = kept.groupBy(_._2).view.mapValues(_.size).toMap
    assert(byBin(9) == 200, "rate 10/10 keeps the whole top bin")
    assert(byBin.getOrElse(0, 0) < byBin(9))
  }

  test("resample densify is chunked: a sparse key spanning millions of buckets stays bounded") {
    // one key, events only at bucket 0 and bucket 5M: the old flat
    // sequence(lo, hi) materialized the whole 5M-long span as ONE array
    // value; the chunked form caps per-row arrays at 65536 elements
    val span = 5000000L
    val events = Seq((1L, 0L, 2.0), (1L, span * 10L, 8.0))
      .toDF("user_id", "ts", "value")
    val r = Resample.resample(events, "user_id", "ts", "value", bucketWidth = 10L)
    assert(r.count() == span + 1)
    val probe = r.where(col("bucket").isin(1L, span / 2, span - 1, span))
      .collect().map(x => x.getLong(1) ->
        ((x.getLong(2), x.getDouble(3), x.getDouble(4)))).toMap
    assert(probe(1L) == ((0L, 0.0, 2.0)))
    assert(probe(span / 2) == ((0L, 0.0, 2.0)))
    assert(probe(span - 1) == ((0L, 0.0, 2.0)))
    assert(probe(span) == ((1L, 8.0, 8.0)))
    // chunk-boundary continuity: no dropped or doubled buckets at 65536
    assert(r.where(col("bucket").between(65530L, 65540L)).count() == 11)
  }

  test("resample matches a local reference on random event streams") {
    val rnd = new scala.util.Random(23)
    val events = Seq.fill(400)((rnd.nextInt(5).toLong,
      rnd.nextInt(1000).toLong, (rnd.nextInt(200) - 100) / 4.0))
    val width = 37L
    val got = Resample.resample(events.toDF("user_id", "ts", "value"),
        "user_id", "ts", "value", width)
      .collect().map(x => (x.getLong(0), x.getLong(1)) ->
        ((x.getLong(2), x.getDouble(3), x.getDouble(4)))).toMap
    // local reference
    val byKey = events.groupBy(_._1)
    val want = byKey.flatMap { case (k, evs) =>
      val buckets = evs.groupBy(e => e._2 / width)
      val lo = buckets.keys.min
      val hi = buckets.keys.max
      var lastTot = Double.NaN
      (lo to hi).map { b =>
        val n = buckets.get(b).map(_.size.toLong).getOrElse(0L)
        val tot = buckets.get(b).map(es =>
          es.map(e => BigDecimal(e._3).setScale(4, BigDecimal.RoundingMode.HALF_UP))
            .sum.toDouble).getOrElse(0.0)
        if (n > 0) lastTot = tot
        (k, b) -> ((n, tot, lastTot))
      }
    }.toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (kb, (n, tot, filled)) =>
      val (wn, wtot, wfilled) = want(kb)
      assert(n == wn && math.abs(tot - wtot) < 1e-9 &&
        math.abs(filled - wfilled) < 1e-9, s"$kb: got ($n,$tot,$filled) want ${want(kb)}")
    }
  }

  test("byQuantile/shufflePositions match local sorts on random data") {
    val rnd = new scala.util.Random(31)
    val rows = (0 until 500).map(i => (i.toLong, rnd.nextInt(40).toDouble))
    val df = rows.toDF("id", "score")
    // byQuantile = local sort by (score, id), floor cut
    val bins = Split.byQuantile(df, "score", "id", nBins = 7)
      .collect().map(x => x.getLong(0) -> x.getInt(2)).toMap
    val order = rows.sortBy(r => (r._2, r._1)).map(_._1)
    order.zipWithIndex.foreach { case (id, rn) =>
      assert(bins(id) == (rn.toLong * 7 / 500).toInt, s"id $id rank $rn")
    }
    // shufflePositions = local sort by (lcg31(id), id)
    def lcg(id: Long): Long = (((id ^ (id >>> 31)) & 2147483647L) * 1103515245L + 12345L) & 2147483647L
    val pos = Split.shufflePositions(df.select("id"), "id")
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val wantOrder = rows.map(_._1).sortBy(id => (lcg(id), id))
    wantOrder.zipWithIndex.foreach { case (id, p) =>
      assert(pos(id) == p.toLong, s"id $id pos ${pos(id)} want $p")
    }
  }

  // ---------------- edge cases ----------------

  test("edge cases: empty inputs, degenerate parameters") {
    val emptyDocs = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      corpusDf.schema)
    // empty benchmark → all-zero bitmap → contamination 0 everywhere
    val noBench = Bloom.ngramContaminationBloom(corpusDf, emptyDocs,
      "doc_id", "text", shingle = 3, mBits = 1 << 12, k = 3)
      .collect().map(_.getDouble(1))
    assert(noBench.length == 40 && noBench.forall(_ == 0.0))
    // empty corpus → empty result, no crash
    assert(Bloom.ngramContaminationBloom(emptyDocs, corpusDf,
      "doc_id", "text", shingle = 3, mBits = 1 << 12, k = 3).count() == 0)
    // resample of nothing is nothing
    val emptyEvents = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      Seq((1L, 1L, 1.0)).toDF("user_id", "ts", "value").schema)
    assert(Resample.resample(emptyEvents, "user_id", "ts", "value", 10L).count() == 0)
    // more bins than rows: every row its own bin index, no out-of-range
    val tiny = Seq((1L, 0.3), (2L, 0.1)).toDF("id", "score")
    val bins = Split.byQuantile(tiny, "score", "id", nBins = 10)
      .collect().map(x => x.getLong(0) -> x.getInt(2)).toMap
    assert(bins.values.forall(b => b >= 0 && b < 10) && bins(2L) < bins(1L))
    // a zero rate drops its whole bin deterministically
    val allZero = Split.curriculumSample(tiny, "score", "id", Seq((0L, 1L), (0L, 1L)))
    assert(allZero.count() == 0)
    // oov on a vocabulary nothing reaches: everything oov
    val oov = Vocabulary.oovRate(corpusDf, "doc_id", "text", minCount = Long.MaxValue)
      .agg(sum(col("n_oov")).as("o"), sum(col("n_tokens")).as("t")).head()
    assert(oov.getLong(0) == oov.getLong(1))
  }

  // ---------------- byte-entropy quality signal ----------------

  test("byteEntropyBits: exact integer bits; orders repetition < english < random") {
    import graft.functions.HashExpressions.byteEntropyBits
    def bits(s: String): Long =
      Seq(s).toDF("t").select(byteEntropyBits(encode(col("t"), "UTF-8")))
        .head().getLong(0)
    // exact: "aabb" — two symbols, f=2 each, n=4: each byte costs
    // |bin(4)|-|bin(2)| = 1 bit → 4; uniform repetition costs 0
    assert(bits("aabb") == 4L)
    assert(bits("aaaaaaaa") == 0L)
    assert(bits("") == 0L)
    val repetitive = "spam " * 40
    val english = "the quick brown fox jumps over the lazy dog and runs far away home"
    val randomish = (0 until 200).map(i => ((i * 2654435761L) % 94 + 33).toChar).mkString
    def perChar(s: String) = bits(s).toDouble / s.length
    assert(perChar(repetitive) < perChar(english) && perChar(english) < perChar(randomish),
      s"${perChar(repetitive)} < ${perChar(english)} < ${perChar(randomish)} expected")
  }

  // ---------------- evaluation metrics ----------------

  test("auc: exact Mann-Whitney with tie correction; degenerate classes yield null") {
    // scores [1,2,2,3] labels [0,0,1,1]: pos@2 beats neg@1 (1) and ties
    // neg@2 (0.5); pos@3 beats both (2) -> U = 3.5, AUC = 3.5/4
    val df = Seq((1.0, 0), (2.0, 0), (2.0, 1), (3.0, 1)).toDF("s", "y")
    val r = Eval.auc(df, "s", "y").head()
    assert(r.getLong(0) == 2 && r.getLong(1) == 2 && r.getDouble(2) == 0.875)
    // perfect separation and perfect anti-separation
    val sep = Seq((1.0, 0), (2.0, 0), (3.0, 1), (4.0, 1)).toDF("s", "y")
    assert(Eval.auc(sep, "s", "y").head().getDouble(2) == 1.0)
    val anti = Seq((1.0, 1), (2.0, 1), (3.0, 0), (4.0, 0)).toDF("s", "y")
    assert(Eval.auc(anti, "s", "y").head().getDouble(2) == 0.0)
    // one class empty: auc must be null, not a fabricated 0.5
    val one = Seq((1.0, 1), (2.0, 1)).toDF("s", "y")
    assert(Eval.auc(one, "s", "y").head().isNullAt(2))
  }

  test("confusionAt: exact counts and rational metrics") {
    val df = Seq((0.9, 1), (0.8, 0), (0.4, 1), (0.2, 0), (0.1, 0)).toDF("s", "y")
    val r = Eval.confusionAt(df, "s", "y", lit(0.5)).head()
    // pred>=0.5: rows 1,2 -> tp=1 fp=1; below: fn=1 tn=2
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) == ((1L, 1L, 1L, 2L)))
    assert(r.getDouble(4) == 0.5 && r.getDouble(5) == 0.5 && r.getDouble(6) == 0.5)
  }

  test("aucBy: per-slice AUC exposes an inverted slice the aggregate hides") {
    // slice A: perfect separation (auc 1.0); slice B: perfect INVERSION
    // (auc 0.0); slice C: one class only (auc null)
    val df = Seq(
      ("A", 1.0, 0), ("A", 2.0, 0), ("A", 3.0, 1), ("A", 4.0, 1),
      ("B", 1.0, 1), ("B", 2.0, 1), ("B", 3.0, 0), ("B", 4.0, 0),
      ("C", 1.0, 1), ("C", 2.0, 1)
    ).toDF("g", "s", "y")
    val r = Eval.aucBy(df, "g", "s", "y")
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), if (x.isNullAt(3)) -1.0 else x.getDouble(3))).toMap
    assert(r("A") == ((2L, 2L, 1.0)))
    assert(r("B") == ((2L, 2L, 0.0)))
    assert(r("C") == ((2L, 0L, -1.0)))
    // the pooled signal looks uninformative while both slices are perfect
    val pooled = Eval.auc(df.where(col("g") =!= "C"), "s", "y").head().getDouble(2)
    assert(pooled == 0.5)
  }

  test("lcmTo: exact scales, bounds enforced") {
    assert(Eval.lcmTo(1) == 1L && Eval.lcmTo(3) == 6L && Eval.lcmTo(10) == 2520L)
    assert(Eval.lcmTo(20) == 232792560L)
    intercept[IllegalArgumentException](Eval.lcmTo(0))
    intercept[IllegalArgumentException](Eval.lcmTo(21))
  }

  test("rankingQuality: hand-computed integer metrics per query (k=3, scale 6)") {
    val df = Seq(
      // query A: rel at ranks 1 and 3 (and one below k at rank 5)
      ("a", 50.0, 1L, 1), ("a", 40.0, 2L, 0), ("a", 30.0, 3L, 1),
      ("a", 20.0, 4L, 0), ("a", 10.0, 5L, 1),
      // query B: nothing relevant
      ("b", 9.0, 1L, 0), ("b", 8.0, 2L, 0),
      // query C: score tie broken by id asc; rel at ranks 2 and 3
      ("c", 9.0, 1L, 0), ("c", 9.0, 2L, 1), ("c", 8.0, 3L, 1)
    ).toDF("q", "s", "id", "y")
    val r = Eval.rankingQuality(df, "q", "s", "id", "y", k = 3)
      .collect().map(row => row.getString(0) ->
        (row.getLong(1), row.getLong(2),
          if (row.isNullAt(3)) -1L else row.getLong(3),
          row.getLong(4), row.getLong(5))).toMap
    // A: r_at_k=2, r_total=3, first=1, mrr=6/1, ap=1*(6/1) + 2*(6/3) = 10
    assert(r("a") == ((2L, 3L, 1L, 6L, 10L)))
    // B: all zero, first_rank null
    assert(r("b") == ((0L, 0L, -1L, 0L, 0L)))
    // C: r_at_k=2, first=2, mrr=6/2=3, ap=1*(6/2) + 2*(6/3) = 7
    assert(r("c") == ((2L, 2L, 2L, 3L, 7L)))
  }

  test("rankingSummary: exact sums and single-division metrics") {
    val df = Seq(
      ("a", 50.0, 1L, 1), ("a", 40.0, 2L, 0), ("a", 30.0, 3L, 1),
      ("a", 20.0, 4L, 0), ("a", 10.0, 5L, 1),
      ("b", 9.0, 1L, 0), ("b", 8.0, 2L, 0),
      ("c", 9.0, 1L, 0), ("c", 9.0, 2L, 1), ("c", 8.0, 3L, 1)
    ).toDF("q", "s", "id", "y")
    val s = Eval.rankingSummary(
      Eval.rankingQuality(df, "q", "s", "id", "y", k = 3), k = 3).head()
    assert(s.getLong(0) == 3 && s.getLong(1) == 2)      // n_queries, n_hit
    assert(s.getLong(2) == 4 && s.getLong(3) == 5)      // Σ r_at_k, Σ r_total
    assert(s.getDouble(4) == 0.666667)                  // hit_rate
    assert(s.getDouble(5) == 0.444444)                  // precision@3 = 4/9
    assert(s.getDouble(6) == 0.8)                       // micro recall = 4/5
    assert(s.getDouble(7) == 0.5)                       // mrr = (6+0+3)/(3·6)
  }

  test("calibrationBins: integer ECE numerators per bin") {
    val df = Seq((50L, 1), (50L, 0), (950L, 1)).toDF("c", "y")
    val r = Eval.calibrationBins(df, "c", "y", nBins = 10)
      .collect().map(row => row.getLong(0) ->
        (row.getLong(1), row.getLong(2), row.getLong(3), row.getLong(4))).toMap
    // bin 0: n=2, conf_sum=100, n_pos=1 -> |1000·1 - 100| = 900
    assert(r(0L) == ((2L, 100L, 1L, 900L)))
    // bin 9: n=1, conf_sum=950, n_pos=1 -> |1000 - 950| = 50
    assert(r(9L) == ((1L, 950L, 1L, 50L)))
    intercept[IllegalArgumentException](Eval.calibrationBins(df, "c", "y", 7))
  }

  test("calibrationBins: conf=1000 clamps to the top bin, out-of-range drops") {
    // 1000 is probability 1.0 — a legitimate maximally-confident row that
    // bins into nBins-1 with its TRUE conf summed; -5 and 1001 are outside
    // [0, 1000] and must drop (-5 would corrupt conf_sum, 1001 is invalid)
    val df = Seq((50L, 1), (1000L, 1), (-5L, 0), (1001L, 1)).toDF("c", "y")
    val r = Eval.calibrationBins(df, "c", "y", nBins = 10)
      .collect().map(row => row.getLong(0) ->
        (row.getLong(1), row.getLong(2), row.getLong(4))).toMap
    assert(r == Map(0L -> ((1L, 50L, 950L)), 9L -> ((1L, 1000L, 0L))))
  }

  test("kappa: textbook confusion matrix gives exact 0.4") {
    // tp=20 fp=5 fn=10 tn=15: po=0.7, pe=0.5 -> kappa = 0.4
    val rows = Seq.fill(20)((1, 1)) ++ Seq.fill(5)((1, 0)) ++
      Seq.fill(10)((0, 1)) ++ Seq.fill(15)((0, 0))
    val r = Eval.kappa(rows.toDF("pred", "y"), "pred", "y").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) == ((20L, 5L, 10L, 15L)))
    assert(r.getLong(4) == 500L && r.getLong(5) == 1250L && r.getDouble(6) == 0.4)
    // perfect agreement -> 1.0; agreement no better than chance -> 0.0
    val perfect = Seq((1, 1), (0, 0), (1, 1), (0, 0)).toDF("pred", "y")
    assert(Eval.kappa(perfect, "pred", "y").head().getDouble(6) == 1.0)
  }

  // ---------------- n-gram LM quality scoring ----------------

  test("lm scoring ranks planted gibberish above planted clean text") {
    // reference: fluent-ish text with repeated words AND repeated
    // transitions; candidates: one doc reusing reference phrases verbatim,
    // one doc of unique never-seen tokens (deterministic "gibberish")
    val refDocs = (0 until 30).map { i =>
      val s = Seq("the", "quick", "fox", "jumps", "over", "the", "lazy", "dog",
        "and", "the", "fox", "runs")
      (i.toLong, s.mkString(" "))
    }
    val clean = (1000L, "the quick fox jumps over the lazy dog")
    val gibberish = (1001L, (0 until 8).map(j => s"zq${j}xv${j * 7}").mkString(" "))
    val docs = (refDocs :+ clean :+ gibberish).toDF("doc_id", "text")
    val lm = LanguageModel.train(docs.where(col("doc_id") < 100), "doc_id", "text")
    assert(lm.vocabSize == 9 && lm.totalTokens == 30L * 12)
    val scores = LanguageModel.scoreDocs(docs, "doc_id", "text", lm)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(scores(1000L) < scores(1001L),
      s"clean ${scores(1000L)} should beat gibberish ${scores(1001L)}")
    // every reference doc (seen transitions only) scores below gibberish too
    refDocs.foreach { case (id, _) => assert(scores(id) < scores(1001L)) }
    // OOV-token surprisal: every gibberish token is unseen, so each costs
    // the full bits — check the exact integer:
    // first = |bin(360+9)|-|bin(1)| = 9-1 = 8; rest = |bin(0+9)|-|bin(1)| = 3
    val gBits = LanguageModel.scoreDocs(docs.where(col("doc_id") === 1001), "doc_id", "text", lm)
      .head().getLong(2)
    assert(gBits == 8 + 7 * 3, s"gibberish bits $gBits")
  }

  test("distilled map-side scorer == join-based scoreDocs, and refuses oversized models") {
    import org.apache.spark.sql.functions.col
    val docs = corpusDf
    val lm = LanguageModel.train(docs.where(col("doc_id") % 3 === 0), "doc_id", "text")
    val joined = LanguageModel.scoreDocs(docs, "doc_id", "text", lm)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val distilled = LanguageModel.scoreDocsDistilled(docs, "doc_id", "text",
      LanguageModel.distill(lm))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(distilled == joined)
    // bounded-driver-state contract: an over-budget model is refused
    intercept[IllegalArgumentException](LanguageModel.distill(lm, maxEntries = 3))
  }

  test("scoreDocsAuto: distilled when the model fits, join-based fallback when not — identical output either way") {
    val docs = corpusDf
    val lm = LanguageModel.train(docs.where(col("doc_id") % 3 === 0), "doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val joined = rows(LanguageModel.scoreDocs(docs, "doc_id", "text", lm))
    // under budget: the auto path must take the distilled kernel (no
    // corpus joins in the plan) and reproduce the join arithmetic exactly
    // (plan checks read the ANALYZED plan: over a local relation the
    // optimizer constant-folds the whole projection into a
    // LocalTableScan, hiding the kernel from the executed plan text)
    val auto = LanguageModel.scoreDocsAuto(docs, "doc_id", "text", lm)
    assert(auto.queryExecution.analyzed.toString.contains("graft_distilled_lm_score"),
      "under-budget model should score through the distilled kernel")
    assert(!auto.queryExecution.analyzed.toString.contains("Join"),
      "distilled path must have zero corpus joins")
    assert(rows(auto) == joined)
    // over budget: explicit fallback to the join-based scorer, same rows
    val fallback = LanguageModel.scoreDocsAuto(docs, "doc_id", "text", lm, maxEntries = 3)
    assert(!fallback.queryExecution.analyzed.toString.contains("graft_distilled_lm_score"),
      "over-budget model must fall back to the join-based scorer")
    assert(fallback.queryExecution.analyzed.toString.contains("Join"),
      "the fallback is the three-join scorer")
    assert(rows(fallback) == joined)
  }

  test("dsirAgainstSlicePreds (one shared corpus tokenize) == general dsirAgainstSlices") {
    val docs = corpusDf
    for (mc <- Seq(1L, 2L, 5L)) {
      val shared = LanguageModel.dsirAgainstSlicePreds(docs, "doc_id", "text",
          _ % 3 === 0, _ % 3 === 1, minCount = mc)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getDouble(5))).toSet
      val general = LanguageModel.dsirAgainstSlices(docs, "doc_id", "text",
          docs.where(col("doc_id") % 3 === 0), docs.where(col("doc_id") % 3 === 1),
          minCount = mc)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getDouble(5))).toSet
      assert(shared == general, s"slice-pred dsir diverges from the general path at minCount=$mc")
    }
  }

  test("dsirWeights == two independent scoreDocs passes, exactly") {
    val docs = corpusDf
    val lmT = LanguageModel.train(docs.where(col("doc_id") % 3 === 0), "doc_id", "text")
    val lmR = LanguageModel.train(docs.where(col("doc_id") % 3 === 1), "doc_id", "text")
    val dual = LanguageModel.dsirWeights(docs, "doc_id", "text", lmT, lmR)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    val st = LanguageModel.scoreDocs(docs, "doc_id", "text", lmT)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val sr = LanguageModel.scoreDocs(docs, "doc_id", "text", lmR)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(dual.keySet == st.keySet && dual.keySet == sr.keySet)
    dual.foreach { case (id, (n, bt, br, gap)) =>
      assert((n, bt) == st(id), s"target bits diverge for doc $id")
      assert(br == sr(id), s"raw bits diverge for doc $id")
      assert(gap == br - bt, s"dsir_bits is not the difference for doc $id")
    }
  }

  test("fused dsirAgainstSlices == dsirWeights over two independently trained models") {
    // the r15 fused path (one tagged reference pass, combined count
    // tables, three corpus joins) must be value-identical to the
    // two-train six-join composition it replaced — including minCount
    // vocabulary cuts and the in-vocab-ends bigram restriction
    val docs = corpusDf
    for (mc <- Seq(1L, 2L, 5L)) {
      val fused = LanguageModel.dsirAgainstSlices(docs, "doc_id", "text",
          docs.where(col("doc_id") % 3 === 0), docs.where(col("doc_id") % 3 === 1),
          minCount = mc)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getDouble(5))).toSet
      val dual = LanguageModel.dsirWeights(docs, "doc_id", "text",
          LanguageModel.train(docs.where(col("doc_id") % 3 === 0), "doc_id", "text", mc),
          LanguageModel.train(docs.where(col("doc_id") % 3 === 1), "doc_id", "text", mc))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getDouble(5))).toSet
      assert(fused == dual, s"fused dsir diverges from the dual-train path at minCount=$mc")
    }
  }

  test("dsir: target-distribution docs get higher importance weights than raw-distribution docs") {
    // target distribution: phrase A; raw distribution: phrase B; two
    // candidates, one from each distribution — the A-like doc must carry
    // the (strictly) larger dsir gap
    val target = (0 until 25).map(i => (i.toLong, "alpha beta gamma delta alpha beta"))
    val raw = (100 until 125).map(i => (i.toLong, "omega psi chi phi omega psi"))
    val candA = (1000L, "alpha beta gamma delta")
    val candB = (1001L, "omega psi chi phi")
    val docs = (target ++ raw :+ candA :+ candB).toDF("doc_id", "text")
    val w = LanguageModel.dsirWeights(docs, "doc_id", "text",
        LanguageModel.train(docs.where(col("doc_id") < 100), "doc_id", "text"),
        LanguageModel.train(docs.where(col("doc_id").between(100, 999)), "doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(w(1000L) > 0, s"target-like doc should have positive dsir_bits, got ${w(1000L)}")
    assert(w(1001L) < 0, s"raw-like doc should have negative dsir_bits, got ${w(1001L)}")
    assert(w(1000L) > w(1001L))
  }

  test("lm scoring: bigram context halves the cost of seen transitions vs unseen pairs") {
    // two-word vocab with ONE observed transition direction: "a b" seen
    // often, "b a" never — the bigram term must separate them
    val ref = (0 until 20).map(i => (i.toLong, "a b")).toDF("doc_id", "text")
    val lm = LanguageModel.train(ref, "doc_id", "text")
    val cand = Seq((100L, "a b"), (101L, "b a")).toDF("doc_id", "text")
    val s = LanguageModel.scoreDocs(cand, "doc_id", "text", lm)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // seen transition: c(a,b)=20, c(a)=20, V=2 → bits = |bin(22)|-|bin(21)| = 0
    // unseen: c(b,a)=0, c(b)=20 → bits = |bin(22)|-|bin(1)| = 5
    assert(s(100L) < s(101L), s"seen ${s(100L)} vs unseen ${s(101L)}")
  }

  test("ccnetBuckets: per-language terciles, monotone in bits/token, gibberish tails") {
    // two languages x 12 docs with a planted perplexity gradient: doc i
    // appends i never-seen tokens to a fluent stopword-rich base, so
    // bits/token rises with i WITHIN each language while the language
    // label stays stable (base stopwords dominate the argmax)
    val enBase = "the fox is in the den and it is warm near the fire"
    val deBase = "der hund ist ein tier und die katze ist klein im haus"
    val docs = ((0 until 12).map { i =>
      (i.toLong, (enBase + " " + (0 until i).map(j => s"zq${i}x$j").mkString(" ")).trim)
    } ++ (0 until 12).map { i =>
      (100L + i, (deBase + " " + (0 until i).map(j => s"vw${i}k$j").mkString(" ")).trim)
    } :+ ((999L, "   "))).toDF("doc_id", "text")
    val out = LanguageModel.ccnetBuckets(docs, "doc_id", "text",
      docs.where(col("doc_id") % 3 === 0), minCount = 1L,
      nBins = 3, accuracy = 100000)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[Double]("bits_per_token"), r.getAs[Int]("bin")))
    assert(!out.exists(_._1 == 999L), "zero-token docs have no score and drop")
    val byLang = out.groupBy(_._2)
    assert(byLang.keySet == Set("en", "de"), s"langs: ${byLang.keySet}")
    byLang.foreach { case (lang, rows) =>
      assert(rows.length == 12, s"$lang must keep all 12 docs")
      assert(rows.map(_._4).toSet == Set(0, 1, 2),
        s"$lang must populate all three buckets: ${rows.toSeq}")
      // value-based bins are monotone in the score within the language
      val sorted = rows.sortBy(r => (r._3, r._1))
      assert(sorted.map(_._4).sliding(2).forall(p => p.head <= p.last),
        s"$lang bins must be monotone in bits/token: ${sorted.toSeq}")
      // the fluent base doc heads its language; the most-gibberish doc tails
      assert(sorted.head._4 == 0 && sorted.last._4 == 2)
    }
    // per-language independence: en and de cut values differ, so equal
    // bins do NOT imply comparable absolute scores across languages —
    // check the cuts really were computed per group
    val cuts = Split.quantileCutsBy(
      LanguageModel.scoreAgainstSlice(docs, "doc_id", "text",
          docs.where(col("doc_id") % 3 === 0), minCount = 1L)
        .join(docs.select(col("doc_id"),
          graft.functions.TextFunctions.langId(col("text")).as("lang")), "doc_id"),
      "lang", "bits_per_token", nBins = 3, accuracy = 100000)
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(cuts("en") != cuts("de"), "cut edges must be per-language")
  }
}
