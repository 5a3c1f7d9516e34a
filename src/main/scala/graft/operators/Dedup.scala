package graft.operators

import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deduplication operators for training-data pipelines, designed scale-first:
  *
  *  - exact: one hash shuffle on a 128-bit content key; no bags.
  *  - minhash/simhash/embedding: candidate generation is an equi-join on
  *    LSH bucket keys (band hash / signature chunk), so the shuffle key
  *    space is bounded and skew-resistant; the quadratic verify step runs
  *    only inside buckets. Nothing here is O(n²) over the corpus.
  *
  * All candidate pairs are emitted with `idA < idB` to halve the join and
  * keep results deterministic.
  */
object Dedup {

  private def materializeOnce(df: DataFrame): DataFrame = Materialize.once(df)

  /** Exact dedup on canonical text: keep the smallest id per fingerprint.
    * One shuffle; the winner is chosen with `min_by`-style aggregation, not
    * a window, so there is no per-group sort.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("__fp", fingerprint(col(textCol)))
      .groupBy(col("__fp"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_count"))
      .drop("__fp")

  /** MinHash signature column: `numHashes` permutations approximated by
    * re-seeded xxhash64 over word `shingle`-grams; array<long> output.
    * String-free single pass via [[graft.functions.MinHashTokens]]: tokens
    * are hashed once and windows chain token hashes, so no shingle strings
    * are ever built (duplicate windows can't change a minimum, so no
    * distinct pass either).
    */
  def minhashSignature(text: Column, shingle: Int = 3, numHashes: Int = 64): Column =
    graft.functions.HashExpressions.minhashTokens(
      graft.functions.TextFunctions.tokens(text), shingle, numHashes)

  /** MinHash + LSH near-duplicate candidate pairs.
    *
    * shingle→minhash→band→bucket-join: signatures are banded
    * (`numHashes = bands * rowsPerBand`); docs sharing any band hash land in
    * one bucket; pairs within a bucket are scored by full-signature
    * agreement (estimated Jaccard) and thresholded. Collision probability
    * follows the standard S-curve `1-(1-j^r)^b`.
    *
    * Returns (idA, idB, est_jaccard). Scale: the only shuffles are the
    * band-key groupBy-join and a distinct on pairs.
    */
  def minhashNearDuplicates(df: DataFrame, idCol: String, textCol: String,
      shingle: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.7): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    // the signature table feeds banding AND both verify joins; measured 2x
    // faster materialized once than recomputed per consumer, even with the
    // cheap token-chain signatures (lifetime/fault notes: materializeOnce)
    val sigs = materializeOnce(spread(df).select(col(idCol).as("__id"),
      minhashSignature(col(textCol), shingle, numHashes).as("__sig")))
    minhashPairsFromSigs(sigs, bands, threshold,
      graft.functions.HashExpressions.bandHashes(_, bands))
  }

  /** The banding→candidate→verify pipeline shared by the production hash
    * family ([[minhashNearDuplicates]]) and the oracle fixture family
    * ([[minhashNearDuplicatesFixture]]): signatures in, thresholded
    * (idA, idB, est_jaccard) out. Swapping only the hash columns keeps the
    * PIPELINE — banding, bucket join, first-agreeing-band exact-once
    * filter, full-signature verify — on the oracle-gated path.
    */
  private[graft] def minhashPairsFromSigs(sigs: DataFrame, bands: Int,
      threshold: Double, bandHash: Column => Column,
      pairWhere: Option[Column] = None): DataFrame = {
    // Candidate generation carries only (id, band hashes): the banding
    // explode and bucket join shuffle `bands` longs per doc, not the full
    // `numHashes`-long signature. A pair colliding in k bands appears k
    // times; instead of a dropDuplicates SHUFFLE, keep the copy whose band
    // is the FIRST band where the two band-hash arrays agree — a map-side
    // filter that is exact-once by construction. An optional `__side`
    // column on `sigs` rides along as `__sideA`/`__sideB` so `pairWhere`
    // can restrict to cross-corpus pairs instead of the id-ordered
    // self-join default.
    val side = if (sigs.columns.contains("__side")) Seq(col("__side")) else Nil
    val withBh = sigs.select(
      Seq(col("__id"), bandHash(col("__sig")).as("__bh")) ++ side: _*)
    // LIGHT banding (r15): the bucket exchange shuffles only (id, band,
    // bucket) — the 16-long band-hash array used to ride BOTH sides of
    // every exploded row (bands × |docs| × 2 × 128 B; ProbeMinhash stage
    // breakdown measured the bucket join at ~4× the signature kernel's
    // cost, dominated by that exchange). The arrays are re-attached by
    // id-join against the doc-count-sized (id, bh) relation — broadcast
    // at local scale, shuffled-hash beyond — BEFORE the first-agree
    // exact-once filter, so pair semantics are unchanged.
    val banded = withBh.select(
        Seq(col("__id")) ++ side :+ posexplode(col("__bh")): _*)
      .withColumnsRenamed(Map("pos" -> "__band", "col" -> "__bucket"))
    // (r16 probed-and-rejected: an alias-based self-join restructure to
    // force exchange reuse on the banded stream measured NULL — AQE's
    // runtime stage cache already canonicalizes through the per-side
    // renames and reuses the banded/withBh/sigs exchanges in the shuffle
    // regime; plans/r16/q_dedup_minhash_shuffle_{before,after}.txt both
    // show 3 ReusedExchange nodes.)
    def tagged(idName: String, sideName: String) =
      banded.select(Seq(col("__band"), col("__bucket"),
        col("__id").as(idName)) ++
        side.map(_ => col("__side").as(sideName)): _*)
    val l = tagged("idA", "__sideA")
    val rg = tagged("idB", "__sideB")
    // first-agree as ONE codegen'd kernel (r16): the array_position ∘
    // zip_with composition this replaces is value-identical (spec-pinned)
    // but ran as a CodegenFallback join condition — an interpreted lambda
    // frame + array materialization PER COLLISION ROW, measured as the
    // dominant term of the candidates stage (ProbeMinhash x16: 1.2 s of
    // the 1.5 s pipeline before; guide §4 "no non-codegen expressions in
    // the hot path")
    val firstAgree =
      graft.functions.HashExpressions.firstAgreePos(col("__bhA"), col("__bhB"))
    val pairs = l.join(rg, Seq("__band", "__bucket"))
      .where(pairWhere.getOrElse(col("idA") < col("idB")))
      .select(Seq(col("idA"), col("idB"), col("__band")): _*)
      .join(withBh.select(col("__id").as("idA"), col("__bh").as("__bhA")), "idA")
      .join(withBh.select(col("__id").as("idB"), col("__bh").as("__bhB")), "idB")
      .where(col("__band") === firstAgree - 1)
      .select(col("idA"), col("idB"))
    // full-signature verify only for surviving candidate pairs
    KeepRows.matching(pairs
        .join(sigs.select(col("__id").as("idA"), col("__sig").as("__sigA")), "idA")
        .join(sigs.select(col("__id").as("idB"), col("__sig").as("__sigB")), "idB"),
        "est_jaccard",
        graft.functions.HashExpressions.signatureAgreement(col("__sigA"), col("__sigB")),
        _ >= threshold)
      .select(col("idA"), col("idB"), col("est_jaccard"))
  }

  /** Cross-corpus near-duplicate pairs: documents in `probe` whose MinHash
    * signature agrees ≥ threshold with some document in `reference` — the
    * doc-level decontamination sweep (drop training docs that near-
    * duplicate an eval item) without building a persistent index (for the
    * standing-index version see
    * [[graft.operators.AnnIndex.probeMinhash]]). Ids must be unique
    * ACROSS both inputs. Output: (probe_id, ref_id, est_jaccard).
    *
    * Scale shape: identical to [[minhashNearDuplicates]] — the side tag
    * rides the banding explode; only (probe, reference) pairs survive the
    * bucket join's map-side restriction, so cross-corpus costs exactly
    * what self-dedup costs on the union.
    */
  def minhashCrossDuplicates(probe: DataFrame, reference: DataFrame,
      idCol: String, textCol: String, shingle: Int = 3, numHashes: Int = 64,
      bands: Int = 16, threshold: Double = 0.7): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    def sigSide(df: DataFrame, s: Int) = df.select(col(idCol).as("__id"),
      minhashSignature(col(textCol), shingle, numHashes).as("__sig"),
      lit(s).as("__side"))
    val sigs = materializeOnce(sigSide(probe, 0).unionByName(sigSide(reference, 1)))
    minhashPairsFromSigs(sigs, bands, threshold,
      graft.functions.HashExpressions.bandHashes(_, bands),
      Some(col("__sideA") === 0 && col("__sideB") === 1))
      .withColumnsRenamed(Map("idA" -> "probe_id", "idB" -> "ref_id"))
  }

  /** [[minhashCrossDuplicates]] under the fixture hash family — the
    * oracle-gated twin (the q_dedup_minhash_fixed discipline).
    */
  /** Signature cost must never be serialized through the input FILE
    * layout: a small parquet reads as ONE partition and the whole corpus
    * hashes in one task (measured: the interpreted fixture chains at 10x
    * data sat single-threaded for tens of minutes; 23x utilization after
    * spreading). CONDITIONAL on the input actually being narrower than
    * the session — at corpus scale file splits already provide the
    * parallelism and an unconditional repartition would shuffle the raw
    * text for nothing.
    *
    * The partition probe (`df.rdd.getNumPartitions`) is gated to
    * SCAN-ROOTED plans (scan + project/filter only): on those, building
    * the RDD is just file listing — no exchange exists, so AQE has no
    * query stage to materialize eagerly. Any other shape (a join/agg
    * upstream) already owes its parallelism to the shuffle settings, and
    * probing it under AQE could execute upstream stages at
    * pipeline-CONSTRUCTION time — so those pass through untouched.
    */
  private[graft] def spread(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, LeafNode, LogicalPlan, Project}
    def scanRooted(p: LogicalPlan): Boolean = p match {
      case pr: Project  => scanRooted(pr.child)
      case f: LFilter   => scanRooted(f.child)
      case _: LeafNode  => true
      case _            => false
    }
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (scanRooted(df.queryExecution.optimizedPlan) &&
        df.rdd.getNumPartitions < target) df.repartition(target)
    else df
  }

  def minhashCrossDuplicatesFixture(probe: DataFrame, reference: DataFrame,
      idCol: String, textCol: String, shingle: Int = 3, numHashes: Int = 64,
      bands: Int = 16, threshold: Double = 0.7): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    def sigSide(df: DataFrame, s: Int) = spread(df).select(col(idCol).as("__id"),
      minhashSignatureFixture(col(textCol), shingle, numHashes).as("__sig"),
      lit(s).as("__side"))
    val sigs = materializeOnce(sigSide(probe, 0).unionByName(sigSide(reference, 1)))
    minhashPairsFromSigs(sigs, bands, threshold,
      bandHashesFixture(bands, numHashes / bands),
      Some(col("__sideA") === 0 && col("__sideB") === 1))
      .withColumnsRenamed(Map("idA" -> "probe_id", "idB" -> "ref_id"))
  }

  /** The SQL-replayable minhash modulus: a prime just under 2³¹, so every
    * intermediate (`acc*1000003 + v` with acc < p) stays far inside a
    * 64-bit integer on both engines.
    */
  private[graft] val FixtureP = 1000000007L

  /** MinHash signature from the FIXTURE hash family — plain integer
    * arithmetic end to end (per-char polynomial token hash, chained window
    * hash, 64 literal-coefficient LCG finalizers, all mod [[FixtureP]]),
    * so a DuckDB oracle can replay signatures exactly. Window semantics
    * mirror [[graft.functions.MinHashTokens]] (max(1, T-n+1) windows;
    * short texts degrade to one whole-text window). Codepoint-level
    * hashing assumes BMP text (the test corpora are ASCII); the xxhash
    * production family has no such caveat.
    *
    * Scale shape: identical to the production signature — one map-side
    * codegen'd pass per document, no shuffle
    * ([[graft.functions.FixtureHashes]]; the original HOF composition is
    * kept in FixtureHashEquivalenceSpec as the reference implementation —
    * the interpreted nesting pinned 32 cores for minutes on the x16
    * sweep). Production dedup still wants the xxhash family for hash
    * quality; this one exists for oracle gates and cross-engine audits.
    */
  private[graft] def minhashSignatureFixture(text: Column,
      shingle: Int = 3, numHashes: Int = 64): Column =
    graft.functions.HashExpressions.fixtureMinhashSig(text, shingle, numHashes)

  /** Chained window hashes of the fixture family — the shared front half of
    * [[minhashSignatureFixture]] and [[simhashSignatureFixture]]: per-char
    * polynomial token hash, `shingle`-token chained window hash, all mod
    * [[FixtureP]]. Window semantics mirror the production kernels
    * (max(1, T-n+1) windows; short texts degrade to one whole-text window).
    */
  private[graft] def fixtureWindowHashes(text: Column, shingle: Int): Column =
    graft.functions.HashExpressions.fixtureWindowHashes(text, shingle)

  /** Per-band chained hash over the fixture signature — the banding dual
    * of [[minhashSignatureFixture]] (replaces the xxhash
    * [[graft.functions.BandHashes]] on the fixture path).
    */
  private[graft] def bandHashesFixture(bands: Int, rowsPerBand: Int)(sig: Column): Column =
    graft.functions.HashExpressions.fixtureBandHashes(sig, bands, rowsPerBand)

  /** [[minhashNearDuplicates]] with the fixture hash family: the SAME
    * banding→candidate→verify pipeline ([[minhashPairsFromSigs]] — band
    * bucket join, first-agreeing-band exact-once filter, full-signature
    * agreement threshold), with signatures and band hashes swapped for
    * SQL-replayable integer arithmetic. This is what lets the driver's
    * DuckDB oracle gate the minhash PIPELINE end to end (q_dedup_minhash_
    * fixed) — the production xxhash family keeps its rows-only gate plus
    * ScalaTest replicas.
    */
  def minhashNearDuplicatesFixture(df: DataFrame, idCol: String, textCol: String,
      shingle: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.7): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val sigs = materializeOnce(spread(df).select(col(idCol).as("__id"),
      minhashSignatureFixture(col(textCol), shingle, numHashes).as("__sig")))
    minhashPairsFromSigs(sigs, bands, threshold,
      bandHashesFixture(bands, numHashes / bands))
  }

  /** Dedup-quality evaluation: precision/recall of the minhash-LSH
    * pipeline against EXACT Jaccard ground truth on the SAME fixture
    * shingle space — "how good is my dedup config" as a first-class
    * one-row aggregate. The LSH side is [[minhashNearDuplicatesFixture]]
    * verbatim; the truth side computes exact Jaccard over each doc's
    * DISTINCT window-hash set (what the minhash signature estimates),
    * thresholded by the integer cross-multiplication
    * `tn·c ≥ td·(na+nb−c)` (threshold = tn/td) so no float can flip a
    * pair. Output: (n_exact, n_lsh, n_common, precision, recall) —
    * integer counts plus two single divisions.
    *
    * Scale shape: the truth side is the Σ df(gram)² inverted-index
    * self-join (the [[ngramJaccardPairs]] cost) — an EVALUATION harness
    * to run on a bounded sample/slice to pick (numHashes, bands,
    * threshold), not a per-ingest corpus pass; the LSH side under
    * measurement is the scale path.
    */
  def minhashEvalFixture(df: DataFrame, idCol: String, textCol: String,
      shingle: Int = 3, numHashes: Int = 64, bands: Int = 16,
      thresholdNum: Long = 7, thresholdDen: Long = 10): DataFrame = {
    require(thresholdNum > 0 && thresholdDen >= thresholdNum,
      s"threshold must be a fraction in (0, 1], got $thresholdNum/$thresholdDen")
    val lsh = minhashNearDuplicatesFixture(df, idCol, textCol, shingle,
      numHashes, bands, threshold = thresholdNum.toDouble / thresholdDen)
      .select(col("idA"), col("idB"), lit(1).as("__l"))
    val g = materializeOnce(spread(df).select(col(idCol).as("__id"),
      explode(array_distinct(fixtureWindowHashes(col(textCol), shingle))).as("__g")))
    val sizes = g.groupBy("__id").agg(count(lit(1)).as("__n"))
    val common = g.as("a").join(g.as("b"), col("a.__g") === col("b.__g"))
      .where(col("a.__id") < col("b.__id"))
      .groupBy(col("a.__id").as("idA"), col("b.__id").as("idB"))
      .agg(count(lit(1)).as("__c"))
    val exact = common
      .join(sizes.withColumnsRenamed(Map("__id" -> "idA", "__n" -> "__na")), "idA")
      .join(sizes.withColumnsRenamed(Map("__id" -> "idB", "__n" -> "__nb")), "idB")
      .where(col("__c") * thresholdDen >=
        (col("__na") + col("__nb") - col("__c")) * thresholdNum)
      .select(col("idA"), col("idB"), lit(1).as("__e"))
    exact.join(lsh, Seq("idA", "idB"), "full_outer")
      .agg(
        sum(coalesce(col("__e"), lit(0))).cast("long").as("n_exact"),
        sum(coalesce(col("__l"), lit(0))).cast("long").as("n_lsh"),
        sum(when(col("__e").isNotNull && col("__l").isNotNull, 1L).otherwise(0L))
          .cast("long").as("n_common"))
      .select(col("n_exact"), col("n_lsh"), col("n_common"),
        when(col("n_lsh") > 0,
          round(col("n_common").cast("double") / col("n_lsh"), 6))
          .otherwise(lit(null)).as("precision"),
        when(col("n_exact") > 0,
          round(col("n_common").cast("double") / col("n_exact"), 6))
          .otherwise(lit(null)).as("recall"))
  }

  /** Benchmark decontamination: per corpus doc, the containment of its
    * distinct n-gram set in the pooled benchmark n-gram set —
    * `|grams(doc) ∩ pool| / |grams(doc)|`. The standard test-set-leakage
    * check for training corpora (pooled variant: a doc overlapping ANY
    * benchmark item counts, which is what decontamination wants).
    *
    * Scale shape: the pool is the distinct n-grams of the BENCHMARK —
    * benchmark suites are tiny next to a 100 TB corpus, so the pool
    * broadcasts and the per-doc hit count is a map-side semi probe; the
    * only shuffle is the per-doc count aggregation, keyed by doc id.
    */
  def ngramContamination(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, shingle: Int = 3): DataFrame = {
    // shingle IDENTITY only — string-free hashed n-grams (NgramHashes),
    // so no shingle strings are ever concatenated or shuffled
    val grams = (df: DataFrame) => df.select(col(idCol).as("__id"),
      explode(graft.functions.HashExpressions.ngramHashes(
        graft.functions.TextFunctions.tokens(col(textCol)), shingle)).as("__sh"))
    val pool = grams(benchmark).select("__sh").distinct()
    // ONE pass over the corpus grams: the broadcast pool rides as a hit
    // marker on a left join, so total and hit counts come out of the same
    // aggregate — a tot/hits two-branch formulation would re-run the
    // shingle explode (the dominant cost) once per branch
    grams(corpus)
      .join(broadcast(pool.withColumn("__hit", lit(1))), Seq("__sh"), "left")
      .groupBy("__id")
      .agg(count(lit(1)).as("__n"), count(col("__hit")).as("__h"))
      .select(col("__id").as(idCol),
        round(col("__h").cast("double") / col("__n"), 6).as("contamination"))
  }

  /** SimHash 64-bit signature over distinct word shingles: per-bit
    * weighted vote of window hashes — near-duplicate texts differ in few
    * bits. String-free via [[graft.functions.SimHashTokens]] (windows are
    * chained token hashes; duplicates removed by sort inside the
    * expression, mirroring the array_distinct of the string path).
    */
  def simhash(text: Column, shingle: Int = 2): Column =
    graft.functions.HashExpressions.simhashTokens(
      graft.functions.TextFunctions.tokens(text), shingle)

  /** SimHash near-duplicates within `maxHamming` bits. Candidates via
    * chunk-LSH (pigeonhole: two signatures within k bits agree on at least
    * one of k+1 chunks), verified by exact hamming distance.
    */
  def simhashNearDuplicates(df: DataFrame, idCol: String, textCol: String,
      shingle: Int = 2, maxHamming: Int = 3): DataFrame = {
    val sigs = materializeOnce(spread(df)
      .select(col(idCol).as("__id"), simhash(col(textCol), shingle).as("__sig")))
    simhashPairsFromSigs(sigs, maxHamming)
  }

  /** The chunk-LSH→candidate→verify pipeline shared by the production
    * simhash family ([[simhashNearDuplicates]]) and the oracle fixture
    * family ([[simhashNearDuplicatesFixture]]) — the
    * [[minhashPairsFromSigs]] discipline applied to simhash: swapping only
    * the signature column keeps chunking, bucket join, first-agreeing-chunk
    * exact-once filter, and the hamming verify on the oracle-gated path.
    */
  private[graft] def simhashPairsFromSigs(sigs: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 31, "maxHamming must be in [0, 31]")
    val chunks = maxHamming + 1
    val width = 64 / chunks
    // (1L << 64) wraps to 1 in JVM shift semantics: full-width mask is -1
    val mask = if (width == 64) -1L else (1L << width) - 1
    val chunked = sigs.select(col("__id"), col("__sig"),
      explode(array((0 until chunks).map(ci =>
        struct(lit(ci).as("__chunk"),
          shiftrightunsigned(col("__sig"), ci * width)
            .bitwiseAND(lit(mask)).as("__key"))): _*)).as("__ck"))
      .select(col("__id"), col("__sig"),
        col("__ck.__chunk").as("__chunk"), col("__ck.__key").as("__key"))
    val l = chunked.select(col("__chunk"), col("__key"), col("__id").as("idA"), col("__sig").as("__sigA"))
    val r = chunked.select(col("__chunk"), col("__key"), col("__id").as("idB"), col("__sig").as("__sigB"))
    // a pair agreeing on k chunks joins k times; keep only the copy from the
    // FIRST agreeing chunk (map-side exact-once, replaces a dropDuplicates
    // shuffle — both signatures ride along as single longs anyway)
    def chunkKey(sig: Column, ci: Int): Column =
      shiftrightunsigned(sig, ci * width).bitwiseAND(lit(mask))
    val firstAgree = array_position(
      array((0 until chunks).map(ci =>
        chunkKey(col("__sigA"), ci) === chunkKey(col("__sigB"), ci)): _*), true)
    KeepRows.matching(
        l.join(r, Seq("__chunk", "__key"))
          .where(col("idA") < col("idB"))
          .where(col("__chunk") === firstAgree - 1),
        "hamming", hammingDistance(col("__sigA"), col("__sigB")),
        _ <= maxHamming)
      .select(col("idA"), col("idB"), col("hamming"))
  }

  /** Effective bit width of the fixture simhash signature: the top 64-60
    * bits are forced to zero so chunk keys come from plain nonnegative
    * shifts — Spark's `shiftrightunsigned` and DuckDB's `>>` agree on
    * every nonnegative long, with no sign-extension caveat to replay.
    */
  private[graft] val SimFixtureBits = 60

  /** SimHash signature from the FIXTURE hash family: per-bit parity votes
    * of the [[fixtureWindowHashes]] modular chains over DISTINCT windows
    * (matching the production kernel's dedup), summed into a
    * [[SimFixtureBits]]-bit signature — plain integer arithmetic end to
    * end, so a DuckDB oracle replays signatures, chunk buckets, candidate
    * pairs, and hamming distances exactly. Native codegen'd kernel since
    * round 9 ([[graft.functions.FixtureHashes.simhashSig]]), equivalence-
    * gated against the original HOF form in FixtureHashEquivalenceSpec.
    */
  private[graft] def simhashSignatureFixture(text: Column, shingle: Int = 2): Column =
    graft.functions.HashExpressions.fixtureSimhashSig(text, shingle, SimFixtureBits)

  /** [[simhashNearDuplicates]] with the fixture hash family: the SAME
    * chunk-LSH pipeline ([[simhashPairsFromSigs]]), signatures swapped for
    * SQL-replayable integer arithmetic — what lets the driver's DuckDB
    * oracle gate the simhash PIPELINE end to end (q_dedup_simhash_fixed);
    * the production xxhash family keeps its rows-only gate plus ScalaTest
    * replicas.
    */
  def simhashNearDuplicatesFixture(df: DataFrame, idCol: String, textCol: String,
      shingle: Int = 2, maxHamming: Int = 3): DataFrame = {
    val sigs = materializeOnce(spread(df).select(col(idCol).as("__id"),
      simhashSignatureFixture(col(textCol), shingle).as("__sig")))
    simhashPairsFromSigs(sigs, maxHamming)
  }

  /** Exact n-gram Jaccard similarity for all pairs sharing ≥1 shingle.
    * Distributed as shingle-inverted-index self-join: explode distinct
    * shingles, join on shingle, count common per pair, then
    * `|A∩B| / (|A|+|B|-|A∩B|)`.
    *
    * `budget` ([[PairBudget]]) dials candidate GENERATION only — a
    * document-frequency cut like a stop-word list. A shingle in f docs
    * contributes f(f−1)/2 join rows, so at corpus scale a handful of
    * ubiquitous shingles dominate the join; capping bounds the quadratic
    * term while sizes (the denominators) stay exact. The DEFAULT is
    * [[PairBudget.Auto]]: mine exactly when Σ pair rows fits a
    * linear-in-corpus budget, derive the binding df cap from the df
    * histogram otherwise — safe on a duplicated 100 TB corpus without
    * giving up exactness where it is affordable. Uncapped mining is
    * opt-in ([[PairBudget.Exact]]) because pairs whose every common
    * shingle is hot are missed under any cap — and on corpora where the
    * SIGNAL rides hot shingles that miss rate is catastrophic (round-11
    * measurement on the x16 synthetic corpus, ProbeJac2 + SCALE.md: the
    * 2-gram df histogram is BIMODAL — 496 discriminative shingles at
    * df ≤ 50 vs ~14.4k template shingles at df 200–338 carrying 99.99%
    * of Σf² — and ANY binding cap keeps only 15 of 11,552 jaccard ≥ 0.1
    * pairs, 13 of 256 at ≥ 0.5, because even true near-duplicates share
    * mostly template shingles there; that evidence is why Auto budgets
    * ROWS rather than capping a df quantile). Use a manual
    * [[PairBudget.Cap]] when the df head is boilerplate, not vocabulary:
    * the q_ngram_jaccard_capped oracle pins
    * the capped path's exact semantics either way. Two more measured
    * dead ends recorded for the next reader: posting-list deduplication
    * (folding shingles with identical doc sets into one weighted
    * super-shingle) is a no-op on this corpus — all 14,896 posting lists
    * are distinct — and the grouped-array pair generator (collect_list +
    * slice explode) measured 4× SLOWER than this self-join (150 s vs
    * 31-36 s at x16) because slice() copies the tail array per element.
    * The self-join + map-side-combined count agg below IS the optimal
    * exact shape: it runs as one broadcast-hash-join stage with partial
    * aggregation, and its cost is the irreducible Σf² row stream
    * (1.17 G rows → 165 M distinct pairs at x16, ~31 s on 32 cores).
    * (See the in-body note for why PPJoin prefix filtering was measured
    * and rejected here too.)
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      shingle: Int = 3, threshold: Double = 0.5,
      budget: PairBudget = PairBudget.Auto()): DataFrame = {
    // hashed shingle identities (string-free; see ngramContamination),
    // materialized once: the index feeds the df-rank pass, the prefix
    // join, AND the per-pair intersection verify
    val shAll = materializeOnce(df.select(col(idCol).as("__id"),
      explode(graft.functions.HashExpressions.ngramHashes(
        graft.functions.TextFunctions.tokens(col(textCol)), shingle)).as("__sh")))
    val sh = PairBudget.resolve(shAll, "__id", "__sh", budget).fold(shAll) { cap =>
      val hot = shAll.groupBy("__sh").agg(count(lit(1)).as("__df"))
        .where(col("__df") > cap).select(col("__sh"))
      shAll.join(broadcast(hot), Seq("__sh"), "left_anti")
    }
    // denominators from the UNCAPPED index: |A| and |B| stay exact even
    // when hot shingles are dropped from candidate generation
    val sizes = shAll.groupBy("__id").agg(count(lit(1)).as("__n"))
    // Candidate generation + intersection counting in ONE self-join +
    // ONE aggregation over the inverted index: Σ_sh df(sh)² join rows,
    // map-side-combined into per-pair counts. A PPJoin-style
    // prefix-filter variant (df-ordered prefixes, prefix-only join,
    // per-pair verify) was built and MEASURED AGAINST this on the x16
    // corpus and rejected: with a near-uniform df distribution
    // (max df 50, mean 19 — the template-generated synthetic corpus, and
    // the worst case for prefix pruning) prefixes cut join volume only
    // 2.8× while emitting 26M candidate pairs whose intersection-verify
    // join explodes to |cands|·|doc| ≈ 1.4B rows — strictly worse than
    // counting intersections inline. Prefix filtering earns its keep on
    // Zipf-headed corpora, where this formulation's protection is the
    // `maxDocFreq` cap on exactly those head shingles (a shingle capped
    // at df ≤ c contributes ≤ c² rows — the quadratic term is bounded
    // per shingle, never corpus-wide).
    val common = sh.as("a").join(sh.as("b"), col("a.__sh") === col("b.__sh"))
      .where(col("a.__id") < col("b.__id"))
      .groupBy(col("a.__id").as("idA"), col("b.__id").as("idB"))
      .agg(count(lit(1)).as("__common"))
    common
      .join(sizes.withColumnsRenamed(Map("__id" -> "idA", "__n" -> "__na")), "idA")
      .join(sizes.withColumnsRenamed(Map("__id" -> "idB", "__n" -> "__nb")), "idB")
      .withColumn("jaccard",
        col("__common").cast("double") /
          (col("__na") + col("__nb") - col("__common")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select(col("idA"), col("idB"), col("jaccard"))
  }

  /** SoftDeDup reweighting (He, Xue et al., "SoftDedup: an Efficient Data
    * Reweighting Method for Speeding Up Language Model Pre-training",
    * ACL 2024): instead of REMOVING near-duplicates, assign every document
    * a sampling weight that falls with its "data commonness" — how often
    * its content recurs across the corpus — so duplicated material is
    * down-sampled smoothly rather than cut at a threshold. No pairs are
    * ever mined: this is the pair-free member of the dedup family, and the
    * natural companion to [[graft.operators.Mixture]]-style rate sampling.
    *
    * Commonness here is INTEGER-EXACT (the house whole-bits discipline,
    * cf. LanguageModel): for each document take its DISTINCT word
    * `shingle`-grams G_d, let df(g) = number of documents containing g;
    * then
    *
    *   sum_df(d)     = Σ_{g∈G_d} df(g)                 (BIGINT)
    *   commonness(d) = sum_df / |G_d|   (mean doc-frequency, ≥ 1)
    *   weight(d)     = |G_d| / sum_df   (∈ (0, 1]; 1 ⟺ all grams unique)
    *
    * A document duplicated k times verbatim has every gram at df ≥ k, so
    * weight ≤ 1/k — matching the exact-cluster 1/k of [[softWeightsExact]]
    * — while partial overlap degrades the weight proportionally, which is
    * the paper's point. Both ratios are single IEEE divisions of exact
    * integers, so they replay bit-identically in the DuckDB oracle.
    *
    * Scale shape: one distinct-gram index (hashed 8-byte identities via
    * [[graft.functions.HashExpressions.ngramHashes]] — no shingle strings
    * shuffle), one count per gram, one index-sized join back, one per-doc
    * aggregate — all linear in the index, NO quadratic candidate term
    * anywhere, so no [[PairBudget]] is needed. Documents shorter than the
    * shingle emit ONE partial-window gram (the kernel's max(1, t−n+1)
    * rule, replayed in the oracle as greatest(len−1, 1) windows), so every
    * document is weighed — a 1-token doc duplicated k times still reads
    * weight 1/k.
    *
    * Output: (idCol, n_grams, sum_df, commonness, weight).
    */
  def softWeights(df: DataFrame, idCol: String, textCol: String,
      shingle: Int = 2): DataFrame = {
    val sh = df.select(col(idCol).as("__id"),
      explode(graft.functions.HashExpressions.ngramHashes(
        graft.functions.TextFunctions.tokens(col(textCol)), shingle)).as("__sh"))
    val dfreq = sh.groupBy("__sh").agg(count(lit(1)).as("__df"))
    val agg = sh.join(dfreq, "__sh")
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_grams"), sum(col("__df")).as("sum_df"))
    df.select(col(idCol)).join(agg.withColumnRenamed("__id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("sum_df"), lit(0L)).as("sum_df"),
        round(when(col("n_grams").isNull, 1.0)
          .otherwise(col("sum_df").cast("double") / col("n_grams")), 6).as("commonness"),
        round(when(col("n_grams").isNull, 1.0)
          .otherwise(col("n_grams").cast("double") / col("sum_df")), 6).as("weight"))
  }

  /** The exact-cluster limit of [[softWeights]]: weight = 1/k for a
    * document whose canonical text appears k times. One shuffle on the
    * [[graft.functions.TextFunctions.fingerprint]] (the [[exact]] key),
    * joined back so every INPUT row keeps its weight — [[exact]] keeps
    * one winner per cluster, this keeps them all but tells the sampler to
    * treat the k copies as one document's worth of mass in expectation.
    * Output: (idCol, dup_count, weight).
    */
  def softWeightsExact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val fp = df.select(col(idCol), fingerprint(col(textCol)).as("__fp"))
    val counts = fp.groupBy("__fp").agg(count(lit(1)).as("dup_count"))
    fp.join(counts, "__fp")
      .select(col(idCol), col("dup_count"),
        round(lit(1.0) / col("dup_count"), 6).as("weight"))
  }

  /** Apply [[softWeights]] as a deterministic sampler: keep each document
    * iff lcg31(id) < ⌊weight · 2³¹⌋ — the sampling-family LCG threshold
    * scheme ([[graft.operators.Split.curriculumSample]]), so each document
    * survives with probability ≈ its SoftDeDup weight and the decision is
    * engine-replayable. Duplicated mass thins toward one copy's worth in
    * expectation; unique documents (weight 1.0) always survive.
    * Output: (idCol, weight) of the kept documents.
    */
  def softSample(df: DataFrame, idCol: String, textCol: String,
      shingle: Int = 2): DataFrame =
    softWeights(df, idCol, textCol, shingle)
      .where(graft.operators.Split.lcg31(col(idCol)) <
        floor(col("weight") * lit(2147483648.0)).cast("long"))
      .select(col(idCol), col("weight"))

  /** Reference-corpus gram document frequencies: (__sh, __df) — how many
    * REFERENCE documents contain each distinct word `shingle`-gram. The
    * distillable half of [[softWeightsAgainst]]; persisted as a bucketed
    * catalog by [[AnnIndex.buildGramDf]] (counts add associatively, so
    * the catalog grows by era append, never a rebuild).
    */
  def refGramCounts(ref: DataFrame, idCol: String, textCol: String,
      shingle: Int = 2): DataFrame =
    ref.select(explode(graft.functions.HashExpressions.ngramHashes(
        graft.functions.TextFunctions.tokens(col(textCol)), shingle)).as("__sh"))
      .groupBy("__sh").agg(count(lit(1)).as("__df"))

  /** Cross-corpus SoftDeDup: weigh PROBE documents by how much their
    * content recurs in a REFERENCE corpus — the against-catalog member of
    * the family ([[paragraphDedupAgainst]] / [[Cdc.dedupAgainst]]
    * discipline, but reweighting instead of removal). Each probe gram g
    * contributes dfRef(g) + 1 (the probe occurrence itself counts once,
    * so a reference-disjoint document reads EXACTLY weight 1.0 and a
    * document whose text appears k times in the reference reads
    * 1/(k+1) — the [[softWeights]] arithmetic when probe ∪ reference is
    * the corpus and the probe doc is unique in the probe):
    *
    *   sum_df(d) = Σ_{g∈G_d} (dfRef(g) + 1);  weight = |G_d| / sum_df
    *
    * `counts` is a (__sh, __df) relation — [[refGramCounts]] in-flight,
    * or a loaded [[AnnIndex.loadGramDf]] catalog (bucketed: the index
    * side of the probe join reads shuffle-free; AQE broadcasts it when
    * it fits). One left join + one per-doc aggregate — linear, pair-free.
    */
  def softWeightsAgainstCounts(df: DataFrame, idCol: String, textCol: String,
      counts: DataFrame, shingle: Int = 2): DataFrame = {
    val sh = df.select(col(idCol).as("__id"),
      explode(graft.functions.HashExpressions.ngramHashes(
        graft.functions.TextFunctions.tokens(col(textCol)), shingle)).as("__sh"))
    sh.join(counts, Seq("__sh"), "left")
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("__df"), lit(0L)) + lit(1L)).as("sum_df"))
      .select(col("__id").as(idCol), col("n_grams"), col("sum_df"),
        round(col("sum_df").cast("double") / col("n_grams"), 6).as("commonness"),
        round(col("n_grams").cast("double") / col("sum_df"), 6).as("weight"))
  }

  /** [[softWeightsAgainstCounts]] with the reference counts computed
    * in-flight from `ref`. */
  def softWeightsAgainst(df: DataFrame, idCol: String, textCol: String,
      ref: DataFrame, shingle: Int = 2): DataFrame =
    softWeightsAgainstCounts(df, idCol, textCol,
      refGramCounts(ref, idCol, textCol, shingle), shingle)

  /** Collect a gram-df counts relation into a literal map for the
    * map-side scorer ([[softWeightColumn]]) and the stateless streaming
    * gate ([[graft.streaming.GraftStreaming.softDedupStream]]). EXACT
    * (not a truncation): refuses catalogs above `maxEntries` — at that
    * scale use the join form ([[softWeightsAgainstCounts]]), which is
    * what the 100 TB path does anyway. The LanguageModel.distill
    * contract.
    */
  def distillGramDf(counts: DataFrame,
      maxEntries: Int = Distill.MaxEntries): Map[Long, Long] =
    Distill.orRefuse("gram-df catalog",
        "use softWeightsAgainstCounts (join form) at this scale",
        maxEntries, counts) {
      counts.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }

  /** Map-side [[softWeightsAgainst]]: one kernel pass + one plan-literal
    * map fold per row — no joins, no shuffle, no state; spec-gated
    * exactly equal to the join form on the same counts. Returns a struct
    * column (n_grams, sum_df, weight).
    */
  def softWeightColumn(text: Column, dfMap: Map[Long, Long],
      shingle: Int = 2): Column = {
    val grams = graft.functions.HashExpressions.ngramHashes(
      graft.functions.TextFunctions.tokens(text), shingle)
    val n = size(grams).cast("long")
    val sumDf =
      if (dfMap.isEmpty) n
      else aggregate(grams, lit(0L),
        (acc, g) => acc + coalesce(element_at(typedlit(dfMap), g), lit(0L)) + lit(1L))
    struct(n.as("n_grams"), sumDf.as("sum_df"),
      round(n.cast("double") / sumDf, 6).as("weight"))
  }

  /** Blocked edit-distance fuzzy duplicate pairs: (idA, idB, dist) with
    * Levenshtein distance ≤ `maxDist` between (optionally head-truncated)
    * texts. EXACT for the compared text — candidate generation is
    * PassJoin-style segment blocking (Li, Deng & Feng, "PASS-JOIN: a
    * partition-based method for similarity joins", PVLDB 5(3), 2011):
    *
    *  - INDEX side: each text of length n is split into τ+1 contiguous
    *    segments (first (τ+1) − n%(τ+1) of length ⌊n/(τ+1)⌋, the rest one
    *    longer). Pigeonhole: τ edit ops each corrupt at most one segment
    *    (a substitution/deletion hits the segment that owns the char; an
    *    insertion lands inside at most one), so if ed(a,b) ≤ τ at least
    *    one of b's τ+1 segments survives UNEDITED — and appears in `a`
    *    contiguously, with its start shifted by at most the ≤ τ
    *    insertions/deletions before it.
    *  - PROBE side: each text a of length m emits, for every candidate
    *    partner length nb ∈ [m−τ, m+τ] and every segment index i, the
    *    substrings of a of that segment's length starting within ±τ of
    *    the segment's nominal position — ≤ (2τ+1)²(τ+1) keys per doc
    *    (≤ 45 for τ=2), each keyed by (nb, i, xxhash64(substr)): the
    *    8-byte hash replaces the substring in the shuffle; a hash
    *    collision only ADDS a candidate, which the verify step kills, so
    *    exactness is preserved.
    *  - Matching (nb, i, hash) keys yield candidate id pairs (canonical
    *    order, de-duplicated), texts re-join by id, and banded
    *    `levenshtein(_, _, maxDist)` verifies.
    *
    * The previous blocking used the length bucket ALONE, which is
    * quadratic in the length-class population — the x16 sweep measured
    * 448 s where this shape reads ~15 s, and at a 10^9-doc corpus a
    * popular document length would be a full cross product. Segment
    * blocking's quadratic term is per (length, position, CONTENT) group:
    * only genuinely near-identical windows collide, so candidates are
    * O(true pairs) on real corpora.
    *
    * `maxLen > 0` compares `substr(text, 1, maxLen)` — the standard
    * head-window trick that bounds both the per-key substring cost and
    * the O(len·maxDist) verify cost at corpus scale.
    */
  def fuzzyEditDistancePairs(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int, maxLen: Int = 0): DataFrame = {
    require(maxDist >= 0, "maxDist must be >= 0")
    val k = maxDist + 1
    val t = if (maxLen > 0) substring(col(textCol), 1, maxLen) else col(textCol)
    // the signature table feeds segment index, probe keys AND the verify
    // text joins — materialized once (minhash discipline)
    val base = materializeOnce(spread(
      df.select(col(idCol).as("__id"), t.as("__t"))
        .withColumn("__len", length(col("__t")))))
    // shared segment arithmetic over a partition of `nb` into k parts:
    // q = nb div k, r = nb mod k; segment i has length q (+1 iff
    // i ≥ k − r) and starts at i·q + max(0, i − (k − r)).
    //
    // Both key streams hash INSIDE array lambdas and explode only the
    // 8-byte (nb, seg, h) structs — an earlier shape exploded constant
    // seg/shift sequences with `__t` in requiredChildOutput, and Generate
    // materializes every carried column per output row, copying the whole
    // text k× (resp. (2·maxDist+1)·k×) before the hash consumed it (the
    // d65debf bytes-moved lesson; gated by PlanAssert.payloadExplodes).
    // Same-session A/B at x16, q_dedup_fuzzy min-of-3: 6.91 s (carried
    // text) → 2.97 s (lambda hashing) — 2.3× from bytes not moved.
    def intDiv(a: Column, b: Column): Column =
      org.apache.spark.sql.GraftBridge.column(
        org.apache.spark.sql.catalyst.expressions.IntegralDivide(
          org.apache.spark.sql.GraftBridge.expression(a),
          org.apache.spark.sql.GraftBridge.expression(b)))
    val K = lit(k.toLong)
    def segLen(nb: Column, seg: Column): Column =
      intDiv(nb, K) + when(seg >= K - nb % K, 1L).otherwise(0L)
    def segPos(nb: Column, seg: Column): Column =
      seg * intDiv(nb, K) + greatest(lit(0L), seg - (K - nb % K))
    val segRange = sequence(lit(0L), lit((k - 1).toLong))
    val idx = base
      .select(col("__id"), explode(transform(segRange, seg =>
        struct(col("__len").cast("long").as("nb"), seg.as("seg"),
          xxhash64(col("__t").substr(
            (segPos(col("__len").cast("long"), seg) + 1L).cast("int"),
            segLen(col("__len").cast("long"), seg).cast("int"))).as("h")))).as("__x"))
      .select(col("__id"), col("__x.nb").as("__nb"),
        col("__x.seg").as("__seg"), col("__x.h").as("__h"))
    // probe keys: every (candidate length nb within ±maxDist, segment,
    // window start s within the PassJoin shift bound) — one nested
    // array-of-structs per doc, empty slices for windows that fall off
    // the text, flattened then exploded
    val probeArr = flatten(flatten(transform(
      sequence(greatest(lit(0L), col("__len").cast("long") - maxDist),
        col("__len").cast("long") + maxDist),
      nb => transform(segRange, seg => {
        val slv = segLen(nb, seg)
        val pv = segPos(nb, seg)
        val lo = greatest(lit(0L), pv - maxDist)
        val hi = least(col("__len").cast("long") - slv, pv + maxDist)
        // slice-to-empty instead of when/otherwise: sequence(a, b) with
        // a > b descends rather than erroring, and array()'s null element
        // type fights coercion against array<struct>
        slice(
          transform(sequence(lo, greatest(hi, lo)), s =>
            struct(nb.as("nb"), seg.as("seg"),
              xxhash64(col("__t").substr((s + 1L).cast("int"), slv.cast("int"))).as("h"))),
          lit(1), greatest(hi - lo + 1L, lit(0L)).cast("int"))
      }))))
    val probes = base
      .select(col("__id"), explode(probeArr).as("__x"))
      .select(col("__id"), col("__x.nb").as("__nb"),
        col("__x.seg").as("__seg"), col("__x.h").as("__h"))
    val cands = probes.as("a")
      .join(idx.as("b"), Seq("__nb", "__seg", "__h"))
      .where(col("a.__id") =!= col("b.__id"))
      .select(least(col("a.__id"), col("b.__id")).as("idA"),
        greatest(col("a.__id"), col("b.__id")).as("idB"))
      .dropDuplicates("idA", "idB")
    // verify: BandedLevenshtein (affix-strip + Ukkonen band) instead of
    // the builtin — near-dup candidates are near-IDENTICAL, so the DP
    // runs on the few-codepoint remainder (measured 20.1 s → sub-second
    // on 60k x16 pairs; equivalence-gated against the builtin in
    // BandedLevenshteinSpec)
    cands
      .join(base.select(col("__id").as("idA"), col("__t").as("__ta")), "idA")
      .join(base.select(col("__id").as("idB"), col("__t").as("__tb")), "idB")
      .withColumn("dist", graft.functions.HashExpressions
        .bandedLevenshtein(col("__ta"), col("__tb"), maxDist).cast("long"))
      .where(col("dist") >= 0 && col("dist") <= maxDist)
      .select(col("idA"), col("idB"), col("dist"))
  }

  /** Duplicate-cluster resolution: turns near-duplicate PAIRS (any of the
    * *NearDuplicates/ngramJaccardPairs outputs) into connected components,
    * labeling every member with the minimum id of its component — the
    * "keep one doc per duplicate group" step of a dedup pipeline.
    *
    * Min-label propagation WITH pointer jumping: each round every node
    * takes the smallest label among itself and its neighbors (one edge
    * join + one min-aggregation), then follows its label's own label
    * (one self-join of the label table — path halving). The jump step
    * doubles how far a small label has propagated, so convergence is
    * O(log diameter) rounds instead of O(diameter): a 1000-hop chain
    * converges in ~10 rounds, which is what makes long mirror-chains
    * (site A copies B copies C …, the x16-probe shape) safe at corpus
    * scale. Skew-safe by construction — no neighbor bags are ever
    * collected (hub nodes aggregate with `min`, which combines map-side;
    * the jump join is keyed by label, and a hot LABEL is exactly the
    * well-mixed broadcast-or-AQE case), unlike star-contraction variants
    * that materialize adjacency lists. If a component still has not
    * converged after `maxIter` rounds (diameter > 2^maxIter) the call
    * THROWS rather than silently returning unconverged (= wrong) labels.
    * Labels are checkpointed per round to truncate the growing lineage
    * (iterative-algorithm hygiene on Spark).
    *
    * The jump preserves the invariant "my label is a node id inside my
    * component": labels start as component members (self or a
    * neighbor), and the label of a component member is itself a
    * component member — transitivity, nothing crosses components.
    *
    * Returns (id, cluster) for every id that appears in `pairs`.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 64): DataFrame = {
    val edges = materializeOnce(
      pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
        .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst"))))
    var labels = materializeOnce(
      edges.groupBy(col("src")).agg(min(col("dst")).as("__m"))
        .select(col("src").as("id"), least(col("src"), col("__m")).as("cluster")))
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val viaNeighbor = edges
        .join(labels.select(col("id").as("dst"), col("cluster").as("__nc")), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("__nc")).as("__best"))
      val stepped = labels.join(viaNeighbor, Seq("id"), "left")
        .select(col("id"), col("cluster").as("__old"),
          least(col("cluster"), coalesce(col("__best"), col("cluster"))).as("cluster"))
      // pointer jump (path halving): labels(v) := labels(labels(v)).
      // Every label is a node id present in the label table, and a
      // node's own label only ever decreases, so the lookup can only
      // improve; one materialization produces the new labels AND the
      // improvement flag, so the convergence check is a count, not a
      // second join
      val jumped = materializeOnce(
        stepped.join(
          stepped.select(col("id").as("__lid"), col("cluster").as("__lc")),
          stepped("cluster") === col("__lid"), "left")
          .select(stepped("id"),
            least(stepped("cluster"), coalesce(col("__lc"), stepped("cluster")))
              .as("cluster"),
            (least(stepped("cluster"), coalesce(col("__lc"), stepped("cluster")))
              < col("__old")).as("__improved")))
      changed = jumped.where(col("__improved")).count()
      labels = jumped.drop("__improved")
      iter += 1
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds " +
          s"($changed labels still improving) — a component's diameter exceeds " +
          "2^maxIter; raise it (rounds are cheap: one edge join + one min-agg " +
          "+ one label self-join each)")
    labels
  }

  /** End-to-end near-duplicate REMOVAL: mine exact n-gram-Jaccard pairs,
    * resolve duplicate clusters, and keep only each cluster's minimum-id
    * document — corpus in, deduplicated corpus out (all columns intact).
    * Unpaired documents pass through untouched (left_anti against the
    * non-canonical members only).
    */
  def dropNearDuplicates(df: DataFrame, idCol: String, textCol: String,
      shingle: Int = 3, threshold: Double = 0.5,
      budget: PairBudget = PairBudget.Auto()): DataFrame = {
    val clusters = connectedComponents(
      ngramJaccardPairs(df, idCol, textCol, shingle, threshold, budget),
      "idA", "idB")
    val losers = clusters.where(col("id") =!= col("cluster"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** [[dropNearDuplicates]] with an explicit canonical-selection rule:
    * each cluster keeps its argmax-`prefCol` member (ties to the smallest
    * id) instead of the min id — the realistic canonicalization, where
    * the HIGHEST-QUALITY copy survives and its mirrors drop.
    *
    * Scale: identical pair/cluster machinery; selection adds one join of
    * the (small) cluster table against (id, pref) and a per-CLUSTER
    * window — partitions are duplicate clusters, bounded by cluster size,
    * never corpus-keyed.
    */
  def dropNearDuplicatesBy(df: DataFrame, idCol: String, textCol: String,
      prefCol: String, shingle: Int = 3, threshold: Double = 0.5,
      budget: PairBudget = PairBudget.Auto()): DataFrame = {
    val clusters = connectedComponents(
      ngramJaccardPairs(df, idCol, textCol, shingle, threshold, budget),
      "idA", "idB")
    val member = clusters.join(
      df.select(col(idCol).as("id"), col(prefCol).as("__pref")), Seq("id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster")).orderBy(col("__pref").desc, col("id").asc)
    val losers = member.withColumn("__rk", row_number().over(w))
      .where(col("__rk") > 1).select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Substring-level exact dedup, span DISCOVERY (the Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better" suffix-style
    * pass, re-expressed for Spark): find maximal token spans of ≥ `minSpan`
    * tokens whose every length-`k` token window occurs ≥ 2 times corpus-wide
    * (self-repeats within one document count, as in the paper).
    *
    * Distributed shape — no suffix array is ever built:
    *  1. hashed k-gram inverted index: `posexplode(ngramHashesAll(tokens))`
    *     emits (doc, window-start, 64-bit gram hash); no gram strings are
    *     concatenated or shuffled (graft.functions.NgramHashes).
    *  2. duplicated grams = one count aggregation on the hash (map-side
    *     combining; the hot-gram key space is bounded by the corpus's
    *     distinct grams, not its size).
    *  3. a left-semi join marks each doc's duplicated window starts, and a
    *     per-doc gaps-and-islands pass (window over (doc, pos) — per-DOC
    *     work, bounded by document length, the same skew envelope as
    *     sessionize) merges consecutive starts into maximal runs: a run of
    *     window starts [i..j] covers tokens [i .. j+k-1].
    *
    * Docs with fewer than `k` tokens are excluded up front: they cannot
    * contain a ≥ `minSpan` ≥ `k` span, and `ngramHashesAll`'s short-text
    * fallback (one window over the whole doc) would otherwise fabricate
    * out-of-range span ends.
    *
    * Returns (id, span_start, span_end, span_tokens) — token positions,
    * 0-based inclusive. Adjacent spans may overlap by up to k-1 tokens
    * (separate maximal runs of duplicated WINDOW STARTS); the removal
    * variant unions covered tokens, so overlap is harmless.
    *
    * Scan accounting: the gram stream feeds two consumers (count
    * aggregate, semi join). The EXPLODED gram table is never
    * materialized — that would write ~20 bytes per token (id+pos+hash ≈
    * 3× the corpus text bytes; at 100 TB, a 300 TB intermediate). What IS
    * materialized, once, is the pre-explode per-doc hash array: 8 bytes
    * per token (≈ 1× the text bytes — no id/pos replication per window),
    * strictly smaller than the gram shuffle each consumer already pays,
    * so both passes explode from the cached arrays and the corpus is
    * scanned and tokenized exactly once. The x16 bench lane measured the
    * earlier recompute-both-passes shape as this query's whole
    * Spark-vs-DuckDB gap (DuckDB materializes the shared CTE).
    * ProbeScale measures the shape linear (16× input → ~1.7× time).
    */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, minSpan: Int = 5): DataFrame = {
    require(k >= 1 && minSpan >= k, "need minSpan >= k >= 1")
    // Both halves (dup-gram count, position semi-join) need the gram
    // stream; recomputing it re-scans and re-tokenizes the corpus, which
    // the x16 bench lane measured as the whole Spark-vs-DuckDB gap on this
    // query (DuckDB materializes the shared CTE). Materialize the PRE-
    // explode per-doc hash array instead: 8 B/token — strictly smaller
    // than the gram shuffle each pass already pays, so caching it trades
    // no scale headroom — and each pass re-runs only the cheap explode.
    val arrays = materializeOnce(gramArrays(df, idCol, textCol, k))
    val grams = explodeGramArrays(arrays)
    val dupGrams = grams.groupBy("__gh").agg(count(lit(1)).as("__c"))
      .where(col("__c") >= 2).select("__gh")
    spansFromDupPositions(
      grams.join(dupGrams, Seq("__gh"), "left_semi"), idCol, k, minSpan)
  }

  /** (__id, __g): per-doc k-gram hash array (window order, duplicates
    * kept) for every doc with ≥ k tokens — the one scan+tokenize+hash
    * pass behind [[gramPositions]].
    */
  private def gramArrays(df: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame = {
    import graft.functions.TextFunctions.tokens
    // Docs with < k tokens must emit NO windows (ngramHashesAll's
    // short-text fallback would fabricate a partial window), but that
    // guard lives INSIDE the projection as a `when`, not in a Filter: a
    // `.where(size(__t) >= k)` gets pushdown-substituted through the
    // Project and re-inlines the tokenizer into the scan Filter — every
    // doc then pays the regex tokenize twice (r15 plan audit). The
    // two-Project shape is kept by CollapseProject (non-cheap alias
    // referenced twice), so tokens() evaluates exactly once; downstream
    // explodes drop the empty arrays exactly where the filter dropped
    // the rows.
    df.select(col(idCol).as("__id"), tokens(col(textCol)).as("__t"))
      .select(col("__id"),
        when(size(col("__t")) >= k,
          graft.functions.HashExpressions.ngramHashesAll(col("__t"), k))
          .otherwise(typedLit(Array.empty[Long])).as("__g"))
  }

  private def explodeGramArrays(arrays: DataFrame): DataFrame =
    arrays.select(col("__id"), posexplode(col("__g")))
      .withColumnsRenamed(Map("pos" -> "__pos", "col" -> "__gh"))

  /** (__id, __pos, __gh): every k-gram window start of every doc with ≥ k
    * tokens, gram identity as the 64-bit token-chain hash. The shared
    * front half of [[duplicateSpans]] and the persistent gram index
    * ([[AnnIndex.buildGramIndex]]/probeSpans).
    */
  private[operators] def gramPositions(df: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame =
    explodeGramArrays(gramArrays(df, idCol, textCol, k))

  /** Gaps-and-islands back half of [[duplicateSpans]]: duplicated window
    * starts → maximal runs → spans ≥ minSpan.
    */
  private[operators] def spansFromDupPositions(dupPos: DataFrame, idCol: String,
      k: Int, minSpan: Int): DataFrame = {
    val w = Window.partitionBy("__id").orderBy("__pos")
    dupPos
      .withColumn("__grp", col("__pos") - row_number().over(w))
      .groupBy(col("__id"), col("__grp"))
      .agg(min(col("__pos")).cast("long").as("span_start"),
        (max(col("__pos")) + lit(k - 1)).cast("long").as("span_end"))
      .where(col("span_end") - col("span_start") + 1 >= minSpan)
      .select(col("__id").as(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
  }

  /** Substring-level exact dedup, REMOVAL: strip every token covered by a
    * [[duplicateSpans]] span and rebuild the text with single spaces —
    * corpus in, span-deduplicated corpus out (docs without spans pass
    * through, whitespace-normalized for a consistent contract).
    *
    * The per-doc span list rides as an array on a left join (spans per doc
    * are few — bounded by len/minSpan); the covered-token test is a
    * map-side `exists` over that array, no extra shuffle beyond
    * duplicateSpans' own.
    */
  def removeDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, minSpan: Int = 5): DataFrame =
    stripSpans(df, idCol, textCol, duplicateSpans(df, idCol, textCol, k, minSpan))

  /** Shared span-removal renderer: strip every token covered by a span of
    * `spans` (idCol, span_start, span_end) and rebuild with single
    * spaces; docs without spans pass through whitespace-normalized. The
    * per-doc span list rides as an array on a left join (spans per doc
    * are few — bounded by len/minSpan); the covered-token test is a
    * map-side `exists` over that array, no extra shuffle.
    */
  private def stripSpans(df: DataFrame, idCol: String, textCol: String,
      spanDf: DataFrame): DataFrame = {
    import graft.functions.TextFunctions.tokens
    val spans = spanDf
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("__spans"))
    df.join(spans, Seq(idCol), "left")
      .withColumn("dedup_text", concat_ws(" ",
        filter(tokens(col(textCol)), (t, i) => !coalesce(
          exists(col("__spans"), s =>
            i.cast("long") >= s("span_start") && i.cast("long") <= s("span_end")),
          lit(false)))))
      .drop("__spans")
  }

  /** Benchmark-overlap span DISCOVERY — SURGICAL decontamination (the
    * span-level dual of [[ngramContamination]]'s whole-document rate):
    * maximal ≥ `minSpan` token spans of the corpus whose every k-gram
    * window also occurs anywhere in `benchmark`. Where the containment
    * gate DROPS a contaminated document, the span form localizes exactly
    * WHICH text overlaps the benchmark so [[removeContaminationSpans]]
    * can excise it and keep the rest — the standard practice when eval
    * sets leak into large crawls as quoted fragments, not whole pages.
    *
    * Scale shape = [[duplicateSpans]] with the dup-gram count replaced by
    * a semi-join against the benchmark's DISTINCT gram-hash set: one
    * corpus gram pass (hashed windows, pre-explode arrays — nothing
    * string-shuffled), one benchmark gram pass (benchmarks are corpus-
    * scale-small; the distinct set shuffles on the 64-bit hash and
    * broadcasts under AQE when it fits), then the same per-doc
    * gaps-and-islands merge (bounded by document length).
    *
    * Returns (id, span_start, span_end, span_tokens), 0-based inclusive
    * token positions.
    */
  def contaminationSpans(df: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String,
      k: Int = 3, minSpan: Int = 5): DataFrame = {
    require(k >= 1 && minSpan >= k, "need minSpan >= k >= 1")
    import graft.functions.TextFunctions.tokens
    // short-doc guard inside the projection (see gramArrays: a size
    // Filter would re-inline the tokenizer into the scan and tokenize
    // every benchmark doc twice); explode drops the empty arrays
    val pool = benchmark.select(tokens(col(benchTextCol)).as("__t"))
      .select(explode(when(size(col("__t")) >= k,
        graft.functions.HashExpressions.ngramHashesAll(col("__t"), k))
        .otherwise(typedLit(Array.empty[Long]))).as("__gh"))
      .distinct()
    val grams = gramPositions(df, idCol, textCol, k)
    spansFromDupPositions(
      grams.join(pool, Seq("__gh"), "left_semi"), idCol, k, minSpan)
  }

  /** Surgical decontamination, REMOVAL: excise every token covered by a
    * [[contaminationSpans]] span and keep the document — corpus in,
    * decontaminated corpus out ([[stripSpans]] rendering; docs without
    * overlap pass through whitespace-normalized).
    */
  def removeContaminationSpans(df: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String,
      k: Int = 3, minSpan: Int = 5): DataFrame =
    stripSpans(df, idCol, textCol,
      contaminationSpans(df, idCol, textCol, benchmark, benchTextCol, k, minSpan))

  /** Distill the benchmark's DISTINCT k-gram hash set to a bounded,
    * sorted driver array for the stream-side surgical-decontamination
    * gate ([[graft.streaming.GraftStreaming.decontaminateSpanStream]]) —
    * the [[LanguageModel.distill]]/[[distillParagraphCatalog]]
    * driver-state discipline: benchmarks are corpus-scale-small, the
    * collect is guarded by `maxEntries` (refuse loudly, never a silent
    * OOM), and the hashes are the SAME NgramHashes window chains the
    * batch semi-join keys on.
    */
  def distillBenchmarkGrams(benchmark: DataFrame, textCol: String,
      k: Int = 3, maxEntries: Int = Distill.MaxEntries): Array[Long] = {
    import graft.functions.TextFunctions.tokens
    // short-doc guard in the projection, not a Filter (see gramArrays)
    val pool = benchmark.select(tokens(col(textCol)).as("__t"))
      .select(explode(when(size(col("__t")) >= k,
        graft.functions.HashExpressions.ngramHashesAll(col("__t"), k))
        .otherwise(typedLit(Array.empty[Long]))).as("__gh"))
      .distinct()
    Distill.orRefuse("benchmark gram set",
        "run the batch removeContaminationSpans as compaction instead",
        maxEntries, pool) {
      val arr = pool.collect().map(_.getLong(0))
      java.util.Arrays.sort(arr)
      arr
    }
  }

  /** Paragraph-level exact dedup — the RefinedWeb/Dolma pipeline stage
    * between document dedup and substring spans: boilerplate (nav bars,
    * cookie banners, license headers) repeats VERBATIM across documents
    * at paragraph granularity, so each distinct canonical paragraph keeps
    * exactly its FIRST occurrence (ordered by (doc id, position) — a
    * deterministic winner) and every other copy is dropped; documents are
    * reassembled from their surviving paragraphs in original order.
    * Documents whose every paragraph loses disappear from the output
    * (they contained nothing but boilerplate — the standard drop).
    *
    * Scale shape: one narrow explode (doc → paragraphs with position),
    * one hash aggregate on the 128-bit canonical fingerprint for the
    * winner (min struct — map-side combining, no window over the
    * fingerprint key space), one fingerprint-keyed join back, one per-doc
    * re-aggregation. Paragraph count per doc is bounded by document
    * length, so the reassembly groups have the sessionize skew envelope.
    *
    * Output: (idCol, dedup_text).
    */
  def paragraphDedup(df: DataFrame, idCol: String, textCol: String,
      sepRegex: String = "\\n{2,}"): DataFrame = {
    val paras = df.select(col(idCol).as("__id"),
        posexplode(split(col(textCol), sepRegex)))
      .withColumnsRenamed(Map("pos" -> "__pos", "col" -> "__para"))
      .where(trim(col("__para")) =!= "")
      .withColumn("__fp", fingerprint(col("__para")))
    // The winner row per fingerprint is min(__id, __pos) — and carrying
    // __para INSIDE the min(struct) makes the aggregate return the whole
    // winning row, so no join back onto the paragraph stream is needed.
    // (__id, __pos) is unique per row, so the struct comparison never
    // reaches the __para field: the winner set is identical to the old
    // min(id,pos)+join formulation. This halves the corpus work — the
    // explode+fingerprint lineage executed TWICE before (winners agg +
    // join probe; r15 plan audit, plans/r15/q_dedup_paragraph_before.txt
    // operators (1)-(13) vs (14)-(30)) — and drops the fingerprint-keyed
    // SortMergeJoin with both of its sorts. Hot-fingerprint skew still
    // collapses map-side: the partial aggregate keeps ONE (id,pos,para)
    // per fingerprint per task.
    paras.groupBy("__fp")
      .agg(min(struct(col("__id"), col("__pos"), col("__para"))).as("__w"))
      .select(col("__w.__id").as("__id"), col("__w.__pos").as("__pos"),
        col("__w.__para").as("__para"))
      .groupBy(col("__id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("__pos"), col("__para")))),
          p => p("__para")), "\n\n").as("dedup_text"))
      .select(col("__id").as(idCol), col("dedup_text"))
  }

  /** INTRA-document paragraph dedup — the Dolma/RefinedWeb "remove
    * repeated paragraphs within a page" stage (crawled pages repeat nav
    * text, footers, and pagination blocks inside ONE document): each
    * paragraph keeps its first occurrence in document order, later
    * copies (by the [[paragraphDedup]] canonical fingerprint — lower,
    * whitespace-normalized) are dropped, blanks removed, and the doc is
    * reassembled in place.
    *
    * Scale shape: unlike the cross-document stage this needs NO corpus
    * state at all — it is one zero-shuffle projection (array HOFs over
    * the per-doc paragraph list; paragraph counts are bounded by
    * document length, so the per-element first-occurrence scan is a
    * small constant), which also makes it trivially streamable. Run it
    * BEFORE cross-doc dedup: it shrinks every document at map speed and
    * removes intra-doc noise from the global fingerprint distribution.
    *
    * Output: (idCol, dedup_text); documents that were ALL blanks/repeats
    * of blanks come back as the empty string (kept, unlike
    * [[paragraphDedup]]'s cross-doc drop — within one doc there is no
    * "survives elsewhere" to defer to).
    */
  def paragraphDedupWithin(df: DataFrame, idCol: String, textCol: String,
      sepRegex: String = "\\n{2,}"): DataFrame = {
    val paras = split(col(textCol), sepRegex)
    val fps = transform(paras, p => fingerprint(p))
    df.select(col(idCol),
      array_join(
        filter(paras, (p, i) =>
          trim(p) =!= "" && array_position(fps, fingerprint(p)) === i + 1),
        "\n\n").as("dedup_text"))
  }

  /** Distinct canonical paragraph fingerprints of a reference corpus —
    * the static catalog the against-catalog paragraph dedup forms gate
    * on ("drop boilerplate the lake already holds", the paragraph-level
    * analogue of [[graft.streaming.GraftStreaming.dedupAgainstStream]]'s
    * document catalog). One narrow explode + one distinct shuffle.
    * Output: (fp).
    */
  def paragraphCatalog(reference: DataFrame, textCol: String,
      sepRegex: String = "\\n{2,}"): DataFrame =
    reference.select(explode(split(col(textCol), sepRegex)).as("__para"))
      .where(trim(col("__para")) =!= "")
      .select(fingerprint(col("__para")).as("fp")).distinct()

  /** Paragraph dedup AGAINST a static catalog: drop every paragraph whose
    * canonical fingerprint appears in `catalog` (all copies — the catalog
    * is the winner set), reassemble surviving paragraphs in original
    * order, and drop documents left empty. This is the join form — the
    * catalog can be arbitrarily large (anti-join shuffles on the
    * fingerprint; broadcasts under AQE when it fits) — and the batch twin
    * of the stateless streaming gate
    * ([[graft.streaming.GraftStreaming.paragraphDedupStream]], spec-gated
    * exactly equal). Within-corpus first-winner dedup is
    * [[paragraphDedup]].
    *
    * Output: (idCol, dedup_text).
    */
  def paragraphDedupAgainst(df: DataFrame, idCol: String, textCol: String,
      catalog: DataFrame, sepRegex: String = "\\n{2,}"): DataFrame = {
    val paras = df.select(col(idCol).as("__id"),
        posexplode(split(col(textCol), sepRegex)))
      .withColumnsRenamed(Map("pos" -> "__pos", "col" -> "__para"))
      .where(trim(col("__para")) =!= "")
      .withColumn("__fp", fingerprint(col("__para")))
    paras.join(catalog.select(col("fp").as("__fp")), Seq("__fp"), "left_anti")
      .groupBy(col("__id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("__pos"), col("__para")))),
          p => p("__para")), "\n\n").as("dedup_text"))
      .select(col("__id").as(idCol), col("dedup_text"))
  }

  /** Distill a paragraph catalog to a bounded, sorted driver array for
    * the plan-literal streaming gate — the [[LanguageModel.distill]]
    * driver-state discipline: the collect is guarded by `maxEntries`
    * (refuse loudly, never a silent OOM); a catalog too large to distill
    * belongs in the join form ([[paragraphDedupAgainst]]) or the
    * persistent fingerprint catalog ([[AnnIndex]]).
    */
  def distillParagraphCatalog(catalog: DataFrame,
      maxEntries: Int = Distill.MaxEntries): Array[String] =
    Distill.orRefuse("paragraph catalog",
        "use the join-based paragraphDedupAgainst or a persistent fingerprint catalog",
        maxEntries, catalog) {
      catalog.select(col("fp")).collect().map(_.getString(0)).sorted
    }

  /** Embedding near-duplicates: cosine ≥ threshold pairs, candidates via
    * random-hyperplane LSH buckets (exact within-bucket verify). At corpus
    * scale the bucket join replaces the n² cross product.
    */
  def embeddingNearDuplicates(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, bits: Int = 16): DataFrame = {
    val sigs = materializeOnce(df.select(col(idCol).as("__id"), col(vecCol).as("__v"))
      .withColumn("__sig", hyperplaneSignature(col("__v"), bits)))
    val l = sigs.select(col("__sig"), col("__id").as("idA"), col("__v").as("__va"))
    val r = sigs.select(col("__sig"), col("__id").as("idB"), col("__v").as("__vb"))
    KeepRows.matching(
        l.join(r, "__sig").where(col("idA") < col("idB")),
        "cosine", cosineSimilarity(col("__va"), col("__vb")),
        _ >= threshold)
      .select(col("idA"), col("idB"), col("cosine"))
  }

  /** SemDeDup — cluster-then-prune semantic dedup (public method:
    * Abbas et al., "SemDeDup: Data-efficient learning at web-scale
    * through semantic deduplication", arXiv:2303.09540): embeddings are
    * coarse-quantized into cells and ONLY same-cell pairs are compared
    * exactly, so the quadratic candidate work is confined inside cells —
    * the paper's pitch, and the same family invariant as every
    * LSH/banded dedup above (never all-pairs). Complements
    * [[embeddingNearDuplicates]]: LSH buckets find HIGH-cosine
    * near-identical pairs; k-means cells group semantically-similar
    * regions, the shape the curriculum/dedup literature prunes at lower
    * thresholds.
    *
    * Verdict rule, deterministic and engine-replayable: a vector is a
    * duplicate iff some SAME-cell vector with a SMALLER id scores
    * cosine ≥ tau against it; `dup_of` is the smallest such partner,
    * null for keepers. One row per input id.
    *
    * Scale shape: centroids broadcast (one collected row — the faiss
    * coarse-quantizer pattern); assignment is map-side; the pair join
    * shuffles both sides ONCE on `__cell`; per-cell work is
    * O(|cell|²·d), bounded by sizing `nCells` (the paper runs ~100k
    * cells at web scale — cell count scales with the corpus, per-cell
    * cost stays flat); the verdict is a min-aggregate per id. Pass
    * trained [[Similarity.kmeansCells]] centroids in production; the
    * default id-seeded cells keep the operator oracle-replayable.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      tau: Double, nCells: Int = 16,
      centroids: Option[DataFrame] = None): DataFrame = {
    val c = df.select(col(idCol).as("__id"), col(vecCol).as("__v"),
      l2Norm(col(vecCol)).as("__n"))
    val centroidRow = broadcast(centroids.getOrElse(Similarity.defaultCells(
      c.select(col("__id").as("neighbor_id"), col("__v").as("__cv")), nCells)))
    val assigned = c.join(centroidRow)
      .withColumn("__cell",
        element_at(Similarity.nearestCells(col("__v"), col("__cells"), 1), 1)("cell"))
      .select(col("__id"), col("__v"), col("__n"), col("__cell"))
    val a = assigned.select(col("__cell"), col("__id"),
      col("__v").as("__qv"), col("__n").as("__qn"))
    val b = assigned.select(col("__cell"), col("__id").as("__bid"),
      col("__v").as("__cv"), col("__n").as("__cn"))
    val dups = a.join(b, Seq("__cell"))
      .where(col("__bid") < col("__id"))
      .withColumn("__cos",
        try_divide(dot(col("__qv"), col("__cv")), col("__qn") * col("__cn")))
      .where(col("__cos") >= tau)
      .groupBy(col("__id"))
      .agg(min(col("__bid")).as("dup_of"))
    df.select(col(idCol))
      .join(dups, col(idCol) === col("__id"), "left")
      .select(col(idCol), col("dup_of"))
  }
}
