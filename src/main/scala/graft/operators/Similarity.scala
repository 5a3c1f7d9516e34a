package graft.operators

import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k (broadcast the query side — correct
  * and exact; cost is |Q|·|corpus| dot products, fine when |Q| is small).
  * Scale path: LSH-bucketed search (probe only hash-neighboring buckets)
  * and an IVF-style coarse quantizer — both shrink the candidate set per
  * query by orders of magnitude at 100 TB.
  *
  * Every variant funnels through the same bounded-heap top-k aggregate
  * ([[graft.functions.AggExpressions.bottomK]]): each map task ships at
  * most k candidates per query to the single shuffle — O(|Q|·k) shuffle
  * volume regardless of how many candidates were scored. No rank windows,
  * no dropDuplicates, anywhere in the family.
  */
object Similarity {

  /** Per-pair score with HOISTED norms: every variant projects `__qn`/`__cn`
    * (one `l2Norm` per ROW, before the join) so the |candidates|-sized inner
    * loop is a single codegen'd dot product — 1 multiply-add per element
    * instead of the fused cosine's 3. Per-row work is O(d); only the dot is
    * O(pairs·d).
    *
    * NULL semantics (differ from the old fused Java-double expression, which
    * produced NaN on 0/0): `try_divide` returns NULL when the norm product
    * is 0 — in BOTH ANSI and legacy modes (a plain Divide THROWS under
    * Spark 4's default ANSI mode) — so a zero-norm vector on either side
    * scores NULL. [[topKByCosine]] filters NULL scores out before the heap:
    * a degenerate vector has no defined cosine direction and must never
    * rank, whereas an unfiltered NULL riding inside a non-null struct would
    * sort FIRST in interpreted struct ordering and displace a real neighbor.
    * Norms are over the FULL vector (the standard cosine definition);
    * embedding columns are fixed-dimension non-null by contract
    * (TESTDATA.md).
    */
  private[graft] def pairCosine: Column =
    try_divide(dot(col("__qv"), col("__cv")), col("__qn") * col("__cn"))

  /** Shared tail: scored (query_id, neighbor_id, cosine) candidates →
    * top-k per query, ranked (cosine desc, neighbor_id asc).
    *
    * Compound ordering via bottomK on (-cosine, neighbor_id): negate the
    * SCORE (always numeric), never the id, so string/arbitrary id columns
    * keep working. NULL cosines (zero-norm vectors, see [[pairCosine]])
    * are dropped INSIDE the heap aggregate (`when` wraps the struct; the
    * TopK update skips null inputs), NOT by a `.where` — a filter on the
    * projected cosine would be pushdown-inlined below the projection and
    * re-evaluate the dot-product kernel once per pair (the PlanAssert
    * discipline; found by ProbePlanGate r12 on every ANN query), while
    * the aggregate's pre-projection computes the cosine exactly once.
    */
  private[graft] def topKByCosine(scored: DataFrame, k: Int): DataFrame =
    scored
      .groupBy(col("query_id"))
      .agg(graft.functions.AggExpressions.bottomK(
        when(col("cosine").isNotNull,
          struct((-col("cosine")).as("negcos"), col("neighbor_id"))), k).as("__top"))
      .select(col("query_id"), posexplode(col("__top")))
      .select(col("query_id"),
        col("col.neighbor_id").as("neighbor_id"),
        (-col("col.negcos")).as("cosine"),
        (col("pos") + 1).cast("int").as("rank"))

  /** Exact brute-force top-k by cosine. `queries` is broadcast; ranking is
    * tie-broken by neighbor id so results are deterministic.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      excludeSelf: Boolean = true): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      l2Norm(col(vecCol)).as("__qn")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      l2Norm(col(vecCol)).as("__cn"))
    val scored = c.crossJoin(q)
      .where(if (excludeSelf) col("query_id") =!= col("neighbor_id") else lit(true))
      .withColumn("cosine", pairCosine)
    topKByCosine(scored, k)
  }

  /** LSH-bucketed ANN: random-hyperplane signatures; a query probes every
    * bucket within `probeHamming` bits of its own signature (multi-probe),
    * then candidates are re-ranked exactly. Recall/cost dial: bits up →
    * smaller buckets (and finer shuffle keys — raise with corpus size);
    * probeHamming up → higher recall at Σ C(bits,i) probes per query.
    *
    * Recall is data-dependent: hyperplane collision probability is
    * (1-θ/π) per bit, so it is high exactly when true neighbors are
    * cosine-close. On UNSTRUCTURED random vectors (neighbors ≈0.35) the
    * measured dial at 500 docs: bits=8/probe=3 → 0.56 recall probing 36%
    * of buckets; bits=6/probe=3 → 0.81 at 66%; bits=12/probe=1 → 0.07.
    * Clustered real embedding corpora (neighbors ≥0.8) sit far up the
    * curve at the same cost.
    *
    * Defaults are the measured sane point for small/mid corpora
    * (bits=8, probeHamming=3 — what q_ann_lsh runs). RAISE `bits` as the
    * corpus grows (buckets shrink exponentially: target corpus/2^bits ≈
    * 10³-10⁴ rows per bucket) and re-measure recall on YOUR vectors
    * against the exact top-k before trusting any dial at scale — there
    * is no data-independent good default.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      bits: Int = 8, probeHamming: Int = 3,
      planes: Option[Array[Array[Double]]] = None): DataFrame = {
    // Explicit hyperplanes (one double[] per bit) replace the seeded
    // xxhash-derived ones: same algorithm, but the signature becomes
    // SQL-replayable integer/float arithmetic — the oracle-fixture dial
    // (q_ann_lsh). Products of embedding floats with DYADIC plane values
    // (±1, ±0.5, ±0.25) are exact in double, so the sign decision — the
    // part where an ulp flips the bucket, not just a rank — is bit-stable
    // across engines that fold left-to-right.
    planes.foreach(ps => require(ps.nonEmpty && ps.forall(_.nonEmpty),
      "lshTopK: empty hyperplane set"))
    val nBits = planes.map(_.length).getOrElse(bits)
    def signature(v: Column): Column = planes match {
      case None => hyperplaneSignature(v, nBits)
      case Some(ps) => ps.zipWithIndex.map { case (pl, i) =>
        when(aggregate(zip_with(v, lit(pl), (x, p) => x.cast("double") * p),
          lit(0.0), (a, x) => a + x) >= 0, lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ bitwiseOR _)
    }
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
        l2Norm(col(vecCol)).as("__cn"))
      .withColumn("__bucket", signature(col("__cv")))
    // multi-probe: replicate each query into every bucket within hamming
    // `probeHamming` of its own signature — all XOR masks with popcount ≤ r
    // (Σ C(bits, i) masks; query-side only, so the corpus index is untouched)
    def masks(r: Int): Seq[Long] =
      if (r == 0) Seq(0L)
      else masks(r - 1) ++ masks(r - 1).flatMap { m =>
        val highest = if (m == 0L) -1 else 63 - java.lang.Long.numberOfLeadingZeros(m)
        ((highest + 1) until nBits).map(b => m | (1L << b))
      }.distinct
    val probes: Seq[Long] = masks(math.min(probeHamming, nBits)).distinct
    val q = broadcast(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
          l2Norm(col(vecCol)).as("__qn"))
        .withColumn("__qsig", signature(col("__qv")))
        .withColumn("__bucket", explode(array(probes.map(p => col("__qsig").bitwiseXOR(lit(p))): _*))))
    // no pair dedup needed: the probe masks are DISTINCT and XOR is
    // injective, so a query lands in each probed bucket exactly once and a
    // corpus row lives in exactly one bucket — a (query, neighbor) pair can
    // meet at most once. (The multi-band analogue in Dedup.scala does need
    // its first-agreeing-band trick; a single-signature index does not.)
    val scored = c.join(q, "__bucket")
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", pairCosine)
    topKByCosine(scored, k)
  }

  /** All probed cells of `vec`, nearest-first: (l2, cell) structs over the
    * in-row centroid array — struct ordering gives the (distance asc, cell
    * asc) tie-break for free. Pure column expression: runs map-side inside
    * the row, no join, no shuffle, no window.
    */
  private[graft] def nearestCells(vec: Column, cells: Column, n: Int): Column =
    slice(
      array_sort(transform(cells, cc =>
        struct(l2Distance(vec, cc("centroid")).as("d"), cc("cell").as("cell")))),
      1, n)

  /** IVF-style coarse index: pick `nCells` corpus rows as centroids
    * (deterministic: lowest ids), assign every vector to its nearest
    * centroid, and search only the `nProbe` cells nearest each query. The
    * partition-pruning pattern of a 100 TB ANN store: cell id becomes the
    * physical partition key.
    *
    * Assignment is MAP-SIDE: the ≤nCells centroids are folded into a
    * single-row array and broadcast; each corpus row takes
    * `array_min` over (distance, cell) structs computed in-row. Zero
    * Exchange on the corpus lineage until the final top-k aggregate —
    * the previous formulation (crossJoin + row_number window partitioned
    * by a UNIQUE id) shuffled and sorted |corpus|×nCells rows just to pick
    * a per-row argmin.
    */
  /** The deterministic default coarse quantizer shared by [[ivfTopK]] and
    * [[AnnIndex.buildIvf]]: the `nCells` lowest-id corpus rows, folded into
    * ONE row holding all centroids as an array of (cell, centroid) structs
    * (`c` must already carry `neighbor_id`/`__cv`).
    */
  private[graft] def defaultCells(c: DataFrame, nCells: Int): DataFrame =
    c.orderBy("neighbor_id").limit(nCells)
      .agg(collect_list(struct(col("neighbor_id").as("cell"), col("__cv").as("centroid")))
        .as("__cells"))

  def ivfTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nCells: Int = 16, nProbe: Int = 4,
      centroids: Option[DataFrame] = None): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      l2Norm(col(vecCol)).as("__cn"))
    val centroidRow = broadcast(centroids.getOrElse(defaultCells(c, nCells)))
    val assigned = c.join(centroidRow) // broadcast 1-row nested-loop: map-side
      .withColumn("__cell", element_at(nearestCells(col("__cv"), col("__cells"), 1), 1)("cell"))
      .select(col("neighbor_id"), col("__cv"), col("__cn"), col("__cell"))
    val qAssigned = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
        l2Norm(col(vecCol)).as("__qn"))
      .join(centroidRow)
      .select(col("query_id"), col("__qv"), col("__qn"),
        explode(nearestCells(col("__qv"), col("__cells"), nProbe)).as("__probe"))
      .select(col("query_id"), col("__qv"), col("__qn"), col("__probe")("cell").as("__cell"))
    val scored = assigned.join(broadcast(qAssigned), "__cell")
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", pairCosine)
    topKByCosine(scored, k)
  }

  /** First/second half of an embedding, the IMI product split (`slice` is
    * 1-based; odd dims give the extra element to the second half).
    */
  private[graft] def halfA(v: Column): Column =
    slice(v, lit(1), (size(v) / 2).cast("int"))
  private[graft] def halfB(v: Column): Column =
    slice(v, (size(v) / 2).cast("int") + 1,
      (size(v) - (size(v) / 2).cast("int")).cast("int"))

  /** Default IMI half-codebooks: the `nPerHalf` lowest-id rows' halves
    * (`c` must carry `neighbor_id`/`__cv` — the [[defaultCells]]
    * convention), as the one-row `__cellsA`/`__cellsB` relations. Shared
    * by [[imiTopK]] and [[graft.functions.Pq.imiTopK]] so the exact and
    * compressed probes can never disagree about the quantizer.
    */
  private[graft] def imiDefaultBooks(c: DataFrame, nPerHalf: Int): (DataFrame, DataFrame) = {
    def book(h: Column => Column, name: String) =
      c.orderBy("neighbor_id").limit(nPerHalf)
        .agg(collect_list(struct(col("neighbor_id").as("cell"),
          h(col("__cv")).as("centroid"))).as(name))
    (book(halfA, "__cellsA"), book(halfB, "__cellsB"))
  }

  /** The IMI composite-cell assignment columns (`__ca`, `__cb`) for a frame
    * already joined with the one-row `__cellsA`/`__cellsB` codebooks.
    */
  private[graft] def imiAssigned(df: DataFrame, vec: Column): DataFrame = df
    .withColumn("__ca",
      element_at(nearestCells(halfA(vec), col("__cellsA"), 1), 1)("cell"))
    .withColumn("__cb",
      element_at(nearestCells(halfB(vec), col("__cellsB"), 1), 1)("cell"))

  /** Per-half residual (vA − centroidA(ca)) ++ (vB − centroidB(cb)) for a
    * row already joined with the `__cellsA`/`__cellsB` codebooks and
    * carrying `__ca`/`__cb` — the IMI-ADC residual form (PQ bits spent on
    * the within-composite-cell remainder). Shared by the in-flight
    * residual probe ([[graft.functions.Pq.imiTopK]]), the persistent
    * residual index ([[AnnIndex.buildImiPq]]/[[AnnIndex.probeImiPqRefined]]),
    * and the streaming ingest, so no two lanes can disagree about the
    * residual definition.
    */
  private[graft] def imiResidual(vec: Column): Column = {
    def half(cells: String, cell: Column, h: Column => Column): Column =
      zip_with(h(vec),
        element_at(filter(col(cells), cc => cc("cell") === cell), 1)("centroid"),
        (a, b) => a - b)
    concat(half("__cellsA", col("__ca"), halfA),
      half("__cellsB", col("__cb"), halfB))
  }

  /** The exploded top-`nProbe` (dA+dB) composite probe cells for a frame
    * already joined with the codebooks: adds `__ca`/`__cb` per probe row.
    */
  private[graft] def imiProbed(df: DataFrame, vec: Column, nProbe: Int): DataFrame = df
    .withColumn("__combo", explode(slice(array_sort(flatten(
      transform(nearestCells(halfA(vec), col("__cellsA"), nProbe), a =>
        transform(nearestCells(halfB(vec), col("__cellsB"), nProbe), b =>
          struct((a("d") + b("d")).as("d"),
            a("cell").as("ca"), b("cell").as("cb")))))), 1, nProbe)))
    .withColumn("__ca", col("__combo")("ca"))
    .withColumn("__cb", col("__combo")("cb"))
    .drop("__combo")

  /** Inverted multi-index (IMI) coarse quantizer — the two-level
    * assignment that closes flat IVF's O(n·c) boundary (Babenko &
    * Lempitsky, "The inverted multi-index", CVPR 2012). Vectors split
    * into two halves, each half quantized against its OWN codebook of
    * c' centroids; the composite cell is the PAIR (cellA, cellB), giving
    * c'² effective cells for O(n·2c') assignment work — √c per vector
    * instead of c. At c = 2^20 cells (the 10⁹-vector regime) that is
    * 2,048 half-distances per vector instead of 1,048,576 full ones.
    *
    * Query probing follows the exact top-nProbe composite cells by
    * combined distance dA+dB: each half contributes its nProbe nearest
    * centroids and the nProbe best of the nProbe² sum-combinations are
    * probed. That is EXACT for the combined-distance objective — the
    * i-th best combination uses per-half ranks ≤ i (any better a-rank
    * with the same b would beat it), so rank-nProbe lists per half
    * always contain the true top-nProbe combos.
    *
    * Default codebooks are the deterministic id-seeded halves of the
    * `nPerHalf` lowest-id corpus rows (the [[ivfTopK]] discipline), so
    * the whole operator — assignment, probing, ranking — replays in SQL
    * and sits behind the driver's hash gate (q_ann_imi); production
    * swaps in Lloyd-trained half-codebooks via `codebooks` exactly like
    * ivfTopK's `centroids`. Assignment stays fully MAP-SIDE (two
    * broadcast one-row codebook joins, in-row argmin per half); the only
    * corpus shuffle is the final bounded-heap top-k.
    */
  def imiTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nPerHalf: Int = 8, nProbe: Int = 4,
      codebooks: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      l2Norm(col(vecCol)).as("__cn"))
    val (bookA, bookB) = codebooks match {
      case Some((a, b)) =>
        (a.withColumnRenamed("__cells", "__cellsA"),
          b.withColumnRenamed("__cells", "__cellsB"))
      case None => imiDefaultBooks(c, nPerHalf)
    }
    val withBooks = (df: DataFrame) => df.join(broadcast(bookA)).join(broadcast(bookB))
    val assigned = imiAssigned(withBooks(c), col("__cv"))
      .select(col("neighbor_id"), col("__cv"), col("__cn"), col("__ca"), col("__cb"))
    // nProbe² sum-combos built in-row from the two per-half probe lists,
    // sorted by (dA+dB, cellA, cellB) struct order, top nProbe kept
    val qAssigned = imiProbed(withBooks(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
        l2Norm(col(vecCol)).as("__qn"))), col("__qv"), nProbe)
      .select(col("query_id"), col("__qv"), col("__qn"), col("__ca"), col("__cb"))
    // a neighbor lives in exactly one composite cell and the probed combos
    // are distinct (ca, cb) pairs, so a (query, neighbor) pair meets once
    val scored = assigned.join(broadcast(qAssigned), Seq("__ca", "__cb"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", pairCosine)
    topKByCosine(scored, k)
  }

  /** Corpus-wide kNN self-join: the top-k cosine neighbors of EVERY
    * vector — the kNN-graph builder behind graph-based clustering,
    * diversity scoring, and SemDeDup-style curation (feed the edges to
    * `Graph.labelPropagate` / `Dedup.connectedComponents`). Same IVF
    * coarse-quantizer shape as [[ivfTopK]], but the probe side is the
    * corpus itself, so NOTHING is broadcast: one assignment pass
    * (map-side against the broadcast centroid row) is materialized once
    * and read twice — member side keyed by its nearest cell, probe side
    * exploded to its `nProbe` nearest cells — then a single shuffle join
    * on the cell key. Per-cell work is O(|cell|²·d·nProbe), the same
    * bucketed-quadratic invariant as every dedup in the family (never
    * all-pairs); cell count scales with the corpus, per-cell cost stays
    * flat. Ranking ties break by neighbor id ([[topKByCosine]]).
    *
    * `nCells = 0` means AUTO: [[autoCells]] cells from one cheap count
    * of the corpus. The pinned default (16) exists for the cross-engine
    * oracle replay, not as the production dial; ignored when trained
    * `centroids` are supplied.
    */
  /** The flat-IVF cell-count balance point. Total work ≈
    * n·c (assignment: every vector scores every centroid) +
    * n²·nProbe/c (in-cell pairs: each vector compares against
    * nProbe · n/c candidates), minimized at c* = √(n·nProbe) — per-cell
    * population then SHRINKS as √(nProbe/n) · n instead of staying at a
    * fixed 1000, so per-vector work grows as √n, not n. Measured
    * (ProbeKnn, x16, 32k vectors, nProbe 2): c* = 256 ⇒ 4.0 s vs 35 s
    * at the oracle-pinned 16 and ~12.5 s at the previous n/1000 dial,
    * identical output rows. Floor 16 keeps tiny corpora on the
    * oracle-replay quantizer (outputs identical row-for-row below
    * n·nProbe ≤ 256). Beyond ~10⁸ vectors the flat O(n·c) assignment
    * itself is the bottleneck — CLOSED in round 11 by [[imiTopK]]'s
    * two-level product-split quantizer (O(n·2√c) assignment; ProbeImi
    * measured flat 34 s vs IMI 3.5 s at c = 4096 on 32k vectors, with
    * IMI recall 0.94 vs flat 0.82 at the same probe fan-out).
    */
  def autoCells(n: Long, nProbe: Int): Int =
    math.max(16L, math.ceil(math.sqrt((n.toDouble) * nProbe)).toLong)
      .min(Int.MaxValue).toInt

  def knnJoin(df: DataFrame, idCol: String, vecCol: String, k: Int,
      nCells: Int = 16, nProbe: Int = 2,
      centroids: Option[DataFrame] = None): DataFrame = {
    require(nCells >= 0, s"knnJoin: nCells must be >= 0 (0 = auto), got $nCells")
    val cells =
      if (nCells > 0 || centroids.isDefined) nCells
      else autoCells(df.count(), nProbe)
    val c = df.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      l2Norm(col(vecCol)).as("__cn"))
    val centroidRow = broadcast(centroids.getOrElse(defaultCells(c, cells)))
    val base = Materialize.once(c.join(centroidRow)
      .withColumn("__pc", nearestCells(col("__cv"), col("__cells"), nProbe))
      .select(col("neighbor_id"), col("__cv"), col("__cn"), col("__pc")))
    val member = base.select(col("neighbor_id"), col("__cv"), col("__cn"),
      element_at(col("__pc"), 1)("cell").as("__cell"))
    val probe = base.select(col("neighbor_id").as("query_id"),
        col("__cv").as("__qv"), col("__cn").as("__qn"),
        explode(col("__pc")).as("__probe"))
      .select(col("query_id"), col("__qv"), col("__qn"),
        col("__probe")("cell").as("__cell"))
    val scored = member.join(probe, Seq("__cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", pairCosine)
    topKByCosine(scored, k)
  }

  /** Lloyd-refined coarse quantizer for [[ivfTopK]], seeded by
    * farthest-point traversal: the classic fix for seed collapse — id-order
    * seeds can all land in one dense cluster, and Lloyd alone cannot pull
    * a centroid out of a cluster that keeps feeding it members. Seeding
    * runs locally over a BOUNDED deterministic sample (hash-spread,
    * `sampleSize` rows collected — the faiss pattern: quantizers train on
    * a sample in RAM, O(sample·nCells) work regardless of corpus size);
    * the `iters` Lloyd steps then refine over the FULL corpus,
    * distributed — map-side assignment against the broadcast centroid
    * array, per-(cell, dimension) means via posexplode (two hash
    * aggregates per step; the only driver-side state is the loop counter
    * and the ≤nCells seed vectors). Returns the one-row `__cells`
    * relation ivfTopK builds internally, so a trained quantizer drops in
    * via its `centroids` parameter. Trained cells mirror the data
    * DISTRIBUTION rather than the id order, evening out cell sizes (probe
    * cost) and tightening cell radii (recall per probe).
    *
    * Cells that lose every member in a step vanish (standard Lloyd);
    * callers get ≤ nCells cells back. Not oracle-replayable (iterative
    * float means) — gated by SimilaritySpec's planted-cluster fixture.
    */
  def kmeansCells(corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int, iters: Int = 3, sampleSize: Int = 4096): DataFrame = {
    val spark = corpus.sparkSession
    // ids participate only in deterministic ORDERING here, so any id type
    // works: the spread key is a hash of the id's string form, and cells
    // are labeled 0..n-1 (ivfTopK only needs cell labels to be stable)
    val idStr = col(idCol).cast("string")
    val c = corpus.select(transform(col(vecCol), x => x.cast("double")).as("__v"), idStr.as("__id"))
    val samp: Array[(String, Array[Double])] = c
      .orderBy(xxhash64(idStr).asc, idStr.asc)
      .limit(math.max(sampleSize, nCells)).collect()
      .map(r => (r.getString(1), r.getSeq[Double](0).toArray))
    require(samp.nonEmpty, "kmeansCells: empty corpus")
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { val d = a(i) - b(i); acc += d * d; i += 1 }
      acc
    }
    // farthest-point traversal with INCREMENTAL min-distance maintenance:
    // each candidate's distance-to-seed-set only changes when a seed is
    // ADDED, so update against the new seed alone — O(sample·k·dim)
    // instead of recomputing the min over all seeds per candidate per
    // round, O(sample·k²·dim), which at the autoCells dial (k ≈ √n ≈ 253
    // at x16) burned ~10 s single-threaded on the driver. Selection
    // order is IDENTICAL (same (minDist, smallest-id) argmax each round).
    val seeds = scala.collection.mutable.ArrayBuffer(samp.minBy(_._1))
    val minD = samp.map(p => d2(p._2, seeds(0)._2))
    val taken = scala.collection.mutable.HashSet(samp.indexWhere(_._1 == seeds(0)._1))
    while (seeds.size < nCells && seeds.size < samp.length) {
      var best = -1
      var i = 0
      while (i < samp.length) {
        if (!taken(i) && (best < 0 ||
            minD(i) > minD(best) ||
            (minD(i) == minD(best) && samp(i)._1 < samp(best)._1))) best = i
        i += 1
      }
      seeds += samp(best)
      taken += best
      var j = 0
      while (j < samp.length) {
        if (!taken(j)) { val d = d2(samp(j)._2, samp(best)._2); if (d < minD(j)) minD(j) = d }
        j += 1
      }
    }
    implicit val enc: org.apache.spark.sql.Encoder[(Long, Array[Double])] =
      org.apache.spark.sql.Encoders.product[(Long, Array[Double])]
    def toCellsDf(centroids: Seq[(Long, Array[Double])]) =
      broadcast(spark.createDataset(centroids).toDF("cell", "centroid")
        .agg(collect_list(struct(col("cell"), col("centroid"))).as("__cells")))
    var centroids: Seq[(Long, Array[Double])] =
      seeds.toSeq.zipWithIndex.map { case ((_, v), i) => (i.toLong, v) }
    for (_ <- 1 to iters) {
      val assigned = c.join(toCellsDf(centroids))
        .withColumn("__cell", element_at(nearestCells(col("__v"), col("__cells"), 1), 1)("cell"))
        .select(col("__cell"), l2Norm(col("__v")).as("__r"), posexplode(col("__v")))
      // collect the <= nCells small mean vectors each step: truncates the
      // lineage so downstream actions never replay earlier iterations'
      // full-corpus scans. SPHERICAL correction: a plain Lloyd mean
      // shrinks toward the origin (high-dim means are short), and the
      // L2 assignment then keys on vector NORM instead of direction —
      // poison for cosine retrieval. Rescaling each mean to its members'
      // average norm keeps centroids on the data shell: direction from
      // the mean, magnitude from the members.
      centroids = assigned.groupBy(col("__cell"), col("pos"))
        .agg(avg(col("col")).as("__m"), avg(col("__r")).as("__rr"))
        .groupBy(col("__cell"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("__m")))),
          p => p("__m")).as("centroid"),
          first(col("__rr")).as("__r"))
        .collect()
        .map { r =>
          val m = r.getSeq[Double](1).toArray
          val targetNorm = r.getDouble(2)
          val mNorm = math.sqrt(m.map(x => x * x).sum)
          val scaled = if (mNorm == 0.0) m else m.map(_ * targetNorm / mNorm)
          (r.getLong(0), scaled)
        }.toSeq
    }
    toCellsDf(centroids)
  }
}
