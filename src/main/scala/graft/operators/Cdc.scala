package graft.operators

import graft.functions.CdcChunks
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Content-defined chunking as corpus operators (FastCDC-style gear
  * hash — [[graft.functions.CdcRuntime]] for the kernel and the
  * determinism contract). Positioning vs the existing chunk/dedup
  * machinery: [[Dedup.paragraphDedup]] needs structural separators
  * (\n\n) and [[Dedup.duplicateSpans]] tokenizes; CDC needs NEITHER —
  * boundaries come from the bytes themselves, so a one-byte edit near
  * the head of a re-crawled page perturbs only the chunks it touches
  * and every later boundary re-synchronizes. That makes the chunk
  * fingerprint index SHIFT-ROBUST: the standard backup-dedup property,
  * applied to crawl snapshots where fixed windows lose every downstream
  * match.
  *
  * 100 TB shape: chunking is a map-side kernel (zero shuffles);
  * the index is one explode; pair mining rides the same
  * [[PairBudget]]-guarded inverted-index self-join as
  * [[Winnow.pairs]]. The md5 fingerprint is the oracle-replayable
  * lane; swapping xxhash64 halves index bytes at scale (one function).
  */
object Cdc {

  /** (id, pos, len, fp): the content-defined chunks of each document.
    * `pos` is the 1-based byte offset, `fp` the md5 hex of the chunk
    * bytes.
    */
  def chunkIndex(df: DataFrame, idCol: String, textCol: String,
      minSize: Int = 32, avgBits: Int = 6, maxSize: Int = 256): DataFrame =
    df.select(col(idCol),
        explode(CdcChunks.chunksCol(col(textCol), minSize, avgBits, maxSize)).as("__c"))
      .select(col(idCol), col("__c.pos").as("pos"), col("__c.len").as("len"),
        col("__c.fp").as("fp"))

  /** Chunk fingerprint catalog of a reference corpus: the distinct
    * content-defined chunk fps (the against-catalog side of
    * [[dedupAgainst]] — build once from previous crawls / benchmark
    * pools, reuse across ingests).
    */
  def chunkCatalog(df: DataFrame, textCol: String,
      minSize: Int = 32, avgBits: Int = 6, maxSize: Int = 256): DataFrame =
    df.select(explode(CdcChunks.chunksCol(col(textCol), minSize, avgBits, maxSize))
        .as("__c"))
      .select(col("__c.fp").as("fp")).distinct()

  /** Chunk-level decontamination against a catalog: drop every chunk
    * whose fingerprint appears in `catalog`, reassemble the survivors in
    * byte order — the Lee et al. 2022 substring-removal contract at
    * content-defined granularity, SHIFT-ROBUST where the token-gram span
    * machinery needs exact token alignment. Documents whose every chunk
    * is cataloged drop wholesale (all-boilerplate pages).
    *
    * Scale shape: chunking is map-side; the anti-join is one shuffle on
    * the fp (or a broadcast when the catalog is small); reassembly
    * aggregates per document, bounded by document size — the
    * [[Dedup.paragraphDedupAgainst]] plan with CDC boundaries.
    *
    * Empty (or null) documents chunk to nothing, which is NOT the same
    * as being fully cataloged — they survive with `clean_text = ''`
    * (one extra map-side filter union, zero shuffles), while
    * all-cataloged documents still drop wholesale.
    */
  def dedupAgainst(df: DataFrame, idCol: String, textCol: String,
      catalog: DataFrame,
      minSize: Int = 32, avgBits: Int = 6, maxSize: Int = 256): DataFrame = {
    val pieces = df.select(col(idCol),
        explode(CdcChunks.chunksCol(col(textCol), minSize, avgBits, maxSize)).as("__c"))
      .select(col(idCol), col("__c.pos").as("__pos"), col("__c.fp").as("fp"),
        col("__c.piece").as("__piece"))
    val reassembled = pieces.join(catalog.select(col("fp")), Seq("fp"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_join(transform(array_sort(collect_list(struct(col("__pos"), col("__piece")))),
        s => s("__piece")), "").as("clean_text"))
    val empties = df.where(coalesce(length(col(textCol)), lit(0)) === 0)
      .select(col(idCol), lit("").as("clean_text"))
    reassembled.unionByName(empties)
  }

  // ---- persistent chunk-fp catalog: the era layout every other
  // streaming-fed catalog uses ([[AnnIndex]] IVF-PQ/IMI-PQ/IVF-SQ), so a
  // rolling crawl can GROW the against-side of [[dedupAgainst]] /
  // [[contaminationBloom]] without batch rebuilds —
  // [[graft.streaming.GraftStreaming.indexStreamCdc]] appends one
  // `batch=<id>` directory per microbatch, [[AnnIndex.compactCdcCatalog]]
  // folds eras (with an exact cross-era distinct — the catalog is a SET).

  /** Bucket id for a persistent catalog row. Derived from the fp itself,
    * so (fp, __b) is a pure function of chunk content — what makes the
    * compaction-time cross-era `distinct` exact and keeps one fp's rows
    * in one partition directory (a reader filtering a known fp prunes to
    * a single bucket).
    */
  private[graft] def catalogBucket(fp: org.apache.spark.sql.Column, buckets: Int) =
    pmod(xxhash64(fp), lit(buckets.toLong)).cast("int")

  /** The catalog rows ONE ingest contributes (batch build or one
    * microbatch): the ingest corpus' distinct chunk fps, bucketed.
    * Deterministic for a fixed input — the property that makes the
    * streaming sink's wholesale `batch=<id>` rewrite exactly-once.
    */
  private[graft] def catalogRows(df: DataFrame, textCol: String, buckets: Int,
      minSize: Int, avgBits: Int, maxSize: Int): DataFrame =
    chunkCatalog(df, textCol, minSize, avgBits, maxSize)
      .withColumn("__b", catalogBucket(col("fp"), buckets))

  /** Build the persistent chunk-fp catalog at `path` from a batch corpus:
    * fp rows partitioned by `__b` under the initial era `batch=-1` — the
    * SAME era layout [[graft.streaming.GraftStreaming.indexStreamCdc]]
    * appends to (real microbatch ids are >= 0; compactions count further
    * down from the most negative era), so build-once-then-append-forever
    * needs no layout migration. One shuffle (the distinct), one file per
    * bucket directory.
    */
  def buildCatalogIndex(corpus: DataFrame, textCol: String, path: String,
      buckets: Int = 32, minSize: Int = 32, avgBits: Int = 6, maxSize: Int = 256): Unit =
    catalogRows(corpus, textCol, buckets, minSize, avgBits, maxSize)
      .repartition(col("__b"))
      .write.mode("overwrite").partitionBy("__b").parquet(path + "/batch=-1")

  /** Read a persistent catalog back as the `fp` relation [[dedupAgainst]]
    * and [[contaminationBloom]] consume. Heals a crashed compaction
    * install first (the probe-side discipline of every era catalog).
    * Cross-era duplicate fps may exist until the next
    * [[AnnIndex.compactCdcCatalog]]; both consumers are set-semantic
    * (anti-join / bloom bits), so duplicates cost bytes, never
    * correctness.
    */
  def readCatalog(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(path)
    AnnIndex.recoverCompaction(
      root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
    spark.read.parquet(path).select(col("fp"))
  }

  /** Distill a chunk-fp catalog to a bounded, sorted driver array for the
    * plan-literal stateless streaming gate
    * ([[graft.streaming.GraftStreaming.cdcDedupAgainstStream]]) — the
    * [[Dedup.distillParagraphCatalog]] driver-state discipline: the
    * collect is guarded by `maxEntries` (refuse loudly, never a silent
    * OOM); a catalog too large to distill belongs in the join form
    * ([[dedupAgainst]]) run as compaction, or the bloom gate
    * ([[contaminationBloomColumn]] — bounded at any catalog size).
    */
  def distillCatalog(catalog: DataFrame,
      maxEntries: Int = Distill.MaxEntries): Array[String] = {
    val distinctFps = catalog.select(col("fp")).distinct()
    Distill.orRefuse("chunk-fp catalog",
        "use the join-based dedupAgainst (as compaction) or the bloom gate",
        maxEntries, distinctFps) {
      distinctFps.collect().map(_.getString(0)).sorted
    }
  }

  // ---- Bloom-gated chunk contamination: the [[Winnow]] bloom-lane
  // discipline over content-defined chunks — the catalog distills to an
  // mBits-bounded in-plan bitmap, scoring is a pure zero-shuffle
  // projection, so the gate is stateless and append-safe in streams
  // ([[graft.streaming.GraftStreaming]] cdcDecontaminateStream).

  /** Distinct 64-bit chunk fingerprints per document (xxhash64 over the
    * md5 hex — one map-side kernel chain, the filter's key domain).
    */
  private[graft] def chunkFpsWide(text: org.apache.spark.sql.Column,
      minSize: Int, avgBits: Int, maxSize: Int): org.apache.spark.sql.Column =
    array_distinct(transform(
      CdcChunks.chunksCol(text, minSize, avgBits, maxSize),
      c => xxhash64(c.getField("fp"))))

  /** Build the catalog filter — driver state bounded by mBits/64 longs
    * regardless of catalog size.
    */
  def buildFilter(catalog: DataFrame, textCol: String,
      minSize: Int = 32, avgBits: Int = 6, maxSize: Int = 256,
      mBits: Int = 1 << 20, k: Int = 3): Array[Long] =
    Bloom.buildBitsFromHashes(catalog,
      chunkFpsWide(col(textCol), minSize, avgBits, maxSize),
      Bloom.positionExprsWide(_, mBits, k), mBits)

  /** Stateless scoring column against a pre-built filter: the fraction
    * of the document's distinct chunk fingerprints present in the
    * catalog bitmap (fp array bound ONCE via the singleton-array
    * transform — the [[Winnow.contaminationBloomColumn]] discipline).
    * Empty/null documents chunk to nothing (0/0 would raise under ANSI)
    * — the lazily-evaluated `when` guard scores them 0.0: an empty
    * document is trivially uncontaminated, so the streaming gate keeps
    * it at any threshold.
    */
  def contaminationBloomColumn(text: org.apache.spark.sql.Column, bits: Array[Long],
      minSize: Int = 32, avgBits: Int = 6, maxSize: Int = 256,
      mBits: Int = 1 << 20, k: Int = 3): org.apache.spark.sql.Column =
    element_at(
      transform(array(chunkFpsWide(text, minSize, avgBits, maxSize)), fps =>
        when(coalesce(size(fps), lit(0)) === 0, lit(0.0))
          .otherwise(round(graft.functions.HashExpressions
            .bloomHits(fps, bits, mBits, k, foldWide = true)
            .cast("double") / size(fps), 6))),
      1)

  /** (idCol, cdc_contamination_bloom) — one zero-shuffle projection over
    * the corpus against the cataloged-chunk filter.
    */
  def contaminationBloom(corpus: DataFrame, catalog: DataFrame,
      idCol: String, textCol: String,
      minSize: Int = 32, avgBits: Int = 6, maxSize: Int = 256,
      mBits: Int = 1 << 20, k: Int = 3): DataFrame =
    corpus.select(col(idCol),
      contaminationBloomColumn(col(textCol),
        buildFilter(catalog, textCol, minSize, avgBits, maxSize, mBits, k),
        minSize, avgBits, maxSize, mBits, k).as("cdc_contamination_bloom"))

  /** Shift-robust near-duplicate pairs: documents sharing ≥ `minShared`
    * distinct chunk fingerprints, with the shared count — the
    * [[Winnow.pairs]] contract over content-defined chunks instead of
    * winnowed k-grams (catches re-crawls whose edits BREAK token
    * n-grams across the whole tail). Candidate generation is
    * [[PairBudget]]-guarded like every exact miner.
    *
    * Both dials auto-derive from the corpus' own chunk-fp profile by
    * default, exactly the [[Winnow.pairs]] discipline:
    *  - `budget` ([[PairBudget.Auto]]) bounds candidate generation to a
    *    linear-in-corpus row budget (manual Cap/Exact override);
    *  - `minShared = None` sets the report threshold to max(2, p50/20)
    *    where p50 is the approximate median per-doc distinct-chunk-fp
    *    count. A document of L bytes carries ~L/avgChunk chunks, so a
    *    fixed absolute bar that is right for short pages is
    *    output-explosion on 5 KB documents; near-duplicates share ~p50
    *    chunks (20× the bar) and survive. Pass `Some(n)` to pin.
    *    The single per-doc aggregate behind the profile also hands the
    *    budget resolver its nDocs, saving a second distinct shuffle.
    */
  def pairs(df: DataFrame, idCol: String, textCol: String,
      minSize: Int = 32, avgBits: Int = 6, maxSize: Int = 256,
      minShared: Option[Int] = None, budget: PairBudget = PairBudget.Auto()): DataFrame = {
    val fpAll = Materialize.once(
      chunkIndex(df, idCol, textCol, minSize, avgBits, maxSize)
        .select(col(idCol).as("__id"), col("fp")).distinct())
    val needsProfile = minShared.isEmpty || budget.isInstanceOf[PairBudget.Auto]
    val perDoc = if (needsProfile)
      Some(Materialize.once(fpAll.groupBy(col("__id")).agg(count(lit(1)).as("__n"))))
    else None
    val fp = PairBudget.resolve(fpAll, "__id", "fp", budget,
        knownDocs = perDoc.map(_.count())).fold(fpAll) { cap =>
      val hot = fpAll.groupBy("fp").agg(count(lit(1)).as("__df"))
        .where(col("__df") > cap).select(col("fp"))
      fpAll.join(broadcast(hot), Seq("fp"), "left_anti")
    }
    val bar = minShared.getOrElse {
      // null percentile = empty index (empty corpus / all-empty texts)
      val row = perDoc.get
        .agg(expr("approx_percentile(__n, 0.5)").as("__p50"))
        .first()
      val p50 = if (row.isNullAt(0)) 0L else row.getLong(0)
      math.max(2L, p50 / 20L).toInt
    }
    fp.as("a").join(fp.as("b"), col("a.fp") === col("b.fp"))
      .where(col("a.__id") < col("b.__id"))
      .groupBy(col("a.__id").as("idA"), col("b.__id").as("idB"))
      .agg(count(lit(1)).cast("long").as("shared"))
      .where(col("shared") >= bar)
  }
}
