package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Deterministic inflated twin of a testdata directory, for the second
  * bench lane (BENCH_r09+ `*_x16` fields): sf0.1 keeps the headline
  * queries sub-second on local[32], where Spark's fixed ~0.1-0.3 s job
  * scheduling cost dominates and the spark/duckdb ratio measures overhead
  * instead of work. Inflating the SAME tables 16× (and timing DuckDB on
  * the SAME inflated parquet) moves the comparison into the regime the
  * engine targets, without inventing new data distributions.
  *
  * Inflation discipline (same as ProbeScale, which validated it for
  * scaling probes): each copy i gets
  *  - every key column shifted by i·10^9 — a multiple of 16, 50 and 10^4,
  *    so the doc_id % 16 / % 50 corpus cuts and the +10000 dup-planting
  *    offset used by bench queries keep their per-copy meaning;
  *  - document text rotated through a 16-letter substitution (translate),
  *    so copies are DISSIMILAR and dedup/minhash work grows linearly with
  *    input instead of exploding cross-copy duplicate pairs;
  *  - embeddings rotated by (i·7) mod dim positions — norm-preserving,
  *    direction-moving, all 16 rotations distinct (7 is odd, dim is a
  *    power of two), so ANN copies are new points, not replicas;
  *  - event timestamps shifted by i·137 days so each copy's sessions live
  *    in their own epoch (user_id is shifted too: 16× the users, the
  *    realistic way a corpus grows — per-key group sizes stay constant).
  *  - dimension tables (region, nation) copied 1×: every copy's
  *    customers/suppliers reference the same 25 nations, exactly how a
  *    larger fact table relates to a fixed dimension in production.
  *
  * Everything is a pure column transform of the driver's parquet — no
  * randomness, no timestamps-of-now — so any run on the same source dir
  * produces identical CONTENT (file layout may differ; nothing keys on
  * it). A marker file records (source, factor, recipe version); ensure()
  * is a no-op when the marker matches, so the corpus is materialized once
  * per machine and reused across bench runs.
  */
object InflatedCorpus {
  /** Per-copy key offset: multiple of 16, 50, 10^4 (see scaladoc). */
  private val Shift = 1000000000L
  private val RecipeVersion = 1

  /** 16-letter substitution alphabet (most-frequent English letters, the
    * ProbeScale rotation set) — rot(i) maps copy i's text to a distinct
    * letter permutation; rot(0) is the identity, so copy 0 IS the source.
    */
  private[graft] val Alpha = "etaoinshrdlcumwf"
  private def rot(i: Int): String = {
    val k = i % Alpha.length
    Alpha.drop(k) + Alpha.take(k)
  }

  /** The m-th stride-shift permutation of [[Alpha]]: source letter t maps
    * to Alpha[(k + t·s) % 16] with shift k = m % 16 and stride s an odd
    * step (coprime to 16, so each stride is a bijection). 8 strides × 16
    * shifts = 128 DISTINCT permutations (k is pinned by the image of
    * t = 0, s by t = 1), and perm(0) = identity. The document-LENGTH
    * inflation needs factor·docLen distinct transforms so that no two
    * segments — within a doc or across copies — share letter statistics:
    * a plain cyclic-rotation set (16 members) would force segment reuse,
    * and reordered-segment copies would collide in shingle space (minhash
    * would see every copy of a doc as a near-duplicate of every other,
    * exploding cross-copy pairs instead of scaling work linearly).
    */
  private[graft] def perm(m: Int): String = {
    val strides = Array(1, 3, 5, 7, 9, 11, 13, 15)
    val s = strides((m / Alpha.length) % strides.length)
    val k = m % Alpha.length
    new String(Array.tabulate(Alpha.length)(t => Alpha((k + t * s) % Alpha.length)))
  }

  final case class Build(dir: String, factor: Int, built: Boolean, buildSec: Double)

  private def marker(sfDir: String, factor: Int, docLen: Int): String =
    if (docLen == 1) s"graft-inflated v$RecipeVersion factor=$factor src=$sfDir"
    else s"graft-inflated v$RecipeVersion factor=$factor len=$docLen src=$sfDir"

  /** Materialize (or reuse) the factor-× twin of sfDir at outDir.
    *
    * `docLen > 1` additionally inflates every DOCUMENT's length ~docLen×:
    * the text becomes docLen letter-permuted variants of the source doc
    * joined by paragraph breaks (~300 B → ~5 KB at docLen 16). The 16×
    * row lane alone never moves the per-document operators (langid, LM,
    * quality, fingerprint, phash) out of the fixed-cost regime — at 300
    * bytes/doc the scan IS the job (ProbeFingerprint: 209 ms of 457 ms
    * e2e) — so the length lane is where their ratios measure WORK.
    * Segment (i, j) of copy i uses perm(i·docLen + j): all segments of
    * all copies are distinct permutations, so near-dup shingle structure
    * stays linear while planted exact-dup twins (same source text, same
    * copy ⇒ same transform) survive verbatim, and each inflated doc is
    * docLen genuine paragraphs for the paragraph-level stages. Only the
    * documents table changes; all other tables follow the row recipe.
    */
  def ensure(spark: SparkSession, sfDir: String, factor: Int, outDir: String,
      docLen: Int = 1): Build = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    require(docLen >= 1, s"docLen must be >= 1, got $docLen")
    require(docLen == 1 || factor * docLen <= 128,
      s"factor*docLen must be <= 128 distinct permutations, got ${factor * docLen}")
    val root = new Path(outDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val markerPath = new Path(root, "_GRAFT_INFLATED")
    val expect = marker(sfDir, factor, docLen)
    val current =
      if (!fs.exists(markerPath)) None
      else scala.util.Try {
        val in = fs.open(markerPath)
        try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      }.toOption
    if (current.contains(expect)) return Build(outDir, factor, built = false, 0.0)

    val t0 = System.nanoTime()
    if (fs.exists(root)) fs.delete(root, true)
    fs.mkdirs(root)

    def src(name: String): DataFrame = spark.read.parquet(s"$sfDir/$name.parquet")
    def write(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    def copies(df: DataFrame)(tweak: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => tweak(df, i)).reduce(_ unionByName _)
    def shiftKeys(keys: String*)(df: DataFrame, i: Int): DataFrame =
      keys.foldLeft(df)((d, k) => d.withColumn(k, col(k) + lit(i * Shift)))

    // dimensions: 1× — all copies share them (fixed-dimension realism)
    write("region", src("region"))
    write("nation", src("nation"))

    write("customer", copies(src("customer"))(shiftKeys("c_custkey")))
    write("orders", copies(src("orders"))(shiftKeys("o_orderkey", "o_custkey")))
    write("lineitem", copies(src("lineitem"))(shiftKeys("l_orderkey", "l_partkey", "l_suppkey")))
    write("supplier", copies(src("supplier"))(shiftKeys("s_suppkey")))
    write("part", copies(src("part"))(shiftKeys("p_partkey")))

    // events: ts shift in the table's OWN physical type (the generator has
    // used int64 nanos and timestamp[us] in different rounds — TESTDATA.md)
    val ev = src("events")
    val dayShift: (Int => org.apache.spark.sql.Column) = ev.schema("ts").dataType match {
      case LongType => i => col("ts") + lit(i * 137L * 24 * 3600 * 1000000000L)
      case TimestampType | TimestampNTZType => i => col("ts") + expr(s"INTERVAL '${i * 137}' DAY")
      case other => throw new IllegalArgumentException(s"unexpected events.ts type $other")
    }
    write("events", copies(ev) { (df, i) =>
      shiftKeys("event_id", "user_id")(df, i).withColumn("ts", dayShift(i))
    })

    write("documents", copies(src("documents")) { (df, i) =>
      val inflated =
        if (docLen == 1) translate(col("text"), Alpha, rot(i))
        else concat_ws("\n\n",
          (0 until docLen).map(j => translate(col("text"), Alpha, perm(i * docLen + j))): _*)
      shiftKeys("doc_id")(df, i).withColumn("text", inflated)
    })

    val emb = src("embeddings")
    val embDim = emb.selectExpr("size(embedding)").head().getInt(0)
    write("embeddings", copies(emb) { (df, i) =>
      val k = (i * 7) % embDim
      val rotated =
        if (k == 0) col("embedding")
        else concat(slice(col("embedding"), k + 1, embDim - k), slice(col("embedding"), 1, k))
      shiftKeys("vec_id")(df, i).withColumn("embedding", rotated)
    })

    val out = fs.create(markerPath, true)
    try out.write(expect.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    Build(outDir, factor, built = true, (System.nanoTime() - t0) / 1e9)
  }

  def defaultDir(sfDir: String, factor: Int, docLen: Int = 1): String =
    if (docLen == 1) s"/tmp/graft_x$factor/${new java.io.File(sfDir).getName}"
    else s"/tmp/graft_x${factor}len$docLen/${new java.io.File(sfDir).getName}"

  /** Standalone generation (for the offline DuckDB anchor run):
    * runMain graft.InflatedCorpus [sfDir] [factor] [outDir] [docLen]
    */
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val factor = args.lift(1).map(_.toInt).getOrElse(16)
    val docLen = args.lift(3).map(_.toInt).getOrElse(1)
    val outDir = args.lift(2).getOrElse(defaultDir(sfDir, factor, docLen))
    val spark = GraftSession.local(GraftSession.cpus(32))
    val b = ensure(spark, sfDir, factor, outDir, docLen)
    println(s"[inflate] dir=${b.dir} factor=${b.factor} built=${b.built} " +
      f"build_sec=${b.buildSec}%.1f")
    spark.stop()
  }
}
