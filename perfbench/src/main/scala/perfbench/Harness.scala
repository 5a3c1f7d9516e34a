package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's JVM side: one process, one session, the workload's
  * queries run as interleaved passes, every number written to a JSON
  * report that `run.py` turns into metrics.
  *
  * The engine is reached only through public surfaces: queries are built
  * by `graft.SparkEntry.queries`; Spark's own listeners supply the traced
  * numbers. Nothing here is registered unless `--trace 1`.
  *
  * Run order: set-up (session + input registration), the cold pass,
  * untimed warm-up passes until pass times stop falling (the JIT settles
  * over several passes), warm passes until `--seconds` have passed and at least
  * [[MinWarmPasses]] ran, then the check pass that writes each output as
  * parquet for `run.py` to digest. Timed passes write to the noop sink,
  * which computes every output column and discards it.
  */
object Harness {
  val MinWarmupPasses = 3
  val MaxWarmupPasses = 8
  val SteadyShare = 0.95
  val MinWarmPasses = 3

  /** Query execution outcome inside one pass. */
  final case class QueryRun(name: String, buildS: Double, execS: Double, error: Option[String])

  final case class Pass(index: Int, kind: String, wallS: Double, queries: Seq[QueryRun])

  final case class Args(
      workload: String, input: String, queries: Seq[String], checkQueries: Seq[String],
      seconds: Double, trace: Boolean, report: String, checkDir: String, cpus: Int,
      launchEpochMs: Double, tamper: Map[String, String])

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def list(k: String) = kv.get(k).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    Args(
      workload = req("workload"), input = req("input"), queries = list("queries"),
      checkQueries = list("check-queries"), seconds = req("seconds").toDouble,
      trace = req("trace") == "1", report = req("report"), checkDir = req("check-dir"),
      cpus = req("cpus").toInt, launchEpochMs = req("launch-epoch-ms").toDouble,
      tamper = list("tamper").map { t => val Array(q, m) = t.split("=", 2); q -> m }.toMap)
  }

  /** The session `graft.Bench` times under, at the box's own parallelism. */
  private def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Input registration: resolves every input table's schema from its
    * parquet footers, so the first query does not pay for it. */
  private def register(spark: SparkSession, input: String): Unit =
    new java.io.File(input).listFiles().map(_.getName).filter(_.endsWith(".parquet")).sorted
      .foreach(t => spark.read.parquet(s"$input/$t").schema)

  private def message(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse(""))
      .replaceAll("[\\x00-\\x1f]+", " ").take(300)

  /** Builds a query's DataFrame; `--tamper` lets the benchmark's own tests
    * inject a failing or a wrong query. */
  private def build(spark: SparkSession, a: Args, name: String): DataFrame = {
    val df = graft.SparkEntry.queries(name)(spark, a.input)
    a.tamper.get(name) match {
      case Some("throw") => throw new IllegalStateException(s"injected failure in $name")
      case Some("wrong") => df.unionByName(df.limit(1))
      case _ => df
    }
  }

  private def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = session(a.cpus)
    register(spark, a.input)
    val firstCallEpochMs = System.currentTimeMillis().toDouble
    val tracer = if (a.trace) Some(Tracer.install(spark, a.cpus)) else None

    def onePass(index: Int, kind: String): Pass = {
      tracer.foreach(_.passStart(index, kind))
      val p0 = System.nanoTime()
      val runs = a.queries.map { name =>
        tracer.foreach(_.phaseStart(name, "build"))
        val b0 = System.nanoTime()
        val built = try Right(build(spark, a, name)) catch { case e: Throwable => Left(message(e)) }
        val b1 = System.nanoTime()
        tracer.foreach(_.phaseEnd())
        built match {
          case Left(err) => QueryRun(name, (b1 - b0) / 1e9, 0.0, Some(err))
          case Right(df) =>
            tracer.foreach(t => { t.analysisOf(df); t.phaseStart(name, "execute") })
            val e0 = System.nanoTime()
            val err = try { df.write.format("noop").mode("overwrite").save(); None }
                      catch { case e: Throwable => Some(message(e)) }
            val e1 = System.nanoTime()
            tracer.foreach(_.phaseEnd())
            QueryRun(name, (b1 - b0) / 1e9, (e1 - e0) / 1e9, err)
        }
      }
      val wall = (System.nanoTime() - p0) / 1e9
      tracer.foreach(_.passEnd())
      Pass(index, kind, wall, runs)
    }

    val passes = ArrayBuffer(onePass(0, "cold"))
    // warm-up: pass times keep falling for several passes while the JIT
    // compiles; stop once a pass is no longer clearly faster than the best
    // before it (or at the cap)
    var best = Double.MaxValue
    var improving = true
    while (passes.length <= MinWarmupPasses || improving && passes.length <= MaxWarmupPasses) {
      val p = onePass(passes.length, "warmup")
      improving = p.wallS < SteadyShare * best
      best = math.min(best, p.wallS)
      passes += p
    }
    val measure0 = System.nanoTime()
    var warm = 0
    while (warm < MinWarmPasses || (System.nanoTime() - measure0) / 1e9 < a.seconds) {
      passes += onePass(passes.length, "warm")
      warm += 1
    }
    val peakRssMb = vmHwmMb()
    val traceJson = tracer.map { t => t.finish(); t.json() }

    // check pass: untimed, every output written once for run.py to digest.
    // It runs last: its parquet writers add generated classes, and on top of
    // the passes' own they overflow Spark's 100-entry codegen cache, which
    // then evicts and recompiles classes in every later pass in some runs
    // and not in others
    val check0 = System.nanoTime()
    val checks = (a.queries ++ a.checkQueries).distinct.map { name =>
      val err = try {
        build(spark, a, name).write.mode("overwrite").parquet(s"${a.checkDir}/$name"); None
      } catch { case e: Throwable => Some(message(e)) }
      name -> err
    }
    val checkS = (System.nanoTime() - check0) / 1e9
    spark.stop()

    val j = new Json
    j.obj {
      j.field("workload", a.workload)
      j.field("cpus", a.cpus)
      j.field("setup_s", (firstCallEpochMs - a.launchEpochMs) / 1000.0)
      j.field("peak_rss_mb", peakRssMb)
      j.field("check_s", checkS)
      j.key("passes"); j.arr(passes.toSeq) { p =>
        j.obj {
          j.field("index", p.index); j.field("kind", p.kind); j.field("wall_s", p.wallS)
          j.key("queries"); j.arr(p.queries) { q =>
            j.obj {
              j.field("name", q.name); j.field("build_s", q.buildS); j.field("exec_s", q.execS)
              q.error.foreach(e => j.field("error", e))
            }
          }
        }
      }
      j.key("checks"); j.arr(checks) { case (name, err) =>
        j.obj {
          j.field("name", name)
          graft.SparkEntry.oracleSql.get(name).foreach(sql => j.field("oracle", sql))
          err.foreach(e => j.field("error", e))
        }
      }
      traceJson.foreach { t => j.key("trace"); j.raw(t) }
    }
    Files.write(Paths.get(a.report), j.result().getBytes(StandardCharsets.UTF_8))
  }
}
