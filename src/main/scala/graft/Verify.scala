package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (dev iteration
    // only — the driver always passes exactly two args → full run)
    val (sfDir, outDir, only) = args match {
      case Array(s, o)       => (s, o, None)
      case Array(s, o, sel)  => (s, o, Some(sel.split(',').toSet))
      case _ =>
        System.err.println("usage: graft.Verify <sfDir> <outDir> [q_name1,q_name2,...]")
        sys.exit(2)
    }
    val spark = GraftSession.local(GraftSession.cpus(4))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // the bench set, exported from the ONE authority (QueryDef.bench) so
    // external anchors (scripts/duckdb_bench.py) cannot drift from it;
    // a separate file keeps oracle_sql.json's name→sql shape untouched
    Files.writeString(Paths.get(s"$outDir/bench_set.json"),
      graft.queries.Queries.all.filter(_.bench).map(qd => q(qd.name))
        .mkString("[", ",", "]"))
    // gate manifest (one line per query: oracle vs rows-only, declared
    // fixture twin) — selfcheck.py cross-checks that every rows-only
    // query names an oracle-gated twin, so twin coverage is machine-
    // checkable instead of prose-asserted
    Files.writeString(Paths.get(s"$outDir/manifest.json"),
      graft.queries.Queries.all.map { qd =>
        val gate = if (qd.oracle.isDefined) "oracle" else "rows_only"
        val twin = qd.twin.map(q).getOrElse("null")
        s"""{"name":${q(qd.name)},"gate":${q(gate)},"twin":$twin}"""
      }.mkString("[\n", ",\n", "\n]"))
    spark.stop()
  }
}
