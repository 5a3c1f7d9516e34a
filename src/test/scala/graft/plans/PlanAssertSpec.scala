package graft.plans

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The ProbeQap lesson as a standing gate: no curated pipeline may
  * evaluate a heavy graft kernel inside a filter predicate (FilterExec
  * has no CSE; pushdown inlines projected aliases — see PlanAssert).
  */
class PlanAssertSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("positive control: a predicate on a kernel column IS detected") {
    // pushdown inlines the projected entropy kernel into the filter —
    // exactly the shape the check exists to catch
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val trapped = docs
      .select(col("doc_id"),
        graft.functions.HashExpressions.byteEntropyBits(
          encode(col("text"), "UTF-8")).as("ent"))
      .where(col("ent") > 3000)
    val ks = PlanAssert.heavyFilterKernels(trapped)
    assert(ks.nonEmpty, "the entropy kernel must be seen inside the filter")
    intercept[IllegalArgumentException] {
      PlanAssert.assertNoHeavyFilter(trapped, "control")
    }
    // and a clean shape on the same data passes: filter on a plain
    // column, kernel only in the projection
    val clean = docs.where(length(col("text")) > 10)
      .select(col("doc_id"),
        graft.functions.HashExpressions.byteEntropyBits(
          encode(col("text"), "UTF-8")).as("ent"))
    PlanAssert.assertNoHeavyFilter(clean, "clean-control")
  }

  test("q_pipeline / q_pipeline_curated / q_pipeline_signals never filter on a kernel") {
    for (name <- Seq("q_pipeline", "q_pipeline_curated", "q_pipeline_signals")) {
      val df = graft.queries.Queries.queries(name)(spark, sfDir)
      PlanAssert.assertNoHeavyFilter(df, name)
    }
  }

  test("registry-wide: no query beyond the one triaged acceptance filters on a kernel") {
    // a registry-wide kernel-in-filter sweep as a standing gate
    // (plan-only, nothing executes beyond eager index builds/
    // materializations inside fn). Round-12 triage of the sweep's
    // initial 19 hits (fix when the kernel is hot, accept when every
    // barrier costs more than the duplication):
    //  - DotProduct in every ANN query's top-k tail — FIXED: the
    //    null-drop moved from `.where(cosine.isNotNull)` (inlined per
    //    PAIR) into the heap aggregate's `when`-wrapped input
    //    (topKByCosine), whose pre-agg projection computes the cosine
    //    once.
    //  - Band/gram kernels duplicated below every posexplode — FIXED by
    //    excluding the optimizer's filter-from-generate inference in
    //    GraftSession (the Generate already skips null/empty arrays; the
    //    inferred filter only re-ran the kernel).
    //  - ByteEntropyBits in the eval lane's score null-filters — FIXED
    //    by materializing the eval-sized (score, label) relations once.
    //  - q_semdedup's per-VECTOR `sqrt(dot(v,v)) IS NOT NULL`
    //    (constraint-inferred from the pair threshold) — ACCEPTED:
    //    O(n·d) beside the O(|cell|²·d) pair work, and the pair kernel
    //    itself evaluates once; any barrier would add a corpus exchange.
    // q_semdedup is the single allowlisted hit. Anything NEW failing
    // here is a regression: fix it with the heap-`when` /
    // aggregate-barrier / materialize patterns, don't extend this
    // allowlist without a measured rationale.
    val accepted = Set("q_semdedup")
    // a query whose plan CRASHES must fail the gate too — swallowing it
    // would silently disable the regression check for that query
    val (errors, violations) = graft.queries.Queries.all.foldLeft(
        (List.empty[(String, String)], List.empty[(String, Seq[String])])) {
      case ((errs, viols), qd) =>
        scala.util.Try(PlanAssert.heavyFilterKernels(qd.fn(spark, sfDir))) match {
          case scala.util.Failure(e) => ((qd.name -> e.toString) :: errs, viols)
          case scala.util.Success(ks) if ks.nonEmpty && !accepted(qd.name) =>
            (errs, (qd.name -> ks) :: viols)
          case _ => (errs, viols)
        }
    }
    assert(errors.isEmpty, s"plans failed to build: ${errors.mkString("; ")}")
    assert(violations.isEmpty,
      s"kernel-in-filter regressions: ${violations.mkString("; ")}")
  }

  test("positive control: a constant-collection explode carrying a payload IS detected") {
    // the exact d65debf docsWithDups shape: fan every row out 2x through
    // a literal array while the text payload rides along — Generate
    // copies every payload byte per output row
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val trapped = docs.select(col("doc_id"), col("text"),
        explode(array(lit(0L), lit(1000000L))).as("shift"))
      .withColumn("new_id", col("doc_id") + col("shift"))
    assert(PlanAssert.payloadExplodes(trapped).nonEmpty,
      "the payload-carrying constant explode must be seen")
    intercept[IllegalArgumentException] {
      PlanAssert.assertNoPayloadExplode(trapped, "control")
    }
    // clean variants pass: (a) a data-dependent generator carrying the
    // payload (chunk/gram shapes — the fan-out is work, not copies);
    // (b) a constant explode carrying only narrow columns
    val consuming = docs.select(col("doc_id"), col("text"),
      explode(split(col("text"), "\\s+")).as("tok"))
    PlanAssert.assertNoPayloadExplode(consuming, "consuming-generator")
    val narrow = docs.select(col("doc_id"),
        explode(array(lit(0L), lit(1000000L))).as("shift"))
      .withColumn("new_id", col("doc_id") + col("shift"))
    PlanAssert.assertNoPayloadExplode(narrow, "narrow-carry")
  }

  test("registry-wide: no query duplicates a payload through a constant-collection Generate") {
    // the d65debf lesson as a standing gate, swept like the
    // kernel-in-filter check. First use found TWO hits: q_dedup_fuzzy's
    // segment/probe explodes carried the full text through constant
    // sequences (fixed — hashes now compute inside array lambdas and
    // only 8-byte structs fan out), and q_join_salted, which is the one
    // triaged acceptance: replicating the SMALL side into every salt
    // bucket IS the salting semantics (bytes = |small|·salts, bounded by
    // the small side's size by construction; fanning out only the key
    // would need a second join of the big intermediate to recover the
    // payload). Extend this allowlist only with a measured length-lane
    // rationale.
    val accepted = Set("q_join_salted")
    val (errors, violations) = graft.queries.Queries.all.foldLeft(
        (List.empty[(String, String)], List.empty[(String, Seq[String])])) {
      case ((errs, viols), qd) =>
        scala.util.Try(PlanAssert.payloadExplodes(qd.fn(spark, sfDir))) match {
          case scala.util.Failure(e) => ((qd.name -> e.toString) :: errs, viols)
          case scala.util.Success(hs) if hs.nonEmpty && !accepted(qd.name) =>
            (errs, (qd.name -> hs) :: viols)
          case _ => (errs, viols)
        }
    }
    assert(errors.isEmpty, s"plans failed to build: ${errors.mkString("; ")}")
    assert(violations.isEmpty,
      s"payload-explode regressions: ${violations.mkString("; ")}")
  }
}
