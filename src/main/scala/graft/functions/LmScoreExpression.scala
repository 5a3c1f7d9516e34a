package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Runtime for [[DistilledLmScore]]: the whole per-document distilled-LM
  * scoring pass as ONE imperative scan with real hash-table lookups.
  *
  * Why it exists (r15): the Column formulation
  * ([[graft.operators.LanguageModel.scoreColumn]]'s original
  * `aggregate(sequence(...), element_at(typedLit(map), key))` fold)
  * evaluates `element_at` against a LITERAL map — and Catalyst's
  * GetMapValue over an ArrayBasedMapData literal is a LINEAR SCAN, so
  * the scorer was O(|model|) PER TOKEN: measured 107 s for a
  * 496-uni + 14,870-bi model over the x16 twin (ProbeDistill), with the
  * whole higher-order-function chain evaluated interpreted
  * (CodegenFallback) on top. This kernel is O(1) per lookup and
  * whole-stage-codegen-friendly.
  *
  * Parity contract (spec-gated == the join-based scoreDocs, and the
  * oracle replays it in SQL): tokens are
  * `filter(split(trim(lower(text)), "\\s+"), _ != "")` with Spark's
  * exact semantics — UTF8String.toLowerCase, ASCII-space trim, java
  * regex split with limit -1; first token scores
  * binLen(T+V) − binLen(c(w1)+1), transitions score
  * binLen(c(prev)+V) − binLen(cb("prev w")+1) with binLen(x) =
  * 64 − numberOfLeadingZeros(x) (the [[BinLength]] arithmetic);
  * bits_per_token rounds exactly like Spark's round(_, 6)
  * (BigDecimal.valueOf → setScale HALF_UP → toDouble).
  */
final class DistilledLmRuntime(uni: Map[String, Long], bi: Map[String, Long],
    totalTokens: Long, vocabSize: Long) extends Serializable {

  @transient private lazy val uniM: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long](uni.size * 2)
    uni.foreach { case (k, v) => m.put(k, v) }
    m
  }
  @transient private lazy val biM: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long](bi.size * 2)
    bi.foreach { case (k, v) => m.put(k, v) }
    m
  }

  private val ws = java.util.regex.Pattern.compile("\\s+")

  private def binLen(v: Long): Int =
    if (v == 0L) 1 else 64 - java.lang.Long.numberOfLeadingZeros(v)

  private def cnt(m: java.util.HashMap[String, java.lang.Long], k: String): Long = {
    val v = m.get(k)
    if (v == null) 0L else v.longValue()
  }

  /** struct(n_tokens, lm_bits, bits_per_token) or null for 0 tokens. */
  def score(text: UTF8String): InternalRow = {
    // Spark-exact tokenize: lower (UTF8String), trim (ASCII space),
    // regex \s+ split with limit -1, drop empties
    val raw = ws.split(text.toLowerCase.trim().toString, -1)
    var n = 0
    var i = 0
    while (i < raw.length) { if (!raw(i).isEmpty) n += 1; i += 1 }
    if (n == 0) return null
    var bits = 0L
    var prev: String = null
    i = 0
    while (i < raw.length) {
      val w = raw(i)
      if (!w.isEmpty) {
        if (prev == null) {
          bits += binLen(totalTokens + vocabSize) - binLen(cnt(uniM, w) + 1L)
        } else {
          bits += binLen(cnt(uniM, prev) + vocabSize) -
            binLen(cnt(biM, prev + " " + w) + 1L)
        }
        prev = w
      }
      i += 1
    }
    val bpt = java.math.BigDecimal.valueOf(bits.toDouble / n)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    new GenericInternalRow(Array[Any](n.toLong, bits, bpt))
  }
}

/** Runtime for [[OovRateScore]] (r16): per-document OOV counting against
  * a distilled vocabulary set — one imperative scan, O(1) hash probes —
  * replacing the corpus-sized token explode + vocabulary join + per-doc
  * re-aggregation when the vocabulary fits the plan budget (it is
  * frequency-thresholded, so Heaps' law bounds it regardless of corpus
  * size). Tokenize parity is [[DistilledLmRuntime]]'s exactly; counts
  * and the round(_, 6) rate replicate the join path's arithmetic
  * (spec-gated equal; the oracle replays the join form in SQL).
  */
final class OovRuntime(vocab: Seq[String]) extends Serializable {
  @transient private lazy val set: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](vocab.size * 2)
    vocab.foreach(s.add)
    s
  }
  private val ws = java.util.regex.Pattern.compile("\\s+")

  /** struct(n_tokens, n_oov, oov_rate) or null for 0 tokens. */
  def rate(text: UTF8String): InternalRow = {
    val raw = ws.split(text.toLowerCase.trim().toString, -1)
    var n = 0
    var oov = 0
    var i = 0
    while (i < raw.length) {
      val w = raw(i)
      if (!w.isEmpty) {
        n += 1
        if (!set.contains(w)) oov += 1
      }
      i += 1
    }
    if (n == 0) return null
    val r = java.math.BigDecimal.valueOf(oov.toDouble / n)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    new GenericInternalRow(Array[Any](n.toLong, oov.toLong, r))
  }
}

/** oov_rate_score(text): the [[OovRuntime]] scan as a codegen expression —
  * struct(n_tokens, n_oov, oov_rate), null for zero-token texts (the rows
  * the join path's explode never produced). The vocabulary is a `Seq`, not
  * an `Array`, so two instances over equal vocabularies compare equal and
  * canonicalization and exchange reuse see them as one expression.
  */
case class OovRateScore(child: Expression, vocab: Seq[String])
    extends UnaryExpression {
  override def prettyName: String = "graft_oov_rate_score"
  override def nullable: Boolean = true
  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_oov", LongType, nullable = false),
    StructField("oov_rate", DoubleType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects string, got ${other.simpleString}")
  }

  @transient private lazy val runtime = new OovRuntime(vocab)

  override def nullSafeEval(input: Any): Any =
    runtime.rate(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val rt = ctx.addReferenceObj("graftOovRuntime", runtime, classOf[OovRuntime].getName)
    nullSafeCodeGen(ctx, ev, v =>
      s"""
         |${ev.value} = $rt.rate($v);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): OovRateScore =
    copy(child = newChild)
}

/** distilled_lm_score(text): the [[DistilledLmRuntime]] scan as a codegen
  * Catalyst expression — struct(n_tokens, lm_bits, bits_per_token), null
  * for zero-token texts (the scoreDocs "no probability defined" rows).
  */
case class DistilledLmScore(child: Expression,
    uni: Map[String, Long], bi: Map[String, Long],
    totalTokens: Long, vocabSize: Long) extends UnaryExpression {
  override def prettyName: String = "graft_distilled_lm_score"
  override def nullable: Boolean = true
  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("lm_bits", LongType, nullable = false),
    StructField("bits_per_token", DoubleType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects string, got ${other.simpleString}")
  }

  @transient private lazy val runtime =
    new DistilledLmRuntime(uni, bi, totalTokens, vocabSize)

  override def nullSafeEval(input: Any): Any =
    runtime.score(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val rt = ctx.addReferenceObj("graftDistilledLm", runtime,
      classOf[DistilledLmRuntime].getName)
    val code = nullSafeCodeGen(ctx, ev, v =>
      s"""
         |${ev.value} = $rt.score($v);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin)
    code
  }

  override protected def withNewChildInternal(newChild: Expression): DistilledLmScore =
    copy(child = newChild)
}
