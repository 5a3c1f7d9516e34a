package graft.operators

import org.apache.spark.sql.DataFrame

/** The one collect-if-small step behind every driver-side distilled
  * table (LM counts, vocabulary, CDC and paragraph catalogs, gram-df
  * counts, benchmark gram sets): count the tables, compare against a
  * budget, then either collect or hand the count back so the caller
  * falls back to its join form or refuses loudly. The budget bounds
  * driver state (never a silent OOM) and the size of the plan-literal
  * tables shipped with each task.
  */
object Distill {

  /** Entries (summed over the counted tables) a distilled table may hold. */
  val MaxEntries: Int = 500000

  /** Runs `collect` when the summed row counts of `tables` fit
    * `maxEntries`: Right(collected), else Left(count) for the caller's
    * fallback.
    */
  def ifFits[T](maxEntries: Int, tables: DataFrame*)(collect: => T): Either[Long, T] = {
    val n = tables.map(_.count()).sum
    if (n <= maxEntries) Right(collect) else Left(n)
  }

  /** [[ifFits]] that refuses past the budget, naming what to use instead. */
  def orRefuse[T](what: String, instead: String, maxEntries: Int,
      tables: DataFrame*)(collect: => T): T =
    ifFits(maxEntries, tables: _*)(collect).fold(
      n => throw new IllegalArgumentException(
        s"$what too large to distill: $n > $maxEntries entries — $instead"),
      identity)
}
