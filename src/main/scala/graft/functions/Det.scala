package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Determinism helpers shared by every oracle-checked query.
  *
  * Cross-engine (Spark vs DuckDB) float comparison is the main hazard of
  * the driver's hash-compare gate: summing doubles is order-dependent, and
  * shuffle partitioning makes the order nondeterministic. The fix used
  * throughout this engine: route every SUM through an exact decimal type
  * (order-independent), and only cast back to double at the very end.
  * IEEE scalar ops (multiply/divide/sqrt) are bit-deterministic and agree
  * between JVM and C++, so per-row arithmetic may stay in double-land.
  */
object Det {
  /** Money-ish columns (2 decimal digits in the data). */
  val D18_2: DecimalType = DecimalType(18, 2)
  /** Per-row double products (price*(1-disc)); 10 digits keeps them exact
    * enough that both engines round the same way. */
  val D28_10: DecimalType = DecimalType(28, 10)

  /** Order-independent SUM(double) -> double via exact decimal.
    *
    * The final decimal is rounded to `roundTo` digits BEFORE the double
    * cast: a decimal whose scaled integer exceeds 2^53 casts to double with
    * two roundings in DuckDB (int128→double, then /10^scale) but one in the
    * JVM — an occasional 1-ulp mismatch. Rounding first keeps the scaled
    * integer exact in a double, making the cast single-rounded everywhere. */
  def dsum(c: Column, dt: DecimalType = D18_2, roundTo: Int = 2): Column =
    round(sum(c.cast(dt)), roundTo).cast("double")

  /** Long-truncating average — the reference's integer-division mean
    * (reference StreamingJob.scala:100–106 sums Longs and divides by count). */
  def floorAvg(c: Column): Column =
    floor(sum(c.cast(D18_2)).cast("double") / count(lit(1))).cast("long")

  /** The final `ORDER BY w_start` of a per-window aggregate, sorted in the
    * one task that reads the aggregate's output instead of through a
    * range exchange (whose sampling job and extra stage cost more than the
    * sort on a few rows). Bounded because `df`'s last aggregate is keyed
    * by `w_start` alone: the single task reads at most #windows ×
    * #map-tasks partial rows and emits one row per window (about 12 a
    * year of 31-day tumbling windows, 365 a year of 1-day slides), at any
    * input volume. Scans and hash exchanges below stay parallel. Use only
    * where the output is one row per window. Other query results get the
    * same one-task sort from the wrapper around
    * `SparkEntry.queries` ([[org.apache.spark.sql.graft.CollectedSort]]),
    * which leaves this `coalesce(1)` as it is. */
  def orderWindows(df: DataFrame): DataFrame =
    df.coalesce(1).orderBy("w_start")
}
