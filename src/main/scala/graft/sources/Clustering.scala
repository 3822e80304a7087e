package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

import graft.functions.{Det, ZOrder2}

/** Data-clustering storage layouts — the third layout lever next to
  * bucketing (shuffle-free joins) and directory partitioning (partition
  * pruning): ordering rows WITHIN files so parquet min/max row-group
  * stats become an effective index for range predicates.
  *
  * Two levers, both "write once, every later scan wins":
  *
  *   - [[ensureRangeClustered]]: `repartitionByRange` on a sort key with
  *     the file count sized from data bytes / [[TargetFileBytes]] (the
  *     liquid-clustering-style sizing rule), then `sortWithinPartitions`.
  *     Every file covers a disjoint key range; a range predicate on the
  *     key reads the few files/row-groups whose min/max overlap it.
  *   - [[ensureZOrdered]]: same write shape, but the sort key is the
  *     Morton interleave [[graft.functions.ZOrder2]] of TWO columns, so
  *     row groups stay min/max-tight on BOTH and predicates on EITHER
  *     column skip — what a linear sort only gives its leading column.
  *
  * The skipping is observable in the executed scan's metrics (the
  * ClusteringSpec asserts it): parquet pushes the predicate to row-group
  * stats, so `numOutputRows` of the scan on a clustered copy is a small
  * fraction of the table, while the same scan on an unclustered copy
  * emits ~every row and discards them in the post-scan Filter.
  *
  * At 100 TB: file count = bytes / 128 MiB ≈ 800k files, each one range
  * task at write time; reads stay pruned regardless of cluster size. The
  * reference has no storage layout control at all (its one source is a
  * text file — reference StreamingJob.scala:85); this is the Spark-native
  * capability its users graduate to. */
object Clustering {

  /** Target on-disk bytes per output file (the common lakehouse default). */
  val TargetFileBytes: Long = 128L * 1024 * 1024

  /** Output files for a copy of `tables` under `dir`: data bytes over
    * [[TargetFileBytes]], floored at the core count so small local inputs
    * still exercise a multi-file layout (and every core, at write time). */
  def numFilesFor(spark: SparkSession, dir: String, tables: Seq[String]): Int =
    Tables.partsFor(spark, dir, tables, TargetFileBytes)

  /** Layout-code version — bump when the copy's schema or sort changes
    * (the content fingerprint only tracks the SOURCE data). */
  private val LayoutVersion = 2

  /** File count rides the fingerprint (via the numBuckets slot) so a
    * session with a different core floor rebuilds instead of reusing a
    * copy with the wrong granularity; [[LayoutVersion]] invalidates
    * copies written by older layout code. */
  private def loc(spark: SparkSession, kind: String, dir: String, n: Int): String =
    Artifacts.path(spark, dir, s"lineitem_${kind}_v$LayoutVersion", n, Seq("lineitem"))

  /** The Morton sort key as a Column (layout writes + specs). */
  def zorderCol(a: Column, b: Column): Column =
    ColumnBridge.of(ZOrder2(
      ColumnBridge.expr(a.cast("long")), ColumnBridge.expr(b.cast("long"))))

  /** Z resolution per dimension. 12 bits = 4096 levels is plenty for the
    * file counts any single table produces (2^24 z cells), while keeping
    * the scaled product far inside exact-double range. */
  val ZBits = 12

  /** RANGE-NORMALIZED Morton key: both columns are first scaled to
    * [[ZBits]]-bit codes from their observed [min, max]. Raw interleave
    * breaks when dimensions have very different cardinality — a column
    * with only k bits of range contributes nothing above bit 2k, so
    * file-granularity z ranges fix ONLY the wider column's high bits and
    * the narrow column never skips (measured on the fixture: suppkey has
    * 4 bits vs partkey's 8; unscaled z-order skipped nothing on suppkey
    * predicates). Scaling gives both dimensions equal say in every z
    * prefix — the same reason production z-order implementations
    * interleave range-partition ranks, not raw values.
    *
    * The min/max agg is one tiny eager job at layout-write time (the
    * caller is already materializing a full copy); empty input degrades
    * to a constant key. */
  def zorderScaledCol(df: DataFrame, a: String, b: String): Column = {
    val r = df.agg(
      min(col(a)).cast("long"), max(col(a)).cast("long"),
      min(col(b)).cast("long"), max(col(b)).cast("long")).head()
    if (r.isNullAt(0)) lit(0L)
    else {
      val top = (1L << ZBits) - 1
      def scale(c: Column, lo: Long, hi: Long): Column = {
        val span = math.max(1L, hi - lo)
        floor((c.cast("long") - lit(lo)) * lit(top) / lit(span)).cast("long")
      }
      zorderCol(
        scale(col(a), r.getLong(0), r.getLong(1)),
        scale(col(b), r.getLong(2), r.getLong(3)))
    }
  }

  /** Epoch seconds of a UTC date string — the BIGINT form of a date
    * cluster key. Parquet stats-based row-group skipping works for INT64
    * predicates but Spark declines it for TIMESTAMP_NTZ (measured: a
    * date predicate on an NTZ column read every row group of a
    * date-clustered copy; the same predicate on an epoch BIGINT read
    * 1/32) — so the clustered copies materialize the key as BIGINT. */
  def epochSec(date: String): Long =
    java.time.LocalDate.parse(date).toEpochDay * 86400L

  private def writeClustered(df: DataFrame, n: Int, path: String, key: Column*): Unit =
    df.repartitionByRange(n, key: _*)
      .sortWithinPartitions(key: _*)
      .write.mode("overwrite").parquet(path)

  /** One-time (per source dir + content fingerprint) range-clustered copy
    * of lineitem, ordered by (ship_sec, l_orderkey) where ship_sec is
    * l_shipdate as epoch-seconds BIGINT (see [[epochSec]] for why the
    * key is materialized as INT64). Deterministic content — a rebuild
    * from another JVM is a cache rebuild; `_SUCCESS` gates reuse so a
    * torn write rebuilds. */
  def ensureRangeClustered(spark: SparkSession, dir: String): String = {
    val n = numFilesFor(spark, dir, Seq("lineitem"))
    val path = loc(spark, "by_shipdate", dir, n)
    if (!Artifacts.isBuilt(spark, path))
      writeClustered(
        Tables.lineitem(spark, dir)
          .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
            col("l_quantity"), col("l_extendedprice"), col("l_discount"),
            col("l_shipdate").cast("timestamp").cast("long").as("ship_sec")),
        n, path, col("ship_sec"), col("l_orderkey"))
    path
  }

  /** One-time z-ordered copy of lineitem, Morton-clustered on
    * (l_partkey, l_suppkey). The z-value is layout-only: used as the
    * range/sort key, then dropped before the write so readers see the
    * plain schema. */
  def ensureZOrdered(spark: SparkSession, dir: String): String = {
    val n = numFilesFor(spark, dir, Seq("lineitem"))
    val path = loc(spark, "zorder", dir, n)
    if (!Artifacts.isBuilt(spark, path)) {
      val zv = zorderScaledCol(Tables.lineitem(spark, dir), "l_partkey", "l_suppkey")
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"),
          zv.as("zv"))
        .repartitionByRange(n, col("zv"))
        .sortWithinPartitions(col("zv"))
        .drop("zv") // projection after the sort keeps row order; schema stays plain
        .write.mode("overwrite").parquet(path)
    }
    path
  }

  /** q62: one month's daily shipment revenue read from the range-clustered
    * copy. The shipdate predicate prunes to the files/row-groups whose
    * min/max overlap January 1996 — at 100 TB a ~1/72 slice of the table
    * is also ~1/72 of the I/O. */
  def shipdateRangeRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.parquet(spark, ensureRangeClustered(spark, dir))
      .where(col("ship_sec") >= lit(epochSec("1996-01-01")) &&
        col("ship_sec") < lit(epochSec("1996-02-01")))
      .groupBy(col("ship_sec"))
      .agg(
        count(lit(1)).as("n_items"),
        Det.dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), Det.D28_10)
          .as("revenue"))
      .orderBy("ship_sec")

  /** q63: supplier-level stats for a (part-range × supplier-range) slice
    * read from the z-ordered copy. BOTH predicates prune row groups —
    * the multi-dimensional selling point a shipdate- or partkey-sorted
    * layout cannot offer the second column. */
  def zorderSliceStats(spark: SparkSession, dir: String,
                       partLo: Int = 100, partHi: Int = 299,
                       suppLo: Int = 10, suppHi: Int = 29): DataFrame =
    Tables.parquet(spark, ensureZOrdered(spark, dir))
      .where(col("l_partkey").between(partLo, partHi) && col("l_suppkey").between(suppLo, suppHi))
      .groupBy(col("l_suppkey"))
      .agg(
        count(lit(1)).as("n_items"),
        Det.dsum(col("l_quantity")).as("sum_qty"),
        Det.dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), Det.D28_10)
          .as("revenue"))
      .orderBy("l_suppkey")
}
