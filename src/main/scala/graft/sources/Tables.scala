package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet table loaders for the driver's test tables (TESTDATA.md).
  *
  * The reference engine's only source is a line-delimited text file
  * (reference StreamingJob.scala:85); this engine generalizes to columnar
  * parquet scans so Catalyst can push filters and prune columns down to
  * the file reader — the scan strategy that survives a 100 TB dataset.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    require(names.contains(name), s"unknown table: $name")
    parquet(spark, path(sfDir, name))
  }

  /** Where table `name` of `sfDir` lives. */
  def path(sfDir: String, name: String): String = s"$sfDir/$name.parquet"

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** The driver's events.ts is parquet TIMESTAMP(NANOS), which vanilla
    * Spark 4 refuses to read; read it as a nanos BIGINT (legacy conf) and
    * truncate to a proper TimestampType column at microsecond precision —
    * the same truncation DuckDB's epoch_us applies, keeping the oracle
    * aligned. Files that already carry micro-precision timestamps (any
    * non-driver writer) pass through unchanged. */
  def events(s: SparkSession, d: String): DataFrame = {
    // session-conf write guarded so repeated loads don't churn a global
    // (the conf must be set before the scan is PLANNED, which is why it
    // lives here and not in each entrypoint's builder)
    if (s.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true")
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      // an events table written back by another engine (DuckDB, plain
      // Spark writes) may carry TIMESTAMP_NTZ; normalize to an instant so
      // downstream unix_micros()/watermarks type-check. Session TZ is
      // pinned to UTC, so the cast is exact, not a guess.
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** The one parquet read path: a read of the parquet file set at `path`
    * that runs the schema-inference job only on the first call. Inference
    * reads a footer in a Spark job (about 40 ms locally) while the
    * DataFrame is still being built; a read with a known schema lists the
    * files and starts no job. Only the inferred schema is remembered, never a
    * DataFrame: each call gets a fresh file listing and fresh column ids,
    * so two reads of one path can still be self-joined.
    *
    * The memo key holds everything inference reads:
    *  - the qualified path;
    *  - the recursive file listing as (relative name, length, mtime),
    *    taken through the Hadoop FileSystem (no job; about 0.01 ms for one
    *    local file, 1.6 ms for a 30-partition directory);
    *  - the session's explicitly set `spark.sql.parquet.*` and
    *    `spark.sql.legacy.parquet.*` confs (binaryAsString,
    *    int96AsTimestamp, inferTimestampNTZ.enabled, nanosAsLong,
    *    mergeSchema, ...), `spark.sql.caseSensitive` and
    *    `spark.sql.files.ignoreCorruptFiles`.
    * A footer lives inside its file, so a changed schema needs a changed
    * file. Spark's writers name every part file after the write job, so a
    * rewrite at the same path lists new names; any other writer changes a
    * length or an mtime. The one case served stale is an in-place rewrite
    * of a file that keeps its name, its length and its mtime to the
    * millisecond. A path that cannot be listed is read as before, so a
    * missing path fails with Spark's own error. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val key = fileSetKey(spark, path)
    key.flatMap(k => Option(schemas.get(k))) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        key.foreach { k =>
          if (schemas.size >= MaxSchemas) schemas.clear()
          schemas.put(k, df.schema)
        }
        df
    }
  }

  /** What a read of a parquet file set depends on: the key of [[parquet]]'s
    * schema memo, and of anything else derived once per file set (q103's
    * learned BPE merges). */
  private[graft] final case class FileSetKey(path: String, files: Seq[(String, Long, Long)],
      conf: Seq[(String, String)])

  /** `path`'s [[FileSetKey]], or None for a path that cannot be listed. */
  private[graft] def fileSetKey(spark: SparkSession, path: String): Option[FileSetKey] = try {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val root = fs.makeQualified(p)
    val prefix = root.toUri.getPath
    // getFileStatus/listStatus, not listFiles: a LocatedFileStatus reads
    // each file's permissions, which the local FileSystem gets by forking
    // a process per file
    def walk(st: org.apache.hadoop.fs.FileStatus): Seq[(String, Long, Long)] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(walk)
      else Seq((st.getPath.toUri.getPath.stripPrefix(prefix), st.getLen, st.getModificationTime))
    val conf = spark.conf.getAll.toSeq.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") ||
        k == "spark.sql.caseSensitive" || k == "spark.sql.files.ignoreCorruptFiles"
    }.sorted
    Some(FileSetKey(root.toString, walk(fs.getFileStatus(root)).sorted, conf))
  } catch { case _: java.io.FileNotFoundException => None }

  /** Entries kept before the memo starts over; a streaming job that reads
    * one new path per batch would otherwise grow it without end. */
  private val MaxSchemas = 1024
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[FileSetKey, org.apache.spark.sql.types.StructType]()
}
