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
    * that runs the schema-inference job (a footer read, about 40 ms
    * locally) only on the first call. Only the schema is remembered, never
    * a DataFrame, so each call gets fresh column ids and two reads of one
    * path can be self-joined. It is [[remember]]ed under the file set and
    * what else inference reads: the session's explicitly set
    * `spark.sql.parquet.*` and `spark.sql.legacy.parquet.*` confs,
    * `spark.sql.caseSensitive` and `spark.sql.files.ignoreCorruptFiles`.
    * A path that cannot be listed is read as before, so a missing path
    * fails with Spark's own error. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.conf.getAll.toSeq.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") ||
        k == "spark.sql.caseSensitive" || k == "spark.sql.files.ignoreCorruptFiles"
    }.sorted
    var inferred: DataFrame = null
    val schema = remember(spark, "schema", conf, Seq(path)) {
      inferred = spark.read.parquet(path)
      inferred.schema
    }
    if (inferred != null) inferred else spark.read.schema(schema).parquet(path)
  }

  /** The identity of a file set: its qualified path and its files as
    * (name, length, mtime in ms), sorted — a single file under its own
    * name, a directory's files, recursively, under their paths relative
    * to it. */
  private[graft] final case class FileSetKey(path: String, files: Seq[(String, Long, Long)])

  /** `path`'s [[FileSetKey]], listed through the Hadoop FileSystem that
    * owns `path` without a Spark job (about 0.01 ms for one local file,
    * 1.6 ms for a 30-partition directory); None for a path that cannot
    * be listed. */
  private[graft] def fileSetKey(spark: SparkSession, path: String): Option[FileSetKey] = try {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val root = fs.makeQualified(p)
    val prefix = root.toUri.getPath.stripSuffix("/") + "/"
    // getFileStatus/listStatus, not the located-status listing: a
    // LocatedFileStatus reads each file's permissions, which the local
    // FileSystem gets by forking a process per file
    def walk(st: org.apache.hadoop.fs.FileStatus): Seq[(String, Long, Long)] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(walk)
      else Seq((st.getPath.toUri.getPath.stripPrefix(prefix), st.getLen, st.getModificationTime))
    val top = fs.getFileStatus(root)
    Some(FileSetKey(root.toString, if (top.isDirectory) walk(top).sorted
      else Seq((root.getName, top.getLen, top.getModificationTime))))
  } catch { case _: java.io.FileNotFoundException => None }

  /** How many parts a layout copy of `tables` of `dir` is cut into: their
    * bytes (a missing table counts 0) over `targetBytes`, floored at the
    * core count so small inputs still use every core. */
  def partsFor(spark: SparkSession, dir: String, tables: Seq[String], targetBytes: Long): Int =
    math.max(spark.sparkContext.defaultParallelism,
      math.ceil(bytes(spark, dir, tables).toDouble / targetBytes).toInt)

  /** The bytes of `tables` of `dir`, by their [[FileSetKey]]s. */
  def bytes(spark: SparkSession, dir: String, tables: Seq[String]): Long =
    tables.flatMap(t => fileSetKey(spark, path(dir, t)).toSeq.flatMap(_.files)).map(_._2).sum

  /** The one memo of values derived from input tables (schemas, BPE
    * merges, persisted text models, unigram, IVF and PQ models, Bloom
    * filters). A value is kept under `name`, the caller's `params` and the
    * [[FileSetKey]]s of the `paths` it was read from, never the session's
    * confs; `inSession` adds the session that built it, for a value that
    * holds a DataFrame only that session may run.
    *
    * A changed file set (new part names, as every Spark write leaves, or
    * a new length or mtime) changes the key, so the value is derived
    * again — but first every entry read from an earlier listing of one of
    * its paths is dropped and its persisted DataFrame unpersisted, since
    * Spark's cache matches a plan over a path by the path alone. The one
    * case served stale is an in-place rewrite that keeps a file's name,
    * length and mtime to the millisecond. A path that cannot be listed is
    * derived afresh on every call. The [[MaxRemembered]] most recently
    * used entries (and the sessions in their keys) are kept; an evicted
    * persisted DataFrame is unpersisted. `build` runs outside the lock, so
    * two threads that miss together both build, and the first is kept. */
  private[graft] def remember[V](spark: SparkSession, name: String, params: Seq[Any],
      paths: Seq[String], inSession: Boolean = false)(build: => V): V = {
    val sources = paths.map(fileSetKey(spark, _))
    if (sources.contains(None)) build
    else {
      val key = MemoKey(name, params, sources.flatten, Option.when(inSession)(spark))
      memo.synchronized(Option(memo.get(key))) match {
        case Some(v) => v.asInstanceOf[V]
        case None =>
          val now = key.sources.map(s => s.path -> s.files).toMap
          drop(_.sources.exists(s => now.get(s.path).exists(_ != s.files)))
          val v = build
          memo.synchronized(Option(memo.putIfAbsent(key, v))) match {
            case Some(first) => release(v); first.asInstanceOf[V]
            case None => v
          }
      }
    }
  }

  /** Drops every remembered value of the kinds `names`, so the next call
    * derives it again. */
  private[graft] def forget(names: String*): Unit = drop(k => names.contains(k.name))

  private final case class MemoKey(name: String, params: Seq[Any], sources: Seq[FileSetKey],
      session: Option[SparkSession])

  /** Entries [[remember]] keeps. */
  private val MaxRemembered = 1024
  private val memo = new java.util.LinkedHashMap[MemoKey, Any](64, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[MemoKey, Any]): Boolean =
      size > MaxRemembered && { release(e.getValue); true }
  }

  private def drop(which: MemoKey => Boolean): Unit = {
    val dropped = memo.synchronized {
      val it = memo.entrySet.iterator
      val out = Seq.newBuilder[Any]
      while (it.hasNext) {
        val e = it.next()
        if (which(e.getKey)) { out += e.getValue; it.remove() }
      }
      out.result()
    }
    dropped.foreach(release)
  }

  private def release(v: Any): Unit = v match {
    case df: org.apache.spark.sql.Dataset[_] =>
      try df.unpersist() catch { case scala.util.control.NonFatal(_) => () }
    case _ =>
  }
}
