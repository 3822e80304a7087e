package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The build-once gate shared by every persisted derived artifact (LSH
  * band index, cluster labels, IVF model tables, span digests, portable
  * LSH pairs, clustered/partitioned layout copies, the CLF corpus).
  *
  * The only way into the artifact tree:
  *  - [[path]] names an artifact: `<Warehouse>/<name>_<dir key>_<fingerprint>`;
  *  - [[persisted]] is the check-then-write step for a plain parquet
  *    artifact at that path. An artifact with its own writer (several
  *    tables, partitioned, collected to the driver) takes [[path]] and
  *    gates on [[isBuilt]] itself;
  *  - [[bucketedTables]] is the same step for bucketed catalog tables,
  *    whose databases are located at [[Warehouse]];
  *  - [[entries]] lists what is built for a source dir.
  *
  * The probe resolves `path/_SUCCESS`, and [[fingerprint]] lists the
  * inputs ([[Tables.fileSetKey]]), through the Hadoop FileSystem API with
  * the session's Hadoop configuration, so both hold on whatever
  * filesystem the warehouse and inputs live on — `file://` locally,
  * `hdfs://` or an object store (`s3a://`, ...) in a cluster deployment.
  * [[entries]], a listing for tools and specs, reads local disk only.
  *
  * Contract (single-writer check-then-write, documented once here for
  * all call sites):
  *  - the check and the write are NOT atomic — two sessions racing can
  *    both miss and both build. Every artifact behind this gate is
  *    bit-deterministic from its fingerprinted inputs, so the race
  *    costs a wasted write, never wrong content;
  *  - `_SUCCESS` is written last by Spark's output committer, so a torn
  *    write (crash mid-build) leaves no marker and the next caller
  *    rebuilds;
  *  - staleness is handled by the PATH, not the marker:
  *    [[fingerprint]] keys the path by source-file identity (name,
  *    length, mtime) and the operator's shape constants, so changed
  *    inputs land at a new path and the orphaned old artifact is never
  *    read again. The one input change it misses is an in-place rewrite
  *    that keeps a file's name, length and mtime to the millisecond.
  *    Changed CODE with unchanged constants would serve the
  *    old artifact — the DuckDB oracle re-derives every query from
  *    scratch each verify run, so a stale artifact fails the hash gate
  *    loudly instead of passing silently.
  */
object Artifacts {

  /** Root of every persisted derived artifact (and the `graft_*`
    * databases' LOCATION). One definition so a deployment relocates the
    * whole artifact tree — e.g. onto `s3a://bucket/graft` — by changing
    * one constant; every probe/delete in this object already resolves
    * through the owning FileSystem, so nothing else assumes local disk.
    * Read on every call, never copied.
    */
  val Warehouse = "/tmp/graft_warehouse"

  /** `dir` as it appears in artifact and table names: every character
    * outside `[A-Za-z0-9]` becomes `_`. The fingerprint next to it keeps
    * dirs that sanitize alike ('sf0.1' vs 'sf0_1') apart. */
  def dirKey(dir: String): String = dir.replaceAll("[^A-Za-z0-9]", "_")

  private def entry(dir: String, name: String, fp: String): String =
    s"${name}_${dirKey(dir)}_$fp"

  /** Path of the artifact `name` derived from `tables` of `dir`:
    * `<Warehouse>/<name>_<dir key>_<fingerprint>`, the fingerprint salted
    * with `key`. */
  def path(spark: SparkSession, dir: String, name: String, key: Int,
      tables: Seq[String] = Seq("documents")): String =
    Warehouse + "/" + entry(dir, name, fingerprint(spark, dir, tables, key))

  /** Fingerprint of `tables` of `dir`, salted with `key`: 6 bytes of the
    * MD5 of `name:length:mtime` of each table's files (a missing table is
    * `<table>.parquet:0:0`) joined by `|`, then `|b=<key>`. It keeps dirs
    * that sanitize alike ('sf0.1' vs 'sf0_1') apart, and never reads the
    * session's confs, so a path does not depend on session history. */
  private[graft] def fingerprint(spark: SparkSession, dir: String, tables: Seq[String],
      key: Int): String = {
    val sig = tables.flatMap(t => Tables.fileSetKey(spark, Tables.path(dir, t))
        .fold(Seq((s"$t.parquet", 0L, 0L)))(_.files))
      .map { case (name, len, mtime) => s"$name:$len:$mtime" }
      .mkString("|") + s"|b=$key"
    java.security.MessageDigest.getInstance("MD5")
      .digest(sig.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
  }

  /** The build-once step for one parquet artifact at [[path]]: writes
    * `build` unless the artifact is built, then reads it. */
  def persisted(spark: SparkSession, dir: String, name: String, key: Int,
      tables: Seq[String] = Seq("documents"))(build: => DataFrame): DataFrame = {
    val p = path(spark, dir, name, key, tables)
    if (!isBuilt(spark, p)) build.write.mode("overwrite").parquet(p)
    Tables.parquet(spark, p)
  }

  /** The build-once step for bucketed catalog tables in database `db`,
    * located at [[Warehouse]]. Each `(name, keys, build)` becomes the
    * table `db.<name>_<dir key>_<fingerprint>`, the fingerprint taken
    * over `sources` of `dir` and salted with `numBuckets`, and `build` is
    * written bucketed and sorted by `keys`, one sorted file per bucket.
    * The in-memory catalog forgets tables between JVMs while their files
    * persist, so a table missing from the catalog first has its stale
    * directory cleared (the write is deterministic, so this is a cache
    * rebuild). Returns the qualified table names in order. */
  def bucketedTables(spark: SparkSession, db: String, dir: String, sources: Seq[String],
      numBuckets: Int)(tables: (String, Seq[String], () => DataFrame)*): Seq[String] = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$Warehouse'")
    val fp = fingerprint(spark, dir, sources, numBuckets)
    tables.map { case (name, keys, build) =>
      val e = entry(dir, name, fp)
      val table = s"$db.$e"
      if (!spark.catalog.tableExists(table)) {
        deleteIfExists(spark, s"$Warehouse/$e")
        build().repartition(numBuckets, keys.map(col): _*)
          .write.mode("overwrite").format("parquet")
          .bucketBy(numBuckets, keys.head, keys.tail: _*).sortBy(keys.head, keys.tail: _*)
          .saveAsTable(table)
      }
      table
    }
  }

  /** The local warehouse entries whose names carry `dir`'s key. */
  def entries(dir: String): Seq[java.io.File] =
    Option(new java.io.File(Warehouse).listFiles()).toSeq.flatten
      .filter(_.getName.contains(dirKey(dir)))

  /** True iff `path/_SUCCESS` exists on the FileSystem owning `path`. */
  def isBuilt(spark: SparkSession, path: String): Boolean = {
    val marker = new org.apache.hadoop.fs.Path(path, "_SUCCESS")
    marker.getFileSystem(spark.sessionState.newHadoopConf()).exists(marker)
  }

  /** Recursively delete `path` if present — the stale-directory sweep
    * before a `saveAsTable` whose catalog entry is gone but whose files
    * survived (e.g. a dropped metastore with an intact warehouse).
    * Resolved through the owning FileSystem for the same reason as
    * [[isBuilt]]; `FileSystem.delete` on a missing path is already a
    * no-op, so no existence probe (one round-trip, no check-then-act
    * window on an object store).
    */
  def deleteIfExists(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
  }
}
