package graft

import graft.sources.Artifacts

/** Artifact paths as they were named when the fingerprint read its inputs
  * through `java.io.File` — the reference form that
  * [[graft.sources.Artifacts.path]] is held equal to (ArtifactsSpec), so
  * moving the listing onto the Hadoop FileSystem renames no artifact that
  * a warehouse already holds. A table is its `<table>.parquet` file, or
  * the direct children of that directory by name; each contributes
  * `name:length:mtime`, a missing table `<table>.parquet:0:0`. */
object FingerprintReference {

  def fingerprint(dir: String, tables: Seq[String], key: Int): String = {
    val files = tables.flatMap { t =>
      val f = new java.io.File(s"$dir/$t.parquet")
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName) else Seq(f)
    }
    val sig = files.map(f => s"${f.getName}:${f.length}:${f.lastModified}").mkString("|") +
      s"|b=$key"
    java.security.MessageDigest.getInstance("MD5")
      .digest(sig.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
  }

  def path(dir: String, name: String, key: Int, tables: Seq[String] = Seq("documents")): String =
    s"${Artifacts.Warehouse}/${name}_${Artifacts.dirKey(dir)}_${fingerprint(dir, tables, key)}"
}
