package graft

/** Mechanical completeness guard for [[Bench.SetupQueries]].
  *
  * The bench's untimed setup pass is only honest if it provisions EVERY
  * persisted artifact the timed surface would otherwise build mid-rep —
  * a future artifact-backed query added without a setup entry would
  * silently reintroduce the r9 rep-cap pathology (one-time build riding
  * a contention burst into a 2-rep minimum). This spec proves the list
  * complete by construction: on a FRESH copy of the sf0.001 tables
  * (fresh file identity ⇒ fresh fingerprints ⇒ every build-once gate
  * re-fires), running only the setup queries must create every
  * warehouse artifact that subsequently constructing the ENTIRE query
  * surface creates. All builds are eager (they run inside the query
  * function body, before any action), so construction alone triggers
  * them.
  *
  * The same run pins the artifact tree's names: every warehouse entry
  * and `graft_*` catalog table built for the copy is
  * `<name>_<dir key>_<12 hex fingerprint>`, and the `name`s are exactly
  * the lists below, so renaming, adding or dropping an artifact shows
  * here as a deliberate edit.
  */
class ProvisioningSpec extends SparkSpec {

  /** Every artifact the query surface persists under the warehouse,
    * the bucketed catalog tables' directories included. */
  private val ArtifactNames = Set(
    "aud_labels", "aud_norm_prefix_idx", "aud_norm_windows", "aud_pairs", "aud_prefix_idx",
    "aud_sig_idx", "aud_windows", "audpfx_pairs", "cell_reps", "cluster_labels_corpus",
    "containment_idx", "dsir_feats", "emb_pairs", "events_by_date", "img_ahash",
    "img_labels", "img_pairs", "ivf_model", "ivf_model_corpus8", "ivfpq_cand",
    "ivfpq_index", "ivfpq_index_v2", "knn_truth", "lineitem_b", "lineitem_by_shipdate_v2",
    "lineitem_zorder_v2", "lsh_bands", "lsh_pairs", "lsh_pairs_corpus", "lsh_pairs_xx",
    "media", "neardup_labels", "orders_b", "pair_stats", "pq_codes",
    "pq_model", "pq_model_corpus8", "price_quantiles_ex", "semdedup_labels", "shingle_digests",
    "span_digests", "span_rewrite", "vid_frames", "vid_labels", "vid_norm_frames",
    "vid_norm_prefix_idx", "vid_pairs", "vid_prefix_idx", "vid_sig_idx", "vidpfx_pairs")

  /** The bucketed catalog tables, by database. */
  private val TableNames = Map(
    "graft_bucketed" -> Set("orders_b", "lineitem_b"),
    "graft_lsh" -> Set("lsh_bands"))

  test("Bench.SetupQueries provisions every artifact the full query surface builds") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_prov").toFile
    val src = new java.io.File(sf0001)
    src.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      java.nio.file.Files.copy(f.toPath, new java.io.File(tmp, f.getName).toPath)
    }
    val dir = tmp.getAbsolutePath
    val sanitized = dir.replaceAll("[^A-Za-z0-9]", "_")
    val wh = new java.io.File(graft.sources.Artifacts.Warehouse)
    def entries(): Set[String] =
      Option(wh.list()).getOrElse(Array.empty[String]).filter(_.contains(sanitized)).toSet
    try {
      Bench.SetupQueries.foreach(n => SparkEntry.queries(n)(spark, dir))
      val afterSetup = entries()
      assert(afterSetup.nonEmpty, "setup queries built nothing — fingerprinting broke?")
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (_, fn) => fn(spark, dir) }
      val leaked = entries() -- afterSetup
      assert(leaked.isEmpty,
        s"artifacts built OUTSIDE the setup pass — add their builder query to " +
          s"Bench.SetupQueries or the one-time cost lands in a timed rep: $leaked")
      // the catalog lower-cases table names
      def names(built: Set[String], key: String): Set[String] = {
        val named = s"(.+)_${java.util.regex.Pattern.quote(key)}_[0-9a-f]{12}".r
        built.map {
          case named(n) => n
          case e => fail(s"artifact '$e' is not <name>_${key}_<12 hex>")
        }
      }
      def pin(got: Set[String], expected: Set[String], what: String): Unit =
        if (got != expected) fail(s"$what: unlisted ${got -- expected}, missing ${expected -- got}")
      pin(names(entries(), sanitized), ArtifactNames, "warehouse entries")
      TableNames.foreach { case (db, expected) =>
        val key = sanitized.toLowerCase
        val tables = spark.sql(s"SHOW TABLES IN $db").collect().map(_.getString(1))
          .filter(_.contains(key)).toSet
        pin(names(tables, key), expected, s"tables in $db")
      }
    } finally {
      cleanupWarehouseFor(dir)
      tmp.listFiles().foreach(_.delete()); tmp.delete()
    }
  }
}
