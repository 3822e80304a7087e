package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.operators.{Dedup, Similarity, TextAnalysis}
import graft.sources.Tables

/** [[Tables.remember]] serves a derived value only while the file sets it
  * was read from are unchanged, and a DataFrame only to the session that
  * built it. */
class MemoSpec extends SparkSpec {

  /** Writes `df` as the one parquet file `<dir>/<table>.parquet`, the
    * shape of the shipped tables, replacing any file there the way a
    * writer other than Spark does: Spark's own overwrite of a path also
    * refreshes Spark's cache of that path, this does not. */
  private def put(df: DataFrame, dir: Path, table: String): Unit = {
    val staging = Files.createTempDirectory("memo-staging")
    try {
      df.coalesce(1).write.parquet(staging.resolve("t").toString)
      val part = staging.resolve("t").toFile.listFiles().find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, dir.resolve(s"$table.parquet"), StandardCopyOption.REPLACE_EXISTING)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(staging.toFile)
  }

  /** `dir`'s documents and embeddings: the sf0.001 rows whose id is not
    * `skip` mod 3. */
  private def putTables(dir: Path, skip: Int): Unit = {
    put(Tables.documents(spark, sf0001).where(col("doc_id") % 3 =!= skip), dir, "documents")
    put(Tables.embeddings(spark, sf0001).where(col("vec_id") % 3 =!= skip), dir, "embeddings")
  }

  /** Every value under test, derived from `dir`'s tables, in a form
    * compared by value. */
  private def derived(dir: String): Map[String, Any] = {
    val uni = TextAnalysis.unigramLearn(spark, dir, 1)
    Map(
      "trainIvfCentroids" -> Similarity.trainIvfCentroids(spark, dir).map(_.toSeq).toSeq,
      "trainPqCodebooks" -> Similarity.trainPqCodebooks(spark, dir).flatten.map(_.toSeq).toSeq,
      "corpusBloomBytes" -> Dedup.corpusBloomBytes(spark, dir).toSeq,
      "lm_unigram" -> TextAnalysis.lmSurprisalUnordered(spark, dir).collect().map(_.toString)
        .sorted.toSeq,
      "unigramLearn" -> (uni.vocab0, uni.keptMulti, uni.vocabF, uni.costsF))
  }

  /** Derives every value under test from `dir` again and returns the
    * ids of the Spark jobs that ran. */
  private def rederiveJobs(dir: String): Seq[Int] = jobsOf {
    Similarity.trainIvfCentroids(spark, dir)
    Similarity.trainPqCodebooks(spark, dir)
    Dedup.corpusBloomBytes(spark, dir)
    TextAnalysis.memoPersist(spark, dir, "lm_unigram")(fail("lm_unigram was built again"))
    TextAnalysis.lmSurprisalUnordered(spark, dir)
    TextAnalysis.unigramLearn(spark, dir, 1)
  }._1

  test("values derived from tables rewritten at the same path are derived again") {
    val dir = Files.createTempDirectory("graft-memo")
    val copy = Files.createTempDirectory("graft-memo-copy")
    try {
      putTables(dir, 0)
      val before = derived(dir.toString)
      val warm = rederiveJobs(dir.toString)
      assert(warm.isEmpty, s"untouched tables ran ${stageNames(warm).mkString(", ")}")
      putTables(dir, 1)
      val after = derived(dir.toString)
      // the same rows under a path nothing was derived from yet
      Seq("documents", "embeddings").foreach(t =>
        Files.copy(dir.resolve(s"$t.parquet"), copy.resolve(s"$t.parquet")))
      val fresh = derived(copy.toString)
      val unchanged = fresh.keys.filter(k => fresh(k) == before(k))
      assert(unchanged.isEmpty, s"the rewrite must change every derived value: $unchanged")
      val stale = fresh.keys.filter(k => after(k) != fresh(k))
      assert(stale.isEmpty, s"rewritten tables were served the old values of $stale")
      val again = rederiveJobs(dir.toString)
      assert(again.isEmpty, s"untouched tables ran ${stageNames(again).mkString(", ")}")
    } finally {
      Tables.forget(TextAnalysis.PersistedModels, TextAnalysis.UnigramModels)
      Seq(dir, copy).foreach { d =>
        cleanupWarehouseFor(d.toString)
        org.apache.commons.io.FileUtils.deleteDirectory(d.toFile)
      }
    }
  }

  test("a DataFrame-valued entry is served only to the session that built it") {
    val other = spark.newSession()
    val mine = TextAnalysis.memoPersist(spark, sf0001, "memo_spec")(
      Tables.documents(spark, sf0001).select("doc_id"))
    try {
      assert(TextAnalysis.memoPersist(spark, sf0001, "memo_spec")(fail("built twice")) eq mine)
      val theirs = TextAnalysis.memoPersist(other, sf0001, "memo_spec")(
        Tables.documents(other, sf0001).select("doc_id"))
      assert(theirs.sparkSession eq other)
      assert(TextAnalysis.unigramLearn(other, sf0001, 1).used.sparkSession eq other)
      assert(TextAnalysis.unigramLearn(spark, sf0001, 1).used.sparkSession eq spark)
    } finally Tables.forget(TextAnalysis.PersistedModels, TextAnalysis.UnigramModels)
  }
}
