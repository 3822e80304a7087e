package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{BinaryType, StringType}

import graft.sources.{Artifacts, Sinks, Tables}

/** [[Tables.parquet]] serves a remembered schema only while every input of
  * schema inference is unchanged: the path, its files and the parquet
  * confs. Each case reads through the memo twice, so the second read is
  * the memo's, and holds it to a fresh `spark.read.parquet`. */
class SchemaMemoSpec extends SparkSpec {

  private def analyzed(df: DataFrame): String =
    df.queryExecution.analyzed.toString.replaceAll("#\\d+", "#_")

  private def memoized(path: String): DataFrame = {
    Tables.parquet(spark, path)
    Tables.parquet(spark, path)
  }

  private def assertLikeFresh(path: String): Unit = {
    val memo = memoized(path)
    val fresh = spark.read.parquet(path)
    assert(memo.schema === fresh.schema, s"schema of $path")
    assert(analyzed(memo) === analyzed(fresh), s"analyzed plan of $path")
  }

  private def withTempDir[T](f: Path => T): T = {
    val dir = Files.createTempDirectory("schema-memo")
    try f(dir) finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("every sf0.001 table and every sf0.001 artifact reads as a fresh read does") {
    // the events table of some fixtures is TIMESTAMP(NANOS), which only
    // this conf makes readable; Tables.events sets it the same way
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.names.foreach(t => assertLikeFresh(s"$sf0001/$t.parquet"))
    // one partitioned artifact at least, whatever the earlier specs built
    Sinks.ensurePartitionedEvents(spark, sf0001)
    val key = sf0001.replaceAll("[^A-Za-z0-9]", "_")
    val artifacts = Files.walk(java.nio.file.Paths.get(Artifacts.Warehouse)).toArray
      .map(_.asInstanceOf[Path])
      .filter(d => d.toString.contains(key) && Files.exists(d.resolve("_SUCCESS")))
      .filter(d => Files.walk(d).toArray.exists(_.toString.endsWith(".parquet")))
    assert(artifacts.exists(d => Files.list(d).toArray.exists(_.toString.contains("="))),
      "a partitioned artifact must be among them")
    artifacts.foreach(d => assertLikeFresh(d.toString))
  }

  test("a rewrite at the same path with a different column set is read as written") {
    withTempDir { dir =>
      val path = s"$dir/t"
      spark.range(5).selectExpr("id", "CAST(id AS STRING) AS s").write.parquet(path)
      assert(memoized(path).columns.toSeq === Seq("id", "s"))
      spark.range(3).selectExpr("id * 2 AS k", "CAST(id AS DOUBLE) * 0.5 AS d").write.mode("overwrite").parquet(path)
      val again = Tables.parquet(spark, path)
      assert(again.schema === spark.read.parquet(path).schema)
      assert(again.collect().map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq ===
        Seq((0L, 0.0), (2L, 0.5), (4L, 1.0)))
    }
  }

  /** Writes `file` with the parquet `message` schema and no Spark schema
    * in its footer, as writers other than Spark leave it; `row` fills the
    * i-th of three rows. */
  private def writeParquet(file: String, message: String)
      (row: (org.apache.parquet.example.data.Group, Int) => Unit): Unit = {
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(message)
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(file))
      .withType(schema).withConf(spark.sessionState.newHadoopConf()).build()
    val rows = new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
    try (0 until 3).foreach { i => val g = rows.newGroup(); row(g, i); writer.write(g) }
    finally writer.close()
  }

  test("two paths with equal file listings keep their own schemas") {
    withTempDir { dir =>
      // same file names, lengths and mtimes; only the column name differs
      Seq("a", "b").foreach(c =>
        writeParquet(s"$dir/$c/part-0.parquet", s"message t { required int64 $c; }")(
          (g, i) => g.append(c, i.toLong)))
      Files.walk(dir).toArray.map(_.asInstanceOf[Path]).filter(Files.isRegularFile(_))
        .foreach(f => assert(f.toFile.setLastModified(1700000000000L)))
      Seq("a", "b").foreach { c =>
        assert(memoized(s"$dir/$c").columns.toSeq === Seq(c))
        assertLikeFresh(s"$dir/$c")
      }
    }
  }

  test("spark.sql.parquet.binaryAsString is honoured on each setting") {
    withTempDir { dir =>
      // inference reads the conf only for a footer without Spark's schema
      writeParquet(s"$dir/t/part-0.parquet", "message t { required int64 id; optional binary payload; }")(
        (g, i) => g.append("id", i.toLong).append("payload", s"p$i"))
      val path = s"$dir/t"
      val key = "spark.sql.parquet.binaryAsString"
      val before = spark.conf.getOption(key)
      try Seq("false" -> BinaryType, "true" -> StringType, "false" -> BinaryType).foreach {
        case (v, expected) =>
          spark.conf.set(key, v)
          assertLikeFresh(path)
          assert(Tables.parquet(spark, path).schema("payload").dataType === expected, s"$key=$v")
      } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }
}
