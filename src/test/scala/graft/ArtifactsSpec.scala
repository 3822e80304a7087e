package graft

import graft.sources.{Artifacts, Tables}

/** [[Artifacts.path]] reads its inputs through the Hadoop FileSystem
  * ([[Tables.fileSetKey]]) and still names every artifact of the shipped
  * tables as [[FingerprintReference]], the `java.io.File` form, does: a
  * warehouse built before keeps serving its artifacts, and none is built
  * twice under two names. */
class ArtifactsSpec extends SparkSpec {

  private val dirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1",
    new java.io.File("perfbench/tables").getAbsolutePath)

  test("every shipped table fingerprints as the java.io.File reference form does") {
    val present = dirs.filter(d => new java.io.File(d).isDirectory)
    assume(present.nonEmpty, "no shipped tables on this rig")
    for (dir <- present; t <- Tables.names) {
      assert(Artifacts.path(spark, dir, "parity", 7, Seq(t)) ===
        FingerprintReference.path(dir, "parity", 7, Seq(t)), s"$dir/$t")
    }
    for (dir <- present) {
      // several tables in one fingerprint, and a table the dir lacks
      Seq(Seq("orders", "lineitem"), Tables.names, Seq("documents", "no_such_table")).foreach { ts =>
        assert(Artifacts.path(spark, dir, "parity", 11, ts) ===
          FingerprintReference.path(dir, "parity", 11, ts), s"$dir: $ts")
      }
    }
  }

  test("the bucket, file and row-estimate sizes read the listing's lengths") {
    val lineitem = new java.io.File(sf0001, "lineitem.parquet").length
    assert(Tables.bytes(spark, sf0001, Seq("lineitem")) === lineitem)
    assert(Tables.bytes(spark, sf0001, Seq("lineitem", "no_such_table")) === lineitem)
    val cores = spark.sparkContext.defaultParallelism
    assert(Tables.partsFor(spark, sf0001, Seq("lineitem"), 1L << 30) === cores)
    assert(Tables.partsFor(spark, sf0001, Seq("lineitem"), 1000L) === math.max(cores,
      math.ceil(lineitem / 1000.0).toInt))
  }
}
