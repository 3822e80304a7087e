package graft

import java.nio.file.Files

/** The probe modes as functions over the shared session. `Probe.main`
  * is never called here: it stops the session it runs on. */
class ProbeSpec extends SparkSpec {

  test("Probe.plan writes one formatted plan per selected query") {
    val dir = Files.createTempDirectory("probe-plan")
    try {
      val written = Probe.plan(spark, sf0001, dir.toString, Seq("q1_busiest_user", "q33_knn_brute"))
      assert(written.map(_.getFileName.toString).toSet ===
        Set("q1_busiest_user.txt", "q33_knn_brute.txt"))
      written.foreach(f => assert(Files.readString(f).contains("== Physical Plan =="), f))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("Probe.plan masks the source line of every call site in the plan text") {
    assert(Probe.maskCallSites("MapPartitionsRDD[7] at localCheckpoint at Multimodal.scala:830") ===
      "MapPartitionsRDD[7] at localCheckpoint at Multimodal.scala:_")
    val dir = Files.createTempDirectory("probe-plan")
    try {
      val Seq(f) = Probe.plan(spark, sf0001, dir.toString, Seq("q148_video_prefix_incremental"))
      val text = Files.readString(f)
      assert(text.contains("localCheckpoint at Multimodal.scala:_"), text)
      assert("""\.scala:\d""".r.findFirstIn(text).isEmpty, text)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("Probe.plan masks the JVM identities of array literals and lambdas") {
    assert(Probe.maskCallSites("graft_ivf_assign(embedding#12, [[D@188467fe)") ===
      "graft_ivf_assign(embedding#12, [[D@_)")
    assert(Probe.maskCallSites(
      "MapPartitions graft.operators.Multimodal$$$Lambda$5244/0x00007fe1f13edbe0@337a9406") ===
      "MapPartitions graft.operators.Multimodal$$$Lambda/_@_")
    // expression ids and a literal with no class before its @ stay as written
    assert(Probe.maskCallSites("doc_id#42L, user @1f") === "doc_id#42L, user @1f")
  }

  test("Probe.ab reports row-identical sides and restores the session's settings") {
    val before = spark.conf.getOption("spark.graft.bnljBarrier")
    val r = Probe.ab(spark, sf0001, "q33_knn_brute",
      Probe.parseConf("spark.graft.bnljBarrier=false"), reps = 1)
    assert(r.rows > 0)
    assert(r.a.size === 1 && r.b.size === 1)
    assert(spark.conf.getOption("spark.graft.bnljBarrier") === before)
  }

  test("Probe rejects a static conf by name before any query runs") {
    val dir = Files.createTempDirectory("probe-plan")
    try {
      val (jobs, e) = jobsOf(intercept[IllegalArgumentException](Probe.ab(spark, sf0001,
        "q30_simhash", Probe.parseConf("spark.sql.codegen.cache.maxEntries=2000"), reps = 1)))
      assert(jobs.isEmpty, s"side A ran: ${stageNames(jobs).mkString(", ")}")
      assert(e.getMessage.contains("spark.sql.codegen.cache.maxEntries") &&
        e.getMessage.contains("static") && e.getMessage.contains("JVM flag"), e.getMessage)
      val p = intercept[IllegalArgumentException](Probe.plan(spark, sf0001, dir.toString,
        Seq("q1_busiest_user"), Probe.parseConf("spark.sql.warehouse.dir=/nowhere")))
      assert(p.getMessage.contains("spark.sql.warehouse.dir"), p.getMessage)
      assert(dir.toFile.list().isEmpty)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    // a Spark core conf is refused the same way, and a settable key before
    // it is left as it was
    val before = spark.conf.getOption("spark.graft.bnljBarrier")
    val (coreJobs, c) = jobsOf(intercept[IllegalArgumentException](Probe.ab(spark, sf0001,
      "q30_simhash", Probe.parseConf("spark.graft.bnljBarrier=false;spark.executor.memory=2g"),
      reps = 1)))
    assert(coreJobs.isEmpty, s"side A ran: ${stageNames(coreJobs).mkString(", ")}")
    assert(c.getMessage.contains("spark.executor.memory") && c.getMessage.contains("JVM flag"),
      c.getMessage)
    assert(spark.conf.getOption("spark.graft.bnljBarrier") === before)
  }

  test("Probe.ab fails fast on an unknown query") {
    val e = intercept[IllegalArgumentException](
      Probe.ab(spark, sf0001, "q0_no_such_query", Nil, reps = 1))
    assert(e.getMessage.contains("q0_no_such_query"))
  }
}
