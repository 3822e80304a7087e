package graft

import org.scalatest.funsuite.AnyFunSuite

/** Executable pin for the committed adjudication tooling: the canary
  * table must keep rendering from the git history, or BENCH_r{N} loses
  * its mechanical noise-vs-regression read. Cancels (not fails) where
  * python3 or the git checkout is unavailable. */
class ToolingSpec extends AnyFunSuite {

  test("canary_table.py renders the committed adjudication history") {
    import scala.sys.process._
    val python = try { Seq("python3", "--version").! == 0 } catch { case _: Throwable => false }
    assume(python, "python3 unavailable on this rig")
    assume(new java.io.File(".git").exists, "not running from a git checkout")
    // a shallow/fresh clone has .git but not the driver-round history the
    // table renders from — cancel (rig precondition), don't fail the suite
    val verdictCommits = try {
      Seq("git", "log", "--format=%s", "--", "BENCH_FULL.json").!!
        .linesIterator.count(s => s.startsWith("round ") && s.contains("verdict"))
    } catch { case _: Throwable => 0 }
    assume(verdictCommits >= 4,
      s"only $verdictCommits driver-round commits touch BENCH_FULL.json (shallow clone?)")
    val out = Seq("python3", "tools/canary_table.py").!!
    assert(out.linesIterator.count(_.startsWith("| round")) >= 4,
      s"expected at least the r5-r8 driver rows:\n$out")
    val header = out.linesIterator.next()
    Seq("canary", "ratio", "artifact reads", "fast-floor", "adjudication").foreach(c =>
      assert(header.contains(c), s"header lost the '$c' column:\n$header"))
    // the amended clause (b) must keep adjudicating the two recorded
    // degraded driver rounds mechanically: r8 (pure-ratio pass) and r9
    // (the 4 ms edge the floor+0.25s absolute-noise term absorbs)
    Seq("round 8", "round 9").foreach { r =>
      val row = out.linesIterator.find(_.startsWith(s"| $r"))
      assert(row.exists(_.contains("rig-attributed")),
        s"$r must read rig-attributed from the table:\n$out")
    }
  }

  test("bench setup list: every entry is a registered query; the canary family stays timed") {
    val qs = SparkEntry.queries.keySet
    val stale = Bench.SetupQueries.filterNot(qs.contains)
    assert(stale.isEmpty, s"setup entries no longer in SparkEntry.queries: $stale")
    assert(Bench.SetupQueries.distinct === Bench.SetupQueries, "duplicate setup entries")
    // the canary's adjudication history prices its own corpus build —
    // provisioning it untimed would silently re-anchor the rig meter
    val canaryFamily = Set("q37_clf_parse", "q37b_clf_parse_volume",
      "q38_clf_dead_letters", "q38b_clf_dead_letters_volume")
    assert(Bench.SetupQueries.forall(n => !canaryFamily.contains(n)),
      "canary-family queries must never enter the untimed setup pass")
  }

  test("floor table: keyed exactly by the gated surface, sane values, canary-consistent") {
    val qs = SparkEntry.queries.keySet
    val stale = BenchFloors.Floors.keySet.filterNot(qs.contains)
    assert(stale.isEmpty, s"floors for queries no longer gated — drop them: $stale")
    val missing = qs.filterNot(BenchFloors.Floors.contains)
    assert(missing.isEmpty,
      s"gated queries without a recorded floor — measure at sf0.1 and add to BenchFloors " +
        s"(else floor_sum_ratio silently under-covers): $missing")
    // every recorded warm floor in the suite's history is <= ~2.2 s except
    // the canary's own 1.3-1.4 s and the two deliberate salt demos; a floor
    // outside (0, 5] is a mining error, not a measurement
    BenchFloors.Floors.foreach { case (q, v) =>
      assert(v > 0 && v <= 5.0, s"floor for $q out of band: $v")
    }
    // the canary's floor and its re-anchored Bench anchor must stay the
    // same number (both are "best recorded healthy warm min at the
    // current workload") — if one moves without the other, the floor
    // table and the canary are adjudicating against different histories
    assert(math.abs(BenchFloors.Floors("q37b_clf_parse_volume") - 1.342) < 0.05,
      "canary floor drifted from the r15 re-anchor evidence")
  }

  test("capture hygiene: a strictly-worse same-surface capture never displaces the canonical") {
    def cap(total: Double, qs: Seq[String], sf: String = "/root/testdata/sf0.1") =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":""" +
        qs.map(q => s""""$q":1.0""").mkString("{", ",", "}") + s""","sf":"$sf"}"""
    val qs = Seq("q1_a", "q2_b")
    assert(!Bench.shouldDisplace(cap(100.0, qs), cap(120.0, qs)),
      "worse same-surface run displaced the canonical — the r15 regression is back")
    assert(!Bench.shouldDisplace(cap(100.0, qs), cap(100.0, qs)),
      "equal-total run should keep the prior (no churn)")
    assert(Bench.shouldDisplace(cap(100.0, qs), cap(90.0, qs)), "better run must displace")
    assert(Bench.shouldDisplace(cap(100.0, qs), cap(120.0, qs :+ "q3_c")),
      "surface change must displace (canonical tracks the current surface)")
    assert(Bench.shouldDisplace(cap(100.0, qs), cap(120.0, qs, sf = "/root/testdata/sf0.01")),
      "sf change must displace")
    assert(Bench.shouldDisplace("not json at all", cap(120.0, qs)),
      "unparseable prior must fail open")
  }

  /** Every `.scala` file under `dir`, as (file, its lines). */
  private def scalaSources(dir: String): List[(java.nio.file.Path, Seq[String])] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    assert(java.nio.file.Files.isDirectory(root), s"no ${root.toAbsolutePath}")
    val walk = java.nio.file.Files.walk(root)
    val files = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    files.map(f => f -> java.nio.file.Files.readAllLines(f).asScala.toSeq)
  }

  test("artifact paths: only sources/Artifacts.scala names the warehouse or sanitizes a dir") {
    val sources = scalaSources("src/main")
    assert(sources.exists(_._1.endsWith("sources/Artifacts.scala")))
    val drift = for {
      (f, lines) <- sources if !f.endsWith("sources/Artifacts.scala")
      (line, i) <- lines.zipWithIndex
      if line.contains("Warehouse") || line.contains("[^A-Za-z0-9]")
    } yield s"$f:${i + 1}: ${line.trim}"
    if (drift.nonEmpty) fail("build artifact paths with graft.sources.Artifacts.path/" +
      s"persisted/bucketedTables, not by hand:\n${drift.mkString("\n")}")
  }

  test("derived values: only sources/Tables.scala memoizes, only Artifacts.entries lists java.io.File") {
    val sources = scalaSources("src/main")
    assert(sources.exists(_._1.endsWith("sources/Tables.scala")))
    def drift(allowed: Seq[String], banned: Seq[String]) = for {
      (f, lines) <- sources if !allowed.exists(f.endsWith)
      (line, i) <- lines.zipWithIndex
      if banned.exists(line.contains)
    } yield s"$f:${i + 1}: ${line.trim}"
    val maps = drift(Seq("sources/Tables.scala", "operators/Diagnostics.scala"),
      Seq("TrieMap", "ConcurrentHashMap"))
    if (maps.nonEmpty) fail("remember values derived from input tables with " +
      s"graft.sources.Tables.remember, not in a map of their own:\n${maps.mkString("\n")}")
    val listings = drift(Seq("sources/Artifacts.scala"), Seq("listFiles", ".list()", "lastModified"))
    if (listings.nonEmpty) fail("list input files with graft.sources.Tables.fileSetKey (the Hadoop " +
      s"FileSystem), not java.io.File:\n${listings.mkString("\n")}")
  }

  test("streaming state: src/main/scala/graft/streaming touches no file and adds no listener") {
    val sources = scalaSources("src/main/scala/graft/streaming")
    assert(sources.nonEmpty)
    val banned = Seq("java.io.File", "java.nio.file", "streams.addListener")
    val drift = for {
      (f, lines) <- sources
      (line, i) <- lines.zipWithIndex
      if banned.exists(line.contains)
    } yield s"$f:${i + 1}: ${line.trim}"
    if (drift.nonEmpty) fail("keep streaming state in the query's checkpoint (Spark's state " +
      s"store), not in files or listeners of its own:\n${drift.mkString("\n")}")
  }
}
