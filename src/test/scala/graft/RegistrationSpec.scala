package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import graft.functions.GraftExtensions
import graft.plans.StreamedProjectBarrierExec

/** The extension is the only way functions and rules get registered: a
  * factory session has everything it installs, and the SQL-text queries
  * reject a session built without it before any job runs. */
class RegistrationSpec extends SparkSpec {

  private val sqlTextQueries =
    Seq("q101_sql_simhash_pairs", "q102_sql_knn_brute", "q114_sql_run_collapse")

  test("a factory session resolves every graft function and plans q102's BNLJ barrier") {
    GraftExtensions.functions.foreach { case (ident, _, _) =>
      assert(spark.catalog.functionExists(ident.funcName), ident.funcName)
    }
    GraftExtensions.requireInstalled(spark)
    val q102 = SparkEntry.queries("q102_sql_knn_brute")(spark, sf0001)
    q102.collect()
    assert(allPlanNodes(q102.queryExecution.executedPlan)
      .exists(_.isInstanceOf[StreamedProjectBarrierExec]), q102.queryExecution.executedPlan)
  }

  test("a session built without the extension fails the SQL-text queries before any job runs") {
    val sc = spark.sparkContext
    val group = "registration-check"
    val jobGroups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobGroups.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    sc.addSparkListener(listener)
    val bare = SparkSession.builder().create()
    try {
      sc.setJobGroup(group, group)
      for (q <- sqlTextQueries) {
        val e = intercept[IllegalStateException](SparkEntry.queries(q)(bare, sf0001).collect())
        val missing = GraftExtensions.functions.map(_._1.funcName) ++
          Seq("graft.plans.RewriteTokenCount", "graft.plans.InsertBnljStreamBarrier")
        missing.foreach(m => assert(e.getMessage.contains(m), s"$q: ${e.getMessage}"))
      }
      // listener events arrive in order: once a later job is seen, any job
      // the checks above started has been seen too
      sc.setJobGroup("sentinel", "sentinel")
      spark.range(1).collect()
      val deadline = System.nanoTime() + 30000000000L
      while (!jobGroups.contains("sentinel") && System.nanoTime() < deadline) Thread.sleep(20)
      assert(jobGroups.contains("sentinel"))
      assert(!jobGroups.contains(group), "a job ran before the session was rejected")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }
}
