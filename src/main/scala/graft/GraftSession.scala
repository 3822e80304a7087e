package graft

import org.apache.spark.sql.SparkSession

/** The one place a program session is built: `local[cores]` with the
  * [[graft.functions.GraftExtensions]] installed, one shuffle partition
  * per core, UTC session time and no UI. Callers chain their own extras
  * before `getOrCreate()`:
  *
  * {{{
  *   val spark = GraftSession.builder(4).appName("job").getOrCreate()
  * }}} */
object GraftSession {
  def builder(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
}
