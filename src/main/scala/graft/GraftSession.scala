package graft

import org.apache.spark.sql.SparkSession

import graft.plans.GraftExtensions

/** The one SparkSession factory every graft entry point uses, so their
  * settings cannot drift apart:
  *  - [[GraftExtensions]] through the builder: the SQL functions and
  *    the `SpatialFilterPushdown` optimizer rule;
  *  - master `SPARK_MASTER`, else `local[cores]`;
  *  - AQE on, shuffle partitions = cores, UTC session time zone, no UI;
  *  - `spark.local.dir` under the [[Scratch]] root.
  *
  * Cores are `SPARK_GRAFT_CPUS`, else every processor the JVM sees.
  * Builder-time settings (extensions, master, local dir) only apply when
  * no session exists yet; `getOrCreate` then returns that one session.
  */
object GraftSession {

  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def getOrCreate(): SparkSession = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cores]"))
      .withExtensions(new GraftExtensions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", Scratch.dir("spark"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
