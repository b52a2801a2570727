package graft

import org.apache.spark.sql.SparkSession

/** The local Spark session every main runs on, sized from the host:
  * `SPARK_GRAFT_CPUS` cores if set, else every available processor, with
  * as many shuffle partitions as cores. It pins the UTC session time zone
  * (the NTZ-as-UTC convention of [[Tables.events]]), loads the engine's SQL
  * extensions, turns the UI off and logs at WARN. `conf` entries are set
  * last, so they override these.
  */
object LocalSession {

  def cores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(conf: (String, String)*): SparkSession = {
    val defaults = Seq(
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.extensions" -> "graft.GraftExtensions",
      "spark.ui.enabled" -> "false")
    val spark = (defaults ++ conf)
      .foldLeft(SparkSession.builder().master(s"local[$cores]")) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
