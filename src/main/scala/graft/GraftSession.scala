package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession builder of every graft entry point: `local[n]`
  * with `n` shuffle partitions, [[graft.functions.GraftExtensions]]
  * installed, a UTC session time zone and the UI off. Callers add only
  * their own settings, so no tool can run plans the production session
  * would not (an extension-less session dumps RAW-scan shapes for the
  * upsert and json-index queries).
  */
object GraftSession {

  /** Cores requested through `SPARK_GRAFT_CPUS`, parsed once; every
    * available core when the variable is unset. */
  lazy val cpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  /** A positive integer, or an `IllegalArgumentException` naming the
    * variable: a typo must not reach `local[...]` as a master URL. */
  def parseCpus(raw: Option[String]): Int = raw match {
    case None => Runtime.getRuntime.availableProcessors()
    case Some(s) => s.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$s'"))
  }

  def builder(n: Int = cpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
}
