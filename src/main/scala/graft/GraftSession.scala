package graft

import org.apache.spark.sql.SparkSession

/** The one session set-up the mains share: `local[n]` with n from
  * SPARK_GRAFT_CPUS (else the caller's default), n shuffle partitions,
  * UTC session time zone, no UI, WARN logging. AQE is left at Spark's
  * default, which is on. A `-Dspark.*` system property can add a conf
  * the builder does not set; the builder's own values win over one.
  */
object GraftSession {
  def local(defaultCpus: Int): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
