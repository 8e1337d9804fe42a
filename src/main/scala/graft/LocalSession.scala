package graft

import org.apache.spark.sql.SparkSession

/** The session of every `main` here (Bench, Verify, Smoke, Profile):
  * `local[N]` with N = `SPARK_GRAFT_CPUS` (default 4), one shuffle
  * partition per core, UI off, UTC session time zone, WARN logs.
  */
object LocalSession {
  def apply(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
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
