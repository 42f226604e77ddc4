package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession every main of this project opens:
  * `local[SPARK_GRAFT_CPUS]` (`defaultCpus` when it is unset) with as many
  * shuffle partitions, the UTC session zone (gate answers depend on it),
  * no UI and WARN logging.
  */
object LocalSpark {

  def session(app: String, defaultCpus: Int = 4): SparkSession = {
    val n = sys.env.get("SPARK_GRAFT_CPUS").fold(defaultCpus)(_.toInt)
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
