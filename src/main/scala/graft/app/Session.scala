package graft.app

import org.apache.spark.sql.SparkSession

/** The one session factory of the product mains (KgBuildMain, AskMain,
  * AskServer). It sets only what differs from Spark's defaults:
  *
  *   - master: the `spark.master` spark-submit injected as a system
  *     property, else `local[n]`;
  *   - `spark.sql.shuffle.partitions`: n;
  *   - session time zone: UTC.
  *
  * n is `SPARK_GRAFT_CPUS` when set, else the JVM's available processors.
  * AQE and its skew-join rule are on by default in Spark 4, and
  * `spark.sql.files.minPartitionNum` falls back to the default parallelism,
  * which is n in local mode, so neither is set here.
  */
object Session {

  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(appName: String): SparkSession = {
    val n = cpus
    val spark = SparkSession.builder()
      .appName(appName)
      .master(sys.props.getOrElse("spark.master", s"local[$n]"))
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
