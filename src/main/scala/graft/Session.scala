package graft

import org.apache.spark.sql.SparkSession

/** The local session every graft main and spec runs in. Graft itself
  * arrives through [[GraftExtensions]]; this only fixes the local
  * recipe, so that whichever caller starts the JVM's context gives
  * every later session the same cores. A caller with a one-off conf
  * sets it afterwards with `spark.conf.set`. */
object Session {
  def local(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.pin(spark)
    spark
  }
}
