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
    muteReviewedWindowWarning()
    Tables.pin(spark)
    spark
  }

  /** Mute WindowExec's "No Partition Defined ... serious performance
    * degradation" warning, which carries no signal here: Spark 4's
    * EliminateWindowPartitions turns every constant-partition window
    * into an empty partitionSpec, so the engine's bounded prefix-sum
    * windows look to the executor like a global-sort hazard. The
    * distinction is enforced instead by PlanLintSpec's allowlist gate
    * (every unpartitioned catalog window carries a written boundedness
    * argument) and Round18OpsSpec (no maintenance cycle executes one),
    * so a new offender still breaks the build. Scoped to the window
    * package; a non-log4j2 backend keeps the warning. */
  private def muteReviewedWindowWarning(): Unit =
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window",
      org.apache.logging.log4j.Level.ERROR)
    catch { case _: Throwable => () }
}
