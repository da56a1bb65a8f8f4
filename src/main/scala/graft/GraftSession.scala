package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** The engine's one session factory: every main and the spec base build
  * their `SparkSession` here, so the engine's conf policy lives in one
  * place. Reads no env var or sysprop; callers choose their core count. */
object GraftSession {

  /** `local[cores]` with [[GraftExtensions]] and the engine defaults;
    * `conf` pairs are applied last and override a default. */
  def local(cores: Int, conf: (String, String)*): SparkSession = {
    val defaults = Seq(
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.codegen.maxFields" -> "256",
      "spark.sql.adaptive.enabled" -> "true",
      // events.parquet may store TIMESTAMP(NANOS); Tables.events converts.
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false")
    val spark = SparkSession.builder().master(s"local[$cores]")
      .withExtensions(new GraftExtensions)
      .config((defaults ++ conf).toMap) // a later pair wins
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Spark warns on every unpartitioned window; the ones the catalog
    // plans are on PlanLint.boundedWindowAllowlist, which CatalogSpec
    // enforces, so that warning is noise that hides real ones.
    Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec", Level.ERROR)
    spark
  }
}
