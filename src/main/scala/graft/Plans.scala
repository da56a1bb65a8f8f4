package graft

import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal

/** Dev tool: dump `.explain("formatted")` for every catalog query so scan
  * pushdown (PushedFilters/ReadSchema), join strategies, and
  * WholeStageCodegen spans can be audited offline (SURVEY.md §6).
  * Usage: runMain graft.Plans [sfDir] [outDir]
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val outDir = if (args.length > 1) args(1) else "target/plans"
    val spark = GraftSession.local(4)
    Files.createDirectories(Paths.get(outDir))
    // SPARK_GRAFT_ONLY=a,b — dump just those plans (same contract as
    // Verify/Bench); unset = full catalog
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val lintReport = new StringBuilder
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => only.forall(_.contains(q._1)))
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val formatted = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/$name.txt"), formatted)
        // catalog-wide antipattern sweep: one line per entry, warn
        // details inline — the PLANS.md audit, mechanized. Linting gets
        // its own try: a lint bug must not clobber the valid plan dump.
        try {
          val fs = graft.plans.PlanLint.lint(df)
          val warns = fs.filter(_.severity == "warn")
          val nEx = fs.count(_.rule == "exchange")
          lintReport.append(
            s"$name exchanges=$nEx warns=${warns.size}" +
              (if (warns.isEmpty) ""
               else warns.map(w => s" [${w.rule}: ${w.detail}]").mkString) + "\n")
        } catch { case NonFatal(e) =>
          lintReport.append(s"$name LINT FAILED: $e\n")
        }
      } catch { case NonFatal(e) =>
        Files.writeString(Paths.get(s"$outDir/$name.txt"), s"PLAN FAILED: $e")
        lintReport.append(s"$name PLAN FAILED: $e\n")
      }
    }
    Files.writeString(Paths.get(s"$outDir/lint.txt"), lintReport.toString)
    println(s"plans written to $outDir")
    spark.stop()
  }
}
