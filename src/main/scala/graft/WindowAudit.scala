package graft

import graft.plans.PlanLint

/** Enumerates every catalog entry whose physical plan carries an
  * unpartitioned WindowExec (the PlanLint `global-window` rule), with
  * severity — the measurement behind PlanLint.boundedWindowAllowlist.
  * Usage: runMain graft.WindowAudit [sfDir]
  * Prints one line per finding: `WINAUDIT <entry> <severity> <listed?>`
  * plus a trailing `WINAUDIT-SUMMARY` line; exits nonzero when a finding
  * is not allowlisted, a plan errors, or the allowlist carries stale
  * keys, mirroring the CatalogSpec gate. Allowlisted findings print
  * (severity included) but do not fail the run — each allowlist entry
  * declares the calendar/cell/top-k bound that justifies the warn.
  */
object WindowAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.local(8)
    var bad = 0
    var flagged = 0
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val findings =
        try PlanLint.globalWindows(fn(spark, sfDir))
        catch { case scala.util.control.NonFatal(e) =>
          println(s"WINAUDIT $name ERROR ${e.getMessage.take(120)}"); bad += 1
          Seq.empty
        }
      if (findings.nonEmpty) {
        flagged += 1
        val listed = PlanLint.boundedWindowAllowlist.contains(name)
        val sev = findings.map(_.severity).distinct.sorted.mkString("+")
        if (!listed) bad += 1
        println(s"WINAUDIT $name $sev listed=$listed")
      }
    }
    val unlisted = PlanLint.boundedWindowAllowlist.keySet -- SparkEntry.queries.keySet
    if (unlisted.nonEmpty) {
      println(s"WINAUDIT-STALE-KEYS $unlisted")
      bad += unlisted.size // stale allowlist keys fail the run too
    }
    println(s"WINAUDIT-SUMMARY flagged=$flagged bad=$bad " +
      s"allowlist=${PlanLint.boundedWindowAllowlist.size}")
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
