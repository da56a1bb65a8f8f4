package graft.perfbench

import graft.SparkEntry

/** Prints the oracle SQL of every entry the workloads run, as the JSON
  * that `expected.py` turns into the pinned expected outputs. */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val names = Main.Headliners ++ Main.LlmEntries :+ Main.CorpusEntry
    println(Json.render(Map("olap" -> Main.Headliners,
      "sql" -> names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap)))
  }
}
