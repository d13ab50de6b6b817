package graft

import Harness.jq

/** Print the registry oracle SQL for the given keys as one JSON line —
  * lets driver-side tools (tools/sf100_ts_gate.py) reuse the EXACT oracle
  * the correctness gate runs instead of carrying a copy that could drift.
  * No SparkSession: the registry maps are plain values.
  *
  * Run: runMain graft.OracleSqlDump <key>[,<key>...]
  */
object OracleSqlDump {
  def main(args: Array[String]): Unit = {
    val keys = args(0).split(",").toSeq
    val missing = keys.filterNot(SparkEntry.oracleSql.contains)
    require(missing.isEmpty, s"no oracle SQL for: ${missing.mkString(",")}")
    println(keys.map(k => s"${jq(k)}:${jq(SparkEntry.oracleSql(k))}")
      .mkString("{", ",", "}"))
  }
}
