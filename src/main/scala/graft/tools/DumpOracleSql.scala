package graft.tools

/** Write SparkEntry.oracleSql as oracle_sql.json WITHOUT running any
  * query — lets tools/bench_duckdb.py time the current oracle texts
  * (a DuckDB-baseline refresh) without a full Verify sweep first.
  * Usage: tools/run_main.sh graft.tools.DumpOracleSql OUT_DIR */
object DumpOracleSql {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    new java.io.File(outDir).mkdirs()
    graft.Verify.writeOracleSql(s"$outDir/oracle_sql.json", _ => true)
    println(s"[dump-oracle] ${graft.SparkEntry.oracleSql.size} oracle texts -> $outDir/oracle_sql.json")
  }
}
