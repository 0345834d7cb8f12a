package graftbench

import graft.queries.Registry

/** Writes the DuckDB oracle SQL of every bench query, as a JSON object of
  * query name to SQL, for `oracle_counts.py`: {{{ OracleSql FILE }}} */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val oracles = Registry.benchQueries.flatMap(q => q.oracle.map(q.name -> _)).toMap
    java.nio.file.Files.write(java.nio.file.Paths.get(args(0)),
      Json.render(oracles).getBytes("UTF-8"))
  }
}
