package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A module of oracle-gated queries. `queries` builds each gate's Spark
  * plan from an sf dir; `oracles` holds the DuckDB SQL that recomputes
  * the same rows. Both maps have the same keys, so a gate's query and its
  * oracle are declared side by side, in one module. `graft.SparkEntry`
  * lists every module once. */
trait Gates {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracles: Map[String, String]
}
