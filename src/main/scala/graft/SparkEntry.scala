package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.Graft
import graft.core._
import graft.gates.GateSupport.dsum
import graft.gates.Gates

/** `entry` is the smoke query, and `queries` and `oracleSql` are views by
  * name over the oracle gates registered in `graft/gates/<Family>Gates.scala`
  * (see [[graft.gates.Gate]]).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * full fsql scan path (hive layout, partition pruning) + aggregation. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = Fixtures.hiveLineitem(spark, "/root/testdata/sf0.001")
    Graft.readPartitionedTable(spark, dir, query = Q.eq("l_returnflag", "R"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** Each gate's build by name. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    Gates.all.map(g => g.name -> g.build).toMap

  /** Each gate's DuckDB SQL by name, runnable on the same parquet tables. */
  lazy val oracleSql: Map[String, String] = Gates.all.map(g => g.name -> g.oracle).toMap
}
