package graft.gates

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One oracle gate: `build(spark, dataDir)` runs a graft query over the
  * testdata tables in `dataDir`, and `oracle` is ANSI SQL that DuckDB runs
  * on the same parquet tables; the two results must be equal.
  *
  * Naming convention: `sNN_*` = fsql scan-path operators (SURVEY §2.1 rows),
  * `qNN_*` = relational surface (SURVEY §2.2 categories), `dN_*` = dedup,
  * `aN_*` = similarity search, `tN_*` = text analysis, `mN_*` = multimodal,
  * `stN_*` = streaming, extension operators. Each prefix's gates are
  * registered in one family file (see [[Gates]]).
  *
  * Determinism rules shared with the DuckDB oracles: double aggregates are
  * computed in DECIMAL(10,2) then cast to double (exact, order-insensitive);
  * every query ends in an ORDER BY on a unique key; no raw timestamp columns
  * are returned (cast to DATE or formatted — parquet TIMESTAMP(UTC) vs
  * DuckDB naive TIMESTAMP would hash differently).
  */
final case class Gate(name: String, oracle: String, build: (SparkSession, String) => DataFrame)

/** A file of gates, each registered by one `gate(name, oracle) { (s, dir) => … }`
  * call in the style of ScalaTest's `test(name) { … }`. */
abstract class GateFamily {
  private val registered = ArrayBuffer.empty[Gate]

  /** This family's gates in registration order. */
  final def gates: Seq[Gate] = registered.toSeq

  /** Registers one gate. The oracle is evaluated here, while the family
    * object initializes: a helper val it reads must be declared above this
    * call, since a forward reference reads null, which is refused. */
  protected final def gate(name: String, oracle: String)(
      build: (SparkSession, String) => DataFrame): Unit = {
    require(oracle != null && oracle.trim.nonEmpty, s"gate $name: blank oracle SQL")
    registered += Gate(name, oracle, build)
  }
}
