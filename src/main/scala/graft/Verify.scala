package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional third arg: comma-separated query-name filter (dev spot-checks;
    // the driver passes exactly two args and gets the full dump)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.core.LogHygiene.silenceBoundedWindowWarn()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // Registration guard: a gate whose FINAL schema carries a complex
        // column (array/map/struct) is unhashable by a pandas row-sorting
        // checker (the t57 lesson, round 14). Refuse it loudly here so a
        // driver-red of that class can never ship again — project the
        // complex column to a scalar (array_join / to_json) in the gate.
        val complex = df.schema.fields.filter(f => f.dataType match {
          case _: org.apache.spark.sql.types.ArrayType  => true
          case _: org.apache.spark.sql.types.MapType    => true
          case _: org.apache.spark.sql.types.StructType => true
          case _ => false
        }).map(_.name)
        require(complex.isEmpty,
          s"gate $name has complex-typed final columns ${complex.mkString(",")}" +
            " — scalar-ize them (array_join/to_json) before registering")
        // Oracle-side twin of the guard above (the round-16 t69/t71
        // lesson): an uncast integer sum() in the DuckDB oracle goes
        // HUGEINT and hash-diverges despite value-equal rows. Refuse the
        // gate unless OracleLint.allowed documents why the sum is benign.
        val uncast = SparkEntry.oracleSql.get(name)
          .filterNot(_ => OracleLint.allowed.contains(name))
          .map(OracleLint.uncastSums).getOrElse(Nil)
        require(uncast.isEmpty,
          s"gate $name oracle SQL has uncast sum() [${uncast.mkString(" | ")}]" +
            " — CAST(... AS BIGINT) it or allowlist it in OracleLint with a reason")
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a failed gate must not leave a PREVIOUS run's parquet behind:
        // with a reused outDir the checker would compare stale output
        // and the failure (including the complex-column refusal above)
        // would silently ship as a pass. Hadoop FS, not java.io.File —
        // the delete must work for ANY outDir scheme the write above
        // accepted, not just the local filesystem (r15 ADVICE).
        try {
          val stale = new org.apache.hadoop.fs.Path(s"$outDir/$name")
          val fs = stale.getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (fs.exists(stale)) { fs.delete(stale, true); () }
        } catch { case scala.util.control.NonFatal(e) =>
          System.err.println(
            s"[verify] $name: stale-output cleanup failed too: ${e.getMessage}")
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // a spot check writes only its own gates' SQL, so the checker's
    // verdict covers exactly the dumped gates
    val json = SparkEntry.oracleSql
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
