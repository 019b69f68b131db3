package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.ts is parquet TIMESTAMP(NANOS); read as long, converted in queries
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // let AQE coalesce exchanges INSIDE cached plans too (off by default):
      // persisted iterative frames (PageRank generations, staged scores)
      // otherwise run every exchange at full shuffle parallelism, which at
      // toy scale is pure task-scheduling overhead and at cluster scale
      // forgoes AQE skew/coalesce handling for cached branches
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // WindowExec "No Partition Defined": demoted as in SparkSpec/Bench —
    // every library global window is bounded (GlobalWindowLintSpec).
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    new java.io.File(outDir).mkdirs()
    // Optional comma-separated subset for local iteration (driver leaves unset).
    val only = sys.env.get("SPARK_GRAFT_QUERIES").map(_.split(",").map(_.trim).toSet)
    SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
      try {
        val out = fn(spark, sfDir)
        // Coerce TIMESTAMP (ltz) columns to TIMESTAMP_NTZ before writing:
        // identity under the UTC session tz, but aligns the parquet
        // annotation with DuckDB's naive TIMESTAMP so the oracle compare
        // sees identical types either way.
        import org.apache.spark.sql.types.{TimestampType, TimestampNTZType}
        import org.apache.spark.sql.functions.col
        val coerced = out.schema.fields.filter(_.dataType == TimestampType)
          .foldLeft(out)((d, f) => d.withColumn(f.name, col(f.name).cast(TimestampNTZType)))
        coerced.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        // Zero-row guard: an empty result hash-matches an empty oracle no
        // matter how wrong the operator is (round 9 shipped three such
        // low-power gates). Warn loudly so a query drifting to empty is
        // visible in the verify log even while the compare stays green.
        if (spark.read.schema(coerced.schema).parquet(s"$outDir/$name").isEmpty)
          System.err.println(s"[verify] WARNING: $name produced 0 rows — " +
            "the oracle compare has no power; re-parameterize the query")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Float-aggregate lint (round 11): a non-window sum/avg over a raw
    // DOUBLE column survives the driver's exact hash only while both plans
    // stay byte-stable — q_salted_join broke this way in round 10. New
    // hazards fail OracleLintSpec; warn here too so the verify log shows it.
    OracleLint.unreviewed(SparkEntry.oracleSql).toSeq.sorted.foreach { n =>
      System.err.println(s"[verify] WARNING: $n aggregates a raw DOUBLE " +
        "column without decimal cast/round — exact-hash hazard; use the " +
        "q_bucketed_join decimal discipline on both engine and oracle sides")
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
    // Staged-path SF rewrite: oracle SQL is authored against the driver's
    // gate SF (sf0.01) with literal /tmp/graft_stage/sf0.01/ paths; when
    // verifying at another SF the Spark side stages under THAT SF's
    // directory, so point the oracle at the same staged data (no-op at
    // sf0.01 — round 13: the missing rewrite made every staged-input query
    // read 10x-smaller oracle data at sf0.1)
    val sfName = new java.io.File(sfDir).getName
    def resf(sql: String): String =
      sql.replace("/tmp/graft_stage/sf0.01/", s"/tmp/graft_stage/$sfName/")
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(resf(v))}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
