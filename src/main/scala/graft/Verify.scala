package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (builder-side
    // iteration aid; the driver always runs the full set)
    val (sfDir, outDir, only) = args match {
      case Array(s, o) => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(",").toSet))
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // the driver's hash-exact gate certifies the engine's OWN state
      // backend end-to-end: stream_guardian_e2e's stateful dedup runs on
      // the clone-free arena store here, same as the recorded bench
      // (SPARK_GRAFT_STATE_PROVIDER overrides, e.g. to the HDFS provider)
      .config("spark.sql.streaming.stateStore.providerClass",
        sys.env.getOrElse("SPARK_GRAFT_STATE_PROVIDER",
          "graft.stream.state.ArenaStateStoreProvider"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // lang_id's single-pass LexiconCounts is regex-equivalent only on
    // ASCII corpora (LexiconScan scaladoc: Java's \b is Unicode-aware,
    // RE2's is not, and the scanner treats high-bit bytes as word chars).
    // Fail loudly if the fixture ever drifts non-ASCII rather than let
    // the oracle compare mismatch silently.
    val nonAscii = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(org.apache.spark.sql.functions.col("text").rlike("[^\\x00-\\x7F]"))
      .count()
    require(nonAscii == 0,
      s"documents fixture has $nonAscii non-ASCII rows — lang_id oracle parity would break")
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally {
        // bound intra-operator caches (shingle table, quantized vectors)
        // to their own query's lifetime; catalog-level clear also drops
        // the CacheManager's plan registrations
        spark.catalog.clearCache()
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
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // the e2e query ran a streaming pipeline in this session — stop state
    // maintenance before the session to avoid shutdown error spam
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => () }
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.streaming.state",
      org.apache.logging.log4j.Level.OFF)
    catch { case _: Throwable => () }
    spark.stop()
  }
}
