package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. An optional
  * third arg (comma-separated query names) restricts the dump — the
  * single-query iteration loop, mirroring Bench's SPARK_GRAFT_QUERIES. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, rest @ _*) = args
    val only: Option[Set[String]] =
      rest.headOption.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // Sessions' SPARK_GRAFT_CONF hook lets the oracle gate run under a
    // non-default Spark conf (e.g. spark.sql.adaptive.enabled=false), so
    // a conf-dependent plan's correctness is gate-verified, not asserted
    val spark = Sessions.builder(Sessions.envCores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // queries are independent — run 4 at a time on the shared session
    // (Spark schedules concurrent jobs fine) to cut the dump's wall time.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val tasks = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      pool.submit(new Runnable {
        override def run(): Unit =
          try SparkEntry.dumpReady(name, fn(spark, sfDir))
            .coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
      })
    }
    tasks.foreach(_.get())
    pool.shutdown()
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
    spark.stop()
  }
}
