package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // oracle-only mode (dev/bench_pair.sh): dump oracle_sql.json without
    // starting Spark or running queries.
    if (args.headOption.contains("--oracle-only")) {
      val dir = args(1)
      new java.io.File(dir).mkdirs()
      Files.writeString(Paths.get(s"$dir/oracle_sql.json"), oracleJson)
      return
    }
    // optional trailing args: restrict to the named entries (dev loop —
    // the driver always runs the full set)
    val (sfDir, outDir, only) = args.toSeq match {
      case Seq(a, b) => (a, b, Set.empty[String])
      case Seq(a, b, rest @ _*) => (a, b, rest.toSet)
      case _ => sys.error("usage: Verify <sfDir> <outDir> [entry ...]")
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter { case (n, _) => only.isEmpty || only(n) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson)
    spark.stop()
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def oracleJson: String = SparkEntry.oracleSql
    .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")

  /** The oracle_sql.json text, for OracleTypeGateSuite's schema-only dump. */
  private[graft] def oracleJsonForTools: String = oracleJson
}
