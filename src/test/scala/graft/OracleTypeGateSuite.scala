package graft

import scala.sys.process._

/** Driver-fidelity TYPE gate (r11 verdict task 8, promoted from the manual
  * `dev/check_oracle.py` audit into CI): the driver's hash is
  * TYPE-sensitive — DuckDB `SUM(BIGINT)` returns HUGEINT while Spark writes
  * BIGINT, which kept the t_dashboard family red for three rounds while
  * every value-level local compare was zero-diff. This suite stops a future
  * oracle edit from reintroducing that class:
  *
  *  - every oracle-checked entry's DataFrame is PLANNED (limit 0, no row
  *    computation) and dumped as a schema-only parquet — exactly the file
  *    the driver reads back through DuckDB;
  *  - `dev/check_oracle.py --types-only` binds each oracle SQL in DuckDB
  *    (no execution) and compares column names + per-column result types
  *    against the parquet schema, with the same empty evidence-based
  *    TYPE_ALLOW list as the full gate.
  *
  * Skips (cancels) cleanly when python3/duckdb are absent — the gate is
  * environment-adjacent, not a library dependency.
  *
  * A second test keeps the documented dev commands honest: every
  * `runMain graft.…` main named in the dev shell scripts or the verify
  * skill must load.
  */
class OracleTypeGateSuite extends SparkSpec {

  test("every oracle entry's Spark result types match the oracle's (types-only gate)") {
    val pyOk = try {
      Process(Seq("python3", "-c", "import duckdb")).! == 0
    } catch { case _: Exception => false }
    assume(pyOk, "python3 + duckdb not available; types-only gate skipped")

    val sfDir = "/root/testdata/sf0.001"
    val out = java.nio.file.Files.createTempDirectory("graft-typegate").toString
    spark.conf.set("graft.layout.bucketed", "false")

    val failedPlans = scala.collection.mutable.ListBuffer[String]()
    for ((name, fn) <- SparkEntry.queries if SparkEntry.oracleSql.contains(name)) {
      try fn(spark, sfDir).limit(0).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/$name")
      catch { case e: Throwable => failedPlans += s"$name: ${e.getMessage}" }
    }
    assert(failedPlans.isEmpty,
      s"entries failed to plan at sf0.001:\n${failedPlans.mkString("\n")}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$out/oracle_sql.json"), Verify.oracleJsonForTools)

    val sb = new StringBuilder
    val code = Process(
      Seq("python3", "dev/check_oracle.py", "--types-only", sfDir, out),
      new java.io.File(".")).!(ProcessLogger(l => sb.append(l).append('\n')))
    assert(code == 0, s"types-only gate failed:\n$sb")
  }

  test("every main the dev scripts and the verify skill run still exists") {
    val docs = new java.io.File("dev").listFiles().filter(_.getName.endsWith(".sh")).toSeq :+
      new java.io.File(".claude/skills/verify/SKILL.md")
    val mains = docs.filter(_.isFile).flatMap { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      """runMain\s+(graft(?:\.\w+)+)""".r.findAllMatchIn(text).map(_.group(1))
    }.distinct
    assert(mains.nonEmpty, "no runMain commands found in dev/*.sh or the verify skill")
    val missing = mains.filterNot { m =>
      try { Class.forName(m, false, getClass.getClassLoader); true }
      catch { case _: ClassNotFoundException => false }
    }
    assert(missing.isEmpty, s"documented mains that no longer exist: ${missing.mkString(", ")}")
  }
}
