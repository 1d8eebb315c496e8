package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Contract (unchanged since r1): `Verify <sfDir> <outDir>` dumps one
  * directory. Since r8 `<sfDir>` may be a COMMA-SEPARATED scale list
  * (`/root/testdata/sf0.001,/root/testdata/sf0.01,...`): each scale
  * dumps to `<outDir>/<basename(sfDir)>/`, making the three-scale sweep
  * COVERAGE.md claims a machine-checkable artifact — `tools/
  * scale_sweep.py` compares every scale in DuckDB and merges the
  * per-scale pass marks into one JSON (CORRECTNESS_SCALES.json).
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfArg, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val scales = sfArg.split(',').map(_.trim).filter(_.nonEmpty)
    if (scales.length == 1) dump(spark, scales.head, outDir)
    else scales.foreach { sfDir =>
      val name = Paths.get(sfDir).getFileName.toString
      dump(spark, sfDir, s"$outDir/$name")
    }
    spark.stop()
  }

  // Query/oracle maps are parameters (defaulting to the live registry)
  // so VerifySpec can inject a deliberately-throwing query and assert
  // the sentinel contract without touching SparkEntry.
  private[graft] def dump(spark: SparkSession, sfDir: String,
      outDir: String,
      queries: Map[String, (SparkSession, String) =>
        org.apache.spark.sql.DataFrame] = SparkEntry.queries,
      oracleSql: Map[String, String] = SparkEntry.oracleSql): Unit = {
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=q90_char_entropy,... — optional comma list for
    // targeted local iteration (mirrors Bench); the driver never sets
    // it, so the per-round gate always dumps the full registry.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val selected = queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        // A query that throws must surface as an `err` row in the
        // driver's CORRECTNESS json, never vanish: a missing entry makes
        // a 113/113-green artifact out of a 115-query registry (r8).
        // The sentinel replaces any partial parquet dir so the driver's
        // read fails loudly, and the error text is preserved alongside.
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        val dir = Paths.get(s"$outDir/$name")
        deleteRecursively(dir.toFile)
        Files.createDirectories(dir)
        Files.writeString(dir.resolve("_ERROR"),
          s"${e.getClass.getName}: ${e.getMessage}\n")
      }
      // r15, the Bench hygiene applied to the gate: 153 sequential
      // dumps otherwise pile every query's localCheckpoint blocks into
      // executor storage until a GC happens to feed the ContextCleaner
      // (measured on Bench: gc 11.7 s vs 2.2 s over one pass, warm
      // per-query geomean 1.33× slower without it). Outside any
      // contract surface — Verify is a correctness dump, not a timing.
      Sessions.unpersistAll(spark)
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
    val json = oracleSql
      .filter { case (k, _) => selected.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Last line of every dump: machine-readable failure count, so a red
    // query is visible in the driver log even before the DuckDB compare.
    println(s"""{"verify_failed": ${failed.size}, "names": [${
      failed.map(q).mkString(", ")}]}""")
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty)
      .foreach(deleteRecursively)
    f.delete(): Unit
  }
}
