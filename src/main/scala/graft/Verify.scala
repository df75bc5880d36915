package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  // args beyond (sfDir, outDir) = optional query-name subset for local
  // iteration; the driver passes exactly two args
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, rest @ _*) = args
    Harness.withSession(run(_, sfDir, outDir, rest))
  }

  def run(spark: SparkSession, sfDir: String, outDirArg: String,
      names: Seq[String]): Unit = {
    val wanted = names.toSet
    Harness.requireKnown(wanted, SparkEntry.queries.keySet)
    // subset runs write to a SIBLING dir, not a subdir: a compare that
    // scans the directory must never mix a partial rerun with a stale
    // full dump — and a nested subset/ would itself read as a stale
    // 0-row query dump on the NEXT full-dir compare
    val outDir =
      if (wanted.isEmpty) outDirArg
      else s"${outDirArg.stripSuffix("/")}_subset"
    if (wanted.nonEmpty)
      System.err.println(s"[verify] subset mode -> $outDir")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => wanted.isEmpty || wanted(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // remove any PRIOR run's dump for this query: a failure
        // before the overwrite started would otherwise leave stale
        // parquet that check.py globs and silently reports as PASS
        // for a query that no longer runs
        Harness.rmTree(Paths.get(s"$outDir/$name"))
      }
      finally Harness.quiesce(spark)
    }
    val q = QueryDef.jsonString _
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => wanted.isEmpty || wanted(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
