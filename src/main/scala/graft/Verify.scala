package graft
import org.apache.spark.sql.SparkSession
import graft.util.Json
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter for targeted
    // re-verification of just-added queries (the driver passes two args,
    // so its full-gate behavior is unchanged)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession() // one shared config for Verify/Bench/tests
    new java.io.File(outDir).mkdirs()
    val attempted = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // The attempted-query manifest closes the fitted-oracle blind spot: a
    // query that throws DURING its codebook/centroid fit registers no
    // oracle entry AND writes no parquet, so the gate's "declared oracle
    // but no output" net can't see it. The gate cross-checks this list
    // instead — any attempted name with no output dir is a hard failure.
    // Written ONLY on full runs: a targeted (`only`-filtered) re-run must
    // neither shrink a full manifest to its subset (losing the gate's
    // cross-check) nor leave a stale full manifest claiming queries this
    // run never attempted — the full-gate driver always runs unfiltered.
    if (only.isEmpty)
      Files.writeString(Paths.get(s"$outDir/attempted.json"),
        attempted.keys.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]"))
    attempted.foreach { case (name, fn) =>
      System.err.println(s"[verify] start $name")
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally graft.util.Caches.releaseAll()
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
