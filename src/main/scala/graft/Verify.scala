package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query names — dump only those
    // (iteration aid; the driver always runs the full set)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // same input-sized AQE wide-start posture as Bench — results are
      // partitioning-independent (the gate pins that), so this only
      // affects timing
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        graft.core.Tuning.wideStart(sfDir, cpus.toInt))
      // bound dead-shuffle accumulation across the one-session run of every
      // gate (see Bench)
      .config("spark.cleaner.periodicGC.interval", "5min")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // lossless JSON escape — a tab or CR in builder-authored SQL would
    // otherwise make the driver's json.load fail and silently zero the
    // round's correctness
    def q(s: String): String = graft.core.JsonEscape.string(s)
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = String.valueOf(e).take(2000)
      }
      finally {
        spark.catalog.clearCache() // free operator-internal caches
        // and the pipelines' tracked checkpoints — every gate's dead
        // blocks otherwise accumulate in one session
        graft.core.Blocks.releaseAll()
      }
    }
    // a throwing query must leave a visible artifact: in round 6 a query
    // that errored simply vanished from the correctness JSON (71 → 70 rows,
    // every remaining row green) and nobody noticed for a round. errors.json
    // is written even when empty so its absence/presence is never ambiguous.
    Files.writeString(
      Paths.get(s"$outDir/errors.json"),
      errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    if (errors.nonEmpty)
      System.err.println(
        s"[verify] ${errors.size} quer${if (errors.size == 1) "y" else "ies"} FAILED: ${errors.keys.mkString(", ")}")
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
