package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional extra args: only run queries whose name contains one of them
    // (local iteration aid; the driver always passes exactly two args)
    val only = args.drop(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // a fresh durable model store per run, outside outDir (every
    // subdirectory there is read back as a query result): every model an
    // oracle embeds is fit in THIS run, none loaded from an earlier one
    val models = Files.createTempDirectory("graft_verify_models")
    val spark = LocalSession(cpus, "WARN", Map("spark.graft.models.dir" -> models.toString))
    try {
      new java.io.File(outDir).mkdirs()
      val ran = SparkEntry.queries
        .filter { case (name, _) => only.isEmpty || only.exists(name.contains) }
      ran.foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          // a failed query must not leave a PREVIOUS run's parquet behind:
          // the gate would grade the stale result green (false pass)
          graft.zarr.Zarr.delete(s"$outDir/$name", recursive = true)
        }
      }
      // the model-literal oracles of the queries that ran, each built
      // from the model its query fit in this session
      val oracles = SparkEntry.oracleSql ++ SparkEntry.modelOracleSql(spark, sfDir, ran.contains)
      // Jackson (already on Spark's classpath, already our JSON reader in
      // Zarr): correct escaping by construction, no hand-rolled twin
      val json = new com.fasterxml.jackson.databind.ObjectMapper()
        .writeValueAsString(new java.util.TreeMap[String, String](
          scala.jdk.CollectionConverters.MapHasAsJava(oracles).asJava))
      Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    } finally {
      spark.stop()
      graft.zarr.Zarr.delete(models.toString, recursive = true)
    }
  }
}
