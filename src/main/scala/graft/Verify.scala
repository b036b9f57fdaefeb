package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import graft.pipeline.Snapshots
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (`tools/check_parity.py`), and
  * logical_plans.json: each query's optimized logical plan, ids masked
  * ([[Plans.maskIds]]); AQE leaves logical plans alone, so `cmp` of two
  * runs' files shows whether a change moved a plan. A
  * query's old output is deleted before it runs, so a query that fails
  * shows as missing output rather than as a previous run's rows, and the
  * session cache is cleared after each query. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name prefixes to run (iteration
    // aid; the driver always runs the full surface)
    val only: Option[Seq[String]] =
      if (args.length > 2) Some(args(2).split(",").toSeq) else None
    def selected(name: String): Boolean =
      only.forall(_.exists(name.startsWith))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val plans = Seq.newBuilder[(String, String)]
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      Snapshots.deleteRecursively(Paths.get(s"$outDir/$name"))
      try {
        val df = fn(spark, sfDir)
        plans += name -> Plans.maskIds(df.queryExecution.optimizedPlan.toString)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // ops cache intermediates they never unpersist; drop them so a later
      // query never plans over this one's InMemoryRelation (as Bench does)
      spark.catalog.clearCache()
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
    def writeJson(file: String, kvs: Iterable[(String, String)]): Unit =
      Files.writeString(Paths.get(s"$outDir/$file"),
        kvs.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    writeJson("oracle_sql.json", SparkEntry.oracleSql.filter(kv => selected(kv._1)))
    writeJson("logical_plans.json", plans.result())
    spark.stop()
  }
}
