package graft

import org.apache.spark.sql.SparkSession

/** One scaling measurement at SPARK_GRAFT_CORES — run under
  * `taskset -c 0-(N-1)` so the WHOLE process (task slots, GC, shuffle IO) is
  * confined to N cores, the honest single-box proxy for an N-executor
  * cluster. `tools/run_scaling_multi.sh` orchestrates the 2/8/32-core legs
  * and writes BENCH/BASELINE.md.
  */
object ScalingOne {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cores = sys.env.getOrElse("SPARK_GRAFT_CORES", "8").toInt
    val mult = sys.env.getOrElse("SPARK_GRAFT_MULT", "256").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", math.max(cores, 8))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Bench.flagship(spark, "/root/testdata/sf0.001", mult, cores) // warm codegen
    val runs = (1 to reps).map(_ => Bench.flagship(spark, sfDir, mult, cores * 3))
    val rows = runs.head._1
    val secs = runs.map(_._2).min
    println(s"""{"cores":$cores,"rows":$rows,"secs":$secs,"pages_per_sec":${rows / secs},"mult":$mult}""")
    spark.stop()
  }
}
