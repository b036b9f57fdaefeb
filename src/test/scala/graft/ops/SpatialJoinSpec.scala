package graft.ops

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkTestBase
import graft.pipeline.Inundate
import graft.geo.{GridIndex, PipLookup}
import graft.synth.Synth

/** Lifecycle of the broadcast catchment and mask indexes of [[SpatialJoin]]. */
class SpatialJoinSpec extends SparkTestBase {

  test("two assign calls on one SparkContext probe the same broadcast index") {
    val a = SpatialJoin.assign(spark, Synth.points(spark, sf0001))
    val b = SpatialJoin.assign(spark, Synth.points(spark, sf0001).limit(100))
    val (ia, ib) = (SpatialJoinSpec.indexOf(a), SpatialJoinSpec.indexOf(b))
    assert(ia eq ib)
    assert(ia.id == ib.id)
    assert(ia eq SpatialJoin.catchmentIndex(spark))
    // the mask index: one broadcast per context too, beside the catchments'
    val mosaic = Inundate.run(spark, sf0001)
    val (ma, mb) = (SpatialJoinSpec.maskIndexOf(Agreement.agreement(spark, mosaic)),
      SpatialJoinSpec.maskIndexOf(Agreement.agreement(spark, mosaic.limit(100))))
    assert(ma eq mb)
    assert(ma.id == mb.id)
    assert(ma eq SpatialJoin.maskIndex(spark))
    assert(ma ne ia)
  }

  test("a new SparkContext after stop() gets a fresh broadcast index") {
    // the shared test context must outlive this test, so the stop/restart
    // runs in a child JVM (SpatialJoinSpec.main)
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    val jvmArgs = rt.getInputArguments.toArray.map(_.toString).filter(a => a.startsWith("--add-opens") ||
      a.startsWith("-Dspark.") || a.endsWith("=ALL-UNNAMED"))
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java", "-Xmx1g") ++ jvmArgs ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.ops.SpatialJoinSpec", sf0001)
    val out = new StringBuilder
    val code = scala.sys.process.Process(cmd).!(scala.sys.process.ProcessLogger(
      l => out.append(l).append('\n'), l => if (l.startsWith("lifecycle")) out.append(l).append('\n')))
    assert(code == 0, out.toString)
    assert(out.toString.contains("lifecycle ok"), out.toString)
  }
}

object SpatialJoinSpec {
  /** The broadcast indexes the plan's [[PipLookup]]s probe. */
  private def indexesOf(df: DataFrame): Seq[Broadcast[GridIndex]] =
    df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case p: PipLookup => p.index
    })).distinct

  /** The one broadcast index the plan probes. */
  def indexOf(df: DataFrame): Broadcast[GridIndex] = indexesOf(df) match {
    case Seq(b) => b
    case other => throw new AssertionError(s"expected one PipLookup index, found $other")
  }

  /** The mask index of an agreement plan: the one it probes besides the
    * catchment index. */
  def maskIndexOf(df: DataFrame): Broadcast[GridIndex] =
    indexesOf(df).filterNot(_ eq SpatialJoin.catchmentIndex(df.sparkSession)) match {
      case Seq(b) => b
      case other => throw new AssertionError(s"expected one mask index, found $other")
    }

  private def classes(agreement: DataFrame): Map[Int, Long] =
    agreement.groupBy("agreement").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

  private def session(): SparkSession = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2").getOrCreate()

  /** Child-JVM half of the stop/restart test: exits non-zero on failure. */
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val s1 = session()
    s1.sparkContext.setLogLevel("ERROR")
    val n = Synth.points(s1, dir).count()
    val first = indexOf(SpatialJoin.assign(s1, Synth.points(s1, dir)))
    require(SpatialJoin.assign(s1, Synth.points(s1, dir)).count() == n)
    val agr1 = Agreement.agreement(s1, Inundate.run(s1, dir))
    val firstMask = maskIndexOf(agr1)
    val firstClasses = classes(agr1)
    require(firstClasses.getOrElse(4, 0L) > 0, s"no masked cell: $firstClasses")
    s1.stop()
    val s2 = session()
    s2.sparkContext.setLogLevel("ERROR")
    require(s2.sparkContext ne s1.sparkContext)
    val df = SpatialJoin.assign(s2, Synth.points(s2, dir))
    val second = indexOf(df)
    require(second ne first, "stale broadcast reused after stop()")
    require(second eq SpatialJoin.catchmentIndex(s2))
    require(df.count() == n, "assign on the new context lost points")
    // the mask index is broadcast afresh too, and agreement still runs
    val agr2 = Agreement.agreement(s2, Inundate.run(s2, dir))
    val secondMask = maskIndexOf(agr2)
    require(secondMask ne firstMask, "stale mask broadcast reused after stop()")
    require(secondMask eq SpatialJoin.maskIndex(s2))
    require(classes(agr2) == firstClasses, "agreement differs on the new context")
    s2.stop()
    println("lifecycle ok")
  }
}
