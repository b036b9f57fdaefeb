package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.Counters
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's JVM side: runs one workload against `local[cores]` from a
  * single thread (a closed loop: one action at a time) and writes the
  * raw samples to `<out>/raw.json`. `run.py` turns the samples into metrics.
  *
  * Every timed region is one call chain into the engine's public functions
  * followed by one action. Output checks run outside the timed regions; a
  * thrown op or a failed check is counted and named on stderr. */
object Harness {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, out: String, cores: Int)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("data"), m("out"), m("cores").toInt)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val spark = SparkSession.builder()
      .master(s"local[${args.cores}]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", args.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // Spark's default of 100 generated classes is smaller than the query
      // sample's ~110, so every pass would evict and recompile ~20 of them
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${args.out}/warehouse")
      .config("spark.local.dir", s"${args.out}/spark-local")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(spark, args)
    run.rec.put("session_ready_ms", System.currentTimeMillis().toDouble)
    try {
      args.workload match {
        case "flood_forecast" => new Flood(run).apply()
        case "query_mix" => new QueryMix(run).apply()
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } catch {
      case e: Throwable => run.fail(s"workload aborted: $e")
    } finally {
      run.finish()
      spark.stop()
    }
  }
}

/** Shared per-run state: counters, spans, raw samples and failures. */
final class Run(val spark: SparkSession, val args: Harness.Args) {
  val sc = spark.sparkContext
  val counters: Counters = Counters.install(sc)
  val runId = s"${args.workload}-${args.seed}-${if (args.trace) "trace" else "plain"}"
  val cores: Int = args.cores

  /** Scalar raw values and sample lists, written as JSON by `finish`. */
  val rec = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  val lists = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  val ops = ArrayBuffer.empty[(String, String, Int, Double, Double)] // kind, family, pass, s, pages
  val layers = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  val failures = ArrayBuffer.empty[String]
  var attempted = 0L

  def sample(key: String, v: Double): Unit = lists.getOrElseUpdate(key, ArrayBuffer.empty) += v

  /** Output fingerprints per op, one per repetition; `run.py` checks that
    * every repetition of an op agrees. */
  val fingerprints = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Seq[Long]]]
  def fp(op: String, v: Seq[Long]): Unit = fingerprints.getOrElseUpdate(op, ArrayBuffer.empty) += v

  def fail(msg: String): Unit = {
    System.err.println(s"perfbench: FAILED [${args.workload} seed=${args.seed}] $msg")
    failures += msg
  }

  // ------------------------------------------------------------ spans

  private final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long)
  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 0
  private val epochNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  var spansOn = false

  /** Records a span around `f` when tracing is on; otherwise just runs `f`. */
  def span[T](name: String)(f: => T): T =
    if (!spansOn) f
    else {
      val id = nextId; nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val t0 = System.nanoTime()
      try f
      finally {
        spans += Span(id, name, parent, t0, System.nanoTime())
        open = open.tail
      }
    }

  // ------------------------------------------------------------ timing

  /** Runs `f` with its Spark jobs attributed to `scope`. */
  def scoped[T](scope: String)(f: => T): T = {
    val old = sc.getLocalProperty(Counters.ScopeKey)
    sc.setLocalProperty(Counters.ScopeKey, scope)
    try f finally sc.setLocalProperty(Counters.ScopeKey, old)
  }

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** One attempted op: returns Some(result, seconds), or None if it threw. */
  def attempt[T](what: String)(f: => T): Option[(T, Double)] = {
    attempted += 1
    try Some(time(f))
    catch { case e: Throwable => fail(s"$what threw $e"); None }
  }

  /** Scope counters after the listener bus has caught up. */
  def tally(scope: String): Counters.Tally = { Counters.drain(sc); counters.get(scope) }

  var firstTimedMs = 0L
  def markTimedStart(): Unit = if (firstTimedMs == 0L) firstTimedMs = System.currentTimeMillis()

  /** Old-generation bytes in use right after a full collection, in MB.
    * Undelivered listener events hold plans and metrics, so the bus is
    * drained first. Collections repeat until the use stops falling: Spark's
    * cleaner releases blocks only after a collection has cleared their
    * references. */
  def heapAfterGcMb(): Double = {
    def oldGen() = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(_.getUsage.getUsed).sum / 1048576.0
    Counters.drain(sc)
    System.gc()
    var last = oldGen()
    var n = 1
    while (n < 5) {
      Thread.sleep(200)
      System.gc()
      val now = oldGen()
      if (now > last - 1.0) return now
      last = now
      n += 1
    }
    last
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1000.0

  /** Per-row fingerprint of a result: (rows, order-independent hash). The
    * hash is a sum of 32-bit row hashes, so it never overflows and does not
    * depend on partitioning or row order. */
  def fingerprint(df: DataFrame): Seq[Long] = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
    val r = df.agg(count(lit(1)), coalesce(sum(h.bitwiseAND(lit(0xffffffffL))), lit(0L))).collect()(0)
    Seq(r.getLong(0), r.getLong(1))
  }

  def finish(): Unit = {
    val out = Paths.get(args.out)
    Files.createDirectories(out)
    import Json.{num, str}
    val recJson = (rec.toSeq :+ ("first_timed_ms" -> firstTimedMs.toDouble))
      .map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}")
    val listJson = lists.map { case (k, vs) => s"${str(k)}:${vs.map(num).mkString("[", ",", "]")}" }
      .mkString("{", ",", "}")
    val opsJson = ops.map { case (k, f, p, s, pages) =>
      s"""{"kind":${str(k)},"family":${str(f)},"pass":$p,"s":${num(s)},"pages":${num(pages)}}"""
    }.mkString("[", ",", "]")
    val layerJson = layers.map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}")
    val failJson = failures.map(str).mkString("[", ",", "]")
    val fpJson = fingerprints.map { case (k, vs) =>
      s"${str(k)}:${vs.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")}"
    }.mkString("{", ",", "}")
    Files.writeString(out.resolve("raw.json"),
      s"""{"run_id":${str(runId)},"attempted":$attempted,"failures":$failJson,""" +
        s""""rec":$recJson,"lists":$listJson,"ops":$opsJson,"layers":$layerJson,""" +
        s""""fingerprints":$fpJson}""" + "\n")
    if (args.trace) {
      val lines = spans.sortBy(_.startNs).map { s =>
        val parent = if (s.parent < 0) "null" else s.parent.toString
        s"""{"run_id":${str(runId)},"id":${s.id},"name":${str(s.name)},"parent":$parent,""" +
          s""""start_ns":${s.startNs + epochNs},"end_ns":${s.endNs + epochNs}}"""
      }
      Files.write(out.resolve("spans.jsonl"), lines.asJava)
    }
  }

  /** Runs `pass` until `seconds` of measurement have elapsed, at least
    * `min` times. Between passes a full GC samples the old generation
    * (outside every timed region). */
  def closedLoop(min: Int)(pass: Int => Unit): Int = {
    markTimedStart()
    val t0 = System.nanoTime()
    var n = 0
    while (n < min || (System.nanoTime() - t0) / 1e9 < args.seconds) {
      pass(n)
      n += 1
      sample("heap_mb", heapAfterGcMb())
    }
    n
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
