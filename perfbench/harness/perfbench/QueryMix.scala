package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.ops.SpatialJoin
import graft.pipeline.Snapshots
import graft.synth.Synth

/** The query sample: one or more queries from each of the six families.
  * `pages` marks queries whose fact side is the geocoded page table. */
object Mix {
  final case class Q(name: String, family: String, pages: Boolean, fn: (SparkSession, String) => DataFrame)

  val Families: Seq[String] = Seq("hydro", "calibration", "evaluation", "text_dedup", "web_link", "platform")

  private def entry(name: String, family: String, pages: Boolean = false): Q =
    Q(name, family, pages, SparkEntry.queries(name))

  /** q116's body with the snapshot table under `tableDir` (the registered
    * query writes to a fixed location outside the working tree). Same public
    * calls, same output, checked against q116's oracle SQL. It runs only in
    * the traced run: at about 12 s warm, two thirds of a pass, it would turn
    * the timed pass and tail metrics into a one-query measurement. */
  def snapshotRoundtrip(tableDir: String): Q =
    Q("q116_snapshot_roundtrip", "platform", pages = true, (s, dir) => {
      val table = s"$tableDir/q116_snapshot"
      Snapshots.deleteRecursively(java.nio.file.Paths.get(table))
      val src = SpatialJoin.assign(s, Synth.points(s, dir))
        .select(col("pid"), col("hydroid").cast("long").as("hydroid"), col("huc8"), col("hand"))
      Snapshots.writeResumable(s, src, table, "huc8")
      Snapshots.readTable(s, table).groupBy(col("huc8"))
        .agg(count(lit(1)).as("n_rows"), sum(col("pid")).as("pid_sum"),
          min(col("hand")).as("hand_min"), max(col("hand")).as("hand_max"))
        .join(Snapshots.lineage(s, table).select(col("part").as("huc8"), col("rows").as("n_manifest")), "huc8")
    })

  /** Timed passes per run: each query's median latency is taken over them. */
  val MinPasses = 5

  /** The timed sample: seven queries, so the median latency falls inside one
    * query's samples rather than between two. */
  val sample: Seq[Q] = Seq(
    entry("q03_pip_join", "hydro", pages = true),
    entry("q07_mosaic", "hydro", pages = true),
    entry("q12_metrics", "evaluation", pages = true),
    entry("q92_manual_calb", "calibration"),
    entry("q126_dup_spans", "text_dedup"),
    entry("q141_frontier", "web_link"),
    entry("q41_tpch_q1", "platform"))
}

/** query_mix: passes over the query sample in a seed-shuffled order. The
  * warm-up pass writes every result for the DuckDB oracle check. */
final class QueryMix(run: Run) {
  private val spark = run.spark
  private val args = run.args

  def apply(): Unit = {
    val dir = s"${args.data}/mix"
    val qs = new scala.util.Random(args.seed).shuffle(Mix.sample)
    run.rec.put("pages_per_query", spark.read.parquet(s"$dir/lineitem.parquet").count().toDouble)
    val parity = s"${args.out}/parity"
    val (_, warmS) = run.time(qs.foreach { q =>
      run.attempt(q.name)(q.fn(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$parity/${q.name}"))
        .foreach(_ => run.fp(q.name, Seq(spark.read.parquet(s"$parity/${q.name}").count())))
    })
    if (args.trace) { trace(qs, dir, parity); return }
    writeOracle(parity, qs)
    // one more untimed pass: the planner's code is still being compiled
    // after the first, and the pass wall falls by about 40 % over the next
    // three passes
    val (_, warm2) = run.time(qs.foreach(q => run.attempt(q.name)(q.fn(spark, dir).queryExecution.toRdd.count())
      .foreach { case (n, _) => run.fp(q.name, Seq(n)) }))
    run.rec.put("warmup_s", warmS + warm2)
    run.closedLoop(min = Mix.MinPasses) { pass =>
      var wall = 0.0
      for (q <- qs) run.attempt(q.name)(q.fn(spark, dir).queryExecution.toRdd.count()) match {
        case Some((n, s)) =>
          wall += s
          run.ops += ((q.name, q.family, pass, s, if (q.pages) run.rec("pages_per_query") else 0.0))
          run.fp(q.name, Seq(n))
        case None =>
      }
      run.sample("pass_s", wall)
    }
  }

  private def writeOracle(parity: String, qs: Seq[Mix.Q]): Unit = {
    val json = qs.map(q => s"${Json.str(q.name)}: ${Json.str(SparkEntry.oracleSql(q.name))}").mkString("{", ",\n", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$parity/oracle_sql.json"), json)
  }

  private def trace(qs: Seq[Mix.Q], dir: String, parity: String): Unit = {
    run.markTimedStart()
    // tracing overhead: each query once without and once with spans, in
    // alternating order, so the JIT's warming favours neither side
    var plain, spanned = 0.0
    for ((q, i) <- qs.zipWithIndex; on <- if (i % 2 == 0) Seq(false, true) else Seq(true, false)) {
      run.spansOn = on
      run.attempt(q.name)(run.span(q.name)(q.fn(spark, dir).queryExecution.toRdd.count())).foreach {
        case (n, s) =>
          run.fp(q.name, Seq(n))
          if (on) spanned += s else plain += s
      }
    }
    run.layers("trace.overhead_share") = (spanned - plain) / plain
    run.spansOn = true
    // the snapshot round trip joins the traced pass, cold; its result is
    // written for the oracle check there
    val snapshot = Mix.snapshotRoundtrip(args.out)
    run.span("query_mix.pass")(Layers.queryLadder(run, qs :+ snapshot, dir, check = true,
      parity = Map(snapshot.name -> s"$parity/${snapshot.name}")))
    writeOracle(parity, qs :+ snapshot)
    Layers.floodProbe(run, s"$dir/lineitem.parquet")
    Layers.dedupProbe(run, dir)
    Layers.runTotals(run)
  }
}
