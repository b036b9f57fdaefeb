package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.synth.Synth

/** Per-layer measurements for the traced run, taken from outside the engine:
  * self times from cumulative-prefix actions, and job/task/shuffle/spill
  * counts from the benchmark's own listener at the same boundaries.
  *
  * Each traced run reports every layer. A workload measures its own layers
  * at its own size; the layers it does not exercise are measured by a small
  * fixed probe (the sf0.01 page table, a one-shard corpus, a cold query pass)
  * so that every name is present. Compare per-layer numbers only within one
  * workload. */
object Layers {

  /** Cumulative prefixes of the forecast map, in order. From the stage join
    * on, each prefix keeps only the columns the rest of the map reads, as the
    * optimizer does in the full map; otherwise it would compute, shuffle and
    * aggregate columns the map never computes. */
  private def prefixes(map: FloodMap): Seq[(String, () => Any)] = Seq(
    "Synth.scan" -> (() => map.scan().queryExecution.toRdd.count()),
    "Synth.withGeo" -> (() => map.geo().queryExecution.toRdd.count()),
    "SpatialJoin.assign" -> (() => map.assigned().queryExecution.toRdd.count()),
    "RatingInterp.stages" -> (() => map.staged().select(col("cell"), col("hand"), col("stage_m")).queryExecution.toRdd.count()),
    "Inundate.tiles" -> (() => map.tiles().select(col("cell"), col("depth")).queryExecution.toRdd.count()),
    "Inundate.mosaic" -> (() => map.mosaic().select(col("cell"), col("depth_max")).queryExecution.toRdd.count()),
    "Agreement.contingency" -> (() => map.contingency().collect()))

  def floodLadder(run: Run, map: FloodMap, pages: Long, reps: Int): Unit = {
    val spark = run.spark
    val ps = prefixes(map)
    val best = scala.collection.mutable.Map(ps.map(_._1 -> Double.NaN): _*)
    // whole rounds over the prefixes, so that a slow stretch of the host
    // falls on every prefix alike; each prefix keeps its fastest run
    for (_ <- 1 to reps; (name, action) <- ps)
      run.attempt(s"prefix $name")(run.scoped(s"ladder:$name")(run.span(s"prefix:$name")(action())))
        .foreach { case (_, t) => best(name) = if (best(name).isNaN) t else best(name).min(t) }
    val cum = ps.map { case (name, _) => name -> (best(name), run.tally(s"ladder:$name")) }
    cum.zip(("", (0.0, new org.apache.spark.perfbench.Counters.Tally)) +: cum).foreach {
      case ((name, (t, _)), (_, (tPrev, _))) => run.layers(s"$name.self_s") = t - tPrev
    }
    val byName = cum.toMap
    val mosaic = byName("Inundate.mosaic")._2 - byName("Inundate.tiles")._2
    run.layers("Inundate.mosaic.shuffle_write_bytes") = mosaic.shuffleWriteBytes.toDouble / reps
    run.layers("Inundate.mosaic.spill_bytes") = mosaic.spillBytes.toDouble / reps
    run.layers("Inundate.mosaic.cells") = map.mosaic().count().toDouble
    // candidate pairs = join output before the ring test (exact count)
    val candidates = run.span("SpatialJoin.candidates")(
      map.geo().join(org.apache.spark.sql.functions.broadcast(Synth.catchmentCover(spark)), "ccell").count())
    run.layers("SpatialJoin.assign.candidates_per_point") = candidates.toDouble / pages
    run.layers("SpatialJoin.assign.hit_ratio") = pages.toDouble / candidates
    val builds = (1 to 3).map(_ => run.time(run.span("SpatialJoin.cover")(
      Synth.catchmentCover(spark).queryExecution.toRdd.count())))
    run.layers("SpatialJoin.cover.rows") = builds.head._1.toDouble
    run.layers("SpatialJoin.cover.build_s") = Stats.median(builds.map(_._2))
  }

  /** Small fixed flood ladder over an un-exploded page table. */
  def floodProbe(run: Run, lineitemPath: String): Unit = {
    val map = new FloodMap(run, lineitemPath, 1, 0L)
    floodLadder(run, map, map.scan().count(), reps = 2)
  }

  /** One pass over the dedup ops, each in its own scope; returns the pass's
    * op seconds. With `check`, the outputs join the ops' fingerprints. */
  def dedupLadder(run: Run, corpus: DataFrame, check: Boolean): Double =
    DedupOps.ops.map { case (name, f) =>
      val scope = s"ladder:$name"
      run.attempt(name)(run.scoped(scope)(run.span(name)(run.fingerprint(f(corpus))))) match {
        case Some((fp, s)) =>
          if (check) run.fp(name, fp)
          val t = run.tally(scope)
          run.layers(s"$name.s") = s
          run.layers(s"$name.jobs") = t.jobs.toDouble
          run.layers(s"$name.shuffle_bytes") = t.shuffleWriteBytes.toDouble
          run.layers(s"$name.spill_bytes") = t.spillBytes.toDouble
          s
        case None => 0.0
      }
    }.sum

  /** Small fixed dedup ladder: the corpus of `docDir` as one seed-chosen shard. */
  def dedupProbe(run: Run, docDir: String): Unit = {
    val path = s"${run.args.out}/probe_corpus.parquet"
    DedupOps.materialise(run.spark, docDir, DedupOps.choosePerms(run.args.seed, 1), path)
    dedupLadder(run, run.spark.read.parquet(path), check = false)
  }

  /** One pass over `qs` split into build (the query function, including any
    * eager jobs), plan (`executedPlan`) and execution (`toRdd.count`).
    * Results of the queries named in `parity` are then written to the given
    * path, untimed. */
  def queryLadder(run: Run, qs: Seq[Mix.Q], dir: String, check: Boolean,
      parity: Map[String, String] = Map.empty): Unit = {
    val spark = run.spark
    val fam = scala.collection.mutable.LinkedHashMap(Mix.Families.map(_ -> 0.0): _*)
    var build, plan, exec = 0.0
    var jobs, before = 0L
    for (q <- qs) {
      val scope = s"ladder:${q.name}"
      run.attempt(q.name)(run.scoped(scope)(run.span(q.name) {
        val (df, b) = run.time(run.span("build")(q.fn(spark, dir)))
        val j0 = run.tally(scope).jobs
        val (_, p) = run.time(run.span("plan")(df.queryExecution.executedPlan))
        val (n, e) = run.time(run.span("exec")(df.queryExecution.toRdd.count()))
        (df, n, b, p, e, j0)
      })) match {
        case Some(((df, n, b, p, e, j0), s)) =>
          if (check) run.fp(q.name, Seq(n))
          parity.get(q.name).foreach(df.coalesce(1).write.mode("overwrite").parquet(_))
          build += b; plan += p; exec += e
          before += j0; jobs += run.tally(scope).jobs
          fam(q.family) += s
        case None =>
      }
    }
    fam.foreach { case (f, s) => run.layers(s"SparkEntry.$f.s") = s }
    run.layers("SparkEntry.build_s") = build
    run.layers("SparkEntry.plan_s") = plan
    run.layers("SparkEntry.exec_s") = exec
    run.layers("SparkEntry.jobs") = jobs.toDouble
    run.layers("SparkEntry.jobs_before_action") = before.toDouble
  }

  /** A cold pass over the first query of each family in the sample, on the
    * sf0.01 tables in `dir`. */
  def queryProbe(run: Run, dir: String): Unit = {
    val firsts = Mix.sample.groupBy(_.family).values.map(_.head)
    queryLadder(run, firsts.toSeq.sortBy(_.name), dir, check = false)
  }

  def runTotals(run: Run): Unit = {
    val t = { org.apache.spark.perfbench.Counters.drain(run.sc); run.counters.total }
    run.layers("jvm.gc_s") = run.gcSeconds()
    run.layers("spark.jobs") = t.jobs.toDouble
    run.layers("spark.tasks") = t.tasks.toDouble
    run.layers("spark.codegen_compiles") =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
