package graft.ops

import graft.SparkTestBase
import graft.synth.Synth
import org.apache.spark.sql.functions._

class WebCurationSpec extends SparkTestBase {
  import spark.implicits._

  lazy val corpus = Synth.corpus(spark, sf0001).cache()

  test("paragraph dedup: exact-clone docs keep zero paragraphs; kept total = distinct paragraphs") {
    val out = WebCuration.paragraphDedup(corpus).cache()
    // every paragraph of an exact clone (doc_id >= 2,000,000) already occurred
    // in its original (lower doc_id) — nothing survives, clean_text is null
    val clones = out.filter($"doc_id" >= 2000000L)
    assert(clones.count() > 0)
    assert(clones.filter($"n_kept" =!= 0 || $"clean_text".isNotNull).count() === 0)
    // global invariant: kept paragraphs == distinct paragraph texts
    val keptTotal = out.agg(sum($"n_kept")).as[Long].head()
    val distinctParas = WebCuration.paragraphs(corpus).select($"para").distinct().count()
    assert(keptTotal === distinctParas)
    // an untouched unique doc keeps everything
    val full = out.filter($"n_kept" === $"n_paras").count()
    assert(full > 0)
    out.unpersist()
  }

  test("frontier schedule: per-host FIFO slots are dense; ticks hold ≤ perTick urls") {
    val out = WebCuration.frontierSchedule(Synth.pages(spark, sf0001)).cache()
    // slots are 0..n_host-1 per host (dense FIFO)
    val bad = out.groupBy($"host")
      .agg(count(lit(1)).as("n"), max($"slot").as("mx"), min($"slot").as("mn"),
        countDistinct($"slot").as("nd"))
      .filter($"mn" =!= 0 || $"mx" =!= $"n" - 1 || $"nd" =!= $"n")
    assert(bad.count() === 0, "slots must be a dense 0..n-1 per host")
    // politeness: no (host, tick) exceeds the per-tick budget
    val over = out.groupBy($"host", $"tick").agg(count(lit(1)).as("n"))
      .filter($"n" > 2)
    assert(over.count() === 0)
    out.unpersist()
  }

  test("url canonicalization collapses noise variants: one canonical per page, fetch counts preserved") {
    val pages = Synth.pages(spark, sf0001)
    val out = WebCuration.canonicalUrls(pages).cache()
    val nPages = pages.count()
    assert(out.count() === nPages) // noise never splits a page's fetches
    // total fetches = sum over pages of (pid % 3 + 1)
    val fetches = out.agg(sum($"n_fetches")).as[Long].head()
    val expected = pages.select(sum(col("pid") % 3 + 1)).as[Long].head()
    assert(fetches === expected)
    // canonical urls carry no noise and lowercase hosts
    assert(out.filter($"canon".contains("?") || $"canon".contains("#") ||
      $"canon" =!= lower($"canon")).count() === 0)
    out.unpersist()
  }

  test("pii scrub: clean text has no email/phone matches left, counts match the contamination rule") {
    val out = WebCuration.piiScrub(corpus).cache()
    assert(out.filter(
      size(regexp_extract_all($"clean", lit(WebCuration.EmailPat), lit(0))) > 0 ||
      size(regexp_extract_all($"clean", lit(WebCuration.PhonePat), lit(0))) > 0).count() === 0)
    assert(out.filter($"n_emails" =!= ($"doc_id" % 3).cast("int")).count() === 0)
    assert(out.filter($"n_phones" =!=
      when($"doc_id" % 5 === 0, 1).otherwise(0)).count() === 0)
    out.unpersist()
  }

  test("merge upsert: key-unique result, updates win, inserts present") {
    import graft.pipeline.Maintenance
    val target = Synth.forecast(spark)
    val updates = Maintenance.forecastRevisions(spark)
    val out = Maintenance.mergeUpsert(target, updates, "feature_id").cache()
    assert(out.groupBy($"feature_id").count().filter($"count" > 1).count() === 0)
    assert(out.count() === target.count() + 100) // inserts only grow the table
    // a revised key carries the revised value
    val k = 1000012L // divisible by 13 (13 × 76924)
    val merged = out.filter($"feature_id" === k).select($"discharge", $"src").head()
    val base = target.filter($"feature_id" === k).select($"discharge").as[Double].head()
    assert(merged.getString(1) === "upd" && merged.getDouble(0) === base * 1.2)
    out.unpersist()
  }

  test("stratified sample: exact per-language quota, deterministic across runs") {
    val out = WebCuration.stratifiedSample(corpus).cache()
    val kept = out.groupBy($"lang").count().as[(String, Long)].collect().toMap
    val totals = corpus.groupBy($"lang").count().as[(String, Long)].collect().toMap
    totals.foreach { case (lang, n) =>
      assert(kept(lang) === math.ceil(n * 0.3).toLong, s"lang=$lang n=$n")
    }
    // no RNG: a second evaluation picks the identical doc set
    val a = out.select($"doc_id").as[Long].collect().sorted
    val b = WebCuration.stratifiedSample(corpus).select($"doc_id").as[Long].collect().sorted
    assert(a.sameElements(b))
    out.unpersist()
  }

  test("k-means step: every vector lands in one cluster; member counts total the corpus") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val out = AnnSearch.kmeansStep(emb).cache()
    val nVecs = emb.count()
    // each (cid, pos) row counts that cluster's members; at any fixed pos the
    // counts across clusters partition the corpus
    val atPos0 = out.filter($"pos" === 0).agg(sum($"n_members")).as[Long].head()
    assert(atPos0 === nVecs)
    // all cluster ids come from the deterministic quantizer subset
    assert(out.filter($"cid" % 50 =!= 7).count() === 0)
    out.unpersist()
  }

  test("domainCap: at most k rows per host, highest-fetch URLs win, rank is total-ordered") {
    val pages = Synth.pages(spark, sf0001)
    val out = WebCuration.domainCap(pages).cache()
    // cap respected
    assert(out.groupBy($"host").count().filter($"count" > 2).count() === 0)
    // no dropped URL out-fetches a kept one on the same host
    val full = WebCuration.canonicalUrls(pages)
    val kept = out.select($"host", $"n_fetches".as("kept_f"))
    val dropped = full.join(out.select($"canon").withColumn("k", lit(1)), Seq("canon"), "left_anti")
    val worstKept = kept.groupBy($"host").agg(min($"kept_f").as("min_kept"))
    val bad = dropped.join(worstKept, "host").filter($"n_fetches" > $"min_kept")
    assert(bad.count() === 0)
    out.unpersist()
  }

  test("compaction plan: tasks are contiguous in key order and bounded by target + one partition") {
    import graft.pipeline.Maintenance
    val plan = Maintenance.hucCompactionPlan(spark, sf0001).cache()
    // task ids are non-decreasing in huc8 order
    val rows = plan.orderBy($"huc8").select($"n_rows", $"task").as[(Long, Long)].collect()
    assert(rows.map(_._2).sliding(2).forall(p => p.length < 2 || p(0) <= p(1)))
    // each task's total stays under target + its largest member (bin-pack bound)
    val byTask = plan.groupBy($"task")
      .agg(sum($"n_rows").as("total"), max($"n_rows").as("biggest"))
      .filter($"total" > lit(4096L) + $"biggest")
    assert(byTask.count() === 0)
    plan.unpersist()
  }

  test("hostBoilerplate: the banner paragraph is stripped host-wide; unique content survives verbatim") {
    val pages = Synth.pages(spark, sf0001)
    val out = WebCuration.hostBoilerplate(pages).cache()
    assert(out.count() === pages.count())
    // every page carries the banner, so every page flags ≥ 1 boiler para
    assert(out.filter($"n_boiler" < 1).count() === 0)
    // a surviving clean_text never contains a banner token
    assert(out.filter($"clean_text".isNotNull &&
      $"clean_text".contains("b-")).count() === 0)
    // deep check: for a page whose non-banner paragraphs are NOT shared by
    // half its host, clean_text is exactly the original text re-chunked into
    // 12-word paragraphs joined by ' | '
    val sample = pages.select($"pid", $"text").as[(Long, String)].head(50)
    val got = out.filter($"clean_text".isNotNull)
      .select($"pid", $"clean_text").as[(Long, String)].collect().toMap
    var checked = 0
    sample.foreach { case (pid, text) =>
      got.get(pid).foreach { clean =>
        val exp = text.split(" ").grouped(12).map(_.mkString(" ")).mkString(" | ")
        if (clean == exp) checked += 1
        else assert(clean.split(" \\| ").toSet.subsetOf(exp.split(" \\| ").toSet),
          s"pid $pid: survivors must be a subset of the original paragraphs")
      }
    }
    assert(checked > 0, "at least one page survives fully intact")
    out.unpersist()
  }

  test("mirrorHosts: every host pairs with its mirror at full overlap of the mirrored subset") {
    val pages = Synth.pages(spark, sf0001)
    val out = WebCuration.mirrorHosts(pages).cache()
    val hosts = pages.select($"url").as[String].collect()
      .map(_.split("/")(2)).distinct
    // expected: per host, the mirror carries the distinct texts of pid%3==0
    val expShared = pages.filter($"pid" % 3 === 0)
      .select($"url", $"text").as[(String, String)].collect()
      .groupBy(_._1.split("/")(2)).view.mapValues(_.map(_._2).distinct.length.toLong)
      .toMap
    val gotPairs = out.select($"host_a", $"host_b", $"n_shared", $"overlap_ppm")
      .as[(String, String, Long, Long)].collect()
    hosts.foreach { h =>
      val m = s"m-$h"
      val p = gotPairs.find(r => (r._1 == h && r._2 == m) || (r._1 == m && r._2 == h))
      assert(p.isDefined, s"host $h must pair with its mirror")
      assert(p.get._3 === expShared(h), s"host $h shared-doc count")
      // the mirror is the smaller side and is 100 % shared
      assert(p.get._4 === 1000000L, s"host $h overlap must be total on the mirror")
    }
    out.unpersist()
  }

  test("hostReputation: mirrors are blocked, originals are not mis-blocked, scores match q138's grain") {
    val pages = Synth.pages(spark, sf0001)
    val out = WebCuration.hostReputation(pages).cache()
    val mirrors = out.filter($"host".startsWith("m-"))
    assert(mirrors.count() > 0)
    // every mirror page's content exists on the original host → 100 % dup
    assert(mirrors.filter($"dup_ppm" =!= 1000000L || $"verdict" =!= "mirror-block")
      .count() === 0)
    // an original host's dup share is its mirrored third (±) — never ≥ 50 %
    assert(out.filter(!$"host".startsWith("m-") && $"verdict" === "mirror-block")
      .count() === 0)
    // verdict is a pure function of the two published columns
    val bad = out.filter(
      ($"dup_ppm" >= 500000L && $"verdict" =!= "mirror-block") ||
      ($"dup_ppm" < 500000L && $"score_ppk" < 1001000L && $"verdict" =!= "low-quality") ||
      ($"dup_ppm" < 500000L && $"score_ppk" >= 1001000L && $"verdict" =!= "keep"))
    assert(bad.count() === 0)
    out.unpersist()
  }

  test("robotsFilter: longest prefix wins, ties break least-restrictive, every url gets one verdict") {
    val pages = Synth.pages(spark, sf0001)
    val out = WebCuration.robotsFilter(pages).cache()
    assert(out.count() === pages.count(), "exactly one verdict per url")
    // ids starting with 1 match the allow rule '/doc/1' (len 6) — allowed
    // unless the host's extra digit rule ties (same len) — then allow still
    // wins (least-restrictive tie break)
    val idOf = (u: String) => u.split("/").last
    val rows = out.select($"url", $"rule_len", $"allowed", $"rule_prefix")
      .as[(String, Int, Int, String)].collect()
    rows.foreach { case (url, len, allowed, prefix) =>
      assert(url.contains(prefix), s"winning rule must actually match: $url $prefix")
      if (idOf(url).startsWith("1"))
        assert(len === 6 && allowed === 1, s"$url must be allowed via /doc/1")
      else assert(allowed === 0, s"$url: only /doc/1 ids are allowed")
    }
    // the generic '/doc/' rule only ever wins when no 6-char rule matches
    assert(rows.filter(_._2 == 5).forall(_._3 == 0))
    // brute-force spot check on one host: recompute the rule table
    val h = rows.head._1.split("/")(2)
    val d = (BigInt("0" + java.security.MessageDigest.getInstance("MD5")
      .digest(h.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15), 16) % 10).toLong
    val hostRows = rows.filter(_._1.split("/")(2) == h)
    hostRows.foreach { case (url, len, allowed, _) =>
      val id = idOf(url)
      val exp =
        if (id.startsWith("1")) (6, 1)
        else if (id.startsWith(d.toString)) (6, 0)
        else (5, 0)
      assert((len, allowed) === exp, s"$url (digit rule $d)")
    }
    out.unpersist()
  }

  test("crawlBudget: blocked hosts get zero; drift bucket scales the keep budget") {
    val pages = Synth.pages(spark, sf0001)
    val out = WebCuration.crawlBudget(pages).cache()
    // mirror hosts are mirror-blocked → zero budget
    val mirrors = out.filter($"host".startsWith("m-"))
    assert(mirrors.count() > 0)
    assert(mirrors.filter($"budget_fetches" =!= 0L).count() === 0)
    // every kept host's budget is n_pages × the bucket multiplier
    val bad = out.filter($"verdict" === "keep").filter(
      ($"bucket" === "volatile" && $"budget_fetches" =!= $"n_pages" * 4) ||
      ($"bucket" === "drifting" && $"budget_fetches" =!= $"n_pages" * 2) ||
      ($"bucket" === "static" && $"budget_fetches" =!= $"n_pages"))
    assert(bad.count() === 0)
    // budgets agree with the standalone chains
    val rep = WebCuration.hostReputation(pages).select($"host", $"verdict".as("v2"))
    val joined = out.join(rep, "host").filter($"verdict" =!= $"v2")
    assert(joined.count() === 0)
    out.unpersist()
  }

  test("content drift: host rollups match a per-page brute-force recompute") {
    val pages = Synth.pages(spark, sf0001)
    val out = WebCuration.contentDrift(pages).cache()
    // brute force: recompute every page's fetch-version sequence in Scala
    val hostOf = pages.select($"pid", $"url").as[(Long, String)].collect()
      .map { case (pid, url) => pid -> url.split("/")(2) }.toMap
    val pids = hostOf.keys.toArray.sorted
    def host(pid: Long) = hostOf(pid)
    // per-host expected totals from the closed forms
    val perPid = pids.map { pid =>
      val fs = 0L to (pid % 3)
      val changed = fs.count(f => f > 0 && (pid / (f + 1)) % 3 != (pid / f) % 3)
      (pid, fs.length - 1, changed.toLong)
    }
    val expTotals = perPid.map { case (_, r, c) => (r.toLong, c) }
      .foldLeft((0L, 0L)) { case ((ar, ac), (r, c)) => (ar + r, ac + c) }
    val gotTotals = out.agg(sum($"n_refetches"), sum($"n_changed"))
      .as[(Long, Long)].head()
    assert(gotTotals === expTotals)
    // n_urls covers every page exactly once
    assert(out.agg(sum($"n_urls")).as[Long].head() === pids.length.toLong)
    // bucket is consistent with the ppm rate on every host
    val bad = out.filter(
      ($"drift_ppm" >= 500000L && $"bucket" =!= "volatile") ||
        ($"drift_ppm" > 0L && $"drift_ppm" < 500000L && $"bucket" =!= "drifting") ||
        ($"drift_ppm" === 0L && $"bucket" =!= "static")).count()
    assert(bad === 0)
    // changes can only happen on refetches
    assert(out.filter($"n_changed" > $"n_refetches").count() === 0)
    // one deep check on an arbitrary multi-fetch host
    val h = host(perPid.filter(_._2 > 0).head._1)
    val exp = perPid.filter(p => host(p._1) == h)
    val row = out.filter($"host" === h)
      .select($"n_urls", $"n_refetches", $"n_changed").as[(Long, Long, Long)].head()
    assert(row === ((exp.length.toLong, exp.map(_._2.toLong).sum, exp.map(_._3).sum)))
    out.unpersist()
  }
}
