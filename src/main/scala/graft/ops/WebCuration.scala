package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Web-corpus curation operators beyond whole-document dedup: paragraph-level
  * global dedup (the C4/CCNet pass that removes boilerplate lines repeated
  * across pages), URL canonicalization + refetch collapse, and PII scrubbing
  * (regex redaction). All arithmetic/hashing is md5 + integer/IEEE-double so
  * the DuckDB oracle reproduces every value bit-for-bit.
  *
  * Scale notes: paragraph derivation is a pure per-row map (bounded by
  * [[MaxWords]] words per doc, no exchange); the dedup winner is a
  * partial-aggregating min over the paragraph-hash shuffle — one exchange
  * keyed on a 60-bit hash, the standard exact-dedup shape (at 100 TB you
  * shard the same key space; no driver state anywhere). URL canonicalization
  * is pure per-row string algebra (whole-stage codegen) plus one
  * partial-aggregating groupBy on the canonical key.
  */
object WebCuration {

  /** Words per synthetic paragraph (the corpus is single-space word text, so
    * fixed word windows stand in for newline-delimited paragraphs). */
  val ParaWords = 12

  /** Static bound on words per doc (corpus max is 100; the oracle's
    * generate_series needs a constant). */
  val MaxWords = 128

  private val DomainCap = 2 // canonical URLs kept per host
  private val PerTick = 2 // frontier requests per host per tick
  private val SampleFrac = 0.3 // stratified sample share per language
  private val MinSharePct = 50 // host boilerplate: share of the host's pages
  private val MinPages = 2 // host boilerplate: smallest host
  private val MaxHosts = 16 // mirror detection: hosts per hash before pairing
  private val MinShared = 3 // mirror detection: shared docs per host pair
  private val BasePerUrl = 1 // crawl budget: fetches per known URL

  /** A doc's first [[MaxWords]] whitespace words, as an array. */
  def words: Column = expr(s"slice(split(text, ' '), 1, $MaxWords)")

  /** (doc_id, para_id, para): fixed-word-window paragraphs — a PURE per-row
    * map (split → sliced word windows → posexplode), no shuffle. The earlier
    * form posexploded to one row per WORD and reassembled with a
    * (doc_id, para_id) groupBy: a corpus-×-avg-words exchange plus an
    * object-hash collect_list that degrades to sort-based past the per-task
    * fallback threshold — measured sub-linear at the ×256 corpus (docs/sec
    * ratio 0.59). Slicing the word array in place emits the identical rows
    * with zero exchanges, so paragraph derivation now scales with the scan.
    * (The oracle mirrors with a bounded generate_series over string_split.) */
  def paragraphs(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), paraWindows)

  /** (para_id, para) rows of the word array `ws`, one per [[ParaWords]] window. */
  private def paraWindows: Column =
    posexplode(expr(
      s"""transform(sequence(0, (size(ws) + ${ParaWords - 1}) div $ParaWords - 1),
         |  i -> array_join(slice(ws, i * $ParaWords + 1, $ParaWords), ' '))""".stripMargin))
      .as(Seq("para_id", "para"))

  /** Global paragraph-level dedup (q73): the first occurrence of each
    * paragraph — ordered by (doc_id, para_id) — survives; all later copies
    * are dropped. Returns one row per doc: paragraph counts and the cleaned
    * text reassembled from surviving paragraphs (NULL when every paragraph of
    * the doc was seen earlier, e.g. exact-clone docs). */
  def paragraphDedup(docs: DataFrame): DataFrame = {
    // 60-bit BIGINT key instead of the 32-char md5 string: 4× narrower
    // shuffle rows and integer comparisons; a 60-bit collision would only
    // merge two paragraphs' dedup groups (odds ~n²/2⁶¹) and the oracle
    // mirrors the same key, so parity is unaffected
    val paras = paragraphs(docs)
      // md5-prefix kernel: same 60-bit value as
      // conv(substring(md5(para),1,15),16,10), minus the hex round trip
      .withColumn("h", graft.functions.Md5Prefix60.md5Prefix60(col("para")))
    // winner per hash via a packed-BIGINT min — NOT a row_number window: the
    // partial aggregate collapses a boilerplate paragraph's million copies
    // map-side, and the join back is AQE-skew-splittable where a window
    // partition is not. The (doc_id, para_id) pair is packed into one BIGINT
    // (para_id < 2²⁰ always — ≤ MaxWords/ParaWords paragraphs per doc) so the
    // min stays a HashAggregate; min(struct) would degrade to SortAggregate.
    // Same winner as the oracle's row_number (lexicographic = numeric min).
    val packed = col("doc_id") * lit(1L << 20) + col("para_id")
    val winners = paras.groupBy(col("h")).agg(min(packed).as("wkey"))
    val marked = paras.join(winners, "h")
      .withColumn("kept", (packed === col("wkey")).cast("int"))
    marked
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_paras"), sum(col("kept")).as("n_kept"),
        // collect_list drops the nulls from the when(), so only kept
        // paragraphs are sorted back into document order
        array_join(
          transform(
            array_sort(collect_list(when(col("kept") === 1, struct(col("para_id"), col("para"))))),
            x => x("para")),
          " | ").as("joined"))
      .select(col("doc_id"), col("n_paras"), col("n_kept"),
        when(col("n_kept") > 0, col("joined")).otherwise(lit(null)).as("clean_text"))
  }

  /** Synthetic fetch log over the pages table: 1–3 fetches per page
    * (`f ∈ 0..pid%3`), each with deterministic URL noise — tracking query
    * params, fragments, and uppercased hosts — and a distinct fetch epoch.
    * This is the raw-crawl shape URL canonicalization has to collapse. */
  def fetchLog(pages: DataFrame): DataFrame =
    pages
      .select(col("pid"), col("url"),
        explode(sequence(lit(0L), col("pid") % 3)).as("f"))
      .select(col("pid"), col("f"),
        (lit(1700000000L) + col("pid") * 37 + col("f") * 86400).as("fetch_ts"),
        concat(
          when((col("pid") + col("f")) % 7 === 0, upper(col("url"))).otherwise(col("url")),
          when((col("pid") + col("f")) % 3 === 0,
            concat(lit("?utm_source=feed&ref="), (col("pid") % 7).cast("string"))).otherwise(lit("")),
          when((col("pid") + col("f")) % 4 === 0,
            concat(lit("#sec"), (col("pid") % 5).cast("string"))).otherwise(lit(""))).as("raw"))

  /** URL canonicalization + refetch collapse (q74): strip fragment then query
    * string, lowercase, take the host, and collapse the fetch log to one row
    * per canonical URL with fetch count, latest fetch epoch, and owning page.
    * Pure split_part/lower string algebra — no UDF, fully codegen'd. */
  def canonicalUrls(pages: DataFrame): DataFrame =
    fetchLog(pages)
      .withColumn("canon",
        lower(split_part(split_part(col("raw"), lit("#"), lit(1)), lit("?"), lit(1))))
      .withColumn("host", split_part(col("canon"), lit("/"), lit(3)))
      .groupBy(col("canon"), col("host"))
      .agg(count(lit(1)).as("n_fetches"), max(col("fetch_ts")).as("latest_ts"),
        min(col("pid")).as("first_pid"))

  /** Per-domain cap (q130) — C4-style host throttling: keep at most [[DomainCap]]
    * canonical URLs per host so no single domain dominates the training mix.
    * Order inside a host is total — (n_fetches desc, canon asc) — so the cut
    * is deterministic at any partitioning. The row_number ≤ cap filter is the
    * WindowGroupLimit shape: Spark pushes the rank limit into per-partition
    * top-k heaps before the exchange, so a million-page host costs cap rows
    * after the map side, never a full per-host sort spill. */
  def domainCap(pages: DataFrame): DataFrame = {
    val byHost = Window.partitionBy(col("host"))
      .orderBy(col("n_fetches").desc, col("canon").asc)
    canonicalUrls(pages)
      .withColumn("rnk", row_number().over(byHost))
      .filter(col("rnk") <= DomainCap)
      .select(col("host"), col("canon"), col("n_fetches"), col("latest_ts"),
        col("first_pid"), col("rnk").cast("int").as("rnk"))
  }

  /** q145: refetch content-drift ranking — the signal behind every crawler's
    * revisit policy: per host, how often does a page's content actually
    * CHANGE between fetches? Each page's fetch sequence (1–3 fetches, same
    * synthetic schedule as [[fetchLog]]) carries a deterministic content
    * version `v(f) = (pid div (f+1)) % 3`; a refetch "changed" iff its
    * version differs from the previous fetch's. Hosts roll up to a drift
    * rate in ppm and a revisit bucket (volatile ≥ 50 %, drifting > 0,
    * static).
    *
    * Scale notes: the change flag is CLOSED-FORM per fetch row (v(f) vs
    * v(f−1) — both computable from (pid, f) alone), so there is NO per-url
    * window and no lag(): the whole op is a per-row explode + two
    * partial-aggregating exchanges (pid grain — map-side combine collapses
    * the ≤ 3 co-located fetch rows before the shuffle — then host grain).
    * The ppm rate is exact BIGINT division; a host with no refetches reads
    * drift_ppm = 0 / static, not null. */
  def contentDrift(pages: DataFrame): DataFrame = {
    val fetches = pages
      .select(col("pid"), split_part(col("url"), lit("/"), lit(3)).as("host"),
        explode(sequence(lit(0L), col("pid") % 3)).as("f"))
      .withColumn("changed",
        when(col("f") === 0, lit(0L)).otherwise(
          (expr("(pid div (f + 1)) % 3") =!= expr("(pid div f) % 3")).cast("long")))
    val perUrl = fetches
      .groupBy(col("pid"), col("host"))
      .agg((count(lit(1)) - 1).as("n_refetches"), sum(col("changed")).as("n_changed"))
    perUrl
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_urls"),
        sum(col("n_refetches")).as("n_refetches"),
        sum(col("n_changed")).as("n_changed"))
      .withColumn("drift_ppm",
        when(col("n_refetches") === 0, lit(0L))
          .otherwise(expr("(n_changed * 1000000) div n_refetches")))
      .withColumn("bucket",
        when(col("drift_ppm") >= 500000L, lit("volatile"))
          .when(col("drift_ppm") > 0L, lit("drifting"))
          .otherwise(lit("static")))
  }

  /** q141: crawl-frontier politeness schedule — per host, a FIFO of its URLs
    * (by first-seen timestamp, then URL for a total order) dealt into fetch
    * ticks at [[PerTick]] requests per host per tick (the crawl-delay budget).
    * The per-host window is the HONEST cost: politeness serializes each host
    * by definition, so a host's schedule length IS its crawl time and the
    * skew bound is the politeness policy itself, not the engine — hosts
    * parallelize freely (partition key = host), and the global tick horizon
    * `max(tick)` falls out per host for capacity planning. */
  def frontierSchedule(pages: DataFrame): DataFrame = {
    val byHost = Window.partitionBy(col("host"))
      .orderBy(col("warc_ts"), col("url"))
    pages
      .select(col("url"), col("warc_ts"),
        split_part(col("url"), lit("/"), lit(3)).as("host"))
      .withColumn("slot", (row_number().over(byHost) - 1).cast("long"))
      .withColumn("tick", expr(s"slot div $PerTick"))
      .select(col("host"), col("url"), col("slot"), col("tick"))
  }

  /** Deterministic stratified subsample (q81) — training-mix balancing: per
    * language, keep the first ceil([[SampleFrac]] · n_lang) documents in content-hash
    * order (md5 of the id — a fixed pseudo-random permutation, so the sample
    * is reproducible across runs/engines with no RNG). The per-stratum rank
    * is the standard exact-quota shuffle: one window per stratum. At corpus
    * scale a skewed stratum serializes its partition — acceptable for
    * stratum-count ≪ corpus (languages), or swap in a per-stratum hash
    * threshold when approximate quotas suffice. */
  def stratifiedSample(docs: DataFrame): DataFrame = {
    val h = graft.functions.Md5Prefix60.md5Prefix60(col("doc_id").cast("string"))
    val w = Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))
    val cw = Window.partitionBy(col("lang"))
    docs.select(col("doc_id"), col("lang"), h.as("h"))
      .withColumn("rk", row_number().over(w))
      .withColumn("quota", ceil(count(lit(1)).over(cw) * lit(SampleFrac)).cast("long"))
      .filter(col("rk") <= col("quota"))
      .select(col("doc_id"), col("lang"), col("rk"), col("quota"))
  }

  val EmailPat = "[a-z0-9]+@[a-z0-9.]+"
  val PhonePat = "\\+1-555-[0-9]{4}"

  /** Deterministically contaminated corpus: `doc_id % 3` synthetic emails and
    * (for every 5th doc) one phone number appended to the text. (The repeat
    * count is a column, so the SQL form of `repeat` is used — the Scala
    * `functions.repeat` only accepts a literal count.) */
  def contaminated(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("text"),
        concat(lit(" user"), col("doc_id").cast("string"), lit("@mail"),
          (col("doc_id") % 7).cast("string"), lit(".example.com")).as("em"))
      .select(col("doc_id"),
        concat(col("text"),
          expr("repeat(em, CAST(doc_id % 3 AS INT))"),
          when(col("doc_id") % 5 === 0,
            concat(lit(" call +1-555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
            .otherwise(lit(""))).as("dirty"))

  /** PII scrubbing (q78): redact email- and phone-shaped spans, reporting
    * per-doc redaction counts. Patterns are RE2/Java-portable (plain char
    * classes, no lookaround) so Spark and the DuckDB oracle agree. */
  def piiScrub(docs: DataFrame): DataFrame =
    contaminated(docs)
      .select(col("doc_id"),
        size(regexp_extract_all(col("dirty"), lit(EmailPat), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("dirty"), lit(PhonePat), lit(0))).as("n_phones"),
        regexp_replace(regexp_replace(col("dirty"), EmailPat, "<EMAIL>"),
          PhonePat, "<PHONE>").as("clean"))

  /** Pages with a deterministic 12-word host banner prepended — the fixture
    * for host-level boilerplate detection (real crawls carry nav bars /
    * cookie notices on every page of a host; the synthetic corpus has no
    * markup, so a banner paragraph stands in). The banner occupies exactly
    * one [[ParaWords]] window, so the original text's windows keep their
    * alignment one paragraph later. */
  def pagesWithBanner(pages: DataFrame): DataFrame = {
    val host = split_part(col("url"), lit("/"), lit(3))
    pages.select(col("pid"), host.as("host"),
      concat(array_join(array_repeat(concat(lit("b-"), host), ParaWords), " "),
        lit(" "), col("text")).as("text"))
  }

  /** q146: host-level boilerplate removal — the template-stripping pass of
    * C4/CCNet-style curation: a paragraph that appears on ≥ [[MinSharePct]] %
    * of a host's pages (hosts with ≥ [[MinPages]] pages) is boilerplate
    * (header/footer/nav chrome), and every occurrence is dropped host-wide —
    * unlike global paragraph dedup (q73), which keeps first occurrences and
    * only collapses exact repeats corpus-wide. One row per page: paragraph
    * counts and the de-templated text (NULL when nothing survives).
    *
    * Scale notes: paragraph derivation is the q73 per-row map (no exchange);
    * page-presence counts are ONE partial-aggregating exchange on
    * (host, para-hash) — Spark's two-level partial distinct collapses a
    * banner's million copies map-side; the boilerplate flag table is tiny
    * (distinct template paragraphs per host) but is joined back on the SAME
    * (host, hash) shuffle key, so AQE skew-splits any mega-host; final
    * reassembly is one per-page aggregate. No windows anywhere. */
  def hostBoilerplate(pages: DataFrame): DataFrame = {
    val docs = pagesWithBanner(pages)
    val paras = docs
      .select(col("pid"), col("host"), split(col("text"), " ").as("ws"))
      .select(col("pid"), col("host"), paraWindows)
      .withColumn("h", graft.functions.Md5Prefix60.md5Prefix60(col("para")))
    val hostPages = docs.groupBy(col("host")).agg(count(lit(1)).as("h_pages"))
    val flags = paras.groupBy(col("host"), col("h"))
      .agg(countDistinct(col("pid")).as("n_with"))
      .join(hostPages, "host")
      .filter(col("n_with") * 100 >= col("h_pages") * MinSharePct &&
        col("h_pages") >= MinPages)
      .select(col("host"), col("h"), lit(1).as("boiler"))
    paras.join(flags, Seq("host", "h"), "left")
      .groupBy(col("pid"), col("host"))
      .agg(count(lit(1)).as("n_paras"),
        sum(coalesce(col("boiler"), lit(0))).cast("bigint").as("n_boiler"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("boiler").isNull, struct(col("para_id"), col("para"))))),
            x => x("para")),
          " | ").as("joined"))
      .select(col("pid"), col("host"), col("n_paras"), col("n_boiler"),
        when(col("n_paras") > col("n_boiler"), col("joined"))
          .otherwise(lit(null)).as("clean_text"))
  }

  /** Pages plus a mirror copy of every 3rd page on host `m-<host>` — the
    * fixture for mirror detection (3 is coprime to the 20-source cycle, so
    * every host grows a mirror). The mirror is a different URL with
    * byte-identical content, exactly what a mirrored site serves. */
  def pagesWithMirror(pages: DataFrame): DataFrame = {
    val mirrors = pages.filter(col("pid") % 3 === 0)
      .select(col("pid"),
        concat(lit("https://m-"), split_part(col("url"), lit("/"), lit(3)),
          lit("/doc/"), col("pid").cast("string")).as("url"),
        col("text"))
    pages.select(col("pid"), col("url"), col("text")).unionByName(mirrors)
  }

  /** q147: mirror-host detection — host pairs serving ≥ [[MinShared]]
    * byte-identical documents, with the overlap as ppm of the smaller
    * host's DISTINCT-CONTENT count (`sizes` counts distinct (host, hash)
    * rows, so a host's internal exact-duplicate pages collapse before the
    * denominator). The standard crawl-curation step that collapses
    * mirrored sites before per-host quotas are applied (a mirror would
    * otherwise double its content's weight in the corpus).
    *
    * Scale notes: the (host, content-hash) table is distinct-collapsed in
    * one partial-aggregating pass; hashes on more than [[MaxHosts]] hosts are
    * excluded BEFORE pairing (syndicated boilerplate on 10^4 hosts would
    * otherwise explode into 10^8 pairs — the cap bounds pair fan-out at
    * MaxHosts² per hash, the same guard every LSH band join here uses);
    * the pair self-join keys on the hash (AQE-splittable) and pair counts
    * collapse in ONE exchange on (host_a, host_b). */
  def mirrorHosts(pages: DataFrame): DataFrame = {
    val withM = pagesWithMirror(pages)
    val hh = withM.select(split_part(col("url"), lit("/"), lit(3)).as("host"),
        graft.functions.Md5Prefix60.md5Prefix60(col("text")).as("hb"))
      .distinct()
    val sizes = hh.groupBy(col("host")).agg(count(lit(1)).as("n_docs"))
    val eligible = hh.groupBy(col("hb")).agg(count(lit(1)).as("nh"))
      .filter(col("nh") >= 2 && col("nh") <= MaxHosts)
      .select(col("hb"))
    val e = hh.join(eligible, "hb")
    e.as("a").join(e.as("b"),
        col("a.hb") === col("b.hb") && col("a.host") < col("b.host"))
      .groupBy(col("a.host").as("host_a"), col("b.host").as("host_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= MinShared)
      .join(sizes.select(col("host").as("host_a"), col("n_docs").as("n_a")), "host_a")
      .join(sizes.select(col("host").as("host_b"), col("n_docs").as("n_b")), "host_b")
      .select(col("host_a"), col("host_b"), col("n_shared"),
        expr("n_shared * 1000000 div least(n_a, n_b)").as("overlap_ppm"))
  }

  /** q149: host-reputation rollup — the per-host curation table every
    * blocklist decision reads: page count, duplicated-content share (pages
    * whose content hash appears on ≥2 crawled URLs anywhere), the
    * hashed-classifier quality score at host grain, and the verdict
    * (`mirror-block` ≥ 50 % dup / `low-quality` below the classifier bar /
    * `keep`). Runs over the mirrored fixture so both block paths fire.
    *
    * Scale notes: classifier scoring is map-only (hash-derived weights —
    * q138's serving path) and collapses DIRECTLY to host grain in one
    * partial-aggregating exchange (no per-page intermediate); the dup flag
    * is one hash-count pass joined back on the content hash (AQE-
    * splittable); the final host join is host-cardinality-sized. */
  def hostReputation(pages: DataFrame): DataFrame = {
    val withM = pagesWithMirror(pages)
      .select(split_part(col("url"), lit("/"), lit(3)).as("host"),
        col("url"), col("text"))
    val scores = withM
      .select(col("host"),
        explode(words).as("w"))
      .withColumn("weight",
        (graft.functions.Md5Prefix60.md5Prefix60(col("w")) % QualityModels.FeatureDim)
          * 2654435761L % 2003L - 1001L)
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_words"), sum(col("weight")).as("w_sum"))
      .withColumn("score_ppk", expr("((w_sum + 1001 * n_words) * 1000) div n_words"))
    val hashed = withM.select(col("host"), col("url"),
      graft.functions.Md5Prefix60.md5Prefix60(col("text")).as("hb"))
    val dupHashes = hashed.groupBy(col("hb")).agg(count(lit(1)).as("nocc"))
    val dups = hashed.join(dupHashes, "hb")
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_pages"),
        sum(when(col("nocc") >= 2, 1L).otherwise(0L)).as("n_dup_pages"))
      .withColumn("dup_ppm", expr("n_dup_pages * 1000000 div n_pages"))
    dups.join(scores.select(col("host"), col("score_ppk")), "host")
      .select(col("host"), col("n_pages"), col("n_dup_pages"), col("dup_ppm"),
        col("score_ppk"),
        when(col("dup_ppm") >= 500000L, lit("mirror-block"))
          .when(col("score_ppk") < 1001000L, lit("low-quality"))
          .otherwise(lit("keep")).as("verdict"))
  }

  /** Deterministic per-host robots rule set — the fixture for longest-match
    * filtering: every host disallows `/doc/` generally, allows back the
    * `/doc/1` subtree (longest rule wins, so ids starting with 1 survive),
    * and disallows one extra host-specific leading digit (a hash of the
    * host name — exercises the case where the extra rule collides with and
    * then ties against the allow rule). */
  def robotsRules(pages: DataFrame): DataFrame = {
    val hosts = pages
      .select(split_part(col("url"), lit("/"), lit(3)).as("host")).distinct()
    hosts.select(col("host"), explode(array(
        struct(lit("/doc/").as("prefix"), lit(0).as("allow")),
        struct(lit("/doc/1").as("prefix"), lit(1).as("allow")),
        struct(concat(lit("/doc/"),
          (graft.functions.Md5Prefix60.md5Prefix60(col("host")) % 10)
            .cast("string")).as("prefix"), lit(0).as("allow")))).as("r"))
      .select(col("host"), col("r.prefix").as("prefix"), col("r.allow").as("allow"))
  }

  /** q154: robots-style URL-prefix filtering — apply a per-host rule table
    * with LONGEST-PREFIX-MATCH semantics (ties break least-restrictive,
    * then lexicographically — the REP tie rule, deterministic): per URL the
    * winning rule's length, allow verdict, and prefix. The crawl-side twin
    * of the PII scrub: every crawler applies exactly this shape at fetch
    * scheduling and at corpus admission.
    *
    * Scale notes: the rule table is rules-per-host-sized (a broadcast — the
    * real-world robots corpus is ~10⁷ hosts × a handful of rules; were it
    * bigger the join keys on host and shuffles the RULES, never re-keying
    * the page table); matching is map-only; the winner is ONE
    * partial-aggregating max(struct) per URL — no window, no second pass
    * over pages. */
  def robotsFilter(pages: DataFrame): DataFrame = {
    val rules = robotsRules(pages)
    val p = pages.select(col("url"),
      split_part(col("url"), lit("/"), lit(3)).as("host"),
      concat(lit("/"), split_part(col("url"), lit("/"), lit(4)),
        lit("/"), split_part(col("url"), lit("/"), lit(5))).as("path"))
    p.join(broadcast(rules), "host")
      .filter(col("path").startsWith(col("prefix")))
      .groupBy(col("url"), col("host"))
      .agg(max(struct(length(col("prefix")).as("len"), col("allow").as("allow"),
        col("prefix").as("prefix"))).as("m"))
      .select(col("url"), col("host"), col("m.len").as("rule_len"),
        col("m.allow").as("allowed"), col("m.prefix").as("rule_prefix"))
  }

  /** q155: crawl-budget allocation — the revisit plan the scheduler feeds
    * from: per host, the reputation verdict (q149) gates the budget to zero
    * for blocked hosts, and the content-drift bucket (q145) scales it
    * (volatile ×4 / drifting ×2 / static ×1) over [[BasePerUrl]] fetches per
    * known URL. Composes two oracle-checked chains end-to-end — the same
    * composition discipline as q50/q142.
    *
    * Scale notes: both inputs are already host-grain tables (each one
    * partial-aggregating exchange from the page table); the composition is
    * a host-cardinality join + a pure when-ladder — nothing page-sized
    * moves here. Mirror hosts (reputation's fixture side) carry no drift
    * row ⇒ left join + 'static' default, and their mirror-block verdict
    * zeroes the budget regardless. */
  def crawlBudget(pages: DataFrame): DataFrame = {
    val rep = hostReputation(pages).select(col("host"), col("n_pages"), col("verdict"))
    val drift = contentDrift(pages).select(col("host"), col("bucket"))
    rep.join(drift, Seq("host"), "left")
      .select(col("host"), col("n_pages"), col("verdict"),
        coalesce(col("bucket"), lit("static")).as("bucket"))
      .withColumn("mult",
        when(col("verdict") =!= "keep", lit(0L))
          .when(col("bucket") === "volatile", lit(4L))
          .when(col("bucket") === "drifting", lit(2L))
          .otherwise(lit(1L)))
      .select(col("host"), col("n_pages"), col("verdict"), col("bucket"),
        (col("n_pages") * col("mult") * BasePerUrl).as("budget_fetches"))
  }
}
