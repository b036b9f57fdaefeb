package graft
package queries

import org.apache.spark.sql.functions._
import graft.ops._
import graft.synth.Synth
import OracleSql._

/** Training-text curation and dedup queries over the web-text corpus:
  * exact, MinHash/LSH and embedding near-dup, quality, lexicon and packing. */
object TextDedupQueries {

  /** Shared oracle-CTE chain for the adaptive multi-table SRP near-dup
    * candidates (q49/q94): adaptive nBits (masked to the first `nb` of 16
    * bit-sums, nb from the corpus count — the same integer formula as
    * AnnSearch.adaptiveBits) × 8 hyperplane tables, mirroring
    * AnnSearch.nearDupPairs; `body` runs over the dts/nrm tables. */
  /** Dup-graph components (q118/q142): exact-content star edges ∪ the
    * Jaccard ≥ 0.9 LSH pairs of `jac`, closed by a recursive reachability
    * walk into `cmp(doc_id, component)` = the min reachable id. */
  private val dupComponentCtes: Seq[String] = Seq(corpus, sh, mh, bnd, prs,
    dsh, shSz, shInter, jacCte,
    """epr AS (
      |  SELECT g.doc_a, c.doc_id AS doc_b
      |  FROM corpus c JOIN (SELECT md5(text) AS h, min(doc_id) AS doc_a, count(*) AS n
      |                      FROM corpus GROUP BY md5(text) HAVING count(*) > 1) g
      |    ON md5(c.text) = g.h
      |  WHERE c.doc_id <> g.doc_a
      |)""".stripMargin,
    """edg AS (
      |  SELECT DISTINCT doc_a, doc_b FROM (
      |    SELECT doc_a, doc_b FROM epr
      |    UNION ALL
      |    SELECT doc_a, doc_b FROM jac WHERE jaccard >= CAST(0.9 AS DOUBLE))
      |)""".stripMargin,
    """und AS (
      |  SELECT doc_a AS a, doc_b AS b FROM edg
      |  UNION ALL
      |  SELECT doc_b AS a, doc_a AS b FROM edg
      |)""".stripMargin,
    "nds AS (SELECT DISTINCT a AS doc_id FROM und)",
    """reach AS (
      |  SELECT doc_id AS node, doc_id AS r FROM nds
      |  UNION
      |  SELECT u.b AS node, reach.r AS r FROM reach JOIN und u ON u.a = reach.node
      |)""".stripMargin,
    "cmp AS (SELECT node AS doc_id, min(r) AS component FROM reach GROUP BY node)")

  private def neardupOracle(body: String): String =
    withCtes(neardupCtes: _*)(body)

  /** [[neardupOracle]] with extra (possibly recursive) CTEs appended — the
    * q132 semantic-dedup oracle closes the scored pairs into connected
    * components with a recursive reachability walk. */
  private def neardupRecursiveOracle(extra: Seq[String])(body: String): String =
    withRecursiveCtes((neardupCtes ++ extra): _*)(body)

  private def neardupCtes: Seq[String] = {
      val tables = 8
      def bktCte(t: Int): String = {
        val sums = (0 until 16).map(b =>
          s"sum(q * ((((pos + ${t * 1009 + b * 37 + 1}) * 2654435761 >> 13) & 1) * 2 - 1)) AS p$b")
          .mkString(",\n        ")
        val bucket = (0 until 16).map(b =>
          s"CASE WHEN $b < (SELECT nb FROM nbv) AND p$b > 0 THEN ${1L << b} ELSE 0 END")
          .mkString(" + ")
        s"""bkt$t AS (
           |  SELECT vec_id, CAST($bucket AS BIGINT) AS bucket
           |  FROM (SELECT vec_id,
           |        $sums
           |        FROM qt GROUP BY vec_id))""".stripMargin
      }
      // capped window pairs: rank within bucket by a per-table hash order,
      // each vector pairs with its next 8 neighbors (equi-join on rank+k)
      val rankCtes = (0 until tables).map(t =>
        s"""rt$t AS (
           |  SELECT vec_id, bucket,
           |    row_number() OVER (PARTITION BY bucket
           |      ORDER BY ((vec_id + ${t * 7919}) * 2654435761) % 1000000007, vec_id) AS rn
           |  FROM bkt$t)""".stripMargin)
      val unions = (0 until tables).map(t =>
        s"""SELECT least(a.vec_id, b.vec_id) AS va, greatest(a.vec_id, b.vec_id) AS vb
           |    FROM (SELECT vec_id, bucket, rn + k.k AS rn
           |          FROM rt$t, generate_series(1, 8) k(k)) a
           |    JOIN rt$t b ON a.bucket = b.bucket AND a.rn = b.rn""".stripMargin)
        .mkString("\n    UNION ALL\n    ")
      Seq(qt, nrm,
        """nbv AS (
          |  SELECT CASE WHEN m <= 1 THEN 2 ELSE greatest(2, least(16, length(bin(m - 1)))) END AS nb
          |  FROM (SELECT (count(*) + 31) // 32 AS m FROM embeddings)
          |)""".stripMargin) ++ (0 until tables).map(bktCte) ++ rankCtes ++ Seq(
        s"""cp AS (
           |  SELECT DISTINCT va, vb FROM (
           |    $unions
           |  )
           |)""".stripMargin,
        """dts AS (
          |  SELECT c.va, c.vb, CAST(sum(x.q * y.q) AS BIGINT) AS dot
          |  FROM cp c JOIN qt x ON x.vec_id = c.va
          |  JOIN qt y ON y.vec_id = c.vb AND y.pos = x.pos
          |  GROUP BY c.va, c.vb
          |)""".stripMargin)
  }

  val queries: Seq[Query] = Seq(
    // ---- training-data pipeline ops over the web-text corpus ----
    // exact dedup (hash-groupBy)
    Query("q13_dedup_exact", (s, dir) => TextOps.exactDupGroups(Synth.corpus(s, dir)),
      withCtes(corpus)(
        """SELECT md5(text) AS text_md5, count(*) AS n, min(doc_id) AS keep_doc, max(doc_id) AS max_doc
          |FROM corpus GROUP BY md5(text) HAVING count(*) > 1""".stripMargin)),

    // MinHash signatures (long form)
    Query("q14_minhash", (s, dir) =>
      TextOps.minhashLong(Synth.corpus(s, dir))
        .select(col("doc_id"), col("seed").cast("int").as("seed"), col("minh")),
      withCtes(corpus, sh, mh)(
        "SELECT doc_id, CAST(seed AS INT) AS seed, minh FROM mh")),

    // LSH band-bucket candidate pairs
    Query("q15_lsh_pairs", (s, dir) => TextOps.lshPairs(Synth.corpus(s, dir)),
      withCtes(corpus, sh, mh, bnd, prs)("SELECT doc_a, doc_b FROM prs")),

    // exact n-gram Jaccard verification of the candidates
    Query("q16_jaccard", (s, dir) => TextOps.ngramJaccard(Synth.corpus(s, dir)),
      withCtes(corpus, sh, mh, bnd, prs, dsh, shSz, shInter, jacCte)(
        "SELECT doc_a, doc_b, jaccard FROM jac")),

    // SimHash fingerprints
    Query("q17_simhash", (s, dir) => TextOps.simhash16(Synth.corpus(s, dir)),
      {
        val sums = (0 until 16).map(k =>
          s"sum(CASE WHEN ((position(substring(h, ${k / 4 + 1}, 1) IN '0123456789abcdef') - 1) >> ${3 - k % 4}) % 2 = 1 THEN 1 ELSE -1 END) AS s$k")
          .mkString(",\n      ")
        val fp = (0 until 16).map(k => s"CASE WHEN s$k > 0 THEN ${1L << k} ELSE 0 END").mkString(" + ")
        withCtes(corpus, sh)(
          s"""SELECT doc_id, CAST($fp AS BIGINT) AS simhash
             |FROM (SELECT doc_id,
             |      $sums
             |      FROM (SELECT doc_id, md5(sh) AS h FROM sh) GROUP BY doc_id)""".stripMargin)
      }),

    // language-ID heuristic (marker-count argmax)
    Query("q18_langid", (s, dir) => TextOps.langId(Synth.corpus(s, dir)),
      withCtes(corpus,
        """lc AS (
          |  SELECT doc_id, lang,
          |    CAST((length(t2) - length(replace(t2, ' scan ', ''))) / 6 AS INT) AS c_en,
          |    CAST((length(t2) - length(replace(t2, ' join ', ''))) / 6 AS INT) AS c_es,
          |    CAST((length(t2) - length(replace(t2, ' sort ', ''))) / 6 AS INT) AS c_de,
          |    CAST((length(t2) - length(replace(t2, ' hash ', ''))) / 6 AS INT) AS c_fr,
          |    CAST((length(t2) - length(replace(t2, ' batch ', ''))) / 7 AS INT) AS c_zh
          |  FROM (SELECT doc_id, lang, ' ' || text || ' ' AS t2 FROM corpus)
          |)""".stripMargin)(
        """SELECT doc_id, lang,
          |  CASE WHEN c_en >= c_es AND c_en >= c_de AND c_en >= c_fr AND c_en >= c_zh THEN 'en'
          |       WHEN c_es >= c_de AND c_es >= c_fr AND c_es >= c_zh THEN 'es'
          |       WHEN c_de >= c_fr AND c_de >= c_zh THEN 'de'
          |       WHEN c_fr >= c_zh THEN 'fr' ELSE 'zh' END AS lang_pred,
          |  c_en, c_es, c_de, c_fr, c_zh
          |FROM lc""".stripMargin)),

    // quality scoring features + keep flag
    Query("q19_quality", (s, dir) => TextOps.quality(Synth.corpus(s, dir)),
      withCtes(corpus)(
        """SELECT doc_id, CAST(nc AS INT) AS n_chars_m, CAST(nt AS INT) AS n_tokens,
          |  CAST(al AS DOUBLE) / CAST(nt AS DOUBLE) AS mean_word_len,
          |  CAST(st AS DOUBLE) / CAST(nt AS DOUBLE) AS stop_ratio,
          |  CASE WHEN nt >= 16 AND CAST(al AS DOUBLE) / CAST(nt AS DOUBLE) >= 2.0
          |            AND CAST(al AS DOUBLE) / CAST(nt AS DOUBLE) <= 12.0 THEN 1 ELSE 0 END AS keep
          |FROM (SELECT doc_id, length(text) AS nc,
          |        CAST(length(text) - length(replace(text, ' ', '')) AS INT) + 1 AS nt,
          |        length(replace(text, ' ', '')) AS al,
          |        CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' the ', ''))) / 5 AS INT) AS st
          |      FROM corpus)""".stripMargin)),

    // k-min document fingerprint
    Query("q20_fingerprint", (s, dir) => TextOps.fingerprint(Synth.corpus(s, dir)),
      withCtes(corpus, sh, dsh)(
        """SELECT doc_id,
          |  CAST(min(CASE WHEN rn = 1 THEN hb END) AS VARCHAR) || '-'
          |    || CAST(min(CASE WHEN rn = 2 THEN hb END) AS VARCHAR) || '-'
          |    || CAST(min(CASE WHEN rn = 3 THEN hb END) AS VARCHAR) || '-'
          |    || CAST(min(CASE WHEN rn = 4 THEN hb END) AS VARCHAR) AS fp,
          |  count(*) AS k
          |FROM (SELECT doc_id, hb, row_number() OVER (PARTITION BY doc_id ORDER BY hb) AS rn
          |      FROM dsh)
          |WHERE rn <= 4 GROUP BY doc_id""".stripMargin)),

    // composed curation pipeline: quality ∧ ¬exact-dup ∧ ¬near-dup
    Query("q50_curation", (s, dir) => TextOps.curate(Synth.corpus(s, dir)),
      withCtes(corpus, sh, mh, bnd, prs, dsh, shSz, shInter, jacCte,
        """ql AS (
          |  SELECT doc_id, CAST(nt AS INT) AS n_tokens,
          |    CAST(al AS DOUBLE) / CAST(nt AS DOUBLE) AS mean_word_len,
          |    CAST(st AS DOUBLE) / CAST(nt AS DOUBLE) AS stop_ratio
          |  FROM (SELECT doc_id,
          |          CAST(length(text) - length(replace(text, ' ', '')) AS INT) + 1 AS nt,
          |          length(replace(text, ' ', '')) AS al,
          |          CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' the ', ''))) / 5 AS INT) AS st
          |        FROM corpus)
          |  WHERE nt >= 16 AND CAST(al AS DOUBLE) / CAST(nt AS DOUBLE) >= 2.0
          |    AND CAST(al AS DOUBLE) / CAST(nt AS DOUBLE) <= 12.0
          |)""".stripMargin,
        """dlose AS (
          |  SELECT c.doc_id FROM corpus c
          |  JOIN (SELECT md5(text) AS h, min(doc_id) AS keeper, count(*) AS n
          |        FROM corpus GROUP BY md5(text) HAVING count(*) > 1) g
          |    ON md5(c.text) = g.h
          |  WHERE c.doc_id <> g.keeper
          |)""".stripMargin,
        """nlose AS (
          |  SELECT DISTINCT doc_b AS doc_id FROM jac WHERE jaccard >= CAST(0.9 AS DOUBLE)
          |)""".stripMargin)(
        """SELECT q.doc_id, q.n_tokens, q.mean_word_len, q.stop_ratio
          |FROM ql q
          |WHERE NOT EXISTS (SELECT 1 FROM dlose d WHERE d.doc_id = q.doc_id)
          |  AND NOT EXISTS (SELECT 1 FROM nlose n WHERE n.doc_id = q.doc_id)""".stripMargin)),

    // token counting: whitespace + BPE-ish regex segmentation
    Query("q51_tokens", (s, dir) => TextOps.tokenCounts(Synth.corpus(s, dir)),
      withCtes(corpus)(
        """SELECT doc_id,
          |  CAST(length(text) - length(replace(text, ' ', '')) AS INT) + 1 AS ws_tokens,
          |  CAST(len(regexp_extract_all(text, '[a-z]+|[A-Z][a-z]*|[0-9]+|[^A-Za-z0-9 ]')) AS INT) AS bpeish_tokens
          |FROM corpus""".stripMargin)),

    // repetition filter: most-frequent-shingle share (Gopher-style quality gate)
    Query("q71_repetition", (s, dir) => TextOps.repetition(Synth.corpus(s, dir)),
      withCtes(corpus, sh,
        """rc AS (
          |  SELECT doc_id, hb, count(*) AS cnt
          |  FROM (SELECT doc_id, CAST('0x' || substring(md5(sh), 1, 15) AS BIGINT) AS hb FROM sh)
          |  GROUP BY doc_id, hb
          |)""".stripMargin)(
        """SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_shingles, count(*) AS n_distinct,
          |  max(cnt) AS top_n,
          |  CAST(max(cnt) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE) AS rep_ratio,
          |  CAST(CASE WHEN CAST(max(cnt) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE) <= CAST(0.2 AS DOUBLE)
          |       THEN 1 ELSE 0 END AS INT) AS keep_rep
          |FROM rc GROUP BY doc_id""".stripMargin)),

    // brute-force quantized-cosine top-k ANN
    Query("q21_ann_brute", (s, dir) =>
      AnnSearch.bruteTopK(Synth.table(s, dir, "embeddings")),
      withCtes(qt, nrm,
        """dots AS (
          |  SELECT a.vec_id AS qvec, b.vec_id AS vec, CAST(sum(a.q * b.q) AS BIGINT) AS dot
          |  FROM qt a JOIN qt b ON a.pos = b.pos
          |  WHERE a.vec_id % 250 = 0 AND a.vec_id <> b.vec_id
          |  GROUP BY a.vec_id, b.vec_id
          |)""".stripMargin,
        """scored AS (
          |  SELECT d.qvec, d.vec,
          |    CAST(d.dot AS DOUBLE) / (sqrt(CAST(qn.n2 AS DOUBLE)) * sqrt(CAST(vn.n2 AS DOUBLE))) AS cos
          |  FROM dots d JOIN nrm qn ON d.qvec = qn.vec_id JOIN nrm vn ON d.vec = vn.vec_id
          |)""".stripMargin)(
        """SELECT qvec, CAST(rank AS INT) AS rank, vec, cos
          |FROM (SELECT qvec, vec, cos,
          |        row_number() OVER (PARTITION BY qvec ORDER BY cos DESC, vec ASC) AS rank
          |      FROM scored)
          |WHERE rank <= 5""".stripMargin)),

    // SRP bucket assignment (the LSH scale path for ANN)
    Query("q22_srp_buckets", (s, dir) =>
      AnnSearch.srpBuckets(Synth.table(s, dir, "embeddings")),
      {
        val sums = (0 until 8).map(b =>
          s"sum(q * ((((pos + ${b * 37 + 1}) * 2654435761 >> 13) & 1) * 2 - 1)) AS p$b").mkString(",\n      ")
        val bucket = (0 until 8).map(b => s"CASE WHEN p$b > 0 THEN ${1L << b} ELSE 0 END").mkString(" + ")
        withCtes(qt)(
          s"""SELECT vec_id, CAST($bucket AS BIGINT) AS bucket
             |FROM (SELECT vec_id,
             |      $sums
             |      FROM qt GROUP BY vec_id)""".stripMargin)
      }),

    // IVF ANN: deterministic coarse quantizer, nProbe nearest lists, exact
    // rerank — the cluster-pruned scale path beside the SRP hash tables
    Query("q72_ivf_topk", (s, dir) =>
      AnnSearch.ivfTopK(Synth.table(s, dir, "embeddings")),
      withCtes(qt, nrm,
        "cvq AS (SELECT vec_id AS cid, pos, q AS cq FROM qt WHERE vec_id % 50 = 7)",
        "cnr AS (SELECT vec_id AS cid, n2 AS cn2 FROM nrm WHERE vec_id % 50 = 7)",
        """ivfd AS (
          |  SELECT a.vec_id, c.cid, CAST(sum(a.q * c.cq) AS BIGINT) AS dot
          |  FROM qt a JOIN cvq c ON a.pos = c.pos
          |  GROUP BY a.vec_id, c.cid
          |)""".stripMargin,
        """ivfs AS (
          |  SELECT d.vec_id, d.cid, CAST(d.dot AS DOUBLE) / sqrt(CAST(n.cn2 AS DOUBLE)) AS score
          |  FROM ivfd d JOIN cnr n ON d.cid = n.cid
          |)""".stripMargin,
        """asg72 AS (
          |  SELECT vec_id, cid FROM (
          |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cid ASC) AS rn
          |    FROM ivfs) WHERE rn = 1
          |)""".stripMargin,
        """prb AS (
          |  SELECT vec_id AS qvec, cid FROM (
          |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cid ASC) AS rn
          |    FROM ivfs WHERE vec_id % 250 = 0) WHERE rn <= 3
          |)""".stripMargin,
        """cnd AS (
          |  SELECT DISTINCT p.qvec, a.vec_id AS vec
          |  FROM prb p JOIN asg72 a ON p.cid = a.cid
          |  WHERE p.qvec <> a.vec_id
          |)""".stripMargin,
        """dt72 AS (
          |  SELECT c.qvec, c.vec, CAST(sum(x.q * y.q) AS BIGINT) AS dot
          |  FROM cnd c JOIN qt x ON x.vec_id = c.qvec
          |  JOIN qt y ON y.vec_id = c.vec AND y.pos = x.pos
          |  GROUP BY c.qvec, c.vec
          |)""".stripMargin,
        """sc72 AS (
          |  SELECT d.qvec, d.vec,
          |    CAST(d.dot AS DOUBLE) / (sqrt(CAST(qn.n2 AS DOUBLE)) * sqrt(CAST(vn.n2 AS DOUBLE))) AS cos
          |  FROM dt72 d JOIN nrm qn ON d.qvec = qn.vec_id JOIN nrm vn ON d.vec = vn.vec_id
          |)""".stripMargin)(
        """SELECT qvec, CAST(rank AS INT) AS rank, vec, cos
          |FROM (SELECT qvec, vec, cos,
          |        row_number() OVER (PARTITION BY qvec ORDER BY cos DESC, vec ASC) AS rank
          |      FROM sc72)
          |WHERE rank <= 5""".stripMargin)),

    // embedding-cosine near-dup pairs: adaptive multi-table SRP candidates
    // (bit count from corpus size → bucket population ≈ constant) ≥ threshold.
    // This is the ARTIFACT BUILDER: the scored-pair table is persisted once
    // and read back (the cost measured here is the honest end-to-end build)
    Query("q49_embed_neardup", (s, dir) =>
      AnnSearch.writeNearDupPairs(Synth.table(s, dir, "embeddings"), dir)
        .filter(col("cos") >= 0.35)
        .select(col("va"), col("vb"), col("cos")),
      neardupOracle(
        """SELECT d.va, d.vb,
          |  CAST(d.dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cos
          |FROM dts d JOIN nrm na ON d.va = na.vec_id JOIN nrm nb ON d.vb = nb.vec_id
          |WHERE CAST(d.dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
          |  >= CAST(0.35 AS DOUBLE)""".stripMargin)),

    // near-dup threshold tuning: cosine-band histogram over ALL candidate
    // pairs (what moves if the dedup cut-off shifts a band) — reads the
    // persisted pairs artifact; reports don't re-derive the SRP chain
    Query("q94_neardup_hist", (s, dir) =>
      AnnSearch.readNearDupPairs(Synth.table(s, dir, "embeddings"), dir)
        .select(floor(col("cos") * lit(10.0)).cast("long").as("band"), col("cos"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_pairs"),
          min(col("cos")).as("cos_min"), max(col("cos")).as("cos_max")),
      neardupOracle(
        """SELECT CAST(floor(cosv * CAST(10.0 AS DOUBLE)) AS BIGINT) AS band,
          |  count(*) AS n_pairs, min(cosv) AS cos_min, max(cosv) AS cos_max
          |FROM (SELECT CAST(d.dot AS DOUBLE)
          |        / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cosv
          |      FROM dts d JOIN nrm na ON d.va = na.vec_id JOIN nrm nb ON d.vb = nb.vec_id)
          |GROUP BY CAST(floor(cosv * CAST(10.0 AS DOUBLE)) AS BIGINT)""".stripMargin)),

    // paragraph-level global dedup (C4/CCNet boilerplate pass): first
    // occurrence of each paragraph survives; docs report kept counts + the
    // reassembled clean text
    Query("q73_para_dedup", (s, dir) =>
      WebCuration.paragraphDedup(Synth.corpus(s, dir)),
      withCtes(corpus, wrd, par, kpt)(
        """SELECT doc_id, count(*) AS n_paras, CAST(sum(kept) AS BIGINT) AS n_kept,
          |  string_agg(para, ' | ' ORDER BY para_id) FILTER (WHERE kept = 1) AS clean_text
          |FROM kpt GROUP BY doc_id""".stripMargin)),

    // PII scrubbing: redact email/phone spans, count redactions per doc
    Query("q78_pii_scrub", (s, dir) =>
      WebCuration.piiScrub(Synth.corpus(s, dir)),
      withCtes(corpus,
        """drt AS (
          |  SELECT doc_id,
          |    text || repeat(' user' || CAST(doc_id AS VARCHAR) || '@mail'
          |                     || CAST(doc_id % 7 AS VARCHAR) || '.example.com',
          |                   CAST(doc_id % 3 AS INT))
          |         || (CASE WHEN doc_id % 5 = 0
          |               THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
          |               ELSE '' END) AS dirty
          |  FROM corpus
          |)""".stripMargin)(
        """SELECT doc_id,
          |  CAST(len(regexp_extract_all(dirty, '[a-z0-9]+@[a-z0-9.]+')) AS INT) AS n_emails,
          |  CAST(len(regexp_extract_all(dirty, '\+1-555-[0-9]{4}')) AS INT) AS n_phones,
          |  regexp_replace(regexp_replace(dirty, '[a-z0-9]+@[a-z0-9.]+', '<EMAIL>', 'g'),
          |                 '\+1-555-[0-9]{4}', '<PHONE>', 'g') AS clean
          |FROM drt""".stripMargin)),

    // incremental dedup: new batch LSH-checked against the existing corpus
    // only (no batch×batch / base×base pairs; no corpus-wide re-LSH)
    Query("q83_incr_dedup", (s, dir) =>
      TextOps.incrementalDedup(Synth.corpus(s, dir)),
      withCtes(corpus, sh, mh, bnd, prs,
        "iprs AS (SELECT doc_a, doc_b FROM prs WHERE doc_a < 1000000 AND doc_b >= 1000000)",
        dsh, shSz, interOf("inter", "iprs"), jacOf("ij", "iprs", "inter"))(
        """SELECT doc_b AS doc_id, doc_a AS match_doc, jaccard,
          |  CAST(CASE WHEN jaccard >= CAST(0.9 AS DOUBLE) THEN 1 ELSE 0 END AS INT) AS is_dup
          |FROM (SELECT doc_a, doc_b, jaccard,
          |        row_number() OVER (PARTITION BY doc_b ORDER BY jaccard DESC, doc_a ASC) AS rn
          |      FROM ij)
          |WHERE rn = 1""".stripMargin)),

    // one distributed Lloyd (k-means) iteration: broadcast-centroid E-step,
    // exact quantized M-step sums (order-insensitive where float means
    // are not)
    Query("q80_kmeans_step", (s, dir) =>
      AnnSearch.kmeansStep(Synth.table(s, dir, "embeddings")),
      withCtes(qt, nrm,
        "cvq AS (SELECT vec_id AS cid, pos, q AS cq FROM qt WHERE vec_id % 50 = 7)",
        "cnr AS (SELECT vec_id AS cid, n2 AS cn2 FROM nrm WHERE vec_id % 50 = 7)",
        """kmd AS (
          |  SELECT a.vec_id, c.cid, CAST(sum(a.q * c.cq) AS BIGINT) AS dot
          |  FROM qt a JOIN cvq c ON a.pos = c.pos
          |  GROUP BY a.vec_id, c.cid
          |)""".stripMargin,
        """kms AS (
          |  SELECT d.vec_id, d.cid, CAST(d.dot AS DOUBLE) / sqrt(CAST(n.cn2 AS DOUBLE)) AS score
          |  FROM kmd d JOIN cnr n ON d.cid = n.cid
          |)""".stripMargin,
        """kma AS (
          |  SELECT vec_id, cid FROM (
          |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cid ASC) AS rn
          |    FROM kms) WHERE rn = 1
          |)""".stripMargin)(
        """SELECT a.cid, q.pos, CAST(sum(q.q) AS BIGINT) AS sum_q,
          |  count(*) AS n_members
          |FROM qt q JOIN kma a ON q.vec_id = a.vec_id
          |GROUP BY a.cid, q.pos""".stripMargin)),

    // deterministic stratified subsample: per-language quota in
    // content-hash order (training-mix balancing, no RNG)
    Query("q81_stratified", (s, dir) =>
      WebCuration.stratifiedSample(Synth.corpus(s, dir)),
      withCtes(corpus,
        """shash AS (
          |  SELECT doc_id, lang,
          |    CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
          |  FROM corpus
          |)""".stripMargin,
        """srank AS (
          |  SELECT doc_id, lang, h,
          |    row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rk,
          |    CAST(ceil(count(*) OVER (PARTITION BY lang) * CAST(0.3 AS DOUBLE)) AS BIGINT) AS quota
          |  FROM shash
          |)""".stripMargin)(
        "SELECT doc_id, lang, CAST(rk AS BIGINT) AS rk, quota FROM srank WHERE rk <= quota")),

    // dedup report: exact-content cluster-size histogram (C4-style removal
    // accounting — clusters, docs held, docs a keep-one pass removes)
    Query("q93_dup_clusters", (s, dir) =>
      TextOps.dupClusterStats(Synth.corpus(s, dir)),
      withCtes(corpus,
        """cl93 AS (
          |  SELECT md5(text) AS h, count(*) AS cluster_size FROM corpus GROUP BY md5(text)
          |)""".stripMargin)(
        """SELECT cluster_size, count(*) AS n_clusters,
          |  cluster_size * count(*) AS n_docs,
          |  (cluster_size - 1) * count(*) AS n_removed
          |FROM cl93 GROUP BY cluster_size""".stripMargin)),

    // cluster-level dedup ledger: exact-content + verified near-dup edges →
    // connected components (min-label propagation + pointer jumping) →
    // canonical doc + cluster size — the keep-one-per-COMPONENT pass that
    // follows pair generation in C4/RefinedWeb-style dedup
    Query("q118_dup_components", (s, dir) =>
      DedupGraph.dupComponents(Synth.corpus(s, dir)),
      // dup-graph connected components: exact-content star edges ∪ Jaccard-
      // verified LSH pairs, closed by a recursive reachability walk; the Spark
      // side's min-label propagation must converge to the same min-reachable-id
      withRecursiveCtes(dupComponentCtes :+
        "csz AS (SELECT component, count(*) AS cluster_size FROM cmp GROUP BY component)": _*)(
        """SELECT c.doc_id, c.component, s.cluster_size,
          |  CAST(CASE WHEN c.doc_id = c.component THEN 1 ELSE 0 END AS INT) AS keep
          |FROM cmp c JOIN csz s ON c.component = s.component""".stripMargin)),

    // benchmark decontamination: the eval set's (base docs ≡ 0 mod 37)
    // distinct 8-gram hashes broadcast against the corpus shingle table;
    // per-doc overlap count + contamination flag (GPT-3-style n-gram leak
    // check)
    Query("q119_decontaminate", (s, dir) => {
      val c = Synth.corpus(s, dir)
      TextOps.decontaminate(c,
        c.filter(Synth.isBaseDoc(col("doc_id")) && col("doc_id") % 37 === 0))
    },
      // benchmark decontamination: eval shingle set ⋈ corpus distinct shingles
      withCtes(corpus, sh, dsh,
        "esh AS (SELECT DISTINCT hb FROM dsh WHERE doc_id < 1000000 AND doc_id % 37 = 0)",
        "szq AS (SELECT doc_id, count(*) AS n_shingles FROM dsh GROUP BY doc_id)",
        """ovq AS (SELECT d.doc_id, count(*) AS n_overlap
          |        FROM dsh d JOIN esh e ON d.hb = e.hb GROUP BY d.doc_id)""".stripMargin)(
        """SELECT o.doc_id, s.n_shingles, o.n_overlap,
          |  CAST(o.n_overlap AS DOUBLE) / CAST(s.n_shingles AS DOUBLE) AS overlap_frac,
          |  CAST(CASE WHEN CAST(o.n_overlap AS DOUBLE) / CAST(s.n_shingles AS DOUBLE)
          |              >= CAST(0.2 AS DOUBLE) THEN 1 ELSE 0 END AS INT) AS contaminated
          |FROM ovq o JOIN szq s ON o.doc_id = s.doc_id""".stripMargin)),

    // corpus boilerplate heavy hitters: top-20 shingle hashes by document
    // frequency (partial agg → TakeOrderedAndProject, no global sort)
    Query("q120_shingle_topk", (s, dir) => TextOps.shingleTopK(Synth.corpus(s, dir)),
      // shingle heavy hitters: total-ordered top-20 by document frequency
      withCtes(corpus, sh, dsh)(
        "SELECT hb, count(*) AS df_docs FROM dsh GROUP BY hb ORDER BY df_docs DESC, hb LIMIT 20")),

    // per-doc salient terms: rational TF-IDF (tf·N/df, one double division)
    // top-3 per doc with total-ordered ties
    Query("q121_tfidf", (s, dir) => Lexicon.tfidfTopK(Synth.corpus(s, dir)),
      // rational TF-IDF top-3 terms per doc (tf·N exact BIGINT, one division)
      withCtes(corpus, wrd,
        "tfq AS (SELECT doc_id, w, count(*) AS tf FROM wrd GROUP BY doc_id, w)",
        "dfq AS (SELECT w, count(*) AS df_docs FROM tfq GROUP BY w)",
        "ndc AS (SELECT count(*) AS n_docs FROM corpus)",
        """scq AS (
          |  SELECT t.doc_id, t.w, t.tf, d.df_docs,
          |    CAST(t.tf * n.n_docs AS DOUBLE) / CAST(d.df_docs AS DOUBLE) AS score
          |  FROM tfq t JOIN dfq d ON t.w = d.w CROSS JOIN ndc n
          |)""".stripMargin,
        """rkq AS (
          |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, w) AS rnk
          |  FROM scq
          |)""".stripMargin)(
        """SELECT doc_id, w, tf, df_docs, score, CAST(rnk AS INT) AS rnk
          |FROM rkq WHERE rnk <= 3""".stripMargin)),

    // inverted-index probe: full postings (doc, tf) for one probe doc's
    // term set — broadcast term set against the postings table
    Query("q122_postings", (s, dir) => Lexicon.postingsProbe(Synth.corpus(s, dir)),
      // inverted-index probe: postings for doc 7's term set
      withCtes(corpus, wrd,
        "tfq AS (SELECT doc_id, w, count(*) AS tf FROM wrd GROUP BY doc_id, w)",
        "trm AS (SELECT DISTINCT w FROM wrd WHERE doc_id = 7)")(
        "SELECT t.w, t.doc_id, t.tf FROM tfq t JOIN trm ON t.w = trm.w")),

    // vocabulary statistics: df / total tf / id range per word — scalar
    // aggregates only, no posting arrays (stop-word lists are corpus-sized)
    Query("q123_vocab", (s, dir) => Lexicon.vocabulary(Synth.corpus(s, dir)),
      // vocabulary stats: scalar aggregates per word
      withCtes(corpus, wrd,
        "tfq AS (SELECT doc_id, w, count(*) AS tf FROM wrd GROUP BY doc_id, w)")(
        """SELECT w, count(*) AS df_docs, CAST(sum(tf) AS BIGINT) AS tf_total,
          |  min(doc_id) AS doc_min, max(doc_id) AS doc_max
          |FROM tfq GROUP BY w""".stripMargin)),

    // sequence-packing ledger: concatenate-then-chunk at 2048 tokens per
    // window, hash-sharded writers — each doc's token interval and the
    // windows it spans
    Query("q124_seq_pack", (s, dir) => Packing.seqPack(Synth.corpus(s, dir)),
      // sequence packing: per-shard running token offsets, windows spanned
      withCtes(corpus,
        """tok AS (
          |  SELECT doc_id, CAST(doc_id % 64 AS INT) AS shard,
          |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
          |  FROM corpus
          |)""".stripMargin,
        """cum AS (
          |  SELECT *, sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tok_end
          |  FROM tok
          |)""".stripMargin)(
        """SELECT doc_id, shard, n_tokens,
          |  CAST(tok_end - n_tokens AS BIGINT) AS tok_start,
          |  CAST(tok_end AS BIGINT) AS tok_end,
          |  CAST((tok_end - n_tokens) // 2048 AS BIGINT) AS seq_first,
          |  CAST((tok_end - 1) // 2048 AS BIGINT) AS seq_last,
          |  CAST((tok_end - 1) // 2048 - (tok_end - n_tokens) // 2048 + 1 AS BIGINT) AS n_seqs
          |FROM cum""".stripMargin)),

    // temperature mix plan: per-language doc/token mass, α=1/2 weight via
    // exact integer sqrt, normalized weight + integer doc quota
    Query("q125_mix_weights", (s, dir) => Packing.mixWeights(Synth.corpus(s, dir)),
      // mix plan: α=1/2 weights via exact integer sqrt + correction ladder
      withCtes(corpus,
        """per AS (
          |  SELECT lang, count(*) AS n_docs,
          |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
          |  FROM corpus GROUP BY lang
          |)""".stripMargin,
        """wq AS (
          |  SELECT lang, n_docs, n_tokens,
          |    CASE WHEN s1 * s1 > n_docs THEN s1 - 1
          |         WHEN (s1 + 1) * (s1 + 1) <= n_docs THEN s1 + 1
          |         ELSE s1 END AS w_sqrt
          |  FROM (SELECT *, CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT) AS s1 FROM per)
          |)""".stripMargin,
        "tot AS (SELECT CAST(sum(w_sqrt) AS BIGINT) AS w_total FROM wq)")(
        """SELECT lang, n_docs, n_tokens, w_sqrt,
          |  CAST(w_sqrt AS DOUBLE) / CAST(w_total AS DOUBLE) AS weight,
          |  CAST((w_sqrt * 1000000) // w_total AS BIGINT) AS quota_docs
          |FROM wq CROSS JOIN tot""".stripMargin)),

    // span-level duplication profile (duplicated-substring dedup view):
    // per-doc duplicated-shingle count/fraction + heavy-dup verdict
    Query("q126_dup_spans", (s, dir) => TextOps.dupSpanProfile(Synth.corpus(s, dir)),
      // span-level duplication profile: df per shingle hash, per-doc dup share
      withCtes(corpus, sh, dsh,
        "dfq AS (SELECT hb, count(*) AS df_docs FROM dsh GROUP BY hb)")(
        """SELECT d.doc_id, count(*) AS n_shingles,
          |  CAST(sum(CASE WHEN f.df_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
          |  CAST(sum(CASE WHEN f.df_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
          |    / CAST(count(*) AS DOUBLE) AS dup_frac,
          |  CAST(CASE WHEN CAST(sum(CASE WHEN f.df_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
          |      / CAST(count(*) AS DOUBLE) >= CAST(0.5 AS DOUBLE)
          |    THEN 1 ELSE 0 END AS INT) AS heavy_dup
          |FROM dsh d JOIN dfq f ON d.hb = f.hb GROUP BY d.doc_id""".stripMargin)),

    // one BPE-style merge iteration: top-20 adjacent word pairs, total-ordered
    Query("q127_bpe_pairs", (s, dir) => Lexicon.bpePairs(Synth.corpus(s, dir)),
      // BPE merge step: adjacent word pairs from the bounded word table
      withCtes(corpus, wrd,
        """bpr AS (
          |  SELECT a.w AS w1, b.w AS w2
          |  FROM wrd a JOIN wrd b ON a.doc_id = b.doc_id AND b.p = a.p + 1
          |)""".stripMargin)(
        """SELECT w1, w2, count(*) AS n_pairs FROM bpr GROUP BY w1, w2
          |ORDER BY n_pairs DESC, w1, w2 LIMIT 20""".stripMargin)),

    // rational-surprisal (perplexity-proxy) quality bucketing
    Query("q129_rarity_bucket", (s, dir) => Lexicon.rarityBuckets(Synth.corpus(s, dir)),
      // rational surprisal: rarity = corpus_tokens DIV word_count (exact
      // BIGINT), per-doc integer sum, one division, fixed-threshold buckets
      withCtes(corpus, wrd,
        "tfw AS (SELECT w, count(*) AS tf_total FROM wrd GROUP BY w)",
        "ntot AS (SELECT count(*) AS n_total FROM wrd)",
        "rar AS (SELECT w, n_total // tf_total AS rarity FROM tfw CROSS JOIN ntot)",
        """dsc AS (
          |  SELECT d.doc_id, count(*) AS n_tokens,
          |    CAST(sum(r.rarity) AS BIGINT) AS rarity_sum
          |  FROM wrd d JOIN rar r ON d.w = r.w GROUP BY d.doc_id
          |)""".stripMargin,
        """msc AS (
          |  SELECT doc_id, n_tokens, rarity_sum,
          |    CAST(rarity_sum AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS mean_rarity
          |  FROM dsc
          |)""".stripMargin)(
        """SELECT doc_id, n_tokens, rarity_sum, mean_rarity,
          |  CASE WHEN mean_rarity < CAST(10.0 AS DOUBLE) THEN 'common'
          |       WHEN mean_rarity < CAST(100.0 AS DOUBLE) THEN 'typical'
          |       WHEN mean_rarity < CAST(1000.0 AS DOUBLE) THEN 'rare'
          |       ELSE 'exotic' END AS bucket
          |FROM msc""".stripMargin)),

    // exact per-language length percentiles via a value-domain histogram —
    // no global sort, no approx sketch (nearest-rank cuts as integer
    // comparisons, so the oracle matches bitwise)
    Query("q131_length_quantiles", (s, dir) =>
      Lexicon.lengthQuantiles(Synth.corpus(s, dir)),
      // exact nearest-rank percentiles over the (lang × length) histogram;
      // the rank cuts are integer comparisons (cum·den ≥ num·N ⇔ cum ≥ ⌈q·N⌉)
      withCtes(corpus,
        """lq AS (
          |  SELECT lang,
          |    CAST(least(len(string_split(text, ' ')), 128) AS BIGINT) AS n_tokens
          |  FROM corpus
          |)""".stripMargin,
        """lh AS (SELECT lang, n_tokens, count(*) AS cnt
          |       FROM lq GROUP BY lang, n_tokens)""".stripMargin,
        """lc AS (
          |  SELECT lang, n_tokens, cnt,
          |    sum(cnt) OVER (PARTITION BY lang ORDER BY n_tokens
          |      ROWS UNBOUNDED PRECEDING) AS cum
          |  FROM lh
          |)""".stripMargin,
        "lt AS (SELECT lang, sum(cnt) AS n_docs FROM lh GROUP BY lang)")(
        """SELECT c.lang, max(t.n_docs) AS n_docs,
          |  min(CASE WHEN c.cum * 2 >= t.n_docs THEN c.n_tokens END) AS p50,
          |  min(CASE WHEN c.cum * 10 >= t.n_docs * 9 THEN c.n_tokens END) AS p90,
          |  min(CASE WHEN c.cum * 100 >= t.n_docs * 99 THEN c.n_tokens END) AS p99,
          |  max(c.n_tokens) AS n_max
          |FROM lc c JOIN lt t ON c.lang = t.lang
          |GROUP BY c.lang""".stripMargin)),

    // SemDeDup-style semantic dedup: SRP near-dup pairs closed into
    // connected components → keep-one-per-MEANING ledger
    Query("q132_semantic_dedup", (s, dir) =>
      DedupGraph.semanticDedup(
        AnnSearch.nearDupPairs(Synth.table(s, dir, "embeddings"))),
      // semantic-dedup ledger: the SRP scored-pair chain (same CTEs as q49)
      // at cos ≥ 0.35, closed by a recursive reachability walk to components
      neardupRecursiveOracle(Seq(
        """spr AS (
          |  SELECT d.va, d.vb
          |  FROM dts d JOIN nrm na ON d.va = na.vec_id
          |  JOIN nrm nb ON d.vb = nb.vec_id
          |  WHERE CAST(d.dot AS DOUBLE)
          |      / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
          |    >= CAST(0.35 AS DOUBLE)
          |)""".stripMargin,
        """und132 AS (
          |  SELECT va AS a, vb AS b FROM spr
          |  UNION ALL
          |  SELECT vb AS a, va AS b FROM spr
          |)""".stripMargin,
        "nds132 AS (SELECT DISTINCT a AS vec_id FROM und132)",
        """reach132 AS (
          |  SELECT vec_id AS node, vec_id AS r FROM nds132
          |  UNION
          |  SELECT u.b AS node, reach132.r AS r
          |  FROM reach132 JOIN und132 u ON u.a = reach132.node
          |)""".stripMargin,
        "cmp132 AS (SELECT node AS vec_id, min(r) AS component FROM reach132 GROUP BY node)",
        """csz132 AS (SELECT component, count(*) AS cluster_size
          |           FROM cmp132 GROUP BY component)""".stripMargin))(
        """SELECT c.vec_id, c.component, s.cluster_size,
          |  CAST(CASE WHEN c.vec_id = c.component THEN 1 ELSE 0 END AS INT) AS keep
          |FROM cmp132 c JOIN csz132 s ON c.component = s.component""".stripMargin)),

    // fuzzy benchmark decontamination: eval bands ⋈ corpus bands (MinHash
    // LSH), exact-Jaccard verify, per-doc best eval match + leak flag
    Query("q133_fuzzy_decontam", (s, dir) => {
      val ev = Synth.isBaseDoc(col("doc_id")) && col("doc_id") % 37 === 0
      TextOps.fuzzyDecontaminate(Synth.corpus(s, dir), ev)
    },
      // fuzzy decontamination: eval-side bands ⋈ corpus-side bands (no id
      // ordering — eval ids are interleaved with corpus ids), exact Jaccard
      // over the candidate pairs, per-corpus-doc argmax eval match
      withCtes(corpus, sh, mh, bnd,
        """fprs AS (
          |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          |  FROM bnd a JOIN bnd b ON a.band = b.band AND a.k0 = b.k0
          |    AND a.k1 = b.k1 AND a.k2 = b.k2 AND a.k3 = b.k3
          |  WHERE (a.doc_id < 1000000 AND a.doc_id % 37 = 0)
          |    AND NOT (b.doc_id < 1000000 AND b.doc_id % 37 = 0)
          |)""".stripMargin,
        dsh, shSz, interOf("fint", "fprs"), jacOf("fj", "fprs", "fint"))(
        """SELECT doc_b AS doc_id, doc_a AS eval_doc, jaccard,
          |  CAST(CASE WHEN jaccard >= CAST(0.5 AS DOUBLE) THEN 1 ELSE 0 END AS INT) AS leaked
          |FROM (SELECT doc_a, doc_b, jaccard,
          |        row_number() OVER (PARTITION BY doc_b ORDER BY jaccard DESC, doc_a ASC) AS rn
          |      FROM fj)
          |WHERE rn = 1""".stripMargin)),

    // exact-substring dedup removal ledger: duplicated gram positions merged
    // into maximal char intervals (per-doc gaps-and-islands over the
    // dup-density-scoped survivors)
    Query("q134_dup_span_removal", (s, dir) =>
      TextOps.dupSpanRemoval(Synth.corpus(s, dir)),
      // exact-substring removal intervals: positional grams × cross-doc df ≥ 2,
      // per-doc gaps-and-islands merge of overlapping [pos, pos+7] spans
      withCtes(corpus, sh, dsh,
        """psh AS (
          |  SELECT c.doc_id, CAST(g.i AS BIGINT) AS pos,
          |    CAST('0x' || substring(md5(substring(c.text, g.i, 8)), 1, 15) AS BIGINT) AS hb
          |  FROM corpus c CROSS JOIN generate_series(1, 505) g(i)
          |  WHERE g.i <= least(length(c.text), 512) - 7
          |)""".stripMargin,
        "sdf AS (SELECT hb, count(*) AS df_docs FROM dsh GROUP BY hb)",
        """dpp AS (SELECT p.doc_id, p.pos
          |        FROM psh p JOIN sdf f ON p.hb = f.hb AND f.df_docs >= 2)""".stripMargin,
        """sisl AS (
          |  SELECT doc_id, pos,
          |    CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
          |      OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) >= 8
          |    THEN 1 ELSE 0 END AS new_island
          |  FROM dpp
          |)""".stripMargin,
        """sisl2 AS (
          |  SELECT doc_id, pos,
          |    CAST(sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos
          |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
          |  FROM sisl
          |)""".stripMargin)(
        """SELECT doc_id, island, min(pos) AS span_start, max(pos) + 7 AS span_end,
          |  max(pos) + 7 - min(pos) + 1 AS span_len, count(*) AS n_grams
          |FROM sisl2 GROUP BY doc_id, island""".stripMargin)),

    // deterministic KMV distinct-cardinality estimate per language — the
    // oracle-checkable HyperLogLog stand-in (dense_rank ≤ k pushed into
    // WindowGroupLimit map-side heaps; exact column is the comparison)
    Query("q135_kmv_distinct", (s, dir) =>
      TextOps.kmvDistinct(Synth.corpus(s, dir)),
      // KMV distinct-cardinality estimate: k-th smallest distinct 60-bit hash
      // per language; exact count beside it as the comparison baseline
      withCtes(corpus, sh, dsh,
        """dshl AS (SELECT DISTINCT c.lang, s.hb
          |         FROM dsh s JOIN corpus c ON s.doc_id = c.doc_id)""".stripMargin,
        """krk AS (SELECT lang, hb,
          |  dense_rank() OVER (PARTITION BY lang ORDER BY hb) AS rnk FROM dshl)""".stripMargin,
        """kst AS (SELECT lang, max(hb) AS kth, count(*) AS n_kept
          |        FROM krk WHERE rnk <= 64 GROUP BY lang)""".stripMargin,
        "kex AS (SELECT lang, count(*) AS n_exact FROM dshl GROUP BY lang)")(
        """SELECT s.lang, e.n_exact, s.n_kept,
          |  CASE WHEN s.n_kept < 64 THEN CAST(s.n_kept AS DOUBLE)
          |       ELSE CAST(63 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
          |            / CAST(s.kth AS DOUBLE) END AS kmv_estimate
          |FROM kst s JOIN kex e ON s.lang = e.lang""".stripMargin)),

    // sharded Bloom-filter membership pre-filter: base (even ids) builds
    // 64 × 1008-bit filters in one agg; the odd-id batch probes via a
    // broadcast of the (≤ 1024-row) filter table — deterministic false
    // positives audited against the exact column
    Query("q136_bloom_probe", (s, dir) => {
      val c = Synth.corpus(s, dir)
      BloomIndex.probe(c.filter(col("doc_id") % 2 === 0),
        c.filter(col("doc_id") % 2 === 1))
    },
      // sharded Bloom filter: build from even-id content hashes, probe odd ids;
      // double-hashed positions (h1 + k·h2 mod 1008), 63 usable bits per word
      withCtes(corpus,
        """bky AS (
          |  SELECT doc_id, hb, CAST((hb // 1048576) % 64 AS INT) AS shard,
          |    hb % 1008 AS h1, 1 + (hb % 1007) AS h2
          |  FROM (SELECT doc_id,
          |          CAST('0x' || substring(md5(text), 1, 15) AS BIGINT) AS hb
          |        FROM corpus)
          |)""".stripMargin,
        """bfl AS (
          |  SELECT shard, CAST(p // 63 AS INT) AS word,
          |    bit_or(CAST(1 AS BIGINT) << CAST(p % 63 AS INT)) AS bits
          |  FROM (SELECT b.shard, (b.h1 + g.k * b.h2) % 1008 AS p
          |        FROM (SELECT DISTINCT hb, shard, h1, h2 FROM bky
          |              WHERE doc_id % 2 = 0) b
          |        CROSS JOIN generate_series(0, 2) g(k))
          |  GROUP BY shard, CAST(p // 63 AS INT)
          |)""".stripMargin,
        """bht AS (
          |  SELECT p.doc_id, p.hb,
          |    min(CAST((coalesce(f.bits, CAST(0 AS BIGINT)) >> CAST(p.p % 63 AS INT)) % 2 AS INT)) AS maybe_present
          |  FROM (SELECT doc_id, hb, shard, (h1 + g.k * h2) % 1008 AS p
          |        FROM bky CROSS JOIN generate_series(0, 2) g(k)
          |        WHERE doc_id % 2 = 1) p
          |  LEFT JOIN bfl f ON f.shard = p.shard AND f.word = CAST(p.p // 63 AS INT)
          |  GROUP BY p.doc_id, p.hb
          |)""".stripMargin)(
        """SELECT h.doc_id, h.maybe_present,
          |  CAST(CASE WHEN e.hb IS NOT NULL THEN 1 ELSE 0 END AS INT) AS present_exact
          |FROM bht h LEFT JOIN (SELECT DISTINCT hb FROM bky WHERE doc_id % 2 = 0) e
          |  ON h.hb = e.hb""".stripMargin)),

    // bigram-LM fluency scoring (CCNet perplexity-filter shape) in exact
    // rational arithmetic: mean conditional bigram probability in ppm
    Query("q137_bigram_lm", (s, dir) =>
      QualityModels.bigramLmScore(Synth.corpus(s, dir)),
      // bigram LM: conditional probability in ppm from the distinct-bigram
      // table (prefix mass = sum of c12 per w1 — one corpus count pass)
      withCtes(corpus, wrd,
        """bgr AS (
          |  SELECT a.doc_id, a.w AS w1, b.w AS w2
          |  FROM wrd a JOIN wrd b ON a.doc_id = b.doc_id AND b.p = a.p + 1
          |)""".stripMargin,
        "c12q AS (SELECT w1, w2, count(*) AS c12 FROM bgr GROUP BY w1, w2)",
        "c1q AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12q GROUP BY w1)",
        """scq AS (SELECT c.w1, c.w2,
          |  CAST((c.c12 * 1000000) // p.c1 AS BIGINT) AS cond_ppm
          |FROM c12q c JOIN c1q p ON c.w1 = p.w1)""".stripMargin)(
        """SELECT g.doc_id, count(*) AS n_bigrams,
          |  CAST(sum(s.cond_ppm) AS BIGINT) AS ppm_sum,
          |  CAST(sum(s.cond_ppm) // count(*) AS BIGINT) AS mean_ppm,
          |  CASE WHEN sum(s.cond_ppm) // count(*) >= 500000 THEN 'fluent'
          |       WHEN sum(s.cond_ppm) // count(*) >= 100000 THEN 'typical'
          |       ELSE 'surprising' END AS bucket
          |FROM bgr g JOIN scq s ON g.w1 = s.w1 AND g.w2 = s.w2
          |GROUP BY g.doc_id""".stripMargin)),

    // hashed-feature linear quality classifier: map-only scoring with
    // frozen hash-derived integer weights + one per-doc aggregate
    Query("q138_quality_classifier", (s, dir) =>
      QualityModels.qualityClassifier(Synth.corpus(s, dir)),
      // hashed linear classifier: md5-bucket features, hash-derived integer
      // weights in [-1001, 1001], shifted non-negative per-word mean
      withCtes(corpus, wrd,
        s"wgt AS (SELECT doc_id, $wordWeight AS weight FROM wrd)")(
        """SELECT doc_id, count(*) AS n_words, CAST(sum(weight) AS BIGINT) AS w_sum,
          |  CAST(((sum(weight) + 1001 * count(*)) * 1000) // count(*) AS BIGINT) AS avg_shift_ppk,
          |  CAST(CASE WHEN ((sum(weight) + 1001 * count(*)) * 1000) // count(*)
          |              >= 1001000 THEN 1 ELSE 0 END AS INT) AS keep
          |FROM wgt GROUP BY doc_id""".stripMargin)),

    // deterministic epoch shuffle: global training position via key-prefix
    // range buckets + per-bucket ranks + a 1024-row offset broadcast (never
    // a one-partition global sort)
    Query("q139_epoch_order", (s, dir) =>
      Packing.epochOrder(Synth.corpus(s, dir)),
      // epoch shuffle: the oracle is the straight global row_number over the
      // hash key — the engine's bucketed prefix-sum form must agree exactly
      withCtes(corpus,
        """eky AS (
          |  SELECT doc_id,
          |    CAST('0x' || substring(md5('ep0:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS okey
          |  FROM corpus
          |)""".stripMargin)(
        """SELECT doc_id, okey, CAST(okey // 1125899906842624 AS INT) AS bucket,
          |  CAST(row_number() OVER (ORDER BY okey, doc_id) - 1 AS BIGINT) AS global_pos
          |FROM eky""".stripMargin)),

    // canonical pick: inside each dup component keep the HIGHEST-QUALITY
    // member (classifier score, min-id tiebreak) — dedup ∘ quality composed
    Query("q142_canonical_pick", (s, dir) =>
      DedupGraph.canonicalPick(Synth.corpus(s, dir)),
      // canonical pick: q118's component chain ∘ q138's classifier chain;
      // winner per component = (score desc, doc_id asc) — the engine's
      // min(struct) ≡ the oracle's row_number = 1
      withRecursiveCtes(dupComponentCtes ++ Seq(wrd,
        s"wgt AS (SELECT doc_id, $wordWeight AS weight FROM wrd)",
        """scr AS (
          |  SELECT doc_id,
          |    CAST(((sum(weight) + 1001 * count(*)) * 1000) // count(*) AS BIGINT) AS score
          |  FROM wgt GROUP BY doc_id
          |)""".stripMargin,
        """mcs AS (
          |  SELECT c.doc_id, c.component, s.score,
          |    row_number() OVER (PARTITION BY c.component
          |      ORDER BY s.score DESC, c.doc_id) AS rn
          |  FROM cmp c JOIN scr s ON c.doc_id = s.doc_id
          |)""".stripMargin): _*)(
        """SELECT doc_id, component, score,
          |  CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS INT) AS keep
          |FROM mcs""".stripMargin)),

    // DSIR-style importance weighting: hashed-bucket target/raw probability
    // ratio (ppm, add-one smoothed), model built in ONE exchange, scoring
    // map-only off a ≤4096-row broadcast
    Query("q150_importance_weights", (s, dir) =>
      QualityModels.importanceWeights(Synth.corpus(s, dir)),
      // DSIR importance weighting: bucketed add-one target/raw ratio on a ppb
      // grid, clamp mirrored, per-doc mean ppm + keep verdict
      withCtes(corpus,
        """iwd AS (
          |  SELECT doc_id, lang, ws[g.i] AS w
          |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM corpus)
          |  CROSS JOIN generate_series(1, 128) g(i)
          |  WHERE g.i <= len(ws)
          |)""".stripMargin,
        """ibk AS (
          |  SELECT doc_id,
          |    CAST('0x' || substring(md5(w), 1, 15) AS BIGINT) % 4096 AS bucket,
          |    lang
          |  FROM iwd
          |)""".stripMargin,
        """ict AS (
          |  SELECT bucket, count(*) AS c_r,
          |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_t
          |  FROM ibk GROUP BY bucket
          |)""".stripMargin,
        "itt AS (SELECT sum(c_r) AS tot_r, sum(c_t) AS tot_t FROM ict)",
        """irt AS (
          |  SELECT bucket,
          |    (c_t + 1) * 1000000000 // (tot_t + 4096) AS pt_ppb,
          |    (c_r + 1) * 1000000000 // (tot_r + 4096) AS pr_ppb
          |  FROM ict CROSS JOIN itt
          |)""".stripMargin,
        """ir2 AS (SELECT bucket,
          |  pt_ppb * 1000000 // greatest(pr_ppb, 1) AS r_ppm FROM irt)""".stripMargin)(
        """SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_words,
          |  CAST(sum(r.r_ppm) // count(*) AS BIGINT) AS score_ppm,
          |  CAST(CASE WHEN sum(r.r_ppm) // count(*) >= 1000000
          |       THEN 1 ELSE 0 END AS INT) AS keep
          |FROM ibk b JOIN ir2 r ON b.bucket = r.bucket
          |GROUP BY b.doc_id""".stripMargin)),

    // source-pair shingle-overlap matrix: distinct (source, hb) in one
    // partial pass, hash-keyed pair join, exact-ppm Jaccard per cell
    Query("q151_source_overlap", (s, dir) =>
      TextOps.sourceOverlap(Synth.table(s, dir, "documents")),
      // source-pair shingle overlap: distinct (source, 60-bit shingle hash),
      // pair join on the hash, exact-ppm set Jaccard
      withCtes(
        """ssh AS (
          |  SELECT DISTINCT source,
          |    CAST('0x' || substring(md5(substring(text, g.i, 8)), 1, 15) AS BIGINT) AS hb
          |  FROM documents CROSS JOIN generate_series(1, 505) g(i)
          |  WHERE length(text) >= 8 AND g.i <= least(length(text), 512) - 7
          |)""".stripMargin,
        "ssz AS (SELECT source, count(*) AS sz FROM ssh GROUP BY source)",
        """spr AS (
          |  SELECT a.source AS source_a, b.source AS source_b,
          |    count(*) AS n_shared
          |  FROM ssh a JOIN ssh b ON a.hb = b.hb AND a.source < b.source
          |  GROUP BY a.source, b.source
          |)""".stripMargin)(
        """SELECT p.source_a, p.source_b, CAST(p.n_shared AS BIGINT) AS n_shared,
          |  CAST(sa.sz AS BIGINT) AS sz_a, CAST(sb.sz AS BIGINT) AS sz_b,
          |  CAST(p.n_shared * 1000000 // (sa.sz + sb.sz - p.n_shared) AS BIGINT)
          |    AS jaccard_ppm
          |FROM spr p
          |JOIN ssz sa ON p.source_a = sa.source
          |JOIN ssz sb ON p.source_b = sb.source""".stripMargin)),

    // asymmetric containment over LSH candidates: quote/subset detection
    // (|A∩B|/|A| vs /|B| in exact ppm) + the keep-the-superset relation
    Query("q152_containment", (s, dir) =>
      TextOps.containment(Synth.corpus(s, dir)),
      // asymmetric containment over the LSH candidate pairs: floor-ppm
      // |A∩B|/|A| and /|B| + the keep-the-superset relation verdict
      withCtes(corpus, sh, mh, bnd, prs,
        dsh, shSz, shInter)(
        """SELECT p.doc_a, p.doc_b,
          |  CAST(coalesce(i.i, 0) AS BIGINT) AS n_shared,
          |  CAST(sa.sz AS BIGINT) AS sz_a, CAST(sb.sz AS BIGINT) AS sz_b,
          |  CAST(coalesce(i.i, 0) * 1000000 // sa.sz AS BIGINT) AS cont_a_ppm,
          |  CAST(coalesce(i.i, 0) * 1000000 // sb.sz AS BIGINT) AS cont_b_ppm,
          |  CASE WHEN coalesce(i.i, 0) * 1000000 // sa.sz >= 900000
          |         AND coalesce(i.i, 0) * 1000000 // sb.sz >= 900000
          |         THEN 'near-equal'
          |       WHEN coalesce(i.i, 0) * 1000000 // sa.sz >= 900000
          |         THEN 'a-in-b'
          |       WHEN coalesce(i.i, 0) * 1000000 // sb.sz >= 900000
          |         THEN 'b-in-a'
          |       ELSE 'partial' END AS relation
          |FROM prs p
          |LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
          |JOIN sz sa ON sa.doc_id = p.doc_a
          |JOIN sz sb ON sb.doc_id = p.doc_b""".stripMargin)),

    // curation-gate agreement: per-language Cohen's kappa between the
    // heuristic gate and the hashed classifier (exact signed ppm)
    Query("q156_gate_agreement", (s, dir) =>
      QualityModels.gateAgreement(Synth.corpus(s, dir)),
      // gate agreement: q19 heuristic keep vs q138 classifier keep per lang;
      // kappa with the sign factored out of the division (div vs // parity)
      withCtes(corpus, wrd,
        """gqh AS (
          |  SELECT doc_id,
          |    CASE WHEN nt >= 16 AND CAST(al AS DOUBLE) / CAST(nt AS DOUBLE) >= 2.0
          |              AND CAST(al AS DOUBLE) / CAST(nt AS DOUBLE) <= 12.0
          |         THEN 1 ELSE 0 END AS keep_h
          |  FROM (SELECT doc_id,
          |          CAST(length(text) - length(replace(text, ' ', '')) AS INT) + 1 AS nt,
          |          length(replace(text, ' ', '')) AS al
          |        FROM corpus)
          |)""".stripMargin,
        s"gqw AS (SELECT doc_id, $wordWeight AS weight FROM wrd)",
        """gqc AS (
          |  SELECT doc_id,
          |    CASE WHEN ((sum(weight) + 1001 * count(*)) * 1000) // count(*)
          |              >= 1001000 THEN 1 ELSE 0 END AS keep_c
          |  FROM gqw GROUP BY doc_id
          |)""".stripMargin,
        """gtb AS (
          |  SELECT c.lang, count(*) AS n,
          |    sum(CASE WHEN keep_h = 1 AND keep_c = 1 THEN 1 ELSE 0 END) AS n11,
          |    sum(CASE WHEN keep_h = 1 AND keep_c = 0 THEN 1 ELSE 0 END) AS n10,
          |    sum(CASE WHEN keep_h = 0 AND keep_c = 1 THEN 1 ELSE 0 END) AS n01,
          |    sum(CASE WHEN keep_h = 0 AND keep_c = 0 THEN 1 ELSE 0 END) AS n00
          |  FROM corpus c
          |  JOIN gqh h ON c.doc_id = h.doc_id
          |  JOIN gqc q ON c.doc_id = q.doc_id
          |  GROUP BY c.lang
          |)""".stripMargin)(
        """SELECT lang, CAST(n AS BIGINT) AS n,
          |  CAST(n11 AS BIGINT) AS n11, CAST(n10 AS BIGINT) AS n10,
          |  CAST(n01 AS BIGINT) AS n01, CAST(n00 AS BIGINT) AS n00,
          |  CAST((n11 + n00) * 1000000 // n AS BIGINT) AS po_ppm,
          |  CAST(((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) * 1000000
          |       // (n * n) AS BIGINT) AS pe_ppm,
          |  CAST(CASE WHEN (n * n - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))) = 0
          |         THEN 0
          |       WHEN ((n11 + n00) * n - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))) < 0
          |         THEN -((-((n11 + n00) * n - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)))) * 1000000
          |               // (n * n - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))))
          |       ELSE ((n11 + n00) * n - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))) * 1000000
          |            // (n * n - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)))
          |       END AS BIGINT) AS kappa_ppm
          |FROM gtb""".stripMargin)))
}
