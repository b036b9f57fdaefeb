package graft
package queries

import org.apache.spark.sql.functions._
import graft.geo.Cells
import graft.ops._
import graft.pipeline.Inundate
import graft.synth.Synth
import OracleSql._

/** Platform-surface queries: relational and window coverage over the TPC-H
  * tables, scalar/map/array functions, table maintenance, snapshots and
  * physical layout. */
object PlatformQueries {

  /** q128 probe bbox — the NYC-cluster rows/cols at BaseRes, computed from
    * the same codec the engine uses so Spark and oracle share literals. */
  private val ProbeRowLo = Cells.latToRow(40.0, Cells.BaseRes)
  private val ProbeRowHi = Cells.latToRow(42.0, Cells.BaseRes)
  private val ProbeColLo = Cells.lngToCol(-74.0, Cells.BaseRes)
  private val ProbeColHi = Cells.lngToCol(-72.0, Cells.BaseRes)

  val queries: Seq[Query] = Seq(
    // ---- relational/window coverage (§2.2-2.8) over the TPC-H tables ----
    // J8 as-of/nearest-value join: per part, lineitem row with quantity
    // closest to 25 (argmin via min(struct(...)), hash-agg, no sort)
    Query("q30_asof_minby", (s, dir) => {
      val li = Synth.lineitem(s, dir)
      li.groupBy(col("l_partkey"))
        .agg(min(struct(abs(col("l_quantity") - 25), col("l_orderkey"),
          col("l_linenumber"), col("l_quantity"))).as("m"))
        .select(col("l_partkey"), col("m.l_orderkey").as("best_order"),
          col("m.l_linenumber").as("best_line"), col("m.l_quantity").as("best_qty"))
    },
      """SELECT l_partkey, l_orderkey AS best_order, l_linenumber AS best_line, l_quantity AS best_qty
        |FROM (SELECT l_partkey, l_orderkey, l_linenumber, l_quantity,
        |        row_number() OVER (PARTITION BY l_partkey
        |          ORDER BY abs(l_quantity - 25), l_orderkey, l_linenumber) AS rn
        |      FROM lineitem)
        |WHERE rn = 1""".stripMargin),

    // W3 cumulative sum with RANGE frame (ties share the value → deterministic)
    Query("q31_cumsum", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("l_suppkey")).orderBy(col("l_shipdate"))
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      Synth.lineitem(s, dir)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"), col("l_shipdate"),
          sum(col("l_quantity")).over(w).as("cum_qty"))
    },
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
        |  sum(l_quantity) OVER (PARTITION BY l_suppkey ORDER BY l_shipdate
        |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_qty
        |FROM lineitem""".stripMargin),

    // J9/J10 semi + anti joins: customers with and without orders — ONE plan,
    // one action: left join against the distinct order-customer set, then a
    // conditional aggregate (semi ≡ matched, anti ≡ unmatched). At 100 TB this
    // is a single scan of each table instead of two.
    Query("q32_semi_anti", (s, dir) => {
      val c = Synth.table(s, dir, "customer")
      val o = Synth.table(s, dir, "orders")
        .select(col("o_custkey")).distinct()
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .agg(count(when(col("o_custkey").isNotNull, 1)).as("n_with_orders"),
          count(when(col("o_custkey").isNull, 1)).as("n_without_orders"))
    },
      """SELECT
        |  (SELECT count(*) FROM customer c WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS n_with_orders,
        |  (SELECT count(*) FROM customer c WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS n_without_orders""".stripMargin),

    // grouping-sets rollup (free in Spark; absent in the reference — §2.4)
    Query("q33_rollup", (s, dir) =>
      Synth.table(s, dir, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n")),
      "SELECT o_orderstatus, o_orderpriority, count(*) AS n FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)"),

    // P7 keep-largest-duplicate: per order, the max-quantity line
    Query("q34_keep_largest", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_quantity").desc, col("l_linenumber").asc)
      Synth.lineitem(s, dir)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    },
      """SELECT l_orderkey, l_linenumber, l_quantity
        |FROM (SELECT l_orderkey, l_linenumber, l_quantity,
        |        row_number() OVER (PARTITION BY l_orderkey
        |          ORDER BY l_quantity DESC, l_linenumber ASC) AS rn
        |      FROM lineitem)
        |WHERE rn = 1""".stripMargin),

    // §2.7 set ops: supplier vs customer nations (except / intersect / union)
    Query("q35_setops", (s, dir) => {
      val sn = Synth.table(s, dir, "supplier").select(col("s_nationkey").as("k")).distinct()
      val cn = Synth.table(s, dir, "customer").select(col("c_nationkey").as("k")).distinct()
      sn.except(cn).withColumn("op", lit("supplier_only"))
        .unionByName(cn.except(sn).withColumn("op", lit("customer_only")))
        .unionByName(sn.intersect(cn).withColumn("op", lit("both")))
    },
      """SELECT k, 'supplier_only' AS op FROM
        |  (SELECT DISTINCT s_nationkey AS k FROM supplier EXCEPT SELECT DISTINCT c_nationkey FROM customer)
        |UNION ALL
        |SELECT k, 'customer_only' AS op FROM
        |  (SELECT DISTINCT c_nationkey AS k FROM customer EXCEPT SELECT DISTINCT s_nationkey FROM supplier)
        |UNION ALL
        |SELECT k, 'both' AS op FROM
        |  (SELECT DISTINCT s_nationkey AS k FROM supplier INTERSECT SELECT DISTINCT c_nationkey FROM customer)""".stripMargin),

    // P8 sentinel handling: nullif/coalesce round-trip (−999 convention)
    Query("q36_sentinels", (s, dir) =>
      Synth.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          coalesce(nullif(col("l_discount"), lit(0.0)), lit(-999.0)).as("disc_sentinel"),
          nullif(col("l_discount"), lit(0.0)).isNull.cast("int").as("was_zero")),
      """SELECT l_orderkey, l_linenumber,
        |  coalesce(nullif(l_discount, CAST(0.0 AS DOUBLE)), CAST(-999.0 AS DOUBLE)) AS disc_sentinel,
        |  CASE WHEN nullif(l_discount, CAST(0.0 AS DOUBLE)) IS NULL THEN 1 ELSE 0 END AS was_zero
        |FROM lineitem""".stripMargin),

    // event sessionization: 30-min-gap sessions per user (lag + running sum)
    Query("q37_sessionize", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Synth.table(s, dir, "events")
        .withColumn("us", unix_micros(col("ts").cast("timestamp")))
        .withColumn("prev_us", lag(col("us"), 1).over(w))
        .withColumn("new_sess",
          (col("prev_us").isNull || (col("us") - col("prev_us")) > 1800000000L).cast("int"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"), sum(col("new_sess")).as("n_sessions"))
    },
      """SELECT user_id, count(*) AS n_events, CAST(sum(new_sess) AS BIGINT) AS n_sessions
        |FROM (SELECT user_id,
        |        CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_sess
        |      FROM (SELECT user_id, ts,
        |              lag(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |            FROM events))
        |GROUP BY user_id""".stripMargin),

    // A9 pivot: per-source doc counts by language
    Query("q38_pivot", (s, dir) =>
      Synth.table(s, dir, "documents")
        .groupBy(col("source"))
        .pivot("lang", Seq("en", "es", "de", "fr", "zh")).count()
        .select(col("source"),
          coalesce(col("en"), lit(0L)).as("en"), coalesce(col("es"), lit(0L)).as("es"),
          coalesce(col("de"), lit(0L)).as("de"), coalesce(col("fr"), lit(0L)).as("fr"),
          coalesce(col("zh"), lit(0L)).as("zh")),
      """SELECT source,
        |  count(CASE WHEN lang = 'en' THEN 1 END) AS en,
        |  count(CASE WHEN lang = 'es' THEN 1 END) AS es,
        |  count(CASE WHEN lang = 'de' THEN 1 END) AS de,
        |  count(CASE WHEN lang = 'fr' THEN 1 END) AS fr,
        |  count(CASE WHEN lang = 'zh' THEN 1 END) AS zh
        |FROM documents GROUP BY source""".stripMargin),

    // §2.8 scalar-function surface: string/math kernels (exact-parity forms)
    Query("q39_scalar_funcs", (s, dir) =>
      Synth.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          lpad((col("l_orderkey") % 997).cast("string"), 4, "0").as("bucket"),
          lower(concat(col("l_returnflag"), col("l_linestatus"))).as("rf"),
          substring(col("l_returnflag"), 1, 1).as("rf1"),
          col("l_returnflag").startsWith("R").cast("int").as("is_r"),
          floor(sqrt(col("l_quantity")) * 10000).cast("long").as("sqrt_q4"),
          abs(col("l_quantity") - 25).as("absd"),
          floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents")),
      """SELECT l_orderkey, l_linenumber,
        |  lpad(CAST(l_orderkey % 997 AS VARCHAR), 4, '0') AS bucket,
        |  lower(l_returnflag || l_linestatus) AS rf,
        |  substring(l_returnflag, 1, 1) AS rf1,
        |  CASE WHEN l_returnflag LIKE 'R%' THEN 1 ELSE 0 END AS is_r,
        |  CAST(floor(sqrt(l_quantity) * 10000) AS BIGINT) AS sqrt_q4,
        |  abs(l_quantity - 25) AS absd,
        |  CAST(floor(l_extendedprice * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS cents
        |FROM lineitem""".stripMargin),

    // multimodal binary columns: metadata + frame-sample digests (stub codec)
    Query("q42_multimodal", (s, dir) => Multimodal.decodeMeta(Synth.pages(s, dir)),
      """SELECT CAST(doc_id AS BIGINT) AS pid, CAST(length(text) AS INT) AS n_bytes,
        |  md5(substring(text, 1, 64)) AS thumb_md5,
        |  md5(substring(text, 33, 32)) AS frame1_md5
        |FROM documents""".stripMargin),

    // P2 error taxonomy: per-unit status codes (60/64/0) as data rows
    Query("q46_unit_status", (s, dir) =>
      Inundate.unitStatus(s, Synth.points(s, dir)),
      withCtes(pts, asg, hagg, unitStatus)("SELECT huc8, status, n_pts, n_ok FROM ust")),

    // §2.8 map functions: per-order line→quantity map via map_from_entries,
    // probed with element_at / map_keys (plain-column output for the oracle).
    // The synthetic lineitem has duplicate (orderkey, linenumber) pairs, so
    // lines are pre-aggregated (max qty) before the map is built.
    Query("q61_map_funcs", (s, dir) =>
      Synth.lineitem(s, dir)
        .groupBy(col("l_orderkey"), col("l_linenumber"))
        .agg(max(col("l_quantity")).as("qty"))
        .groupBy(col("l_orderkey"))
        .agg(map_from_entries(sort_array(collect_list(
          struct(col("l_linenumber"), col("qty"))))).as("m"))
        .select(col("l_orderkey"),
          size(map_keys(col("m"))).as("n_lines"),
          element_at(col("m"), 1).as("qty_line1"),
          element_at(col("m"), array_max(map_keys(col("m")))).as("qty_maxline")),
      """SELECT l_orderkey, CAST(count(*) AS INT) AS n_lines,
        |  min(CASE WHEN l_linenumber = 1 THEN qty END) AS qty_line1,
        |  arg_max(qty, l_linenumber) AS qty_maxline
        |FROM (SELECT l_orderkey, l_linenumber, max(l_quantity) AS qty
        |      FROM lineitem GROUP BY l_orderkey, l_linenumber)
        |GROUP BY l_orderkey""".stripMargin),

    // §2.8 higher-order array functions: quantized dot product of adjacent
    // embedding vectors via zip_with + aggregate (exact BIGINT arithmetic)
    Query("q62_hof_dot", (s, dir) => {
      val e = Synth.table(s, dir, "embeddings")
      val a = e.select(col("vec_id"), col("embedding").as("ea"))
      val b = e.select((col("vec_id") - 1).as("vec_id"), col("embedding").as("eb"))
      a.join(b, "vec_id")
        .select(col("vec_id"),
          aggregate(
            zip_with(col("ea"), col("eb"), (x, y) =>
              round(x.cast("double") * 1000.0).cast("long")
                * round(y.cast("double") * 1000.0).cast("long")),
            lit(0L), (acc, z) => acc + z).as("dot"))
    },
      withCtes(qt)(
        """SELECT a.vec_id, CAST(sum(a.q * b.q) AS BIGINT) AS dot
          |FROM qt a JOIN qt b ON a.vec_id = b.vec_id - 1 AND a.pos = b.pos
          |GROUP BY a.vec_id""".stripMargin)),

    // MERGE INTO analog over the forecast snapshot: revised rows replace,
    // new features insert, the rest pass through (anti-join + union)
    Query("q76_merge_upsert", (s, _) =>
      graft.pipeline.Maintenance.mergeUpsert(
        Synth.forecast(s), graft.pipeline.Maintenance.forecastRevisions(s), "feature_id"),
      withCtes(fc,
        """upd AS (
          |  SELECT feature_id, discharge * CAST(1.2 AS DOUBLE) AS discharge
          |  FROM fc WHERE feature_id % 13 = 0
          |  UNION ALL
          |  SELECT 2000000 + x AS feature_id, ((x * 91 + 3) % 5000) / 10.0 AS discharge
          |  FROM generate_series(0, 99) t(x)
          |)""".stripMargin)(
        """SELECT f.feature_id, f.discharge, 'base' AS src FROM fc f
          |WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.feature_id = f.feature_id)
          |UNION ALL
          |SELECT feature_id, discharge, 'upd' AS src FROM upd""".stripMargin)),

    // compaction planning: bin-pack per-HUC8 partition sizes into ~4096-row
    // rewrite tasks (Iceberg rewriteDataFiles planner as window algebra)
    Query("q77_compaction", (s, dir) =>
      graft.pipeline.Maintenance.hucCompactionPlan(s, dir),
      withCtes(pts, asg,
        s"""sz AS (
           |  SELECT $huc8FromHydroid AS huc8, count(*) AS n_rows
           |  FROM asg GROUP BY 1
           |)""".stripMargin,
        """cum AS (
          |  SELECT huc8, n_rows,
          |    CAST(COALESCE(sum(n_rows) OVER (ORDER BY huc8
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
          |  FROM sz
          |)""".stripMargin)(
        """SELECT huc8, n_rows, cum_before,
          |  CAST(floor(CAST(cum_before AS DOUBLE) / CAST(4096.0 AS DOUBLE)) AS BIGINT) AS task
          |FROM cum""".stripMargin)),

    // JSON property extraction over the REAL events table (src.json scalar
    // family on driver data, not synthetic): get_json_object + typed agg
    Query("q85_json_props", (s, dir) =>
      Synth.table(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), min(col("k")).as("k_min"),
          max(col("k")).as("k_max"), sum(col("k")).as("k_sum")),
      """SELECT event_type, count(*) AS n,
        |  min(CAST(json_extract_string(props, '$.k') AS INT)) AS k_min,
        |  max(CAST(json_extract_string(props, '$.k') AS INT)) AS k_max,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS k_sum
        |FROM events GROUP BY event_type""".stripMargin),

    // multimodal frame sampling: evenly-strided byte windows per binary
    // payload (video frame-sample plumbing as a relational generator)
    Query("q84_frame_sample", (s, dir) =>
      Multimodal.frameSample(Synth.pages(s, dir)),
      withCtes(
        """pgs AS (
          |  SELECT CAST(doc_id AS BIGINT) AS pid, text, length(text) AS n_bytes
          |  FROM documents
          |)""".stripMargin,
        """frq AS (
          |  SELECT pid, k.k AS k, text,
          |    1 + k.k * CAST(floor((n_bytes - 24) / CAST(4.0 AS DOUBLE)) AS BIGINT) AS off
          |  FROM pgs CROSS JOIN generate_series(0, 3) k(k)
          |  WHERE n_bytes >= 24
          |)""".stripMargin)(
        """SELECT pid, CAST(k AS INT) AS k, CAST(off AS INT) AS off,
          |  md5(substring(text, CAST(off AS INT), 24)) AS frame_md5
          |FROM frq""".stripMargin)),

    // unit-error gate: error units counted over the status table, abort
    // code 62 only past BOTH thresholds (min count AND min percent)
    Query("q105_unit_error_gate", (s, dir) =>
      Inundate.unitStatus(s, Synth.points(s, dir))
        .agg(count(lit(1)).as("n_units"),
          count(when(col("status") =!= 0, 1)).as("n_errors"))
        .select(col("n_units"), col("n_errors"),
          (col("n_errors").cast("double") / col("n_units").cast("double")
            * lit(100.0)).as("pct_errors"),
          when(col("n_errors") > 10
            && col("n_errors").cast("double") / col("n_units").cast("double")
               * lit(100.0) >= 10.0, lit(62)).otherwise(lit(0)).as("return_code")),
      withCtes(pts, asg,
        hagg, unitStatus,
        """gat AS (
          |  SELECT count(*) AS n_units,
          |    count(CASE WHEN status <> 0 THEN 1 END) AS n_errors
          |  FROM ust
          |)""".stripMargin)(
        """SELECT n_units, n_errors,
          |  CAST(n_errors AS DOUBLE) / CAST(n_units AS DOUBLE) * CAST(100.0 AS DOUBLE)
          |    AS pct_errors,
          |  CAST(CASE WHEN n_errors > 10
          |        AND CAST(n_errors AS DOUBLE) / CAST(n_units AS DOUBLE)
          |            * CAST(100.0 AS DOUBLE) >= CAST(10.0 AS DOUBLE)
          |       THEN 62 ELSE 0 END AS INT) AS return_code
          |FROM gat""".stripMargin)),

    // S9/S13 promoted to an oracle row: write a partitioned snapshot table
    // (resumable sink + manifest commit), read it BACK off disk, and compare
    // per-partition content stats + the manifest's row counts against the
    // source-side oracle — any sink, read-back, or lineage corruption breaks
    // the hash
    Query("q116_snapshot_roundtrip", (s, dir) => {
      // under this application's temp dir: two JVMs never share the table
      val table = s"${org.apache.spark.SparkFiles.getRootDirectory()}/q116_${new java.io.File(dir).getName}"
      graft.pipeline.Snapshots.deleteRecursively(java.nio.file.Paths.get(table))
      val src = SpatialJoin.assign(s, Synth.points(s, dir))
        .select(col("pid"), col("hydroid").cast("long").as("hydroid"),
          col("huc8"), col("hand"))
      graft.pipeline.Snapshots.writeResumable(s, src, table, "huc8")
      val back = graft.pipeline.Snapshots.readTable(s, table)
      back.groupBy(col("huc8"))
        .agg(count(lit(1)).as("n_rows"), sum(col("pid")).as("pid_sum"),
          min(col("hand")).as("hand_min"), max(col("hand")).as("hand_max"))
        .join(graft.pipeline.Snapshots.lineage(s, table)
          .select(col("part").as("huc8"), col("rows").as("n_manifest")), "huc8")
    },
      withCtes(pts, asg)(
        s"""SELECT $huc8FromHydroid AS huc8, count(*) AS n_rows,
           |  CAST(sum(pid) AS BIGINT) AS pid_sum,
           |  min(hand) AS hand_min, max(hand) AS hand_max,
           |  count(*) AS n_manifest
           |FROM asg GROUP BY 1""".stripMargin)),

    // physical-layout evidence: Z-order vs hash bucket zone maps + bbox skip
    Query("q128_zorder_skip", (s, dir) => Layout.zoneMaps(Synth.points(s, dir),
      ProbeRowLo, ProbeRowHi, ProbeColLo, ProbeColHi),
      // Z-order vs hash layout zone maps: Morton interleave via exact integer
      // arithmetic, prefix buckets, per-bucket min/max + probe-box skip verdict
      {
        val zexpr = (0 until graft.ops.Layout.ZBits).map { b =>
          s"((cr // ${1L << b}) % 2) * ${1L << (2 * b + 1)} + ((cc // ${1L << b}) % 2) * ${1L << (2 * b)}"
        }.mkString(" + ")
        withCtes(pts,
          """zc AS (
            |  SELECT pid,
            |    CAST(floor((lat + 90.0) / 180.0 * 4096.0) AS BIGINT) AS cr,
            |    CAST(floor((lng + 180.0) / 360.0 * 8192.0) AS BIGINT) AS cc
            |  FROM pts
            |)""".stripMargin,
          s"zk AS (SELECT pid, cr, cc, $zexpr AS zkey FROM zc)",
          s"""lay AS (
             |  SELECT 'zorder' AS layout, zkey // ${1L << graft.ops.Layout.BucketShift} AS bucket, cr, cc FROM zk
             |  UNION ALL
             |  SELECT 'hash' AS layout, pid % 64 AS bucket, cr, cc FROM zc
             |)""".stripMargin)(
          s"""SELECT layout, bucket, count(*) AS n_pages,
             |  min(cr) AS row_min, max(cr) AS row_max,
             |  min(cc) AS col_min, max(cc) AS col_max,
             |  CAST(CASE WHEN min(cr) <= $ProbeRowHi AND max(cr) >= $ProbeRowLo
             |    AND min(cc) <= $ProbeColHi AND max(cc) >= $ProbeColLo
             |    THEN 0 ELSE 1 END AS INT) AS can_skip
             |FROM lay GROUP BY layout, bucket""".stripMargin)
      }),

    // TPC-H Q1 shape with exact arithmetic (sum of ints, min/max, avg)
    Query("q41_tpch_q1", (s, dir) =>
      Synth.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n"),
          (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price"),
          sum(floor(col("l_extendedprice") * 100 + 0.5).cast("long")).as("sum_cents")),
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        |  count(*) AS n, sum(l_quantity) / count(*) AS avg_qty,
        |  min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price,
        |  CAST(sum(CAST(floor(l_extendedprice * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin))
}
