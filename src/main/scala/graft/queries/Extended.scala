package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.Tables
import graft.operators.{MultiLevelAgg, Multimodal, Salt, Sampling, Similarity, Sketches, TextAnalysis}

/** Round-2 surface widening: deterministic sampling, ranking-window family,
  * pivot, explode/unnest, embedding dedup, cube/grouping sets, intersect,
  * BPE-ish tokenization. Every query here is DuckDB-oracled.
  */
object Extended {

  private def dec(c: Column): Column = c.cast(DecimalType(12, 2))

  // --- A6/M3 scale form: the reference's seeded `groupby().sample(frac)`
  //     (notebooks/DiabetesSQL.ipynb:3220-3223) made reproducible: hash the
  //     business key instead of drawing an engine RNG, so the selected set
  //     is identical on any engine / partitioning / retry (q45 keeps the
  //     sampleBy form; this is the deterministic variant an oracle CAN
  //     check).
  private val q54_sample_hash = Q(
    run = (s, d) =>
      Sampling.stratified(Tables.orders(s, d), col("o_orderkey"),
          col("o_orderstatus"), Map("F" -> 0.5, "O" -> 0.7, "P" -> 0.9))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_sampled"),
          sum(dec(col("o_totalprice"))).cast("double").as("sum_price")),
    oracle = Some(s"""
      SELECT o_orderstatus,
             count(*) AS n_sampled,
             CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      FROM orders
      WHERE ${Sampling.hashBucketSql("o_orderkey")} <
            CASE o_orderstatus WHEN 'F' THEN CAST(0.5 * 4294967296 AS BIGINT)
                               WHEN 'O' THEN CAST(0.7 * 4294967296 AS BIGINT)
                               WHEN 'P' THEN CAST(0.9 * 4294967296 AS BIGINT)
                               ELSE -1 END
      GROUP BY o_orderstatus"""),
    doc = "deterministic hash-stratified sampling (engine-portable A6)")

  // --- ranking window family (completeness beyond row_number q15):
  //     ntile / dense_rank / percent_rank / cume_dist over a total order.
  private val q55_window_rank = Q(
    run = (s, d) => {
      // explicit NULLS LAST: Spark's ascending default is nulls FIRST,
      // DuckDB's is nulls LAST — a NULL balance silently shifts every
      // rank in its partition otherwise (caught by the edge corpus)
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").asc_nulls_last, col("c_custkey"))
      // percent_rank/cume_dist are rationals k/n whose 6-dp rounding can
      // land exactly on a .5 midpoint — Spark rounds half-up, DuckDB
      // half-even. floor(x*1e6) sidesteps the midpoint rule (the doubles
      // themselves are bit-identical IEEE divisions on both engines).
      Tables.customer(s, d).select(
        col("c_custkey"), col("c_nationkey"),
        ntile(4).over(w).as("quartile"),
        dense_rank().over(w).as("drank"),
        floor(percent_rank().over(w) * 1000000).cast("long").as("prank_u"),
        floor(cume_dist().over(w) * 1000000).cast("long").as("cdist_u"))
    },
    oracle = Some("""
      SELECT c_custkey, c_nationkey,
             CAST(ntile(4) OVER w AS INT) AS quartile,
             CAST(dense_rank() OVER w AS BIGINT) AS drank,
             CAST(floor(percent_rank() OVER w * 1000000) AS BIGINT) AS prank_u,
             CAST(floor(cume_dist() OVER w * 1000000) AS BIGINT) AS cdist_u
      FROM customer
      WINDOW w AS (PARTITION BY c_nationkey
                   ORDER BY c_acctbal NULLS LAST, c_custkey)"""),
    doc = "ntile/dense_rank/percent_rank/cume_dist ranking windows")

  // --- F20 via the pivot relational operator (the one-hot q28 keeps the
  //     manual-indicator form; this is `groupBy().pivot()` with explicit
  //     values for deterministic output columns).
  private val q56_pivot = Q(
    run = (s, d) =>
      Tables.customer(s, d)
        .groupBy(col("c_nationkey"))
        .pivot("c_mktsegment",
          Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .agg(sum(dec(col("c_acctbal"))).cast("double"))
        .select(col("c_nationkey"),
          col("AUTOMOBILE").as("bal_automobile"),
          col("BUILDING").as("bal_building"),
          col("FURNITURE").as("bal_furniture"),
          col("HOUSEHOLD").as("bal_household"),
          col("MACHINERY").as("bal_machinery")),
    oracle = Some("""
      SELECT c_nationkey,
        CAST(sum(CASE WHEN c_mktsegment='AUTOMOBILE' THEN CAST(c_acctbal AS DECIMAL(12,2)) END) AS DOUBLE) AS bal_automobile,
        CAST(sum(CASE WHEN c_mktsegment='BUILDING' THEN CAST(c_acctbal AS DECIMAL(12,2)) END) AS DOUBLE) AS bal_building,
        CAST(sum(CASE WHEN c_mktsegment='FURNITURE' THEN CAST(c_acctbal AS DECIMAL(12,2)) END) AS DOUBLE) AS bal_furniture,
        CAST(sum(CASE WHEN c_mktsegment='HOUSEHOLD' THEN CAST(c_acctbal AS DECIMAL(12,2)) END) AS DOUBLE) AS bal_household,
        CAST(sum(CASE WHEN c_mktsegment='MACHINERY' THEN CAST(c_acctbal AS DECIMAL(12,2)) END) AS DOUBLE) AS bal_machinery
      FROM customer GROUP BY c_nationkey"""),
    doc = "pivot operator with explicit values (deterministic columns)")

  // --- explode/unnest (the Bundle-entry shredding primitive, P9/J3 child
  //     tables) exercised standalone on document tokens.
  private val q57_explode = Q(
    run = (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy(col("tok"))
        .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("df"))
        .filter(col("n") >= 10),
    oracle = Some("""
      SELECT tok, count(*) AS n, count(DISTINCT doc_id) AS df
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents)
      WHERE tok <> '' GROUP BY tok HAVING count(*) >= 10"""),
    doc = "explode/unnest + token frequency (array shredding primitive)")

  // --- embedding-cosine near-dup dedup: keep-first marking over the exact
  //     pair relation (the LSH-candidate variant is q41's scale path).
  private val q58_embed_dedup = Q(
    run = (s, d) =>
      Similarity.embeddingDups(Tables.embeddings(s, d), threshold = 0.4),
    oracle = Some("""
      SELECT a.vec_id,
             EXISTS (SELECT 1 FROM embeddings b
                     WHERE b.vec_id < a.vec_id
                       AND round(list_cosine_similarity(
                             CAST(a.embedding AS DOUBLE[]),
                             CAST(b.embedding AS DOUBLE[])), 4) >= 0.4)
               AS is_dup
      FROM embeddings a"""),
    doc = "embedding-cosine near-dup dedup (keep lowest id)")

  // --- CUBE + grouping_id (beyond q48's ROLLUP): all four grouping sets
  //     of (status, priority) in one pass.
  private val q59_cube = Q(
    run = (s, d) =>
      MultiLevelAgg.cube(Tables.orders(s, d),
        Seq("o_orderstatus", "o_orderpriority"),
        Seq(MultiLevelAgg.countAll("n"),
          MultiLevelAgg.sumOf(dec(col("o_totalprice")), "sum_price_d")),
        groupingId = Some("gid"))
        .withColumn("sum_price", col("sum_price_d").cast("double"))
        .drop("sum_price_d"),
    oracle = Some("""
      SELECT o_orderstatus, o_orderpriority,
             CAST(grouping(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
             count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)"""),
    doc = "CUBE grouping sets with grouping_id")

  // --- INTERSECT set op (q21 covers EXCEPT, q22 UNION).
  private val q60_intersect = Q(
    // INTERSECT as a grouped both-branches presence test: one scan and
    // one shuffle instead of two scans + dedup exchanges + a semi join
    // (the q21 rewrite; INTERSECT's NULL-equality matches GROUP BY's)
    run = (s, d) => {
      val o = Tables.orders(s, d)
      o.filter(col("o_orderstatus").isin("F", "O"))
        .groupBy(col("o_custkey"))
        .agg(
          max(when(col("o_orderstatus") === "F", 1).otherwise(0))
            .as("__f"),
          max(when(col("o_orderstatus") === "O", 1).otherwise(0))
            .as("__o"))
        .filter(col("__f") === 1 && col("__o") === 1)
        .select(col("o_custkey"))
    },
    oracle = Some("""
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      INTERSECT
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'"""),
    doc = "INTERSECT set operation")

  // --- BPE-ish regex token counting vs whitespace counting — the token
  //     budget statistic of an LLM-data pipeline.
  private val q61_tokens_bpe = Q(
    run = (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        TextAnalysis.bpeTokenCount(col("text")).as("n_bpe"),
        TextAnalysis.tokenCount(col("text")).as("n_ws")),
    oracle = Some("""
      SELECT doc_id,
        CAST(len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+')) AS BIGINT) AS n_bpe,
        CAST(CASE WHEN trim(text) = '' THEN 0
             ELSE len(regexp_split_to_array(trim(lower(text)), '\s+')) END AS BIGINT) AS n_ws
      FROM documents"""),
    doc = "BPE-ish regex pre-tokenization token counts")

  // --- sliding event-time windows (batch form of
  //     EventStreams.slidingStats): every event lands in len/slide = 4
  //     overlapping buckets; bucket emitted as epoch seconds so both
  //     engines compare integers, not timestamp precision.
  private val q62_window_slide = Q(
    run = (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").cast("long").as("bucket_s"),
          col("event_type"), col("n")),
    // untimed rows excluded — same event-time contract as q30's oracle
    oracle = Some("""
      -- ts parity: NTZ micros read as UTC instants on both engines (see
      -- q30's note); epoch() on the naive DuckDB timestamp == Spark's
      -- cast-to-long under the UTC session, so bucket_s agrees exactly.
      -- Untimed rows EXCLUDED — the event-time contract.
      SELECT bucket_s, event_type, count(*) AS n
      FROM (
        SELECT event_type,
               (CAST(floor(epoch(ts)) AS BIGINT) // 900) * 900 - 900 * g.i
                 AS bucket_s
        FROM events, (SELECT unnest(generate_series(0, 3)) AS i) g
        WHERE ts IS NOT NULL)
      GROUP BY bucket_s, event_type"""),
    doc = "sliding event-time windows (overlapping buckets, batch view)")

  // --- multimodal frame sampling, aggregated per asset: the fan-out count
  //     is pure arithmetic over payload length on both engines.
  private val q63_frames = Q(
    run = (s, d) =>
      Multimodal.sampleFrames(
          Multimodal.ingestAsBinary(Tables.documents(s, d)), stride = 64)
        .groupBy(col("asset_id"))
        .agg(count(lit(1)).as("n_frames"), max(col("frame_offset")).as("last_off"),
          // frames tile the payload exactly once, so the length sum must
          // reproduce the byte count — this pins the tail-frame CLAMP
          // (frame_len = min(stride, remaining)) in the oracle
          sum(col("frame_len")).as("covered_bytes")),
    oracle = Some("""
      SELECT doc_id AS asset_id,
             CAST(floor(greatest(octet_length(encode(text)) - 1, 0) / 64)
               AS BIGINT) + 1 AS n_frames,
             CAST(floor(greatest(octet_length(encode(text)) - 1, 0) / 64)
               AS INT) * 64 AS last_off,
             CAST(coalesce(octet_length(encode(text)), 0) AS BIGINT)
               AS covered_bytes
      FROM documents"""),
    doc = "multimodal frame-sampling fan-out (deterministic offsets)")

  // --- MDM-style blocked fuzzy match: block on lang (the classic blocking
  //     key that keeps fuzzy matching off the O(n²) cliff), then edit
  //     distance on the document head — the reference's ODS merge is
  //     exactly this shape with exact keys (dags/ODSImport.py:140-155).
  private val q64_fuzzy_block = Q(
    run = (s, d) =>
      graft.operators.Dedup.fuzzyBlockPairs(Tables.documents(s, d),
          id = col("doc_id"), block = col("lang"),
          key = substring(col("text"), 1, 32), maxDist = 5)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
          col("dist")),
    oracle = Some("""
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(levenshtein(a.head, b.head) AS INT) AS dist
      FROM (SELECT doc_id, lang, substring(text, 1, 32) AS head FROM documents) a
      JOIN (SELECT doc_id, lang, substring(text, 1, 32) AS head FROM documents) b
        ON a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE levenshtein(a.head, b.head) <= 5"""),
    doc = "blocked fuzzy match (levenshtein within blocking key)")

  // --- statistical aggregates (corr/covar/stddev), rounded before compare:
  //     the merge formulas differ across engines in the last bits.
  private val q65_stats = Q(
    run = (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qp"),
          round(covar_samp(col("l_quantity"), col("l_discount")), 4).as("cov_qd"),
          round(stddev_samp(col("l_quantity")), 4).as("sd_q"),
          round(avg(col("l_quantity")), 4).as("avg_q")),
    oracle = Some("""
      SELECT l_returnflag,
             round(corr(l_quantity, l_extendedprice), 4) AS corr_qp,
             round(covar_samp(l_quantity, l_discount), 4) AS cov_qd,
             round(stddev_samp(l_quantity), 4) AS sd_q,
             round(avg(l_quantity), 4) AS avg_q
      FROM lineitem GROUP BY l_returnflag"""),
    doc = "corr/covar/stddev statistical aggregates")

  // --- RANGE window frame over a value ordering (vs q16's ROWS frame):
  //     30-day trailing spend per customer, ordered by day number so both
  //     engines frame on plain integers.
  private val q66_range_frame = Q(
    run = (s, d) => {
      val o = Tables.orders(s, d).withColumn("day",
        datediff(col("o_orderdate"), lit("1992-01-01")).cast("long"))
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("day"))
        .rangeBetween(-30, Window.currentRow)
      o.select(col("o_orderkey"), col("o_custkey"), col("day"),
        sum(dec(col("o_totalprice"))).over(w).cast("double")
          .as("trail30_spend"))
    },
    oracle = Some("""
      SELECT o_orderkey, o_custkey, day,
             CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
               PARTITION BY o_custkey ORDER BY day
               RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE)
               AS trail30_spend
      FROM (SELECT o_orderkey, o_custkey, o_totalprice,
              CAST(date_diff('day', DATE '1992-01-01', o_orderdate) AS BIGINT)
                AS day
            FROM orders)"""),
    doc = "RANGE window frame (30-day trailing sum)")

  // --- array-function surface: distinct-sort-slice-join over tokens
  //     (array_sort/array_distinct/slice/array_join vs DuckDB list ops).
  private val q67_array_funcs = Q(
    run = (s, d) =>
      // distinct-sorted tokens materialized once; first5 is NULL (not "")
      // for token-less docs — DuckDB's array_to_string of an EMPTY list is
      // NULL while Spark's array_join is "", a divergence only empty /
      // whitespace-only documents expose
      Tables.documents(s, d)
        .select(col("doc_id"),
          array_sort(array_distinct(
            filter(split(col("text"), " "), t => t =!= ""))).as("toks"))
        .select(
          col("doc_id"),
          when(size(col("toks")) > 0,
            array_join(slice(col("toks"), 1, 5), "|"))
            .otherwise(lit(null).cast("string")).as("first5"),
          size(col("toks")).as("n_distinct")),
    oracle = Some("""
      SELECT doc_id,
             array_to_string(
               list_sort(list_distinct(
                 list_filter(string_split(text, ' '), t -> t <> '')))[1:5],
               '|') AS first5,
             CAST(len(list_distinct(
               list_filter(string_split(text, ' '), t -> t <> ''))) AS INT)
               AS n_distinct
      FROM documents"""),
    doc = "array function surface (distinct/sort/slice/join)")

  // --- correlated EXISTS / NOT IN subquery forms through spark.sql (the
  //     SQL front door; Catalyst decorrelates to semi/anti joins).
  private val q68_exists = Q(
    run = (s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("v_customer")
      Tables.orders(s, d).createOrReplaceTempView("v_orders")
      s.sql("""
        SELECT c_custkey, c_nationkey
        FROM v_customer c
        WHERE EXISTS (SELECT 1 FROM v_orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderstatus = 'F')
          AND c_custkey NOT IN (SELECT o_custkey FROM v_orders
                                WHERE o_orderstatus = 'P')""")
    },
    oracle = Some("""
      SELECT c_custkey, c_nationkey
      FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderstatus = 'F')
        AND c_custkey NOT IN (SELECT o_custkey FROM orders
                              WHERE o_orderstatus = 'P')"""),
    doc = "correlated EXISTS + NOT IN subqueries (decorrelated by Catalyst)")

  // --- date-part extraction family (F1/F16 completeness): fields with
  //     identical cross-engine definitions, plus aligned day-of-week.
  private val q69_date_extract = Q(
    run = (s, d) =>
      Tables.orders(s, d).select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        quarter(col("o_orderdate")).as("q"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("dom"),
        (dayofweek(col("o_orderdate")) - 1).as("dow_sun0"),
        weekofyear(col("o_orderdate")).as("iso_week"),
        last_day(col("o_orderdate")).cast("date").cast("string").as("month_end")),
    oracle = Some("""
      SELECT o_orderkey,
             CAST(year(o_orderdate) AS INT) AS y,
             CAST(quarter(o_orderdate) AS INT) AS q,
             CAST(month(o_orderdate) AS INT) AS m,
             CAST(day(o_orderdate) AS INT) AS dom,
             CAST(dayofweek(o_orderdate) AS INT) AS dow_sun0,
             CAST(weekofyear(o_orderdate) AS INT) AS iso_week,
             CAST(last_day(o_orderdate) AS VARCHAR) AS month_end
      FROM orders"""),
    doc = "date-part extraction family (aligned day-of-week numbering)")

  // --- HLL sketch with an ERROR-BOUND ORACLE: the HLL++ registers are
  //     engine-private, so the raw estimate can't hash-match DuckDB — but
  //     the estimate IS deterministic for a given dataset (no RNG), so the
  //     bound check `|approx-exact| <= 15%·exact` (3σ at rsd=0.05) is a
  //     deterministic column both engines can agree on. The oracle asserts
  //     TRUE: if the sketch ever drifts out of bounds the row hash-
  //     mismatches and the gate goes red — the SketchesSpec assertion
  //     promoted into the driver's correctness artifact.
  private val q70_sketch = Q(
    run = (s, d) => {
      // ONE scan, ONE fact-wide aggregate, no distinct, no join. History
      // of this shape (all A/B'd at sf10): mixing count_distinct with
      // approx_count_distinct in one Aggregate drags ALL 52 HLL register
      // columns per (grp, orderkey) row through the dedup exchange
      // (21.8 s); the r11 dedup-first rewrite (distinct() the pairs, then
      // count + HLL over them) got 9.8 s but still shuffles the FULL
      // ~45 M-row distinct pair set. This (r12) aggregates once on
      // (grp, bitmap-bucket(orderkey)): exact distinct via a 4 KB bitmap
      // per bucket (the q49 bucketed-bitmap idea — buckets partition the
      // key domain, so per-bucket popcounts SUM exactly; clustered
      // replica ids keep the non-empty bucket count ~10^3), approximate
      // distinct via a per-bucket DataSketches HLL (`hll_sketch_agg`)
      // whose registers UNION exactly across buckets — the mergeable-
      // sketch layout a 1000-executor run needs. Everything after the
      // one exchange is bucket-sized. NULL keys: bucket NULL groups to
      // an empty bitmap / empty sketch (both aggregates skip NULLs) and
      // contributes 0; a NULL grp survives by construction (still no
      // join). sf10 solo: 9.8 s (r11) -> 1.6 s, parity with DuckDB's
      // 1.7 s. The 15% bound holds for any lgK>=8 (rsd ~=
      // 1.04/sqrt(2^lgK), 3 sigma at lgK=12 is ~5%).
      Sketches.groupedDistinctExactApprox(
          Tables.lineitem(s, d), col("l_returnflag"), col("l_orderkey"))
        .select(col("grp"), col("exact_nd"),
          (abs(col("approx_nd") - col("exact_nd")) <=
            col("exact_nd") * lit(0.15)).as("within_bounds"))
    },
    oracle = Some("""
      SELECT l_returnflag AS grp, count(DISTINCT l_orderkey) AS exact_nd,
             TRUE AS within_bounds
      FROM lineitem GROUP BY l_returnflag"""),
    doc = "HLL approximate distinct (mergeable sketch; error-bound oracle)")

  // --- portable HLL: the same sketch re-built over the md5-fold hash so
  //     (unlike q70's engine-private HLL++) every register and the final
  //     estimate are bit-identical across engines — fully hash-oracled
  // --- Join pre-flight: HLL cardinalities of both key sides + union +
  //     inclusion-exclusion overlap — one scan per side, everything after
  //     the m-bounded register aggregates is sketch-sized. The "should
  //     this join broadcast / bloom-prefilter" readout, estimated BEFORE
  //     touching the fact table.
  private val q126_join_preflight = Q(
    run = (s, d) =>
      Sketches.hllJoinPreflight(
        Tables.customer(s, d), col("c_custkey"),
        Tables.orders(s, d), col("o_custkey")),
    oracle = Some(Sketches.hllJoinPreflightSql(
      "customer", "c_custkey", "orders", "o_custkey")),
    doc = "join pre-flight: HLL per-side/union/overlap key cardinality " +
      "estimates (mergeable registers)")

  private val q91_hll_portable = Q(
    run = (s, d) =>
      Sketches.hllPortable(Tables.lineitem(s, d), col("l_returnflag"),
        col("l_orderkey")),
    oracle = Some(
      Sketches.hllPortableSql("lineitem", "l_returnflag", "l_orderkey")),
    doc = "portable HyperLogLog distinct estimate, bit-identical to oracle")

  // --- forward as-of join: for each click, the NEXT purchase at-or-after
  //     (time-to-conversion shape) — vs DuckDB's native forward ASOF.
  private val q72_asof_forward = Q(
    run = (s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), col("ts"))
      // raw purchase rows — the oracle's GROUP BY (user_id, ts) max(value)
      // dedup folds into the window sort via rightTieBreak (max-wins at
      // the matched timestamp, decimal→double cast is order-preserving),
      // deleting the pre-aggregation exchange + HashAggregates (r12)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("ts").as("purchase_ts"),
          dec(col("value")).cast("double").as("purchase_value"))
      graft.operators.AsOfJoin.asofJoin(
        clicks, purchases, keys = Seq("user_id"),
        leftTime = "ts", rightTime = "ts",
        rightVals = Seq("purchase_ts", "purchase_value"),
        direction = "forward",
        rightTieBreak = Seq("purchase_value"))
    },
    oracle = Some("""
      WITH clicks AS (
        SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
      purchases AS (
        SELECT user_id, ts,
               CAST(max(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
                 AS purchase_value
        FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
      SELECT c.user_id, c.event_id, c.ts,
             p.ts AS asof_purchase_ts,
             p.purchase_value AS asof_purchase_value
      FROM clicks c ASOF LEFT JOIN purchases p
        ON c.user_id = p.user_id AND c.ts <= p.ts"""),
    doc = "forward as-of join (next purchase after click) vs native ASOF")

  // --- transitive dedup clustering: exact cosine pairs → connected
  //     components (min-member id), oracled via a recursive CTE.
  private val q73_components = Q(
    run = (s, d) => {
      val emb = Tables.embeddings(s, d)
      val pairs = Similarity.exactCosinePairs(emb, threshold = 0.4)
        .select(col("vec_a"), col("vec_b"))
      graft.operators.Dedup
        .components(pairs, emb.select(col("vec_id")))
        .select(col("id").as("vec_id"), col("component"))
    },
    oracle = Some("""
      WITH RECURSIVE pairs AS (
        SELECT a.vec_id AS va, b.vec_id AS vb
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                           CAST(b.embedding AS DOUBLE[])), 4)
              >= 0.4),
      edges AS (SELECT va AS s, vb AS d FROM pairs
                UNION ALL SELECT vb, va FROM pairs),
      reach(s, d) AS (
        SELECT vec_id, vec_id FROM embeddings
        UNION
        SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s)
      SELECT s AS vec_id, min(d) AS component FROM reach GROUP BY s"""),
    doc = "connected-components dedup clustering (min-label propagation)")

  // --- the registered IRIS-compat scalar surface exercised through the
  //     SQL front door (ported reference queries run verbatim): piece /
  //     ifnull3 / isnull2 / contains_code resolve to codegen'd built-ins.
  private val q74_compat_sql = Q(
    run = (s, d) => {
      graft.functions.compat.registerAll(s) // idempotent; Verify sessions
      Tables.customer(s, d).createOrReplaceTempView("v_customer")
      s.sql("""
        SELECT c_custkey,
               piece(c_name, '#', 2) AS cust_num,
               ifnull3(c_mktsegment, 'none', c_mktsegment) AS seg,
               CASE WHEN contains_code(c_mktsegment, 'MACH') THEN 1 ELSE 0
                 END AS is_mach,
               isnull2(c_mktsegment, '') AS seg2
        FROM v_customer""")
    },
    oracle = Some("""
      SELECT c_custkey,
             coalesce(string_split(c_name, '#')[2], '') AS cust_num,
             CASE WHEN c_mktsegment IS NULL THEN 'none' ELSE c_mktsegment
               END AS seg,
             CASE WHEN contains(c_mktsegment, 'MACH') THEN 1 ELSE 0
               END AS is_mach,
             coalesce(c_mktsegment, '') AS seg2
      FROM customer"""),
    doc = "IRIS-compat functions via the spark.sql front door")

  // --- the dedup ENDGAME composed end-to-end: blocked fuzzy pairs →
  //     transitive components → keep the highest-quality member of each
  //     cluster (longest doc, ties to lowest id). Fully oracle-checked
  //     via recursive CTE + ranking window.
  private val q75_keep_best = Q(
    run = (s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = graft.operators.Dedup.fuzzyBlockPairs(docs,
          id = col("doc_id"), block = col("lang"),
          key = substring(col("text"), 1, 32), maxDist = 5)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      val comp = graft.operators.Dedup.components(
        pairs, docs.select(col("doc_id")))
      graft.operators.Dedup.survivors(comp,
          docs.select(col("doc_id").as("id"), col("n_chars")),
          col("n_chars"))
        .select(col("id").as("doc_id"), col("component"),
          col("n_chars"), col("is_survivor"))
    },
    oracle = Some("""
      WITH RECURSIVE heads AS (
        SELECT doc_id, lang, substring(text, 1, 32) AS head FROM documents),
      pairs AS (
        SELECT a.doc_id AS da, b.doc_id AS db
        FROM heads a JOIN heads b
          ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE levenshtein(a.head, b.head) <= 5),
      edges AS (SELECT da AS s, db AS d FROM pairs
                UNION ALL SELECT db, da FROM pairs),
      reach(s, d) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
      comp AS (SELECT s AS doc_id, min(d) AS component FROM reach GROUP BY s)
      SELECT c.doc_id, c.component, d.n_chars,
             (row_number() OVER (PARTITION BY c.component
                ORDER BY d.n_chars DESC, c.doc_id) = 1) AS is_survivor
      FROM comp c JOIN documents d USING (doc_id)"""),
    doc = "dedup endgame: fuzzy pairs → components → keep-best survivor")

  // --- deterministic KMV distinct estimator: the cross-engine-checkable
  //     counterpart to q70's HLL (same sketch idea — only k hashes per
  //     group matter — but reproducible, so the oracle re-derives the
  //     identical estimate rather than settling for a rows-only check)
  private val q76_kmv_distinct = Q(
    run = (s, d) =>
      Sketches.kmvDistinct(Tables.events(s, d), col("event_type"),
        col("user_id"), k = 64),
    oracle = Some(
      Sketches.kmvDistinctSql("events", "event_type", "user_id", k = 64)),
    doc = "KMV k-minimum-values distinct estimate, bit-identical to oracle")

  // --- GROUPING SETS: the general multi-level aggregation form (rollup
  //     q48 / cube q59 are its special cases) — one shuffle computes an
  //     arbitrary set of grouping combinations
  private val q77_grouping_sets = Q(
    run = (s, d) =>
      MultiLevelAgg.groupingSets(Tables.lineitem(s, d),
        Seq("l_returnflag", "l_linestatus"),
        Seq(Seq("l_returnflag", "l_linestatus"), Seq("l_returnflag"),
          Seq.empty),
        Seq(MultiLevelAgg.countAll("n"),
          MultiLevelAgg.sumOf(dec(col("l_quantity")), "qty_d")),
        groupingId = None)
        .withColumn("qty", col("qty_d").cast("double")).drop("qty_d")
        .select(
          coalesce(col("l_returnflag"), lit("<all>")).as("rflag"),
          coalesce(col("l_linestatus"), lit("<all>")).as("lstatus"),
          col("n"), col("qty")),
    oracle = Some("""
      SELECT coalesce(l_returnflag, '<all>') AS rflag,
             coalesce(l_linestatus, '<all>') AS lstatus,
             count(*) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                              (l_returnflag), ())"""),
    doc = "GROUPING SETS multi-level aggregation (general rollup/cube form)")

  // --- salted two-phase aggregation through the driver gate: the skew
  //     answer when one grouping key dominates — partial agg on
  //     (key, salt) spreads the hot key over `salts` reducers, final agg
  //     on key recombines; the RESULT is identical to the plain groupBy,
  //     which is exactly what the oracle certifies
  private val q78_salted_agg = Q(
    run = (s, d) =>
      Salt.saltedCount(Tables.orders(s, d), "o_orderpriority", salts = 8),
    oracle = Some("""
      SELECT o_orderpriority, count(*) AS n
      FROM orders GROUP BY o_orderpriority"""),
    doc = "salted two-phase aggregation (result invariant under salting)")

  // --- bloom-prefiltered exact semi-join: the 100 TB probe pattern. The
  //     bloom is built by a scalar-subquery aggregate over the (selective)
  //     orders key set and applied to lineitem BEFORE its exchange — ONE
  //     action, no driver round trip between an index-build job and the
  //     probe (an earlier two-job form, a collected bitmap then the
  //     probe, was 19× the DuckDB latency at sf1).
  //     The exact semi-join then kills bloom false positives, so the
  //     result — which is what the oracle checks — is the plain
  //     semi-join's, while the shuffled volume shrinks by the key set's
  //     selectivity.
  private val q97_bloom_semi = Q(
    run = (s, d) => {
      val hot = Tables.orders(s, d)
        .where(col("o_totalprice") > 480000.0)
        .select(col("o_orderkey"))
      graft.operators.Bloom.semiJoin(Tables.lineitem(s, d), hot,
          "l_orderkey", "o_orderkey")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("l_quantity"))).cast("double").as("qty"))
    },
    oracle = Some("""
      SELECT l_returnflag, count(*) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
      FROM lineitem
      WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                           WHERE o_totalprice > 480000.0)
      GROUP BY l_returnflag"""),
    doc = "bloom-prefiltered exact semi-join (result invariant under bloom)")

  // --- A5 exact per-group KDE (the reference's distribution plots as a
  //     data job; closes the last SURVEY soft gap). Epanechnikov kernel =
  //     polynomial = bit-identical per row on any IEEE engine; per-row
  //     kernel values quantize to integer micros before the BIGINT sum so
  //     the aggregate is partition-order-independent and the oracle
  //     replays it with NO final round. Grid/bandwidth literals are
  //     binary-exact. One exchange: the (grp, x0) aggregation.
  private val q144_grouped_kde = Q(
    run = (s, d) =>
      graft.operators.Stats.groupedKde(
        Tables.customer(s, d), col("c_mktsegment"),
        dec(col("c_acctbal")).cast("double"),
        gridMin = -1000.0, step = 1000.0, points = 12, bandwidth = 500.0),
    oracle = Some("""
      WITH pts AS (
        SELECT -1000.0 + CAST(gi AS DOUBLE) * 1000.0 AS x0
        FROM (SELECT unnest(generate_series(0, 11)) AS gi)),
      k AS (
        SELECT c_mktsegment AS grp, x0,
          CAST(floor(0.75 * greatest(0.0,
            1.0 - ((x0 - v) / 500.0) * ((x0 - v) / 500.0)) * 1e6 + 0.5)
            AS BIGINT) AS kq
        FROM (SELECT c_mktsegment,
                CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS v
              FROM customer WHERE c_acctbal IS NOT NULL)
        CROSS JOIN pts)
      SELECT grp, x0,
             CAST(sum(kq) AS DOUBLE) / 1e6 /
               (CAST(count(*) AS DOUBLE) * 500.0) AS density,
             count(*) AS n
      FROM k GROUP BY grp, x0"""),
    doc = "A5 exact per-group Epanechnikov KDE on a fixed grid " +
      "(quantized kernel sums, partition-order independent)")

  val all: Seq[(String, Q)] = Seq(
    "q144_grouped_kde" -> q144_grouped_kde,
    "q54_sample_hash" -> q54_sample_hash,
    "q55_window_rank" -> q55_window_rank,
    "q56_pivot" -> q56_pivot,
    "q57_explode" -> q57_explode,
    "q58_embed_dedup" -> q58_embed_dedup,
    "q59_cube" -> q59_cube,
    "q60_intersect" -> q60_intersect,
    "q61_tokens_bpe" -> q61_tokens_bpe,
    "q62_window_slide" -> q62_window_slide,
    "q63_frames" -> q63_frames,
    "q64_fuzzy_block" -> q64_fuzzy_block,
    "q65_stats" -> q65_stats,
    "q66_range_frame" -> q66_range_frame,
    "q67_array_funcs" -> q67_array_funcs,
    "q68_exists" -> q68_exists,
    "q69_date_extract" -> q69_date_extract,
    "q70_sketch" -> q70_sketch,
    "q72_asof_forward" -> q72_asof_forward,
    "q73_components" -> q73_components,
    "q74_compat_sql" -> q74_compat_sql,
    "q75_keep_best" -> q75_keep_best,
    "q76_kmv_distinct" -> q76_kmv_distinct,
    "q77_grouping_sets" -> q77_grouping_sets,
    "q78_salted_agg" -> q78_salted_agg,
    "q91_hll_portable" -> q91_hll_portable,
    "q97_bloom_semi" -> q97_bloom_semi,
    "q126_join_preflight" -> q126_join_preflight)
}
