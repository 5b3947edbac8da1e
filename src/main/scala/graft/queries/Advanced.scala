package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.Tables
import graft.etl.FhirBuilders
import graft.functions.compat

/** Extended operator coverage: analytic lag/lead, gap-based sessionization
  * (the batch view of streaming session windows), FHIR document
  * construction with a byte-identical SQL oracle, stratified sampling and
  * ML feature preparation (rows-only — engine-seeded randomness / vector
  * types have no SQL-oracle form).
  */
object Advanced {

  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(12, 2))

  /** q122's pre-checkpoint event prep, factored out so PlanShapeSpec can
    * assert the scan shape (3-type IN filter pushed, schema pruned)
    * separately — the checkpoint hides the scan from the main plan.
    */
  private[queries] def funnelPrep(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Tables.events(s, d)
      .filter(col("ts").isNotNull &&
        col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("event_type"), col("ts"))
      // explicit count: AQE never coalesces user-specified partition
      // counts, which is what lets CheckpointBridge declare the exact
      // HashPartitioning of the materialized layout
      .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt,
        col("user_id"))

  // --- analytic lag/lead over an ordered series (W4 extension)
  private val q42_lag_delta = Q(
    run = (s, d) => {
      // value tiebreakers: duplicate (orderkey, linenumber) keys exist in
      // the data — the order must be total for cross-engine determinism,
      // and every key pins NULLS LAST (see q16)
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate").asc_nulls_last,
          col("l_orderkey").asc_nulls_last,
          col("l_linenumber").asc_nulls_last,
          col("l_quantity").asc_nulls_last,
          col("l_extendedprice").asc_nulls_last)
      Tables.lineitem(s, d).select(
        col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        (dec(col("l_extendedprice")) -
          lag(dec(col("l_extendedprice")), 1).over(w))
          .cast("double").as("price_delta"),
        lead(col("l_orderkey"), 1).over(w).as("next_order"))
    },
    oracle = Some("""
      SELECT l_suppkey, l_orderkey, l_linenumber,
        CAST(CAST(l_extendedprice AS DECIMAL(12,2)) -
             lag(CAST(l_extendedprice AS DECIMAL(12,2)), 1) OVER w AS DOUBLE)
          AS price_delta,
        lead(l_orderkey, 1) OVER w AS next_order
      FROM lineitem
      WINDOW w AS (PARTITION BY l_suppkey
                   ORDER BY l_shipdate NULLS LAST, l_orderkey NULLS LAST,
                            l_linenumber NULLS LAST, l_quantity NULLS LAST,
                            l_extendedprice NULLS LAST)"""),
    doc = "analytic lag/lead with deterministic ordering")

  // --- gap-based sessionization: the batch equivalent of streaming session
  //     windows (30-minute inactivity gap), via lag + conditional cumsum.
  private val q43_sessionize = Q(
    run = (s, d) => {
      // ts is NULLABLE: pin nulls LAST explicitly (Spark asc default is
      // nulls first, DuckDB's is nulls last — untimed rows would
      // otherwise shift every session number in their partition)
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc_nulls_last, col("event_id"))
      Tables.events(s, d)
        .withColumn("gap",
          when(col("ts").cast("long") -
            lag(col("ts"), 1).over(byUser).cast("long") > 1800, 1)
            .otherwise(0))
        .withColumn("session_no",
          sum(col("gap")).over(
            byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_no"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"))
    },
    oracle = Some("""
      -- ts parity: NTZ micros == UTC instants on both engines (q30 note);
      -- NULL ts rows sort NULLS LAST on BOTH sides (pinned — Spark's asc
      -- default is nulls FIRST) so untimed rows can't shift session
      -- numbering; their gap is NULL -> CASE gives 0 -> they extend the
      -- final session rather than starting phantom ones.
      WITH gaps AS (
        SELECT user_id, event_id, ts,
          CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) -
                    CAST(floor(epoch(lag(ts, 1) OVER w)) AS BIGINT) > 1800
               THEN 1 ELSE 0 END AS gap
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS LAST, event_id)),
      sessions AS (
        SELECT user_id, ts,
          CAST(sum(gap) OVER (PARTITION BY user_id
            ORDER BY ts NULLS LAST, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_no
        FROM gaps)
      SELECT user_id, session_no, count(*) AS n_events,
             min(ts) AS session_start, max(ts) AS session_end
      FROM sessions GROUP BY user_id, session_no"""),
    doc = "gap-based sessionization (batch view of session windows)")

  // --- T1 document build, oracle-checked byte-for-byte: DuckDB assembles
  //     the identical JSON with string concatenation.
  private val q44_fhir_org_build = Q(
    run = (s, d) =>
      Tables.nation(s, d).select(
        col("n_nationkey"),
        FhirBuilders.organization(
          ods = concat(lit("N"), col("n_nationkey")),
          name = col("n_name"),
          postCode = when(col("n_nationkey") % 2 === 0,
            concat(lit("PC"), col("n_nationkey"))).otherwise(lit("")),
          nationalGrouping = when(col("n_nationkey") % 3 === 0, lit("Y99"))
            .otherwise(lit("")),
          phone = lit(""),
          addr1 = lit("1 HIGH ST"), addr2 = lit(""),
          addr3 = lit(""), addr4 = lit(""),
          closed = when(col("n_nationkey") === 7, lit("20200101"))
            .otherwise(lit("")),
          id = lit("")).as("doc")),
    oracle = Some("""
      SELECT n_nationkey,
        '{"resourceType":"Organization","identifier":[{"system":"https://fhir.nhs.uk/Id/ods-organization-code","value":"N'
        || n_nationkey || '"}],"active":' ||
        CASE WHEN n_nationkey = 7 THEN 'false' ELSE 'true' END ||
        ',"type":[{"coding":[{"system":"https://fhir.nhs.uk/CodeSystem/organisation-role","code":"76","display":"GP PRACTICE"}]}],"name":'
        || to_json(n_name) ||
        CASE WHEN n_nationkey % 3 = 0 THEN
          ',"partOf":{"identifier":{"system":"https://fhir.nhs.uk/Id/ods-organization-code","value":"Y99"}}'
        ELSE '' END ||
        CASE WHEN n_nationkey % 2 = 0 THEN
          ',"address":[{"postalCode":"PC' || n_nationkey || '","line":["1 HIGH ST"]}]'
        ELSE '' END || '}' AS doc
      FROM nation"""),
    doc = "T1 FHIR Organization build vs byte-identical SQL oracle")

  // --- A6/M3: seeded stratified sampling via Spark's own `sampleBy`,
  //     kept to cover the reference's `groupby.sample(frac=…)` API shape
  //     1:1. Its Bernoulli draw is seeded per Spark's partition-RNG
  //     contract, which no other engine reproduces, so the SAMPLED SET
  //     has nothing for a cross-engine oracle to agree on BY DESIGN —
  //     but the per-stratum sampled COUNT is binomial(n, 0.7), so the
  //     bound `|n_sampled − 0.7·n| ≤ 4σ + 1` (σ = √(n·0.7·0.3), false-
  //     positive ~6e-5 per stratum, and deterministic for the fixed
  //     seed anyway) is a column both engines can agree on — q70's
  //     HLL error-bound oracle pattern. If Spark's sampler ever drifts
  //     the row hash-mismatches and the gate goes red. The
  //     deterministic forms of the same operator are fully oracled as
  //     q54 (hash-mod stratified sample) and q87 (md5-priority bottom-k
  //     per stratum); production pipelines that need reproducibility-
  //     across-engines use those. SamplingSpec pins this variant's
  //     per-stratum fraction concentration at the spec layer too.
  private val q45_sample_strat = Q(
    run = (s, d) => {
      val o = Tables.orders(s, d)
        .filter(col("o_orderstatus").isin("F", "O", "P"))
      val strata = Map("F" -> 0.7, "O" -> 0.7, "P" -> 0.7)
      val sampled = o.stat.sampleBy("o_orderstatus", strata, 42L)
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n_sampled"))
      val totals = o.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_total"))
      totals.join(sampled, Seq("o_orderstatus"), "left")
        .select(col("o_orderstatus"), col("n_total"),
          (abs(coalesce(col("n_sampled"), lit(0L)).cast("double") -
            col("n_total").cast("double") * lit(0.7)) <=
            sqrt(col("n_total").cast("double") * lit(0.21)) * lit(4.0) +
              lit(1.0)).as("within_bounds"))
    },
    oracle = Some("""
      SELECT o_orderstatus, count(*) AS n_total, TRUE AS within_bounds
      FROM orders WHERE o_orderstatus IN ('F', 'O', 'P')
      GROUP BY 1"""),
    doc = "A6 seeded stratified sampling (engine RNG; binomial " +
      "error-bound oracle — q70's pattern)")

  // --- M6: median imputation in exact-relational form (the ml.Imputer uses
  //     approximate quantiles — fine for modeling, not for an oracle; the
  //     plan form broadcasts the exact median instead of collecting, and
  //     the median itself comes from the value-grid histogram
  //     (Stats.globalPercentiles) so no executor ever buffers the column)
  private val q46_ml_features = Q(
    run = (s, d) => {
      val feats = Tables.lineitem(s, d).select(
        col("l_orderkey"),
        col("l_quantity").as("qty"),
        when(col("l_linenumber") === 1, lit(null).cast("double"))
          .otherwise(col("l_discount")).as("disc"))
      val medDf = graft.operators.Stats.globalPercentiles(feats, "disc",
        Seq("m" -> 0.5))
      feats.crossJoin(broadcast(medDf))
        .select(col("l_orderkey"), col("qty"),
          coalesce(col("disc"), col("m")).as("disc_imp"))
    },
    oracle = Some("""
      WITH med AS (
        SELECT round(quantile_cont(CAST(l_discount AS DOUBLE), 0.5), 6) AS m
        FROM lineitem WHERE l_linenumber <> 1)
      SELECT l_orderkey, l_quantity AS qty,
        CASE WHEN l_linenumber = 1 THEN (SELECT m FROM med)
             ELSE l_discount END AS disc_imp
      FROM lineitem"""),
    doc = "M6 median imputation + feature assembly (imputed values oracle-checked)")

  // --- F11 acceptance extractors (RaceAndEthnicCategorySQL.ipynb:455,643-648):
  //     US-Core race/ethnicity complex extensions + birthsex simple extension,
  //     evaluated by the custom FhirPathExpr on per-row constructed patient
  //     JSON; the oracle runs positional JSON paths over the same bytes.
  private val q47_race_extract = Q(
    run = (s, d) => {
      val doc = concat(
        lit("""{"resourceType":"Patient","id":""""), col("c_custkey"),
        lit("""","identifier":[{"system":"https://nhs.uk/Id/nhs-number","value":"N"""),
        col("c_custkey"),
        lit(""""}],"extension":[{"url":"http://hl7.org/fhir/us/core/StructureDefinition/us-core-race","extension":[{"url":"ombCategory","valueCoding":{"code":"R"""),
        col("c_nationkey"),
        // hostile segments (quotes/backslashes/tabs in the edge corpus)
        // must not break the synthetic doc: JSON-escape the splice with
        // the pinned two-char-escape contract on BOTH sides.
        lit("""","display":"race-"""), compat.jsonEscape(col("c_mktsegment")),
        lit(""""}}]},{"url":"http://hl7.org/fhir/us/core/StructureDefinition/us-core-ethnicity","extension":[{"url":"ombCategory","valueCoding":{"code":"E"""),
        col("c_nationkey"),
        lit(""""}}]},{"url":"http://hl7.org/fhir/us/core/StructureDefinition/us-core-birthsex","valueCode":""""),
        when(col("c_custkey") % 2 === 0, "F").otherwise("M"),
        lit(""""}]}"""))
      val race = "extension('http://hl7.org/fhir/us/core/StructureDefinition/us-core-race')"
      val eth = "extension('http://hl7.org/fhir/us/core/StructureDefinition/us-core-ethnicity')"
      val bsx = "extension('http://hl7.org/fhir/us/core/StructureDefinition/us-core-birthsex')"
      Tables.customer(s, d).withColumn("doc", doc).select(
        col("c_custkey"),
        compat.getFhirPathOne(col("doc"),
          s"$race.extension('ombCategory').valueCoding.code").as("race_code"),
        compat.getFhirPathOne(col("doc"),
          s"$race.extension('ombCategory').valueCoding.display").as("race_display"),
        compat.getFhirPathOne(col("doc"),
          s"$eth.extension('ombCategory').valueCoding.code").as("ethnicity_code"),
        compat.getFhirPathOne(col("doc"), s"$bsx.valueCode").as("birthsex"),
        compat.getFhirPathOne(col("doc"), "identifier[0].value").as("nhs_number"))
    },
    oracle = Some("""
      WITH docs AS (
        SELECT c_custkey,
          '{"resourceType":"Patient","id":"' || c_custkey ||
          '","identifier":[{"system":"https://nhs.uk/Id/nhs-number","value":"N' || c_custkey ||
          '"}],"extension":[{"url":"http://hl7.org/fhir/us/core/StructureDefinition/us-core-race","extension":[{"url":"ombCategory","valueCoding":{"code":"R' || c_nationkey ||
          '","display":"race-' || """ +
      compat.jsonEscapeSql("c_mktsegment") + """ ||
          '"}}]},{"url":"http://hl7.org/fhir/us/core/StructureDefinition/us-core-ethnicity","extension":[{"url":"ombCategory","valueCoding":{"code":"E' || c_nationkey ||
          '"}}]},{"url":"http://hl7.org/fhir/us/core/StructureDefinition/us-core-birthsex","valueCode":"' ||
          CASE WHEN c_custkey % 2 = 0 THEN 'F' ELSE 'M' END || '"}]}' AS doc
        FROM customer)
      SELECT c_custkey,
        json_extract_string(doc, '$.extension[0].extension[0].valueCoding.code') AS race_code,
        json_extract_string(doc, '$.extension[0].extension[0].valueCoding.display') AS race_display,
        json_extract_string(doc, '$.extension[1].extension[0].valueCoding.code') AS ethnicity_code,
        json_extract_string(doc, '$.extension[2].valueCode') AS birthsex,
        json_extract_string(doc, '$.identifier[0].value') AS nhs_number
      FROM docs"""),
    doc = "F11 race/ethnicity/birthsex FHIRPath extractors (acceptance set)")

  // --- multi-level aggregation: ROLLUP with grouping_id (subtotal frames —
  //     beyond the reference's surface, standard analytics completeness)
  private val q48_rollup = Q(
    run = (s, d) =>
      graft.operators.MultiLevelAgg.rollup(Tables.orders(s, d),
        Seq("o_orderstatus", "o_orderpriority"),
        Seq(graft.operators.MultiLevelAgg.countAll("n"),
          graft.operators.MultiLevelAgg.sumOf(dec(col("o_totalprice")), "total_d")),
        groupingId = Some("gid"))
        .withColumn("total", col("total_d").cast("double")).drop("total_d")
        .select(
          coalesce(col("o_orderstatus"), lit("<all>")).as("status"),
          coalesce(col("o_orderpriority"), lit("<all>")).as("priority"),
          col("gid"), col("n"), col("total")),
    oracle = Some("""
      SELECT coalesce(o_orderstatus, '<all>') AS status,
             coalesce(o_orderpriority, '<all>') AS priority,
             grouping_id(o_orderstatus, o_orderpriority) AS gid,
             count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
      FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)"""),
    doc = "ROLLUP subtotals with grouping_id")

  // --- distinct aggregation (exact; approx_count_distinct is the
  //     engine-specific HLL variant, exercised in specs)
  private val q49_distinct_agg = Q(
    run = (s, d) =>
      // Bucketed-bitmap plan (r12): the r11 A/B had eliminated two-pass
      // pre-aggregates (14.7 s — second scan) and eager checkpoint (OOM)
      // in favor of the Expand-x3 at 9.9 s sf10; this replaces the Expand
      // entirely — ONE scan aggregating on (grp, bucket(partkey),
      // bucket(suppkey)) with 4KB bitmap buffers (~10^2-10^3 groups, not
      // the Expand's 6M-entry (grp,gid,key) maps over 180M replicas),
      // then bitmap-sized OR/popcount stages. Exact by bijection; dense
      // TPC-H ids are the documented sweet spot (DistinctCounts scaladoc;
      // scattered hash domains would fall back to expandDistinct).
      graft.operators.DistinctCounts.bitmapDistinct(
        Tables.lineitem(s, d), col("l_returnflag"), "l_returnflag",
        Seq("n_parts" -> col("l_partkey"), "n_supps" -> col("l_suppkey")),
        rowCount = Some("n_rows")),
    oracle = Some("""
      SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
             count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
      FROM lineitem GROUP BY l_returnflag"""),
    doc = "exact distinct aggregation (expand-based)")

  // --- string-function breadth (F14 trim family + casing/pad/replace)
  private val q50_strings = Q(
    run = (s, d) =>
      Tables.part(s, d).select(
        col("p_partkey"),
        upper(col("p_name")).as("up"),
        lower(col("p_brand")).as("lo"),
        lpad(col("p_partkey").cast("string"), 8, "0").as("padded"),
        regexp_replace(col("p_name"), "widget", "gadget").as("replaced"),
        substring(col("p_type"), 1, 4).as("type4"),
        length(col("p_name")).cast("int").as("len"),
        reverse(col("p_brand")).as("rev"),
        translate(col("p_name"), "aeiou", "AEIOU").as("translated")),
    oracle = Some("""
      SELECT p_partkey, upper(p_name) AS up, lower(p_brand) AS lo,
             lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS padded,
             regexp_replace(p_name, 'widget', 'gadget', 'g') AS replaced,
             substring(p_type, 1, 4) AS type4,
             CAST(length(p_name) AS INTEGER) AS len,
             reverse(p_brand) AS rev,
             translate(p_name, 'aeiou', 'AEIOU') AS translated
      FROM part"""),
    doc = "string-function surface: case/pad/replace/substr/translate")

  // --- as-of (point-in-time) join: click→purchase attribution — for each
  //     purchase, the user's latest click at-or-before the purchase time.
  //     Union+window implementation (operators.AsOfJoin) vs DuckDB's
  //     native ASOF JOIN as the oracle.
  private val q51_asof_attribution = Q(
    run = (s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"),
          dec(col("value")).cast("double").as("purchase_value"))
      // raw click rows — the per-(user_id, ts) max(value) dedup rides the
      // window sort (rightTieBreak max-wins), not its own exchange (r12)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("ts").as("click_ts"),
          dec(col("value")).cast("double").as("click_value"))
      graft.operators.AsOfJoin.asofJoin(
        purchases, clicks, keys = Seq("user_id"),
        leftTime = "ts", rightTime = "ts",
        rightVals = Seq("click_ts", "click_value"),
        rightTieBreak = Seq("click_value"))
    },
    oracle = Some("""
      WITH purchases AS (
        SELECT user_id, event_id, ts,
               CAST(CAST(value AS DECIMAL(12,2)) AS DOUBLE) AS purchase_value
        FROM events WHERE event_type = 'purchase'),
      clicks AS (
        SELECT user_id, ts,
               CAST(max(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS click_value
        FROM events WHERE event_type = 'click' GROUP BY user_id, ts)
      SELECT p.user_id, p.event_id, p.ts, p.purchase_value,
             c.ts AS asof_click_ts, c.click_value AS asof_click_value
      FROM purchases p ASOF LEFT JOIN clicks c
        ON p.user_id = c.user_id AND p.ts >= c.ts"""),
    doc = "as-of join (click attribution) vs native ASOF JOIN oracle")

  // --- range join: price-band classification via inequality join (small
  //     dim → broadcast; the big-to-big binned form lives in
  //     operators.RangeJoin with spec coverage)
  private val q52_range_join = Q(
    run = (s, d) => {
      val spark = s
      import spark.implicits._
      val bands = Seq(("low", 0.0, 450.0), ("mid", 450.0, 920.0),
        ("high", 920.0, 100000.0)).toDF("band", "lo", "hi")
      graft.operators.RangeJoin.pointInInterval(
          Tables.part(s, d), "p_retailprice", bands, "lo", "hi")
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("p_retailprice"))).cast("double").as("total_price"))
    },
    oracle = Some("""
      WITH bands(band, lo, hi) AS (
        VALUES ('low', 0.0, 450.0), ('mid', 450.0, 920.0),
               ('high', 920.0, 100000.0))
      SELECT band, count(*) AS n,
             CAST(sum(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
      FROM part JOIN bands ON p_retailprice >= lo AND p_retailprice < hi
      GROUP BY band"""),
    doc = "inequality range join onto a band dimension")

  // --- Ordered funnel: view -> click -> purchase, each stage STRICTLY
  //     after the previous one's first completion. The relevant events
  //     are scanned ONCE (the 3-type IN filter + ts guard reach the
  //     parquet scan — gated on [[funnelPrep]]) and shuffled on user_id
  //     ONCE, then CHECKPOINTED WITH ITS PARTITIONING
  //     (CheckpointBridge.checkpointPartitioned): without a barrier
  //     Catalyst pushes each stage's event_type filter back below the
  //     repartition and the plan degenerates to three per-type
  //     exchanges (measured — the r7 shape); a cache() barrier doesn't
  //     work under AQE (the cached plan is its own AdaptiveSparkPlan,
  //     so InMemoryTableScan reports unknown partitioning and every
  //     stage re-shuffles); and plain localCheckpoint drops the
  //     partitioning from the LogicalRDD entirely (all measured). The
  //     bridge declares the user_id HashPartitioning on the
  //     materialized relation, and every stage groupBy and join
  //     downstream requires only user_id clustering, so the whole
  //     funnel is ONE data exchange (inside the checkpoint job) and an
  //     exchange-free main plan. No per-user event sort happens
  //     anywhere beyond the SMJ's partition-local sorts (the window
  //     formulation would sort every user's full history). NULL ts
  //     rows are excluded up front (the event-time contract).
  //
  //     Scale shape: same bytes through the shuffle as the
  //     filter-per-stage form (each event crosses the wire once) but
  //     one scan of events instead of three and one shuffle write
  //     instead of three — at 100 TB the triple scan dominates;
  //     at toy SF the saved AQE stage boundaries dominate. Gated in
  //     PlanShapeSpec at exactly one non-broadcast exchange.
  private val q122_funnel = Q(
    run = (s, d) => {
      val e = org.apache.spark.sql.graftbridge.CheckpointBridge
        .checkpointPartitioned(funnelPrep(s, d))
      val v = e.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ts")).as("t_view"))
      val c = e.filter(col("event_type") === "click")
        .join(v, "user_id").filter(col("ts") > col("t_view"))
        .groupBy("user_id").agg(min(col("ts")).as("t_click"))
      val p = e.filter(col("event_type") === "purchase")
        .join(c, "user_id").filter(col("ts") > col("t_click"))
        .groupBy("user_id").agg(min(col("ts")).as("t_purchase"))
      v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
        .select(col("user_id"), col("t_view"), col("t_click"),
          col("t_purchase"))
    },
    oracle = Some("""
      WITH e AS (SELECT user_id, event_type, ts FROM events
                 WHERE ts IS NOT NULL),
      v AS (SELECT user_id, min(ts) AS t_view FROM e
            WHERE event_type = 'view' GROUP BY 1),
      c AS (SELECT e.user_id, min(e.ts) AS t_click
            FROM e JOIN v ON e.user_id = v.user_id
            WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY 1),
      p AS (SELECT e.user_id, min(e.ts) AS t_purchase
            FROM e JOIN c ON e.user_id = c.user_id
            WHERE e.event_type = 'purchase' AND e.ts > c.t_click
            GROUP BY 1)
      SELECT v.user_id, v.t_view, c.t_click, p.t_purchase
      FROM v
      LEFT JOIN c ON v.user_id = c.user_id
      LEFT JOIN p ON v.user_id = p.user_id"""),
    doc = "ordered conversion funnel: per-user first view -> first " +
      "later click -> first later purchase")

  // --- Retention cohorts: users grouped by first-active DATE, counted
  //     on each later day they return. The (user_id, day) projection is
  //     shuffled on user_id ONCE and checkpointed with its partitioning
  //     (the q122 pattern): the cohort groupBy, the cohort join, AND the
  //     (user, cohort, offset) distinct all need only user_id clustering
  //     — a hash partitioning on a KEY SUBSET clusters the full key — so
  //     the only other exchange is the final (cohort, offset) rollup,
  //     whose cardinality is calendar-sized. The distinct bounds the
  //     aggregate at users x active-days.
  private val q123_retention = Q(
    run = (s, d) => {
      val e = org.apache.spark.sql.graftbridge.CheckpointBridge
        .checkpointPartitioned(
          Tables.events(s, d).filter(col("ts").isNotNull)
            .select(col("user_id"), to_date(col("ts")).as("d"))
            .repartition(
              s.conf.get("spark.sql.shuffle.partitions").toInt,
              col("user_id")))
      val f = e.groupBy("user_id").agg(min(col("d")).as("cohort_day"))
      e.join(f, "user_id")
        .select(col("user_id"), col("cohort_day"),
          datediff(col("d"), col("cohort_day")).as("day_offset"))
        .distinct()
        .groupBy("cohort_day", "day_offset")
        .agg(count(lit(1)).as("n_users"))
    },
    oracle = Some("""
      WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events
                 WHERE ts IS NOT NULL),
      f AS (SELECT user_id, min(d) AS cohort_day FROM e GROUP BY 1),
      act AS (
        SELECT DISTINCT e.user_id, f.cohort_day,
          date_diff('day', f.cohort_day, e.d) AS day_offset
        FROM e JOIN f ON e.user_id = f.user_id)
      SELECT cohort_day, CAST(day_offset AS INTEGER) AS day_offset,
        count(*) AS n_users
      FROM act GROUP BY 1, 2"""),
    doc = "retention cohorts: first-active-day cohort x day-offset " +
      "returning-user counts")

  val all: Seq[(String, Q)] = Seq(
    "q42_lag_delta" -> q42_lag_delta,
    "q43_sessionize" -> q43_sessionize,
    "q44_fhir_org_build" -> q44_fhir_org_build,
    "q45_sample_strat" -> q45_sample_strat,
    "q46_ml_features" -> q46_ml_features,
    "q47_race_extract" -> q47_race_extract,
    "q48_rollup" -> q48_rollup,
    "q49_distinct_agg" -> q49_distinct_agg,
    "q50_strings" -> q50_strings,
    "q51_asof_attribution" -> q51_asof_attribution,
    "q52_range_join" -> q52_range_join,
    "q122_funnel" -> q122_funnel,
    "q123_retention" -> q123_retention)
}
