package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.{Bronze, Gold, Merge, Silver, Temporal}
import graft.sources.LayerIO

/** Reference-surface query registry: Silver operators D3–D8 (q02–q07),
  * Gold star schema D9–D12 (q08–q12), MERGE J2 (q13), the doc-declared
  * referential-integrity / stats checks (q14–q16), and event-table
  * JSON + window analytics (q17–q19) covering SURVEY.md §2.2–§2.9.
  *
  * Every query: deterministic ordering, decimal-domain money math,
  * engine-portable types (bigint counts, explicit casts). See
  * Queries.scala for the flagship and the determinism rules.
  */
object CoreQueries {

  private def t(s: SparkSession, d: String, name: String): DataFrame =
    Tables.load(s, d, name)

  // ---------------------------------------------------------------- M1

  /** q02 — DQ rule engine (D6) over cleansed claim lines. */
  def dqRuleEngine(s: SparkSession, d: String): DataFrame =
    Silver.applyDqRules(Silver.cleanseLineitem(t(s, d, "lineitem")))
      .select(col("l_orderkey"), col("l_linenumber"), col("dq_status"), col("dq_reasons_csv"))
      .orderBy("l_orderkey", "l_linenumber")

  private val dqReasonsSql =
    """concat_ws(';',
      |  CASE WHEN l_orderkey IS NULL OR l_linenumber IS NULL
      |         OR l_partkey IS NULL OR l_suppkey IS NULL THEN 'MISSING_REQUIRED_FIELDS' END,
      |  CASE WHEN l_shipdate > TIMESTAMP '2005-01-01' THEN 'FUTURE_SERVICE_DATE' END,
      |  CASE WHEN NOT (regexp_matches(upper(trim(l_returnflag)), '^[ANR]$')
      |              OR regexp_matches(upper(trim(l_returnflag)), '^RF-[ANR]$')) THEN 'INVALID_RETURN_FLAG' END,
      |  CASE WHEN l_extendedprice <= 0 OR l_quantity <= 0 THEN 'NON_POSITIVE_AMOUNT' END,
      |  CASE WHEN l_discount < 0 OR l_discount > 1 THEN 'INVALID_DISCOUNT' END)""".stripMargin

  val dqRuleEngineOracle: String =
    s"""SELECT l_orderkey, l_linenumber,
       |  CASE WHEN (l_orderkey IS NULL OR l_linenumber IS NULL OR l_partkey IS NULL OR l_suppkey IS NULL)
       |         OR (l_shipdate > TIMESTAMP '2005-01-01')
       |         OR (NOT (regexp_matches(upper(trim(l_returnflag)), '^[ANR]$$')
       |               OR regexp_matches(upper(trim(l_returnflag)), '^RF-[ANR]$$')))
       |         OR (l_extendedprice <= 0 OR l_quantity <= 0)
       |         OR (l_discount < 0 OR l_discount > 1)
       |       THEN 'FAIL' ELSE 'PASS' END AS dq_status,
       |  $dqReasonsSql AS dq_reasons_csv
       |FROM lineitem ORDER BY 1, 2""".stripMargin

  /** q03 — quarantine split (D7). The fixtures are clean, so a bad feed is
    * simulated deterministically IN the query (negated price + invalid
    * flag for every 97th order key) and the FAIL side is returned —
    * exercising the gate with a non-empty quarantine.
    */
  def quarantine(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem")
    val corrupted = li.filter(col("l_orderkey") % 97 === 0)
      .withColumn("l_extendedprice", -col("l_extendedprice"))
      .withColumn("l_returnflag", lit("X"))
    // alternate-format codes are VALID under the second pattern of the
    // negated-or rule — these rows must stay out of the quarantine
    val altFormat = li.filter(col("l_orderkey") % 101 === 0)
      .withColumn("l_returnflag", lit("RF-A"))
    val (_, fail) = Silver.quarantineSplit(
      Silver.applyDqRules(Silver.cleanseLineitem(
        li.unionByName(corrupted).unionByName(altFormat))))
    fail.select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("dq_reasons_csv"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  val quarantineOracle: String =
    """WITH feed AS (
      |  SELECT * FROM lineitem
      |  UNION ALL
      |  SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
      |         -l_extendedprice AS l_extendedprice, l_discount, l_tax,
      |         'X' AS l_returnflag, l_linestatus, l_shipdate
      |  FROM lineitem WHERE l_orderkey % 97 = 0
      |  UNION ALL
      |  SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
      |         l_extendedprice, l_discount, l_tax,
      |         'RF-A' AS l_returnflag, l_linestatus, l_shipdate
      |  FROM lineitem WHERE l_orderkey % 101 = 0
      |)
      |SELECT l_orderkey, l_linenumber, upper(trim(l_returnflag)) AS l_returnflag,
      |  concat_ws(';',
      |    CASE WHEN l_orderkey IS NULL OR l_linenumber IS NULL
      |           OR l_partkey IS NULL OR l_suppkey IS NULL THEN 'MISSING_REQUIRED_FIELDS' END,
      |    CASE WHEN l_shipdate > TIMESTAMP '2005-01-01' THEN 'FUTURE_SERVICE_DATE' END,
      |    CASE WHEN NOT (regexp_matches(upper(trim(l_returnflag)), '^[ANR]$')
      |                OR regexp_matches(upper(trim(l_returnflag)), '^RF-[ANR]$')) THEN 'INVALID_RETURN_FLAG' END,
      |    CASE WHEN l_extendedprice <= 0 OR l_quantity <= 0 THEN 'NON_POSITIVE_AMOUNT' END,
      |    CASE WHEN l_discount < 0 OR l_discount > 1 THEN 'INVALID_DISCOUNT' END) AS dq_reasons_csv
      |FROM feed
      |WHERE (l_orderkey IS NULL OR l_linenumber IS NULL OR l_partkey IS NULL OR l_suppkey IS NULL)
      |   OR (l_shipdate > TIMESTAMP '2005-01-01')
      |   OR (NOT (regexp_matches(upper(trim(l_returnflag)), '^[ANR]$')
      |         OR regexp_matches(upper(trim(l_returnflag)), '^RF-[ANR]$')))
      |   OR (l_extendedprice <= 0 OR l_quantity <= 0)
      |   OR (l_discount < 0 OR l_discount > 1)
      |ORDER BY 1, 2""".stripMargin

  /** q04 — business-key dedup via ranked window (D8/W1): one row per order
    * key, latest ship date, line-number tie-break.
    */
  def dedupWindow(s: SparkSession, d: String): DataFrame =
    Silver.dedupLatest(t(s, d, "lineitem"), Seq("l_orderkey"),
        Seq(col("l_shipdate").desc, col("l_linenumber").desc))
      .select(col("l_orderkey"), col("l_linenumber"),
        to_date(col("l_shipdate")).as("ship_date"))
      .orderBy("l_orderkey")

  val dedupWindowOracle: String =
    """SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS ship_date
      |FROM (
      |  SELECT l_orderkey, l_linenumber, l_shipdate,
      |         row_number() OVER (PARTITION BY l_orderkey
      |                            ORDER BY l_shipdate DESC, l_linenumber DESC) AS rn
      |  FROM lineitem)
      |WHERE rn = 1 ORDER BY l_orderkey""".stripMargin

  /** q05 — watermark incremental read (D3/D4): the stored high-water mark
    * is itself derived from data (max order date before 1997), then the
    * incremental scan returns only rows above it. The mark is collected as
    * ONE literal so the predicate pushes down to the scan (see
    * PlanShapeSpec) — at 100 TB that pruning is the whole point of D3.
    */
  def watermarkIncremental(s: SparkSession, d: String): DataFrame = {
    val orders = t(s, d, "orders")
    val wm = Silver.watermarkCommit(
      orders.filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp")),
      "orders", "o_orderdate")
    Silver.incrementalAfterLiteral(orders, wm, "orders", "o_orderdate")
      .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      .orderBy("o_orderkey")
  }

  val watermarkIncrementalOracle: String =
    """SELECT o_orderkey, o_orderdate, o_totalprice FROM orders
      |WHERE o_orderdate > (SELECT max(o_orderdate) FROM orders
      |                     WHERE o_orderdate < TIMESTAMP '1997-01-01')
      |ORDER BY o_orderkey""".stripMargin

  /** q06 — cleanse/standardize (D5) over `part`: trim/upper codes, decimal
    * money.
    */
  def cleanseStandardize(s: SparkSession, d: String): DataFrame =
    t(s, d, "part").select(
      col("p_partkey"),
      upper(trim(col("p_name"))).as("part_name"),
      upper(trim(col("p_brand"))).as("brand"),
      upper(trim(col("p_type"))).as("part_type"),
      col("p_size"),
      // decimal round-trip for the 2-decimal money domain, but the FINAL
      // projection is double: the driver hashes value representations, and
      // decimal renderings differ across engines (VERDICT r1 "What's wrong" #1)
      col("p_retailprice").cast(DecimalType(18, 2)).cast("double").as("retail_price"))
      .orderBy("p_partkey")

  val cleanseStandardizeOracle: String =
    """SELECT p_partkey, upper(trim(p_name)) AS part_name,
      |  upper(trim(p_brand)) AS brand, upper(trim(p_type)) AS part_type,
      |  p_size, CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS DOUBLE) AS retail_price
      |FROM part ORDER BY p_partkey""".stripMargin

  /** q07 — bronze ingest validation (D1+D2): lineage-stamped load (with
    * deterministic stamps, the oracle-safe variant of current_timestamp /
    * input_file_name) then the one-pass validation aggregate.
    */
  def bronzeValidation(s: SparkSession, d: String): DataFrame = {
    val stamped = Bronze.stampLineage(t(s, d, "lineitem"), "tpch_feed", "load_0001",
      ingestionTs = lit("2026-01-01 00:00:00").cast("timestamp"),
      sourceFile = lit("lineitem.parquet"))
    Bronze.validationStats(stamped,
      Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"))
  }

  val bronzeValidationOracle: String =
    """SELECT count(*) AS total_rows,
      |  count(CASE WHEN l_orderkey IS NULL AND l_linenumber IS NULL
      |               AND l_partkey IS NULL AND l_suppkey IS NULL THEN 1 END) AS null_key_rows,
      |  CAST(0 AS BIGINT) AS corrupt_rows,
      |  CAST(1 AS BIGINT) AS distinct_source_files
      |FROM lineitem""".stripMargin

  // ---------------------------------------------------------------- M2

  /** q08 — generated date dimension (D9), 4,018 rows. */
  def dimDate(s: SparkSession, d: String): DataFrame =
    Gold.dimDate(s).orderBy("date_key")

  val dimDateOracle: String =
    """SELECT CAST(d AS DATE) AS date_value,
      |  CAST(strftime(d, '%Y%m%d') AS INTEGER) AS date_key,
      |  CAST(year(d) AS INTEGER) AS year, CAST(month(d) AS INTEGER) AS month,
      |  CAST(day(d) AS INTEGER) AS day, CAST(quarter(d) AS INTEGER) AS quarter,
      |  CAST(dayofweek(d) + 1 AS INTEGER) AS day_of_week,
      |  CAST(weekofyear(d) AS INTEGER) AS week_of_year,
      |  dayofweek(d) IN (0, 6) AS is_weekend,
      |  monthname(d) AS month_name
      |FROM generate_series(DATE '2020-01-01', DATE '2030-12-31', INTERVAL 1 DAY) AS t(d)
      |ORDER BY date_key""".stripMargin

  /** q09 — SCD1 member dimension with deterministic surrogate keys (D10). */
  def dimMember(s: SparkSession, d: String): DataFrame =
    Gold.dimMember(t(s, d, "customer"))
      .withColumn("account_balance", col("account_balance").cast("double"))
      .orderBy("member_id")

  val dimMemberOracle: String =
    """SELECT c_custkey AS member_id, upper(trim(c_name)) AS member_name,
      |  c_nationkey AS nation_key,
      |  CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS account_balance,
      |  c_mktsegment AS segment,
      |  row_number() OVER (ORDER BY c_custkey) AS member_sk
      |FROM customer ORDER BY member_id""".stripMargin

  /** q10 — SCD1 provider dimension (D10). */
  def dimProvider(s: SparkSession, d: String): DataFrame =
    Gold.dimProvider(t(s, d, "supplier"))
      .withColumn("account_balance", col("account_balance").cast("double"))
      .orderBy("provider_id")

  val dimProviderOracle: String =
    """SELECT s_suppkey AS provider_id, upper(trim(s_name)) AS provider_name,
      |  s_nationkey AS nation_key,
      |  CAST(CAST(s_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS account_balance,
      |  row_number() OVER (ORDER BY s_suppkey) AS provider_sk
      |FROM supplier ORDER BY provider_id""".stripMargin

  // calendar range covering the fixture ship dates (1992 through the
  // 1999 tail — lineitem ships up to ~4 months after the last order) so
  // the date-dim join always resolves; q08 keeps the reference's 2020–2030
  private def fact(s: SparkSession, d: String): DataFrame = {
    // widen the fact input ([[graft.Par.toCores]]): with orders and
    // every dim auto-broadcast, the whole build — five hash joins plus
    // the decimal charge arithmetic — executes inside the lineitem scan
    // stage, and the one-row-group fixture gives that stage ONE task
    // (q53's cache materialization measured ~3 s single-threaded). At
    // real scale lineitem arrives in many splits and this is a no-op.
    // The fact build only joins the dims' (natural key, surrogate key)
    // pairs, so both rank tables come from ONE grouped prefix-sum pass
    // ([[Gold.dimKeyRanks]]) instead of two full dim builds.
    val (memberSks, providerSks) =
      Gold.dimKeyRanks(t(s, d, "customer"), t(s, d, "supplier"))
    Gold.factLines(
      graft.Par.toCores(t(s, d, "lineitem")),
      t(s, d, "orders"),
      memberSks,
      providerSks,
      Gold.dimDate(s, "1992-01-01", "2002-12-31"))
  }

  private val factSql =
    """WITH dim_member AS (
      |  SELECT c_custkey AS member_id,
      |         row_number() OVER (ORDER BY c_custkey) AS member_sk FROM customer
      |), dim_provider AS (
      |  SELECT s_suppkey AS provider_id,
      |         row_number() OVER (ORDER BY s_suppkey) AS provider_sk FROM supplier
      |), dim_date AS (
      |  SELECT CAST(d AS DATE) AS date_value,
      |         CAST(strftime(d, '%Y%m%d') AS INTEGER) AS date_key
      |  FROM generate_series(DATE '1992-01-01', DATE '2002-12-31', INTERVAL 1 DAY) AS t(d)
      |), fact AS (
      |  SELECT l_orderkey AS claim_id, l_linenumber AS claim_line_number,
      |    member_sk, provider_sk, dd_svc.date_key AS service_date_key,
      |    dd_ord.date_key AS order_date_key,
      |    CAST(o_orderdate AS DATE) AS order_date, o_orderstatus AS order_status,
      |    l_quantity AS quantity,
      |    CAST(l_extendedprice AS DECIMAL(18,2)) AS billed_amount,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2))
      |         * (1 - CAST(l_discount AS DECIMAL(4,2))) AS DECIMAL(18,4)) AS charge,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2))
      |         * (1 - CAST(l_discount AS DECIMAL(4,2)))
      |         * (1 + CAST(l_tax AS DECIMAL(4,2))) AS DECIMAL(18,6)) AS charge_with_tax
      |  FROM lineitem
      |  LEFT JOIN orders       ON l_orderkey = o_orderkey
      |  LEFT JOIN dim_member   ON o_custkey = member_id
      |  LEFT JOIN dim_provider ON l_suppkey = provider_id
      |  LEFT JOIN dim_date dd_svc ON CAST(l_shipdate AS DATE) = dd_svc.date_value
      |  LEFT JOIN dim_date dd_ord ON CAST(o_orderdate AS DATE) = dd_ord.date_value
      |)""".stripMargin

  /** q11 — star-schema fact build with surrogate-key resolution (D11).
    * Money stays decimal inside the fact; the query's OUTPUT casts to
    * double (engine-portable representation, VERDICT r1 #1).
    */
  def factStar(s: SparkSession, d: String): DataFrame =
    fact(s, d)
      .withColumn("billed_amount", col("billed_amount").cast("double"))
      .withColumn("charge", col("charge").cast("double"))
      .withColumn("charge_with_tax", col("charge_with_tax").cast("double"))
      .orderBy("claim_id", "claim_line_number")

  val factStarOracle: String =
    s"""$factSql
       |SELECT claim_id, claim_line_number, member_sk, provider_sk,
       |  service_date_key, order_date_key, order_date, order_status, quantity,
       |  CAST(billed_amount AS DOUBLE) AS billed_amount,
       |  CAST(charge AS DOUBLE) AS charge,
       |  CAST(charge_with_tax AS DOUBLE) AS charge_with_tax
       |FROM fact ORDER BY claim_id, claim_line_number""".stripMargin

  /** q12 — aggregate rollup tables (D12): sum/count/avg/max by month. */
  def monthlyRollup(s: SparkSession, d: String): DataFrame =
    Gold.monthlyRollup(fact(s, d)).orderBy("year_month")

  val monthlyRollupOracle: String =
    s"""$factSql
       |SELECT CAST(service_date_key // 100 AS INTEGER) AS year_month,
       |  count(*) AS n_lines,
       |  CAST(sum(charge) AS DOUBLE) AS total_charge,
       |  CAST(sum(charge) AS DOUBLE) / count(*) AS avg_charge,
       |  CAST(max(charge) AS DOUBLE) AS max_charge
       |FROM fact GROUP BY 1 ORDER BY 1""".stripMargin

  /** q53 — incremental aggregate maintenance (materialized-view refresh):
    * the fact splits at month 1998-01 into an "existing" slab and a
    * "delta" batch; each rolls up to its exact-decimal PARTIAL form, the
    * partials merge by key, and the presentation projection runs once at
    * the end. Partials are count/sum/max in decimal — no double rounding
    * before the merge — so the merged table is byte-identical to the full
    * recompute, which sharing q12's oracle PROVES. At 100 TB this is the
    * refresh path: a delta scan plus a merge over the (tiny) aggregate
    * keys, never a rescan of the full fact.
    */
  def incrementalRollup(s: SparkSession, d: String): DataFrame = {
    // persisted: the existing/delta split reads the fact twice, and the
    // fact build itself (dims + joins) is the expensive part. Persist
    // the rollup's TWO-column projection (service_date_key, charge_c4 —
    // an int and a long), not the 12-column fact: column pruning then
    // reaches back through the fact build (no billed/charge_with_tax
    // decimal arithmetic, no wide cache rows), and both rollup scans
    // aggregate primitive longs off the cache.
    val f = CacheScope.persisted(Gold.rollupInput(fact(s, d)))
    val existing = Gold.monthlyRollupPartialC4(
      f.filter(col("service_date_key") < 19980000))
    val delta = f.filter(col("service_date_key") >= 19980000)
    Gold.presentRollup(
        Gold.mergeRollup(existing, Gold.monthlyRollupPartialC4(delta)))
      .orderBy("year_month")
  }

  val incrementalRollupOracle: String = monthlyRollupOracle

  /** q41 — the second aggregation table (per-provider), completing the
    * reference's intended multi-table rollup layer.
    */
  def providerRollup(s: SparkSession, d: String): DataFrame =
    Gold.providerRollup(fact(s, d)).orderBy("provider_sk")

  val providerRollupOracle: String =
    s"""$factSql
       |SELECT provider_sk, count(*) AS n_lines,
       |  CAST(sum(charge) AS DOUBLE) AS total_charge,
       |  CAST(sum(charge) AS DOUBLE) / count(*) AS avg_charge,
       |  CAST(max(charge) AS DOUBLE) AS max_charge,
       |  min(service_date_key) AS first_service_key,
       |  max(service_date_key) AS last_service_key
       |FROM fact GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- M3/M4

  /** q13 — MERGE upsert (J2): restated orders merged into the order book;
    * updateAll + insertAll via the portable anti-join implementation.
    */
  def mergeUpsert(s: SparkSession, d: String): DataFrame = {
    val orders = t(s, d, "orders")
    val target = orders.select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val source = orders.filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"), lit("RESTATED").as("o_orderstatus"),
        (col("o_totalprice") * 1.1).as("o_totalprice"))
    Merge.upsert(target, source, Seq("o_orderkey")).orderBy("o_orderkey")
  }

  val mergeUpsertOracle: String =
    """WITH target AS (
      |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      |), source AS (
      |  SELECT o_orderkey, 'RESTATED' AS o_orderstatus, o_totalprice * 1.1 AS o_totalprice
      |  FROM orders WHERE o_orderkey % 7 = 0
      |)
      |SELECT * FROM source
      |UNION ALL
      |SELECT t.* FROM target t
      |WHERE NOT EXISTS (SELECT 1 FROM source s WHERE s.o_orderkey = t.o_orderkey)
      |ORDER BY o_orderkey""".stripMargin

  /** q65 — MERGE with schema evolution (J2 + S4): the reference pairs
    * `mergeSchema=true` with upsert; this exercises
    * [[graft.operators.Merge.upsertEvolved]] end-to-end. The member
    * book (key, name, balance) is merged with an order-derived delta
    * that UPDATES the balance and CARRIES A NEW COLUMN `order_count`:
    * matched members get the new balance, keep their name, and gain the
    * count; members with no orders survive untouched with a NULL count.
    * Balances are summed in DECIMAL (exact) and presented as DOUBLE
    * (portable).
    */
  def mergeEvolved(s: SparkSession, d: String): DataFrame = {
    val target = t(s, d, "customer")
      .select(col("c_custkey"), col("c_name"),
        col("c_acctbal").cast("decimal(18,2)").as("c_acctbal"))
    val source = t(s, d, "orders")
      .select(col("o_custkey").as("c_custkey"),
        col("o_totalprice").cast("decimal(18,2)").as("p"))
      .groupBy("c_custkey")
      .agg(sum(col("p")).cast("decimal(18,2)").as("c_acctbal"),
        count(lit(1)).as("order_count"))
    Merge.upsertEvolved(target, source, Seq("c_custkey"))
      .select(col("c_custkey"), col("c_name"),
        col("c_acctbal").cast("double").as("c_acctbal"), col("order_count"))
      .orderBy("c_custkey")
  }

  val mergeEvolvedOracle: String =
    """WITH t AS (
      |  SELECT c_custkey, c_name, CAST(c_acctbal AS DECIMAL(18,2)) AS c_acctbal
      |  FROM customer
      |), s AS (
      |  SELECT o_custkey AS c_custkey,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS c_acctbal,
      |    count(*) AS order_count
      |  FROM orders GROUP BY 1
      |), merged AS (
      |  SELECT s.c_custkey, t.c_name, s.c_acctbal, s.order_count
      |  FROM s LEFT JOIN t USING (c_custkey)
      |  UNION ALL
      |  SELECT t.c_custkey, t.c_name, t.c_acctbal, CAST(NULL AS BIGINT) AS order_count
      |  FROM t
      |  WHERE NOT EXISTS (SELECT 1 FROM s WHERE s.c_custkey = t.c_custkey)
      |)
      |SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE) AS c_acctbal, order_count
      |FROM merged ORDER BY c_custkey""".stripMargin

  /** q66 — CSV PERMISSIVE ingest (S1), the reference pipeline's entry
    * point (bronze_rx_claims_load.py:37-42: header, PERMISSIVE,
    * `_corrupt_record`), under the oracle for the first time. The query
    * renders the fixed 25-row nation dim to CSV WITH two injected
    * corrupt lines (a distributed write — no driver collect), ingests
    * it back through [[graft.sources.LayerIO.readCsv]], and surfaces
    * Spark's exact PERMISSIVE semantics: parseable fields of a corrupt
    * line are KEPT, failed fields are NULL, and the raw line lands in
    * the corrupt-record column. The DuckDB oracle replays the same file
    * via all-varchar read + try_cast.
    */
  def csvPermissive(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = "/tmp/graft_q66_csv"
    val asStrings = t(s, d, "nation")
      .select(col("n_nationkey").cast("string"), col("n_name"),
        col("n_regionkey").cast("string"))
    val corrupt = Seq(("900", "CORRUPT_RATE", "x%"), ("bad", "CORRUPT_KEY", "4"))
      .toDF("n_nationkey", "n_name", "n_regionkey")
    asStrings.union(corrupt).coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(dir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n_nationkey",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("n_name",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_regionkey",
        org.apache.spark.sql.types.IntegerType)))
    // cache before projecting: Spark disallows queries over raw CSV that
    // reference only the corrupt-record column, and the terminal write
    // re-reads the scan — a 27-row table, so the cache is free
    CacheScope.persisted(LayerIO.readCsv(s, dir, schema))
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"),
        col("_corrupt_record").as("corrupt_raw"),
        col("_corrupt_record").isNotNull.as("is_corrupt"))
      .orderBy("n_name")
  }

  val csvPermissiveOracle: String =
    """WITH raw AS (
      |  SELECT n_nationkey AS k, n_name AS nm, n_regionkey AS rk
      |  FROM read_csv('/tmp/graft_q66_csv/*.csv', header=true, all_varchar=true)
      |), parsed AS (
      |  SELECT try_cast(k AS INTEGER) AS n_nationkey, nm AS n_name,
      |    try_cast(rk AS INTEGER) AS n_regionkey,
      |    CASE WHEN (k IS NOT NULL AND try_cast(k AS INTEGER) IS NULL)
      |           OR (rk IS NOT NULL AND try_cast(rk AS INTEGER) IS NULL)
      |      THEN k || ',' || nm || ',' || rk END AS corrupt_raw
      |  FROM raw
      |)
      |SELECT n_nationkey, n_name, n_regionkey, corrupt_raw,
      |  corrupt_raw IS NOT NULL AS is_corrupt
      |FROM parsed ORDER BY n_name""".stripMargin

  /** q14 — referential-integrity anti-join (the automated test the
    * reference docs declare): members that never placed an order.
    */
  def refintOrphans(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer")
      .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy("c_custkey")

  val refintOrphansOracle: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin

  /** q15 — table stats (A1–A3): counts, distincts, global min/max. */
  def tableStats(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem").agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("l_suppkey")).as("n_suppliers"),
      countDistinct(col("l_partkey")).as("n_parts"),
      to_date(min(col("l_shipdate"))).as("first_ship"),
      to_date(max(col("l_shipdate"))).as("last_ship"))

  val tableStatsOracle: String =
    """SELECT count(*) AS n_rows,
      |  count(DISTINCT l_suppkey) AS n_suppliers,
      |  count(DISTINCT l_partkey) AS n_parts,
      |  CAST(min(l_shipdate) AS DATE) AS first_ship,
      |  CAST(max(l_shipdate) AS DATE) AS last_ship
      |FROM lineitem""".stripMargin

  /** q16 — top-k (sort/limit): top 10 members by exact-decimal revenue,
    * key tie-break for determinism.
    */
  def topMembers(s: SparkSession, d: String): DataFrame = {
    // r16: member-keyed revenue sum rides the BIGINT carrier
    // (E·(100−D) = the decimal revenue's unscaled integer, CentsSpec-
    // pinned); one MakeDecimal re-wrap before the same double cast
    val rev = (graft.functions.Cents.cents(col("l_extendedprice")) *
      (lit(100L) - graft.functions.Cents.cents(col("l_discount"))))
    t(s, d, "lineitem")
      .join(t(s, d, "orders").select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, d, "customer").select("c_custkey", "c_name")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey").as("member_id"), col("c_name").as("member_name"))
      .agg(graft.functions.Cents.fromUnscaled(sum(rev), 4)
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("member_id"))
      .limit(10)
  }

  val topMembersOracle: String =
    """SELECT c_custkey AS member_id, c_name AS member_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |           * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1, 2 ORDER BY revenue DESC, member_id LIMIT 10""".stripMargin

  /** q33 — SCD Type-2 dimension maintenance (the reference docs declare
    * Type-2 member history; the reference code never implements it).
    * A deterministic second snapshot (moved segments, adjusted balances,
    * new members) is applied onto the initial load: changed keys close at
    * the effective date and re-open as new versions.
    */
  def scd2Members(s: SparkSession, d: String): DataFrame =
    scd2MembersDim(s, d).orderBy("member_id", "effective_from")

  /** The q33 dimension build WITHOUT the presentation sort — the form
    * consumers compose on (q95's PIT join re-sorts by its own keys).
    *
    * Stage-width discipline: the member dim is |customer|-sized, but on
    * a many-file layout the raw scan arrives in file-count-many splits
    * and every scdType2 union branch + the change-detection join would
    * re-scan it at that full width (measured: three 192-task stages for
    * a 15k-row dim — pure scheduling wait). Coalescing the projected
    * scan to core width (narrow, no shuffle) AND persisting it makes
    * every downstream branch read ONE materialized, core-wide scan
    * (scdType2's change-detection join plus its four union branches all
    * consume `base`; unpersisted, each re-ran the customer scan +
    * upper/trim projection): stage width tracks the dimension's size,
    * not the fact layout's file count. At real scale a dim scan already
    * arrives core-wide and the coalesce is a no-op.
    */
  private def scd2MembersDim(s: SparkSession, d: String): DataFrame = {
    val cores = s.sparkContext.defaultParallelism
    val base = graft.CacheScope.persisted(t(s, d, "customer").select(
        col("c_custkey").as("member_id"),
        upper(trim(col("c_name"))).as("member_name"),
        col("c_mktsegment").as("segment"),
        col("c_acctbal").cast(DecimalType(18, 2)).as("balance"))
        .coalesce(cores))
    val current = base
      .withColumn("effective_from", to_date(lit("2024-01-01")))
      .withColumn("effective_to", lit(null).cast("date"))
      .withColumn("is_current", lit(true))
    val changed = base
      .withColumn("segment",
        when(col("member_id") % 10 === 0, lit("MOVED")).otherwise(col("segment")))
      .withColumn("balance",
        when(col("member_id") % 17 === 0, col("balance") + 100)
          .otherwise(col("balance")).cast(DecimalType(18, 2)))
    val fresh = base.filter(col("member_id") % 500 === 0)
      .withColumn("member_id", col("member_id") + 1000000)
    Gold.scdType2(current, changed.unionByName(fresh), Seq("member_id"),
        Seq("member_name", "segment", "balance"), lit("2024-06-01"))
      // decimal compares drive change detection; the OUTPUT is double
      .withColumn("balance", col("balance").cast("double"))
      // the four-way union's branches each carry the core-wide input
      // width; uncoalesced, every consumer stage inherits the ~4×cores
      // sum of near-empty partitions
      .coalesce(cores)
  }

  val scd2MembersOracle: String =
    """WITH base AS (
      |  SELECT c_custkey AS member_id, upper(trim(c_name)) AS member_name,
      |         c_mktsegment AS segment, CAST(c_acctbal AS DECIMAL(18,2)) AS balance
      |  FROM customer
      |), incoming AS (
      |  SELECT member_id, member_name,
      |    CASE WHEN member_id % 10 = 0 THEN 'MOVED' ELSE segment END AS segment,
      |    CAST(CASE WHEN member_id % 17 = 0 THEN balance + 100 ELSE balance END
      |         AS DECIMAL(18,2)) AS balance
      |  FROM base
      |  UNION ALL
      |  SELECT member_id + 1000000, member_name, segment, balance
      |  FROM base WHERE member_id % 500 = 0
      |), changed AS (
      |  SELECT b.member_id FROM base b JOIN incoming i USING (member_id)
      |  WHERE b.member_name IS DISTINCT FROM i.member_name
      |     OR b.segment IS DISTINCT FROM i.segment
      |     OR b.balance IS DISTINCT FROM i.balance
      |)
      |, unioned AS (
      |SELECT member_id, member_name, segment, balance,
      |       DATE '2024-01-01' AS effective_from,
      |       CAST(NULL AS DATE) AS effective_to, true AS is_current
      |FROM base WHERE member_id NOT IN (SELECT member_id FROM changed)
      |UNION ALL
      |SELECT member_id, member_name, segment, balance,
      |       DATE '2024-01-01', DATE '2024-06-01', false
      |FROM base WHERE member_id IN (SELECT member_id FROM changed)
      |UNION ALL
      |SELECT member_id, member_name, segment, balance,
      |       DATE '2024-06-01', CAST(NULL AS DATE), true
      |FROM incoming WHERE member_id IN (SELECT member_id FROM changed)
      |UNION ALL
      |SELECT i.member_id, i.member_name, i.segment, i.balance,
      |       DATE '2024-06-01', CAST(NULL AS DATE), true
      |FROM incoming i
      |WHERE NOT EXISTS (SELECT 1 FROM base b WHERE b.member_id = i.member_id)
      |)
      |SELECT member_id, member_name, segment, CAST(balance AS DOUBLE) AS balance,
      |       effective_from, effective_to, is_current
      |FROM unioned ORDER BY member_id, effective_from""".stripMargin

  /** q34 — hierarchical rollup aggregation (subtotals + grand total) with
    * an engine-portable grouping id derived from the NULL pattern.
    */
  def rollupAgg(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      // BIGINT-cents carrier in the rollup loop (the q172 device): the
      // oracle's sum(CAST(l_quantity AS DECIMAL(18,2))) is reproduced as
      // a primitive long sum of round(x·100), reinterpreted as
      // DECIMAL(38,2) for the double rendering — identical on 2-dp
      // inputs (CentsSpec), ~5× less per-row work than the decimal sum
      .agg(count(lit(1)).as("n_lines"),
        sum(graft.functions.Cents.cents(col("l_quantity"))).as("qty_c"))
      .select(col("l_returnflag"), col("l_linestatus"), col("n_lines"),
        graft.functions.Cents.fromUnscaled(col("qty_c"), 2)
          .cast("double").as("sum_qty"),
        (when(col("l_returnflag").isNull, 2).otherwise(0) +
          when(col("l_linestatus").isNull, 1).otherwise(0)).as("gid"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  val rollupAggOracle: String =
    """SELECT l_returnflag, l_linestatus, count(*) AS n_lines,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  (CASE WHEN l_returnflag IS NULL THEN 2 ELSE 0 END
      |   + CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END) AS gid
      |FROM lineitem
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  /** q61 — CUBE aggregation: all four grouping combinations (both keys,
    * each alone, grand total) in one pass, with the same portable
    * NULL-pattern grouping id as the q34 rollup.
    */
  /** q95 — point-in-time (PIT) join against the SCD2 dimension: for
    * each member and probe date, the version valid AT that date
    * (`effective_from <= probe < effective_to`, open-ended current
    * rows) — how a fact resolves "which dimension attributes were true
    * when this happened". SCD2 validity windows are disjoint per key,
    * so the PIT lookup is an EQUALITY join on the key plus a range
    * filter: one hash shuffle, each probe matching at most one version
    * — no window, no inequality-join blowup; per-key fan-out is the
    * version-history depth, not data volume. Probes before a member's
    * first version (the mid-year inserts at the March probe) drop out,
    * as temporal semantics require.
    */
  def pitScd2(s: SparkSession, d: String): DataFrame = {
    // the dim feeds TWO consumers (the probe-key distinct and the PIT
    // join); unpersisted, the whole SCD2 build — change-detection join
    // included — would run once per consumer
    val dim = graft.CacheScope.persisted(scd2MembersDim(s, d))
    val probes = dim.select(col("member_id")).distinct()
      .select(col("member_id"),
        explode(array(to_date(lit("2024-03-01")), to_date(lit("2024-09-01"))))
          .as("probe_date"))
    probes.join(dim, Seq("member_id"))
      .filter(col("effective_from") <= col("probe_date") &&
        (col("effective_to").isNull || col("probe_date") < col("effective_to")))
      .select(col("member_id"), col("probe_date"), col("segment"),
        col("balance"), col("is_current"))
      .orderBy("member_id", "probe_date")
  }

  val pitScd2Oracle: String = {
    // strip the presentation ORDER BY so the dim can nest as a CTE
    val dimSql = scd2MembersOracle.stripSuffix(" ORDER BY member_id, effective_from")
      .replace("FROM unioned ORDER BY member_id, effective_from", "FROM unioned")
    s"""WITH dim AS (
       |$dimSql
       |), probes AS (
       |  SELECT DISTINCT member_id, CAST(u.p AS DATE) AS probe_date
       |  FROM dim, UNNEST([DATE '2024-03-01', DATE '2024-09-01']) AS u(p)
       |)
       |SELECT p.member_id, p.probe_date, d.segment, d.balance, d.is_current
       |FROM probes p JOIN dim d ON p.member_id = d.member_id
       |WHERE d.effective_from <= p.probe_date
       |  AND (d.effective_to IS NULL OR p.probe_date < d.effective_to)
       |ORDER BY p.member_id, p.probe_date""".stripMargin
  }

  /** q94 — deterministic per-group mode (argmax by frequency): each
    * nation's most common order priority, with the tie broken
    * lexicographically — built-in `mode()` returns an ARBITRARY value
    * on ties in both engines, so a reproducible pipeline uses the
    * count + ranked-window form instead (WindowGroupLimit-shaped,
    * integer-exact).
    */
  def groupMode(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = t(s, d, "orders")
      .join(broadcast(t(s, d, "customer").select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, d, "nation").select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
    val w = Window.partitionBy(col("n_name"))
      .orderBy(col("n_orders").desc, col("o_orderpriority"))
    counts.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("n_name"), col("o_orderpriority").as("top_priority"),
        col("n_orders"))
      .orderBy("n_name")
  }

  val groupModeOracle: String =
    """WITH c AS (
      |  SELECT n_name, o_orderpriority, count(*) AS n_orders
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY 1, 2
      |), r AS (
      |  SELECT n_name, o_orderpriority, n_orders,
      |    row_number() OVER (PARTITION BY n_name
      |      ORDER BY n_orders DESC, o_orderpriority) AS rk
      |  FROM c
      |)
      |SELECT n_name, o_orderpriority AS top_priority, n_orders
      |FROM r WHERE rk = 1 ORDER BY n_name""".stripMargin

  /** q92 — the SQL subquery surface, run through `spark.sql` on
    * registered views (a SQL-cell user's path into the engine):
    * correlated EXISTS and NOT EXISTS (planned as semi/anti joins —
    * never row-at-a-time), an uncorrelated IN, and a scalar subquery in
    * the projection. TPC-H Q4's shape: orders per priority that have a
    * late-shipped line (shipped after 1997-06-30), alongside the share
    * against the global order count.
    */
  def subqueries(s: SparkSession, d: String): DataFrame = {
    t(s, d, "orders").createOrReplaceTempView("sq_orders")
    t(s, d, "lineitem").createOrReplaceTempView("sq_lineitem")
    t(s, d, "customer").createOrReplaceTempView("sq_customer")
    s.sql(
      """SELECT o_orderpriority,
        |  count(1) AS n_with_late_line,
        |  CAST(count(1) AS DOUBLE)
        |    / (SELECT count(1) FROM sq_orders) AS share_of_all_orders
        |FROM sq_orders
        |WHERE EXISTS (
        |    SELECT 1 FROM sq_lineitem
        |    WHERE l_orderkey = o_orderkey
        |      AND l_shipdate > TIMESTAMP '1997-06-30 00:00:00')
        |  AND NOT EXISTS (
        |    SELECT 1 FROM sq_lineitem
        |    WHERE l_orderkey = o_orderkey AND l_quantity > 49)
        |  AND o_custkey IN (
        |    SELECT c_custkey FROM sq_customer WHERE c_custkey % 2 = 0)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)
  }

  val subqueriesOracle: String =
    """SELECT o_orderpriority,
      |  count(1) AS n_with_late_line,
      |  CAST(count(1) AS DOUBLE)
      |    / (SELECT count(1) FROM orders) AS share_of_all_orders
      |FROM orders
      |WHERE EXISTS (
      |    SELECT 1 FROM lineitem
      |    WHERE l_orderkey = o_orderkey
      |      AND l_shipdate > TIMESTAMP '1997-06-30 00:00:00')
      |  AND NOT EXISTS (
      |    SELECT 1 FROM lineitem
      |    WHERE l_orderkey = o_orderkey AND l_quantity > 49)
      |  AND o_custkey IN (
      |    SELECT c_custkey FROM customer WHERE c_custkey % 2 = 0)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** q89 — the join-type matrix made explicit: left semi (members with
    * orders), left anti (members without), full outer (both dangling
    * sides preserved, split by which side matched), and a bounded cross
    * join (nation × region) — the remaining join kinds the other
    * queries use only implicitly. Each row is a labeled count, so the
    * oracle pins every kind's semantics in one result.
    */
  def joinMatrix(s: SparkSession, d: String): DataFrame = {
    val cust = t(s, d, "customer").select(col("c_custkey"))
    val ord = t(s, d, "orders").select(col("o_custkey")).distinct()
    val full = t(s, d, "customer").select(col("c_custkey"))
      .join(ord, col("c_custkey") === col("o_custkey"), "full_outer")
    // one lazy plan of labeled 1-row aggregates — no driver-side counts
    def labeled(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_rows"))
        .select(lit(name).as("join_type"), col("n_rows"))
    labeled("cross_nation_region",
        t(s, d, "nation").crossJoin(t(s, d, "region")))
      .unionByName(labeled("full_outer_both", full.filter(
        col("c_custkey").isNotNull && col("o_custkey").isNotNull)))
      .unionByName(labeled("full_outer_left_only",
        full.filter(col("o_custkey").isNull)))
      .unionByName(labeled("full_outer_right_only",
        full.filter(col("c_custkey").isNull)))
      .unionByName(labeled("left_anti",
        cust.join(ord, col("c_custkey") === col("o_custkey"), "left_anti")))
      .unionByName(labeled("left_semi",
        cust.join(ord, col("c_custkey") === col("o_custkey"), "left_semi")))
      .orderBy("join_type")
  }

  val joinMatrixOracle: String =
    """WITH ord AS (SELECT DISTINCT o_custkey FROM orders),
      |f AS (
      |  SELECT c_custkey, o_custkey
      |  FROM customer FULL OUTER JOIN ord ON c_custkey = o_custkey
      |)
      |SELECT 'cross_nation_region' AS join_type,
      |  (SELECT count(*) FROM nation, region) AS n_rows
      |UNION ALL SELECT 'full_outer_both',
      |  (SELECT count(*) FROM f WHERE c_custkey IS NOT NULL AND o_custkey IS NOT NULL)
      |UNION ALL SELECT 'full_outer_left_only',
      |  (SELECT count(*) FROM f WHERE o_custkey IS NULL)
      |UNION ALL SELECT 'full_outer_right_only',
      |  (SELECT count(*) FROM f WHERE c_custkey IS NULL)
      |UNION ALL SELECT 'left_anti',
      |  (SELECT count(*) FROM customer ANTI JOIN ord ON c_custkey = o_custkey)
      |UNION ALL SELECT 'left_semi',
      |  (SELECT count(*) FROM customer SEMI JOIN ord ON c_custkey = o_custkey)
      |ORDER BY join_type""".stripMargin

  /** q88 — custom GROUPING SETS (the shapes rollup/cube can't express:
    * two independent single-column summaries plus the grand total,
    * WITHOUT the pairwise combination a cube would add). Spark exposes
    * this through SQL only, so the query runs on the registered temp
    * view — one pass, one expand, same portable NULL-pattern gid
    * convention as q34/q61.
    */
  def groupingSets(s: SparkSession, d: String): DataFrame = {
    t(s, d, "lineitem").createOrReplaceTempView("gs_lineitem")
    s.sql(
      """SELECT l_returnflag, l_linestatus,
        |  count(1) AS n_lines,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CASE WHEN l_returnflag IS NULL THEN 2 ELSE 0 END
        |    + CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END AS gid
        |FROM gs_lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
        |""".stripMargin)
  }

  val groupingSetsOracle: String =
    """SELECT l_returnflag, l_linestatus,
      |  count(1) AS n_lines,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CASE WHEN l_returnflag IS NULL THEN 2 ELSE 0 END
      |    + CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END AS gid
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  def cubeAgg(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      // r16: quantity summed as BIGINT cents (the q34 rollup device —
      // identical values incl. the grand-total cell, primitive adds)
      .agg(count(lit(1)).as("n_lines"),
        graft.functions.Cents.fromUnscaled(
            sum(graft.functions.Cents.cents(col("l_quantity"))), 2)
          .cast("double").as("sum_qty"))
      .withColumn("gid",
        when(col("l_returnflag").isNull, 2).otherwise(0) +
          when(col("l_linestatus").isNull, 1).otherwise(0))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  val cubeAggOracle: String =
    """SELECT l_returnflag, l_linestatus, count(*) AS n_lines,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  (CASE WHEN l_returnflag IS NULL THEN 2 ELSE 0 END
      |   + CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END) AS gid
      |FROM lineitem
      |GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  /** q63 — Z-order clustering keys ([[graft.sources.ZOrder.zValue]], with
    * `l_partkey` on the odd bits): the bit-interleaved value that
    * `ZOrder.clustered` range-partitions and sorts by so parquet min/max
    * stats prune on EITHER dimension. The
    * oracle re-derives the interleave with plain bit arithmetic,
    * verifying the clustering math an OPTIMIZE ZORDER depends on.
    */
  def zorderKeys(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        graft.sources.ZOrder.zValue(col("l_suppkey"), col("l_partkey")).as("z_value"))
      .orderBy("l_orderkey", "l_linenumber", "z_value")

  val zorderKeysOracle: String = {
    val terms = (0 until 16).map { i =>
      s"(((l_partkey >> $i) & 1) << ${2 * i + 1}) | (((l_suppkey >> $i) & 1) << ${2 * i})"
    }.mkString(" | ")
    s"""SELECT l_orderkey, l_linenumber,
       |  CAST($terms AS BIGINT) AS z_value
       |FROM lineitem
       |ORDER BY l_orderkey, l_linenumber, z_value""".stripMargin
  }

  /** q64 — approximate-percentile sketch with a rank-error certificate:
    * the same pattern as q35's HLL check — the sketch ESTIMATE is
    * engine-specific and stays out of the hashed projection; what the
    * oracle verifies is the exact percentile plus a boolean asserting
    * the sketch's rank error landed inside its guarantee (accuracy 100
    * → ≤ 1% rank error; 2% asserted for discretization headroom).
    */
  def approxPercentileSketch(s: SparkSession, d: String): DataFrame = {
    // charge per row WITHOUT per-row decimal: price·(1−disc) as exact
    // BIGINT ten-thousandths (the q38 Cents device — both factors are
    // 2-dp, so the 4-dp integer product is exact), rescaled by one
    // IEEE divide. Bit-equal to the decimal spelling: v4 < 2^53 is an
    // exact double and /10000.0 rounds the same rational the
    // DECIMAL(23,4)→DOUBLE cast rounds. Persisted: the sketch pass and
    // the exact/rank-certificate pass otherwise each re-run the scan
    // (two full per-row passes — measured 13.7 task-CPU-s on the
    // resharded bench layout, the suite's #2 CPU sink).
    val charged = CacheScope.persisted(t(s, d, "lineitem")
      .select(col("l_returnflag"),
        ((graft.functions.Cents.cents(col("l_extendedprice")) *
          (lit(100L) - graft.functions.Cents.cents(col("l_discount"))))
          .cast("double") / 10000.0).as("charge")))
    val sketch = charged.groupBy(col("l_returnflag"))
      .agg(percentile_approx(col("charge"), lit(0.5), lit(100)).as("approx_p50"))
    charged.join(broadcast(sketch), "l_returnflag")
      .groupBy(col("l_returnflag"))
      .agg(
        graft.functions.ExactPercentiles
          .percentiles(col("charge"), Seq(0.5)).as("ps"),
        count(lit(1)).as("n"),
        (sum(when(col("charge") <= col("approx_p50"), 1L).otherwise(0L))
          .cast("double") / count(lit(1))).as("rank_of_approx"))
      .select(col("l_returnflag"), col("ps")(0).as("exact_p50"), col("n"),
        (abs(col("rank_of_approx") - 0.5) <= 0.02).as("rank_err_ok"))
      .orderBy("l_returnflag")
  }

  val approxPercentileSketchOracle: String =
    """WITH c AS (
      |  SELECT l_returnflag,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2))
      |         * (1 - CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS charge
      |  FROM lineitem
      |)
      |SELECT l_returnflag, quantile_cont(charge, 0.5) AS exact_p50,
      |  count(*) AS n, true AS rank_err_ok
      |FROM c GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** q76 — PageRank over the customer–supplier trade graph
    * ([[graft.operators.PageRank]]): nodes are customers and suppliers
    * (disjoint id spaces via a prefix), edges link a customer to every
    * supplier it ordered from, symmetrized; 3 power iterations at
    * damping 0.85. The per-mille rank is rounded to 6 decimals — the two
    * engines sum float contributions in different orders, and the
    * rounding absorbs the last-bit drift (same convention as the cosine
    * queries). Suppliers accumulate ~15× a customer's rank (hub side of
    * the bipartite graph), so the ordering is genuinely informative.
    */
  def pageRank(s: SparkSession, d: String): DataFrame = {
    // numeric node ids through the iterations (customers even, suppliers
    // odd — a bijection onto the 'c…'/'s…' names): long join/agg keys
    // hash and compare in registers, where string keys byte-compare per
    // row; the presentation names are restored in one final projection
    val edges = t(s, d, "orders").join(t(s, d, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
    graft.operators.PageRank.ranks(edges, "src", "dst",
        iters = 3, damping = 0.85)
      .select(
        when(col("id") % 2 === 0, concat(lit("c"), (col("id") / 2).cast("bigint")))
          .otherwise(concat(lit("s"), ((col("id") - 1) / 2).cast("bigint")))
          .as("id"),
        round(col("rank") * 1000, 6).as("rank_pm"))
      .orderBy("id")
  }

  val pageRankOracle: String =
    """WITH e0 AS (
      |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
      |    's' || CAST(l_suppkey AS VARCHAR) AS dst
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |), sym AS (
      |  SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0
      |), deg AS (
      |  SELECT src, count(*) AS outdeg FROM sym GROUP BY src
      |), nn AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS n FROM deg
      |), r0 AS (
      |  SELECT src AS id, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS rank
      |  FROM deg
      |), c1 AS (
      |  SELECT s.dst AS id, sum(r.rank / d.outdeg) AS c
      |  FROM sym s JOIN deg d ON s.src = d.src JOIN r0 r ON r.id = s.src
      |  GROUP BY s.dst
      |), r1 AS (
      |  SELECT r0.id, CAST(0.15 AS DOUBLE) / (SELECT n FROM nn)
      |    + CAST(0.85 AS DOUBLE) * coalesce(c1.c, 0) AS rank
      |  FROM r0 LEFT JOIN c1 USING (id)
      |), c2 AS (
      |  SELECT s.dst AS id, sum(r.rank / d.outdeg) AS c
      |  FROM sym s JOIN deg d ON s.src = d.src JOIN r1 r ON r.id = s.src
      |  GROUP BY s.dst
      |), r2 AS (
      |  SELECT r1.id, CAST(0.15 AS DOUBLE) / (SELECT n FROM nn)
      |    + CAST(0.85 AS DOUBLE) * coalesce(c2.c, 0) AS rank
      |  FROM r1 LEFT JOIN c2 USING (id)
      |), c3 AS (
      |  SELECT s.dst AS id, sum(r.rank / d.outdeg) AS c
      |  FROM sym s JOIN deg d ON s.src = d.src JOIN r2 r ON r.id = s.src
      |  GROUP BY s.dst
      |), r3 AS (
      |  SELECT r2.id, CAST(0.15 AS DOUBLE) / (SELECT n FROM nn)
      |    + CAST(0.85 AS DOUBLE) * coalesce(c3.c, 0) AS rank
      |  FROM r2 LEFT JOIN c3 USING (id)
      |)
      |SELECT id, round(rank * 1000, 6) AS rank_pm FROM r3 ORDER BY id""".stripMargin

  /** q80 — time-series gap fill + forward fill: each member's monthly
    * activity on a dense month spine (their first active month through
    * their last), absent months filled with zeros and a forward-filled
    * "last active month" (`last(..., ignoreNulls)` over an ordered
    * per-member frame — the carry-forward every balance/state timeline
    * needs). The spine is `sequence(lo, hi, interval 1 month)` exploded
    * per member — generated at the row, no driver loop, no cross join
    * against a global calendar — and the fill window is partitioned by
    * member, so both scale with members × months, shuffled once.
    */
  def gapFill(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val monthly = t(s, d, "orders")
      .groupBy(col("o_custkey").as("member_id"),
        date_trunc("month", col("o_orderdate")).cast("date").as("month"))
      // r16: member-month spend summed as BIGINT cents (primitive
      // adds); re-wrapped to the decimal domain at presentation below
      .agg(count(lit(1)).as("n_orders"),
        sum(graft.functions.Cents.cents(col("o_totalprice"))).as("spend_c"))
    val spine = monthly.groupBy(col("member_id"))
      .agg(min(col("month")).as("lo"), max(col("month")).as("hi"))
      .select(col("member_id"),
        explode(sequence(col("lo"), col("hi"),
          expr("interval 1 month"))).as("month"))
    val w = Window.partitionBy(col("member_id")).orderBy(col("month"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(monthly, Seq("member_id", "month"), "left")
      .select(col("member_id"), col("month"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        graft.functions.Cents.fromUnscaled(coalesce(col("spend_c"), lit(0L)), 2)
          .cast("double").as("spend"),
        last(when(col("n_orders") > 0, col("month")), ignoreNulls = true)
          .over(w).as("last_active_month"))
      .orderBy("member_id", "month")
  }

  val gapFillOracle: String =
    """WITH m AS (
      |  SELECT o_custkey AS member_id,
      |    CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
      |    count(*) AS n_orders,
      |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
      |  FROM orders GROUP BY 1, 2
      |), b AS (
      |  SELECT member_id, min(month) AS lo, max(month) AS hi FROM m GROUP BY 1
      |), spine AS (
      |  SELECT member_id, CAST(u.g AS DATE) AS month
      |  FROM b, UNNEST(generate_series(CAST(lo AS TIMESTAMP),
      |    CAST(hi AS TIMESTAMP), INTERVAL 1 MONTH)) AS u(g)
      |)
      |SELECT s.member_id, s.month,
      |  coalesce(m.n_orders, 0) AS n_orders,
      |  CAST(coalesce(m.spend, 0) AS DOUBLE) AS spend,
      |  last_value(CASE WHEN m.n_orders > 0 THEN s.month END IGNORE NULLS)
      |    OVER (PARTITION BY s.member_id ORDER BY s.month
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS last_active_month
      |FROM spine s LEFT JOIN m ON s.member_id = m.member_id AND s.month = m.month
      |ORDER BY s.member_id, s.month""".stripMargin

  /** q87 — skew diagnosis under the oracle: [[operators.Skew]]'s
    * key-frequency profile (top keys with their share of all rows) plus
    * the salt factor it implies at 32-way parallelism — the numbers an
    * operator reads before enabling [[operators.Skew.saltedJoin]] on a
    * hot-key join. The profile is one map-combinable count per key; the
    * factor is `ceil(max_share × partitions)` clamped to the
    * parallelism (salting wider than the parallelism only multiplies
    * dim replication).
    */
  def skewProfile(s: SparkSession, d: String): DataFrame = {
    val profile = operators.Skew.keySkewProfile(
      t(s, d, "lineitem"), "l_returnflag", topK = 3)
    val factor = operators.Skew.suggestedSaltFactor(profile, partitions = 32)
    profile
      .select(col("l_returnflag"), col("count"),
        round(col("share"), 6).as("share"),
        lit(factor.toLong).as("salt_factor"))
      .orderBy(col("count").desc, col("l_returnflag"))
  }

  val skewProfileOracle: String =
    """WITH c AS (
      |  SELECT l_returnflag, count(*) AS "count" FROM lineitem GROUP BY 1
      |), p AS (
      |  SELECT l_returnflag, "count",
      |    CAST("count" AS DOUBLE) / (SELECT CAST(sum("count") AS DOUBLE) FROM c)
      |      AS share
      |  FROM c ORDER BY "count" DESC, l_returnflag LIMIT 3
      |), f AS (
      |  SELECT greatest(1, least(32,
      |    CAST(ceil(max(share) * 32) AS BIGINT))) AS salt_factor
      |  FROM p
      |)
      |SELECT l_returnflag, "count", round(share, 6) AS share, f.salt_factor
      |FROM p, f ORDER BY "count" DESC, l_returnflag""".stripMargin

  /** q84 — statistical aggregate family: Pearson correlation, OLS
    * slope/intercept (`regr_*`), and sample standard deviation per
    * return flag — the regression surface an analytics engine is
    * expected to ship (all are single-pass, merge-able aggregates; no
    * second scan, no driver math). Both engines accumulate co-moments
    * in different orders, so outputs are rounded (6 dp for the
    * unit-scale correlation, 3 dp for the price-scale terms) — the
    * same convention as every float aggregate here.
    */
  def regressionStats(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        round(corr(col("l_extendedprice"), col("l_quantity")), 6)
          .as("price_qty_corr"),
        round(regr_slope(col("l_extendedprice"), col("l_quantity")), 3)
          .as("slope"),
        round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 3)
          .as("intercept"),
        round(stddev_samp(col("l_extendedprice")), 3).as("price_sd"))
      .orderBy("l_returnflag")

  val regressionStatsOracle: String =
    """SELECT l_returnflag, count(*) AS n,
      |  round(corr(l_extendedprice, l_quantity), 6) AS price_qty_corr,
      |  round(regr_slope(l_extendedprice, l_quantity), 3) AS slope,
      |  round(regr_intercept(l_extendedprice, l_quantity), 3) AS intercept,
      |  round(stddev_samp(l_extendedprice), 3) AS price_sd
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  /** q96 — DIRECTED PageRank with dangling-mass redistribution
    * ([[graft.operators.PageRank.ranksDirected]]): the customer→supplier
    * graph un-symmetrized, so every supplier is a sink whose rank must
    * be redistributed each round or total mass leaks. Completes q76's
    * undirected variant with the correction a real directed web/citation
    * graph needs; same join+aggregate rounds, plus one node-sized scalar
    * aggregate per iteration.
    */
  def pageRankDirected(s: SparkSession, d: String): DataFrame = {
    val edges = t(s, d, "orders").join(t(s, d, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
    graft.operators.PageRank.ranksDirected(edges, "src", "dst",
        iters = 3, damping = 0.85)
      .select(
        when(col("id") % 2 === 0, concat(lit("c"), (col("id") / 2).cast("bigint")))
          .otherwise(concat(lit("s"), ((col("id") - 1) / 2).cast("bigint")))
          .as("id"),
        round(col("rank") * 1000, 6).as("rank_pm"))
      .orderBy("id")
  }

  val pageRankDirectedOracle: String = {
    def iter(k: Int): String =
      s"""d$k AS (
         |  SELECT coalesce(sum(rank), 0) AS dm FROM r${k - 1}
         |  WHERE id NOT IN (SELECT src FROM deg)
         |), c$k AS (
         |  SELECT e.dst AS id, sum(r.rank / g.outdeg) AS c
         |  FROM e0 e JOIN deg g ON e.src = g.src JOIN r${k - 1} r ON r.id = e.src
         |  GROUP BY e.dst
         |), r$k AS (
         |  SELECT n.id, CAST(0.15 AS DOUBLE) / (SELECT n FROM nn)
         |    + CAST(0.85 AS DOUBLE) * (coalesce(c$k.c, 0)
         |        + (SELECT dm FROM d$k) / (SELECT n FROM nn)) AS rank
         |  FROM nodes n LEFT JOIN c$k ON n.id = c$k.id
         |)""".stripMargin
    s"""WITH e0 AS (
       |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
       |    's' || CAST(l_suppkey AS VARCHAR) AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |), deg AS (
       |  SELECT src, count(*) AS outdeg FROM e0 GROUP BY src
       |), nodes AS (
       |  SELECT src AS id FROM e0 UNION SELECT dst FROM e0
       |), nn AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes
       |), r0 AS (
       |  SELECT id, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS rank FROM nodes
       |), ${iter(1)}, ${iter(2)}, ${iter(3)}
       |SELECT id, round(rank * 1000, 6) AS rank_pm FROM r3 ORDER BY id""".stripMargin
  }

  /** q97 — MERGEABLE distinct-count sketches (`hll_sketch_agg` /
    * `hll_union_agg`): per-nation customer sketches built once, then
    * UNIONED into per-region estimates — the pre-aggregation pattern
    * that makes 100 TB distinct-count rollups cheap (daily partials
    * merge associatively; the raw keys never re-shuffle). As in q35 the
    * estimate itself is engine-specific, so the hashed output carries
    * the exact counts plus a bound check on the merged estimate.
    */
  def hllMerge(s: SparkSession, d: String): DataFrame = {
    val perNation = t(s, d, "customer")
      .join(broadcast(t(s, d, "nation").select("n_nationkey", "n_regionkey")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_regionkey"), col("c_nationkey"))
      .agg(hll_sketch_agg(col("c_custkey")).as("sketch"),
        countDistinct(col("c_custkey")).as("exact_nation"))
    perNation.groupBy(col("n_regionkey"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch"))).as("approx"),
        sum(col("exact_nation")).as("exact_customers"), // nations partition customers
        count(lit(1)).as("n_nations"))
      .select(col("n_regionkey"), col("exact_customers"), col("n_nations"),
        (abs(col("approx") - col("exact_customers")).cast("double")
          / col("exact_customers") <= 0.15).as("merged_within_rel_err"))
      .orderBy("n_regionkey")
  }

  val hllMergeOracle: String =
    """SELECT n_regionkey,
      |  count(DISTINCT c_custkey) AS exact_customers,
      |  count(DISTINCT n_nationkey) AS n_nations,
      |  true AS merged_within_rel_err
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q100 — triangle counting over the part co-purchase graph (parts
    * linked when some order contains both): [[graft.operators.Triangles]]
    * — degree-ordered orientation + wedge equality-joins, the shape that
    * survives hub nodes at 100 TB (see the operator's doc). Runs on the
    * deterministic 25% vertex-induced subgraph (partkey % 4 = 0) — the
    * standard induced-subgraph sampling estimator for triangle
    * statistics, which keeps the verified workload wedge-bounded while
    * the operator itself is sample-agnostic (TrianglesSpec exercises it
    * unsampled). The oracle is the direct a<b<c three-way edge join,
    * which DuckDB can afford at verification scale precisely because it
    * is NOT the scalable plan.
    */
  def triangleCounts(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem").select("l_orderkey", "l_partkey")
      .filter(col("l_partkey") % 4 === 0)
    val edges = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("pa"), col("b.l_partkey").as("pb"))
    graft.operators.Triangles.perNodeCounts(edges, "pa", "pb")
      .select(col("node").as("part_id"), col("n_triangles"))
      .orderBy("part_id")
  }

  val triangleCountsOracle: String =
    """WITH li AS (
      |  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 4 = 0
      |), e AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM li a JOIN li b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |), tri AS (
      |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |  FROM e e1 JOIN e e2 ON e1.v = e2.u
      |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
      |), nodes AS (
      |  SELECT a AS node FROM tri
      |  UNION ALL SELECT b FROM tri
      |  UNION ALL SELECT c FROM tri
      |)
      |SELECT node AS part_id, CAST(count(*) AS BIGINT) AS n_triangles
      |FROM nodes GROUP BY node ORDER BY part_id""".stripMargin

  /** q101 — EWMA smoothing of each customer's order-value series
    * (α = 1/2): the time-series feature a spend-trend model consumes.
    * The fold runs POSITION-ORDERED inside each group's own row
    * (sort_array of (date, key, value) structs + `aggregate`), never as
    * an unordered double sum — and α = 0.5 makes every step an exact
    * IEEE halving, so the result is bit-reproducible on any partitioning
    * and in any engine (same reasoning as q68's ordered fold). One
    * map-combinable collect per customer; no window, no shuffle beyond
    * the groupBy.
    */
  def ewmaSmoothing(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .groupBy(col("o_custkey"))
      .agg(sort_array(collect_list(struct(col("o_orderdate"),
        col("o_orderkey"), col("o_totalprice")))).as("xs"))
      .select(col("o_custkey").as("cust_id"),
        size(col("xs")).cast("bigint").as("n_orders"),
        // UNROUNDED: both engines run the identical op sequence on the
        // same doubles, so the results are bit-equal — while round(…,4)
        // actually BROKE the match (half-up vs repr-based tie behavior
        // differs between engines on x.xxxx5 boundaries)
        aggregate(
          expr("slice(transform(xs, r -> r.o_totalprice), 2, size(xs) - 1)"),
          element_at(col("xs"), 1).getField("o_totalprice"),
          (acc, x) => acc * lit(0.5) + x * lit(0.5)).as("ewma_last"))
      .orderBy("cust_id")

  val ewmaSmoothingOracle: String =
    """WITH series AS (
      |  SELECT o_custkey,
      |    list(o_totalprice ORDER BY o_orderdate, o_orderkey) AS xs
      |  FROM orders GROUP BY o_custkey
      |)
      |SELECT o_custkey AS cust_id, CAST(len(xs) AS BIGINT) AS n_orders,
      |  list_reduce(xs, (acc, x) -> acc * 0.5 + x * 0.5) AS ewma_last
      |FROM series ORDER BY cust_id""".stripMargin

  /** Generic table profiler — the column-statistics report (null
    * counts, distinct cardinality, min/max per type family) every
    * ingestion gate publishes, computed schema-driven over ANY
    * DataFrame. One NO-DISTINCT pass carries every count/min/max (a
    * single scan), and each column's exact distinct count is its own
    * single-distinct aggregate — partial-distinct-then-count, two hash
    * aggregates with the dedup collapsing MAP-SIDE before the exchange,
    * each scan pruned to one column. The former all-in-one aggregate
    * planned the N distinct groups as an (N+1)-way Expand of every row
    * through FOUR SortAggregates (orders at bench scale: 1.05M wide
    * sorted rows for 150k input, ~37 task-CPU-s — the dense loop shape
    * the driver boxes amplify); the split form shuffles only collapsed
    * distinct values, strictly less at any scale, and the ≤N+1 bounded
    * subtrees schedule concurrently inside one job. (At 100 TB you'd
    * swap `approx_count_distinct` — q35/q97 cover that sketch machinery.)
    * One row per column via explode of a struct array; timestamps
    * profile as epoch seconds in the numeric lane, strings in the text
    * lane.
    */
  def profile(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{NumericType, StringType, StructField,
      TimestampNTZType, TimestampType}
    val fields = df.schema.fields
    def numExpr(f: StructField): Column = f.dataType match {
      case _: NumericType => col(f.name).cast("double")
      // epoch seconds via unix_micros, NOT cast-to-double (ANSI nulls
      // that out); parquet timestamps read as NTZ — value-preserving to
      // cast under the engine's pinned UTC session zone
      case _: TimestampType | TimestampNTZType =>
        unix_micros(col(f.name).cast("timestamp")).cast("double") / lit(1e6)
      case _ => lit(null).cast("double")
    }
    def strExpr(f: StructField): Column = f.dataType match {
      case StringType => col(f.name)
      case _ => lit(null).cast("string")
    }
    val aggs = fields.flatMap { f => Seq(
      count(col(f.name)).as(s"__cnt_${f.name}"),
      min(numExpr(f)).as(s"__mnn_${f.name}"),
      max(numExpr(f)).as(s"__mxn_${f.name}"),
      min(strExpr(f)).as(s"__mns_${f.name}"),
      max(strExpr(f)).as(s"__mxs_${f.name}"))
    }.toSeq
    val base = df.agg(count(lit(1)).as("__rows"), aggs: _*)
    val withDst = fields.foldLeft(base) { (acc, f) =>
      acc.crossJoin(broadcast(
        df.agg(countDistinct(col(f.name)).as(s"__dst_${f.name}"))))
    }
    withDst
      .select(col("__rows"), explode(array(fields.map(f => struct(
          lit(f.name).as("column_name"),
          col(s"__cnt_${f.name}").as("n_non_null"),
          col(s"__dst_${f.name}").as("n_distinct"),
          col(s"__mnn_${f.name}").as("min_numeric"),
          col(s"__mxn_${f.name}").as("max_numeric"),
          col(s"__mns_${f.name}").as("min_text"),
          col(s"__mxs_${f.name}").as("max_text"))).toSeq: _*)).as("p"))
      .select(col("p.column_name"), col("__rows").as("n_rows"),
        (col("__rows") - col("p.n_non_null")).as("n_nulls"),
        col("p.n_distinct"), col("p.min_numeric"), col("p.max_numeric"),
        col("p.min_text"), col("p.max_text"))
      .orderBy("column_name")
  }

  /** q103 — the profiler over `orders`, every statistic under the exact
    * oracle (one UNION ALL branch per column on the DuckDB side — the
    * naive per-column formulation, affordable at verification scale).
    */
  def tableProfile(s: SparkSession, d: String): DataFrame =
    // widen before profiling ([[graft.Par.toCores]]): the all-column
    // stats pass is pure per-row CPU inside the scan (measured 3.3
    // task-CPU-s at ~1.4-way on the one-row-group fixture) — the
    // partial aggregates then combine core-wide before the final reduce
    profile(graft.Par.toCores(t(s, d, "orders")))

  val tableProfileOracle: String = {
    val cols = Seq("o_orderkey" -> "num", "o_custkey" -> "num",
      "o_orderstatus" -> "str", "o_totalprice" -> "num",
      "o_orderdate" -> "ts", "o_orderpriority" -> "str")
    cols.map { case (name, kind) =>
      val (mnn, mxn) = kind match {
        case "num" => (s"CAST(min($name) AS DOUBLE)", s"CAST(max($name) AS DOUBLE)")
        case "ts" => (s"epoch(min($name))", s"epoch(max($name))")
        case _ => ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)")
      }
      val (mns, mxs) =
        if (kind == "str") (s"min($name)", s"max($name)")
        else ("CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)")
      s"""SELECT '$name' AS column_name, count(*) AS n_rows,
         |  count(*) - count($name) AS n_nulls,
         |  count(DISTINCT $name) AS n_distinct,
         |  $mnn AS min_numeric, $mxn AS max_numeric,
         |  $mns AS min_text, $mxs AS max_text
         |FROM orders""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
  }

  /** q107 — z-score outlier detection per group, ORACLE-EXACT: the
    * moments (Σp, Σp²) are computed in DECIMAL domain — exact and
    * order-independent, so they survive any partitioning and re-derive
    * bit-identically in any engine — and only then converted to double
    * for one fixed-shape mean/σ/z expression (sqrt is IEEE
    * correctly-rounded, unlike log/exp, so it is oracle-safe). A
    * built-in `stddev` would NOT hash-match: engines disagree in the
    * last ulp between Welford and central-moment formulations, and a
    * double Σ is order-dependent besides. z stays UNROUNDED — the
    * derivation is bit-identical, while rounding would reintroduce
    * cross-engine tie behavior (the q101 lesson). Threshold 1.5σ:
    * the fixture's totalprice is near-uniform (bounded tail, max z
    * ≈ 1.8), so a textbook 3σ cut would verify an empty set.
    */
  def priceOutliers(s: SparkSession, d: String): DataFrame = {
    // whole-dollar (floor) BIGINT domain: scaled-decimal→double casts
    // double-round differently across engines past 2^53, DuckDB's
    // hugeint→double double-rounds past 2^64, and decimal RESCALING
    // disagrees on .50 ties (HALF_UP vs half-even) — all three measured
    // as z divergences. floor(double) has no ties and is exact in every
    // engine, and whole-dollar moments keep Σp² under 2^63 where
    // long→double is a single correctly-rounded step. The floor is part
    // of the operator's definition here (robust z on dollar buckets).
    val dec = t(s, d, "orders").select(col("o_orderpriority"),
      col("o_orderkey"), col("o_totalprice"),
      floor(col("o_totalprice")).cast("long").as("pc"))
    val stats = dec.groupBy("o_orderpriority").agg(
      sum(col("pc")).as("s1"), sum(col("pc") * col("pc")).as("s2"),
      count(lit(1)).as("n"))
    dec.join(broadcast(stats), "o_orderpriority")
      .withColumn("xc", col("pc").cast("double"))
      .withColumn("mean_c", col("s1").cast("double") / col("n"))
      .withColumn("std_c", sqrt((col("s2").cast("double") -
        col("s1").cast("double") * col("s1").cast("double") / col("n")) /
        (col("n") - 1)))
      .withColumn("z", (col("xc") - col("mean_c")) / col("std_c"))
      .filter(col("z") > 1.5)
      .select(col("o_orderpriority"), col("o_orderkey"),
        col("o_totalprice"), col("z"))
      .orderBy("o_orderpriority", "o_orderkey")
  }

  val priceOutliersOracle: String =
    """WITH dec AS (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |    CAST(floor(o_totalprice) AS BIGINT) AS pc
      |  FROM orders
      |), stats AS (
      |  SELECT o_orderpriority, CAST(sum(pc) AS BIGINT) AS s1,
      |    CAST(sum(pc * pc) AS BIGINT) AS s2, count(*) AS n
      |  FROM dec GROUP BY 1
      |), j AS (
      |  SELECT d.o_orderpriority, d.o_orderkey, d.o_totalprice,
      |    CAST(pc AS DOUBLE) AS xc,
      |    CAST(s1 AS DOUBLE) / n AS mean_c,
      |    sqrt((CAST(s2 AS DOUBLE)
      |      - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / (n - 1)) AS std_c
      |  FROM dec d JOIN stats USING (o_orderpriority)
      |)
      |SELECT o_orderpriority, o_orderkey, o_totalprice,
      |  (xc - mean_c) / std_c AS z
      |FROM j WHERE (xc - mean_c) / std_c > 1.5
      |ORDER BY o_orderpriority, o_orderkey""".stripMargin

  /** q35 — sketch aggregation: HyperLogLog++ approximate distinct counts
    * validated against the exact counts. The sketch ESTIMATE itself is
    * engine-specific, so it stays out of the hashed projection: the
    * output carries the exact counts plus booleans asserting the HLL
    * estimate landed within the relative-error bound — all portable, so
    * the driver gets a full rows+schema+hash oracle instead of rows-only.
    */
  def approxDistinct(s: SparkSession, d: String): DataFrame = {
    // ONE distinct group per aggregation: a single-distinct aggregate
    // plans as partial-distinct-then-count (two hash aggregates, the
    // distinct collapsing MAP-SIDE before the exchange). The former
    // 4-in-one aggregate planned its two distinct groups as a 3-way
    // Expand of every scan row — 1.8M expanded rows through the
    // aggregate for four scalars (the dense generated loop the r14-r16
    // driver boxes amplify). The two 1-row results cross-join for free.
    val li = t(s, d, "lineitem")
    li.agg(
      countDistinct(col("l_partkey")).as("exact_parts"),
      approx_count_distinct(col("l_partkey")).as("approx_parts"))
      .crossJoin(broadcast(li.agg(
        countDistinct(col("l_orderkey")).as("exact_orders"),
        approx_count_distinct(col("l_orderkey")).as("approx_orders"))))
      .select(
        col("exact_parts"), col("exact_orders"),
        (abs(col("approx_parts") - col("exact_parts")).cast("double") /
          col("exact_parts") <= 0.15).as("parts_within_rel_err"),
        (abs(col("approx_orders") - col("exact_orders")).cast("double") /
          col("exact_orders") <= 0.15).as("orders_within_rel_err"))
  }

  val approxDistinctOracle: String =
    """SELECT count(DISTINCT l_partkey) AS exact_parts,
      |  count(DISTINCT l_orderkey) AS exact_orders,
      |  true AS parts_within_rel_err, true AS orders_within_rel_err
      |FROM lineitem""".stripMargin

  /** q36 — exact percentiles (median/p90/p99) of the charge distribution
    * per return flag: linear interpolation (ANSI percentile_cont / DuckDB
    * quantile_cont) via the primitive-buffer
    * [[graft.functions.ExactPercentiles]] aggregator — one buffered pass
    * and one sort for all three points, bit-identical to the built-in
    * `percentile` at a fraction of its boxed-hash-map cost.
    */
  def percentiles(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      // r16: the per-row charge double comes from the BIGINT carrier
      // re-wrapped once (MakeDecimal) — the same exact rational hits
      // the same correctly-rounded double cast, minus two per-row
      // decimal allocations
      .withColumn("charge",
        graft.functions.Cents.fromUnscaled(
          graft.functions.Cents.cents(col("l_extendedprice")) *
            (lit(100L) - graft.functions.Cents.cents(col("l_discount"))),
          4).cast("double"))
      .groupBy(col("l_returnflag"))
      .agg(
        graft.functions.ExactPercentiles
          .percentiles(col("charge"), Seq(0.5, 0.9, 0.99)).as("ps"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"), col("ps")(0).as("p50"),
        col("ps")(1).as("p90"), col("ps")(2).as("p99"), col("n"))
      .orderBy("l_returnflag")

  val percentilesOracle: String =
    """WITH c AS (
      |  SELECT l_returnflag,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2))
      |         * (1 - CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS charge
      |  FROM lineitem
      |)
      |SELECT l_returnflag,
      |  quantile_cont(charge, 0.5) AS p50,
      |  quantile_cont(charge, 0.9) AS p90,
      |  quantile_cont(charge, 0.99) AS p99,
      |  count(*) AS n
      |FROM c GROUP BY 1 ORDER BY 1""".stripMargin

  /** q37 — set operations (beyond-reference §2.7): segment membership
    * algebra over orders — customers with 1995 orders INTERSECT high-value
    * customers, then EXCEPT the ones with cancelled orders.
    */
  def setOps(s: SparkSession, d: String): DataFrame = {
    val orders = t(s, d, "orders")
    val in95 = orders.filter(year(col("o_orderdate")) === 1995).select("o_custkey")
    val big = orders.filter(col("o_totalprice") > 150000).select("o_custkey")
    val cancelled = orders.filter(col("o_orderstatus") === "F").select("o_custkey")
    in95.intersect(big).except(cancelled)
      .withColumnRenamed("o_custkey", "member_id").orderBy("member_id")
  }

  val setOpsOracle: String =
    """SELECT o_custkey AS member_id FROM (
      |  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
      |  INTERSECT
      |  SELECT o_custkey FROM orders WHERE o_totalprice > 150000
      |  EXCEPT
      |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |) ORDER BY member_id""".stripMargin

  /** q38 — pivot: yearly revenue per nation pivoted to columns (the
    * conditional-aggregation form is what pivot compiles to, and is the
    * engine-portable statement of it).
    */
  def pivotRevenue(s: SparkSession, d: String): DataFrame = {
    // exact 4-dp revenue as BIGINT ten-thousandths per row (the Cents
    // contract: price and discount are 2-dp doubles), accumulated in
    // DECIMAL(38,0) — the cell sums scale with the corpus — and
    // rescaled to double ONCE per cell (exact decimal division, scale 6
    // ≥ the 4-dp value; the double conversion rounds once, same as the
    // oracle's decimal-sum cast). Identical values to the per-row
    // decimal-multiply form at a fraction of the scan CPU (the decimal
    // cast + multiply probed ~5× primitive double arithmetic,
    // BASELINE.md r13) — this query pays it once per conditional cell.
    val rev4 = graft.functions.Cents.cents(col("l_extendedprice")) *
      (lit(100L) - graft.functions.Cents.cents(col("l_discount")))
    def cell(yr: Int) =
      (sum(when(col("yr") === yr, rev4).cast(DecimalType(38, 0))) /
        lit(10000)).cast("double").as(s"rev_$yr")
    t(s, d, "lineitem")
      .join(t(s, d, "orders").select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, d, "customer").select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, d, "nation").select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .withColumn("yr", year(col("l_shipdate")))
      // the conditional-aggregation cells ARE what groupBy().pivot()
      // compiles to — stated directly so the year filter and the cents
      // carrier stay in one codegen'd aggregate
      .groupBy(col("n_name").as("nation"))
      .agg(cell(1995), cell(1996), cell(1997))
      .orderBy("nation")
  }

  /** q83 — UNPIVOT (melt), the inverse surface of q38's pivot: the wide
    * per-nation revenue matrix relaid as (nation, yr, revenue) long form
    * via `Dataset.unpivot`. Round-tripping through the pivot exercises
    * both directions; the oracle computes the long form directly, so a
    * hash match proves pivot→unpivot is lossless (missing cells drop as
    * NULLs, exactly the rows the direct aggregation never had). Wide→long
    * is per-row work — no shuffle beyond the pivot's own aggregation.
    */
  def unpivotRevenue(s: SparkSession, d: String): DataFrame = {
    val wide = pivotRevenue(s, d)
    wide.unpivot(
        Array(col("nation")),
        Array(col("rev_1995").as("1995"), col("rev_1996").as("1996"),
          col("rev_1997").as("1997")),
        "yr", "revenue")
      .filter(col("revenue").isNotNull)
      .select(col("nation"), col("yr").cast("bigint").as("yr"), col("revenue"))
      .orderBy("nation", "yr")
  }

  val unpivotRevenueOracle: String =
    """SELECT n_name AS nation, CAST(year(l_shipdate) AS BIGINT) AS yr,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
      |    * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |WHERE year(l_shipdate) IN (1995, 1996, 1997)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val pivotRevenueOracle: String =
    """WITH base AS (
      |  SELECT n_name AS nation, year(l_shipdate) AS yr,
      |    CAST(l_extendedprice AS DECIMAL(18,2))
      |      * (1 - CAST(l_discount AS DECIMAL(4,2))) AS rev
      |  FROM lineitem
      |  JOIN orders   ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation   ON c_nationkey = n_nationkey
      |)
      |SELECT nation,
      |  CAST(sum(CASE WHEN yr = 1995 THEN rev END) AS DOUBLE) AS rev_1995,
      |  CAST(sum(CASE WHEN yr = 1996 THEN rev END) AS DOUBLE) AS rev_1996,
      |  CAST(sum(CASE WHEN yr = 1997 THEN rev END) AS DOUBLE) AS rev_1997
      |FROM base GROUP BY 1 ORDER BY 1""".stripMargin

  /** q39 — range join (scalable bucketed form): pairs of events by the
    * same user within 60 seconds of each other.
    */
  def rangeJoinEvents(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select("event_id", "user_id", "ts")
    Temporal.rangeJoin(ev, ev, "user_id", "ts", "ts", 60)
      .filter(col("l_event_id") < col("r_event_id"))
      .select(col("l_user_id").as("user_id"),
        col("l_event_id").as("event_a"), col("r_event_id").as("event_b"))
      .orderBy("user_id", "event_a", "event_b")
  }

  val rangeJoinEventsOracle: String =
    """SELECT a.user_id, a.event_id AS event_a, b.event_id AS event_b
      |FROM events a JOIN events b
      |  ON a.user_id = b.user_id AND a.event_id < b.event_id
      | AND abs(epoch_us(CAST(a.ts AS TIMESTAMP)) - epoch_us(CAST(b.ts AS TIMESTAMP))) <= 60000000
      |ORDER BY a.user_id, event_a, event_b""".stripMargin

  /** q40 — as-of join (union + running-last window, single shuffle): for
    * every purchase event, the most recent view by the same user at or
    * before it.
    */
  def asofJoinEvents(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val views = ev.filter(col("event_type") === "view")
      .select("user_id", "ts")
    Temporal.asofJoin(purchases, views, "user_id", "ts", "ts")
      .select(col("event_id"), col("user_id"), col("asof_ts").as("last_view_ts"))
      .orderBy("event_id")
  }

  val asofJoinEventsOracle: String =
    """SELECT p.event_id, p.user_id,
      |  (SELECT max(CAST(v.ts AS TIMESTAMP)) FROM events v
      |   WHERE v.user_id = p.user_id AND v.event_type = 'view'
      |     AND CAST(v.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)) AS last_view_ts
      |FROM events p WHERE p.event_type = 'purchase'
      |ORDER BY p.event_id""".stripMargin

  /** q45 — analytic window functions (beyond the reference's lone
    * row_number): per-member order sequence with rank, previous-order
    * lag, gap days, and a decimal-exact running spend total over an
    * explicit ROWS frame.
    */
  def windowAnalytics(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, d, "orders")
      .withColumn("order_seq", row_number().over(w).cast("bigint"))
      .withColumn("order_rank", rank().over(
        Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"))).cast("bigint"))
      .withColumn("prev_order_date", lag(col("o_orderdate"), 1).over(w))
      .withColumn("next_order_date", lead(col("o_orderdate"), 1).over(w))
      .withColumn("days_since_prev",
        datediff(to_date(col("o_orderdate")), to_date(col("prev_order_date"))).cast("bigint"))
      .withColumn("running_spend",
        sum(col("o_totalprice").cast(DecimalType(18, 2))).over(frame)
          .cast("double"))
      .select(col("o_custkey").as("member_id"), col("o_orderkey"),
        col("order_seq"), col("order_rank"), col("prev_order_date"),
        col("next_order_date"), col("days_since_prev"), col("running_spend"))
      .orderBy("member_id", "order_seq")
  }

  /** q77 — ranking/distribution window surface q45 leaves out: ntile,
    * dense_rank, percent_rank, cume_dist, first/last value over an
    * explicit ROWS frame, and a RANGE frame (peers by order date) —
    * together with q45 this is the full ANSI window-function family.
    * percent_rank and cume_dist are exact small-integer ratios, so the
    * doubles are bit-identical cross-engine (no rounding needed); the
    * spend aggregates ride the same decimal-then-double convention as
    * every money column.
    */
  def windowAnalytics2(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDate = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val bySpend = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").cast(DecimalType(18, 2)), col("o_orderkey"))
    // RANGE frame keyed on the date's day number: all orders up to and
    // including the current ORDER DATE (peers included — differs from a
    // ROWS frame exactly when a customer has two orders on one day)
    val byDay = Window.partitionBy(col("o_custkey"))
      .orderBy(unix_date(to_date(col("o_orderdate"))).cast("long"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, d, "orders")
      .withColumn("spend_quartile", ntile(4).over(bySpend).cast("bigint"))
      .withColumn("date_dense_rank",
        dense_rank().over(Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"))).cast("bigint"))
      .withColumn("spend_pct_rank", percent_rank().over(bySpend))
      .withColumn("spend_cume_dist", cume_dist().over(bySpend))
      .withColumn("first_order_date",
        first(col("o_orderdate")).over(
          byDate.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("spend_to_date",
        sum(col("o_totalprice").cast(DecimalType(18, 2))).over(byDay)
          .cast("double"))
      .select(col("o_custkey").as("member_id"), col("o_orderkey"),
        col("spend_quartile"), col("date_dense_rank"), col("spend_pct_rank"),
        col("spend_cume_dist"), col("first_order_date"), col("spend_to_date"))
      .orderBy("member_id", "o_orderkey")
  }

  val windowAnalytics2Oracle: String =
    """SELECT o_custkey AS member_id, o_orderkey,
      |  CAST(ntile(4) OVER ws AS BIGINT) AS spend_quartile,
      |  CAST(dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_orderdate)
      |       AS BIGINT) AS date_dense_rank,
      |  percent_rank() OVER ws AS spend_pct_rank,
      |  cume_dist() OVER ws AS spend_cume_dist,
      |  first_value(o_orderdate) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_order_date,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
      |    PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE)
      |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS DOUBLE) AS spend_to_date
      |FROM orders
      |WINDOW ws AS (PARTITION BY o_custkey
      |  ORDER BY CAST(o_totalprice AS DECIMAL(18,2)), o_orderkey)
      |ORDER BY member_id, o_orderkey""".stripMargin

  val windowAnalyticsOracle: String =
    """SELECT o_custkey AS member_id, o_orderkey,
      |  row_number() OVER w AS order_seq,
      |  rank() OVER (PARTITION BY o_custkey ORDER BY o_orderdate) AS order_rank,
      |  lag(o_orderdate, 1) OVER w AS prev_order_date,
      |  lead(o_orderdate, 1) OVER w AS next_order_date,
      |  CAST(date_diff('day', CAST(lag(o_orderdate, 1) OVER w AS DATE),
      |                 CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since_prev,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
      |       OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |       AS DOUBLE) AS running_spend
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY member_id, order_seq""".stripMargin

  /** q46 — snowflake join chain across all five star tables
    * (region→nation→customer→orders→lineitem): revenue per region and
    * order year, the deepest dimension path the schema offers. Every
    * dim hop is a broadcast; the fact side never shuffles until the
    * final keyed aggregation.
    */
  def snowflakeRevenue(s: SparkSession, d: String): DataFrame = {
    val rev = (col("l_extendedprice").cast(DecimalType(18, 2)) *
      (lit(1) - col("l_discount").cast(DecimalType(4, 2))))
    t(s, d, "lineitem")
      .join(t(s, d, "orders").select("o_orderkey", "o_custkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, d, "customer").select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, d, "nation").select("n_nationkey", "n_regionkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, d, "region").select("r_regionkey", "r_name")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"), year(col("o_orderdate")).as("order_year"))
      .agg(sum(rev).cast("double").as("revenue"),
        countDistinct(col("c_custkey")).as("n_members"),
        count(lit(1)).as("n_lines"))
      .orderBy("region", "order_year")
  }

  val snowflakeRevenueOracle: String =
    """SELECT r_name AS region, CAST(year(o_orderdate) AS INTEGER) AS order_year,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
      |       * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
      |  count(DISTINCT c_custkey) AS n_members,
      |  count(*) AS n_lines
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q60 — skew-resistant salted join ([[graft.operators.Skew.saltedJoin]]):
    * the fact side's hot key is spread over 8 deterministic salt
    * sub-keys and the dimension replicated across them, so one melting
    * reducer becomes 8 balanced ones. The oracle is the PLAIN join —
    * hash-equality proves salting changes the physical distribution and
    * nothing else.
    */
  def saltedSkewJoin(s: SparkSession, d: String): DataFrame = {
    val facts = t(s, d, "lineitem").select(col("l_suppkey"), col("l_quantity"))
    val dim = t(s, d, "supplier")
      .select(col("s_suppkey").as("l_suppkey"), col("s_name"))
    graft.operators.Skew.saltedJoin(facts, dim, "l_suppkey")
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"))
      .orderBy("s_name")
  }

  val saltedSkewJoinOracle: String =
    """SELECT s_name, count(*) AS n_lines,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY s_name ORDER BY s_name""".stripMargin

  // ------------------------------------------------- events (json+windows)

  /** q17 — JSON property extraction from the event stream (north-star
    * surface over `events.props`).
    */
  def eventsJson(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(
      col("event_id"), col("event_type"),
      get_json_object(col("props"), "$.k").cast("int").as("prop_k"),
      col("value"))
      .orderBy("event_id")

  val eventsJsonOracle: String =
    """SELECT event_id, event_type,
      |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k, value
      |FROM events ORDER BY event_id""".stripMargin

  /** q81 — ordered conversion funnel (view → click → purchase): per
    * user, the earliest view, the earliest click AT OR AFTER that view,
    * and the earliest purchase at or after that click — each stage a
    * filtered min-aggregation joined back on user id, so all three
    * shuffles share one key and the exchange is reused; nothing sorts
    * whole event histories. Depth classifies how far the user got;
    * seconds-to-convert only for completed funnels. Timestamps diff as
    * floor-epoch seconds (Spark's long cast ≡ DuckDB second-boundary
    * count for positive spans).
    */
  def funnel(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("user_id"), col("ts"), col("event_type"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("first_view"))
    val c = ev.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("ts") >= col("first_view"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("first_click"))
    val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
      .filter(col("ts") >= col("first_click"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("first_purchase"))
    v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
      .select(col("user_id"), col("first_view"), col("first_click"),
        col("first_purchase"),
        when(col("first_purchase").isNotNull, 3L)
          .when(col("first_click").isNotNull, 2L).otherwise(1L).as("depth"),
        when(col("first_purchase").isNotNull,
          col("first_purchase").cast("long") - col("first_view").cast("long"))
          .as("secs_to_convert"))
      .orderBy("user_id")
  }

  val funnelOracle: String =
    """WITH v AS (
      |  SELECT user_id, min(ts) AS first_view FROM events
      |  WHERE event_type = 'view' GROUP BY 1
      |), c AS (
      |  SELECT e.user_id, min(e.ts) AS first_click
      |  FROM events e JOIN v ON e.user_id = v.user_id AND e.ts >= v.first_view
      |  WHERE e.event_type = 'click' GROUP BY 1
      |), p AS (
      |  SELECT e.user_id, min(e.ts) AS first_purchase
      |  FROM events e JOIN c ON e.user_id = c.user_id AND e.ts >= c.first_click
      |  WHERE e.event_type = 'purchase' GROUP BY 1
      |)
      |SELECT v.user_id, v.first_view, c.first_click, p.first_purchase,
      |  CASE WHEN p.first_purchase IS NOT NULL THEN 3
      |       WHEN c.first_click IS NOT NULL THEN 2 ELSE 1 END AS depth,
      |  CASE WHEN p.first_purchase IS NOT NULL THEN
      |    CAST(floor(epoch(p.first_purchase)) - floor(epoch(v.first_view)) AS BIGINT)
      |  END AS secs_to_convert
      |FROM v LEFT JOIN c ON v.user_id = c.user_id
      |       LEFT JOIN p ON v.user_id = p.user_id
      |ORDER BY v.user_id""".stripMargin

  /** q86 — entry-journey path analysis: each user's first five events
    * (by event time, id tie-break) joined into a `type>type>…` path,
    * then users counted per path — the "how do sessions start" rollup.
    * The per-user prefix is a WindowGroupLimit-able ranked window
    * (partitioned by user, never global), and the path string is
    * rebuilt order-exactly with `array_sort(collect_list(struct))`,
    * the same deterministic in-group reconstruction q74 uses — no
    * assumption that collect_list preserves any order.
    */
  def eventPaths(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .groupBy(col("user_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("rn"), col("event_type")))),
        x => x.getField("event_type")), ">").as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("path")
  }

  val eventPathsOracle: String =
    """WITH r AS (
      |  SELECT user_id, event_type,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM events
      |), p AS (
      |  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
      |  FROM r WHERE rn <= 5 GROUP BY 1
      |)
      |SELECT path, count(*) AS n_users FROM p GROUP BY 1 ORDER BY path""".stripMargin

  /** q82 — cohort retention: members grouped by first-order month, the
    * classic (cohort × month-offset) retention matrix. Activity is the
    * distinct (member, month) set; the cohort assignment is one more
    * aggregation on the same member key (the exchange reuses), and the
    * matrix is a count-distinct per (cohort, offset) — month arithmetic
    * is exact integers in both engines.
    */
  def cohortRetention(s: SparkSession, d: String): DataFrame = {
    val active = t(s, d, "orders")
      .select(col("o_custkey").as("member_id"),
        date_trunc("month", col("o_orderdate")).cast("date").as("month"))
      .distinct()
    val cohort = active.groupBy(col("member_id"))
      .agg(min(col("month")).as("cohort_month"))
    active.join(cohort, "member_id")
      .groupBy(col("cohort_month"),
        months_between(col("month"), col("cohort_month")).cast("bigint")
          .as("month_offset"))
      .agg(countDistinct(col("member_id")).as("n_active"))
      .orderBy("cohort_month", "month_offset")
  }

  val cohortRetentionOracle: String =
    """WITH a AS (
      |  SELECT DISTINCT o_custkey AS member_id,
      |    CAST(date_trunc('month', o_orderdate) AS DATE) AS month
      |  FROM orders
      |), f AS (
      |  SELECT member_id, min(month) AS cohort_month FROM a GROUP BY 1
      |)
      |SELECT f.cohort_month,
      |  CAST(date_diff('month', f.cohort_month, a.month) AS BIGINT) AS month_offset,
      |  count(DISTINCT a.member_id) AS n_active
      |FROM a JOIN f USING (member_id)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q18 — tumbling event-time windows (batch analog of the Structured
    * Streaming ingest; see graft.streaming for the readStream path).
    */
  def tumblingWindows(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 6))).cast("double").as("total_value"))
      .select(col("window.start").as("window_start"), col("window.end").as("window_end"),
        col("event_type"), col("n_events"), col("total_value"))
      .orderBy("window_start", "event_type")

  val tumblingWindowsOracle: String =
    """SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS window_start,
      |  time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) + INTERVAL 1 HOUR AS window_end,
      |  event_type, count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1, 2, 3 ORDER BY 1, 3""".stripMargin

  /** q19 — sliding windows (1h length, 30min slide): each event lands in
    * exactly 2 windows.
    */
  def slidingWindows(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 6))).cast("double").as("total_value"))
      .select(col("window.start").as("window_start"), col("window.end").as("window_end"),
        col("n_events"), col("total_value"))
      .orderBy("window_start")

  val slidingWindowsOracle: String =
    """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, value FROM events),
      |b AS (
      |  SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS window_start, value FROM e
      |  UNION ALL
      |  SELECT time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE, value FROM e
      |)
      |SELECT window_start, window_start + INTERVAL 1 HOUR AS window_end,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
      |FROM b GROUP BY 1 ORDER BY 1""".stripMargin

  /** q20 — session windows (30min gap) per user: batch analog of
    * session_window streaming aggregation.
    */
  def sessionWindows(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))
      .orderBy("user_id", "session_start")

  val sessionWindowsOracle: String =
    """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |m AS (
      |  SELECT user_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
      |), s AS (
      |  SELECT user_id, ts,
      |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM m
      |)
      |SELECT user_id, min(ts) AS session_start,
      |  max(ts) + INTERVAL 30 MINUTE AS session_end, count(*) AS n_events
      |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin

  /** q108 — multi-source BFS hop distances
    * ([[graft.operators.ShortestPaths]]): how many order-hops separate
    * every market participant from nation 0's customer base, over the
    * symmetrized customer–supplier graph (the q76 edge set). Frontier
    * expansion touches each edge once per REACHED hop — the shape that
    * lets a 100 TB edge list answer "everything within k hops of this
    * seed set" without k full relaxation scans. Integer hop counts are
    * exact in both engines; the oracle unrolls the same three rounds as
    * chained min-merges.
    */
  def bfsHops(s: SparkSession, d: String): DataFrame = {
    // the graph runs on LONG node ids (customer → 2k, supplier → 2k+1):
    // every frontier join, distinct, and anti-join keys on an 8-byte
    // integer instead of a concatenated string (the string form measured
    // 17.5 task-CPU-s at sf0.1 — hashing and comparing "c12345" per edge
    // per round was most of the query). The presentation ids are
    // rendered ONCE on the hop-table-sized output.
    val e1 = t(s, d, "orders").join(t(s, d, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
    // dedupe at HALF size, then symmetrize with a map-side explode
    // (r16, the q256 bipartite device): e1 is bipartite — src always
    // even, dst always odd — so the two exploded orientations can never
    // collide and each is internally distinct once e1 is; the operator's
    // own 2|E| distinct is skipped via its edgesDistinct promise. The
    // explode form also keeps the orders⋈lineitem join to ONE execution
    // (the q126 fix).
    val edges = e1.distinct().select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    val sources = t(s, d, "customer").filter(col("c_nationkey") === 0)
      .select((col("c_custkey") * 2).as("id"))
    graft.operators.ShortestPaths.hopDistances(
        edges, "src", "dst", sources, "id", maxHops = 3,
        edgesDistinct = true)
      .select(concat(when(col("id") % 2 === 0, "c").otherwise("s"),
        expr("id div 2")).as("id"), col("dist"))
      .orderBy("id")
  }

  val bfsHopsOracle: String = {
    def step(k: Int): String =
      s"""d$k AS (
         |  SELECT id, min(dist) AS dist FROM (
         |    SELECT id, dist FROM d${k - 1}
         |    UNION ALL
         |    SELECT e.dst AS id, p.dist + 1
         |    FROM d${k - 1} p JOIN e ON e.src = p.id
         |  ) GROUP BY id
         |)""".stripMargin
    s"""WITH e1 AS (
       |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
       |    's' || CAST(l_suppkey AS VARCHAR) AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |), e AS (
       |  SELECT src, dst FROM e1 UNION SELECT dst, src FROM e1
       |), d0 AS (
       |  SELECT DISTINCT 'c' || CAST(c_custkey AS VARCHAR) AS id,
       |    CAST(0 AS BIGINT) AS dist
       |  FROM customer WHERE c_nationkey = 0
       |), ${step(1)}, ${step(2)}, ${step(3)}
       |SELECT id, CAST(dist AS BIGINT) AS dist FROM d3 ORDER BY id""".stripMargin
  }

  /** q109 — label-propagation communities
    * ([[graft.operators.LabelPropagation]]) over the q100 part
    * co-purchase subgraph (partkey % 4 = 0), three synchronous rounds
    * with the deterministic smallest-label tie-break. Communities of
    * co-bought parts are the "bundle" signal a recommender or assortment
    * planner consumes. The oracle unrolls the identical three rounds
    * with a ranking window as the argmax.
    */
  def labelPropagationCommunities(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem").select("l_orderkey", "l_partkey")
      .filter(col("l_partkey") % 4 === 0)
    val edges = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("pa"), col("b.l_partkey").as("pb"))
    graft.operators.LabelPropagation.labels(edges, "pa", "pb", iters = 3)
      .select(col("id").as("part_id"), col("label").as("community"))
      .orderBy("part_id")
  }

  val labelPropagationOracle: String = {
    def round(k: Int): String =
      s"""v$k AS (
         |  SELECT e.dst AS id, l.label, count(*) AS cnt
         |  FROM e JOIN l${k - 1} l ON e.src = l.id GROUP BY 1, 2
         |), l$k AS (
         |  SELECT id, label FROM (
         |    SELECT id, label,
         |      row_number() OVER (PARTITION BY id ORDER BY cnt DESC, label) AS rn
         |    FROM v$k) WHERE rn = 1
         |)""".stripMargin
    s"""WITH li AS (
       |  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 4 = 0
       |), e1 AS (
       |  SELECT DISTINCT CAST(a.l_partkey AS BIGINT) AS u,
       |    CAST(b.l_partkey AS BIGINT) AS v
       |  FROM li a JOIN li b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |), e AS (
       |  SELECT u AS src, v AS dst FROM e1 UNION SELECT v, u FROM e1
       |), l0 AS (
       |  SELECT DISTINCT src AS id, src AS label FROM e
       |), ${round(1)}, ${round(2)}, ${round(3)}
       |SELECT id AS part_id, label AS community FROM l3 ORDER BY part_id""".stripMargin
  }

  /** q111 — bounded moving-window aggregate: each order's trailing
    * 90-day revenue and order count for its customer, via a RANGE frame
    * over epoch days (`rangeBetween(-89, 0)`). Completes the window
    * surface's missing frame family — q45/q77 exercise UNBOUNDED and
    * ROWS frames; a bounded RANGE frame is the one a
    * velocity/recency feature ("spend in the last 90 days") needs, and
    * it runs in one hash(custkey) exchange + per-partition sort with
    * frame state bounded by the window span, never the partition.
    * Money sums in DECIMAL (exact, order-independent).
    */
  def rollingRevenue(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("epoch_day"))
      .rangeBetween(-89, 0)
    t(s, d, "orders")
      .withColumn("epoch_day",
        datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date")))
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate").cast("date").as("order_date"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w)
          .cast("double").as("revenue_90d"),
        count(lit(1)).over(w).as("n_orders_90d"))
      .orderBy("o_orderkey")
  }

  val rollingRevenueOracle: String =
    """SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS order_date,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
      |    AS revenue_90d,
      |  count(*) OVER w AS n_orders_90d
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey
      |  ORDER BY date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
      |  RANGE BETWEEN 89 PRECEDING AND CURRENT ROW)
      |ORDER BY o_orderkey""".stripMargin

  /** q112 — common-neighbor link prediction
    * ([[graft.operators.Triangles.commonNeighbors]]) on the q100 part
    * co-purchase subgraph: the strongest not-yet-co-bought part pairs,
    * ranked by shared-neighbor count — candidate generation for a
    * "bought together" recommender. Wedge centers are degree-capped at
    * 64 (modeled identically in the oracle) — the hot-key cap that keeps
    * hub wedges from going quadratic at scale. Top 100 under a total
    * (count DESC, pair) order, so the LIMIT is deterministic.
    */
  def linkPrediction(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem").select("l_orderkey", "l_partkey")
      .filter(col("l_partkey") % 4 === 0)
    val edges = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("pa"), col("b.l_partkey").as("pb"))
    graft.operators.Triangles.commonNeighbors(edges, "pa", "pb", maxDegree = 64)
      .filter(col("common_neighbors") >= 3)
      .select(col("u").cast("bigint").as("part_a"),
        col("v").cast("bigint").as("part_b"), col("common_neighbors"))
      .orderBy(col("common_neighbors").desc, col("part_a"), col("part_b"))
      .limit(100)
  }

  val linkPredictionOracle: String =
    """WITH li AS (
      |  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 4 = 0
      |), e1 AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM li a JOIN li b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |), adj AS (
      |  SELECT u AS c, v AS n FROM e1 UNION ALL SELECT v, u FROM e1
      |), capped AS (
      |  SELECT c, n FROM (
      |    SELECT c, n, count(*) OVER (PARTITION BY c) AS deg FROM adj)
      |  WHERE deg <= 64
      |), w AS (
      |  SELECT x.n AS u, y.n AS v
      |  FROM capped x JOIN capped y ON x.c = y.c AND x.n < y.n
      |), cn AS (
      |  SELECT u, v, count(*) AS common_neighbors FROM w GROUP BY u, v
      |)
      |SELECT CAST(cn.u AS BIGINT) AS part_a, CAST(cn.v AS BIGINT) AS part_b,
      |  cn.common_neighbors
      |FROM cn
      |WHERE NOT EXISTS (SELECT 1 FROM e1 WHERE e1.u = cn.u AND e1.v = cn.v)
      |  AND cn.common_neighbors >= 3
      |ORDER BY cn.common_neighbors DESC, part_a, part_b LIMIT 100""".stripMargin

  /** q116 — market-basket lift ("frequently bought together"):
    * order-level part pairs scored by lift = P(x,y)/(P(x)·P(y)), carried
    * as an exact integer ppm like q110's PMI. Pair generation is a
    * self-equality-join on the order key — per-order item counts are
    * small constants in this schema, so the expansion is bounded per
    * order and never quadratic in the catalog; frequencies join back on
    * the part key (plain hash joins), and the grand total rides a
    * one-row cross join, the InjectRuntimeFilter shape. Top 200 under a
    * total (lift DESC, pair) order.
    */
  def basketLift(s: SparkSession, d: String, minSup: Long = 2): DataFrame = {
    // the distinct item set feeds pair generation AND both frequency
    // joins — persist it, or the lineitem scan + distinct runs 3×
    val items = CacheScope.persisted(
      t(s, d, "lineitem")
        .select(col("l_orderkey").as("okey"), col("l_partkey").as("pkey"))
        .distinct())
    val n = items.select("okey").distinct().agg(count(lit(1)).as("n_orders"))
    val freq = items.groupBy("pkey").agg(count(lit(1)).as("c"))
    val pairs = items.as("a").join(items.as("b"),
        col("a.okey") === col("b.okey") && col("a.pkey") < col("b.pkey"))
      .groupBy(col("a.pkey").as("p1"), col("b.pkey").as("p2"))
      .agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= minSup)
    pairs
      .join(freq.select(col("pkey").as("p1"), col("c").as("c_x")), "p1")
      .join(freq.select(col("pkey").as("p2"), col("c").as("c_y")), "p2")
      .crossJoin(broadcast(n))
      .select(col("p1"), col("p2"), col("c_xy"), col("c_x"), col("c_y"),
        // DECIMAL(38,0) carrier: see q110 — c_xy*n_orders*10^6 wraps BIGINT
        // at large-corpus order counts; HUGEINT mirrors it in the oracle
        expr("CAST(c_xy AS DECIMAL(38,0)) * n_orders * 1000000 div (c_x * c_y)")
          .as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("p1"), col("p2")).limit(200)
  }

  val basketLiftOracle: String =
    """WITH items AS (
      |  SELECT DISTINCT l_orderkey AS okey, l_partkey AS pkey FROM lineitem
      |), n AS (
      |  SELECT count(DISTINCT okey) AS n_orders FROM items
      |), freq AS (
      |  SELECT pkey, count(*) AS c FROM items GROUP BY 1
      |), pairs AS (
      |  SELECT a.pkey AS p1, b.pkey AS p2, count(*) AS c_xy
      |  FROM items a JOIN items b ON a.okey = b.okey AND a.pkey < b.pkey
      |  GROUP BY 1, 2
      |  HAVING count(*) >= 2
      |)
      |SELECT p.p1, p.p2, p.c_xy, fx.c AS c_x, fy.c AS c_y,
      |  CAST((CAST(p.c_xy AS HUGEINT) * n.n_orders * 1000000) // (fx.c * fy.c) AS BIGINT) AS lift_ppm
      |FROM pairs p
      |JOIN freq fx ON fx.pkey = p.p1
      |JOIN freq fy ON fy.pkey = p.p2
      |CROSS JOIN n
      |ORDER BY lift_ppm DESC, p.p1, p.p2 LIMIT 200""".stripMargin

  /** q117 — lag-k autocorrelation of the daily-revenue series (ACF up to
    * lag 7), the time-series diagnostic behind seasonality detection and
    * forecasting-feature pipelines. Engine-exactness discipline (the
    * q107 moment device, extended to two-series covariance): daily
    * revenue is integerized to exact k$ units (`cents div 100000` — floor
    * of an exact DECIMAL, the tie-free integerizer), all five moment
    * sums stay in BIGINT, and the Pearson ratio is assembled from them
    * in one fixed expression — BIGINT→DOUBLE casts are correctly rounded
    * and sqrt is IEEE-exact, so the UNROUNDED double matches any IEEE
    * engine bit-for-bit. Scale shape: the daily rollup is one
    * map-combinable aggregation to ~thousands of rows; the lag join is a
    * self equality-join on (day+k); the moment pass is one bounded
    * groupBy over maxLag groups.
    */
  def revenueAutocorr(s: SparkSession, d: String, maxLag: Int = 7): DataFrame = {
    // the daily series feeds both sides of the lag join — persist the
    // ~|days| rows rather than re-aggregating the orders scan twice
    val daily = CacheScope.persisted(
      t(s, d, "orders")
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("rev"))
        .select(
          datediff(col("day"), lit("1970-01-01").cast("date"))
            .cast("bigint").as("td"),
          expr("CAST(rev * 100 AS BIGINT) div 100000").as("x")))
    val lags = daily
      .select(col("td"), col("x"),
        explode(sequence(lit(1), lit(maxLag))).as("k"))
      .select((col("td") + col("k")).as("td2"), col("k"), col("x"))
    val pairs = lags.join(
      daily.select(col("td").as("td2"), col("x").as("y")), "td2")
    pairs.groupBy("k")
      .agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        // daily-mass products widen to DECIMAL(38,0) BEFORE the
        // multiply: x scales with corpus revenue per day, so x·y sits
        // at the BIGINT boundary already at ~10¹¹-row scale; cov_num
        // casts back to BIGINT at the END (loud only if the OUTPUT
        // itself is unrepresentable, which is the column's contract)
        sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
        sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"))
      .select(col("k").cast("bigint").as("lag"), col("n"),
        expr("CAST(n * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS BIGINT)")
          .as("cov_num"),
        (expr("CAST(n * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)") /
          (sqrt(expr("CAST(n * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)")) *
            sqrt(expr("CAST(n * syy - CAST(sy AS DECIMAL(38,0)) * sy AS DOUBLE)")))).as("acf"))
      .orderBy("lag")
  }

  val revenueAutocorrOracle: String =
    """WITH daily AS (
      |  SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS td,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) // 100000 AS x
      |  FROM orders GROUP BY 1
      |), lags AS (
      |  SELECT d.td + k.k AS td2, k.k, d.x
      |  FROM daily d CROSS JOIN (SELECT unnest(range(1, 8)) AS k) k
      |), pairs AS (
      |  SELECT l.k, l.x, d2.x AS y FROM lags l JOIN daily d2 ON l.td2 = d2.td
      |), m AS (
      |  SELECT k, count(*) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x * y) AS BIGINT) AS sxy,
      |    CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy
      |  FROM pairs GROUP BY 1
      |)
      |SELECT CAST(k AS BIGINT) AS lag, n, n * sxy - sx * sy AS cov_num,
      |  CAST(n * sxy - sx * sy AS DOUBLE)
      |    / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
      |       * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS acf
      |FROM m ORDER BY lag""".stripMargin

  /** q118 — RFM customer segmentation: recency / frequency / monetary
    * quintile scores per customer, the standard CRM partitioning. The
    * quintile thresholds are ONE exact-percentile aggregation row
    * (12 doubles) broadcast back onto the customer metrics — the q56
    * shape; never a percent_rank window over the customer table, which
    * would globally sort it per metric at scale. Metrics stay exact
    * BIGINTs (epoch days, order counts, cents); only the threshold
    * comparison goes through doubles (exact below 2⁵³), and
    * [[graft.functions.ExactPercentiles]] interpolates bit-identically
    * to DuckDB's quantile_cont (q36/q56 precedent).
    */
  def rfmSegmentation(s: SparkSession, d: String): DataFrame = {
    // per-customer metric rollup feeds the corpus-max scalar, the
    // threshold aggregation, and the scoring pass
    val base = CacheScope.persisted(
      t(s, d, "orders")
        .select(col("o_custkey"),
          datediff(col("o_orderdate").cast("date"),
            lit("1970-01-01").cast("date")).cast("bigint").as("day"),
          graft.functions.Cents.cents(col("o_totalprice"))
            .as("cents"))
        .groupBy("o_custkey")
        .agg(max("day").as("last_day"), count(lit(1)).as("frequency"),
          sum("cents").as("monetary_cents")))
    val mx = base.agg(max("last_day").as("corpus_day"))
    val cust = base.crossJoin(broadcast(mx))
      .select(col("o_custkey"),
        (col("corpus_day") - col("last_day")).as("recency_days"),
        col("frequency"), col("monetary_cents"))
    val qs = Seq(0.2, 0.4, 0.6, 0.8)
    val thr = cust.agg(
      graft.functions.ExactPercentiles
        .percentiles(col("recency_days").cast("double"), qs).as("rq"),
      graft.functions.ExactPercentiles
        .percentiles(col("frequency").cast("double"), qs).as("fq"),
      graft.functions.ExactPercentiles
        .percentiles(col("monetary_cents").cast("double"), qs).as("mq"))
    def scoreUp(m: Column, arr: Column) = // bigger is better
      (lit(1) + (0 to 3).map(i =>
        when(m.cast("double") > arr(i), 1).otherwise(0)).reduce(_ + _))
        .cast("bigint")
    def scoreDown(m: Column, arr: Column) = // smaller is better
      (lit(1) + (0 to 3).map(i =>
        when(m.cast("double") < arr(i), 1).otherwise(0)).reduce(_ + _))
        .cast("bigint")
    cust.crossJoin(broadcast(thr))
      .select(col("o_custkey"), col("recency_days"), col("frequency"),
        col("monetary_cents"),
        scoreDown(col("recency_days"), col("rq")).as("r_score"),
        scoreUp(col("frequency"), col("fq")).as("f_score"),
        scoreUp(col("monetary_cents"), col("mq")).as("m_score"))
      .withColumn("rfm_cell",
        col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
      .orderBy("o_custkey")
  }

  val rfmSegmentationOracle: String =
    """WITH base AS (
      |  SELECT o_custkey,
      |    max(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)))
      |      AS last_day,
      |    count(*) AS frequency,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
      |      AS monetary_cents
      |  FROM orders GROUP BY 1
      |), mx AS (
      |  SELECT max(last_day) AS corpus_day FROM base
      |), c AS (
      |  SELECT o_custkey, corpus_day - last_day AS recency_days,
      |    frequency, monetary_cents
      |  FROM base CROSS JOIN mx
      |), thr AS (
      |  SELECT
      |    quantile_cont(CAST(recency_days AS DOUBLE), 0.2) AS rq1,
      |    quantile_cont(CAST(recency_days AS DOUBLE), 0.4) AS rq2,
      |    quantile_cont(CAST(recency_days AS DOUBLE), 0.6) AS rq3,
      |    quantile_cont(CAST(recency_days AS DOUBLE), 0.8) AS rq4,
      |    quantile_cont(CAST(frequency AS DOUBLE), 0.2) AS fq1,
      |    quantile_cont(CAST(frequency AS DOUBLE), 0.4) AS fq2,
      |    quantile_cont(CAST(frequency AS DOUBLE), 0.6) AS fq3,
      |    quantile_cont(CAST(frequency AS DOUBLE), 0.8) AS fq4,
      |    quantile_cont(CAST(monetary_cents AS DOUBLE), 0.2) AS mq1,
      |    quantile_cont(CAST(monetary_cents AS DOUBLE), 0.4) AS mq2,
      |    quantile_cont(CAST(monetary_cents AS DOUBLE), 0.6) AS mq3,
      |    quantile_cont(CAST(monetary_cents AS DOUBLE), 0.8) AS mq4
      |  FROM c
      |), scored AS (
      |  SELECT c.o_custkey, c.recency_days, c.frequency, c.monetary_cents,
      |    CAST(1 + (CASE WHEN CAST(recency_days AS DOUBLE) < rq1 THEN 1 ELSE 0 END)
      |           + (CASE WHEN CAST(recency_days AS DOUBLE) < rq2 THEN 1 ELSE 0 END)
      |           + (CASE WHEN CAST(recency_days AS DOUBLE) < rq3 THEN 1 ELSE 0 END)
      |           + (CASE WHEN CAST(recency_days AS DOUBLE) < rq4 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS r_score,
      |    CAST(1 + (CASE WHEN CAST(frequency AS DOUBLE) > fq1 THEN 1 ELSE 0 END)
      |           + (CASE WHEN CAST(frequency AS DOUBLE) > fq2 THEN 1 ELSE 0 END)
      |           + (CASE WHEN CAST(frequency AS DOUBLE) > fq3 THEN 1 ELSE 0 END)
      |           + (CASE WHEN CAST(frequency AS DOUBLE) > fq4 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS f_score,
      |    CAST(1 + (CASE WHEN CAST(monetary_cents AS DOUBLE) > mq1 THEN 1 ELSE 0 END)
      |           + (CASE WHEN CAST(monetary_cents AS DOUBLE) > mq2 THEN 1 ELSE 0 END)
      |           + (CASE WHEN CAST(monetary_cents AS DOUBLE) > mq3 THEN 1 ELSE 0 END)
      |           + (CASE WHEN CAST(monetary_cents AS DOUBLE) > mq4 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS m_score
      |  FROM c CROSS JOIN thr
      |)
      |SELECT o_custkey, recency_days, frequency, monetary_cents,
      |  r_score, f_score, m_score,
      |  r_score * 100 + f_score * 10 + m_score AS rfm_cell
      |FROM scored ORDER BY o_custkey""".stripMargin

  /** q119 — user-journey path mining: the most frequent event-type
    * trigrams across per-user ordered event sequences. Built WITHOUT
    * per-user array materialization: events get a per-user rank (one
    * group-sized window), then consecutive steps connect via two
    * equality self-joins on (user, rank±) — after the rank shuffle all
    * three sides co-partition on the user key, so a hot user costs
    * linear work, never a collect_list blowup. The (ts, event_id) sort
    * key is a total order, so ranks — and therefore paths — are
    * deterministic on any engine.
    */
  def eventPathTrigrams(s: SparkSession, d: String, k: Int = 100): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val ranked = CacheScope.persisted(
      Tables.events(s, d).select(col("user_id"), col("event_type"),
          row_number().over(w).as("rn")))
    val paths = ranked.as("a")
      .join(ranked.as("b"), col("a.user_id") === col("b.user_id") &&
        col("b.rn") === col("a.rn") + 1)
      .join(ranked.as("c"), col("a.user_id") === col("c.user_id") &&
        col("c.rn") === col("a.rn") + 2)
      .select(concat_ws(">", col("a.event_type"), col("b.event_type"),
        col("c.event_type")).as("path"))
    paths.groupBy("path").agg(count(lit(1)).as("n_paths"))
      .orderBy(col("n_paths").desc, col("path")).limit(k)
  }

  val eventPathTrigramsOracle: String =
    """WITH r AS (
      |  SELECT user_id, event_type,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM events
      |), p AS (
      |  SELECT a.event_type || '>' || b.event_type || '>' || c.event_type AS path
      |  FROM r a
      |  JOIN r b ON a.user_id = b.user_id AND b.rn = a.rn + 1
      |  JOIN r c ON a.user_id = c.user_id AND c.rn = a.rn + 2
      |)
      |SELECT path, count(*) AS n_paths FROM p GROUP BY 1
      |ORDER BY n_paths DESC, path LIMIT 100""".stripMargin

  /** q120 — Morton z-values for two-dimensional clustering
    * ([[graft.sources.ZOrder]]): the bit-interleave of (customer key,
    * order epoch-day) that `ZOrder.clusterWrite` sorts by. The query
    * puts the bit arithmetic itself under the oracle — five shift-mask
    * spreads per dimension, recomputed bit-for-bit in DuckDB — while
    * ZOrderSpec asserts the layout consequence (both-dimension file
    * skipping) that is the operator's reason to exist.
    */
  def zorderValues(s: SparkSession, d: String): DataFrame = {
    import graft.sources.ZOrder
    t(s, d, "orders")
      .select(col("o_orderkey"),
        col("o_custkey").bitwiseAND(lit(0xFFFFL)).as("ck16"),
        datediff(col("o_orderdate").cast("date"),
          lit("1970-01-01").cast("date")).cast("bigint")
          .bitwiseAND(lit(0xFFFFL)).as("day16"))
      .select(col("o_orderkey"), col("ck16"), col("day16"),
        ZOrder.zValue(col("ck16"), col("day16")).as("zval"))
      .orderBy("o_orderkey")
  }

  val zorderValuesOracle: String =
    """WITH o AS (
      |  SELECT o_orderkey,
      |    CAST(o_custkey AS BIGINT) & 65535 AS ck16,
      |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
      |      & 65535 AS day16
      |  FROM orders
      |), s1 AS (
      |  SELECT o_orderkey, ck16, day16,
      |    (ck16 | (ck16 << 8)) & 16711935 AS a1,
      |    (day16 | (day16 << 8)) & 16711935 AS b1
      |  FROM o
      |), s2 AS (
      |  SELECT *, (a1 | (a1 << 4)) & 252645135 AS a2,
      |            (b1 | (b1 << 4)) & 252645135 AS b2 FROM s1
      |), s3 AS (
      |  SELECT *, (a2 | (a2 << 2)) & 858993459 AS a3,
      |            (b2 | (b2 << 2)) & 858993459 AS b3 FROM s2
      |), s4 AS (
      |  SELECT *, (a3 | (a3 << 1)) & 1431655765 AS a4,
      |            (b3 | (b3 << 1)) & 1431655765 AS b4 FROM s3
      |)
      |SELECT o_orderkey, ck16, day16, a4 | (b4 << 1) AS zval
      |FROM s4 ORDER BY o_orderkey""".stripMargin

  /** q141 — Hilbert-curve indexes for two-dimensional clustering
    * ([[graft.sources.ZOrder.hilbertValue]]): the space-filling curve
    * with no jumps — consecutive indexes are always grid-adjacent, so
    * clustered file boxes are tighter than Morton's on average. As with
    * q120, the query puts the bit transform itself under the oracle:
    * the 8-step reflect/swap fold is replayed CTE-for-CTE in DuckDB,
    * bit-for-bit.
    */
  def hilbertValues(s: SparkSession, d: String): DataFrame = {
    t(s, d, "orders")
      .select(col("o_orderkey"),
        col("o_custkey").bitwiseAND(lit(0xFFL)).as("ck8"),
        datediff(col("o_orderdate").cast("date"),
          lit("1970-01-01").cast("date")).cast("bigint")
          .bitwiseAND(lit(0xFFL)).as("day8"))
      .select(col("o_orderkey"), col("ck8"), col("day8"),
        graft.expressions.HilbertIndex.hilbertIndex(
          col("ck8"), col("day8"), 8).as("hval"))
      .orderBy("o_orderkey")
  }

  val hilbertValuesOracle: String = {
    // the same high-to-low fold, one CTE per bit: extract (rx, ry),
    // accumulate s²·xor(3·rx, ry), conditionally reflect + swap
    val steps = (7 to 0 by -1).zipWithIndex.map { case (b, i) =>
      val s = 1L << b
      val p = if (i == 0) "c0" else s"c$i"
      s"""c${i + 1} AS (
         |  SELECT o_orderkey, ck8, day8,
         |    d + ${s * s} * xor(3 * ((x >> $b) & 1), (y >> $b) & 1) AS d,
         |    CASE WHEN ((y >> $b) & 1) = 0 THEN
         |      CASE WHEN ((x >> $b) & 1) = 1 THEN ${s - 1} - y ELSE y END
         |    ELSE x END AS x,
         |    CASE WHEN ((y >> $b) & 1) = 0 THEN
         |      CASE WHEN ((x >> $b) & 1) = 1 THEN ${s - 1} - x ELSE x END
         |    ELSE y END AS y
         |  FROM $p
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH c0 AS (
       |  SELECT o_orderkey,
       |    CAST(o_custkey AS BIGINT) & 255 AS ck8,
       |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
       |      & 255 AS day8,
       |    CAST(o_custkey AS BIGINT) & 255 AS x,
       |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
       |      & 255 AS y,
       |    CAST(0 AS BIGINT) AS d
       |  FROM orders
       |), $steps
       |SELECT o_orderkey, ck8, day8, d AS hval
       |FROM c8 ORDER BY o_orderkey""".stripMargin
  }

  /** q121 — median-absolute-deviation outlier screen per order priority:
    * the robust complement to q107's z-scores (one corrupt extreme moves
    * a mean/stddev gate; the median/MAD gate shrugs). Two exact-
    * percentile aggregation rows (5 groups each) broadcast back onto the
    * scan — the q56/q118 shape, never a per-group sort — and the
    * 3.5·1.4826·MAD fence is evaluated in doubles whose inputs (exact
    * cents, bit-identical interpolated medians) match any IEEE engine.
    */
  def madOutliers(s: SparkSession, d: String): DataFrame = {
    val cents = CacheScope.persisted(
      t(s, d, "orders").select(col("o_orderpriority").as("prio"),
        graft.functions.Cents.cents(col("o_totalprice"))
          .as("cents")))
    val med = cents.groupBy("prio").agg(
      graft.functions.ExactPercentiles
        .percentiles(col("cents").cast("double"), Seq(0.5)).as("m"))
      .select(col("prio"), col("m")(0).as("med"))
    val dev = cents.join(broadcast(med), "prio")
      .withColumn("adev", abs(col("cents").cast("double") - col("med")))
    val mad = dev.groupBy("prio").agg(
      graft.functions.ExactPercentiles
        .percentiles(col("adev"), Seq(0.5)).as("m"))
      .select(col("prio"), col("m")(0).as("mad"))
    dev.join(broadcast(mad), "prio")
      .groupBy("prio")
      .agg(min("med").as("med"), min("mad").as("mad"),
        count(lit(1)).as("n"),
        sum(when(col("adev") > lit(3.5) * lit(1.4826) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .orderBy("prio")
  }

  val madOutliersOracle: String =
    """WITH c AS (
      |  SELECT o_orderpriority AS prio,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM orders
      |), med AS (
      |  SELECT prio, quantile_cont(CAST(cents AS DOUBLE), 0.5) AS med
      |  FROM c GROUP BY 1
      |), dev AS (
      |  SELECT c.prio, c.cents, med.med,
      |    abs(CAST(c.cents AS DOUBLE) - med.med) AS adev
      |  FROM c JOIN med ON c.prio = med.prio
      |), mad AS (
      |  SELECT prio, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY 1
      |)
      |SELECT d.prio, min(d.med) AS med, min(m.mad) AS mad,
      |  count(*) AS n,
      |  CAST(sum(CASE WHEN d.adev > 3.5 * 1.4826 * m.mad THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_outliers
      |FROM dev d JOIN mad m ON d.prio = m.prio
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q122 — mergeable histogram quantile sketch
    * ([[graft.functions.HistogramSketch]]) audited against exact
    * percentiles: a 256-bin integer histogram of order cents estimates
    * p50/p90/p99, and the oracle hash-verifies the estimates, the bin
    * width, the exact interpolated percentiles, AND the absolute error
    * between them (bit-stable: every input to the subtraction is either
    * an exact BIGINT or a bit-identical quantile_cont double). The
    * [min, max] domain scalars are one bounded aggregate row — the
    * watermark-read shape.
    */
  def histogramQuantiles(s: SparkSession, d: String): DataFrame = {
    val cents = CacheScope.persisted(
      t(s, d, "orders").select(
        graft.functions.Cents.cents(col("o_totalprice"))
          .as("cents")))
    val r = cents.agg(min("cents"), max("cents")).head()
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    val est = graft.functions.HistogramSketch.quantiles(
      graft.functions.HistogramSketch.sketch(cents, "cents", 256, lo, hi),
      Seq(500, 900, 990), 256, lo, hi)
    val exact = cents.agg(graft.functions.ExactPercentiles
        .percentiles(col("cents").cast("double"), Seq(0.5, 0.9, 0.99)).as("p"))
      .select(explode(array(
        struct(lit(500L).as("q_permille"), col("p")(0).as("exact")),
        struct(lit(900L).as("q_permille"), col("p")(1).as("exact")),
        struct(lit(990L).as("q_permille"), col("p")(2).as("exact")))))
      .select(col("col.q_permille"), col("col.exact"))
    est.join(broadcast(exact), "q_permille")
      .select(col("q_permille"), col("est_hi"), col("bin_width"), col("exact"),
        abs(col("est_hi").cast("double") - col("exact")).as("abs_err"))
      .orderBy("q_permille")
  }

  val histogramQuantilesOracle: String =
    """WITH c AS (
      |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |    AS cents FROM orders
      |), r AS (
      |  SELECT min(cents) AS lo, max(cents) AS hi FROM c
      |), b AS (
      |  SELECT ((cents - lo) * 256) // (hi - lo + 1) AS bin
      |  FROM c CROSS JOIN r
      |), sk AS (
      |  SELECT bin, count(*) AS cnt FROM b GROUP BY 1
      |), cum AS (
      |  SELECT bin, sum(cnt) OVER (ORDER BY bin) AS cum,
      |    (SELECT sum(cnt) FROM sk) AS n
      |  FROM sk
      |), qs AS (
      |  SELECT CAST(unnest([500, 900, 990]) AS BIGINT) AS q_permille
      |), est AS (
      |  SELECT q.q_permille, min(c2.bin) AS bin
      |  FROM qs q JOIN cum c2 ON c2.cum * 1000 >= q.q_permille * c2.n
      |  GROUP BY 1
      |), ex AS (
      |  SELECT CAST(500 AS BIGINT) AS q_permille,
      |    quantile_cont(CAST(cents AS DOUBLE), 0.5) AS exact FROM c
      |  UNION ALL SELECT 900, quantile_cont(CAST(cents AS DOUBLE), 0.9) FROM c
      |  UNION ALL SELECT 990, quantile_cont(CAST(cents AS DOUBLE), 0.99) FROM c
      |)
      |SELECT e.q_permille,
      |  r.lo + ((e.bin + 1) * (r.hi - r.lo + 1) + 255) // 256 - 1 AS est_hi,
      |  (r.hi - r.lo + 1) // 256 + 1 AS bin_width,
      |  x.exact,
      |  abs(CAST(r.lo + ((e.bin + 1) * (r.hi - r.lo + 1) + 255) // 256 - 1
      |        AS DOUBLE)
      |      - x.exact) AS abs_err
      |FROM est e JOIN ex x ON e.q_permille = x.q_permille CROSS JOIN r
      |ORDER BY e.q_permille""".stripMargin

  /** q125 — personalized PageRank from nation-0's customer base over the
    * q76 co-purchase graph ([[graft.operators.PageRank.personalizedRanks]]):
    * proximity-to-the-cohort relevance, the graph-feature analog of
    * q108's hop distances (hops count, PPR weighs). Long node ids
    * through the iterations, names restored at the end, ppm rounding —
    * all the q76 conventions; the oracle unrolls the same three
    * seed-restart rounds.
    */
  def personalizedPageRank(s: SparkSession, d: String): DataFrame = {
    val edges = t(s, d, "orders").join(t(s, d, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
    val seeds = t(s, d, "customer").filter(col("c_nationkey") === 0)
      .select((col("c_custkey") * 2).as("sid"))
    graft.operators.PageRank.personalizedRanks(edges, "src", "dst",
        seeds, "sid", iters = 3, damping = 0.85)
      .select(
        when(col("id") % 2 === 0, concat(lit("c"), (col("id") / 2).cast("bigint")))
          .otherwise(concat(lit("s"), ((col("id") - 1) / 2).cast("bigint")))
          .as("id"),
        round(col("rank") * 1000, 6).as("rank_pm"))
      .orderBy("id")
  }

  val personalizedPageRankOracle: String = {
    def round(k: Int): String =
      s"""c$k AS (
         |  SELECT s.dst AS id, sum(r.rank / d.outdeg) AS c
         |  FROM sym s JOIN deg d ON s.src = d.src
         |  JOIN r${k - 1} r ON r.id = s.src
         |  GROUP BY s.dst
         |), r$k AS (
         |  SELECT sf.id,
         |    (CASE WHEN sf.is_seed
         |          THEN CAST(0.15 AS DOUBLE) / (SELECT ns FROM ns)
         |          ELSE CAST(0 AS DOUBLE) END)
         |    + CAST(0.85 AS DOUBLE) * coalesce(c$k.c, 0) AS rank
         |  FROM sf LEFT JOIN c$k USING (id)
         |)""".stripMargin
    s"""WITH e0 AS (
       |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
       |    's' || CAST(l_suppkey AS VARCHAR) AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |), sym AS (
       |  SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0
       |), deg AS (
       |  SELECT src, count(*) AS outdeg FROM sym GROUP BY src
       |), sd AS (
       |  SELECT DISTINCT 'c' || CAST(c_custkey AS VARCHAR) AS id
       |  FROM customer WHERE c_nationkey = 0
       |), sf AS (
       |  SELECT deg.src AS id, sd.id IS NOT NULL AS is_seed
       |  FROM deg LEFT JOIN sd ON deg.src = sd.id
       |), ns AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS ns FROM sf WHERE is_seed
       |), r0 AS (
       |  SELECT id, CASE WHEN is_seed
       |    THEN CAST(1.0 AS DOUBLE) / (SELECT ns FROM ns)
       |    ELSE CAST(0 AS DOUBLE) END AS rank
       |  FROM sf
       |), ${round(1)}, ${round(2)}, ${round(3)}
       |SELECT id, round(rank * 1000, 6) AS rank_pm FROM r3 ORDER BY id""".stripMargin
  }

  /** q126 — weighted shortest paths
    * ([[graft.operators.ShortestPaths.weightedDistances]]) over the
    * customer–supplier graph with TIE-STRENGTH distances: an edge's
    * weight is `1000 div cnt + 1` (heavily co-purchased pairs are
    * "close"), so the result reads "cheapest trust path from nation 0's
    * customers". Three min-plus relaxation rounds, exact BIGINT
    * distances, q76's long-id convention; the oracle unrolls the same
    * three rounds as chained min-merges with `+ w`.
    */
  def weightedPaths(s: SparkSession, d: String): DataFrame = {
    val pair = t(s, d, "orders").join(t(s, d, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy((col("o_custkey") * 2).as("a"),
        (col("l_suppkey") * 2 + 1).as("b"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("a"), col("b"), (expr("1000 div cnt") + 1).as("w"))
    // symmetrize by EXPLODING both directions out of one pass: the
    // union-of-two-selects form re-executes the orders⋈lineitem join +
    // pair aggregate once per branch (measured ~6 task-CPU-s doubled)
    val edges = pair.select(explode(array(
        struct(col("a").as("src"), col("b").as("dst"), col("w")),
        struct(col("b").as("src"), col("a").as("dst"), col("w")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.w").as("w"))
    val sources = t(s, d, "customer").filter(col("c_nationkey") === 0)
      .select((col("c_custkey") * 2).as("sid"))
    // the pair aggregate above already made (a, b) unique and the
    // bipartite explode cannot collide orientations (r16) — the
    // operator's 2|E| lightest-edge collapse would merge nothing
    graft.operators.ShortestPaths.weightedDistances(
        edges, "src", "dst", "w", sources, "sid", rounds = 3,
        edgesLightest = true)
      .select(
        when(col("id") % 2 === 0, concat(lit("c"), (col("id") / 2).cast("bigint")))
          .otherwise(concat(lit("s"), ((col("id") - 1) / 2).cast("bigint")))
          .as("id"),
        col("dist"))
      .orderBy("id")
  }

  val weightedPathsOracle: String = {
    def step(k: Int): String =
      s"""d$k AS (
         |  SELECT id, min(dist) AS dist FROM (
         |    SELECT id, dist FROM d${k - 1}
         |    UNION ALL
         |    SELECT e.dst AS id, p.dist + e.w
         |    FROM d${k - 1} p JOIN e ON e.src = p.id
         |  ) GROUP BY id
         |)""".stripMargin
    s"""WITH pair AS (
       |  SELECT 'c' || CAST(o_custkey AS VARCHAR) AS a,
       |    's' || CAST(l_suppkey AS VARCHAR) AS b,
       |    count(*) AS cnt
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |  GROUP BY 1, 2
       |), pw AS (
       |  SELECT a, b, 1000 // cnt + 1 AS w FROM pair
       |), e AS (
       |  SELECT a AS src, b AS dst, w FROM pw
       |  UNION ALL SELECT b, a, w FROM pw
       |), d0 AS (
       |  SELECT DISTINCT 'c' || CAST(c_custkey AS VARCHAR) AS id,
       |    CAST(0 AS BIGINT) AS dist
       |  FROM customer WHERE c_nationkey = 0
       |), ${step(1)}, ${step(2)}, ${step(3)}
       |SELECT id, CAST(dist AS BIGINT) AS dist FROM d3 ORDER BY id""".stripMargin
  }

  /** q127 — CUSUM change-point scan over the daily-revenue series: the
    * classic "did the level shift, and when" diagnostic (Page 1954).
    * Mean-removal stays integer by scaling: the excursion is
    * `D_t = Σ_{i≤t} (n·x_i − T)` with `T = Σx` — n·x−T sums to zero over
    * the whole series, so |D_t| peaks at the most likely change point.
    * Everything is exact BIGINT (x in k$ units, the q117 integerizer);
    * the running sum is a window over the DAY-DOMAIN-bounded daily
    * table (the q122/q123 bounded-window argument), and the top-10
    * excursions come out under a total (|D| DESC, day) order.
    */
  def cusumChangepoint(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = CacheScope.persisted(
      t(s, d, "orders")
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("rev"))
        .select(
          datediff(col("day"), lit("1970-01-01").cast("date"))
            .cast("bigint").as("td"),
          expr("CAST(rev * 100 AS BIGINT) div 100000").as("x")))
    val tot = daily.agg(count(lit(1)).as("n"), sum("x").as("t"))
    val w = Window.orderBy("td").rowsBetween(Window.unboundedPreceding, 0)
    daily.crossJoin(broadcast(tot))
      .withColumn("d_t", sum(col("n") * col("x") - col("t")).over(w))
      .select(col("td"), col("x"), col("d_t"), abs(col("d_t")).as("excursion"))
      .orderBy(col("excursion").desc, col("td")).limit(10)
  }

  val cusumChangepointOracle: String =
    """WITH daily AS (
      |  SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS td,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) // 100000 AS x
      |  FROM orders GROUP BY 1
      |), tot AS (
      |  SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS t FROM daily
      |), c AS (
      |  SELECT td, x,
      |    CAST(sum(n * x - t) OVER (ORDER BY td
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS d_t
      |  FROM daily CROSS JOIN tot
      |)
      |SELECT td, x, d_t, abs(d_t) AS excursion
      |FROM c ORDER BY excursion DESC, td LIMIT 10""".stripMargin

  /** q128 — Benford first-digit screen over order amounts: the
    * fraud/data-quality detector comparing the leading-digit histogram
    * to Benford's law (Newcomb 1881, Benford 1938). The nine expected
    * proportions log₁₀(1+1/d) are public constants hardcoded in ppm on
    * BOTH sides — no runtime log, so every column is an exact integer.
    * One map-combinable digit histogram (9 rows) and a broadcast total;
    * the fixture's bounded uniform-ish prices deviate from Benford
    * hard, which is exactly what the screen should report.
    */
  def benfordDigits(s: SparkSession, d: String): DataFrame = {
    val benford = Seq(1 -> 301030L, 2 -> 176091L, 3 -> 124939L,
      4 -> 96910L, 5 -> 79181L, 6 -> 66947L, 7 -> 57992L, 8 -> 51153L,
      9 -> 45757L)
    val expected = benford.map { case (dig, ppm) =>
      when(col("digit") === dig, ppm)
    }.reduceRight((a, b) => a.otherwise(b)) // right-assoc: one otherwise per when
    // the 9-row histogram feeds both the output and the grand total
    val digits = CacheScope.persisted(
      t(s, d, "orders")
        .select(substring(
          graft.functions.Cents.cents(col("o_totalprice"))
            .cast("string"), 1, 1).cast("bigint").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("cnt")))
    digits.crossJoin(broadcast(digits.agg(sum("cnt").as("total"))))
      .select(col("digit"), col("cnt"),
        expr("(cnt * 1000000) div total").as("observed_ppm"),
        expected.cast("bigint").as("benford_ppm"))
      .withColumn("deviation_ppm",
        abs(col("observed_ppm") - col("benford_ppm")))
      .orderBy("digit")
  }

  val benfordDigitsOracle: String =
    """WITH d AS (
      |  SELECT CAST(substr(CAST(
      |      CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |    AS VARCHAR), 1, 1) AS BIGINT) AS digit
      |  FROM orders
      |), h AS (
      |  SELECT digit, count(*) AS cnt FROM d GROUP BY 1
      |), t AS (
      |  SELECT CAST(sum(cnt) AS BIGINT) AS total FROM h
      |)
      |SELECT h.digit, h.cnt,
      |  (h.cnt * 1000000) // t.total AS observed_ppm,
      |  CAST(CASE h.digit WHEN 1 THEN 301030 WHEN 2 THEN 176091
      |    WHEN 3 THEN 124939 WHEN 4 THEN 96910 WHEN 5 THEN 79181
      |    WHEN 6 THEN 66947 WHEN 7 THEN 57992 WHEN 8 THEN 51153
      |    WHEN 9 THEN 45757 END AS BIGINT) AS benford_ppm,
      |  abs((h.cnt * 1000000) // t.total
      |    - CAST(CASE h.digit WHEN 1 THEN 301030 WHEN 2 THEN 176091
      |        WHEN 3 THEN 124939 WHEN 4 THEN 96910 WHEN 5 THEN 79181
      |        WHEN 6 THEN 66947 WHEN 7 THEN 57992 WHEN 8 THEN 51153
      |        WHEN 9 THEN 45757 END AS BIGINT)) AS deviation_ppm
      |FROM h CROSS JOIN t
      |ORDER BY h.digit""".stripMargin

  /** q132 — sequence islands-and-gaps over the order-key space: the
    * contiguous runs of present keys (and, implicitly, every hole
    * between them) — the standard "did ingestion drop a range"
    * diagnostic. The fixture's keys are dense, so holes are planted
    * in-query (every key ≡ 37..41 mod 100 "failed to ingest" — the
    * planted-pattern convention q21/q31 use for dups): the detector
    * must recover exactly those dropped ranges. The classic
    * `k − row_number()` trick needs a GLOBAL rank — here it rides the
    * bucketed distributed [[graft.operators.PrefixSum]] (one pass +
    * broadcast bucket offsets), never a single-partition window; the
    * island grouping that follows is an ordinary map-combinable
    * aggregate on the constant `k − rank` run id.
    */
  def sequenceGaps(s: SparkSession, d: String): DataFrame = {
    val keys = t(s, d, "orders").select(col("o_orderkey").as("k"))
      .filter(col("k") % 100 < 37 || col("k") % 100 > 41).distinct()
    val ranked = graft.operators.PrefixSum.exclusiveRunningTotal(
      keys, Seq(col("k")), lit(1L), "rn")
    ranked.groupBy((col("k") - col("rn")).as("island"))
      .agg(min("k").as("start_key"), max("k").as("end_key"),
        count(lit(1)).as("run_length"))
      .select("start_key", "end_key", "run_length")
      .orderBy("start_key")
  }

  val sequenceGapsOracle: String =
    """WITH keys AS (
      |  SELECT DISTINCT o_orderkey AS k FROM orders
      |  WHERE o_orderkey % 100 < 37 OR o_orderkey % 100 > 41
      |), r AS (
      |  SELECT k, row_number() OVER (ORDER BY k) - 1 AS rn FROM keys
      |)
      |SELECT min(k) AS start_key, max(k) AS end_key, count(*) AS run_length
      |FROM r GROUP BY k - rn ORDER BY start_key""".stripMargin

  /** q138 — snapshot diff / table reconciliation: classify every
    * business key across two table snapshots as added, removed, changed,
    * or unchanged — the audit a versioned pipeline runs between loads
    * (the CDF-consumer's batch analog, and the "automated tests for
    * duplicates / referential integrity" family the reference's docs
    * declare, /root/reference/bronze_silver_gold/readme.md:97). The
    * second snapshot is derived deterministically from the first
    * (mod-key updates, drops, and key-shifted inserts), the comparison
    * is ONE full-outer join on the key — no per-class rescans — and
    * change detection compares exact DECIMAL values. Output is the
    * per-segment × class count matrix.
    */
  def snapshotDiff(s: SparkSession, d: String): DataFrame = {
    val oldS = t(s, d, "customer").select(col("c_custkey").as("k"),
      col("c_mktsegment").as("seg"),
      expr("CAST(c_acctbal AS DECIMAL(18,2))").as("bal"))
    val newS = oldS.filter(col("k") % 13 =!= 0)
      .select(col("k"), col("seg"),
        when(col("k") % 10 === 0, col("bal") * 2).otherwise(col("bal")).as("bal"))
      .unionByName(oldS.filter(col("k") % 17 === 0)
        .select((col("k") + 100000L).as("k"), col("seg"), col("bal")))
    val o = oldS.as("o"); val n = newS.as("n")
    o.join(n, col("o.k") === col("n.k"), "full_outer")
      .select(coalesce(col("o.seg"), col("n.seg")).as("seg"),
        when(col("n.k").isNull, "removed")
          .when(col("o.k").isNull, "added")
          .when(col("o.bal") =!= col("n.bal"), "changed")
          .otherwise("unchanged").as("class"))
      .groupBy("seg", "class").agg(count(lit(1)).as("n_keys"))
      .orderBy("seg", "class")
  }

  val snapshotDiffOracle: String =
    """WITH old_s AS (
      |  SELECT c_custkey AS k, c_mktsegment AS seg,
      |    CAST(c_acctbal AS DECIMAL(18,2)) AS bal
      |  FROM customer
      |), new_s AS (
      |  SELECT k, seg,
      |    CASE WHEN k % 10 = 0 THEN bal * 2 ELSE bal END AS bal
      |  FROM old_s WHERE k % 13 <> 0
      |  UNION ALL
      |  SELECT k + 100000 AS k, seg, bal FROM old_s WHERE k % 17 = 0
      |)
      |SELECT COALESCE(o.seg, n.seg) AS seg,
      |  CASE WHEN n.k IS NULL THEN 'removed'
      |       WHEN o.k IS NULL THEN 'added'
      |       WHEN o.bal <> n.bal THEN 'changed'
      |       ELSE 'unchanged' END AS class,
      |  CAST(COUNT(*) AS BIGINT) AS n_keys
      |FROM old_s o FULL OUTER JOIN new_s n ON o.k = n.k
      |GROUP BY 1, 2 ORDER BY seg, class""".stripMargin

  /** q139 — bounded k-core of the part co-purchase graph
    * ([[graft.operators.KCore]]): peel nodes with < 3 surviving
    * co-purchase partners for 6 synchronous rounds — the graph-density
    * screen separating structurally-embedded parts from pendant noise.
    * Rounds are bounded (the q126 bounded-Bellman–Ford convention), so
    * the DuckDB oracle unrolls the IDENTICAL six peels — equality holds
    * whether or not the fixpoint arrives early, because both engines run
    * the same rounds.
    */
  def kcoreParts(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem").select("l_orderkey", "l_partkey")
      .filter(col("l_partkey") % 4 === 0)
    val edges = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("pa"), col("b.l_partkey").as("pb"))
    graft.operators.KCore.core(edges, "pa", "pb", k = 3, rounds = 6)
      .select(col("n").as("part_id"), col("core_degree"))
      .orderBy("part_id")
  }

  val kcorePartsOracle: String = {
    // six unrolled peel rounds: keep_i = degree-filtered survivors of
    // e_{i-1}; e_i = e_{i-1} restricted to keep_i on both endpoints.
    // MATERIALIZED is load-bearing: each round reads its predecessor ~5
    // times, so inlined CTEs re-derive e0 5^6 times (measured: DuckDB
    // exhausts file handles re-opening the parquet)
    val rounds = (1 to 6).map { i =>
      s"""k$i AS MATERIALIZED (
         |  SELECT n FROM (
         |    SELECT u AS n FROM e${i - 1} UNION ALL SELECT v FROM e${i - 1}
         |  ) GROUP BY n HAVING COUNT(*) >= 3
         |), e$i AS MATERIALIZED (
         |  SELECT e.u, e.v FROM e${i - 1} e
         |  JOIN k$i a ON e.u = a.n JOIN k$i b ON e.v = b.n
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH li AS (
       |  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 4 = 0
       |), e0 AS MATERIALIZED (
       |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
       |  FROM li a JOIN li b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |), $rounds
       |SELECT n AS part_id, CAST(COUNT(*) AS BIGINT) AS core_degree
       |FROM (SELECT u AS n FROM e6 UNION ALL SELECT v FROM e6)
       |GROUP BY n ORDER BY part_id""".stripMargin
  }

  /** q140 — exact weighted median per group: the quantity-weighted
    * median line price per order priority. The weighted analog of the
    * q36/q121 exact-percentile family: per-(group, value) weights are
    * ONE map-combinable aggregation (rows bounded by the value domain,
    * never the data), the cumulative weight runs over that bounded
    * table, and the median is the smallest value whose doubled
    * cumulative weight reaches the total — all exact BIGINT cents, no
    * interpolation, bit-stable on any engine.
    */
  def weightedMedian(s: SparkSession, d: String): DataFrame = {
    val byValue = t(s, d, "lineitem").groupBy(
        col("l_returnflag").as("grp"),
        graft.functions.Cents.cents(col("l_extendedprice"))
          .as("cents"))
      .agg(sum(expr("CAST(l_quantity AS BIGINT)")).as("w"))
    // the weighted median IS a rank-row selection: the smallest value
    // whose doubled cumulative weight reaches the total is the row
    // straddling k = ceil(tw/2) (for positive integer weights,
    // 2·cw ≥ tw ⇔ cw ≥ (tw+1) div 2). groupedRankRow finds it from
    // bounded bucket offsets plus a cut-bucket-only window — the
    // previous per-group window ran the ENTIRE per-group price domain
    // through ONE window partition (a value-domain-sized funnel at
    // scale, and this query's dominant cost at bench scale).
    graft.operators.PrefixSum.groupedRankRow(
        byValue, Seq("grp"), col("cents"), col("w"),
        measures = Seq.empty,
        kSql = "CAST((total_cnt + 1) div 2 AS BIGINT)",
        broadcastCuts = true) // grp: a literal 3-value domain
      .select(col("grp"), col("cut").as("median_cents"),
        col("total_cnt").cast("bigint").as("total_weight"))
      .orderBy("grp")
  }

  val weightedMedianOracle: String =
    """WITH bv AS (
      |  SELECT l_returnflag AS grp,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
      |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
      |  FROM lineitem GROUP BY 1, 2
      |), c AS (
      |  SELECT grp, cents, SUM(w) OVER (PARTITION BY grp ORDER BY cents
      |    ROWS UNBOUNDED PRECEDING) AS cw,
      |    SUM(w) OVER (PARTITION BY grp) AS tw
      |  FROM bv
      |)
      |SELECT grp, CAST(MIN(cents) AS BIGINT) AS median_cents,
      |  CAST(MAX(tw) AS BIGINT) AS total_weight
      |FROM c WHERE cw * 2 >= tw GROUP BY grp ORDER BY grp""".stripMargin

  /** q133 — 3-dimensional Morton z-values
    * ([[graft.sources.ZOrder.zValue3]]): the (customer, supplier, day)
    * interleave a tenant × entity × time layout clusters on. As with
    * q120, the query puts the 3-way shift-mask bit arithmetic itself
    * under the oracle, recomputed bit-for-bit in DuckDB from lineitem's
    * join keys.
    */
  def zorder3Values(s: SparkSession, d: String): DataFrame = {
    import graft.sources.ZOrder
    t(s, d, "lineitem")
      .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_linenumber"),
        col("o_custkey").bitwiseAND(lit(0x3FFL)).as("ck10"),
        col("l_suppkey").bitwiseAND(lit(0x3FFL)).as("sk10"),
        datediff(col("o_orderdate").cast("date"),
          lit("1970-01-01").cast("date")).cast("bigint")
          .bitwiseAND(lit(0x3FFL)).as("day10"))
      .select(col("l_orderkey"), col("l_linenumber"), col("ck10"),
        col("sk10"), col("day10"),
        ZOrder.zValue3(col("ck10"), col("sk10"), col("day10")).as("zval"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  val zorder3ValuesOracle: String = {
    // three 4-stage shift-mask spreads share one CTE template; each
    // dimension's chain reads the previous dimension's last stage
    val dims = Seq("ck10" -> "a", "sk10" -> "b", "day10" -> "c")
    val stages = dims.map { case (src, o) =>
      s"""s$o AS (
         |  SELECT *, (($src | ($src << 16)) & 50331903) AS ${o}1
         |  FROM __IN_$o
         |), t$o AS (
         |  SELECT *, ((${o}1 | (${o}1 << 8)) & 50393103) AS ${o}2 FROM s$o
         |), u$o AS (
         |  SELECT *, ((${o}2 | (${o}2 << 4)) & 51130563) AS ${o}3 FROM t$o
         |), v$o AS (
         |  SELECT *, ((${o}3 | (${o}3 << 2)) & 153391689) AS ${o}4 FROM u$o
         |)""".stripMargin
    }
    val chain = stages.mkString(", ")
      .replace("__IN_a", "base").replace("__IN_b", "va").replace("__IN_c", "vb")
    s"""WITH base AS (
       |  SELECT l_orderkey, l_linenumber,
       |    CAST(o_custkey AS BIGINT) & 1023 AS ck10,
       |    CAST(l_suppkey AS BIGINT) & 1023 AS sk10,
       |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
       |      & 1023 AS day10
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |), $chain
       |SELECT l_orderkey, l_linenumber, ck10, sk10, day10,
       |  a4 | (b4 << 1) | (c4 << 2) AS zval
       |FROM vc ORDER BY l_orderkey, l_linenumber""".stripMargin
  }

  /** q154 — Mann-Whitney U (Wilcoxon rank-sum) comparing purchase vs
    * view event values: the NONPARAMETRIC two-sample location test, the
    * standard drift check when distributions are skewed and a mean-based
    * z-test misleads (complements q135's KS, which tests shape). Exact
    * integers throughout: tie groups get average ranks DOUBLED
    * (2·avg_rank = 2·first_rank + cnt − 1 — integer even for half-step
    * averages), U₁ doubles with them, and the effect size is emitted as
    * AUC ppm (U₁/(n₁n₂) is exactly P(X>Y) + ½P(X=Y), the
    * probability-of-superiority reading of U).
    *
    * Scale shape: one map-combinable by-value aggregate, the rank prefix
    * over it via the bucketed [[graft.operators.PrefixSum]] (event
    * values are continuous, so the by-value table scales with data — a
    * naive global rank window would single-partition it), and a scalar
    * fold. Sums ride DECIMAL(38,0) (rank·count products wrap BIGINT at
    * billions of rows), cast to BIGINT in the final projection.
    */
  def mannWhitney(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
      .filter(col("event_type").isin("purchase", "view"))
      .select(col("event_type"), col("value"))
    val byVal = ev.groupBy("value").agg(
      count(lit(1)).as("cnt"),
      sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("cnt1"))
    val ranked = graft.operators.PrefixSum.exclusiveRunningTotal(
        byVal, Seq(col("value")), col("cnt"), "before")
      .withColumn("r2", lit(2) * (col("before") + 1) + col("cnt") - 1)
    ranked.agg(
        sum(col("cnt1")).as("n1"),
        sum(col("cnt") - col("cnt1")).as("n2"),
        // decimal cast on the rank factor BEFORE the multiply: ranks
        // run to 2n, so the long product overflows BIGINT past ~2e9
        // rows (the q156 ceiling) where the widened form stays exact
        sum(col("r2").cast("decimal(38,0)") * col("cnt1")).as("r1_2x"))
      .select(col("n1").cast("bigint").as("n1"),
        col("n2").cast("bigint").as("n2"),
        expr("CAST(r1_2x - CAST(n1 AS DECIMAL(38,0)) * (n1 + 1) AS BIGINT)")
          .as("u1_2x"),
        expr("CAST(CAST(2 AS DECIMAL(38,0)) * n1 * n2 - (r1_2x - CAST(n1 AS DECIMAL(38,0)) * (n1 + 1)) AS BIGINT)")
          .as("u2_2x"),
        expr("CAST((r1_2x - CAST(n1 AS DECIMAL(38,0)) * (n1 + 1)) * 500000 div (CAST(n1 AS DECIMAL(38,0)) * n2) AS BIGINT)")
          .as("auc_ppm"))
  }

  val mannWhitneyOracle: String =
    """WITH s AS (
      |  SELECT event_type, value FROM events
      |  WHERE event_type IN ('purchase', 'view')
      |), bv AS (
      |  SELECT value, count(*) AS cnt,
      |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS cnt1
      |  FROM s GROUP BY value
      |), r AS (
      |  SELECT cnt, cnt1,
      |    2 * (coalesce(sum(cnt) OVER (ORDER BY value
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1)
      |      + cnt - 1 AS r2
      |  FROM bv
      |), a AS (
      |  SELECT CAST(sum(cnt1) AS BIGINT) AS n1,
      |    CAST(sum(cnt - cnt1) AS BIGINT) AS n2,
      |    CAST(sum(r2 * cnt1) AS HUGEINT) AS r1_2x
      |  FROM r
      |)
      |SELECT n1, n2,
      |  CAST(r1_2x - CAST(n1 AS HUGEINT) * (n1 + 1) AS BIGINT) AS u1_2x,
      |  CAST(CAST(2 AS HUGEINT) * n1 * n2
      |    - (r1_2x - CAST(n1 AS HUGEINT) * (n1 + 1)) AS BIGINT) AS u2_2x,
      |  CAST((r1_2x - CAST(n1 AS HUGEINT) * (n1 + 1)) * 500000
      |    // (CAST(n1 AS HUGEINT) * n2) AS BIGINT) AS auc_ppm
      |FROM a""".stripMargin

  /** q155 — winsorized robust statistics: per return flag, clip
    * l_quantity at the exact nearest-rank p05/p95 cut points and emit
    * the clipped sum next to the raw sum — the standard outlier-robust
    * mean prep before any metric feeds a model. Cut points are EXACT
    * (nearest-rank: smallest value whose cumulative count reaches
    * ceil(q·n)), not an interpolated or sketched percentile, so the
    * result is bit-stable at any parallelism.
    *
    * Scale shape: quantity's by-value table is bounded by the VALUE
    * DOMAIN (50 distinct), not the data, so the per-flag cumulative
    * window runs over a ≤ flags×50-row aggregate — for continuous
    * metrics the q122 histogram-sketch path is the scale analog. The
    * cut table broadcasts back onto the fact rows for the clipped
    * re-aggregation (two map-combinable passes, no row-level window).
    */
  def winsorizedStats(s: SparkSession, d: String): DataFrame = {
    val byVal = t(s, d, "lineitem")
      .groupBy(col("l_returnflag"), col("l_quantity").cast("bigint").as("qty"))
      .agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_returnflag")).orderBy(col("qty"))
    val cum = byVal.select(col("l_returnflag"), col("qty"),
      sum(col("cnt")).over(w).as("cum"),
      sum(col("cnt")).over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_returnflag"))).as("n"))
    // nearest-rank cut: ceil(q*n) = (q_num*n + 99) div 100
    val cuts = cum.groupBy(col("l_returnflag"), col("n")).agg(
      min(when(col("cum") >= (col("n") * 5 + 99) / 100, col("qty"))).as("lo"),
      min(when(col("cum") >= (col("n") * 95 + 99) / 100, col("qty"))).as("hi"))
    t(s, d, "lineitem")
      .select(col("l_returnflag"), col("l_quantity").cast("bigint").as("qty"))
      .join(broadcast(cuts), Seq("l_returnflag"))
      .groupBy(col("l_returnflag"))
      .agg(first(col("n")).as("n"),
        first(col("lo")).as("p05"), first(col("hi")).as("p95"),
        sum(col("qty")).as("raw_sum"),
        sum(greatest(col("lo"), least(col("hi"), col("qty")))).as("wins_sum"))
      .orderBy("l_returnflag")
  }

  val winsorizedStatsOracle: String =
    """WITH bv AS (
      |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty, count(*) AS cnt
      |  FROM lineitem GROUP BY 1, 2
      |), cum AS (
      |  SELECT l_returnflag, qty,
      |    sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY qty) AS cum,
      |    sum(cnt) OVER (PARTITION BY l_returnflag) AS n
      |  FROM bv
      |), cuts AS (
      |  SELECT l_returnflag, n,
      |    min(CASE WHEN cum >= (n * 5 + 99) // 100 THEN qty END) AS lo,
      |    min(CASE WHEN cum >= (n * 95 + 99) // 100 THEN qty END) AS hi
      |  FROM cum GROUP BY 1, 2
      |)
      |SELECT l.l_returnflag, CAST(any_value(c.n) AS BIGINT) AS n,
      |  any_value(c.lo) AS p05, any_value(c.hi) AS p95,
      |  CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS raw_sum,
      |  CAST(sum(greatest(c.lo, least(c.hi, CAST(l.l_quantity AS BIGINT))))
      |    AS BIGINT) AS wins_sum
      |FROM lineitem l JOIN cuts c ON l.l_returnflag = c.l_returnflag
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q156 — Spearman rank correlation between quantity and extended
    * price: the nonparametric monotone-association measure (robust to
    * the price outliers q107/q121 detect, where Pearson q84 is not).
    * Ties get average ranks, carried DOUBLED so every rank is an exact
    * integer (2·avg = 2·first + cnt − 1, the q154 device); all five
    * co-moments accumulate as exact DECIMAL(38,0) integers, and only
    * the final Pearson-on-ranks ratio is evaluated in floating point —
    * one fixed-shape expression over exact inputs, identical in both
    * engines, rounded to 6 dp.
    *
    * Scale shape: quantity's rank map is domain-bounded (broadcast);
    * the price rank map scales with distinct prices, so its cumulative
    * count runs through the bucketed [[graft.operators.PrefixSum]]
    * (never a single-partition window) and joins back by value as an
    * ordinary hash join. One exact aggregate finishes. At extreme row
    * counts the n·S products outgrow DECIMAL(38) — there the centered
    * single-pass co-moment form is the swap-in; exact at any plausible
    * fixture scale.
    */
  def spearmanCorr(s: SparkSession, d: String): DataFrame = {
    // price keyed as exact cents: ranks are identical to ranking the
    // raw double (the 2-decimal -> cents map is strictly monotone), and
    // the rank join + prefix bucketing run on BIGINT instead of DOUBLE
    // persisted: the two-BIGINT-column projection feeds THREE consumers
    // (the x rank map, the y rank map, and the row-scale cross-moment
    // join) — unpersisted, each re-ran the scan + cents conversion
    // (measured 3 full lineitem passes at sf0.1)
    val li = graft.CacheScope.persisted(t(s, d, "lineitem")
      .select(col("l_quantity").cast("bigint").as("x"),
        graft.functions.Cents.cents(col("l_extendedprice")).as("y")))
    val rx = li.groupBy("x").agg(count(lit(1)).as("cnt"))
    val rxRanked = graft.operators.PrefixSum.exclusiveRunningTotal(
        rx, Seq(col("x")), col("cnt"), "before")
      .select(col("x"), col("cnt"),
        (lit(2) * (col("before") + 1) + col("cnt") - 1).as("rx2"))
    val ry = li.groupBy("y").agg(count(lit(1)).as("cnt"))
    // 16 prefix buckets instead of 64: the codegen'd bucket/offset
    // when-chains compile 4x faster (janino cost scales with chain
    // length) and 16-way parallelism already saturates the rank window
    // for a by-value table this size
    val ryRanked = graft.CacheScope.persisted(
      graft.operators.PrefixSum.exclusiveRunningTotal(
          ry, Seq(col("y")), col("cnt"), "before", buckets = 16)
        .select(col("y"), col("cnt"),
          (lit(2) * (col("before") + 1) + col("cnt") - 1).as("ry2")))
    // n/Sx/Sxx and Sy/Syy fold over the BY-VALUE tables (weighting each
    // rank by its multiplicity) — only the cross-moment Sxy genuinely
    // needs the row-level (x,y) pairing, so exactly ONE decimal sum runs
    // at row scale; the rest run at domain/vocabulary scale
    // decimal cast on the FIRST factor, not the product: ranks run to
    // 2n, so a long·long product (rx2·ry2, rx2²) overflows BIGINT past
    // n ≈ 1.5·10⁹ rows — ANSI would fail loudly there, but a
    // correlation query should compute, not abort, at corpus scale.
    // Widening one side first keeps every product exact in
    // DECIMAL(38,0) up to the documented 38-digit headroom.
    val mx = rxRanked.agg(
      sum(col("cnt")).cast("decimal(38,0)").as("n"),
      sum(col("rx2").cast("decimal(38,0)") * col("cnt")).as("sx"),
      sum(col("rx2").cast("decimal(38,0)") * col("rx2") * col("cnt"))
        .as("sxx"))
    val my = ryRanked.agg(
      sum(col("ry2").cast("decimal(38,0)") * col("cnt")).as("sy"),
      sum(col("ry2").cast("decimal(38,0)") * col("ry2") * col("cnt"))
        .as("syy"))
    val mxy = li.join(broadcast(rxRanked.select(col("x"), col("rx2"))), Seq("x"))
      .join(ryRanked.select(col("y"), col("ry2")), Seq("y"))
      .agg(sum(col("rx2").cast("decimal(38,0)") * col("ry2")).as("sxy"))
    mxy.crossJoin(broadcast(mx)).crossJoin(broadcast(my))
      .select(col("n").cast("bigint").as("n"),
        round(expr(
          """CAST(n * sxy - sx * sy AS DOUBLE) /
            | sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
            |     * CAST(n * syy - sy * sy AS DOUBLE))""".stripMargin), 6)
          .as("spearman_rho"))
  }

  val spearmanCorrOracle: String =
    """WITH li AS (
      |  SELECT CAST(l_quantity AS BIGINT) AS x, l_extendedprice AS y FROM lineitem
      |), rx AS (
      |  SELECT x, 2 * (coalesce(sum(cnt) OVER (ORDER BY x
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1)
      |      + cnt - 1 AS rx2
      |  FROM (SELECT x, count(*) AS cnt FROM li GROUP BY x)
      |), ry AS (
      |  SELECT y, 2 * (coalesce(sum(cnt) OVER (ORDER BY y
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1)
      |      + cnt - 1 AS ry2
      |  FROM (SELECT y, count(*) AS cnt FROM li GROUP BY y)
      |), m AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS n,
      |    CAST(sum(CAST(rx2 AS HUGEINT)) AS HUGEINT) AS sx,
      |    CAST(sum(CAST(ry2 AS HUGEINT)) AS HUGEINT) AS sy,
      |    CAST(sum(CAST(rx2 AS HUGEINT) * ry2) AS HUGEINT) AS sxy,
      |    CAST(sum(CAST(rx2 AS HUGEINT) * rx2) AS HUGEINT) AS sxx,
      |    CAST(sum(CAST(ry2 AS HUGEINT) * ry2) AS HUGEINT) AS syy
      |  FROM li JOIN rx USING (x) JOIN ry USING (y)
      |)
      |SELECT CAST(n AS BIGINT) AS n,
      |  round(CAST(n * sxy - sx * sy AS DOUBLE) /
      |    sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
      |       * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS spearman_rho
      |FROM m""".stripMargin

  /** q157 — decision-stump training: the exact best Gini split of
    * l_quantity predicting a returned line (l_returnflag = 'R') — the
    * depth-1 CART tree, and the building block boosted-tree trainers
    * evaluate millions of times. Every candidate threshold's weighted
    * Gini impurity is EXACT: with nL/pL (rows/positives left of the
    * cut) the weighted impurity is
    *   [(nL²−pL²−(nL−pL)²)·nR + (nR²−pR²−(nR−pR)²)·nL] / (nL·nR·n)
    * — emitted in ppm via one DECIMAL(38,0) integral divide, no
    * floating point anywhere, so argmin ties break identically in both
    * engines (smallest threshold wins via the ordering).
    *
    * Scale shape: candidate thresholds are the quantity domain (≤50) —
    * class counts per value are one map-combinable aggregate, the
    * cumulative sweep runs over the bounded by-value table, and the
    * fact table is scanned exactly once. Continuous features would
    * first bin through q122's histogram sketch, same as real GBDT
    * implementations (LightGBM-style feature histograms).
    */
  def decisionStump(s: SparkSession, d: String): DataFrame = {
    val byVal = t(s, d, "lineitem")
      .groupBy(col("l_quantity").cast("bigint").as("qty"))
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("pos"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("qty"))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1))
    // bounded table (≤ domain size): single-partition windows are fine
    val cum = byVal.select(col("qty"),
        sum(col("cnt")).over(w).as("nl"), sum(col("pos")).over(w).as("pl"),
        sum(col("cnt")).over(wAll).as("n"), sum(col("pos")).over(wAll).as("p"))
      .filter(col("nl") < col("n")) // right side must be non-empty
      .select(col("qty"), col("nl"), col("pl"),
        (col("n") - col("nl")).as("nr"), (col("p") - col("pl")).as("pr"),
        col("n"))
    val gini = cum.select(col("qty"), col("nl"), col("pl"),
      expr("""CAST(1000000 AS DECIMAL(38,0)) * (
             |  (nl*nl - pl*pl - (nl-pl)*(nl-pl)) * nr +
             |  (nr*nr - pr*pr - (nr-pr)*(nr-pr)) * nl
             |) div (CAST(nl AS DECIMAL(38,0)) * nr * n)""".stripMargin)
        .cast("bigint").as("gini_ppm"))
    gini.withColumn("is_best",
        col("gini_ppm") === min(col("gini_ppm")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(lit(1))))
      .orderBy("qty")
  }

  val decisionStumpOracle: String =
    """WITH bv AS (
      |  SELECT CAST(l_quantity AS BIGINT) AS qty, count(*) AS cnt,
      |    sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS pos
      |  FROM lineitem GROUP BY 1
      |), cum AS (
      |  SELECT qty,
      |    sum(cnt) OVER (ORDER BY qty) AS nl, sum(pos) OVER (ORDER BY qty) AS pl,
      |    sum(cnt) OVER () AS n, sum(pos) OVER () AS p
      |  FROM bv
      |), g AS (
      |  SELECT qty, nl, pl,
      |    CAST(CAST(1000000 AS HUGEINT) * (
      |      (nl*nl - pl*pl - (nl-pl)*(nl-pl)) * (n-nl) +
      |      ((n-nl)*(n-nl) - (p-pl)*(p-pl) - ((n-nl)-(p-pl))*((n-nl)-(p-pl))) * nl
      |    ) // (CAST(nl AS HUGEINT) * (n-nl) * n) AS BIGINT) AS gini_ppm
      |  FROM cum WHERE nl < n
      |)
      |SELECT qty, CAST(nl AS BIGINT) AS nl, CAST(pl AS BIGINT) AS pl, gini_ppm,
      |  gini_ppm = min(gini_ppm) OVER () AS is_best
      |FROM g ORDER BY qty""".stripMargin

  /** q158 — leave-one-out target encoding: each order's priority class
    * encoded as the mean total price of all OTHER orders in the class —
    * the standard high-cardinality categorical feature that avoids the
    * self-leakage of a plain group mean (the row's own target never
    * contributes to its encoding). Exact: class sums ride
    * DECIMAL(18,2), the per-row (sum − y)/(cnt − 1) is an integral
    * cents divide in DECIMAL(38,0) — bit-stable at any parallelism.
    *
    * Scale shape: one map-combinable class aggregate (bounded by class
    * cardinality → broadcast back), one scan emitting the encoded rows.
    * No window, no shuffle of the fact beyond the final sort.
    */
  def looTargetEncoding(s: SparkSession, d: String): DataFrame = {
    val cls = t(s, d, "orders").groupBy(col("o_orderpriority"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("csum"),
        count(lit(1)).as("cnt"))
    t(s, d, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice").cast(DecimalType(18, 2)).as("y"))
      .join(broadcast(cls), Seq("o_orderpriority"))
      .select(col("o_orderkey"), col("o_orderpriority"),
        expr("CAST((CAST(csum AS DECIMAL(38,2)) - y) * 100 AS DECIMAL(38,0))" +
          " div (cnt - 1)").cast("bigint").as("loo_cents"))
      .orderBy("o_orderkey")
  }

  val looTargetEncodingOracle: String =
    """WITH cls AS (
      |  SELECT o_orderpriority,
      |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS csum, count(*) AS cnt
      |  FROM orders GROUP BY 1
      |)
      |SELECT o_orderkey, o.o_orderpriority,
      |  CAST(CAST((CAST(csum AS DECIMAL(38,2))
      |    - CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS HUGEINT)
      |    // (cnt - 1) AS BIGINT) AS loo_cents
      |FROM orders o JOIN cls c ON o.o_orderpriority = c.o_orderpriority
      |ORDER BY o_orderkey""".stripMargin

  /** q164 — quantile normalization: each customer's lifetime spend
    * mapped to its exact percentile rank in the spend distribution —
    * the rank-based feature transform (percent_rank at scale) that
    * makes a heavy-tailed metric comparable across cohorts and model
    * features robust to outliers. Average-rank ties carried DOUBLED
    * (2·avg = 2·before + cnt + 1 — exact integers, the q154/q156
    * device); the percentile is one DECIMAL ppm divide by 2n.
    *
    * Scale shape: spend aggregates map-combinably per customer; the
    * cumulative count over the by-value table runs through the bucketed
    * [[graft.operators.PrefixSum]] — NOT percent_rank's global window,
    * which single-partitions the whole table — and joins back by value
    * as an ordinary hash join.
    */
  def quantileNormalize(s: SparkSession, d: String): DataFrame = {
    val spend = t(s, d, "orders")
      .groupBy(col("o_custkey"))
      .agg((sum(col("o_totalprice").cast(DecimalType(18, 2))) * 100)
        .cast("decimal(38,0)").cast("bigint").as("spend_cents"))
    val byVal = spend.groupBy("spend_cents").agg(count(lit(1)).as("cnt"))
    val ranked = graft.operators.PrefixSum.exclusiveRunningTotal(
        byVal, Seq(col("spend_cents")), col("cnt"), "before")
      .select(col("spend_cents"),
        (lit(2) * col("before") + col("cnt") + 1).as("r2"))
    val n = spend.agg(count(lit(1)).as("n"))
    spend.join(ranked, Seq("spend_cents")).crossJoin(broadcast(n))
      .select(col("o_custkey"), col("spend_cents"),
        expr("CAST(CAST(1000000 AS DECIMAL(38,0)) * r2" +
          " div (CAST(2 AS DECIMAL(38,0)) * n) AS BIGINT)").as("pct_ppm"))
      .orderBy("o_custkey")
  }

  val quantileNormalizeOracle: String =
    """WITH spend AS (
      |  SELECT o_custkey,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
      |      AS spend_cents
      |  FROM orders GROUP BY 1
      |), bv AS (
      |  SELECT spend_cents, count(*) AS cnt FROM spend GROUP BY 1
      |), r AS (
      |  SELECT spend_cents,
      |    2 * coalesce(sum(cnt) OVER (ORDER BY spend_cents
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      + cnt + 1 AS r2
      |  FROM bv
      |), nn AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM spend)
      |SELECT s.o_custkey, s.spend_cents,
      |  CAST(CAST(1000000 AS HUGEINT) * r.r2
      |    // (CAST(2 AS HUGEINT) * (SELECT n FROM nn)) AS BIGINT) AS pct_ppm
      |FROM spend s JOIN r ON s.spend_cents = r.spend_cents
      |ORDER BY s.o_custkey""".stripMargin

  /** q165 — exact Gini coefficient of customer lifetime spend: the
    * inequality/concentration summary ("do 10% of customers carry 90%
    * of revenue?") that pairs with q164's per-customer percentile and
    * q136's HHI. Computed from the rank form
    * G = Σ(2i − n − 1)·x_(i) / (n·Σx), which is tie-invariant, so the
    * doubled-average-rank device (r2 = 2·before + cnt + 1) makes every
    * term exact: numerator A − (n+1)·B with A = Σ r2·cnt·x and
    * B = Σ cnt·x, one final ppm divide on a DECIMAL(38,0) carrier.
    *
    * Scale shape: spend per customer is map-combinable; ranks come from
    * the bucketed [[graft.operators.PrefixSum]] over the by-value table
    * (never a global window); one exact fold finishes — no join back to
    * the row level at all.
    */
  def giniSpend(s: SparkSession, d: String): DataFrame = {
    val spend = t(s, d, "orders")
      .groupBy(col("o_custkey"))
      .agg((sum(col("o_totalprice").cast(DecimalType(18, 2))) * 100)
        .cast("decimal(38,0)").cast("bigint").as("x"))
    val byVal = spend.groupBy("x").agg(count(lit(1)).as("cnt"))
    val ranked = graft.operators.PrefixSum.exclusiveRunningTotal(
        byVal, Seq(col("x")), col("cnt"), "before")
      .select(col("x"), col("cnt"),
        (lit(2) * col("before") + col("cnt") + 1).as("r2"))
    ranked.agg(
        sum(col("cnt")).as("n"),
        // cast-first for the same reason as the rank moments: cnt
        // scales with the customer count, so cnt·x can outgrow BIGINT
        sum(col("cnt").cast("decimal(38,0)") * col("x")).as("b"),
        sum((col("r2").cast("decimal(38,0)") * col("cnt") * col("x")))
          .as("a"))
      .select(col("n").cast("bigint").as("n"),
        expr("CAST(b AS DECIMAL(38,0))").cast("bigint").as("total_cents"),
        expr("CAST(CAST(1000000 AS DECIMAL(38,0)) * (a - (n + 1) * b)" +
          " div (CAST(n AS DECIMAL(38,0)) * b) AS BIGINT)").as("gini_ppm"))
  }

  val giniSpendOracle: String =
    """WITH spend AS (
      |  SELECT o_custkey,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS x
      |  FROM orders GROUP BY 1
      |), bv AS (
      |  SELECT x, count(*) AS cnt FROM spend GROUP BY 1
      |), r AS (
      |  SELECT x, cnt,
      |    2 * coalesce(sum(cnt) OVER (ORDER BY x
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      + cnt + 1 AS r2
      |  FROM bv
      |), agg AS (
      |  SELECT CAST(sum(cnt) AS HUGEINT) AS n,
      |    CAST(sum(CAST(cnt AS HUGEINT) * x) AS HUGEINT) AS b,
      |    CAST(sum(CAST(r2 AS HUGEINT) * cnt * x) AS HUGEINT) AS a
      |  FROM r
      |)
      |SELECT CAST(n AS BIGINT) AS n, CAST(b AS BIGINT) AS total_cents,
      |  CAST(CAST(1000000 AS HUGEINT) * (a - (n + 1) * b)
      |    // (n * b) AS BIGINT) AS gini_ppm
      |FROM agg""".stripMargin

  /** q166 — first-order Markov transition matrix over user event
    * streams: P(next event type | current), the behavioral model behind
    * next-action prediction and anomaly scoring (q119's path trigrams
    * are the order-2 cousin; this is the normalized order-1 kernel).
    * Transitions come from a lag window per user over the total order
    * (ts, event_id) — a per-user partition, bounded by a user's
    * activity, never global; probabilities are exact ppm integral
    * divides by the source-state total.
    */
  def markovTransitions(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val trans = t(s, d, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("src"))
      .withColumn("dst", lead(col("src"), 1).over(w))
      .filter(col("dst").isNotNull)
      .groupBy("src", "dst").agg(count(lit(1)).as("n_trans"))
    val srcTotals = trans.groupBy("src").agg(sum(col("n_trans")).as("src_total"))
    trans.join(broadcast(srcTotals), Seq("src"))
      .select(col("src"), col("dst"), col("n_trans"),
        expr("CAST(CAST(1000000 AS DECIMAL(38,0)) * n_trans" +
          " div src_total AS BIGINT)").as("p_ppm"))
      .orderBy("src", "dst")
  }

  val markovTransitionsOracle: String =
    """WITH tr AS (
      |  SELECT event_type AS src,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS dst
      |  FROM events
      |), c AS (
      |  SELECT src, dst, count(*) AS n_trans FROM tr
      |  WHERE dst IS NOT NULL GROUP BY 1, 2
      |), st AS (
      |  SELECT src, sum(n_trans) AS src_total FROM c GROUP BY 1
      |)
      |SELECT c.src, c.dst, CAST(c.n_trans AS BIGINT) AS n_trans,
      |  CAST(CAST(1000000 AS HUGEINT) * c.n_trans
      |    // st.src_total AS BIGINT) AS p_ppm
      |FROM c JOIN st ON c.src = st.src
      |ORDER BY c.src, c.dst""".stripMargin

  /** q167 — k-anonymity audit: for each privacy threshold k, how many
    * quasi-identifier equivalence classes (nation × market segment ×
    * account-balance band) are smaller than k, and how many customers
    * sit in them — the re-identification risk report a dataset owner
    * runs before releasing "anonymized" records, and the gate a
    * training-data pipeline applies before user-derived features enter
    * a corpus. Exact integers; thresholds are a 3-row broadcast.
    *
    * Scale shape: one map-combinable class-size aggregate (bounded by
    * the QI domain), one small cross join against the threshold list,
    * one re-aggregate. The raw table is scanned once.
    */
  def kAnonymity(s: SparkSession, d: String): DataFrame = {
    val classes = t(s, d, "customer")
      .groupBy(col("c_nationkey"), col("c_mktsegment"),
        // floor BEFORE the bigint cast: Spark truncates a double->long
        // cast toward zero while DuckDB rounds it — floor() agrees
        (floor(col("c_acctbal")).cast("bigint")
          - (floor(col("c_acctbal")).cast("bigint") % 1000)).as("bal_band"))
      .agg(count(lit(1)).as("cls_size"))
    val ks = s.createDataFrame(Seq(Tuple1(2L), Tuple1(5L), Tuple1(10L)))
      .toDF("k")
    classes.crossJoin(broadcast(ks))
      .groupBy("k")
      .agg(count(lit(1)).as("n_classes"),
        sum(when(col("cls_size") < col("k"), 1L).otherwise(0L))
          .as("classes_at_risk"),
        sum(when(col("cls_size") < col("k"), col("cls_size")).otherwise(0L))
          .as("rows_at_risk"))
      .orderBy("k")
  }

  val kAnonymityOracle: String =
    """WITH cls AS (
      |  SELECT c_nationkey, c_mktsegment,
      |    CAST(floor(c_acctbal) AS BIGINT)
      |      - (CAST(floor(c_acctbal) AS BIGINT) % 1000) AS bal_band,
      |    count(*) AS cls_size
      |  FROM customer GROUP BY 1, 2, 3
      |), ks AS (SELECT unnest([2, 5, 10]) AS k)
      |SELECT CAST(k AS BIGINT) AS k, CAST(count(*) AS BIGINT) AS n_classes,
      |  CAST(sum(CASE WHEN cls_size < k THEN 1 ELSE 0 END) AS BIGINT)
      |    AS classes_at_risk,
      |  CAST(sum(CASE WHEN cls_size < k THEN cls_size ELSE 0 END) AS BIGINT)
      |    AS rows_at_risk
      |FROM cls, ks GROUP BY 1 ORDER BY 1""".stripMargin

  /** q169 — A/B two-proportion z-test: purchase-conversion rate of the
    * deterministic variant split (user_id parity — the hash-bucket
    * assignment an experimentation system uses) compared with the
    * pooled-variance z statistic. Counts and the rate difference are
    * exact integers/ppm; z itself is one fixed-shape double expression
    * over the exact counts (q84/q156 convention, 6 dp):
    *   z = (x1·n2 − x2·n1) / sqrt(x·(n − x)·n1·n2/n)
    * with x = x1+x2, n = n1+n2 — the algebraic form that avoids
    * intermediate ratios entirely.
    *
    * Scale shape: one map-combinable conditional-count aggregate over
    * the event stream; everything after is a 1-row projection.
    */
  def twoProportionTest(s: SparkSession, d: String): DataFrame =
    t(s, d, "events")
      .select((col("user_id") % 2).as("variant"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("conv"))
      .agg(
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n1"),
        sum(when(col("variant") === 0, col("conv")).otherwise(0L)).as("x1"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n2"),
        sum(when(col("variant") === 1, col("conv")).otherwise(0L)).as("x2"))
      .select(col("n1"), col("x1"), col("n2"), col("x2"),
        expr("CAST(CAST(1000000 AS DECIMAL(38,0)) * x1 div n1 AS BIGINT)")
          .as("p1_ppm"),
        expr("CAST(CAST(1000000 AS DECIMAL(38,0)) * x2 div n2 AS BIGINT)")
          .as("p2_ppm"),
        round(expr(
          """CAST(CAST(x1 AS DECIMAL(38,0)) * n2
            |  - CAST(x2 AS DECIMAL(38,0)) * n1 AS DOUBLE) /
            | sqrt(CAST(CAST(x1 + x2 AS DECIMAL(38,0))
            |   * (n1 + n2 - x1 - x2) * n1 * n2 AS DOUBLE)
            |   / CAST(n1 + n2 AS DOUBLE))""".stripMargin), 6).as("z"))

  val twoProportionTestOracle: String =
    """WITH a AS (
      |  SELECT
      |    sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS n1,
      |    sum(CASE WHEN user_id % 2 = 0 AND event_type = 'purchase'
      |      THEN 1 ELSE 0 END) AS x1,
      |    sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS n2,
      |    sum(CASE WHEN user_id % 2 = 1 AND event_type = 'purchase'
      |      THEN 1 ELSE 0 END) AS x2
      |  FROM events
      |)
      |SELECT CAST(n1 AS BIGINT) AS n1, CAST(x1 AS BIGINT) AS x1,
      |  CAST(n2 AS BIGINT) AS n2, CAST(x2 AS BIGINT) AS x2,
      |  CAST(CAST(1000000 AS HUGEINT) * x1 // n1 AS BIGINT) AS p1_ppm,
      |  CAST(CAST(1000000 AS HUGEINT) * x2 // n2 AS BIGINT) AS p2_ppm,
      |  round(CAST(CAST(x1 AS HUGEINT) * n2
      |      - CAST(x2 AS HUGEINT) * n1 AS DOUBLE) /
      |    sqrt(CAST(CAST(x1 + x2 AS HUGEINT)
      |      * (n1 + n2 - x1 - x2) * n1 * n2 AS DOUBLE)
      |      / CAST(n1 + n2 AS DOUBLE)), 6) AS z
      |FROM a""".stripMargin

  /** q170 — expected-calibration-error bins: a model-score reliability
    * diagram over the event stream, the standard audit before a
    * predicted propensity is trusted for ranking or routing (and the
    * same shape a training pipeline uses to calibrate a quality
    * classifier's scores before thresholding a corpus gate on them).
    * The pseudo-score is a fixed monotone map of the event value
    * (floor(value·2000) ppm, clamped) so both engines derive the
    * identical integer confidence; per decile bin the observed purchase
    * rate (acc_ppm), mean claimed confidence (conf_ppm) and their gap
    * are exact integer ppm.
    *
    * Scale shape: one map-combinable 10-group aggregate over a scan;
    * confidence sums ride DECIMAL(38,0) (ppm·rows wraps BIGINT near
    * 10^13 rows of one bin). No window, no join.
    */
  def eceCalibration(s: SparkSession, d: String): DataFrame =
    t(s, d, "events")
      .select(
        least(expr("CAST(floor(value * 2000) AS BIGINT)"), lit(999999L))
          .as("conf_ppm"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
      .groupBy(expr("conf_ppm div 100000").as("bin"))
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("pos"),
        sum(col("conf_ppm").cast("decimal(38,0)")).as("conf_sum"))
      .select(col("bin"), col("n"), col("pos").cast("bigint").as("pos"),
        expr("CAST(CAST(1000000 AS DECIMAL(38,0)) * pos div n AS BIGINT)")
          .as("acc_ppm"),
        expr("CAST(conf_sum div n AS BIGINT)").as("conf_avg_ppm"),
        expr("""CAST(abs(CAST(1000000 AS DECIMAL(38,0)) * pos div n
               |  - conf_sum div n) AS BIGINT)""".stripMargin).as("gap_ppm"))
      .orderBy("bin")

  val eceCalibrationOracle: String =
    """WITH e AS (
      |  SELECT least(CAST(floor(value * 2000) AS BIGINT), 999999) AS conf_ppm,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
      |  FROM events
      |), b AS (
      |  SELECT conf_ppm // 100000 AS bin, count(*) AS n, sum(pos) AS pos,
      |    CAST(sum(conf_ppm) AS HUGEINT) AS conf_sum
      |  FROM e GROUP BY 1
      |)
      |SELECT CAST(bin AS BIGINT) AS bin, CAST(n AS BIGINT) AS n,
      |  CAST(pos AS BIGINT) AS pos,
      |  CAST(CAST(1000000 AS HUGEINT) * pos // n AS BIGINT) AS acc_ppm,
      |  CAST(conf_sum // n AS BIGINT) AS conf_avg_ppm,
      |  CAST(abs(CAST(1000000 AS HUGEINT) * pos // n - conf_sum // n)
      |    AS BIGINT) AS gap_ppm
      |FROM b ORDER BY bin""".stripMargin

  /** q171 — bucketed table checksum: a 256-bucket content fingerprint of
    * the lineitem fact (per bucket: row count and the commutative sum of
    * a 48-bit md5-derived row digest, folded mod 2^62), the integrity
    * primitive behind replication audits, migration sign-offs, and
    * cheap "did these two 100 TB copies diverge, and in which shard?"
    * comparisons — two tables differ iff some bucket row differs, and
    * the bucket id localizes the diff to 1/256 of the data.
    *
    * Scale shape: the digest sum is commutative-associative, so the
    * whole checksum is ONE map-combinable aggregate over a scan — no
    * sort, no collect, no per-bucket materialization of rows (the
    * classic Merkle string-concat formulation would single-partition
    * each bucket's rows; the modular sum keeps it embarrassingly
    * parallel while detecting any single-row change).
    */
  def tableChecksum(s: SparkSession, d: String): DataFrame = {
    val digest = md5(concat_ws("|",
      col("l_orderkey"), col("l_linenumber"),
      col("l_quantity").cast("bigint"), col("l_returnflag")))
    t(s, d, "lineitem")
      .select(
        conv(substring(digest, 1, 2), 16, 10).cast("bigint").as("bucket"),
        conv(substring(digest, 3, 12), 16, 10).cast("bigint").as("v48"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("v48").cast("decimal(38,0)")).as("vsum"))
      .select(col("bucket"), col("n_rows"),
        expr("CAST(vsum % 4611686018427387904 AS BIGINT)").as("checksum"))
      .orderBy("bucket")
  }

  val tableChecksumOracle: String =
    """WITH r AS (
      |  SELECT md5(CAST(l_orderkey AS VARCHAR) || '|'
      |    || CAST(l_linenumber AS VARCHAR) || '|'
      |    || CAST(CAST(l_quantity AS BIGINT) AS VARCHAR) || '|'
      |    || l_returnflag) AS h
      |  FROM lineitem
      |), v AS (
      |  SELECT CAST('0x' || substr(h, 1, 2) AS BIGINT) AS bucket,
      |    CAST('0x' || substr(h, 3, 12) AS BIGINT) AS v48
      |  FROM r
      |)
      |SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(CAST(sum(CAST(v48 AS HUGEINT)) AS HUGEINT)
      |    % 4611686018427387904 AS BIGINT) AS checksum
      |FROM v GROUP BY bucket ORDER BY bucket""".stripMargin

  /** q172 — seasonal-naive forecast evaluation (MASE): score the
    * week-ago forecast of daily revenue against the one-day-naive
    * scale, the standard first benchmark any demand-forecast model must
    * beat. Daily revenue is summed in exact cents; both error sums are
    * exact integers and MASE = (sae7/n7)/(sae1/n1) is emitted as ppm
    * through a DECIMAL(38,0) cross-multiplication — bit-stable at any
    * parallelism.
    *
    * Scale shape: one map-combinable daily rollup (bounded by the DATE
    * DOMAIN, ~2.5k rows), then two equality self-joins on shifted dates
    * — no window over raw rows, and the lag structure is join-shaped so
    * a per-series partitioned version scales to millions of series.
    * The rollup is PERSISTED: three lag roles read it, and without the
    * cache each role re-runs the full fact scan (r12 driver diag: 121
    * task-CPU-s, 3× a decimal-summing scan cold). Cents are summed as
    * BIGINT — `round(price·100)` is exact for 2-dp doubles, and the
    * primitive sum stays in whole-stage codegen where the
    * DECIMAL(38,0) sum buffer falls back to per-row BigDecimal
    * (probed: 5× the scan CPU for identical values). Overflow bound:
    * a day would need > 9.2e16 dollars of revenue to wrap — five
    * orders of magnitude past a 100 TB corpus's busiest day. The
    * final MASE cross-multiplication stays DECIMAL(38,0): it runs on
    * ONE row, and 1e6·sae7·n1 genuinely exceeds Long there.
    */
  def seasonalMase(s: SparkSession, d: String): DataFrame = {
    val daily = CacheScope.persisted(t(s, d, "lineitem")
      .groupBy(col("l_shipdate").cast("date").as("dt"))
      .agg(sum(graft.functions.Cents.cents(col("l_extendedprice")))
        .as("rev_c")))
    val cur = daily.select(col("dt"), col("rev_c"))
    val lag7 = daily.select(date_add(col("dt"), 7).as("dt"),
      col("rev_c").as("rev_c7"))
    val lag1 = daily.select(date_add(col("dt"), 1).as("dt"),
      col("rev_c").as("rev_c1"))
    cur.join(lag7, Seq("dt"), "left").join(lag1, Seq("dt"), "left")
      .agg(
        sum(when(col("rev_c7").isNotNull, 1L).otherwise(0L)).as("n7"),
        sum(when(col("rev_c7").isNotNull, abs(col("rev_c") - col("rev_c7")))
          .otherwise(0L)).as("sae7_c"),
        sum(when(col("rev_c1").isNotNull, 1L).otherwise(0L)).as("n1"),
        sum(when(col("rev_c1").isNotNull, abs(col("rev_c") - col("rev_c1")))
          .otherwise(0L)).as("sae1_c"))
      .select(col("n7").cast("bigint").as("n7"),
        col("sae7_c").cast("bigint").as("sae7_c"),
        col("n1").cast("bigint").as("n1"),
        col("sae1_c").cast("bigint").as("sae1_c"),
        expr("""CAST(CAST(1000000 AS DECIMAL(38,0)) * sae7_c * n1
               |  div (CAST(n7 AS DECIMAL(38,0)) * sae1_c) AS BIGINT)"""
          .stripMargin).as("mase_ppm"))
  }

  val seasonalMaseOracle: String =
    """WITH daily AS (
      |  SELECT CAST(l_shipdate AS DATE) AS dt,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * 100)
      |      AS HUGEINT) AS rev_c
      |  FROM lineitem GROUP BY 1
      |), j AS (
      |  SELECT c.dt, c.rev_c, l7.rev_c AS rev_c7, l1.rev_c AS rev_c1
      |  FROM daily c
      |  LEFT JOIN daily l7 ON c.dt = l7.dt + 7
      |  LEFT JOIN daily l1 ON c.dt = l1.dt + 1
      |), a AS (
      |  SELECT
      |    sum(CASE WHEN rev_c7 IS NOT NULL THEN 1 ELSE 0 END) AS n7,
      |    sum(CASE WHEN rev_c7 IS NOT NULL THEN abs(rev_c - rev_c7)
      |      ELSE 0 END) AS sae7_c,
      |    sum(CASE WHEN rev_c1 IS NOT NULL THEN 1 ELSE 0 END) AS n1,
      |    sum(CASE WHEN rev_c1 IS NOT NULL THEN abs(rev_c - rev_c1)
      |      ELSE 0 END) AS sae1_c
      |  FROM j
      |)
      |SELECT CAST(n7 AS BIGINT) AS n7, CAST(sae7_c AS BIGINT) AS sae7_c,
      |  CAST(n1 AS BIGINT) AS n1, CAST(sae1_c AS BIGINT) AS sae1_c,
      |  CAST(CAST(1000000 AS HUGEINT) * sae7_c * n1
      |    // (CAST(n7 AS HUGEINT) * sae1_c) AS BIGINT) AS mase_ppm
      |FROM a""".stripMargin

  /** q173 — sole-late-supplier attribution (the TPC-H Q21 plan shape on
    * this schema): in multi-supplier orders, find the supplier whose
    * line shipped late (> 60 days after the order date) while EVERY
    * other supplier in the order shipped on time — the unambiguous
    * bottleneck. The classic formulation is EXISTS(other supplier) AND
    * NOT EXISTS(other late supplier); here the two correlated
    * subqueries collapse into one per-(order, supplier) aggregate
    * joined to a per-order supplier/late-supplier count — same
    * semantics, one fewer pass over the fact.
    *
    * Scale shape: one orders⋈lineitem equality join (the date lives on
    * orders, broadcast-joinable side is the small projection), two
    * map-combinable aggregates keyed by (order, supplier) then order,
    * and a broadcast of the per-order counts back onto per-supplier
    * rows. Top-10 is a TakeOrdered, not a global sort.
    */
  def soleLateSupplier(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"),
        col("l_shipdate").cast("date").as("ship_date"))
      .join(t(s, d, "orders")
          .select(col("o_orderkey"), col("o_orderdate").cast("date")
            .as("order_date")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("ship_date") > date_add(col("order_date"), 60)).as("late"))
    // persisted: TWO consumers (the per-order rollup and the late-row
    // filter+join) — unpersisted, the lineitem⋈orders join plus this
    // aggregate re-ran once per consumer (~2× the query's CPU)
    val perSupp = graft.CacheScope.persisted(
      li.groupBy("l_orderkey", "l_suppkey")
        .agg(max(when(col("late"), 1L).otherwise(0L)).as("any_late")))
    val perOrder = perSupp.groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_supp"), sum(col("any_late")).as("n_late"))
    perSupp.filter(col("any_late") === 1)
      .join(perOrder.filter(col("n_supp") > 1 && col("n_late") === 1),
        Seq("l_orderkey"))
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("numwait"))
      .join(broadcast(t(s, d, "supplier")
        .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(10)
  }

  val soleLateSupplierOracle: String =
    """WITH li AS (
      |  SELECT l_orderkey, l_suppkey,
      |    CASE WHEN CAST(l_shipdate AS DATE)
      |      > CAST(o_orderdate AS DATE) + 60 THEN 1 ELSE 0 END AS late
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |), per_supp AS (
      |  SELECT l_orderkey, l_suppkey, max(late) AS any_late
      |  FROM li GROUP BY 1, 2
      |), per_order AS (
      |  SELECT l_orderkey, count(*) AS n_supp, sum(any_late) AS n_late
      |  FROM per_supp GROUP BY 1
      |)
      |SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
      |FROM per_supp
      |JOIN per_order USING (l_orderkey)
      |JOIN supplier ON l_suppkey = s_suppkey
      |WHERE any_late = 1 AND n_supp > 1 AND n_late = 1
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name LIMIT 10""".stripMargin

  /** q178 — Krippendorff's alpha (nominal): chance-corrected agreement
    * treating each order as a unit and its line-level return flags as
    * independent ratings — the generalization of q163's kappa to
    * variable raters per unit, the metric label-quality audits report
    * when annotation counts differ per item. Per-unit disagreement
    * rides a ×10⁹ integer scale before the (n_u−1) divide (floor
    * division agrees across engines), so alpha_ppm is bit-stable.
    *
    * Scale shape: two map-combinable aggregates — (unit, category)
    * counts then per-unit moments (Σ_c n_uc(n_u−n_uc) = n_u² − Σ n_uc²,
    * no second pass over rows) — a broadcast semi-join for the
    * pairable-unit category totals, and scalar folds. No window.
    */
  def krippendorffAlpha(s: SparkSession, d: String): DataFrame = {
    val nuc = graft.CacheScope.persisted(
      t(s, d, "lineitem").groupBy(col("l_orderkey"), col("l_returnflag"))
        .agg(count(lit(1)).as("nuc")))
    val units = graft.CacheScope.persisted(
      nuc.groupBy("l_orderkey")
        .agg(sum(col("nuc")).as("nu"), sum(col("nuc") * col("nuc")).as("s2"))
        .filter(col("nu") >= 2))
    val perUnit = units.agg(
      count(lit(1)).as("n_units"), sum(col("nu")).as("n_val"),
      sum(expr("""CAST(CAST(nu * nu - s2 AS DECIMAL(38,0)) * 1000000000
                 |  div (nu - 1) AS DECIMAL(38,0))""".stripMargin))
        .as("do_scaled"))
    val catTotals = nuc
      .join(units.select("l_orderkey"), Seq("l_orderkey"), "left_semi")
      .groupBy("l_returnflag").agg(sum(col("nuc")).as("nc"))
    val de = catTotals.crossJoin(broadcast(perUnit.select(col("n_val"))))
      .agg(sum(expr("CAST(nc AS DECIMAL(38,0)) * (n_val - nc)")).as("de_num"))
    perUnit.crossJoin(broadcast(de))
      .select(col("n_units").cast("bigint").as("n_units"),
        col("n_val").cast("bigint").as("n_val"),
        col("do_scaled").cast("bigint").as("do_scaled"),
        col("de_num").cast("bigint").as("de_num"),
        expr("""CAST(1000000 - CAST(1000000 AS DECIMAL(38,0)) * do_scaled
               |  * (n_val - 1) div (CAST(1000000000 AS DECIMAL(38,0))
               |  * de_num) AS BIGINT)""".stripMargin).as("alpha_ppm"))
  }

  val krippendorffAlphaOracle: String =
    """WITH nuc AS (
      |  SELECT l_orderkey, l_returnflag, count(*) AS nuc
      |  FROM lineitem GROUP BY 1, 2
      |), units AS (
      |  SELECT l_orderkey, sum(nuc) AS nu, sum(nuc * nuc) AS s2
      |  FROM nuc GROUP BY 1 HAVING sum(nuc) >= 2
      |), per_unit AS (
      |  SELECT count(*) AS n_units, sum(nu) AS n_val,
      |    sum(CAST(nu * nu - s2 AS HUGEINT) * 1000000000 // (nu - 1))
      |      AS do_scaled
      |  FROM units
      |), cat AS (
      |  SELECT l_returnflag, sum(nuc) AS nc FROM nuc
      |  WHERE l_orderkey IN (SELECT l_orderkey FROM units)
      |  GROUP BY 1
      |), de AS (
      |  SELECT sum(CAST(nc AS HUGEINT) * (n_val - nc)) AS de_num
      |  FROM cat, per_unit
      |)
      |SELECT CAST(n_units AS BIGINT) AS n_units,
      |  CAST(n_val AS BIGINT) AS n_val,
      |  CAST(do_scaled AS BIGINT) AS do_scaled,
      |  CAST(de_num AS BIGINT) AS de_num,
      |  CAST(1000000 - CAST(1000000 AS HUGEINT) * do_scaled * (n_val - 1)
      |    // (CAST(1000000000 AS HUGEINT) * de_num) AS BIGINT) AS alpha_ppm
      |FROM per_unit, de""".stripMargin

  /** q179 — journey pattern matching: encode each user's full ordered
    * event-type sequence as an initial-letter string and count users
    * matching behavioral regexes (view→…→purchase, click→…→signup,
    * error-before-purchase) — the MATCH_RECOGNIZE-style sequence
    * analysis funnels (q81) can't express, because the pattern spans
    * arbitrary gaps. Ordering is the total (ts, event_id) key, so the
    * encoded string is deterministic under ties.
    *
    * Scale shape: one groupBy-user ordered collect (per-user event
    * counts are activity-bounded — the q86/q119 convention), then a
    * scan-local regex per bounded pattern (broadcast 3-row pattern
    * list). The corpus-size dimension never enters a window.
    */
  def journeyPatterns(s: SparkSession, d: String): DataFrame = {
    val seqs = t(s, d, "events")
      .groupBy("user_id")
      .agg(expr("""array_join(transform(
                  |  array_sort(collect_list(struct(ts, event_id, event_type))),
                  |  x -> substring(x.event_type, 1, 1)), '')""".stripMargin)
        .as("seq"))
    val pats = s.createDataFrame(Seq(
        ("view_then_purchase", "v.*p"),
        ("click_then_signup", "c.*s"),
        ("error_before_purchase", "e.*p")))
      .toDF("pattern", "re")
    seqs.crossJoin(broadcast(pats))
      .groupBy("pattern")
      .agg(count(lit(1)).as("n_users"),
        sum(when(expr("seq rlike re"), 1L).otherwise(0L))
          .as("n_matching"))
      .orderBy("pattern")
  }

  val journeyPatternsOracle: String =
    """WITH s AS (
      |  SELECT user_id,
      |    array_to_string(list(substr(event_type, 1, 1)
      |      ORDER BY ts, event_id), '') AS seq
      |  FROM events GROUP BY user_id
      |), p AS (
      |  SELECT * FROM (VALUES
      |    ('view_then_purchase', 'v.*p'),
      |    ('click_then_signup', 'c.*s'),
      |    ('error_before_purchase', 'e.*p')) AS v(pattern, re)
      |)
      |SELECT pattern, CAST(count(*) AS BIGINT) AS n_users,
      |  CAST(sum(CASE WHEN regexp_matches(seq, re) THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_matching
      |FROM s, p GROUP BY pattern ORDER BY pattern""".stripMargin

  /** q180 — Poisson-bootstrap confidence interval for mean order value:
    * 64 deterministic pseudo-replicates, each reweighting every order
    * by hash-derived multiplicity {0,1,2} (the Poisson bootstrap — the
    * resampling scheme that works on a distributed scan, since classic
    * bootstrap's fixed-n resample needs global coordination). Replicate
    * means are exact integer cents; the interval is the nearest-rank
    * p05/p95 over the 64 replicate means.
    *
    * Scale shape: the 64× expansion is a scan-side explode folded
    * immediately into a 64-group map-combinable aggregate (partial
    * aggregation reduces each partition to ≤64 rows before the
    * exchange); the rank step runs over exactly 64 rows. At 100 TB
    * this is one pass over the data, ~nothing shuffled. The replicate
    * weights derive from ONE md5 per order expanded Carter–Wegman-style
    * (`(h1 + b·h2) mod p mod 3`, the MinHash-signature trick) — the
    * first cut hashed per (order, replicate), 64 md5s per row, which
    * made the digest 95% of the query (10.0 s → ~1.3 s at sf0.1).
    */
  def poissonBootstrap(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val B = 64
    val p = graft.functions.DedupOps.KmPrime
    val reps = t(s, d, "orders")
      .select(graft.functions.Cents.cents(col("o_totalprice"))
        .as("cents"),
        concat(lit("boot-v1|"), col("o_orderkey").cast("string")).as("hk"))
      .select(col("cents"),
        (graft.expressions.Md5Prefix.md5Prefix(col("hk"), 15) % p).as("h1"),
        (graft.expressions.Md5Prefix.md5Prefix(col("hk"), 15, 17) % p)
          .as("h2"))
      .select(col("cents"), col("h1"), col("h2"),
        explode(sequence(lit(0), lit(B - 1))).as("b"))
      .withColumn("w", (col("h1") + col("b") * col("h2")) % p % 3)
      .groupBy("b")
      .agg(sum(col("w")).as("sw"),
        sum((col("w") * col("cents")).cast("decimal(38,0)")).as("swx"))
      .select(col("b"),
        expr("CAST(swx div sw AS BIGINT)").as("mean_c"))
    val ranked = reps.withColumn("rn",
      row_number().over(Window.orderBy(col("mean_c"), col("b"))))
    ranked.agg(count(lit(1)).as("n_reps"),
        min(col("mean_c")).as("boot_min_c"),
        max(col("mean_c")).as("boot_max_c"),
        max(when(col("rn") === 4, col("mean_c"))).as("boot_lo_c"),
        max(when(col("rn") === 61, col("mean_c"))).as("boot_hi_c"))
      .crossJoin(broadcast(t(s, d, "orders").agg(
        expr("""CAST(sum(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
               |  AS DECIMAL(38,0))) div count(*) AS BIGINT)""".stripMargin)
          .as("mean_c"))))
      .select(col("n_reps"), col("mean_c"), col("boot_lo_c"),
        col("boot_hi_c"), col("boot_min_c"), col("boot_max_c"))
  }

  val poissonBootstrapOracle: String =
    """WITH o AS (
      |  SELECT o_orderkey,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM orders
      |), hh AS (
      |  SELECT cents,
      |    CAST('0x' || substr(md5('boot-v1|' || CAST(o_orderkey AS VARCHAR)),
      |      1, 15) AS BIGINT) % 2147483647 AS h1,
      |    CAST('0x' || substr(md5('boot-v1|' || CAST(o_orderkey AS VARCHAR)),
      |      17, 15) AS BIGINT) % 2147483647 AS h2
      |  FROM o
      |), r AS (
      |  SELECT b.b, hh.cents, (hh.h1 + b.b * hh.h2) % 2147483647 % 3 AS w
      |  FROM hh, (SELECT unnest(range(0, 64)) AS b) b
      |), m AS (
      |  SELECT b, CAST(CAST(sum(w * cents) AS HUGEINT) // sum(w) AS BIGINT)
      |    AS mean_c
      |  FROM r GROUP BY b
      |), rk AS (
      |  SELECT mean_c, row_number() OVER (ORDER BY mean_c, b) AS rn FROM m
      |), agg AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_reps,
      |    min(mean_c) AS boot_min_c, max(mean_c) AS boot_max_c,
      |    max(CASE WHEN rn = 4 THEN mean_c END) AS boot_lo_c,
      |    max(CASE WHEN rn = 61 THEN mean_c END) AS boot_hi_c
      |  FROM rk
      |), pt AS (
      |  SELECT CAST(CAST(sum(cents) AS HUGEINT) // count(*) AS BIGINT)
      |    AS mean_c
      |  FROM o
      |)
      |SELECT n_reps, mean_c, boot_lo_c, boot_hi_c, boot_min_c, boot_max_c
      |FROM agg, pt""".stripMargin

  /** q181 — linear multi-touch attribution: each purchase's value is
    * split equally (exact integer micro-cents, floor per touch) across
    * the user's view/click touches in the preceding 7 days, then rolled
    * up per touch channel — the marketing-attribution shape (last-touch
    * is q40's as-of join; this is the divide-credit generalization).
    *
    * Scale shape: purchases⋈touches is an EQUALITY join on user_id
    * (the time window is a post-join filter, not a join condition), the
    * per-purchase touch count is a map-combinable aggregate re-joined
    * on the purchase key, and the final rollup has one row per channel.
    * Per-user event counts are activity-bounded (q86 convention).
    */
  def linearAttribution(s: SparkSession, d: String): DataFrame = {
    val ev = graft.CacheScope.persisted(t(s, d, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("cents")))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id"),
        col("ts").as("pts"), col("cents"))
    val touches = ev.filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("ts").as("tts"),
        col("event_type").as("channel"))
    val joined = purchases.join(touches, Seq("user_id"))
      .filter(col("tts") < col("pts")
        && col("tts") >= col("pts") - expr("INTERVAL 7 DAYS"))
    val counts = joined.groupBy("pid")
      .agg(count(lit(1)).as("n_touch"), first(col("cents")).as("c"))
    joined.join(counts.select("pid", "n_touch"), Seq("pid"))
      .groupBy("channel")
      .agg(count(lit(1)).as("n_touches"),
        sum(expr("CAST(cents AS DECIMAL(38,0)) * 1000000 div n_touch"))
          .as("credit"))
      .select(col("channel"), col("n_touches"),
        expr("CAST(credit AS BIGINT)").as("credit_microcents"))
      .orderBy("channel")
  }

  val linearAttributionOracle: String =
    """WITH ev AS (
      |  SELECT event_id, user_id, ts, event_type,
      |    CAST(floor(value * 100) AS BIGINT) AS cents
      |  FROM events
      |), p AS (
      |  SELECT event_id AS pid, user_id, ts AS pts, cents FROM ev
      |  WHERE event_type = 'purchase'
      |), t AS (
      |  SELECT user_id, ts AS tts, event_type AS channel FROM ev
      |  WHERE event_type IN ('view', 'click')
      |), j AS (
      |  SELECT p.pid, p.cents, t.channel
      |  FROM p JOIN t USING (user_id)
      |  WHERE t.tts < p.pts AND t.tts >= p.pts - INTERVAL 7 DAY
      |), c AS (
      |  SELECT pid, count(*) AS n_touch FROM j GROUP BY pid
      |)
      |SELECT channel, CAST(count(*) AS BIGINT) AS n_touches,
      |  CAST(sum(CAST(j.cents AS HUGEINT) * 1000000 // c.n_touch)
      |    AS BIGINT) AS credit_microcents
      |FROM j JOIN c USING (pid)
      |GROUP BY channel ORDER BY channel""".stripMargin

  /** q182 — Brier score decomposition: the mean squared error of the
    * q170 pseudo-confidence against purchase outcomes, split into
    * reliability − resolution + uncertainty over the 10 calibration
    * bins (Murphy 1973) — the standard diagnosis of WHERE a probability
    * model loses: miscalibration (reliability) vs missing
    * discrimination (resolution). All four terms are exact integers at
    * the ×10¹² (ppm²) scale; floor-divided bin means make the
    * decomposition engine-exact rather than algebraically exact, which
    * is the right trade for a bit-stable distributed metric.
    *
    * Scale shape: one map-combinable scan aggregate for the global
    * Brier sum, one 10-group bin aggregate, one broadcast of the global
    * base rate — no window, no join wider than 10 rows.
    */
  def brierDecomposition(s: SparkSession, d: String): DataFrame = {
    val ev = graft.CacheScope.persisted(t(s, d, "events")
      .select(
        least(expr("CAST(floor(value * 2000) AS BIGINT)"), lit(999999L))
          .as("conf"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("y")))
    val glob = ev.agg(count(lit(1)).as("n"), sum(col("y")).as("pos"),
      sum(expr("""CAST((conf - 1000000 * y) AS DECIMAL(38,0))
                 |  * (conf - 1000000 * y)""".stripMargin)).as("se"))
      .select(col("n"), col("pos"),
        expr("CAST(se div n AS BIGINT)").as("brier_e12"),
        expr("CAST(CAST(1000000 AS DECIMAL(38,0)) * pos div n AS BIGINT)")
          .as("base_ppm"))
    val bins = ev.groupBy(expr("conf div 100000").as("bin"))
      .agg(count(lit(1)).as("nb"), sum(col("y")).as("posb"),
        sum(col("conf").cast("decimal(38,0)")).as("confsum"))
      .select(col("nb"),
        expr("CAST(CAST(1000000 AS DECIMAL(38,0)) * posb div nb AS BIGINT)")
          .as("accb"),
        expr("CAST(confsum div nb AS BIGINT)").as("confb"))
    bins.crossJoin(broadcast(glob))
      .groupBy("n", "pos", "brier_e12", "base_ppm")
      .agg(
        sum(expr("""CAST(nb AS DECIMAL(38,0)) * (confb - accb)
                   |  * (confb - accb)""".stripMargin)).as("rel_num"),
        sum(expr("""CAST(nb AS DECIMAL(38,0)) * (accb - base_ppm)
                   |  * (accb - base_ppm)""".stripMargin)).as("res_num"))
      .select(col("n").cast("bigint").as("n"), col("brier_e12"),
        expr("CAST(rel_num div n AS BIGINT)").as("reliability_e12"),
        expr("CAST(res_num div n AS BIGINT)").as("resolution_e12"),
        expr("""CAST(CAST(base_ppm AS DECIMAL(38,0)) * (1000000 - base_ppm)
               |  AS BIGINT)""".stripMargin).as("uncertainty_e12"))
  }

  val brierDecompositionOracle: String =
    """WITH ev AS (
      |  SELECT least(CAST(floor(value * 2000) AS BIGINT), 999999) AS conf,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      |  FROM events
      |), g AS (
      |  SELECT count(*) AS n, sum(y) AS pos,
      |    CAST(sum(CAST(conf - 1000000 * y AS HUGEINT)
      |      * (conf - 1000000 * y)) // count(*) AS BIGINT) AS brier_e12,
      |    CAST(CAST(1000000 AS HUGEINT) * sum(y) // count(*) AS BIGINT)
      |      AS base_ppm
      |  FROM ev
      |), b AS (
      |  SELECT count(*) AS nb,
      |    CAST(CAST(1000000 AS HUGEINT) * sum(y) // count(*) AS BIGINT)
      |      AS accb,
      |    CAST(CAST(sum(conf) AS HUGEINT) // count(*) AS BIGINT) AS confb
      |  FROM ev GROUP BY conf // 100000
      |)
      |SELECT CAST(g.n AS BIGINT) AS n, g.brier_e12,
      |  CAST(sum(CAST(nb AS HUGEINT) * (confb - accb) * (confb - accb))
      |    // g.n AS BIGINT) AS reliability_e12,
      |  CAST(sum(CAST(nb AS HUGEINT) * (accb - g.base_ppm)
      |    * (accb - g.base_ppm)) // g.n AS BIGINT) AS resolution_e12,
      |  CAST(CAST(g.base_ppm AS HUGEINT) * (1000000 - g.base_ppm) AS BIGINT)
      |    AS uncertainty_e12
      |FROM b, g
      |GROUP BY g.n, g.brier_e12, g.base_ppm""".stripMargin

  /** q183 — discrete-time conversion hazard: for each day-since-signup
    * d ∈ [0, 13], the users still unconverted entering day d, the users
    * whose FIRST purchase lands on day d, and the hazard ppm — the
    * survival-analysis life table a growth pipeline reads conversion
    * velocity from. Users who never purchase stay at risk through the
    * whole window (administratively censored at day 14).
    *
    * Scale shape: two map-combinable per-user min-aggregates, one
    * equality join on user, a bounded ×14 explode folded straight into
    * a 14-group aggregate. Nothing scales beyond user count.
    */
  def hazardTable(s: SparkSession, d: String): DataFrame = {
    val ev = graft.CacheScope.persisted(t(s, d, "events")
      .select(col("user_id"), col("ts"), col("event_type")))
    val signups = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("ts")).as("s_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(min(col("ts")).as("p_ts"))
    val cohort = signups.join(purchases, Seq("user_id"), "left")
      .select(col("user_id"),
        when(col("p_ts") >= col("s_ts"),
          datediff(col("p_ts").cast("date"), col("s_ts").cast("date")))
          .cast("bigint").as("conv_day"))
    cohort
      .select(col("conv_day"),
        explode(sequence(lit(0L), lit(13L))).as("day"))
      .groupBy("day")
      .agg(
        sum(when(col("conv_day").isNull || col("conv_day") >= col("day"), 1L)
          .otherwise(0L)).as("n_at_risk"),
        sum(when(col("conv_day") === col("day"), 1L).otherwise(0L))
          .as("n_converted"))
      .select(col("day"), col("n_at_risk"), col("n_converted"),
        expr("""CAST(CASE WHEN n_at_risk = 0 THEN 0
               |  ELSE CAST(1000000 AS DECIMAL(38,0)) * n_converted
               |    div n_at_risk END AS BIGINT)""".stripMargin)
          .as("hazard_ppm"))
      .orderBy("day")
  }

  val hazardTableOracle: String =
    """WITH s AS (
      |  SELECT user_id, min(ts) AS s_ts FROM events
      |  WHERE event_type = 'signup' GROUP BY user_id
      |), p AS (
      |  SELECT user_id, min(ts) AS p_ts FROM events
      |  WHERE event_type = 'purchase' GROUP BY user_id
      |), c AS (
      |  SELECT s.user_id,
      |    CASE WHEN p.p_ts >= s.s_ts THEN CAST(date_diff('day',
      |      CAST(s.s_ts AS DATE), CAST(p.p_ts AS DATE)) AS BIGINT)
      |    END AS conv_day
      |  FROM s LEFT JOIN p USING (user_id)
      |), x AS (
      |  SELECT conv_day, CAST(d AS BIGINT) AS day
      |  FROM c, (SELECT unnest(range(0, 14)) AS d)
      |), h AS (
      |  SELECT day,
      |    sum(CASE WHEN conv_day IS NULL OR conv_day >= day
      |      THEN 1 ELSE 0 END) AS n_at_risk,
      |    sum(CASE WHEN conv_day = day THEN 1 ELSE 0 END) AS n_converted
      |  FROM x GROUP BY day
      |)
      |SELECT day, CAST(n_at_risk AS BIGINT) AS n_at_risk,
      |  CAST(n_converted AS BIGINT) AS n_converted,
      |  CAST(CASE WHEN n_at_risk = 0 THEN 0
      |    ELSE CAST(1000000 AS HUGEINT) * n_converted // n_at_risk END
      |    AS BIGINT) AS hazard_ppm
      |FROM h ORDER BY day""".stripMargin

  /** q184 — Jaccard-normalized link prediction: q112's common-neighbor
    * candidates rescored by |N(u)∩N(v)| / |N(u)∪N(v)| (exact ppm), which
    * stops high-degree parts from dominating purely by popularity — the
    * normalization every production "similar items" ranker applies.
    * Degrees are the UNCAPPED distinct-neighbor counts (the true
    * denominator); the wedge-side hub cap only bounds candidate
    * GENERATION, mirroring q112 exactly.
    *
    * Scale shape: inherits q112's degree-capped wedge join; degrees are
    * a map-combinable groupBy-count joined twice on node keys. Top 50
    * under a total (score DESC, pair) order.
    */
  def jaccardLinks(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem").select("l_orderkey", "l_partkey")
      .filter(col("l_partkey") % 4 === 0)
    val edges = graft.CacheScope.persisted(
      li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") < col("b.l_partkey"))
        .select(col("a.l_partkey").as("pa"), col("b.l_partkey").as("pb"))
        .distinct())
    val deg = edges.select(col("pa").as("node"))
      .unionAll(edges.select(col("pb").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    graft.operators.Triangles.commonNeighbors(edges, "pa", "pb", maxDegree = 64)
      .filter(col("common_neighbors") >= 3)
      .join(deg.select(col("node").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), Seq("v"))
      .select(col("u").cast("bigint").as("part_a"),
        col("v").cast("bigint").as("part_b"), col("common_neighbors"),
        expr("""CAST(CAST(1000000 AS DECIMAL(38,0)) * common_neighbors
               |  div (du + dv - common_neighbors) AS BIGINT)"""
          .stripMargin).as("jaccard_ppm"))
      .orderBy(col("jaccard_ppm").desc, col("part_a"), col("part_b"))
      .limit(50)
  }

  val jaccardLinksOracle: String =
    """WITH li AS (
      |  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 4 = 0
      |), e1 AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM li a JOIN li b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |), adj AS (
      |  SELECT u AS c, v AS n FROM e1 UNION ALL SELECT v, u FROM e1
      |), deg AS (
      |  SELECT c AS node, count(*) AS deg FROM adj GROUP BY c
      |), capped AS (
      |  SELECT c, n FROM (
      |    SELECT c, n, count(*) OVER (PARTITION BY c) AS dc FROM adj)
      |  WHERE dc <= 64
      |), w AS (
      |  SELECT x.n AS u, y.n AS v
      |  FROM capped x JOIN capped y ON x.c = y.c AND x.n < y.n
      |), cn AS (
      |  SELECT u, v, count(*) AS common_neighbors FROM w GROUP BY u, v
      |)
      |SELECT CAST(cn.u AS BIGINT) AS part_a, CAST(cn.v AS BIGINT) AS part_b,
      |  cn.common_neighbors,
      |  CAST(CAST(1000000 AS HUGEINT) * cn.common_neighbors
      |    // (du.deg + dv.deg - cn.common_neighbors) AS BIGINT)
      |    AS jaccard_ppm
      |FROM cn
      |JOIN deg du ON du.node = cn.u
      |JOIN deg dv ON dv.node = cn.v
      |WHERE NOT EXISTS (SELECT 1 FROM e1 WHERE e1.u = cn.u AND e1.v = cn.v)
      |  AND cn.common_neighbors >= 3
      |ORDER BY jaccard_ppm DESC, part_a, part_b LIMIT 50""".stripMargin

  /** q185 — degree assortativity: the Pearson correlation of endpoint
    * degrees over every directed edge instance of the co-purchase
    * graph — positive means hubs link to hubs (social-network-like),
    * negative means hub-and-spoke (typical for catalogs). Sums are
    * exact integers; r is one fixed-shape double over them (q84
    * convention, 6 dp).
    *
    * Scale shape: degree is a map-combinable groupBy-count joined onto
    * the edge list by node key (twice); the moments are one
    * map-combinable fold. No window, no wedge expansion at all.
    */
  def degreeAssortativity(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem").select("l_orderkey", "l_partkey")
      .filter(col("l_partkey") % 4 === 0)
    val edges = graft.CacheScope.persisted(
      li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") < col("b.l_partkey"))
        .select(col("a.l_partkey").as("pa"), col("b.l_partkey").as("pb"))
        .distinct())
    val adj = edges.select(col("pa").as("c"), col("pb").as("n"))
      .unionAll(edges.select(col("pb").as("c"), col("pa").as("n")))
    val deg = adj.groupBy("c").agg(count(lit(1)).as("deg"))
    adj
      .join(deg.select(col("c"), col("deg").as("dx")), Seq("c"))
      .join(deg.select(col("c").as("n"), col("deg").as("dy")), Seq("n"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("dx")).as("sx"),
        sum(expr("CAST(dx AS DECIMAL(38,0)) * dx")).as("sxx"),
        sum(expr("CAST(dx AS DECIMAL(38,0)) * dy")).as("sxy"))
      .select(col("n_pairs").cast("bigint").as("n_pairs"),
        col("sx").cast("bigint").as("sx"),
        col("sxx").cast("bigint").as("sxx"),
        col("sxy").cast("bigint").as("sxy"),
        round(expr("""CAST(CAST(n_pairs AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)
               | / CAST(CAST(n_pairs AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)"""
          .stripMargin), 6).as("assortativity"))
  }

  val degreeAssortativityOracle: String =
    """WITH li AS (
      |  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 4 = 0
      |), e1 AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM li a JOIN li b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |), adj AS (
      |  SELECT u AS c, v AS n FROM e1 UNION ALL SELECT v, u FROM e1
      |), deg AS (
      |  SELECT c AS node, count(*) AS deg FROM adj GROUP BY c
      |), pr AS (
      |  SELECT dx.deg AS dx, dy.deg AS dy
      |  FROM adj JOIN deg dx ON dx.node = adj.c
      |           JOIN deg dy ON dy.node = adj.n
      |), a AS (
      |  SELECT count(*) AS n_pairs, sum(dx) AS sx,
      |    sum(CAST(dx AS HUGEINT) * dx) AS sxx,
      |    sum(CAST(dx AS HUGEINT) * dy) AS sxy
      |  FROM pr
      |)
      |SELECT CAST(n_pairs AS BIGINT) AS n_pairs, CAST(sx AS BIGINT) AS sx,
      |  CAST(sxx AS BIGINT) AS sxx, CAST(sxy AS BIGINT) AS sxy,
      |  round(CAST(CAST(n_pairs AS HUGEINT) * sxy
      |      - CAST(sx AS HUGEINT) * sx AS DOUBLE)
      |    / CAST(CAST(n_pairs AS HUGEINT) * sxx
      |      - CAST(sx AS HUGEINT) * sx AS DOUBLE), 6) AS assortativity
      |FROM a""".stripMargin

  /** q190 — functional-dependency profiling: audit a bounded list of
    * candidate A→B dependencies (the Metanome-style structure-discovery
    * pass a warehouse runs before trusting join keys or building dims):
    * for each candidate, how many LHS groups exist, how many violate
    * (more than one distinct RHS), and whether the FD holds. q14 checks
    * declared foreign keys; this DISCOVERS which determinations the
    * data actually supports.
    *
    * Scale shape: each candidate is one map-combinable two-level
    * aggregate (groupBy LHS → distinct RHS count → fold); candidates
    * are a bounded list unioned together. No windows, no joins.
    */
  def fdProfile(s: SparkSession, d: String): DataFrame = {
    def audit(df: DataFrame, name: String, lhs: String,
        rhs: String): DataFrame =
      df.groupBy(col(lhs)).agg(countDistinct(col(rhs)).as("nrhs"))
        .agg(count(lit(1)).as("n_lhs"),
          sum(when(col("nrhs") > 1, 1L).otherwise(0L)).as("n_violating"))
        .select(lit(name).as("fd"), col("n_lhs"), col("n_violating"),
          when(col("n_violating") === 0, 1L).otherwise(0L).as("holds"))
    audit(t(s, d, "customer"), "c_custkey->c_nationkey",
        "c_custkey", "c_nationkey")
      .unionAll(audit(t(s, d, "customer"), "c_nationkey->c_mktsegment",
        "c_nationkey", "c_mktsegment"))
      .unionAll(audit(t(s, d, "nation"), "n_nationkey->n_regionkey",
        "n_nationkey", "n_regionkey"))
      .unionAll(audit(t(s, d, "orders"), "o_custkey->o_orderpriority",
        "o_custkey", "o_orderpriority"))
      .unionAll(audit(t(s, d, "lineitem"), "l_partkey->l_suppkey",
        "l_partkey", "l_suppkey"))
      .orderBy("fd")
  }

  val fdProfileOracle: String =
    """WITH a1 AS (
      |  SELECT 'c_custkey->c_nationkey' AS fd, count(*) AS n_lhs,
      |    sum(CASE WHEN nrhs > 1 THEN 1 ELSE 0 END) AS n_violating
      |  FROM (SELECT c_custkey, count(DISTINCT c_nationkey) AS nrhs
      |        FROM customer GROUP BY 1)
      |), a2 AS (
      |  SELECT 'c_nationkey->c_mktsegment', count(*),
      |    sum(CASE WHEN nrhs > 1 THEN 1 ELSE 0 END)
      |  FROM (SELECT c_nationkey, count(DISTINCT c_mktsegment) AS nrhs
      |        FROM customer GROUP BY 1)
      |), a3 AS (
      |  SELECT 'n_nationkey->n_regionkey', count(*),
      |    sum(CASE WHEN nrhs > 1 THEN 1 ELSE 0 END)
      |  FROM (SELECT n_nationkey, count(DISTINCT n_regionkey) AS nrhs
      |        FROM nation GROUP BY 1)
      |), a4 AS (
      |  SELECT 'o_custkey->o_orderpriority', count(*),
      |    sum(CASE WHEN nrhs > 1 THEN 1 ELSE 0 END)
      |  FROM (SELECT o_custkey, count(DISTINCT o_orderpriority) AS nrhs
      |        FROM orders GROUP BY 1)
      |), a5 AS (
      |  SELECT 'l_partkey->l_suppkey', count(*),
      |    sum(CASE WHEN nrhs > 1 THEN 1 ELSE 0 END)
      |  FROM (SELECT l_partkey, count(DISTINCT l_suppkey) AS nrhs
      |        FROM lineitem GROUP BY 1)
      |), u AS (
      |  SELECT * FROM a1 UNION ALL SELECT * FROM a2 UNION ALL
      |  SELECT * FROM a3 UNION ALL SELECT * FROM a4 UNION ALL
      |  SELECT * FROM a5
      |)
      |SELECT fd, CAST(n_lhs AS BIGINT) AS n_lhs,
      |  CAST(n_violating AS BIGINT) AS n_violating,
      |  CAST(CASE WHEN n_violating = 0 THEN 1 ELSE 0 END AS BIGINT) AS holds
      |FROM u ORDER BY fd""".stripMargin

  /** q191 — promotion revenue share (the TPC-H Q14 shape): per ship
    * month, the permille of revenue earned by PROMO-type parts — the
    * conditional-aggregate-over-join pattern every campaign dashboard
    * runs. Revenue is exact decimal cents; the share is an exact
    * integer permille.
    *
    * Scale shape: one fact⋈part equality join with the part side a
    * broadcast projection (p_partkey, p_type), then a map-combinable
    * month rollup. Filters and the two-column part projection reach the
    * scans.
    */
  def promoShare(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .join(broadcast(t(s, d, "part").select("p_partkey", "p_type")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(date_format(col("l_shipdate").cast("date"), "yyyy-MM")
        .as("ship_month"))
      .agg(
        sum(expr("""CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                   |  * (1 - CAST(l_discount AS DECIMAL(4,2))) * 100
                   |  AS DECIMAL(38,0))""".stripMargin)).as("rev_c"),
        sum(expr("""CASE WHEN p_type = 'PROMO'
                   |  THEN CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                   |    * (1 - CAST(l_discount AS DECIMAL(4,2))) * 100
                   |    AS DECIMAL(38,0))
                   |  ELSE CAST(0 AS DECIMAL(38,0)) END""".stripMargin))
          .as("promo_c"))
      .select(col("ship_month"),
        col("rev_c").cast("bigint").as("rev_c"),
        col("promo_c").cast("bigint").as("promo_c"),
        expr("CAST(CAST(1000 AS DECIMAL(38,0)) * promo_c div rev_c AS BIGINT)")
          .as("promo_permille"))
      .orderBy("ship_month")

  val promoShareOracle: String =
    """WITH j AS (
      |  SELECT strftime(CAST(l_shipdate AS DATE), '%Y-%m') AS ship_month,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2))
      |      * (1 - CAST(l_discount AS DECIMAL(4,2))) * 100 AS HUGEINT)
      |      AS cents,
      |    p_type
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |), m AS (
      |  SELECT ship_month, sum(cents) AS rev_c,
      |    sum(CASE WHEN p_type = 'PROMO' THEN cents ELSE 0 END) AS promo_c
      |  FROM j GROUP BY 1
      |)
      |SELECT ship_month, CAST(rev_c AS BIGINT) AS rev_c,
      |  CAST(promo_c AS BIGINT) AS promo_c,
      |  CAST(CAST(1000 AS HUGEINT) * promo_c // rev_c AS BIGINT)
      |    AS promo_permille
      |FROM m ORDER BY ship_month""".stripMargin

  /** q192 — returned-revenue customers (the TPC-H Q10 shape): the top
    * 20 customers by revenue on RETURNED lines, with their nation — the
    * "who is sending things back" report joining the fact through
    * orders to two dims. Revenue is exact cents; the top-k order is
    * total (revenue DESC, custkey), so the LIMIT is deterministic.
    *
    * Scale shape: lineitem filters on the return flag AT THE SCAN, one
    * shuffle join to orders, broadcast joins to customer and nation,
    * one customer-keyed rollup, TakeOrdered for the top 20.
    */
  def returnedCustomers(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .filter(col("l_returnflag") === "R")
      .join(t(s, d, "orders").select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, d, "customer")
          .select("c_custkey", "c_name", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, d, "nation").select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(sum(expr("""CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                     |  * (1 - CAST(l_discount AS DECIMAL(4,2))) * 100
                     |  AS DECIMAL(38,0))""".stripMargin)).as("rev"))
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        col("rev").cast("bigint").as("returned_rev_c"))
      .orderBy(col("returned_rev_c").desc, col("c_custkey"))
      .limit(20)

  val returnedCustomersOracle: String =
    """SELECT c_custkey, c_name, n_name,
      |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
      |    * (1 - CAST(l_discount AS DECIMAL(4,2))) * 100 AS HUGEINT))
      |    AS BIGINT) AS returned_rev_c
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE l_returnflag = 'R'
      |GROUP BY c_custkey, c_name, n_name
      |ORDER BY returned_rev_c DESC, c_custkey LIMIT 20""".stripMargin

  /** q194 — exact expected shortfall (CVaR at 95%): per return flag,
    * the nearest-rank p95 price cut (VaR) and the exact mean of the
    * tail at-or-above it — the coherent tail-risk metric finance and
    * capacity planning both use, computed EXACTLY from prefix sums
    * rather than an interpolated percentile sketch. Ties at the cut are
    * handled by the closed form `tail = total − below − (k−1−n_below)·cut`
    * (the sub-k positions inside the cut's tie group all equal the
    * cut), so the result is bit-stable.
    *
    * Scale shape: one map-combinable by-value aggregate, then ONE
    * grouped-prefix pass ([[graft.operators.PrefixSum
    * .groupedExclusiveRunningTotals]]) computing BOTH prefixes (count
    * and value-mass) for ALL flags together — windows partition by
    * (flag, bucket) so no flag ever serializes into one task, and the
    * per-flag totals are a 3-row broadcast. (The first cut of this query
    * looped flags × measures through six single-column prefix pipelines —
    * six quantile sketches and caches for three rows of output; the
    * grouped pass is the same bit-exact math at one pipeline's cost:
    * 15.2 s → ~2 s at sf0.1.)
    */
  def expectedShortfall(s: SparkSession, d: String): DataFrame = {
    val byVal = t(s, d, "lineitem")
      .select(col("l_returnflag").as("flag"),
        graft.functions.Cents.cents(col("l_extendedprice"))
          .as("cents"))
      .groupBy("flag", "cents")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("mass", col("cnt") * col("cents"))
    // rank-row selection, not a full prefix pass: only the ONE by-value
    // row per flag straddling rank k feeds the closed form, so the
    // bounded bucket offsets locate each flag's cut bucket and the
    // running-sum window touches just that bucket's rows —
    // [[graft.operators.PrefixSum.groupedRankRow]] — instead of
    // windowing (and offset-joining) the whole price domain to then
    // discard all but 3 rows. Same bit-exact fields; the row-domain
    // window job (the query's dominant ~7 task-CPU-s) shrinks to a
    // bucket-sized one, at any scale.
    val cut = graft.operators.PrefixSum.groupedRankRow(
      byVal, Seq("flag"), col("cents"), col("cnt"),
      Seq((col("mass"), "sum")),
      kSql = "CAST((95 * total_cnt + 99) div 100 AS BIGINT)",
      broadcastCuts = true) // flags: a literal 3-value domain
    cut
      .select(col("flag"), col("total_cnt").cast("bigint").as("n"),
        col("k"), col("cut").as("var_c"),
        expr("""CAST((sum_grand - below_sum
               |  - (k - 1 - below_cnt) * CAST(cut AS DECIMAL(38,0)))
               |  div (total_cnt - k + 1) AS BIGINT)""".stripMargin).as("es_c"))
      .orderBy("flag")
  }

  val expectedShortfallOracle: String =
    """WITH bv AS (
      |  SELECT l_returnflag AS flag,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS cents,
      |    count(*) AS cnt
      |  FROM lineitem GROUP BY 1, 2
      |), pre AS (
      |  SELECT flag, cents, cnt,
      |    coalesce(sum(cnt) OVER (PARTITION BY flag ORDER BY cents
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS below_cnt,
      |    coalesce(sum(CAST(cnt AS HUGEINT) * cents) OVER (
      |      PARTITION BY flag ORDER BY cents
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS below_sum
      |  FROM bv
      |), tot AS (
      |  SELECT flag, sum(cnt) AS n,
      |    sum(CAST(cnt AS HUGEINT) * cents) AS total,
      |    (95 * sum(cnt) + 99) // 100 AS k
      |  FROM bv GROUP BY flag
      |)
      |SELECT pre.flag, CAST(tot.n AS BIGINT) AS n, CAST(tot.k AS BIGINT) AS k,
      |  pre.cents AS var_c,
      |  CAST((tot.total - pre.below_sum
      |    - (tot.k - 1 - pre.below_cnt) * CAST(pre.cents AS HUGEINT))
      |    // (tot.n - tot.k + 1) AS BIGINT) AS es_c
      |FROM pre JOIN tot ON pre.flag = tot.flag
      |WHERE pre.below_cnt < tot.k AND pre.below_cnt + pre.cnt >= tot.k
      |ORDER BY pre.flag""".stripMargin

  /** q195 — fulfilment SLA percentiles: per order priority, the exact
    * nearest-rank p50/p90/p99 of the order-to-ship lag in days — the
    * latency-SLO table every ops dashboard carries. The lag DOMAIN is
    * bounded (a shipping policy's worth of days), so the per-priority
    * cumulative runs over a domain-bounded aggregate (the q155
    * convention), never over raw rows.
    */
  def slaPercentiles(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byLag = t(s, d, "lineitem")
      .join(t(s, d, "orders").select("o_orderkey", "o_orderdate",
        "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority").as("priority"),
        datediff(col("l_shipdate").cast("date"),
          col("o_orderdate").cast("date")).cast("bigint").as("lag_days"))
      .groupBy("priority", "lag_days").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("priority").orderBy("lag_days")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = byLag.withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy("priority")))
    def pct(p: Int): Column =
      min(when(col("cum") >= expr(s"($p * n + 99) div 100"),
        col("lag_days"))).as(s"p$p")
    cum.groupBy("priority")
      .agg(max(col("n")).cast("bigint").as("n"), pct(50), pct(90), pct(99))
      .orderBy("priority")
  }

  val slaPercentilesOracle: String =
    """WITH bl AS (
      |  SELECT o_orderpriority AS priority,
      |    CAST(date_diff('day', CAST(o_orderdate AS DATE),
      |      CAST(l_shipdate AS DATE)) AS BIGINT) AS lag_days,
      |    count(*) AS cnt
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY 1, 2
      |), c AS (
      |  SELECT priority, lag_days, cnt,
      |    sum(cnt) OVER (PARTITION BY priority ORDER BY lag_days
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    sum(cnt) OVER (PARTITION BY priority) AS n
      |  FROM bl
      |)
      |SELECT priority, CAST(max(n) AS BIGINT) AS n,
      |  min(CASE WHEN cum >= (50 * n + 99) // 100 THEN lag_days END) AS p50,
      |  min(CASE WHEN cum >= (90 * n + 99) // 100 THEN lag_days END) AS p90,
      |  min(CASE WHEN cum >= (99 * n + 99) // 100 THEN lag_days END) AS p99
      |FROM c GROUP BY priority ORDER BY priority""".stripMargin

  /** q196 — Laspeyres price index: year-over-base price inflation of
    * the part catalog, weighting each part's unit-price change by its
    * BASE-year quantity (the CPI construction). Unit prices are exact
    * micro-cents via integer division; the index is an exact permille
    * over DECIMAL cross-products. Parts missing in either year drop
    * out (matched-model index).
    *
    * Scale shape: one (year, part) map-combinable rollup, an equality
    * self-join of each year against the base year on the part key, a
    * per-year fold. No windows.
    */
  def laspeyresIndex(s: SparkSession, d: String): DataFrame = {
    val yp = graft.CacheScope.persisted(
      t(s, d, "lineitem")
        .groupBy(year(col("l_shipdate").cast("date")).as("yr"),
          col("l_partkey"))
        .agg(sum(expr("CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS DECIMAL(38,0))")).as("cents"),
          sum(col("l_quantity").cast("bigint")).as("qty"))
        .select(col("yr"), col("l_partkey"), col("qty"),
          expr("CAST(cents * 1000000 div qty AS DECIMAL(38,0))")
            .as("unit_uc")))
    val base = yp.groupBy().agg(min(col("yr")).as("base_yr"))
    val b = yp.join(broadcast(base), col("yr") === col("base_yr"))
      .select(col("l_partkey"), col("qty").as("q0"),
        col("unit_uc").as("p0"), col("base_yr"))
    yp.join(b, Seq("l_partkey"))
      .groupBy(col("yr"), col("base_yr"))
      .agg(count(lit(1)).as("n_parts"),
        sum(expr("CAST(q0 AS DECIMAL(38,0)) * unit_uc")).as("num"),
        sum(expr("CAST(q0 AS DECIMAL(38,0)) * p0")).as("den"))
      .select(col("yr").cast("bigint").as("yr"),
        col("base_yr").cast("bigint").as("base_yr"), col("n_parts"),
        expr("CAST(CAST(1000 AS DECIMAL(38,0)) * num div den AS BIGINT)")
          .as("index_permille"))
      .orderBy("yr")
  }

  val laspeyresIndexOracle: String =
    """WITH yp AS (
      |  SELECT CAST(year(CAST(l_shipdate AS DATE)) AS BIGINT) AS yr,
      |    l_partkey,
      |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
      |      AS HUGEINT)) * 1000000
      |      // sum(CAST(l_quantity AS BIGINT)) AS HUGEINT) AS unit_uc,
      |    sum(CAST(l_quantity AS BIGINT)) AS qty
      |  FROM lineitem GROUP BY 1, 2
      |), b AS (
      |  SELECT l_partkey, qty AS q0, unit_uc AS p0, yr AS base_yr
      |  FROM yp WHERE yr = (SELECT min(yr) FROM yp)
      |)
      |SELECT yp.yr, b.base_yr, CAST(count(*) AS BIGINT) AS n_parts,
      |  CAST(CAST(1000 AS HUGEINT) * sum(CAST(q0 AS HUGEINT) * yp.unit_uc)
      |    // sum(CAST(q0 AS HUGEINT) * p0) AS BIGINT) AS index_permille
      |FROM yp JOIN b USING (l_partkey)
      |GROUP BY yp.yr, b.base_yr ORDER BY yp.yr""".stripMargin

  /** q197 — additive day-of-week seasonal decomposition: the weekly
    * profile of daily revenue (per-dow mean minus grand mean, exact
    * cents) and how much variance the profile explains — the
    * integer-exact core of an STL-style decomposition, and the
    * seasonality check that should precede any anomaly threshold on
    * daily metrics (q127's CUSUM assumes it). Variance terms ride
    * D·Σx² − S² integer forms; the explained share is exact ppm.
    *
    * Scale shape: one date-domain-bounded daily rollup, one 7-group
    * aggregate, one broadcast of the grand mean, one re-aggregate.
    */
  def dowSeasonality(s: SparkSession, d: String): DataFrame = {
    val daily = graft.CacheScope.persisted(
      t(s, d, "lineitem")
        .groupBy(col("l_shipdate").cast("date").as("dt"))
        .agg(sum(expr("CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS DECIMAL(38,0))"))
          .as("rev_c"))
        .select(col("dt"), dayofweek(col("dt")).cast("bigint").as("dow"),
          col("rev_c")))
    val glob = daily.agg(count(lit(1)).as("nd"),
        sum(col("rev_c")).as("s1"),
        sum(expr("rev_c * rev_c")).as("s2"))
      .select(col("nd"), col("s1"), col("s2"),
        expr("CAST(s1 div nd AS DECIMAL(38,0))").as("grand_mean"))
    daily.groupBy("dow")
      .agg(count(lit(1)).as("n_days"), sum(col("rev_c")).as("dsum"),
        sum(expr("rev_c * rev_c")).as("dsq"))
      .crossJoin(broadcast(glob))
      .select(col("dow"), col("n_days").cast("bigint").as("n_days"),
        expr("CAST(dsum div n_days AS BIGINT)").as("dow_mean_c"),
        expr("CAST(dsum div n_days - grand_mean AS BIGINT)")
          .as("seasonal_c"),
        // within-dow variance numerator vs the global one: the share of
        // total variance NOT explained by the weekly profile
        expr("""CAST(CAST(1000000 AS DECIMAL(38,0))
               |  * (n_days * dsq - dsum * dsum)
               |  div (n_days * (nd * s2 - s1 * s1)) AS BIGINT)"""
          .stripMargin).as("within_var_share_ppm"))
      .orderBy("dow")
  }

  val dowSeasonalityOracle: String =
    """WITH daily AS (
      |  SELECT CAST(l_shipdate AS DATE) AS dt,
      |    CAST(dayofweek(CAST(l_shipdate AS DATE)) AS BIGINT) AS dow_raw,
      |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
      |      AS HUGEINT)) AS HUGEINT) AS rev_c
      |  FROM lineitem GROUP BY 1, 2
      |), g AS (
      |  SELECT count(*) AS nd, sum(rev_c) AS s1, sum(rev_c * rev_c) AS s2,
      |    sum(rev_c) // count(*) AS grand_mean
      |  FROM daily
      |), dw AS (
      |  SELECT dow_raw + 1 AS dow, count(*) AS n_days, sum(rev_c) AS dsum,
      |    sum(rev_c * rev_c) AS dsq
      |  FROM daily GROUP BY 1
      |)
      |SELECT CAST(dow AS BIGINT) AS dow, CAST(n_days AS BIGINT) AS n_days,
      |  CAST(dsum // n_days AS BIGINT) AS dow_mean_c,
      |  CAST(dsum // n_days - grand_mean AS BIGINT) AS seasonal_c,
      |  CAST(CAST(1000000 AS HUGEINT) * (n_days * dsq - dsum * dsum)
      |    // (n_days * (nd * s2 - s1 * s1)) AS BIGINT)
      |    AS within_var_share_ppm
      |FROM dw, g ORDER BY dow""".stripMargin

  /** q198 — decile lift / gains table: rank events by the q170
    * pseudo-score, split into score deciles by exact rank, and report
    * each decile's capture of all purchases plus cumulative gains and
    * lift — THE model-triage chart ("top 20% of scores capture X% of
    * conversions"). Decile boundaries come from exact global ranks on
    * the bucketed [[graft.operators.PrefixSum]] (a domain-bounded
    * by-score aggregate), so ties land deterministically and no global
    * window exists.
    */
  def decileLift(s: SparkSession, d: String): DataFrame = {
    val byScore = t(s, d, "events")
      .select(
        least(expr("CAST(floor(value * 2000) AS BIGINT)"), lit(999999L))
          .as("score"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
      .groupBy("score")
      .agg(count(lit(1)).as("cnt"), sum(col("y")).as("pos"))
    // rank DESCENDING by score: highest scores in decile 1
    val ranked = graft.operators.PrefixSum.exclusiveRunningTotal(
      byScore.withColumn("neg", -col("score")),
      Seq(col("neg")), col("cnt"), "before")
    val glob = byScore.agg(sum(col("cnt")).as("n"), sum(col("pos")).as("p"))
    // a score value straddling a decile boundary is assigned wholly to
    // the decile of its FIRST row (exact-rank assignment; boundaries
    // fall between value groups deterministically)
    val dec = ranked.crossJoin(broadcast(glob))
      .select(expr("(10 * before) div n + 1").as("decile"),
        col("cnt"), col("pos"), col("n"), col("p"))
      .groupBy("decile")
      .agg(sum(col("cnt")).as("n_events"), sum(col("pos")).as("n_pos"),
        max(col("n")).as("n"), max(col("p")).as("p"))
    import org.apache.spark.sql.expressions.Window
    dec
      .withColumn("cum_pos", sum(col("n_pos")).over(
        Window.orderBy("decile")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("decile").cast("bigint").as("decile"),
        col("n_events").cast("bigint").as("n_events"),
        col("n_pos").cast("bigint").as("n_pos"),
        expr("""CAST(CAST(1000000 AS DECIMAL(38,0)) * n_pos div p
               |  AS BIGINT)""".stripMargin).as("capture_ppm"),
        expr("""CAST(CAST(1000000 AS DECIMAL(38,0)) * cum_pos div p
               |  AS BIGINT)""".stripMargin).as("cum_gains_ppm"),
        expr("""CAST(CAST(1000000 AS DECIMAL(38,0)) * n_pos * n
               |  div (CAST(n_events AS DECIMAL(38,0)) * p) AS BIGINT)"""
          .stripMargin).as("lift_ppm"))
      .orderBy("decile")
  }

  val decileLiftOracle: String =
    """WITH bs AS (
      |  SELECT least(CAST(floor(value * 2000) AS BIGINT), 999999) AS score,
      |    count(*) AS cnt,
      |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS pos
      |  FROM events GROUP BY 1
      |), r AS (
      |  SELECT score, cnt, pos,
      |    coalesce(sum(cnt) OVER (ORDER BY score DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
      |  FROM bs
      |), g AS (SELECT sum(cnt) AS n, sum(pos) AS p FROM bs),
      |dec AS (
      |  SELECT (10 * before) // n + 1 AS decile, sum(cnt) AS n_events,
      |    sum(pos) AS n_pos, max(n) AS n, max(p) AS p
      |  FROM r, g GROUP BY 1
      |), c AS (
      |  SELECT decile, n_events, n_pos, n, p,
      |    sum(n_pos) OVER (ORDER BY decile
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos
      |  FROM dec
      |)
      |SELECT CAST(decile AS BIGINT) AS decile,
      |  CAST(n_events AS BIGINT) AS n_events, CAST(n_pos AS BIGINT) AS n_pos,
      |  CAST(CAST(1000000 AS HUGEINT) * n_pos // p AS BIGINT) AS capture_ppm,
      |  CAST(CAST(1000000 AS HUGEINT) * cum_pos // p AS BIGINT)
      |    AS cum_gains_ppm,
      |  CAST(CAST(1000000 AS HUGEINT) * n_pos * n
      |    // (CAST(n_events AS HUGEINT) * p) AS BIGINT) AS lift_ppm
      |FROM c ORDER BY decile""".stripMargin

  // ------------------------------------------------------- registries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q02_dq_rule_engine" -> (dqRuleEngine(_, _)),
    "q03_quarantine_split" -> (quarantine(_, _)),
    "q04_dedup_window" -> (dedupWindow(_, _)),
    "q05_watermark_incremental" -> (watermarkIncremental(_, _)),
    "q06_cleanse_standardize" -> (cleanseStandardize(_, _)),
    "q07_bronze_validation" -> (bronzeValidation(_, _)),
    "q08_dim_date" -> (dimDate(_, _)),
    "q09_dim_member" -> (dimMember(_, _)),
    "q10_dim_provider" -> (dimProvider(_, _)),
    "q11_fact_star" -> (factStar(_, _)),
    "q12_monthly_rollup" -> (monthlyRollup(_, _)),
    "q53_incremental_rollup" -> (incrementalRollup(_, _)),
    "q13_merge_upsert" -> (mergeUpsert(_, _)),
    "q65_merge_evolved" -> (mergeEvolved(_, _)),
    "q66_csv_permissive" -> (csvPermissive(_, _)),
    "q14_refint_orphans" -> (refintOrphans(_, _)),
    "q15_table_stats" -> (tableStats(_, _)),
    "q16_top_members" -> (topMembers(_, _)),
    "q17_events_json" -> (eventsJson(_, _)),
    "q18_tumbling_windows" -> (tumblingWindows(_, _)),
    "q19_sliding_windows" -> (slidingWindows(_, _)),
    "q20_session_windows" -> (sessionWindows(_, _)),
    "q33_scd2_members" -> (scd2Members(_, _)),
    "q34_rollup_agg" -> (rollupAgg(_, _)),
    "q35_approx_distinct" -> (approxDistinct(_, _)),
    "q36_percentiles" -> (percentiles(_, _)),
    "q37_set_ops" -> (setOps(_, _)),
    "q38_pivot_revenue" -> (pivotRevenue(_, _)),
    "q39_range_join" -> (rangeJoinEvents(_, _)),
    "q40_asof_join" -> (asofJoinEvents(_, _)),
    "q41_provider_rollup" -> (providerRollup(_, _)),
    "q45_window_analytics" -> (windowAnalytics(_, _)),
    "q46_snowflake_revenue" -> (snowflakeRevenue(_, _)),
    "q60_salted_skew_join" -> (saltedSkewJoin(_, _)),
    "q61_cube_agg" -> (cubeAgg(_, _)),
    "q63_zorder_keys" -> (zorderKeys(_, _)),
    "q64_approx_percentile" -> (approxPercentileSketch(_, _)),
    "q76_pagerank" -> (pageRank(_, _)),
    "q77_window_analytics2" -> (windowAnalytics2(_, _)),
    "q80_gap_fill" -> (gapFill(_, _)),
    "q81_funnel" -> (funnel(_, _)),
    "q83_unpivot" -> (unpivotRevenue(_, _)),
    "q84_regression_stats" -> (regressionStats(_, _)),
    "q86_event_paths" -> (eventPaths(_, _)),
    "q87_skew_profile" -> (skewProfile(_, _)),
    "q88_grouping_sets" -> (groupingSets(_, _)),
    "q89_join_matrix" -> (joinMatrix(_, _)),
    "q92_subqueries" -> (subqueries(_, _)),
    "q94_group_mode" -> (groupMode(_, _)),
    "q95_pit_scd2" -> (pitScd2(_, _)),
    "q96_pagerank_directed" -> (pageRankDirected(_, _)),
    "q97_hll_merge" -> (hllMerge(_, _)),
    "q100_triangle_count" -> (triangleCounts(_, _)),
    "q101_ewma_smoothing" -> (ewmaSmoothing(_, _)),
    "q103_table_profile" -> (tableProfile(_, _)),
    "q107_price_outliers" -> (priceOutliers(_, _)),
    "q108_bfs_hops" -> (bfsHops(_, _)),
    "q109_label_propagation" -> (labelPropagationCommunities(_, _)),
    "q111_rolling_revenue" -> (rollingRevenue(_, _)),
    "q112_link_prediction" -> (linkPrediction(_, _)),
    "q116_basket_lift" -> (basketLift(_, _)),
    "q117_revenue_autocorr" -> (revenueAutocorr(_, _)),
    "q118_rfm_segmentation" -> (rfmSegmentation(_, _)),
    "q119_event_paths" -> (eventPathTrigrams(_, _)),
    "q120_zorder_values" -> (zorderValues(_, _)),
    "q121_mad_outliers" -> (madOutliers(_, _)),
    "q122_histogram_quantiles" -> (histogramQuantiles(_, _)),
    "q125_personalized_pagerank" -> (personalizedPageRank(_, _)),
    "q126_weighted_paths" -> (weightedPaths(_, _)),
    "q127_cusum_changepoint" -> (cusumChangepoint(_, _)),
    "q128_benford_digits" -> (benfordDigits(_, _)),
    "q132_sequence_gaps" -> (sequenceGaps(_, _)),
    "q133_zorder3_values" -> (zorder3Values(_, _)),
    "q138_snapshot_diff" -> (snapshotDiff(_, _)),
    "q139_kcore" -> (kcoreParts(_, _)),
    "q140_weighted_median" -> (weightedMedian(_, _)),
    "q154_mann_whitney" -> (mannWhitney(_, _)),
    "q155_winsorized_stats" -> (winsorizedStats(_, _)),
    "q156_spearman" -> (spearmanCorr(_, _)),
    "q157_decision_stump" -> (decisionStump(_, _)),
    "q158_target_encoding" -> (looTargetEncoding(_, _)),
    "q164_quantile_normalize" -> (quantileNormalize(_, _)),
    "q165_gini_spend" -> (giniSpend(_, _)),
    "q166_markov_transitions" -> (markovTransitions(_, _)),
    "q167_k_anonymity" -> (kAnonymity(_, _)),
    "q169_two_proportion" -> (twoProportionTest(_, _)),
    "q141_hilbert_values" -> (hilbertValues(_, _)),
    "q82_cohort_retention" -> (cohortRetention(_, _)),
    "q170_ece_calibration" -> (eceCalibration(_, _)),
    "q171_table_checksum" -> (tableChecksum(_, _)),
    "q172_seasonal_mase" -> (seasonalMase(_, _)),
    "q173_sole_late_supplier" -> (soleLateSupplier(_, _)),
    "q178_krippendorff_alpha" -> (krippendorffAlpha(_, _)),
    "q179_journey_patterns" -> (journeyPatterns(_, _)),
    "q180_poisson_bootstrap" -> (poissonBootstrap(_, _)),
    "q181_linear_attribution" -> (linearAttribution(_, _)),
    "q182_brier_decomposition" -> (brierDecomposition(_, _)),
    "q183_hazard_table" -> (hazardTable(_, _)),
    "q184_jaccard_links" -> (jaccardLinks(_, _)),
    "q185_degree_assortativity" -> (degreeAssortativity(_, _)),
    "q190_fd_profile" -> (fdProfile(_, _)),
    "q191_promo_share" -> (promoShare(_, _)),
    "q192_returned_customers" -> (returnedCustomers(_, _)),
    "q194_expected_shortfall" -> (expectedShortfall(_, _)),
    "q195_sla_percentiles" -> (slaPercentiles(_, _)),
    "q196_laspeyres_index" -> (laspeyresIndex(_, _)),
    "q197_dow_seasonality" -> (dowSeasonality(_, _)),
    "q198_decile_lift" -> (decileLift(_, _)),
  )

  def oracleSql: Map[String, String] = Map(
    "q02_dq_rule_engine" -> dqRuleEngineOracle,
    "q03_quarantine_split" -> quarantineOracle,
    "q04_dedup_window" -> dedupWindowOracle,
    "q05_watermark_incremental" -> watermarkIncrementalOracle,
    "q06_cleanse_standardize" -> cleanseStandardizeOracle,
    "q07_bronze_validation" -> bronzeValidationOracle,
    "q08_dim_date" -> dimDateOracle,
    "q09_dim_member" -> dimMemberOracle,
    "q10_dim_provider" -> dimProviderOracle,
    "q11_fact_star" -> factStarOracle,
    "q12_monthly_rollup" -> monthlyRollupOracle,
    "q53_incremental_rollup" -> incrementalRollupOracle,
    "q13_merge_upsert" -> mergeUpsertOracle,
    "q65_merge_evolved" -> mergeEvolvedOracle,
    "q66_csv_permissive" -> csvPermissiveOracle,
    "q14_refint_orphans" -> refintOrphansOracle,
    "q15_table_stats" -> tableStatsOracle,
    "q16_top_members" -> topMembersOracle,
    "q17_events_json" -> eventsJsonOracle,
    "q18_tumbling_windows" -> tumblingWindowsOracle,
    "q19_sliding_windows" -> slidingWindowsOracle,
    "q20_session_windows" -> sessionWindowsOracle,
    "q33_scd2_members" -> scd2MembersOracle,
    "q34_rollup_agg" -> rollupAggOracle,
    "q35_approx_distinct" -> approxDistinctOracle,
    "q36_percentiles" -> percentilesOracle,
    "q37_set_ops" -> setOpsOracle,
    "q38_pivot_revenue" -> pivotRevenueOracle,
    "q39_range_join" -> rangeJoinEventsOracle,
    "q40_asof_join" -> asofJoinEventsOracle,
    "q41_provider_rollup" -> providerRollupOracle,
    "q45_window_analytics" -> windowAnalyticsOracle,
    "q46_snowflake_revenue" -> snowflakeRevenueOracle,
    "q60_salted_skew_join" -> saltedSkewJoinOracle,
    "q61_cube_agg" -> cubeAggOracle,
    "q63_zorder_keys" -> zorderKeysOracle,
    "q64_approx_percentile" -> approxPercentileSketchOracle,
    "q76_pagerank" -> pageRankOracle,
    "q77_window_analytics2" -> windowAnalytics2Oracle,
    "q80_gap_fill" -> gapFillOracle,
    "q81_funnel" -> funnelOracle,
    "q83_unpivot" -> unpivotRevenueOracle,
    "q84_regression_stats" -> regressionStatsOracle,
    "q86_event_paths" -> eventPathsOracle,
    "q87_skew_profile" -> skewProfileOracle,
    "q88_grouping_sets" -> groupingSetsOracle,
    "q89_join_matrix" -> joinMatrixOracle,
    "q92_subqueries" -> subqueriesOracle,
    "q94_group_mode" -> groupModeOracle,
    "q95_pit_scd2" -> pitScd2Oracle,
    "q96_pagerank_directed" -> pageRankDirectedOracle,
    "q97_hll_merge" -> hllMergeOracle,
    "q100_triangle_count" -> triangleCountsOracle,
    "q101_ewma_smoothing" -> ewmaSmoothingOracle,
    "q103_table_profile" -> tableProfileOracle,
    "q107_price_outliers" -> priceOutliersOracle,
    "q108_bfs_hops" -> bfsHopsOracle,
    "q109_label_propagation" -> labelPropagationOracle,
    "q111_rolling_revenue" -> rollingRevenueOracle,
    "q112_link_prediction" -> linkPredictionOracle,
    "q116_basket_lift" -> basketLiftOracle,
    "q117_revenue_autocorr" -> revenueAutocorrOracle,
    "q118_rfm_segmentation" -> rfmSegmentationOracle,
    "q119_event_paths" -> eventPathTrigramsOracle,
    "q120_zorder_values" -> zorderValuesOracle,
    "q121_mad_outliers" -> madOutliersOracle,
    "q122_histogram_quantiles" -> histogramQuantilesOracle,
    "q125_personalized_pagerank" -> personalizedPageRankOracle,
    "q126_weighted_paths" -> weightedPathsOracle,
    "q127_cusum_changepoint" -> cusumChangepointOracle,
    "q128_benford_digits" -> benfordDigitsOracle,
    "q132_sequence_gaps" -> sequenceGapsOracle,
    "q133_zorder3_values" -> zorder3ValuesOracle,
    "q138_snapshot_diff" -> snapshotDiffOracle,
    "q139_kcore" -> kcorePartsOracle,
    "q140_weighted_median" -> weightedMedianOracle,
    "q154_mann_whitney" -> mannWhitneyOracle,
    "q155_winsorized_stats" -> winsorizedStatsOracle,
    "q156_spearman" -> spearmanCorrOracle,
    "q157_decision_stump" -> decisionStumpOracle,
    "q158_target_encoding" -> looTargetEncodingOracle,
    "q164_quantile_normalize" -> quantileNormalizeOracle,
    "q165_gini_spend" -> giniSpendOracle,
    "q166_markov_transitions" -> markovTransitionsOracle,
    "q167_k_anonymity" -> kAnonymityOracle,
    "q169_two_proportion" -> twoProportionTestOracle,
    "q141_hilbert_values" -> hilbertValuesOracle,
    "q82_cohort_retention" -> cohortRetentionOracle,
    "q170_ece_calibration" -> eceCalibrationOracle,
    "q171_table_checksum" -> tableChecksumOracle,
    "q172_seasonal_mase" -> seasonalMaseOracle,
    "q173_sole_late_supplier" -> soleLateSupplierOracle,
    "q178_krippendorff_alpha" -> krippendorffAlphaOracle,
    "q179_journey_patterns" -> journeyPatternsOracle,
    "q180_poisson_bootstrap" -> poissonBootstrapOracle,
    "q181_linear_attribution" -> linearAttributionOracle,
    "q182_brier_decomposition" -> brierDecompositionOracle,
    "q183_hazard_table" -> hazardTableOracle,
    "q184_jaccard_links" -> jaccardLinksOracle,
    "q185_degree_assortativity" -> degreeAssortativityOracle,
    "q190_fd_profile" -> fdProfileOracle,
    "q191_promo_share" -> promoShareOracle,
    "q192_returned_customers" -> returnedCustomersOracle,
    "q194_expected_shortfall" -> expectedShortfallOracle,
    "q195_sla_percentiles" -> slaPercentilesOracle,
    "q196_laspeyres_index" -> laspeyresIndexOracle,
    "q197_dow_seasonality" -> dowSeasonalityOracle,
    "q198_decile_lift" -> decileLiftOracle,
  )
}
