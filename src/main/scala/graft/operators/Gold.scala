package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Gold-layer operator set: date dimension generator, SCD Type-1 dims with
  * deterministic surrogate keys, fact build with surrogate-key resolution,
  * and aggregate rollup tables (SURVEY.md §2.11 D9–D12).
  *
  * Reference semantics: /root/reference/gold/gold_rx_claims_load.py
  * (dim_date :28-81, dim builds :84-151, fact :154-234, aggregates
  * :237-245 — truncated in the reference; reconstructed from its imports
  * of sum/count/avg/max at gold:10). Reference bugs fixed here:
  * B2 (`Column.replace` date_key) → `date_format(..., "yyyyMMdd")`;
  * B5 (timestamp-vs-date dim join key) → both sides normalized to DATE;
  * nondeterministic `monotonically_increasing_id` surrogate keys
  * (gold:108,142,207) → `row_number` over the natural key, so keys are
  * stable across runs/partitionings and oracle-comparable.
  */
object Gold {

  /** D9: calendar dimension 2020-01-01..2030-12-31 (4,018 rows), generated
    * distributively via `sequence` + `explode` instead of the reference's
    * 4,018-iteration driver loop + createDataFrame (gold:38-48). At any
    * scale this is one tiny task; no data ever ships from the driver.
    */
  def dimDate(spark: SparkSession, start: String = "2020-01-01",
      end: String = "2030-12-31"): DataFrame = {
    spark.range(1)
      .select(explode(sequence(
        to_date(lit(start)), to_date(lit(end)), expr("interval 1 day")))
        .as("date_value"))
      .withColumn("date_key", date_format(col("date_value"), "yyyyMMdd").cast("int"))
      .withColumn("year", year(col("date_value")))
      .withColumn("month", month(col("date_value")))
      .withColumn("day", dayofmonth(col("date_value")))
      .withColumn("quarter", quarter(col("date_value")))
      .withColumn("day_of_week", dayofweek(col("date_value")))
      .withColumn("week_of_year", weekofyear(col("date_value")))
      .withColumn("is_weekend", dayofweek(col("date_value")).isin(1, 7))
      .withColumn("month_name", date_format(col("date_value"), "MMMM"))
  }

  /** Deterministic surrogate key: dense row_number over the ascending
    * natural-key order. Replaces `monotonically_increasing_id`
    * (gold:108,142,207) whose values depend on partition layout.
    *
    * Scale path: a global `row_number() over (order by key)` window moves
    * the whole dimension to ONE task; instead this is the bucketed
    * two-phase [[PrefixSum]] (row_number ≡ exclusive running count + 1),
    * bit-identical to the single-partition window at any parallelism.
    * `naturalOrder` must be ascending and a total order; the leading
    * column should be natively numeric for bucket spread (any other
    * type — including digit strings, whose double order disagrees with
    * their sort order — degrades to one bucket: correct, not parallel).
    * 16 buckets (not more): the per-row bucket/offset expressions are
    * O(buckets) when-chains, and a dimension small enough to broadcast
    * into the fact build doesn't need wider window parallelism — any
    * monotone bucketing yields the identical key assignment.
    */
  def withSurrogateKey(df: DataFrame, keyName: String, naturalOrder: Seq[Column],
      buckets: Int = 16): DataFrame =
    PrefixSum.exclusiveRunningTotal(df, naturalOrder, lit(1L), keyName, buckets)
      .withColumn(keyName, col(keyName) + lit(1L))

  /** A surrogate-keyed dimension in its two steps: `columns`, the lazy
    * pre-key projection, and [[keyed]], which adds `keyName` by
    * [[withSurrogateKey]] over `naturalOrder`. Building `columns` starts
    * no job, so a caller can decide from it whether the dimension needs
    * building at all before [[keyed]] runs the key step's jobs.
    */
  final case class KeyedDim(columns: DataFrame, keyName: String, naturalOrder: Seq[Column]) {
    /** `columns` with its surrogate key; starts [[PrefixSum]]'s jobs. */
    def keyed: DataFrame = withSurrogateKey(columns, keyName, naturalOrder)
  }

  /** D10: SCD Type-1 member dimension from `customer` (full-refresh
    * projection + surrogate key, gold:84-117), unbuilt.
    */
  def memberDim(customer: DataFrame): KeyedDim =
    KeyedDim(
      customer.select(
        col("c_custkey").as("member_id"),
        upper(trim(col("c_name"))).as("member_name"),
        col("c_nationkey").as("nation_key"),
        col("c_acctbal").cast(DecimalType(18, 2)).as("account_balance"),
        col("c_mktsegment").as("segment")),
      "member_sk", Seq(col("member_id")))

  /** D10: the member dimension, built. */
  def dimMember(customer: DataFrame): DataFrame = memberDim(customer).keyed

  /** D10: SCD Type-1 provider dimension from `supplier` (gold:120-151),
    * unbuilt.
    */
  def providerDim(supplier: DataFrame): KeyedDim =
    KeyedDim(
      supplier.select(
        col("s_suppkey").as("provider_id"),
        upper(trim(col("s_name"))).as("provider_name"),
        col("s_nationkey").as("nation_key"),
        col("s_acctbal").cast(DecimalType(18, 2)).as("account_balance")),
      "provider_sk", Seq(col("provider_id")))

  /** D10: the provider dimension, built. */
  def dimProvider(supplier: DataFrame): DataFrame = providerDim(supplier).keyed

  /** The fact build's dimension inputs reduced to what it actually joins
    * on: (natural key → surrogate key) for member AND provider, computed
    * in ONE grouped prefix-sum pass over the unioned key sets instead of
    * two independent bucketed pipelines (one cache + one quantile sketch
    * + one offsets collect EACH — the preamble was ~40% of the fact
    * build's stages). Keys are bit-identical to [[dimMember]] /
    * [[dimProvider]]: row_number over the ascending natural key per
    * table, here via [[PrefixSum.groupedExclusiveRunningTotals]]
    * partitioned by a table tag (2 groups — literal-bounded, so the
    * offsets broadcast). Both returned frames slice the SAME pass; its
    * row-scale intermediate is persisted inside the grouped operator, so
    * the second broadcast build re-reads a cache, not the tables.
    */
  def dimKeyRanks(customer: DataFrame, supplier: DataFrame)
      : (DataFrame, DataFrame) = {
    val keys = customer.select(lit("m").as("__tag"), col("c_custkey").as("__id"))
      .unionByName(supplier.select(lit("p").as("__tag"), col("s_suppkey").as("__id")))
    val ranked = PrefixSum.groupedExclusiveRunningTotals(keys, Seq("__tag"),
        Seq(col("__id")), Seq((lit(1L), "__sk0")), buckets = 16,
        broadcastOffsets = true)
      .withColumn("__sk", col("__sk0") + 1L)
    (ranked.filter(col("__tag") === "m")
       .select(col("__id").as("member_id"), col("__sk").as("member_sk")),
     ranked.filter(col("__tag") === "p")
       .select(col("__id").as("provider_id"), col("__sk").as("provider_sk")))
  }

  /** D11: fact build — resolve surrogate keys via left joins to the dims
    * (gold:167-187) and derive metrics (gold:189-205;
    * member_responsibility ≡ billed − paid → here `charge = price·(1−disc)`
    * and `charge_with_tax`). Member/provider/date dims are broadcast —
    * dimension size is bounded, so the fact side never shuffles for them
    * at 1000 executors. The date dim is joined TWICE via aliased reuse
    * (service role on ship_date, order role on order_date), matching the
    * reference's dual dim_date resolution (gold:179-187).
    *
    * lineitem⋈orders is fact-to-fact (header:line ~ 1:4): it gets NO
    * broadcast hint — at scale orders is unbounded and must shuffle on the
    * join key (or arrive bucket-co-located; see LayerIO.writeBucketed).
    * AQE is free to broadcast it only when runtime stats say it fits.
    */
  def factLines(lineitem: DataFrame, orders: DataFrame, dimMember: DataFrame,
      dimProvider: DataFrame, dimDate: DataFrame): DataFrame = {
    // Integer-carrier construction of the exact decimal money columns:
    // E = cents(price), D = cents(discount), T = cents(tax) are exact
    // BIGINTs on the 2-dp input domain (CentsSpec pins all three fixture
    // columns AND the cents == decimal-cast equivalence), so
    //   billed_amount   = E                  at DECIMAL(18,2)
    //   charge          = E·(100−D)          at DECIMAL(18,4)
    //   charge_with_tax = E·(100−D)·(100+T)  at DECIMAL(18,6)
    // reproduce the decimal cast-multiply-cast chain's values EXACTLY
    // (the products are the chain's own unscaled integers; MakeDecimal
    // wraps them with no arithmetic) while the per-row work drops from
    // three double→BigDecimal casts + three BigDecimal multiplies to
    // double rounds and long multiplies — the fact build's generated
    // loop was the family's densest per-row CPU (q11 16.2 task-CPU-s at
    // bench scale). Overflow: |E·200·200| crosses 2^63 only past ~2.3e14
    // dollars per LINE — outside DECIMAL(18,2)'s own money domain — and
    // fails ANSI-loud, like the old chain's (18,x) precision checks.
    val priceC = graft.functions.Cents.cents(col("l_extendedprice"))
    val discC = graft.functions.Cents.cents(col("l_discount"))
    val taxC = graft.functions.Cents.cents(col("l_tax"))
    val li = lineitem.withColumn("ship_date", to_date(col("l_shipdate")))
    // both date roles join one broadcast frame under two aliases, so the
    // plan broadcasts dim_date once and reuses that exchange
    val dates = broadcast(dimDate.select(col("date_value"), col("date_key")))
    li.join(orders.select(col("o_orderkey"), col("o_custkey"),
        to_date(col("o_orderdate")).as("order_date"), col("o_orderstatus")),
        col("l_orderkey") === col("o_orderkey"), "left")
      .join(broadcast(dimMember.select(col("member_id"), col("member_sk"))),
        col("o_custkey") === col("member_id"), "left")
      .join(broadcast(dimProvider.select(col("provider_id"), col("provider_sk"))),
        col("l_suppkey") === col("provider_id"), "left")
      .join(dates.as("service_dd"), col("ship_date") === col("service_dd.date_value"), "left")
      .join(dates.as("order_dd"), col("order_date") === col("order_dd.date_value"), "left")
      .select(
        col("l_orderkey").as("claim_id"),
        col("l_linenumber").as("claim_line_number"),
        col("member_sk"), col("provider_sk"),
        col("service_dd.date_key").as("service_date_key"),
        col("order_dd.date_key").as("order_date_key"),
        col("order_date"), col("o_orderstatus").as("order_status"),
        col("l_quantity").as("quantity"),
        graft.functions.Cents.fromUnscaled(priceC, 2, 18).as("billed_amount"),
        // exact-decimal values via integer carriers (see the header
        // comment): identical in any engine at any parallelism, no
        // double-rounding ties — and no per-row BigDecimal arithmetic
        graft.functions.Cents.fromUnscaled(
          priceC * (lit(100L) - discC), 4, 18).as("charge"),
        graft.functions.Cents.fromUnscaled(
          priceC * (lit(100L) - discC) * (lit(100L) + taxC), 6, 18)
          .as("charge_with_tax"))
  }

  /** SCD Type-2 dimension maintenance. The reference docs declare Type 2
    * history for the member dimension
    * (/root/reference/bronze_silver_gold/readme.md:56) but the code only
    * ships Type-1 full refresh (gold:84-117) — this implements the
    * declared semantics: closing changed versions at `effective`,
    * inserting new versions, passing history and unchanged rows through,
    * and inserting brand-new keys.
    *
    * `current` carries (attrs…, effective_from DATE, effective_to DATE
    * nullable, is_current BOOLEAN); `incoming` carries bare attrs.
    * Change detection is null-safe on `compareCols`, and EVERY key join
    * is null-safe too ([[Joins]]): a NULL business key is one key value
    * — matched, closed, versioned, and (critically) NOT re-inserted as
    * a fresh current row on every run, which the plain USING joins did.
    * A NULL `is_current` (only possible in an externally-written table)
    * reads as not-current: the row passes through as history rather
    * than vanishing from both filters. The changed-key set is small by
    * nature (a daily delta), so it broadcasts; the dimension never
    * shuffles.
    */
  def scdType2(current: DataFrame, incoming: DataFrame, keys: Seq[String],
      compareCols: Seq[String], effective: Column): DataFrame = {
    val attrs = incoming.columns.toSeq
    val isCur = coalesce(col("is_current"), lit(false))
    val cur = current.filter(isCur)
    // persisted: three consumers below each broadcast this set, and
    // without it every broadcast re-runs the change-detection join
    val changedKeys = graft.CacheScope.persisted(
      cur.as("c").join(incoming.as("i"),
          keys.map(k => col(s"c.$k") <=> col(s"i.$k")).reduce(_ && _))
        .filter(compareCols.map(c => !(col(s"c.$c") <=> col(s"i.$c"))).reduce(_ || _))
        .select(keys.map(k => col(s"c.$k")): _*))
    val closed = Joins.semi(cur, broadcast(changedKeys), keys)
      .withColumn("effective_to", effective.cast("date"))
      .withColumn("is_current", lit(false))
    val newVersions = Joins.semi(incoming, broadcast(changedKeys), keys)
      .select(attrs.map(col): _*)
      .withColumn("effective_from", effective.cast("date"))
      .withColumn("effective_to", lit(null).cast("date"))
      .withColumn("is_current", lit(true))
    // anti-join against the CURRENT slice, not full history: a key
    // whose only rows are closed-out history (no is_current version)
    // must get its incoming row INSERTED as the new current version —
    // the Delta MERGE semantics this mirrors. Against full `current`
    // the history row would swallow the match and the reinserted key's
    // new version silently vanished.
    val inserts = Joins.anti(incoming, cur, keys)
      .select(attrs.map(col): _*)
      .withColumn("effective_from", effective.cast("date"))
      .withColumn("effective_to", lit(null).cast("date"))
      .withColumn("is_current", lit(true))
    // history rows pass through untouched regardless of key; only the
    // CURRENT row of a changed key is replaced by `closed`
    val untouched = current.filter(!isCur)
      .unionByName(Joins.anti(cur, broadcast(changedKeys), keys))
    untouched.unionByName(closed).unionByName(newVersions).unionByName(inserts)
  }

  /** D12: provider-level aggregate table (the reference's truncated
    * build_aggregation_tables intended per-dimension rollups; gold:10's
    * imports show sum/count/avg/max).
    */
  def providerRollup(fact: DataFrame): DataFrame =
    fact.groupBy(col("provider_sk"))
      .agg(
        count(lit(1)).as("n_lines"),
        // exact integer aggregation internally (unscaled BIGINT carrier
        // of the DECIMAL(18,4) charge — primitive sum/max in the
        // generated loop, values identical to the decimal domain's),
        // double in the OUTPUT: decimal renderings are not
        // engine-portable (VERDICT r1 #1)
        sum(graft.functions.Cents.unscaled(col("charge"))).as("tc4"),
        max(graft.functions.Cents.unscaled(col("charge"))).as("mc4"),
        min(col("service_date_key")).as("first_service_key"),
        max(col("service_date_key")).as("last_service_key"))
      .select(col("provider_sk"), col("n_lines"),
        graft.functions.Cents.fromUnscaled(col("tc4"), 4).cast("double")
          .as("total_charge"),
        (graft.functions.Cents.fromUnscaled(col("tc4"), 4).cast("double")
          / col("n_lines")).as("avg_charge"),
        graft.functions.Cents.fromUnscaled(col("mc4"), 4).cast("double")
          .as("max_charge"),
        col("first_service_key"), col("last_service_key"))

  /** D12: aggregate rollup of the fact by calendar month — the truncated
    * `build_aggregation_tables` reconstructed with its imported aggregates
    * (sum/count/avg/max, gold:10). Decimal sums make the rollup exactly
    * order-independent, so results are identical on 1 or 1000 executors.
    */
  def monthlyRollup(fact: DataFrame): DataFrame =
    presentRollup(monthlyRollupPartial(fact))

  /** The (service_date_key, charge_c4) projection the monthly-rollup
    * family aggregates over: the DECIMAL(18,4) charge as its unscaled
    * BIGINT carrier ([[graft.functions.Cents.unscaled]] — a free read of
    * the compact decimal's long). Exposed so the incremental path (q53)
    * can persist THIS two-primitive-column frame instead of the full
    * 12-column fact: the cache holds (int, long) rows, column pruning
    * reaches back into the fact build, and both rollup scans sum longs
    * straight off the cache.
    */
  def rollupInput(fact: DataFrame): DataFrame =
    fact.select(col("service_date_key"),
      graft.functions.Cents.unscaled(col("charge")).as("charge_c4"))

  /** The rollup's MERGEABLE partial form: exact integer sums and maxes
    * (unscaled 10^-4-dollar carriers of the exact decimal charge), no
    * derived columns. Because every column is an exact partial aggregate
    * (count/sum/max — no avg, no rounding anywhere), two partial tables
    * merge with [[mergeRollup]] into EXACTLY the table a full recompute
    * yields — the invariant incremental maintenance rests on. Carrier
    * overflow: a per-month sum wraps above ~9.2e14 dollars — see
    * [[graft.functions.Cents]].
    */
  def monthlyRollupPartial(fact: DataFrame): DataFrame =
    monthlyRollupPartialC4(rollupInput(fact))

  /** [[monthlyRollupPartial]] over a pre-projected [[rollupInput]]. */
  def monthlyRollupPartialC4(in: DataFrame): DataFrame =
    // integer `div`, not `/`+cast: Spark casts double→int by truncation but
    // other engines round, so floating division is not oracle-portable
    in.groupBy(expr("CAST(service_date_key div 100 AS INT)").as("year_month"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(col("charge_c4")).as("total_charge_c4"),
        max(col("charge_c4")).as("max_charge_c4"))

  /** Incremental-maintenance merge: combine partial rollups (an existing
    * aggregate table plus a delta batch's partials) by key — counts and
    * decimal sums add, maxes max. At 100 TB this is the materialized-view
    * refresh path: the delta scan plus a merge over the (tiny) aggregate
    * keys, never a rescan of the full fact.
    */
  def mergeRollup(parts: DataFrame*): DataFrame =
    parts.reduce(_ unionByName _)
      .groupBy(col("year_month"))
      .agg(
        sum(col("n_lines")).as("n_lines"),
        sum(col("total_charge_c4")).as("total_charge_c4"),
        max(col("max_charge_c4")).as("max_charge_c4"))

  /** Presentation projection shared by the full and incremental paths:
    * exact integer partials → portable double outputs. The carriers are
    * reinterpreted as DECIMAL(38,4) ([[graft.functions.Cents.fromUnscaled]],
    * no arithmetic) before the double cast, so the rendering is
    * bit-identical to casting the decimal-domain aggregate (+ derived avg
    * via double division of the exact sum — identical to the oracle's
    * CAST(SUM(..) AS DOUBLE)/COUNT(*); decimal division scale rules
    * differ per engine).
    */
  def presentRollup(partial: DataFrame): DataFrame =
    partial.select(
      col("year_month"),
      col("n_lines"),
      graft.functions.Cents.fromUnscaled(col("total_charge_c4"), 4)
        .cast("double").as("total_charge"),
      (graft.functions.Cents.fromUnscaled(col("total_charge_c4"), 4)
        .cast("double") / col("n_lines")).as("avg_charge"),
      graft.functions.Cents.fromUnscaled(col("max_charge_c4"), 4)
        .cast("double").as("max_charge"))
}
