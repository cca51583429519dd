package graft

import org.apache.spark.sql.catalyst.plans.logical

/** Registry-wide plan hygiene: no query may introduce a partition-less
  * Window (single-task funnel) or an unhinted cartesian join unless it
  * is on the enumerated bounded-input allowlist. `tools.PlanAudit` is
  * the ad-hoc form of this sweep; this spec freezes its findings so a
  * new query that funnels data-scaled rows through one task fails CI.
  */
class PlanHygieneSpec extends SparkSpec {

  /** Queries whose global window provably runs over a BOUNDED row set
    * (sketch bins / replicate means / decile tables), or whose
    * cartesian is a broadcast scalar — each justified in its scaladoc.
    */
  private val allowedGlobalWindow = Set(
    "q122_histogram_quantiles", // 256 sketch bins
    "q123_pareto_frontier",     // bounded bucket frontier table
    "q127_cusum_changepoint",   // per-month aggregate (bounded months)
    "q145_sketch_ks_drift",     // sketch bins
    "q157_decision_stump",      // 3 windows over 256-bin histograms
    "q180_poisson_bootstrap",   // 64 replicate means
    "q198_decile_lift",         // 10-row decile table
    "q213_dedup_mixture_shift", // totals over the per-source aggregate
                                // (source is a curated enum, single digits)
    "q215_seasonal_decompose",  // bounded months table (years × 12)
    "q230_degree_distribution", // CCDF over the distinct-degree table
    "q239_deseasonalized_growth", // embeds q215's bounded months window
    "q259_theil_sen"            // pairwise-slope value domain: months²
  )
  private val allowedCartesian = Set(
    "q110_pmi_collocations",    // broadcast scalar total
    "q89_join_matrix"           // declared bounded dimension matrix
  )

  /** Queries with a PARTITIONED window whose input subtree reaches a
    * Join/Union without an Aggregate in between (the r07 PageRank
    * hub-funnel class, PlanAudit.joinKeyedWindows). Every entry must
    * justify why the partition sizes are bounded anyway — typically a
    * broadcast-side join contributing one row per key, or a partition
    * key whose group size is domain-bounded.
    */
  private val allowedJoinKeyWindow = Set(
    // NOTE (r16): the PrefixSum family's (group, bucket) offsets-join
    // windows are no longer allowlisted BY QUERY — the checker itself
    // recognizes the shape structurally (PlanAudit.joinKeyedWindows
    // skips windows partitioned on __ps_bucket/__rr_bucket), so the
    // former entries for q194/q140/q217/q243/q244/q11/q41 are gone and
    // the audit stays live for any OTHER join-keyed window in them.
    // per-query probe windows over a crossJoin with a BROADCAST
    // kCoarse-row centroid table — partition size = kCoarse
    "q147_ivfpq_ann",
    "q149_ivfpq_recall",
    // per-source rank interleave/negative draws over bucketed tables
    // whose per-partition sizes are capped by construction
    "q175_curriculum_interleave",
    "q176_negative_sampling",
    // per-source chi2 ranking over the bounded per-source vocabulary
    // join of two aggregate tables (1 row per (source, term))
    "q228_chi2_keywords",
    // as-of union + running-last window per entity: partition sizes =
    // per-key event counts (the single-shuffle as-of formulation; the
    // scale variant would range-bucket time like PrefixSum)
    "q40_asof_join",
    // per-document windows after joins contributing <=1 row per span/
    // term — partition sizes bounded by document length
    "q70_span_dedup",
    "q71_tfidf_terms",
    // query-term selection window per eval doc over its own vocabulary
    // joined 1:1 with the term-df table and a 1-row stats broadcast —
    // partition sizes bounded by per-document vocabulary
    "q252_bm25_decontamination",
    // per-member window over the month-domain fill join (bounded months)
    "q80_gap_fill",
    // per-cluster exemplar ranking over the CC label join (1 label row
    // per doc); cluster sizes are near-dup groups, small by nature
    "q91_canonical_docs",
    // same shape as q91 (cluster-partitioned rank over the CC label
    // join); visible to the checker only since r14, when q213 stopped
    // hiding its pipeline inside a persisted (cache-leaf) subtree
    "q213_dedup_mixture_shift"
  )

  test("no unapproved global windows or cartesian joins in any query") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try {
          val df = fn(spark, sf)
          val plan = df.queryExecution.optimizedPlan
          val gw = plan.collect {
            case w: logical.Window if w.partitionSpec.isEmpty => w
          }.nonEmpty
          val cj = plan.collect {
            case j: logical.Join
                if j.condition.isEmpty && j.hint.leftHint.isEmpty &&
                  j.hint.rightHint.isEmpty => j
          }.nonEmpty
          val jkw = tools.PlanAudit.joinKeyedWindows(plan).nonEmpty
          // lineage must resolve on EVERY registry plan (same
          // queryExecution — free): each output column accounted for,
          // extractor total over the full plan-shape diversity
          val lin = tools.ColumnLineage.lineage(df)
          val linBad = df.columns.filterNot(lin.contains)
          val bad =
            (if (gw && !allowedGlobalWindow(name)) Seq(s"$name:globalWindow")
             else Nil) ++
            (if (cj && !allowedCartesian(name)) Seq(s"$name:cartesian")
             else Nil) ++
            (if (jkw && !allowedJoinKeyWindow(name))
               Seq(s"$name:joinKeyWindow") else Nil) ++
            (if (linBad.nonEmpty)
               Seq(s"$name:lineageMissing:${linBad.mkString("|")}") else Nil)
          bad
        } catch {
          case e: Throwable => Seq(s"$name:ERR:${e.getClass.getSimpleName}")
        } finally CacheScope.drain(spark)
    }
    assert(offenders.isEmpty, offenders.mkString(", "))
  }

  test("joinKeyedWindows exempts only the bucket-partitioned window over a join") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, row_number, sum}
    val a = spark.range(100).select(col("id").as("k"), (col("id") * 2).as("v"))
    val b = spark.range(100).select(col("id").as("k"), (col("id") % 3).as("w"))
    val df = a.join(b, "k").withColumn("__ps_bucket", col("k") % 4)
      .withColumn("rn", row_number().over(Window.partitionBy("__ps_bucket").orderBy("v")))
      .withColumn("s", sum("w").over(Window.partitionBy("w").orderBy("v")))
    val plan = df.queryExecution.optimizedPlan
    val windows = plan.collect { case w: logical.Window => w }
    assert(windows.size == 2, plan.treeString)
    val flagged = tools.PlanAudit.joinKeyedWindows(plan)
    assert(flagged.map(_.partitionSpec.flatMap(_.references.map(_.name))) == Seq(Seq("w")),
      plan.treeString)
  }
}
