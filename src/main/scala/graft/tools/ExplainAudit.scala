package graft.tools

import graft.{GraftSession, SparkEntry}

/** Dumps the formatted physical plan of every SparkEntry query and
  * greps for the scale-health signals SURVEY §4 promises:
  * PushedFilters reaching the parquet scan, pruned ReadSchema,
  * broadcast joins on small sides, whole-stage codegen coverage.
  *
  * The audit is a GATE, not a report: it exits nonzero when
  *  - any plan contains a CartesianProduct;
  *  - a BroadcastNestedLoopJoin appears outside the allowlisted batch
  *    KNN crossjoins (gallery × broadcast(queries) is the intended
  *    O(N·Q) scoring shape — anything else is a regression);
  *  - d9's bucketed seen-index scan is missing or re-shuffled (the
  *    BucketedStore contract: no Exchange above the bucketed side);
  *  - any query fails to build.
  * Run it per round and commit the output as PLAN_AUDIT_r{N}.txt so
  * plan regressions cannot land silently.
  *
  * Caveat: under AQE the pre-execution formatted plan (isFinalPlan=
  * false) does not print `[codegen id: N]` annotations, so
  * codegenSpans reads 0 for adaptive plans — not a codegen failure
  * (RDD-based plans like m2 show their spans).
  */
object ExplainAudit {

  /** Queries whose BroadcastNestedLoopJoins are the INTENTIONAL
    * broadcast(queries)/broadcast(centroid-or-total) crossjoins of
    * batch KNN scoring and 1-row scalar joins. */
  private val bnljAllowed: Set[String] = Set(
    "v1_knn_l2", "v2_knn_cosine", "v7_ivf_search", "v8_knn_join_meta",
    "v11_pq_adc", "v12_knn_category", "v13_ivfpq_search",
    "v31_opq_prerotate",
    "v14_class_centroid", "v15_filtered_knn", "v16_rerank", "v17_sq8_knn",
    "v20_recall_eval", "v22_hamming_knn", "v23_mips", "v24_range_search",
    "v25_knn_classify", "t8_tfidf", "q20_top_supplier",
    "q21_lonely_customers", "p2_mixture_weights", "p3_clean_funnel",
    "v32_triplet_mine", "p4_quota_sample",
    // v36 composes v1's and v11's gated KNN crossjoin chains; q27's
    // and e19's BNLJs are broadcast 1-row scalar crossjoins (q20/q21
    // pattern: corpus total / p99 threshold riding back).
    "v36_pq_recall", "q27_part_value_share", "e19_power_users",
    // v39 composes v1's exact and v7's probe chains (both allowlisted).
    "v39_ivf_recall",
    // v42 composes v1's chain and its own broadcast(expanded-queries)
    // crossjoin — the same batch-KNN scoring shape as v1.
    "v42_query_expansion",
    // v46 composes v1's exact and v7's probe chains three times (the
    // v39 class).
    "v46_probe_curve",
    // t21's corpus-total 1-row crossjoin (the q20/t8 scalar pattern).
    "t21_chi2_keywords",
    // t22's corpus-total and e23's max-ts/quartile-threshold 1-row
    // scalar crossjoins (the q20/e19 class).
    "t22_pmi_bigrams", "e23_rfm",
    // v49 composes v1's chain plus its own gallery × broadcast(query
    // codes) scoring crossjoin (the v22 batch-KNN class).
    "v49_binary_recall",
    // v50 composes v11's and v1's chains plus a 1-row nq scalar
    // crossjoin (the v36/v46 class).
    "v50_recall_curve",
    // p6's corpus-total and leftover-count 1-row scalar crossjoins
    // (the p2/q20 class).
    "p6_token_budget",
    // v53 composes v1's exact chain (the v20/v36 eval class).
    "v53_lsh_mrr",
    // v55's probe ranking is the tiny centroids × broadcast(queries)
    // crossjoin plus a 1-row gallery-total scalar (the v46/q20 class);
    // v56 composes v1's and v13's gated chains (the v36/v39 class).
    "v55_scan_fraction", "v56_ivfpq_recall",
    // v57's entry node is a 1-row scalar crossjoin (the q20 class).
    "v57_graph_search",
    // v58 composes v7's probe crossjoin (the v39 class).
    "v58_filtered_ivf",
    // v59/v60 compose gated KNN/probe chains (the v36/v39 eval class).
    "v59_filtered_recall", "v60_sq8_recall",
    // v61 composes v57's walk (scalar entry) and v1's exact chain.
    "v61_graph_recall",
    // v62 is v1's broadcast(queries) scoring crossjoin over the
    // tombstone-filtered gallery; v63 composes the same vector chain
    // with the df-capped keyword ranking.
    "v62_tombstone_search", "v63_hybrid_rrf",
    // v64's walk entry node is a 1-row scalar crossjoin (v57's class).
    "v64_graph_search_persisted",
    // v66/v67 serve v7's/v13's probe chains from the persisted index:
    // the same centroids × broadcast(queries) routing crossjoins as
    // their gated parents (the v7/v13 batch-KNN class).
    "v66_ivf_search_persisted", "v67_ivfpq_search_persisted",
    // e32's merged-register estimate and exact-total rows ride back as
    // 1-row scalar crossjoins (the q20/e19 class).
    "e32_hll_dau",
    // v69 composes v1's exact and v31's rotated-ADC chains (the
    // v36/v39 eval class).
    "v69_opq_recall",
    // v72 is v1's broadcast(queries) scoring crossjoin with midpoint
    // queries (the batch-KNN class).
    "v72_novel_query_knn",
    // v73's pool build is v1's scoring crossjoin; the greedy steps
    // join only O(Q·10) checkpointed frames.
    "v73_mmr_diversify",
    // v75 is v1's scoring crossjoin over the deduped representative
    // batch (the request-dedup serving class).
    "v75_query_dedup_serve",
    // v76's probe routing is v7's centroids × broadcast(queries)
    // crossjoin, plus the O(classes) × 1-row totals scalar crossjoin
    // (the q20/e19 class) feeding the route table.
    "v76_selectivity_route",
    // v77 serves v7's probe chain from the merged persisted segments
    // (the v66 persisted-serving class).
    "v77_index_merge_serve",
    // v78 is v11's broadcast ADC-table crossjoin against the codes
    // scan (the batch-KNN class, trained books).
    "v78_trained_pq",
    // v79's walk entry node is a 1-row scalar crossjoin (v57's class);
    // v81 composes v79's walk and v1's exact chain (the v61 class).
    "v79_beam_search", "v81_beam_recall",
    // v82 is v17's code-space scoring crossjoin at 15 levels; v83
    // composes v1's exact and v82's code chains (the v60 eval class).
    "v82_sq4_knn", "v83_sq4_recall",
    // v85's walk entry node is a 1-row scalar crossjoin (v79's class).
    "v85_filtered_beam",
    // v86 serves v17's code-space scoring crossjoin from the persisted
    // code table (the v66 persisted-serving class).
    "v86_sq8_persisted",
    // v87 serves v78's broadcast ADC-table crossjoin from the
    // persisted trained code table (the v66/v86 persisted-serving
    // class); v89 composes v87's served chain and v1's exact chain
    // (the v36 eval class).
    "v87_trained_pq_persisted", "v89_trained_pq_recall",
    // v88's coarse-walk entry node is a 1-row scalar crossjoin (v57's
    // class) feeding v79's beam shape.
    "v88_hnsw_entry",
    // v90/v91 serve v65's/v68's probe chains from persisted trained
    // indexes (the v66/v67 persisted-serving class — probe routing is
    // the centroids × broadcast(queries) shape).
    "v90_trained_ivf_persisted", "v91_trained_ivfpq_persisted",
    // v92/v93 compose v90's/v91's served chains and v1's exact chain
    // (the v36/v39 eval class).
    "v92_trained_ivf_recall", "v93_trained_ivfpq_recall",
    // v94 composes v88's walk (scalar entry) and v1's exact chain
    // (the v81 class); v127 composes v122's multi-layer walk and the
    // same exact chain.
    "v94_hnsw_recall", "v127_hnswml_recall",
    // v95 serves v62's broadcast(queries) scoring crossjoin from the
    // compacted store (the v62 batch-KNN class).
    "v95_compaction_exec",
    // v96 runs v79's walk three times: per ef one 1-row entry scalar
    // crossjoin (v57's class) plus the 1-row n_hit × dist_evals × nq
    // scalar crossjoins riding the curve row back (the q20/e19
    // class) — every BNLJ side is O(1) rows by construction.
    "v96_ef_curve",
    // v99 serves v78's broadcast ADC-table crossjoin from the MERGED
    // code store (the v87 persisted-serving class).
    "v99_code_store_upsert",
    // v100 composes v98's probe routing and v15's filtered scoring
    // crossjoins (the v59 eval class).
    "v100_filtered_trained_recall",
    // v101's admission scan is the code-space broadcast(query-codes)
    // crossjoin (the v17/v86 batch-KNN class); the verify joins BY ID.
    "v101_range_prefilter",
    // v102 composes v1's exact chain and v31's rotated-ADC chain over
    // the trained permutation (the v69 eval class); v129 is the same
    // composition over the greedy-allocation permutation.
    "v102_opq_trained_recall", "v129_opq_alloc_recall",
    // v103 serves v88's walk from the merged upserted stores (the
    // v88 scalar-entry class; checkpoint boundaries may hide the
    // entry crossjoin from the printed final plan, but it is the
    // same intentional 1-row shape either way).
    "v103_hier_upsert",
    // v104 serves v17/v86's code-space scoring crossjoin from the
    // merged SQ8 store (the v86 persisted-serving class); v105 serves
    // v68's driver-routed residual-ADC probe chain from the merged
    // IVFPQ store (the v91 class).
    "v104_sq_store_upsert", "v105_ivfpq_store_upsert",
    // v106 serves v78's broadcast ADC-table crossjoin over the
    // tombstone-filtered merged store (the v87/v99 class composed
    // with v62's anti-join); v107 composes v106's chain and the
    // alive-only exact scoring crossjoin (the v89 eval class).
    "v106_store_maintenance", "v107_maintained_recall",
    // v108 is v79's beam shape (1-row alive-entry scalar crossjoin +
    // broadcast frontier/neighbor frames) over the tombstone-filtered
    // alive vectors; v113 composes v108's walk and the alive-only
    // exact scoring crossjoin (the v81/v94 eval class).
    "v108_graph_tombstone_search", "v113_graph_maintained_recall",
    // v109 serves v86's code-space scoring crossjoin over the
    // tombstone-filtered merged SQ store (the v104 class composed
    // with v62's anti-join); v110 serves v68's driver-routed
    // residual-ADC probe chain over the tombstone-filtered merged
    // IVFPQ store (the v105 class); v114/v115 compose those chains
    // with the alive-only exact scoring crossjoin (the v107 class).
    "v109_sq_maintenance", "v110_ivfpq_maintenance",
    "v114_sq_maintained_recall", "v115_ivfpq_maintained_recall",
    // v120 serves v109's code-space scoring crossjoin from the
    // COMPACTED SQ store (the same chain behind the bounded residual
    // sidecar); v126 serves v106's broadcast ADC-table crossjoin
    // from the compacted PQ store. (v121's residual-ADC probe chain
    // carries no BNLJ — the v105/v110 class.)
    "v120_sq_compaction", "v126_pq_compaction",
    // v111 serves v65's probe chain from the warm-refreshed state
    // (the v90 persisted-serving class: probe routing is the
    // centroids × broadcast(queries) shape); v112 serves the same
    // chain from the unioned segment stores (the v77 class).
    "v111_incremental_retrain", "v112_trained_segment_serve",
    // v116 serves v68's driver-routed residual-ADC probe chain from
    // the unioned segment stores (the v91/v77 class); v117 serves
    // v78's broadcast ADC-table crossjoin from the unioned PQ
    // segment stores (the v87 class).
    "v116_ivfpq_segment_serve", "v117_pq_segment_serve",
    // v118 is v88's 2-layer shape (1-row alive-entry scalar
    // crossjoins per layer + broadcast frontier/neighbor frames)
    // over the tombstone-filtered layers (the v108 class).
    "v118_hier_tombstone_search",
    // v119 serves v79's beam shape (1-row alive-entry scalar
    // crossjoin + broadcast frontier frames) from the compacted
    // persisted edge store (the v64/v79 class).
    "v119_graph_compaction")

  /** Queries whose PARTITION-LESS windows run over frames bounded by a
    * VALUE DOMAIN rather than a salted-rank cap — boundedness the
    * structural rule below cannot see. Each entry names its domain;
    * anything not listed must satisfy the structural proof (a Limit or
    * a salted `rk <= k` filter below the window). */
  private val globalWindowDomainBounded: Set[String] = Set(
    // cumulative pairs over Jaccard DECILES: groupBy(bucket) with
    // bucket = (10·inter) div uni ∈ 0..10 — ≤ 11 rows by construction.
    "d20_threshold_curve",
    // largest-remainder ranking over O(sources) quota rows.
    "p6_token_budget",
    // 7-day moving average over O(days) daily-revenue rows.
    "q11_moving_avg",
    // daily z-scores over O(days) rows (calendar-bounded).
    "e16_spike_days",
    // e19/e23: two-phase positional quantile selection — the
    // cumulative window runs over a distinct-VALUE histogram (events
    // per user / recency days / whole dollars), domains bounded by the
    // value range, never the user count (the t7 rule).
    "e19_power_users", "e23_rfm",
    // WAU lag over O(weeks); growth-accounting lags over O(weeks).
    "e25_wow_trend", "e29_lifecycle",
    // two-level sweep line: the only unpartitioned window prefix-sums
    // per-HOUR nets — O(#hours) rows, 8760/year by construction.
    "e27_peak_concurrent")

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    var violations = List.empty[String]
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    selected.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      println(s"\n########## $name ##########")
      try {
        val df = fn(spark, sfDir)
        // The d7 skew rule as a machine gate: no Window may partition
        // on a key whose group size grows with the corpus without a
        // per-key bound. Denylisted keys are the known data-sized ones
        // (cluster_id: a boilerplate family IS the corpus tail;
        // text_hash/band_hash/simhash: a hot near-dup family). Audited
        // on the OPTIMIZED logical plan so select-alias games can't
        // hide a partition key.
        val windowDeny = Set("cluster_id", "text_hash", "band_hash",
          "simhash", "s", "sg", "token")
        df.queryExecution.optimizedPlan.foreach {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window =>
            val keys = w.partitionSpec.flatMap(_.references.map(_.name))
            keys.filter(windowDeny.contains).foreach(k =>
              violations ::= s"$name: Window partitioned by " +
                s"data-sized key '$k' (use groupBy + join-back)")
          case _ => ()
        }
        // The q36 rule as a machine gate: a PARTITION-LESS Window sorts
        // its whole input in ONE task, so it is only legal when that
        // input is provably bounded. Proof obligations, checked
        // structurally on the optimized plan below the window: either a
        // Limit, or a `rank <= k` Filter (k ≤ 1000) where rank is a
        // row_number over a SALTED window — a partitionSpec that
        // resolves through the Project chain to pmod(_, lit(S)) with
        // S ≤ 64 — i.e. phase 1 of the t5/q36 two-phase top-k caps the
        // global phase at S·k rows. An edit that drops phase 1 (or
        // un-salts it) now fails the audit instead of silently creating
        // a single-task global sort.
        locally {
          import org.apache.spark.sql.catalyst.expressions.{Alias,
            Attribute, AttributeReference, Expression, LessThan,
            LessThanOrEqual, Literal, Pmod, RowNumber, WindowExpression}
          import org.apache.spark.sql.catalyst.plans.logical.{Filter,
            GlobalLimit, LocalLimit, LogicalPlan,
            Window => LogicalWindow}
          def litVal(e: Expression): Option[Long] = e match {
            case Literal(v: Int, _) => Some(v.toLong)
            case Literal(v: Long, _) => Some(v)
            case _ => None
          }
          // alias map of the whole subtree, for chasing _salt → pmod
          def aliasMap(p: LogicalPlan): Map[Long, Expression] =
            p.collect { case n => n.expressions.flatMap(_.collect {
              case a: Alias => a.exprId.id -> a.child }) }
              .flatten.toMap
          @scala.annotation.tailrec
          def resolve(e: Expression, m: Map[Long, Expression],
                      fuel: Int = 8): Expression = e match {
            case a: AttributeReference
              if fuel > 0 && m.contains(a.exprId.id) =>
              resolve(m(a.exprId.id), m, fuel - 1)
            case other => other
          }
          def saltMod(e: Expression, m: Map[Long, Expression]): Option[Long] =
            resolve(e, m) match {
              case Pmod(_, r, _) => litVal(resolve(r, m))
              case _ => None
            }
          // attributes that are row_numbers over a salted (pmod ≤ 64)
          // window anywhere in the subtree
          def saltedRankAttrs(p: LogicalPlan): Set[Long] = {
            val m = aliasMap(p)
            p.collect { case w: LogicalWindow
              if w.partitionSpec.nonEmpty &&
                w.partitionSpec.forall(saltMod(_, m).exists(_ <= 64)) =>
              w.windowExpressions.collect {
                case a @ Alias(we: WindowExpression, _)
                  if we.windowFunction.isInstanceOf[RowNumber] =>
                  a.exprId.id
              }
            }.flatten.toSet
          }
          def bounded(p: LogicalPlan): Boolean = {
            val ranks = saltedRankAttrs(p)
            def capFilter(cond: Expression): Boolean = cond.collect {
              case LessThanOrEqual(a: AttributeReference, l)
                if ranks.contains(a.exprId.id) &&
                  litVal(l).exists(_ <= 1000L) => true
              case LessThan(a: AttributeReference, l)
                if ranks.contains(a.exprId.id) &&
                  litVal(l).exists(_ <= 1000L) => true
            }.nonEmpty
            // Walk the SPINE feeding the window, not the whole
            // subtree: a collectFirst over everything below would
            // accept a Limit on the broadcast side of a join — which
            // bounds nothing about the window's input row count. A
            // bound on the spine proves the rows above it are capped;
            // a multi-input node (join, union) is bounded only if
            // EVERY input is (bounded × unbounded join output is
            // unbounded).
            def spine(n: LogicalPlan): Boolean = n match {
              case _: GlobalLimit | _: LocalLimit => true
              case Filter(cond, child) => capFilter(cond) || spine(child)
              case leaf if leaf.children.isEmpty => false
              case other => other.children.forall(spine)
            }
            spine(p)
          }
          df.queryExecution.optimizedPlan.foreach {
            case w: LogicalWindow
              if w.partitionSpec.isEmpty &&
                !globalWindowDomainBounded.contains(name) =>
              if (!bounded(w.child))
                violations ::= s"$name: partition-less Window over an " +
                  "input not provably bounded (need a Limit or a " +
                  "salted-rank `rk <= k` filter below — the t5/q36 " +
                  "two-phase pattern)"
            case _ => ()
          }
        }
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        println(plan)
        val pushed = "PushedFilters: \\[[^\\]]".r.findAllIn(plan).size
        val scans = "Scan parquet".r.findAllIn(plan).size
        val bhj = "BroadcastHashJoin".r.findAllIn(plan).size
        val smj = "SortMergeJoin".r.findAllIn(plan).size
        val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
        val cart = "CartesianProduct".r.findAllIn(plan).size
        val wsc = "codegen id".r.findAllIn(plan).size
        val exch = "(?<!Reused)Exchange".r.findAllIn(plan).size
        val reuse = "ReusedExchange".r.findAllIn(plan).size
        println(s"[audit] $name scans=$scans pushedFilterScans=$pushed " +
          s"bhj=$bhj smj=$smj bnlj=$bnlj cartesian=$cart " +
          s"exchanges=$exch reusedExchanges=$reuse codegenSpans=$wsc")
        if (cart > 0)
          violations ::= s"$name: $cart CartesianProduct(s)"
        if (bnlj > 0 && !bnljAllowed.contains(name))
          violations ::= s"$name: $bnlj BroadcastNestedLoopJoin(s) " +
            "outside the KNN-crossjoin allowlist"
        if (name == "d9_incremental_dedup") {
          // the BucketedStore contract: the seen-index side scans
          // selected buckets and feeds the sort-merge anti-join with no
          // Exchange of its own — exactly ONE hash exchange in the
          // whole plan (the batch side; its partitioning is then reused
          // by the downstream text_hash aggregate). ensureParallelism's
          // RoundRobin repartition of the single-row-group testdata
          // scan is not a key shuffle and is excluded. Checked on the
          // executedPlan NODES, not the printed plan text — a Spark
          // upgrade that reworks explain formatting can't flip this
          // gate to a false PASS/FAIL.
          import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
          import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
          import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
          import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
          // plain .collect stops at AQE/stage wrapper boundaries — their
          // current plan is a field, not a child; ReusedExchange points
          // back at an already-counted exchange, so don't descend
          def deep(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
            case a: AdaptiveSparkPlanExec => deep(a.executedPlan)
            case q: QueryStageExec => deep(q.plan)
            case _: ReusedExchangeExec => Nil
            case other => other.children.flatMap(deep)
          })
          val nodes = deep(df.queryExecution.executedPlan)
          val bucketedScans = nodes.collect {
            case s: FileSourceScanExec if s.bucketedScan => s }
          val hashExchNodes = nodes.collect {
            case e: ShuffleExchangeExec
              if e.outputPartitioning.isInstanceOf[HashPartitioning] => e }
          if (bucketedScans.isEmpty)
            violations ::= s"$name: seen-index scan is not bucketed"
          if (hashExchNodes.size != 1)
            violations ::= s"$name: ${hashExchNodes.size} hash " +
              "exchanges (want 1: batch side only — the bucketed index " +
              "must not re-shuffle)"
        }
      } catch {
        case e: Throwable =>
          println(s"[audit] $name ERROR: ${e.getMessage}")
          violations ::= s"$name: failed to build (${e.getMessage})"
      }
    }
    spark.stop()
    if (violations.nonEmpty) {
      println("\n[audit] FAIL:")
      violations.reverse.foreach(v => println(s"[audit]   $v"))
      sys.exit(1)
    }
    println("\n[audit] PASS: no cartesians, no unexpected BNLJ, " +
      "bucketed d9 verified, global windows bounded")
  }
}
