package graft.tools

import graft.{GraftSession, SparkEntry}
import org.apache.spark.sql.catalyst.expressions.{ArrayMin, ArrayTransform,
  Cast, CreateArray, CreateNamedStruct, Expression, LambdaFunction, Literal,
  Round}
import org.apache.spark.sql.types.LongType

/** Dumps the formatted physical plan of every SparkEntry query and
  * greps for the scale-health signals SURVEY §4 promises:
  * PushedFilters reaching the parquet scan, pruned ReadSchema,
  * broadcast joins on small sides, whole-stage codegen coverage.
  *
  * The audit is a GATE, not a report: it exits nonzero when
  *  - any plan contains a CartesianProduct;
  *  - a BroadcastNestedLoopJoin appears outside the allowlist below
  *    (exact KNN is a `KnnScan`; a nested-loop join anywhere else is a
  *    regression);
  *  - d9's bucketed seen-index scan is missing or re-shuffled (the
  *    BucketedStore contract: no Exchange above the bucketed side);
  *  - an optimized plan holds a hand-rolled quantize, `transform(v, x =>
  *    round(x * s).cast("long"))` (an interpreted lambda and a BigDecimal
  *    round per element; `VectorFunctions.quantize` is one native loop);
  *  - an optimized plan holds a hand-rolled argmin, an `array_min` over
  *    `struct(distance, literal id)` candidates (a Catalyst tree per
  *    centroid per row; `graft.plans.CentroidKernels` is one loop);
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

  /** Queries whose BroadcastNestedLoopJoins are INTENTIONAL: the
    * hand-rolled broadcast scoring crossjoins (ADC tables, Hamming
    * codes, code-space scans, re-rank pools) and 1-row scalar joins.
    * Exact KNN through `KnnJoin` plans a `KnnScan` and no BNLJ, so a
    * key is listed only while its printed plan still has one. */
  private val bnljAllowed: Set[String] = Set(
    "v11_pq_adc", "v31_opq_prerotate", "v14_class_centroid", "v16_rerank",
    "v22_hamming_knn", "v24_range_search", "t8_tfidf",
    "q21_lonely_customers", "p2_mixture_weights", "p3_clean_funnel",
    "v32_triplet_mine", "p4_quota_sample",
    // v36 composes v11's gated ADC crossjoin chain; q27's and e19's
    // BNLJs are broadcast 1-row scalar crossjoins (q21 pattern: corpus
    // total / p99 threshold riding back).
    "v36_pq_recall", "q27_part_value_share", "e19_power_users",
    // t21's corpus-total 1-row crossjoin (the q21/t8 scalar pattern).
    "t21_chi2_keywords",
    // t22's corpus-total and e23's max-ts/quartile-threshold 1-row
    // scalar crossjoins (the q21/e19 class).
    "t22_pmi_bigrams", "e23_rfm",
    // v49's own gallery × broadcast(query codes) scoring crossjoin (the
    // v22 class).
    "v49_binary_recall",
    // v50 composes v11's chain plus a 1-row nq scalar crossjoin (the
    // v36 class).
    "v50_recall_curve",
    // p6's corpus-total and leftover-count 1-row scalar crossjoins
    // (the p2/q21 class).
    "p6_token_budget",
    // v55's 1-row gallery-total scalar crossjoin (the q21 class).
    "v55_scan_fraction",
    // e32's merged-register estimate and exact-total rows ride back as
    // 1-row scalar crossjoins (the q21/e19 class).
    "e32_hll_dau",
    // v69 composes v31's rotated-ADC chain (the v36 class).
    "v69_opq_recall",
    // v76's O(classes) × 1-row totals scalar crossjoin (the q21/e19
    // class) feeding the route table.
    "v76_selectivity_route",
    // v78 is v11's broadcast ADC-table crossjoin against the codes
    // scan (trained books).
    "v78_trained_pq",
    // v85's walk entry node is a 1-row scalar crossjoin.
    "v85_filtered_beam",
    // v87 serves v78's broadcast ADC-table crossjoin from the
    // persisted trained code table; v89 composes v87's served chain
    // (the v36 eval class).
    "v87_trained_pq_persisted", "v89_trained_pq_recall",
    // v96 runs the beam walk three times: per ef one 1-row entry scalar
    // crossjoin plus the 1-row n_hit × dist_evals × nq scalar
    // crossjoins riding the curve row back (the q21/e19 class) — every
    // BNLJ side is O(1) rows by construction.
    "v96_ef_curve",
    // v99 serves v78's broadcast ADC-table crossjoin from the MERGED
    // code store (the v87 persisted-serving class).
    "v99_code_store_upsert",
    // v101's admission scan is the code-space broadcast(query-codes)
    // crossjoin; the verify joins BY ID.
    "v101_range_prefilter",
    // v102 composes v31's rotated-ADC chain over the trained
    // permutation (the v69 eval class); v129 is the same composition
    // over the greedy-allocation permutation.
    "v102_opq_trained_recall", "v129_opq_alloc_recall",
    // v106 serves v78's broadcast ADC-table crossjoin over the
    // tombstone-filtered merged store (the v87/v99 class); v107
    // composes v106's chain (the v89 eval class).
    "v106_store_maintenance", "v107_maintained_recall",
    // v126 serves v106's broadcast ADC-table crossjoin from the
    // compacted PQ store.
    "v126_pq_compaction",
    // v117 serves v78's broadcast ADC-table crossjoin from the unioned
    // PQ segment stores (the v87 class).
    "v117_pq_segment_serve")

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

  /** The violation, if `e` is a hand-rolled form of a native kernel:
    * a quantize `transform(v, x => round(x * s).cast("long"))`, or an
    * argmin `array_min` over `struct(distance, literal id)` candidates. */
  def handRolledKernel(e: Expression): Option[String] = e match {
    case ArrayTransform(_, LambdaFunction(c: Cast, _, _))
      if c.dataType == LongType && c.child.isInstanceOf[Round] =>
      Some("hand-rolled quantize (transform with round(_).cast(long)); " +
        "use VectorFunctions.quantize")
    case ArrayMin(CreateArray(cands, _)) if cands.nonEmpty && cands.forall {
        case s: CreateNamedStruct => s.valExprs.exists(_.isInstanceOf[Literal])
        case _ => false
      } =>
      Some("hand-rolled argmin (array_min over literal-candidate structs); " +
        "use graft.plans.CentroidKernels")
    case _ => None
  }

  /** `plan` with each JVM lambda's class suffix and identity hash
    * (`Foo$$$Lambda$5816/0x00007f…@3d446ba9`) masked to `Foo$$$Lambda`:
    * they change from run to run, so unmasked plan text of unchanged
    * code would not diff clean. */
  def maskLambdas(plan: String): String =
    plan.replaceAll("""\$\$Lambda(\$\d+)?/0x[0-9a-f]+(@[0-9a-f]+)?""",
      "\\$\\$Lambda")

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
        df.queryExecution.optimizedPlan.foreach(_.expressions.foreach(
          _.foreach(e => handRolledKernel(e).foreach(v =>
            violations ::= s"$name: $v"))))
        val plan = maskLambdas(df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
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
      violations.reverse.distinct.foreach(v => println(s"[audit]   $v"))
      sys.exit(1)
    }
    println("\n[audit] PASS: no cartesians, no unexpected BNLJ, " +
      "bucketed d9 verified, global windows bounded, no hand-rolled " +
      "quantize or argmin")
  }
}
