package graft

import graft.plans.GraftExtensions
import org.apache.spark.sql.SparkSession

/** The one session factory of the graft engine: registers the native
  * expressions and applies the configuration every entry point (Verify,
  * Bench, the dev mains under `tools/`, tests, user code) runs under.
  */
object GraftSession {

  /** Pre-configured builder; caller picks master/app specifics. */
  def builder(): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .config("spark.sql.session.timeZone", "UTC")
      // events-style tables carry TIMESTAMP(NANOS) parquet, which Spark
      // has no timestamp type for — surface as Long nanos.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // InferFiltersFromGenerate clones the generator's INPUT expression
      // into a pushed-down `size(expr) > 0` filter. For explodes over
      // computed arrays (PQ encode, shingles, band hashes) that filter
      // re-evaluates the whole computation once more per row — and with
      // the projection barrier gone, common sub-slices inline ksub×.
      // Measured on v51_pq_code_balance at sf0.1: 7.75 s with the rule,
      // 0.85 s without. The rule only ever prunes rows whose generator
      // output is empty — rows a non-outer explode drops anyway — so
      // excluding it is semantics-preserving.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      // ObjectHashAggregate (every TypedImperativeAggregate: the native
      // top-k, vector-sum, sketch buffers) falls back to SORT-BASED
      // aggregation once a partition sees more than this many groups —
      // default 128. A batch-KNN partial top-k has one group per QUERY
      // (thousands), so the default silently re-sorted the entire
      // scored input (O(N log N) + spill-sensitive UnsafeExternalSorter
      // traffic) instead of O(N) hash updates into bounded buffers.
      // Measured at the data-bound point: v22 after a 19-key suite
      // prefix 37 s → 14 s with the raised threshold; solo 16 s → 14 s.
      // The sort-based fallback IS ObjectHashAggregate's only spill
      // path — until this threshold trips, every aggregation buffer
      // stays memory-resident, so memory is bounded only by
      // groups-per-partition × buffer size. That is safe HERE because
      // the gated shapes keep group counts structurally small: top-k
      // groups are per-QUERY (broadcast-sized batch contract, ≤ ~10⁴)
      // and sketch groups are calendar/source keys (≤ ~10³). A
      // high-cardinality groupBy over these aggregates (e.g. HLL per
      // user at 10⁷ users/partition) should scope this back down
      // per-query rather than inherit the session-wide setting.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "1000000")

  /** Local session, one task slot and one shuffle partition per core.
    * The core count defaults to `SPARK_GRAFT_CPUS` (a deployment
    * setting: the 8- and 32-core ladders ran two values of it), else
    * this host's processor count. */
  def local(cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())): SparkSession = {
    val s = builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    GraftExtensions.register(s) // effective even if an earlier session won getOrCreate
    s
  }
}
