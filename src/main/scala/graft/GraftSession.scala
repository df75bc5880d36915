package graft

import org.apache.spark.sql.SparkSession

/** The ONE place graft entry points get their shared engine tuning.
  * Three sessions are built through here: the harness mains'
  * ([[Harness.session]], via [[localBuilder]]: Bench, Verify,
  * Explain, ABProbe, StageProbe, BuildBench), the `pimdb` CLI's
  * (`graft.imdb.Main`, via [[shared]] on its SPARK_MASTER) and the
  * test harness's. A retune applied to some of them would silently
  * leave the others on defaults — e.g. the sort-based object-agg
  * fallback coming back in exactly one harness.
  */
object GraftSession {

  /** ObjectHashAggregateExec falls back to SORT-BASED aggregation
    * once its hash map passes this many keys — the 128 default is
    * sized for giant sketch buffers (percentile_approx); this repo's
    * object aggs carry k-bounded digests (~300 B), so the fallback
    * silently re-sorted the very pair volumes the digest cut exists
    * to avoid sorting (q_knn_graph: 6 k keys). PlanAuditSpec pins the
    * wiring via the numTasksFallBacked metric.
    *
    * MEMORY BUDGET (the override is session-wide, so every object
    * aggregate inherits it): at the threshold a task's hash map holds
    * 262144 buffers, ~75 MB for the ~300 B TopK/Winnow digests it was
    * sized for. The big-buffer aggregates that made 128 the upstream
    * default are safe here by GROUP CARDINALITY, not by the threshold:
    * every percentile_approx/percentile in this repo groups on
    * single-digit key spaces (q_percentile/q_approx_quantile:
    * l_returnflag = 3 groups; the quality-threshold cut: per-source,
    * ~5), and the Misra–Gries sketch is itself k-bounded (k = 99), so
    * none can approach the 262144-key fallback line. A FUTURE object
    * aggregate with multi-KB buffers over a high-cardinality group key
    * must either re-derive its own per-task budget
    * (keys × buffer bytes vs executor memory) or set/restore the conf
    * around its queries rather than ride this session default.
    *
    * This budget is EXECUTABLE, not just prose: PlanAuditSpec's
    * objectAggOffenders walks every gate plan's
    * ObjectHashAggregateExec nodes and fails the sweep on a
    * non-k-bounded object aggregate over a key outside the enumerated
    * bounded-cardinality/per-entity sets (red-tested on a planted
    * percentile-over-doc_id). */
  val ObjectAggFallbackKeys: String = "262144"

  /** Entries in Spark's JVM-wide generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`). The 100-entry default is
    * smaller than one warm transfer + build pass: on `perfbench etl`
    * (4 vCPU, 4000 titles) every warm pass recompiled 83 classes in
    * transfer and 160–162 in build, and Janino compiles were 32% of
    * the pass's CPU samples (789 of 2,478 in a JFR profile of eight
    * warm passes); with a larger cache a warm pass compiles none or a
    * few. `serve` loads 214 generated classes per run with a large
    * cache and 510 at the default. 1000 is about 4× both working sets
    * and caps the cache near 25 MB at ~25 KB per class. Measured on
    * `perfbench etl` (10 interleaved pairs, 4 vCPU): `pass_s` median
    * 9.75 → 7.07 s, for ~4 MB more heap after a pass.
    *
    * A static conf: `CodeGenerator` reads it once, when it is first
    * used, so it only takes effect on the builder, before the first
    * session of the JVM. A/B against the old default on unmodified
    * code with `SPARK_GRAFT_CONF=spark.sql.codegen.cache.maxEntries=100`
    * ([[localBuilder]]); [[Harness.compiles]] counts the compiles,
    * and BuildBench and StageProbe report them per run. */
  val CodegenCacheEntries: String = "1000"

  /** Tuning shared by EVERY graft session, harness mains and the test
    * harness alike: UTC (the events NTZ cast depends on it), legacy
    * nanos decode for old-round fixtures, no UI, the object-agg
    * threshold and generated-class cache above, and no injected
    * runtime Bloom filters (below).
    *
    * RUNTIME BLOOM FILTERS OFF — the r18 task-binary crescendo,
    * attributed in round 19: InjectRuntimeFilter sizes its filter by
    * the build side's row-count ESTIMATE, and every candidate build
    * side in this engine's serve paths is a pinned intermediate
    * (LogicalRDD, no stats) — so a ~160-row distance table gets the
    * 1M-item default, a 1.05 MiB binary embedded in the task closure
    * of every downstream stage (q_sim_rerank_ivf: 2.1→5.2 MiB
    * binaries, 63 KB with injection off; zero behavior change —
    * blooms only pre-prune). The filters also have nothing to prune
    * here BY DESIGN: the corpus-sized joins are pruned by layout
    * before Spark sees them (bucketed band-index probes, codes
    * partitioned by IVF cell, broadcast dimension sides), which is
    * this repo's standing answer at 100 TB. A DEPLOYMENT that joins
    * raw un-indexed fact tables through this session should re-enable
    * the conf — and feed the optimizer real stats (ANALYZE / v2
    * sources), which is also what right-sizes the filters Spark then
    * builds. */
  def shared(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        ObjectAggFallbackKeys)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries)
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      // NOTE (r21, measured, then REVERTED): lowering
      // spark.sql.files.openCostInBytes to 256 KiB looked like a win
      // on the fact-table gates in a first ABBA whose A-window was
      // contended, but the fixture tables are SINGLE-ROW-GROUP parquet
      // — a parquet row group is assigned to exactly one split by its
      // midpoint, so extra splits read nothing and scan parallelism
      // cannot improve; 8 clean alternating runs put the two settings
      // inside noise of each other (7.65 vs 7.91 s over 7 gates).
      // Smaller openCost ALSO inflates DedupOps.spread's estimated
      // split count (bytes-based), which would silently suppress the
      // repartition exactly where the one-reader-task reality needs
      // it. CPU-dense per-row work after a small scan is parallelized
      // by spread()'s explicit repartition instead (media codecs,
      // winnow fingerprints — see Multimodal.mediaIds / winnowSel).

  /** The harness-main builder: local[cpus] with one shuffle partition
    * per core (local mode — not the 200-partition cluster default),
    * AQE on, plus [[shared]]. Callers chain any main-specific configs
    * before getOrCreate.
    *
    * SPARK_GRAFT_CONF="k=v,k=v" chains overrides AFTER the shared
    * defaults: the A/B attribution tool for session-default
    * experiments. A blank env value is treated as unset (a wrapper
    * script's `SPARK_GRAFT_CONF=` must not crash the harness); a
    * malformed non-empty entry still fails loudly — a silently-dropped
    * override would poison the attribution the knob exists for.
    * LIMITATION (documented per the r21 advice): entries split on ','
    * unconditionally, so a conf whose VALUE contains commas (e.g.
    * spark.sql.extensions=a,b) cannot be expressed — the second
    * fragment fails the k=v parse, loudly. The knob targets scalar
    * tuning confs; list-valued confs need a code-level session change. */
  def localBuilder(cpus: String): SparkSession.Builder =
    shared(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true"))
      .config(sys.env.get("SPARK_GRAFT_CONF").iterator
        .flatMap(_.split(',')).filter(_.nonEmpty).map { kv =>
          kv.split("=", 2) match {
            case Array(k, v) if k.nonEmpty => (k, v)
            case _ => throw new IllegalArgumentException(
              s"SPARK_GRAFT_CONF: malformed entry '$kv' (want k=v)")
          }
        }.toMap)
}
