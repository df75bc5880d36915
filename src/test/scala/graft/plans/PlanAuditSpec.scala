package graft.plans

import graft.SparkSpec

/** Registry-wide physical-plan audit — pins the SCALE.md claims so a
  * future operator can't silently reintroduce a scale-killer:
  * BroadcastNestedLoopJoin/Cross only against constant-sized sides
  * (the whitelisted scoring shapes), and never a CartesianProduct of
  * two data-sized inputs.
  *
  * Streaming queries are excluded: their query functions execute real
  * micro-batch runs (covered by their own specs), and the batch plan
  * here would not be the streaming plan anyway. Iterative operators
  * (clusters/IVF train) appear via their gate entries, whose driver
  * loops run on sf0.001 in seconds.
  */
class PlanAuditSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** Queries allowed BroadcastNestedLoopJoin/Cross, WITH the maximum
    * count each justified — every one a `crossJoin(broadcast(...))`
    * against a CONSTANT-sized side: probes (5), centroids (8), or a
    * 1-row aggregate scalar. COUNT-granular on purpose: a bare name
    * allowlist would let an allowlisted gate grow a SECOND,
    * data-sized BNLJ and stay green; exceeding the recorded count is
    * an offender that forces this table (and review) to move. */
  private val constantSideCross = Map(
    // r18: every nearest-CELL assignment cross disappeared — the
    // corpus passes assign map-side over collected centroid constants
    // (SimilarityOps.assignConst/assignScored/assignWithSim), so
    // q_sim_ivf_assign, q_sim_ivf_search, q_semdedup,
    // q_embed_outliers, q_label_noise, q_knn_graph and q_bitext_mine
    // left this table entirely and several counts below dropped
    "q_sim_cosine_topk" -> 1,   // 5 probe vectors
    "q_ann_filter" -> 1,        // 5 probe vectors
    "q_text_tfidf" -> 1,        // 1-row corpus-size scalar
    "q_sample_temperature" -> 1, // 1-row min-count scalar
    "q_text_perplexity" -> 1,   // 1-row vocab-size scalar
    "q_sim_bm25" -> 1,          // 1-row corpus-stats scalar (N, Σdl, dfs)
    "q_select_dsir" -> 1,       // 1-row distribution-totals scalar (nr, nt)
    "q_sim_ivfpq" -> 1,         // 5 probe vectors (probe-cell ranking)
    "q_sim_matryoshka" -> 2,    // 5 probe vectors (prefix scan + rerank)
    "q_sim_hard_negatives" -> 1, // 5 probe vectors
    "q_ivf_balance" -> 1,       // 1-row corpus-count scalar
    "q_token_budget" -> 1,      // 1-row weight-total scalar
    "q_epoch_expand" -> 1,      // same 1-row scalar inside its plan build
    "q_label_predict" -> 1,     // |labels|-row prototype table (≤ label count)
    "q_sim_rerank_ivf" -> 2,    // 5 probes (shortlist + rerank)
    "q_ivf_recall_curve" -> 2,  // 5 probes + 1-row relevant-count scalar
    "q_drift_2prop" -> 2,       // two 1-row scalars (time-span midpoint, half totals)
    "q_sim_rrf" -> 2,           // bm25's 1-row corpus-stats scalar + 5 probe vectors
    "q_sim_binary" -> 2         // 5 packed probe rows (Hamming scan) + 5 (rerank)
    // (q_label_propagate / q_select_kcenter have constant-side
    // crosses too, but they run inside pinIter checkpoints / the
    // driver greedy loop, so the audited FINAL plan never shows them)
  )

  // every q_stream_* gate: its query function executes a REAL
  // micro-batch run (covered by its own spec), so "building the plan"
  // here would run the stream and audit only the final memory-table
  // scan — name-prefix membership so a new streaming gate can't be
  // forgotten from this list
  private def streaming(name: String): Boolean =
    name.startsWith("q_stream_")

  /** Every node of `p`, descending through the AQE boundaries plain
    * collect stops at: an AdaptiveSparkPlanExec is a LEAF wrapping its
    * live plan, and materialized stages are leaf QueryStageExec nodes.
    * Call on an EXECUTED plan (run the query first) or the adaptive
    * wrapper yields the initial, not final, tree. Does NOT descend
    * into subquery plans — use [[allNodesWithSubqueries]] for audits
    * where an offender could hide in a scalar subquery. */
  private def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case qs: QueryStageExec => Seq(qs.plan)
      case other => other.children
    }
    p +: kids.flatMap(allNodes)
  }

  /** [[allNodes]] plus each reached node's subquery plans, recursively
    * — the BNLJ audit's lesson applied to AQE-wrapped trees: a
    * data-sized operator can hide inside a scalar subquery, and with
    * AQE on, `collectWithSubqueries` alone never even reaches the
    * main plan's interior. */
  private def allNodesWithSubqueries(
      p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    val base = allNodes(p)
    base ++ base.flatMap(_.subqueries).flatMap(allNodesWithSubqueries)
  }

  test("the registry is closed: every query has an oracle, every " +
    "oracle has a query, and names are unique gate identifiers") {
    val q = graft.SparkEntry.queries.keySet
    val o = graft.SparkEntry.oracleSql.keySet
    // q == o: QueryDef carries a full oracle for every gate (the
    // driver contract's weaker rows>0 check for oracle-less ops is not
    // something this registry can express)
    assert(q == o, s"query/oracle drift: only-query=${(q -- o).toSeq.sorted
      .mkString(",")} only-oracle=${(o -- q).toSeq.sorted.mkString(",")}")
    assert(q.forall(_.startsWith("q_")), "gate names must be q_-prefixed")
  }

  /** Executable form of the GraftSession.ObjectAggFallbackKeys memory
    * budget (GraftSession.scala's prose note, made red/green): the
    * session-wide sort-fallback threshold is raised to 262144 keys, so
    * a task may hold up to that many object-agg buffers in its hash
    * map — safe only while every object aggregate on the surface is
    * one of:
    *
    *   - a graft k-bounded digest (TopKAgg / MisraGriesAgg /
    *     ReservoirSampleAgg with small k — a few hundred bytes per
    *     buffer, safe under ANY group key);
    *   - a Collect (collect_list/collect_set) whose group key is
    *     bounded-cardinality OR per-entity: a per-entity collect's
    *     buffers hold exactly the group's own input rows, so a task's
    *     total buffer bytes ≈ its input-partition bytes — the same
    *     budget as the scan itself, whatever the key cardinality;
    *   - any other TypedImperativeAggregate (percentile / sketch
    *     types, multi-KB buffers that do NOT shrink with the group)
    *     over a bounded-cardinality key or a global (ungrouped)
    *     aggregate — ≤ tens of buffers per task.
    *
    * A future multi-KB-buffer aggregate over a high-cardinality key —
    * the shape that OOMs an executor at 262144 buffers/task — returns
    * a violation here and fails the sweep, instead of shipping on the
    * prose note's say-so. Fixed-width aggregates (declarative or
    * imperative: Count, Sum, Corr, Stddev…) are safe by construction
    * whatever the key. */
  private def objectAggOffenders(
      plan: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.expressions.aggregate.{
      Collect, TypedImperativeAggregate}
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    // single-digit-to-tens cardinality by data contract (flags,
    // sources, languages, label vocab, the 5 fixed probe ids)
    val boundedCard = Set("l_returnflag", "source", "lang", "label",
      "query_id")
    // unbounded cardinality, but a group's payload is the entity's own
    // bounded rows (per-doc paragraphs/chunks, per-user event sets) —
    // valid for Collect only; kept MINIMAL (exactly the keys the
    // surface collects by), a new per-entity collect key is a
    // conscious addition here
    val perEntity = Set("doc_id", "user_id")
    val kBoundMax = 1024
    plan.collectWithSubqueries { case o: ObjectHashAggregateExec =>
      val groupAttrs = o.groupingExpressions
        .flatMap(_.collect { case a: AttributeReference => a.name }).distinct
      o.aggregateExpressions.map(_.aggregateFunction).flatMap {
        case t: graft.functions.TopKAgg =>
          if (t.k <= kBoundMax) None
          else Some(s"TopKAgg k=${t.k} exceeds the k-bound $kBoundMax")
        case m: graft.functions.MisraGriesAgg =>
          if (m.k <= kBoundMax) None
          else Some(s"MisraGriesAgg k=${m.k} exceeds the k-bound $kBoundMax")
        case r: graft.functions.ReservoirSampleAgg =>
          if (r.k <= kBoundMax) None
          else Some(s"ReservoirSampleAgg k=${r.k} exceeds the k-bound " +
            s"$kBoundMax")
        case c: Collect[_] =>
          if (groupAttrs.isEmpty ||
              groupAttrs.forall(a => boundedCard(a) || perEntity(a))) None
          else Some(s"${c.prettyName} over unenumerated group key(s) " +
            s"[${groupAttrs.mkString(",")}]")
        case f: TypedImperativeAggregate[_] =>
          if (groupAttrs.isEmpty || groupAttrs.forall(boundedCard)) None
          else Some(s"${f.prettyName} (multi-KB object buffer) over " +
            s"non-bounded-cardinality group key(s) " +
            s"[${groupAttrs.mkString(",")}] — re-derive the per-task " +
            "budget or scope the fallback conf (GraftSession.scala)")
        case _ => None // fixed-width buffer: safe at any cardinality
      }
    }.flatten
  }

  test("object-agg budget guard: a planted multi-KB-buffer aggregate " +
    "over a high-cardinality key is red; the enumerated shapes are " +
    "green") {
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    val saved = spark.conf.getOption("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      def offendersOf(df: org.apache.spark.sql.DataFrame): Seq[String] = {
        val plan = df.queryExecution.executedPlan
        // the guard must actually be LOOKING at an object hash agg —
        // a plan shape change that stops planning one would make this
        // test vacuous, not green
        assert(plan.collectWithSubqueries {
          case o: ObjectHashAggregateExec => o }.nonEmpty,
          "expected an ObjectHashAggregateExec in the planted plan")
        objectAggOffenders(plan)
      }
      import org.apache.spark.sql.functions._
      // RED: percentile buffers don't shrink with the group — 262144
      // of them per task is exactly the executor-OOM shape the budget
      // note warns about
      val bad = offendersOf(docs.groupBy(col("doc_id"))
        .agg(expr("percentile_approx(length(text), 0.5)").as("p")))
      assert(bad.exists(_.contains("percentile_approx")),
        s"planted violation not flagged: $bad")
      // GREEN: same aggregate over a bounded-cardinality key
      assert(offendersOf(docs.groupBy(col("source"))
        .agg(expr("percentile_approx(length(text), 0.5)").as("p"))).isEmpty)
      // GREEN: per-entity collect (buffer = the group's own rows)
      assert(offendersOf(docs.groupBy(col("doc_id"))
        .agg(collect_list(col("source")).as("s"))).isEmpty)
      // RED: collect over a key outside both enumerations
      val badCollect = offendersOf(docs.groupBy(col("text"))
        .agg(collect_list(col("source")).as("s")))
      assert(badCollect.nonEmpty, "unenumerated collect key not flagged")
      // GREEN: global (ungrouped) object aggregate — one buffer/task
      assert(offendersOf(docs
        .agg(expr("percentile_approx(length(text), 0.5)").as("p"))).isEmpty)
    } finally saved match {
      case Some(v) => spark.conf.set("spark.sql.adaptive.enabled", v)
      case None => spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("no gate plan nests two data-sized inputs or runs a data-sized " +
    "unpartitioned window (BNLJ/Cartesian/WindowExec audit, one plan " +
    "build per gate)") {
    import org.apache.spark.sql.execution.window.WindowExec
    // ONE registry sweep serves all three checks — several gate
    // bodies run eager driver work (training loops, contractions,
    // index writes) just to BUILD their plan, so a second sweep
    // would double the heaviest part of the suite. AQE is disabled
    // so the physical tree is directly inspectable (joins and
    // windows appear identically in the static plan).
    // EliminateWindowPartitions is excluded so BoundedWindow's
    // constant-literal marker SURVIVES to the physical plan: with it
    // visible, justified bounded windows are structurally
    // distinguishable from data-sized unpartitioned ones and the
    // audit needs no allowlist (in production the rule folds the
    // marker away and the executed plan is the plain single-partition
    // window — the exclusion changes what the audit can SEE, not
    // what ships).
    // save/restore (not blind-unset): a pre-existing session value —
    // builder config, another suite's exclusions — must survive this
    // test, the discipline the file's other conf-mutating tests use
    val confKeys = Seq("spark.sql.adaptive.enabled",
      "spark.sql.optimizer.excludedRules")
    val saved = confKeys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.optimizer.excludedRules",
      graft.operators.BoundedWindow.EliminateRule)
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    try {
      graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        if (!streaming(name)) {
          // a query that fails to even build a plan is itself an
          // offender — recording it (instead of letting the exception
          // abort the loop) keeps the audit exhaustive, so one broken
          // query can't mask regressions in those sorted after it.
          // getMessage may be null (NPE) or empty — extraction must
          // not itself throw, or it aborts the loop the Try protects
          scala.util.Try(fn(spark, sfDir).queryExecution.executedPlan)
            .fold(e => offenders += s"$name: plan build failed: " +
                Option(e.getMessage).iterator.flatMap(_.linesIterator)
                  .find(_.nonEmpty).getOrElse(e.getClass.getName),
              plan => {
                import org.apache.spark.sql.execution.joins.{
                  BroadcastNestedLoopJoinExec, CartesianProductExec}
                // node-typed + collectWithSubqueries for BOTH joins
                // and windows: SparkPlan.toString does not render
                // scalar-subquery plans, so a data-sized BNLJ or
                // Cartesian hidden inside a subquery would pass a
                // string audit while still executing — the same
                // blind spot the window check below was built around
                if (plan.collectWithSubqueries {
                      case c: CartesianProductExec => c }.nonEmpty)
                  offenders += s"$name: CartesianProduct"
                // count-granular: an allowlisted gate growing MORE
                // crosses than its justified count is an offender too
                val bnlj = plan.collectWithSubqueries {
                  case b: BroadcastNestedLoopJoinExec => b }.size
                if (bnlj > constantSideCross.getOrElse(name, 0))
                  offenders += s"$name: $bnlj BroadcastNestedLoopJoin(s), " +
                    s"${constantSideCross.getOrElse(name, 0)} justified"
                // collectWithSubqueries: a window hidden inside a
                // scalar subquery's plan is invisible to plain
                // collect (children-only) but still executes
                val windows = plan.collectWithSubqueries {
                  case w: WindowExec => w
                }
                val marker = graft.operators.BoundedWindow.MarkerValue
                val bad = windows.filter { w =>
                  w.partitionSpec.isEmpty || // genuinely unpartitioned
                    // an all-foldable partition key is only legitimate
                    // as BoundedWindow's exact marker literal — an
                    // ad-hoc lit(0) would fold to a single-task global
                    // window in production while LOOKING partitioned
                    // to this audit (the rule is excluded here)
                    (w.partitionSpec.forall(_.foldable) &&
                      w.partitionSpec.map(_.eval(null)) != Seq(marker))
                }
                if (bad.nonEmpty)
                  offenders += s"$name: ${bad.size} unpartitioned/" +
                    "unmarked-constant window(s)"
                // 4th check, same sweep (plan builds are the expensive
                // part): the object-agg memory budget the session-wide
                // fallback threshold rides on — see objectAggOffenders
                offenders ++= objectAggOffenders(plan).map(v => s"$name: $v")
              })
        }
      }
    } finally confKeys.zip(saved.map(_._2)).foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  // There is NO unpartitioned-window allowlist: every justified
  // bounded-input global window routes through
  // graft.operators.BoundedWindow (a constant-literal partition —
  // same single-task execution, no WindowExec warning wall), so a
  // partitionSpec-empty WindowExec in any gate plan is always an
  // offender. The former 5-gate allowlist (q_surrogate_ids,
  // q_sim_rrf, q_ivf_balance, q_text_vocab, q_bpe_pairs) became
  // BoundedWindow call sites.

  test("hot scan paths plan inside WholeStageCodegen spans") {
    // scan→filter→project→partial-agg chains must fuse into generated
    // code — a non-codegen Expression or UDF in the hot path breaks
    // the span and costs an iterator boundary per row at 100 TB.
    // Representative corpus-scan-heavy gates, one per family. AQE
    // materializes codegen only at execution, so run the query first;
    // codegen'd operators then print with the `*(stageId)` prefix.
    Seq("q_agg_groupby", "q_filter_isin", "q_dedup_exact",
      "q_text_quality", "q_clean_c4", "q_merge_upsert",
      "q_volume_trend", "q_sketch_ams", "q_table_stats",
      "q_text_winnow").foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      df.collect() // drive THIS plan through AQE to its final form
      val exec = df.queryExecution.executedPlan
      val plan = exec.toString
      // exchange-free plans skip the AdaptiveSparkPlan wrapper; when
      // it IS present, only the final plan shows real codegen stages
      assert(!plan.contains("AdaptiveSparkPlan") ||
        plan.contains("isFinalPlan=true"),
        s"$name plan not finalized:\n$plan")
      assert(plan.contains("*("),
        s"$name lost whole-stage codegen:\n$plan")
      // and the SCAN stage specifically: "some stage fused" is not
      // enough — a UDF breaking the scan→filter chain still leaves
      // the final aggregate codegen'd, which is exactly the
      // regression this test exists to catch (iterator boundary per
      // scanned row at 100 TB). AQE wraps materialized stages in
      // LEAF QueryStageExec nodes, so the walk (the shared allNodes)
      // must descend through them (plain collect stops at the stage
      // boundary and would never see the scan stage at all)
      import org.apache.spark.sql.execution.{FileSourceScanExec,
        WholeStageCodegenExec}
      val scanFused = allNodes(exec).exists {
        case w: WholeStageCodegenExec =>
          allNodes(w).exists(_.isInstanceOf[FileSourceScanExec])
        case _ => false
      }
      assert(scanFused,
        s"$name: no file scan sits inside a WholeStageCodegen span:\n$plan")
    }
  }

  test("filters and projections reach the parquet scan: PushedFilters " +
    "carries the predicate, ReadSchema carries only the used columns") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.FileSourceScanExec
    // the scan-efficiency contract behind every gate: a predicate
    // evaluated after a full-row scan, or a scan materializing
    // columns the query never touches, multiplies 100 TB of IO
    val df = graft.Tables(spark, sfDir, "lineitem")
      .filter(col("l_quantity") > 40)
      .select(col("l_orderkey"), col("l_quantity"))
    val scans = df.queryExecution.executedPlan
      .collectWithSubqueries { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty, "no file scan in plan")
    val meta = scans.head.metadata
    assert(meta.getOrElse("PushedFilters", "").contains("GreaterThan(l_quantity"),
      s"filter not pushed to the scan: ${meta.get("PushedFilters")}")
    val rs = meta.getOrElse("ReadSchema", "")
    assert(rs.contains("l_orderkey") && rs.contains("l_quantity") &&
      !rs.contains("l_comment") && !rs.contains("l_extendedprice"),
      s"scan reads more than the projected columns: $rs")
  }

  test("a selective dim filter injects a runtime bloom filter into " +
    "the fact scan WHEN a deployment re-enables injection") {
    import org.apache.spark.sql.functions._
    // At 100 TB the fact side of a selective dim join can be pruned
    // BEFORE its shuffle: InjectRuntimeFilter rewrites the fact
    // scan's filter to might_contain(bloom_agg(dim join keys)),
    // dropping non-qualifying fact rows at the scan instead of
    // shuffling them. Graft sessions ship the rule DISABLED
    // (GraftSession.shared — the r18 task-binary crescendo: stats-
    // less pinned build sides get the 1M-item default, a 1.05 MiB
    // filter per join in every downstream task closure, and this
    // engine's corpus joins are already layout-pruned), but a
    // deployment joining raw fact tables is told to re-enable it —
    // so pin that the rule still FIRES under the re-enabled conf and
    // our query shapes don't defeat it. Thresholds are cluster-sized
    // (creation side ≤ 10MB plan-estimated, application side scan
    // ≥ 10GB); pin them to make the decision visible at test scale.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10GB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = graft.Tables(spark, sfDir, "lineitem")
      val ord = graft.Tables(spark, sfDir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      val j = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("cnt"))
      val plan = j.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain"),
        s"no runtime bloom filter injected into the fact side:\n$plan")
      // and the pruned join still answers correctly
      assert(j.collect().map(_.getLong(1)).sum > 0)
    } finally saved.foreach { case (k, vOpt) =>
      vOpt.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("under the session default, NO runtime bloom filter lands in a " +
    "serve-path plan (the r18 task-binary crescendo stays fixed)") {
    // q_sim_rerank_ivf was the worst case: four join stages each
    // carrying every upstream join's 1.05 MiB filter literal —
    // 2.1→5.2 MiB task binaries, 63 KB with injection off (measured,
    // SCALE.md r19). The session conf is the fix; this pins both the
    // conf and its effect on the real gate body.
    assert(spark.conf.get(
      "spark.sql.optimizer.runtime.bloomFilter.enabled") == "false")
    val df = graft.SparkEntry.queries("q_sim_rerank_ivf")(spark, sfDir)
    val plan = df.queryExecution.optimizedPlan.toString
    assert(!plan.contains("might_contain"),
      s"a runtime bloom filter re-appeared in the serve path:\n$plan")
  }

  test("AQE splits a skewed join partition at runtime (skew=true in " +
    "the final sort-merge join)") {
    import org.apache.spark.sql.functions._
    // the OTHER half of the skew story: q_join_skew_salted is the
    // explicit rewrite, AQE's skew-join is the runtime one — a
    // straggler partition detected from map output sizes is split
    // into parallel sub-joins with the matching side replicated.
    // Thresholds are cluster-sized; pin them down so the planted
    // hot key (90% of rows on one key) trips the detector locally.
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val left = spark.range(0, 200000)
        .select(when(col("id") % 10 < 9, 0L).otherwise(col("id"))
          .as("k"), col("id").as("payload"))
      val right = spark.range(0, 100).select(col("id").as("k"),
        (col("id") * 2).as("attr"))
      val j = left.join(right, "k")
      // drive THIS frame's plan through AQE (count() would execute
      // its own aggregate plan instead — the codegen-audit lesson)
      assert(j.collect().length > 0)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"), s"AQE did not finalize:\n$plan")
      assert(plan.contains("skew=true"),
        s"AQE skew-join did not split the hot partition:\n$plan")
    } finally saved.foreach { case (k, vOpt) =>
      vOpt.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("a selective dim filter prunes the fact side's PARTITIONS at " +
    "runtime (dynamic partition pruning on a day-partitioned layout)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.FileSourceScanExec
    // the partition-level sibling of the runtime bloom filter above:
    // on a date-partitioned 100 TB fact table, a dim-side filter that
    // resolves to few join keys must prune fact PARTITIONS before the
    // scan — Spark injects a dynamicpruning subquery (fed by the
    // reused broadcast) into the fact scan's partition filters. The
    // assertion is that the session's planner fires the rewrite on
    // our layout shapes at all; partition-listing pruning itself is
    // covered statically by q_partition_prune/ZOrderSpec.
    val tmpPath = java.nio.file.Files.createTempDirectory("graft_dpp")
    graft.streaming.EventStreams.deleteRecursivelyOnExit(tmpPath)
    val tmp = tmpPath.toString
    spark.range(0, 50000)
      .select((col("id") % 30).as("day"), col("id").as("payload"))
      .write.mode("overwrite").partitionBy("day").parquet(tmp)
    val fact = spark.read.parquet(tmp)
    val dim = spark.range(0, 30).select(col("id").as("day"),
      when(col("id") < 3, "hot").otherwise("cold").as("tier"))
    val j = fact.join(dim.filter(col("tier") === "hot"), "day")
      .groupBy(col("day")).agg(count(lit(1)).as("cnt"))
    val out = j.collect()
    assert(out.length == 3 && out.map(_.getLong(1)).sum > 0,
      "the pruned join lost rows")
    // AQE wraps materialized stages in leaf QueryStageExec nodes —
    // plain collect stops at the stage boundary, so walk with the
    // shared AQE-descending allNodes
    val scans = allNodes(j.queryExecution.executedPlan)
      .collect { case f: FileSourceScanExec => f }
      .filter(_.metadata.getOrElse("Location", "").contains("graft_dpp"))
    assert(scans.nonEmpty, "fact scan not found in the executed plan")
    val pf = scans.head.metadata.getOrElse("PartitionFilters", "")
    assert(pf.contains("dynamicpruning"),
      s"no dynamic partition pruning on the fact scan: $pf")
  }

  test("k-cut queries use TakeOrderedAndProject, never a global sort") {
    // the SCALE.md claim for every orderBy+limit shape: a
    // per-partition heap + k-row driver merge. A regression to
    // Sort + GlobalLimit would ship whole partitions to one task.
    Seq("q_topk", "q_sim_bm25", "q_sample_weighted").foreach { name =>
      val plan = graft.SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(plan.contains("TakeOrderedAndProject"),
        s"$name lost its TakeOrderedAndProject:\n$plan")
    }
  }

  test("pq coding and adc search broadcast the codebook/distance table " +
    "and never sort-merge") {
    Seq("q_embed_pq", "q_sim_pq_adc").foreach { name =>
      val plan = graft.SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastExchange"),
        s"$name should broadcast its constant-sized side:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"$name must not shuffle the corpus for a tiny build side:\n$plan")
    }
  }

  test("IVF corpus-assignment gates plan with NO window and NO " +
    "sort-merge join: the map-side const assignment is structural") {
    // the r18 shape: nearest-cell tagging of the full corpus is one
    // scan-stage projection over collected centroid constants — a
    // WindowExec or SortMergeJoin in THESE plans means the corpus × k
    // crossJoin + full-corpus window exchange + self-join form crept
    // back in (each is a full-data exchange at 100 TB). Only the
    // pure assignment/search gates pin window-freedom: the
    // blocked-pair gates (semdedup, knn-graph, bitext) legitimately
    // keep bounded per-cell windows and in-cell equi-joins.
    Seq("q_sim_ivf_assign", "q_sim_ivf_search").foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      // with AQE on, executedPlan is an AdaptiveSparkPlanExec LEAF:
      // collectWithSubqueries alone would return empty and pass
      // vacuously whatever the plan holds — run the query so the
      // adaptive tree is final, then walk the AQE-descending,
      // subquery-aware node set
      df.collect()
      val exec = df.queryExecution.executedPlan
      val nodes = allNodesWithSubqueries(exec)
      val windows = nodes.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w }
      assert(windows.isEmpty,
        s"$name grew ${windows.size} WindowExec(s) — the const " +
          s"assignment form is window-free:\n$exec")
      val smjs = nodes.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j }
      assert(smjs.isEmpty,
        s"$name must not sort-merge (corpus self-join crept back):\n$exec")
    }
  }

  test("the TopK digest cut aggregates in the hash map, not the sort " +
    "fallback, past 128 keys (the ObjectHashAggregate trap)") {
    // ObjectHashAggregateExec silently falls back to SORT-BASED
    // aggregation once its hash map passes
    // spark.sql.objectHashAggregate.sortBased.fallbackThreshold keys
    // (default 128 — sized for percentile-sketch buffers). The digest
    // cut exists to keep pair volumes OUT of sorts, so the fallback
    // un-does it invisibly: the plan still prints
    // ObjectHashAggregate, only the runtime numTasksFallBacked
    // metric tells the truth. The harness/test sessions raise the
    // threshold (SparkSpec/Bench/Verify builders); this test pins
    // that a >128-key perKey cut really stays in the hash path — if
    // the conf wiring regresses, the metric trips before the bench
    // quietly re-sorts every pair volume.
    val n = 2000 // keys, well past the 128 default
    import spark.implicits._
    // AQE off (save/restore, the file's discipline) so executedPlan
    // is the live tree whose metric instances the collect() fills
    val key = "spark.sql.adaptive.enabled"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val scored = (0 until n).flatMap(k =>
        (0 until 5).map(i => (k.toLong, (k * 31 + i * 7 % 13).toDouble,
          i.toLong))).toDF("key", "cs", "nbr")
      val cut = graft.functions.TopK.perKey(scored, "key", "cs", "nbr", 3)
      assert(cut.collect().length == 3 * n)
      val aggs = cut.queryExecution.executedPlan.collectWithSubqueries {
        case o: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => o
      }
      assert(aggs.nonEmpty,
        "perKey no longer plans ObjectHashAggregate — audit the new shape")
      val fellBack = aggs.map(_.metrics("numTasksFallBacked").value).sum
      assert(fellBack == 0,
        s"$fellBack task(s) fell back to sort-based aggregation on a " +
          s"$n-key digest cut — the fallbackThreshold wiring regressed")
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
