package graft

import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.execution.{FileSourceScanExec, GlobalLimitExec, LocalLimitExec,
  LocalTableScanExec, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec

/** Plan-audit tool: runs the shape checks the scale stance promises over
  * query physical plans and exits nonzero when one trips, so the audit can
  * gate CI (`ExplainAuditSpec` sweeps the full suite inside `sbt test`).
  *
  * Checks (each FLAG is fatal):
  *  - CartesianProduct anywhere in the plan;
  *  - BroadcastNestedLoopJoin whose build side is not provably
  *    constant-sized — accepted builds are a chain of row-preserving unary
  *    nodes ending in a no-grouping (1-row) aggregate, a limit, or a local
  *    literal table, plus the per-query [[DeclaredBoundedBuilds]] budget of
  *    construction-bounded builds; anything else (a full table as BNLJ
  *    build) is the |corpus|×|corpus| scale-killer the stance forbids;
  *  - a parquet scan reading EVERY column of a wide (≥ [[WideCols]]-column)
  *    table — the projection never reached the reader;
  *  - a WindowExec with an EMPTY or all-literal partition spec (the whole
  *    input flows through ONE task) beyond the per-query
  *    [[DeclaredGlobalWindows]] budget — accepted only where the window's
  *    input is a bounded summary frame (score-level / activity-level
  *    histograms), never a corpus-sized one.
  *
  * Audits run with AQE disabled: the static plan is the worst case AQE can
  * only improve on, and it exposes the join strategy/scan shape directly
  * instead of hiding it inside AdaptiveSparkPlan. They also run with the
  * one-task ceiling at 0 (`SimilarityQueries.oneTaskCeiling`), so the
  * scaled and PQ fits plan as their distributed chains, whose builds
  * [[DeclaredBoundedBuilds]] counts.
  *
  * Usage: `runMain graft.Explain [queryName...]` — no args sweeps ALL
  * `SparkEntry.queries`. With explicit names the formatted plan is printed
  * too (the local-iteration loupe); the sweep prints only flags.
  */
object Explain {
  /** Tables at or above this column count must show a pruned ReadSchema. */
  val WideCols = 6

  /** BNLJ builds bounded by CONSTRUCTION rather than by plan structure,
    * name → exact expected count. The similarity family deliberately
    * broadcasts (a) the query batch — a serving-layer-bounded set the test
    * derives with a selective literal filter (`vec_id % 50 = 0`), and
    * (b) the k-row centroid/seed tables (grouped-by-cell aggregate, k
    * constant). Neither bound is visible to a static plan walk. The count
    * is EXACT: a new, undeclared BNLJ appearing in one of these queries
    * still trips the audit, and any other query's non-constant build is
    * always fatal. */
  val DeclaredBoundedBuilds: Map[String, Int] = Map(
    "sim_topk_cosine" -> 1, "sim_ann_recall" -> 1, "sim_ivf" -> 1,
    "sim_ivfpq" -> 1, "sim_ivfpq_staged" -> 1, "sim_kmeans" -> 2,
    // rides the same Lloyd chain as sim_kmeans (same 2 k-row centroid
    // broadcasts); the purity rollup itself adds only equi-joins
    "sim_purity" -> 2,
    // the scaled re-fit's THREE-LEVEL final assign: one corpus × kcc-row
    // super-routing cross join (kcc = int-cbrt(k) seed rows of d longs;
    // the round-1 assign and the parent maps sit behind persisted
    // k-row tables the static walk can't open)
    "sim_kmeans_scaled" -> 1,
    // the scaled multi-probe graph: ONE kcc-row super-routing cross join —
    // the final assign's super route and the probe selection's super route
    // are the same (xq × routable-supers, top-4) subplan, so the planner
    // dedupes them into a single physical BNLJ
    "sim_knn_graph_multiprobe_scaled" -> 1,
    // the graph's routing builds (the exchange dedup visible in the bare
    // graph plan does not survive this query's larger plan) + the
    // sampled-brute query batch — measured at the audit SF
    "sim_knn_recall_multiprobe_scaled" -> 3,
    // the scaled IVF-PQ: the three-level fit's final-assign super-routing
    // cross join + the QUERY-batch super-routing cross join — both kcc-row
    // routable-super builds (kcc = int-cbrt(k) rows of d longs, constant
    // by construction; the round-1 assign and the parent maps sit behind
    // persisted k-row tables the static walk can't open)
    "sim_ivfpq_scaled" -> 2,
    // staged twin: only the query-batch routing cross join runs per serve
    // (fit, parents and membership come from the fingerprinted stage)
    "sim_ivfpq_scaled_staged" -> 1,
    // wide re-rank tier: the query-batch MULTIPROBE routing cross join
    // (same xq × routable-supers shape, wider keeps); ADC, shortlist and
    // the |Q|·C exact re-rank join are all equi-joins
    "sim_ivfpq_scaled_rerank" -> 1,
    "sim_twostage" -> 1,
    "sim_twostage_ann" -> 1, "sim_ivf_staged" -> 1,
    "sim_hard_negatives" -> 1, "sim_diverse_topk" -> 1,
    "sim_recall_curve" -> 1, "sim_silhouette" -> 1, "tx_hybrid_rrf" -> 1,
    "sim_knn_recall" -> 1,
    // Lloyd chain centroid broadcasts (2 assigns, one re-derived through
    // the persisted xq lineage so the walk can't prove it) + the
    // sampled-brute query batch — all k-row or sample-bounded builds
    "sim_knn_recall_kmeans" -> 4,
    // Lloyd chain (2 assigns) + the k-row c1 multi-probe routing — all
    // k×d centroid tables, constant by construction
    "sim_knn_graph_multiprobe" -> 3,
    // the graph's 3 centroid broadcasts + the sampled-brute query batch
    "sim_knn_recall_multiprobe" -> 4,
    // the marginal-bucket theta join probes the count-of-counts histogram
    // — bounded by DISTINCT per-user activity levels (≤ max events/user),
    // a data statistic no static plan walk can see
    "ev_concentration" -> 1)

  /** Single-partition windows bounded by CONSTRUCTION (prefix sums over
    * level/bucket-histogram frames — distinct-value-sized, never
    * corpus-sized), name → exact expected count. Same exactness contract
    * as [[DeclaredBoundedBuilds]]: a NEW unpartitioned window appearing in
    * a declared query still trips; any undeclared query's global window is
    * always fatal. Populated by sweeping the suite; each entry's bound was
    * verified by reading the window's input frame in the query source. */
  val DeclaredGlobalWindows: Map[String, Int] = Map(
    // prefix sums over the per-user-activity-level histogram (distinct
    // count values)
    "ev_concentration" -> 2,
    // descending prefix sum over the score-level histogram
    "tx_budget_select" -> 1,
    // prefix max over 8192-event bucket SUMMARIES (|events|/8192 rows)
    "e6_late_filter" -> 1,
    // max-ratio normalizer over the language-cardinality rate frame
    "tx_mix_plan" -> 1, "tx_mix_apply" -> 1,
    // top-50 ranking over the aggregated |vocab| frame — vocab-sized, not
    // corpus-sized; the two-level top-k (tx_source_cap pattern) is the
    // documented swap if a corpus's vocabulary ever rivals its row count
    "tx_vocab" -> 1)

  def main(args: Array[String]): Unit = {
    val spark = graft.core.GraftSession.builder(graft.core.GraftSession.cores, "graft-explain").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val verbose = args.nonEmpty
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    var tripped = false
    // the declared builds are those of the distributed vector fits, the
    // path that runs above the one-task ceiling
    graft.llm.SimilarityQueries.oneTaskCeiling.withValue(0L)(names.foreach { name =>
      // each query plans against an empty cache, as in Verify and Bench: an
      // earlier query's persisted fit would otherwise show up in this plan
      spark.catalog.clearCache()
      val qe = SparkEntry.queries(name)(spark, d).queryExecution
      if (verbose) {
        println(s"===== $name =====")
        println(qe.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")).take(60000))
      }
      val flags = audit(qe.executedPlan, DeclaredBoundedBuilds.getOrElse(name, 0),
        DeclaredGlobalWindows.getOrElse(name, 0))
      flags.foreach { f => println(s"[explain] FLAG $name: $f"); tripped = true }
    })
    println(s"[explain] audited ${names.size} queries, " +
      (if (tripped) "FLAGS RAISED" else "all clean"))
    spark.stop()
    if (tripped) sys.exit(1)
  }

  /** Run all shape checks over a physical plan; returns human-readable
    * flag strings (empty = clean). Pure function of the plan tree so the
    * spec can assert on it directly. `declaredBnlj` is the exact number of
    * construction-bounded BNLJ builds this query has declared
    * ([[DeclaredBoundedBuilds]]) — fewer or more both flag. */
  def audit(plan: SparkPlan, declaredBnlj: Int = 0,
      declaredGlobalWin: Int = 0): Seq[String] = {
    val flags = Seq.newBuilder[String]
    var unprovedBnlj = 0
    var globalWin = 0
    foreachNode(plan) {
      case p if p.nodeName.contains("CartesianProduct") =>
        flags += "CartesianProduct in the physical plan"
      case j: BroadcastNestedLoopJoinExec =>
        val build = j.buildSide match {
          case BuildLeft => j.left
          case BuildRight => j.right
        }
        if (!constantSized(build)) unprovedBnlj += 1
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty || w.partitionSpec.forall(_.foldable) =>
        globalWin += 1
      case s: FileSourceScanExec =>
        val full = s.relation.dataSchema.size
        if (full >= WideCols && s.requiredSchema.size >= full)
          flags += s"scan reads every column (${s.requiredSchema.size}/$full) of " +
            s"${s.tableIdentifier.map(_.toString).getOrElse(s.relation.location.rootPaths.headOption.getOrElse("?"))} " +
            s"— projection not pushed to the reader"
      case _ => ()
    }
    if (unprovedBnlj != declaredBnlj)
      flags += s"$unprovedBnlj BroadcastNestedLoopJoin(s) with a non-constant build " +
        s"side vs $declaredBnlj declared — an undeclared full-table BNLJ build is " +
        s"O(|corpus|) broadcast and O(n·m) compare"
    if (globalWin != declaredGlobalWin)
      flags += s"$globalWin unpartitioned/constant-partition WindowExec(s) vs " +
        s"$declaredGlobalWin declared — an undeclared global window funnels its " +
        s"whole input through one task"
    flags.result()
  }

  /** Walk every node including inside WholeStageCodegen/subqueries. */
  private def foreachNode(p: SparkPlan)(f: SparkPlan => Unit): Unit = {
    f(p)
    p.children.foreach(foreachNode(_)(f))
    p.subqueries.foreach(foreachNode(_)(f))
  }

  /** A build side is constant-sized when a chain of row-preserving unary
    * nodes ends in a cardinality bound: a no-grouping aggregate (1 row), a
    * limit, or a local literal table. Generate/explode-style unaries are
    * NOT row-preserving and fall through to `false`. */
  private def constantSized(p: SparkPlan): Boolean = p match {
    case a: BaseAggregateExec if a.groupingExpressions.isEmpty => true
    case _: GlobalLimitExec | _: LocalLimitExec => true
    case _: LocalTableScanExec => true
    // a reused broadcast of a provably-constant exchange is constant too
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
      constantSized(r.child)
    case u: UnaryExecNode if rowPreserving(u) => constantSized(u.child)
    case _ => false
  }

  private def rowPreserving(u: UnaryExecNode): Boolean = u.nodeName match {
    case n if n.startsWith("Project") || n.startsWith("Filter") => true
    case n if n.startsWith("Sort") || n.startsWith("Exchange") => true
    case n if n.startsWith("BroadcastExchange") || n.startsWith("ShuffleExchange") => true
    case n if n.startsWith("WholeStageCodegen") || n.startsWith("InputAdapter") => true
    case n if n.startsWith("ColumnarToRow") || n.startsWith("RowToColumnar") => true
    case n if n.startsWith("SerializeFromObject") || n.startsWith("DeserializeToObject") => true
    case n if n.startsWith("Coalesce") || n.startsWith("AQEShuffleRead") => true
    case _ => false
  }
}
