package graft

/** The plan audit as a CI gate: every query in the suite must compile to a
  * physical plan with none of the forbidden shapes (CartesianProduct,
  * non-constant BNLJ build side, full-width wide-table scan). This is the
  * executable form of the Scaladoc contract on [[Explain]] — the audit
  * runs here on every `sbt test`, not only when someone remembers the
  * `runMain`. Plans are built at sf0.001 (shape, not speed, is under test;
  * plan shape is data-size independent for every static check audited). */
class ExplainAuditSpec extends SparkSpec {

  // the audit walks the static plan — AQE's AdaptiveSparkPlanExec wraps the
  // input plan as a non-child field, which would hide the tree entirely
  override val timeLimit = org.scalatest.time.Span(600, org.scalatest.time.Seconds)

  test("plan audit: zero forbidden shapes across the whole query suite") {
    val prior = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // the declared builds are those of the distributed vector fits, the
    // path that runs above the one-task ceiling
    try graft.llm.SimilarityQueries.oneTaskCeiling.withValue(0L) {
      val dir = sf("sf0.001")
      val bad = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
        spark.catalog.clearCache() // as Explain.main: no earlier query's caches
        val plan = SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan
        Explain.audit(plan, Explain.DeclaredBoundedBuilds.getOrElse(name, 0),
          Explain.DeclaredGlobalWindows.getOrElse(name, 0))
          .map(f => s"$name: $f")
      }
      assert(bad.isEmpty, s"plan flags:\n${bad.mkString("\n")}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prior)
  }
}
