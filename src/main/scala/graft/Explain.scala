package graft

/** Staged plan diagnostics.
  *
  * `stages(df)` mirrors the reference's staged `explain()` (reference
  * `diagnostics/_explain.py:18-49`: logical → simplified → lowered →
  * fused stages) by mapping each dask-expr optimizer stage to its
  * Catalyst analogue:
  *   - "parsed"    ≈ the raw expression tree (logical, pre-resolution)
  *   - "analyzed"  ≈ resolved schema/meta (the reference's `_meta` pass)
  *   - "optimized" ≈ simplify+lower (pushdown, pruning, fusion)
  *   - "physical"  ≈ the executable plan (task graph)
  *   - "final"     ≈ post-AQE replanned plan, available after execution
  *     (the reference has no runtime replan — Spark-only stage)
  *
  * `analyzeStats(df)` is the runtime half (reference
  * `_analyze.py:36-80`): it executes the plan and returns each node of
  * the final adaptive plan with its runtime SQL metrics.
  */
object Explain {

  /** Stage-name → plan-string map for the reference's staged explain. */
  def stages(df: org.apache.spark.sql.DataFrame): Seq[(String, String)] = {
    val qe = df.queryExecution
    Seq(
      "parsed" -> qe.logical.toString,
      "analyzed" -> qe.analyzed.toString,
      "optimized" -> qe.optimizedPlan.toString,
      "physical" -> qe.executedPlan.toString)
  }

  /** Structured runtime statistics per physical operator (reference
    * `_analyze.py:36-80` surfaces per-expression row counts/sizes the
    * same way): executes the plan, then walks the FINAL adaptive tree
    * collecting each node's SQL metrics (numOutputRows, dataSize, spill
    * and shuffle byte counters, ...). Pre-order, so `(depth, nodeName)`
    * reconstructs the tree shape. */
  def analyzeStats(df: org.apache.spark.sql.DataFrame): Seq[(Int, String, Map[String, Long])] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val root = df.queryExecution.executedPlan
    root.execute().foreachPartition(_ => ())
    def walk(p: SparkPlan, depth: Int): Seq[(Int, String, Map[String, Long])] = {
      // descend through AQE wrappers into the final (executed) subtree:
      // AdaptiveSparkPlanExec holds it as executedPlan, and materialized
      // QueryStageExec nodes hold theirs as `plan` (childless otherwise)
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      (depth, p.nodeName, p.metrics.map { case (k, m) => k -> m.value }.toMap) +:
        kids.flatMap(walk(_, depth + 1))
    }
    walk(root, 0)
  }
}
