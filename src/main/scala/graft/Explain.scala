package graft

import org.apache.spark.sql.SparkSession

/** Staged plan diagnostics + dev main.
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
  * `analyze(df)` is the runtime half (reference `_analyze.py:36-80`):
  * executes the plan and returns the final adaptive plan string with
  * per-node runtime statistics embedded.
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

  /** Execute and return the final (post-AQE) plan with runtime stats.
    * Executes `df`'s OWN QueryExecution (a sink write would wrap a new
    * one and leave this plan unexecuted/non-final); rows are consumed on
    * the executors, nothing is collected. */
  def analyze(df: org.apache.spark.sql.DataFrame): String = {
    val plan = df.queryExecution.executedPlan
    plan.execute().foreachPartition(_ => ())
    plan.toString
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
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.explain("formatted")
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    println(f"[explain] first run: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    val t1 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    println(f"[explain] second run: ${(System.nanoTime() - t1) / 1e9}%.2f s")
    spark.stop()
  }
}
