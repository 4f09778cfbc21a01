package graft.tools

/** Driver-shaped smoke check: runs SparkEntry.entry the way the harness
  * does (t1), prints row count + a sample, and cross-checks the
  * queries/oracleSql registries for orphans. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val only = graft.registry.Registry.only()
    val spark = graft.LocalSession("graft-smoke")

    val df = graft.SparkEntry.entry(spark)
    println("ENTRY_ROWS=" + df.count())
    df.show(5, truncate = false)

    val orphans = graft.SparkEntry.oracleSql.keySet -- graft.SparkEntry.queries.keySet
    println("ORPHAN_ORACLES=" + orphans)

    // every registered query must at least run on the smallest sf -
    // AND its physical plan must be free of data-sized nested-loop /
    // cartesian joins (the registry-wide sweep for the constant-fold
    // BNLJ class the round-9 10x gate caught in the AGR upsert)
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"

    // The byte-BPE train/encode DuckDB oracles remap only the space
    // byte (space -> chr(288)); that shortcut is valid iff the
    // documents corpus contains printable ASCII + space ONLY. Enforce
    // the assumption instead of assuming it: any tab / newline /
    // non-ASCII character in any fixture document fails the smoke run.
    val nonPrintable = graft.sources.Readers.table(spark, dir, "documents")
      .where(org.apache.spark.sql.functions.col("text").isNotNull &&
        org.apache.spark.sql.functions.col("text").rlike("[^ -~]"))
      .count()
    println(s"NON_PRINTABLE_ASCII_DOCS=$nonPrintable")

    // q_stream_ann / q_stream_ann_mb share the batch knnJoin oracle
    // VERBATIM, which is sound only while their query frame
    // (vec_id < 5) has no null embeddings: the streaming side DROPS
    // nulls where knnJoin pads null-cosine rank-last rows
    // (StreamingAnn.candidates scaladoc). Enforce the fixture property
    // here so a fixture change fails the smoke run with a named cause,
    // not a confusing downstream hash mismatch.
    val nullAnnQueries = graft.sources.Readers.table(spark, dir, "embeddings")
      .where(org.apache.spark.sql.functions.col("vec_id") < 5 &&
        org.apache.spark.sql.functions.col("embedding").isNull)
      .count()
    println(s"NULL_EMBEDDING_ANN_QUERIES=$nullAnnQueries")

    // what the session holds must be the same after the registry loop
    // as before it: every query's scope released what it made, and
    // nothing it did not make
    val held0 = graft.Scope.held(spark)
    val unmat0 = graft.operators.ShardedPrefixSum.unmaterializedReleases

    var planBad = 0
    val runs = graft.Scope.registry(spark, dir, only) {
      (name, e) => println(s"QUERY_FAILED $name: ${e.getMessage}")
    } { (name, df) =>
      badJoins(df.queryExecution.sparkPlan, name).foreach { msg =>
        planBad += 1
        println(s"PLAN_VIOLATION $msg")
      }
      df.write.format("noop").mode("overwrite").save()
    }
    val failed = runs.count(_.failed)
    println(s"QUERIES_OK=${runs.size - failed} FAILED=$failed")
    println(s"PLAN_VIOLATIONS=$planBad")
    val held1 = graft.Scope.held(spark)
    val (added, dropped) = (held1 -- held0, held0 -- held1)
    // pins added in the loop are counted in `added`
    val left = added.size + dropped.size + (held1 -- added).pins.size
    for ((what, h) <- Seq("added" -> added, "dropped" -> dropped); if h.size > 0)
      println(s"SCOPE_LEFT_$what rdds=${h.rdds.keys.toSeq.sorted} views=${h.views} " +
        "entries=" + h.entries.map(_.plan.output.map(_.name).mkString("(", ",", ")")))
    println(s"SCOPE_LEFT=$left")
    println("PIN_UNMATERIALIZED=" +
      (graft.operators.ShardedPrefixSum.unmaterializedReleases - unmat0))
    spark.stop()
    if (failed > 0 || planBad > 0 || nonPrintable > 0 ||
      nullAnnQueries > 0 || left > 0) sys.exit(1)
  }

  /** Non-scalar BroadcastNestedLoopJoin / CartesianProduct findings in
    * a physical plan. A BNLJ is acceptable ONLY when its build side
    * unwraps to a global (no-grouping) aggregate or a <=1-row local
    * relation (the scalar-attach convention) - with one whitelisted
    * two whitelisted exceptions: q_ann_recall's broadcast probe set
    * (documented driver-bounded query frame) and q_t_source_kl's
    * |strata|-row per-source totals (the dense vocab x sources support
    * build - bounded by the stratum count, documented in LmScore). */
  private val bnljWhitelist = Set("q_ann_recall", "q_t_source_kl")

  private def badJoins(plan: org.apache.spark.sql.execution.SparkPlan,
                       name: String): Seq[String] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    import org.apache.spark.sql.execution.{InputAdapter, LocalTableScanExec, ProjectExec, WholeStageCodegenExec}
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val next = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case r: ReusedExchangeExec => Seq(r.child)
        case _ => p.children
      }
      p +: next.flatMap(flatten)
    }
    @annotation.tailrec
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case q: QueryStageExec => unwrap(q.plan)
      case e: BroadcastExchangeExec => unwrap(e.child)
      case r: ReusedExchangeExec => unwrap(r.child)
      case w: WholeStageCodegenExec => unwrap(w.child)
      case i: InputAdapter => unwrap(i.child)
      case pr: ProjectExec => unwrap(pr.child)
      case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
      case _ => p
    }
    def isScalar(p: SparkPlan): Boolean = unwrap(p) match {
      case h: HashAggregateExec => h.groupingExpressions.isEmpty
      case o: ObjectHashAggregateExec => o.groupingExpressions.isEmpty
      case s: SortAggregateExec => s.groupingExpressions.isEmpty
      case l: LocalTableScanExec => l.rows.lengthCompare(1) <= 0
      case _ => false
    }
    if (bnljWhitelist(name)) Nil
    else flatten(plan).flatMap {
      case _: CartesianProductExec =>
        Seq(s"$name: CartesianProduct in plan")
      case b: BroadcastNestedLoopJoinExec =>
        val build = b.buildSide match {
          case BuildLeft => b.left
          case BuildRight => b.right
        }
        if (isScalar(build)) Nil
        else Seq(s"$name: non-scalar BNLJ build side " +
          s"(${b.joinType}, cond=${b.condition})")
      case _ => Nil
    }
  }
}
