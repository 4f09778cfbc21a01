package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import graft.operators.Cascade

/** Physical-plan regression guards for the flagship operators: the
  * properties that matter at 100 TB must survive refactors. */
class PlanPropertiesSpec extends SparkSpec {
  import spark.implicits._

  /** Every node of an executed plan, through AQE wrappers, query stages
    * and reused exchanges. */
  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val next = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case _ => p.children
    }
    p +: next.flatMap(flatten)
  }

  test("cascade agg pick plans as map-side-combined hash aggregations, " +
    "no cartesian product, no window sorts") {
    val rels = Seq((1, 2, 1, 3, "HGNC", "A, B"), (1, 3, 1, 3, "NCBI", "C"))
      .toDF("srcRgdId", "destRgdId", "srcSpeciesTypeKey",
        "destSpeciesTypeKey", "dataSource", "dataSetName")
      .withColumn("groupId", col("srcRgdId"))
    val genes = Seq((1, "g1"), (2, "g2"), (3, "g3"))
      .map { case (id, sym) => (id, sym, sym, "protein-coding", 3, sym) }
      .toDF("rgdId", "geneSymbol", "geneName", "geneTypeLc",
        "speciesTypeKey", "ensemblGeneSymbol")
    val cands = Cascade.candidates(rels,
      Fixture.emptyOrthologs(spark), Fixture.emptyAgr(spark), genes)

    val plan = Cascade.pickStrongOrthologsAgg(cands, genes)
      .queryExecution.executedPlan.toString

    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"), plan)
    // the three aggregation levels all carry partial (map-side) phases
    assert(plan.contains("partial_min_by") || plan.contains("partial_minby"), plan)
    assert(plan.contains("partial_count"), plan)
    // and the pick path has no window operator left
    assert(!plan.contains("Window"), plan)
  }

  test("resolution map plans with a semi-join pruning of the dimension side") {
    val egIds = Seq("EG1", "EG2").toDF("egId")
    val xrefs = Seq((1L, 1, graft.model.XdbKeys.ENTREZGENE, "EG1"))
      .map { case (k, r, x, a) => (k, r, x, a, "p",
        java.sql.Timestamp.valueOf("2026-01-01 00:00:00")) }
      .toDF("accXdbKey", "rgdId", "xdbKey", "accId", "srcPipeline",
        "modificationDate")
    val genes = Seq((1, "g1", "g1", "protein-coding", 1, "g1"))
      .toDF("rgdId", "geneSymbol", "geneName", "geneTypeLc",
        "speciesTypeKey", "ensemblGeneSymbol")
    val rgdIds = Seq((1, "ACTIVE", 1)).toDF("rgdId", "objectStatus", "speciesTypeKey")
    val history = Seq.empty[(Int, Int)].toDF("oldRgdId", "newRgdId")

    val plan = graft.operators.Resolve
      .resolutionMap(egIds, xrefs, genes, rgdIds, history)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("resolveRelations builds every broadcast on the id map, never on " +
    "the relations") {
    // relations read from a small parquet file, as Fixtures.relations
    // reads lineitem: Spark sizes the scan by its compressed bytes, so
    // without the hint the relations look smaller than the id map
    val dir = java.nio.file.Files.createTempDirectory("resolve_bcast").toString
    (1 to 400).map(i => (s"EG${1000 + i % 100 * 2}", s"EG${1001 + i * 7 % 100 * 2}",
      if (i % 2 == 1) "HGNC" else "NCBI", if (i % 2 == 1) "OMA" else "Ortholog"))
      .toDF("srcOtherId", "destOtherId", "dataSource", "dataSetName")
      .write.parquet(s"$dir/relations")
    val relations = spark.read.parquet(s"$dir/relations")
    val ids = (0 until 100).flatMap(i => Seq(1000 + 2 * i, 1001 + 2 * i))
    val xrefs = ids.map(id => (id.toLong, id, graft.model.XdbKeys.ENTREZGENE,
        s"EG$id", "p", java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
      .toDF("accXdbKey", "rgdId", "xdbKey", "accId", "srcPipeline",
        "modificationDate")
    val genes = ids.map(id => (id, s"g$id", s"g$id", "protein-coding", 1, s"g$id"))
      .toDF("rgdId", "geneSymbol", "geneName", "geneTypeLc",
        "speciesTypeKey", "ensemblGeneSymbol")
    val rgdIds = ids.map(id => (id, "ACTIVE", 1))
      .toDF("rgdId", "objectStatus", "speciesTypeKey")
    val history = Seq.empty[(Int, Int)].toDF("oldRgdId", "newRgdId")

    Scope(spark) {
      val (resolved, _) = graft.operators.Resolve.resolveRelations(
        relations, xrefs, genes, rgdIds, history)
      // `resolved` as OrthologPipeline.picks reads it first, while the
      // persisted id map is not yet materialized: dropUnmapped's
      // null-rejecting filter turns both left joins into inner joins,
      // which Spark may build on either side
      for (df <- Seq(graft.operators.Resolve.dropUnmapped(resolved), resolved)) {
        // an action on `df` itself, so AQE finalizes the plan read below
        assert(df.collect().length == 400) // every id resolves
        val plan = flatten(df.queryExecution.executedPlan)
        val builds = plan.collect { case b: BroadcastExchangeExec => b }
        assert(builds.nonEmpty, plan.head.toString)
        for (b <- builds) {
          val cols = b.output.map(_.name).toSet
          assert(!cols.contains("dataSource") && !cols.contains("dataSetName"),
            s"the relations are a broadcast build side:\n${plan.head}")
        }
      }
    }
  }

  test("mixture repeat plans the cutoff attach as a broadcast join, " +
    "no cartesian, map-side-combined count") {
    val d = (1L to 100L).map(i =>
      (i, if (i % 2 == 0) "a" else "b", s"text $i"))
      .toDF("doc_id", "source", "text")
    val plan = graft.llm.Splitting.mixtureRepeat(d,
        Map("a" -> 0.3, "b" -> 0.7))
      .queryExecution.executedPlan.toString
    // config-sized cutoffs attach via broadcast - the data never
    // reshuffles for the join
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    // the global repeat-floor min attaches via the scalar-attach
    // convention (aggregate + broadcast crossJoin, r17 - replaced the
    // single-partition Window.partitionBy()); its <=1-row-build BNLJ is
    // allowed here and machine-checked by the scalar-BNLJ test below
    assert(!plan.contains("CartesianProduct"), plan)
    // the stratum count aggregate combines map-side
    assert(plan.contains("partial_count"), plan)
  }

  test("bpe encode broadcasts the vocabulary; count path ships no arrays") {
    val d = Seq((1L, "aa ab"), (2L, "ab ab b")).toDF("doc_id", "text")
    val merges = Seq(("a", "a"), ("a", "b"))
    val encPlan = graft.llm.TextAnalysis.bpeEncode(d, merges)
      .queryExecution.executedPlan.toString
    // the induced vocabulary (chars + merge products) is config-sized
    // and must attach by broadcast, not a vocab-keyed shuffle
    assert(encPlan.contains("BroadcastHashJoin"), encPlan)
    assert(!encPlan.contains("CartesianProduct") &&
      !encPlan.contains("BroadcastNestedLoop"), encPlan)
    val cntPlan = graft.llm.TextAnalysis.bpeTokenCounts(d, merges)
      .queryExecution.executedPlan.toString
    // the count-only path must not assemble per-doc id arrays: no
    // collect_list aggregate anywhere, sums combine map-side
    assert(!cntPlan.contains("collect_list"), cntPlan)
    assert(cntPlan.contains("partial_sum"), cntPlan)
    assert(!cntPlan.contains("CartesianProduct") &&
      !cntPlan.contains("BroadcastNestedLoop"), cntPlan)
  }

  test("packing windows are never keyed by the stratum column alone " +
    "over row-sized data (two-level shard prefix sum)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val d = (1L to 200L).map(i =>
      (i, if (i % 2 == 0) "web" else "code", 60L))
      .toDF("doc_id", "source", "n_tokens")
    for (df <- Seq(graft.llm.Packing.assignBins(d, budgetTokens = 200),
                   graft.llm.Packing.assignChunks(d, seqLen = 256))) {
      val wins = df.queryExecution.optimizedPlan.collect {
        case w: LWindow => w
      }
      assert(wins.nonEmpty)
      // the corpus-sized cumsum must partition by (stratum, shard) -
      // a single-column partition spec there would serialize a hot
      // stratum through one WindowExec task at 100 TB
      assert(wins.exists(_.partitionSpec.size >= 2),
        df.queryExecution.optimizedPlan.toString)
      // any single-key window is only allowed over the aggregated
      // per-(stratum, shard) totals frame (bounded by shard count),
      // never directly over the document stream
      for (w <- wins if w.partitionSpec.size < 2)
        assert(w.collectFirst { case a: Aggregate => a }.isDefined,
          w.toString)
    }
  }

  test("packing broadcast-joins the shard offsets; no cartesian") {
    val d = (1L to 200L).map(i => (i, s"s${i % 3}", 10L))
      .toDF("doc_id", "source", "n_tokens")
    val plan = graft.llm.Packing.assignBins(d, budgetTokens = 100)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"), plan)
  }

  test("hll/cms sketches plan as single map-side-combined aggregations, " +
    "no window, no join on the register build") {
    val d = (1L to 300L).map(i => (s"s${i % 3}", s"w${i % 97}"))
      .toDF("source", "w")
    val hll = graft.llm.Sketches.hllReport(d, "source", col("w"))
      .queryExecution.executedPlan.toString
    assert(hll.contains("partial_max") || hll.contains("partial_count"), hll)
    assert(!hll.contains("Window") && !hll.contains("CartesianProduct"), hll)
    val cms = graft.llm.Sketches.cmsSketch(d, col("w"))
      .queryExecution.executedPlan.toString
    assert(cms.contains("partial_count"), cms)
    assert(!cms.contains("Window") && !cms.contains("Join"), cms)
  }

  test("tfidf top-k windows always carry the shard key next to the stratum") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val d = (1L to 120L).map(i => (i, s"s${i % 3}", s"alpha w$i w${i % 7}"))
      .toDF("doc_id", "source", "text")
    val plan = graft.llm.Sketches.tfidfTopTerms(d, k = 5).queryExecution
    val wins = plan.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty)
    // the vocabulary-sized scored frame may only be windowed per
    // (stratum, shard); the single-key final window sees <= 64*k rows
    // because the shard pass upstream already cut to per-shard top-k
    val sharded = wins.filter(_.partitionSpec.size >= 2)
    assert(sharded.nonEmpty, plan.optimizedPlan.toString)
    assert(!plan.executedPlan.toString.contains("CartesianProduct"))
  }

  test("chunking is map-only: no shuffle, no join, no window") {
    val d = (1L to 50L).map(i => (i, (1 to 30).map("t" + _).mkString(" ")))
      .toDF("doc_id", "text")
    val plan = graft.llm.Chunking.chunkDocuments(d)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Join") && !plan.contains("Window"), plan)
  }

  test("every BroadcastNestedLoopJoin build side is a <=1-row scalar " +
    "frame (the documented scalar-attach convention, enforced)") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    import org.apache.spark.sql.execution.{InputAdapter, LocalTableScanExec, ProjectExec, WholeStageCodegenExec}
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}

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
    // a scalar build is a global (no-grouping) aggregate - guaranteed
    // <= 1 row at ANY data size - or a literal <=1-row local relation
    def isScalar(p: SparkPlan): Boolean = unwrap(p) match {
      case h: HashAggregateExec => h.groupingExpressions.isEmpty
      case o: ObjectHashAggregateExec => o.groupingExpressions.isEmpty
      case s: SortAggregateExec => s.groupingExpressions.isEmpty
      case l: LocalTableScanExec => l.rows.lengthCompare(1) <= 0
      case _ => false
    }
    def assertScalarBnljOnly(name: String, df: DataFrame): Int = {
      df.collect() // execute so AQE finalizes the inspected plan
      val bnljs = flatten(df.queryExecution.executedPlan)
        .collect { case b: BroadcastNestedLoopJoinExec => b }
      bnljs.foreach { b =>
        val build = b.buildSide match {
          case BuildLeft => b.left
          case BuildRight => b.right
        }
        assert(isScalar(build),
          s"$name: BNLJ build side is not a <=1-row scalar frame - a " +
            s"data-sized build here is a scale killer:\n$build")
      }
      bnljs.size
    }

    val docs = (1L to 60L).map(i => (i, s"s${i % 3}",
      (1 to 12).map(j => s"w${(i * 7 + j) % 23}").mkString(" ")))
      .toDF("doc_id", "source", "text")
    // the scalar-attach operator family (the BNLJ* rows of the round-8
    // plan-audit table): every BNLJ these plans produce must be a
    // broadcast GLOBAL aggregate. recallAtK's broadcast probe set and
    // sourceKlReport's |strata|-row totals are the two documented
    // bounded-frame exceptions and are excluded here by design.
    val probes: Seq[(String, DataFrame)] = Seq(
      "bigramLmScores" -> graft.llm.LmScore.bigramLmScores(docs),
      "dsirScores" -> graft.llm.LmScore.dsirScores(
        docs, docs.filter($"source" === "s0")),
      "lossReweightReport" -> graft.llm.LmScore.lossReweightReport(docs),
      "tfidfTopTerms" -> graft.llm.Sketches.tfidfTopTerms(docs, k = 3),
      "hashedTfidfSparse" -> graft.llm.Sketches.hashedTfidfSparse(docs),
      "pmiCollocations" -> graft.llm.Sketches.pmiCollocations(docs),
      // the r17 stratum-frame extrema (aggregate + broadcast crossJoin
      // replacing Window.partitionBy()): their BNLJs must stay scalar
      "temperatureSample" -> graft.llm.Splitting.temperatureSample(docs),
      "mixtureSample" -> graft.llm.Splitting.mixtureSample(
        docs, Map("s0" -> 0.5, "s1" -> 0.3, "s2" -> 0.2)),
      "mixtureRepeat" -> graft.llm.Splitting.mixtureRepeat(
        docs, Map("s0" -> 0.5, "s1" -> 0.3, "s2" -> 0.2)))
    val nBnlj = probes.map { case (n, df) => assertScalarBnljOnly(n, df) }.sum
    // the family genuinely exercises the convention - if refactors
    // remove every BNLJ this test must be pointed at the new sites
    assert(nBnlj >= 4, s"expected scalar-attach BNLJs in the probe " +
      s"family, found $nBnlj - update the probe list")
  }

  test("AGR upsert plans as an equi-join on the flagship fixture - " +
    "never a nested-loop (the constant-key fold pathology)") {
    // Round-9 10x gate finding: when BOTH sides' methodsMatched were
    // constant literals, Catalyst folded the key equality to FALSE and
    // the full-outer degenerated to a condition-false
    // BroadcastNestedLoopJoin - O(|incoming| x |state|), 250s at 10x.
    // This pins the REGISTRY fixture path: the upsert over
    // Fixtures-derived frames must stay an equi-join.
    val dir = "/root/testdata/sf0.001"
    val st = graft.pipeline.Fixtures.state(spark, dir)
    val lines = graft.pipeline.Fixtures.allianceLines(spark, dir)
    val runTs = java.sql.Timestamp.valueOf("2026-08-01 12:00:00")
    val resolved = graft.operators.Agr.resolveCuries(
      lines.select($"curie1".as("curie"), $"geneSymbol1".as("geneSymbol"),
          $"speciesTypeKey1".as("speciesTypeKey"))
        .unionByName(lines.select($"curie2".as("curie"),
          $"geneSymbol2".as("geneSymbol"),
          $"speciesTypeKey2".as("speciesTypeKey")))
        .distinct(),
      st.xrefs, st.genes, st.rgdIds)
    val r1 = resolved.select($"curie".as("curie1"), $"rgdId".as("rgdId1"))
    val r2 = resolved.select($"curie".as("curie2"), $"rgdId".as("rgdId2"))
    val incoming = lines.join(r1, Seq("curie1")).join(r2, Seq("curie2"))
      .filter($"rgdId1".isNotNull && $"rgdId2".isNotNull)
      .select($"rgdId1".as("geneRgdId1"), $"rgdId2".as("geneRgdId2"),
        lit("stringent").as("confidence"),
        when($"isBestScore", "Y").otherwise("N").as("isBestScore"),
        when($"isBestRevScore", "Y").otherwise("N").as("isBestRevScore"),
        $"algorithms".as("methodsMatched"))
    val plan = graft.operators.Agr
      .upsertAgrOrthologs(incoming, st.agrOrthologs, runTs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop") &&
      !plan.contains("CartesianProduct"), plan)
  }

  test("registry-wide: partition-id-derived data never sits above a " +
    "multiply-referenced UNPINNED range exchange (the r13 " +
    "ShardedPrefixSum bug class, automated over every query)") {
    // The r13 parity leg caught one instance of a whole bug class: a
    // range-partitioned frame feeding TWO consumers compiles two
    // independent exchanges, RangePartitioner samples boundaries with
    // an RDD-id-derived seed, and anything derived from
    // spark_partition_id() then disagrees between the branches. The
    // fix pins ONE materialization (persist -> InMemoryRelation), which
    // hides both the partition-id projection and the range repartition
    // from the consumer's optimized logical plan. This automates the
    // r13 hand audit as a plan invariant over the ENTIRE registry: in
    // every query's optimized plan, any node computing
    // spark_partition_id() must not have a range repartition below it
    // whose canonical form occurs more than once in the tree (a shared
    // subtree visited through two parents counts twice - exactly the
    // dual-consumer shape). Removing the persist pin in
    // ShardedPrefixSum.cumBefore makes this fail on every packing /
    // budget / profile query (verified when this spec was written).
    import org.apache.spark.sql.catalyst.expressions.{SortOrder, SparkPartitionID}
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, RepartitionByExpression}
    val dir = "/root/testdata/sf0.001"
    def rangeReps(p: LogicalPlan): Seq[RepartitionByExpression] = p.collect {
      case r: RepartitionByExpression
        if r.partitionExpressions.exists(_.isInstanceOf[SortOrder]) => r
    }
    val offenders = Seq.newBuilder[String]
    try {
      for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
        val plan = fn(spark, dir).queryExecution.optimizedPlan
        // canonical multiplicity of every range repartition in the tree
        val mult = rangeReps(plan).map(_.canonicalized)
          .groupBy(identity).view.mapValues(_.size).toMap
        // range repartitions sitting BELOW a spark_partition_id() use
        val underPid = plan.collect {
          case n if n.expressions.exists(e =>
            e.collectFirst { case _: SparkPartitionID => () }.isDefined) => n
        }.flatMap(n => rangeReps(n).map(_.canonicalized))
        if (underPid.distinct.exists(c => mult.getOrElse(c, 0) >= 2))
          offenders += name
      }
    } finally {
      spark.sharedState.cacheManager.clearCache()
      graft.pipeline.Memo.clear()
    }
    assert(offenders.result().isEmpty,
      s"unpinned dual-consumer range exchange under spark_partition_id " +
        s"in: ${offenders.result().mkString(", ")} - the ShardedPrefixSum " +
        "persist pin (or an equivalent single materialization) is missing")
  }

  test("registry-wide: every global (empty-partition) window sits above " +
    "an aggregate or an explicit limit - never over an unbounded row " +
    "stream (the single-reducer WindowExec scale killer, automated)") {
    // Spark warns "No Partition Defined for Window operation" on every
    // empty-partitionSpec window; the r14 audit hand-traced all 70
    // occurrences across the registry to frames bounded by construction
    // (per-stratum aggregate outputs, post-limit(k) score heads). This
    // turns that session note into a machine invariant over the ENTIRE
    // registry: in every query's optimized plan, a Window with an empty
    // partitionSpec must have an Aggregate or a literal-bounded
    // GlobalLimit somewhere BELOW it. An aggregate's group count is
    // accepted as the bound (per the r14 audit: the registry's global
    // windows ride per-stratum / per-shard aggregate frames whose
    // cardinality is config-sized, never per-row frames); a global
    // window straight over a document/event stream has neither and
    // fails here.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, LocalLimit, LocalRelation, LogicalPlan, Window => LWindow}
    val dir = "/root/testdata/sf0.001"
    def unboundedGlobalWins(plan: LogicalPlan): Seq[LWindow] =
      plan.collect { case w: LWindow if w.partitionSpec.isEmpty => w }
        .filterNot { w =>
          w.child.collectFirst {
            case _: Aggregate => ()
            case g: GlobalLimit if g.maxRows.exists(_ <= 100000) => ()
            case l: LocalLimit if l.maxRows.exists(_ <= 100000) => ()
            case r: LocalRelation if r.data.lengthCompare(100000) <= 0 => ()
          }.isDefined
        }
    // teeth: a global rank straight over a row stream must be flagged
    val offender = spark.range(500).toDF("id").withColumn("rn",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("id"))))
    assert(unboundedGlobalWins(offender.queryExecution.optimizedPlan).nonEmpty,
      "the checker must flag an unbounded global window")
    val offenders = Seq.newBuilder[String]
    try {
      for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
        val bad = unboundedGlobalWins(fn(spark, dir).queryExecution.optimizedPlan)
        if (bad.nonEmpty) offenders += s"$name (${bad.size} window(s))"
      }
    } finally {
      spark.sharedState.cacheManager.clearCache()
      graft.pipeline.Memo.clear()
    }
    assert(offenders.result().isEmpty,
      "global window over an unbounded frame (single-reducer WindowExec " +
        s"at scale) in: ${offenders.result().mkString(", ")}")
  }

  test("containment pair stage ships sketches only - no shingle arrays " +
    "past the sketch build, candidates via equi-join") {
    val d = (1L to 60L).map(i =>
      (i, (1 to 25).map(j => s"w${(i + j) % 40}").mkString(" ")))
      .toDF("doc_id", "text")
    val plan = graft.llm.Dedup.bottomKContainmentPairs(d)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"), plan)
    // the only shuffles are the hash-key window + the two sketch joins;
    // the raw shingle_array expression must not appear downstream of
    // the sketch projection (bottom-k slice happens in the same stage)
    assert(plan.contains("SortMergeJoin") || plan.contains("BroadcastHashJoin") ||
      plan.contains("ShuffledHashJoin"), plan)
  }
}
