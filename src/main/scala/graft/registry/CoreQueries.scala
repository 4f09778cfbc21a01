package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Exprs
import graft.llm.Features
import graft.operators.{Agr, Grouping, Keys, Merge, Resolve, TemporalJoins, WeakSync}
import graft.pipeline.{Fixtures, OrthologPipeline, TpchShapes}
import graft.sources.Readers
import graft.registry.Shared._

/** Core ortholog-flow queries: the SURVEY section-2 operator shapes
  * (scans, resolution joins, grouping and merge aggregates, cascades,
  * canonicalization, sync diffs, repairs, HomoloGene, event and
  * temporal joins) and the --species / --agrOrthologs flagships. */
object CoreQueries {

  /** Gene dimension for the operator-routed report queries (shared so
    * every report query and its oracle derive the same frames). */
  private def reportGenes(s: SparkSession, dir: String, maxId: Int): DataFrame =
    Readers.table(s, dir, "part").filter(col("p_partkey") <= maxId).select(
      col("p_partkey").cast("int").as("rgdId"),
      col("p_name").as("geneSymbol"),
      when(col("p_partkey") % 11 === 0, "allele")
        .when(col("p_partkey") % 13 === 0, "splice")
        .otherwise("protein-coding").as("geneTypeLc"))

  /** Id registry for the report queries: every 7th id WITHDRAWN,
    * species cycling 1..5 (3 = the reported species; 4-5 land outside
    * the human/mouse/rat partner set). */
  private def reportRgdIds(s: SparkSession, dir: String, maxId: Int): DataFrame =
    Readers.table(s, dir, "part").filter(col("p_partkey") <= maxId).select(
      col("p_partkey").cast("int").as("rgdId"),
      when(col("p_partkey") % 7 === 0, "WITHDRAWN").otherwise("ACTIVE")
        .as("objectStatus"),
      (col("p_partkey") % 5 + 1).cast("int").as("speciesTypeKey"))

  /** The HomoloGene pair-synthesis fixture shared by q_s4_homologene and
    * q_s4_homologene_sync: entries with bounded group fan-out, duplicate
    * member lines (the dup flag), multi-match gene ids (G1/G2 resolve to
    * two customers each and drop), and a zero-match id (G11). */
  private def homologenePairs(s: SparkSession, dir: String): DataFrame = {
    val entries = Readers.table(s, dir, "lineitem")
      .filter(col("l_orderkey") % 2 === 1 && col("l_linenumber") === 1)
      .select((col("l_orderkey") % 8000).cast("int").as("homologene_group_id"),
        (col("l_suppkey") % 4).cast("int").as("taxsel"),
        concat(lit("G"), col("l_partkey") % 12).as("gene_id"),
        (col("l_quantity") < 25).as("dup"))
      .distinct()
      .select(col("homologene_group_id"),
        element_at(array(lit(9606), lit(10090), lit(10116), lit(7955)),
          col("taxsel") + 1).as("tax_id"),
        col("gene_id"))
      .filter(col("tax_id") =!= 7955) // parse-time badSpecies drop
    val resolution = Readers.table(s, dir, "customer")
      .filter(col("c_custkey") <= 13)
      .select(concat(lit("G"), col("c_custkey") % 11).as("gene_id"),
        col("c_custkey").cast("int").as("rgdId"))
    graft.operators.Homologene.synthesizePairs(entries, resolution)
  }

  /** The picks stage of the flagship --species run, computed once per
    * (session, sf dir) and shared by every registered query that derives
    * from it (see pipeline.Memo). Those queries read only the strong
    * picks, so the later phases are not run. */
  private[graft] def pipelinePicks(s: SparkSession, dir: String): OrthologPipeline.Picks =
    graft.pipeline.Memo.once(s, s"pipeline:$dir") {
      val st = Fixtures.state(s, dir)
      val rel = Fixtures.relations(s, dir)
      // production phase persistence: every phase boundary writes a
      // bucketed parquet state table and the plan restarts from the
      // store read - so the benched/oracled flagship pays the real
      // state write+read cost, and the memoized picks are rooted at
      // files (see pipeline.Memo)
      val prefix = "graft_fs_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      // state tables are session-lifetime scratch under the shared
      // scratch root (one JVM shutdown hook removes the whole tree;
      // the graft_fs_* catalog entries point here and die with the
      // in-memory metastore)
      val base = scratchDir("graft_flagship_state").toString
      // 16 buckets at bench/test scale (~60k-row state tables); the
      // bucket count is a per-table scale knob, not a topology property
      OrthologPipeline.picks(rel, st,
        OrthologPipeline.BucketedPhases(prefix, base, buckets = 16))
    }

  /** The flagship --agrOrthologs run, memoized the same way. */
  private def agrResult(s: SparkSession, dir: String): graft.pipeline.AgrPipeline.Result =
    graft.pipeline.Memo.once(s, s"agr:$dir") {
      val st = Fixtures.state(s, dir)
      val runTs = java.sql.Timestamp.valueOf("2026-08-01 12:00:00")
      val cutoff = java.sql.Timestamp.valueOf("2026-08-01 11:00:00")
      // production phase persistence, same contract as pipelinePicks:
      // the benched AGR flagship pays the real bucketed write+read at
      // its three phase boundaries (recoverable on process loss, unlike
      // the in-process stand-in)
      val prefix = "graft_agr_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      val base = scratchDir("graft_agr_state").toString
      graft.pipeline.AgrPipeline.run(
        Fixtures.allianceLines(s, dir), st.agrOrthologs, st.xrefs,
        st.genes, st.rgdIds, runTs, cutoff,
        phases = OrthologPipeline.BucketedPhases(prefix, base, buckets = 16))
    }

  /** Shared member CTEs of the HomoloGene oracles: entries (duplicate
    * lines kept via the dup flag), exactly-one-match resolution, taxon
    * species, a per-group row index. */
  private def homologeneMemCtes: String =
    """ent0 AS (
           SELECT DISTINCT CAST(l_orderkey % 8000 AS INT) AS g,
                  CAST(l_suppkey % 4 AS INT) AS taxsel,
                  'G' || CAST(l_partkey % 12 AS VARCHAR) AS gene_id,
                  (l_quantity < 25) AS dup
           FROM lineitem WHERE l_orderkey % 2 = 1 AND l_linenumber = 1),
         ent AS (
           SELECT g, CASE taxsel WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 3 END AS sp,
                  gene_id
           FROM ent0 WHERE taxsel <> 3),
         res AS (
           SELECT gene_id, MAX(rgd) AS rgd FROM (
             SELECT 'G' || CAST(c_custkey % 11 AS VARCHAR) AS gene_id,
                    CAST(c_custkey AS INT) AS rgd
             FROM customer WHERE c_custkey <= 13)
           GROUP BY gene_id HAVING COUNT(*) = 1),
         mem AS (
           SELECT ent.g, res.rgd, ent.sp,
                  ROW_NUMBER() OVER (PARTITION BY ent.g ORDER BY res.rgd, ent.sp) AS i
           FROM ent JOIN res USING (gene_id))"""

  /** Shared dimension CTEs of the operator-routed report oracles:
    * `gd` mirrors reportGenes(500), `reg` mirrors reportRgdIds(600). */
  private def reportDimCtes: String =
    """gd AS (SELECT CAST(p_partkey AS INT) AS id, p_name AS sym,
                  CASE WHEN p_partkey % 11 = 0 THEN 'allele'
                       WHEN p_partkey % 13 = 0 THEN 'splice'
                       ELSE 'protein-coding' END AS tp
           FROM part WHERE p_partkey <= 500),
         reg AS (SELECT CAST(p_partkey AS INT) AS id,
                  CASE WHEN p_partkey % 7 = 0 THEN 'WITHDRAWN' ELSE 'ACTIVE' END AS st,
                  CAST(p_partkey % 5 + 1 AS INT) AS sp
           FROM part WHERE p_partkey <= 600)"""

  /** Shared CTE chain for the --species flagship oracles, ending in a
    * `picks` relation carrying the FULL pick row (group, src, dest,
    * source, merged evidence string, tier, method). Re-derives the
    * Fixtures mappings (part -> genes/status/history, lineitem ->
    * relations, orders -> AGR state) and replays resolve (J1/J2) ->
    * merge (A1/A3, including the sorted-distinct evidence string with
    * the 'NCBI' marker) -> complement (U2) -> cascade (W4/W2). The
    * resolution collapses to CASE logic because each external id has at
    * most ONE candidate gene by fixture construction ('EG'||rgdId is
    * unique); the cascade block mirrors the window formulation also
    * used by q_w24_cascade_run. */
  private def pipelinePicksCtes: String =
    """g AS (
           SELECT CAST(p_partkey + 1000 AS INT) AS rgdId, p_name AS sym,
                  CASE WHEN p_partkey % 37 = 0 THEN 'allele'
                       ELSE 'protein-coding' END AS gt,
                  CASE WHEN p_partkey % 2 = 0 THEN 1 ELSE 3 END AS sp
           FROM part),
         st AS (SELECT rgdId,
                  CASE WHEN rgdId % 17 = 0 THEN 'WITHDRAWN'
                       ELSE 'ACTIVE' END AS status
           FROM g),
         -- J1/J2: 'EG'||n resolves to gene n (allele-excluded); withdrawn
         -- ids follow history to n+2 when that id exists and is ACTIVE
         res AS (
           SELECT g.rgdId AS n,
                  CASE WHEN s.status = 'ACTIVE' THEN g.rgdId
                       ELSE r2.rgdId END AS resolved
           FROM g JOIN st s ON s.rgdId = g.rgdId
           LEFT JOIN st r2 ON r2.rgdId = g.rgdId + 2
                          AND r2.status = 'ACTIVE'
           WHERE g.gt <> 'allele'),
         rel0 AS (
           SELECT CAST(l_orderkey % 100 * 2 + 1000 AS INT) AS srcN,
                  CAST(l_partkey % 100 * 2 + 1001 AS INT) AS destN,
                  CASE WHEN l_linenumber % 2 = 1 THEN 'HGNC'
                       ELSE 'NCBI' END AS ds,
                  CASE WHEN l_linenumber % 2 = 1 THEN
                    (CASE WHEN l_returnflag = 'R' THEN 'OrthoDB'
                          ELSE 'Ensembl' END) || ', ' ||
                    (CASE WHEN l_linestatus = 'F' THEN 'OMA'
                          ELSE 'HomoloGene' END)
                  ELSE 'Ortholog' END AS dsn
           FROM lineitem),
         rr AS (
           SELECT rs.resolved AS src, rd.resolved AS dest, r.ds, r.dsn
           FROM rel0 r
           JOIN res rs ON rs.n = r.srcN AND rs.resolved IS NOT NULL
           JOIN res rd ON rd.n = r.destN AND rd.resolved IS NOT NULL),
         -- A1/A3 merge: sorted-distinct evidence string; HGNC pairs
         -- carry HGNC tokens plus the literal 'NCBI' marker when both
         -- sources saw the pair, NCBI-only pairs carry 'Ortholog'
         tok AS (SELECT src, dest, ds,
                  unnest(string_split_regex(dsn, ',\s*')) AS t
           FROM rr),
         mrg AS (
           SELECT src, dest,
                  max(CASE WHEN ds = 'HGNC' THEN 1 ELSE 0 END) AS hasH,
                  max(CASE WHEN ds = 'NCBI' THEN 1 ELSE 0 END) AS hasN,
                  list_sort(list_distinct(
                    list(t) FILTER (WHERE ds = 'HGNC'))) AS htoks
           FROM tok GROUP BY src, dest),
         mrg2 AS (
           SELECT src, dest,
                  CASE WHEN hasH = 1 THEN 'HGNC' ELSE 'NCBI' END AS ds,
                  CASE WHEN hasH = 1 THEN
                    array_to_string(list_sort(list_distinct(
                      CASE WHEN hasN = 1 THEN list_append(htoks, 'NCBI')
                           ELSE htoks END)), ', ')
                  ELSE 'Ortholog' END AS xset
           FROM mrg),
         -- U2 complement: forward + reversed, group = the human gene
         cmp AS (
           SELECT src AS grp, src AS s, dest AS d, 1 AS ssp, 3 AS dsp,
                  ds, xset FROM mrg2
           UNION ALL
           SELECT src, dest, src, 3, 1, ds, xset FROM mrg2),
         ks AS (SELECT DISTINCT grp, s, ssp, dsp FROM cmp),
         -- tier 4: manual state rows (human rgdId%50=0 -> dest rgdId+1);
         -- both endpoints must be ACTIVE in the registry (the manual
         -- fetch goes through getOrthologsForSourceRgdId, r16 pin)
         man AS (
           SELECT k.grp, k.s, o.rgdId + 1 AS d, k.ssp, k.dsp,
                  'RGD' AS ds, 'curated' AS xset, 4 AS tier
           FROM ks k JOIN (SELECT rgdId FROM g
                           WHERE sp = 1 AND rgdId % 50 = 0) o
             ON o.rgdId = k.s
           JOIN st a1 ON a1.rgdId = o.rgdId AND a1.status = 'ACTIVE'
           JOIN st a2 ON a2.rgdId = o.rgdId + 1 AND a2.status = 'ACTIVE'
           WHERE k.dsp = 3),
         -- tier 3: AGR mutual-best (both flags Y), symmetrized+deduped,
         -- pre-aggregated per (src gene, partner species); a conflict
         -- (cnt>1) emits its min candidate twice to keep n>1
         agr0 AS (
           SELECT CAST(o_orderkey % 100 * 2 + 1000 AS INT) AS g1,
                  CAST(o_custkey % 100 * 2 + 1001 AS INT) AS g2
           FROM orders
           WHERE o_orderkey % 5 = 0 AND o_orderstatus <> 'P'
             AND o_totalprice > 50000),
         agrsym AS (SELECT DISTINCT a, b FROM (
           SELECT g1 AS a, g2 AS b FROM agr0
           UNION ALL SELECT g2, g1 FROM agr0)),
         t3 AS (SELECT a, gg.sp AS psp, count(*) AS cnt3, min(b) AS mind
           FROM agrsym JOIN g gg ON gg.rgdId = b
           GROUP BY a, gg.sp),
         alli0 AS (
           SELECT k.grp, k.s, t.mind AS d, k.ssp, k.dsp,
                  'Alliance' AS ds,
                  'Ensembl Compara|InParanoid|OMA' AS xset, 3 AS tier,
                  t.cnt3
           FROM ks k JOIN t3 t ON t.a = k.s AND t.psp = k.dsp),
         cands AS (
           SELECT grp, s, d, ssp, dsp, ds, xset,
                  CASE WHEN ds = 'HGNC' THEN 2 ELSE 1 END AS tier
           FROM cmp
           UNION ALL SELECT grp, s, d, ssp, dsp, ds, xset, tier FROM man
           UNION ALL SELECT grp, s, d, ssp, dsp, ds, xset, tier
             FROM alli0
           UNION ALL SELECT grp, s, d, ssp, dsp, ds, xset, tier
             FROM alli0 WHERE cnt3 > 1),
         -- W4/W2 cascade: top tier, then the branch-specific winner
         ann AS (SELECT c.*,
                  CASE WHEN c.xset IS NULL OR c.xset = '' THEN 0
                       ELSE len(string_split(c.xset, ',')) END AS ev,
                  gd.sym AS dsym,
                  CASE WHEN lower(gs.sym) IS NOT DISTINCT FROM lower(gd.sym)
                       THEN 1 ELSE 0 END AS symm
           FROM cands c
           LEFT JOIN g gs ON gs.rgdId = c.s
           LEFT JOIN g gd ON gd.rgdId = c.d),
         top AS (SELECT * FROM
           (SELECT a.*, max(tier) OVER (PARTITION BY grp, ssp, dsp) AS tt
            FROM ann a)
           WHERE tier = tt),
         t1 AS (SELECT t.*, count(*) OVER w AS n, max(ev) OVER w AS maxev,
                  max(symm) OVER w AS anymatch
           FROM top t WINDOW w AS (PARTITION BY grp, ssp, dsp)),
         t2 AS (SELECT t.*,
                  sum(CASE WHEN ev = maxev THEN 1 ELSE 0 END) OVER w
                    AS cntatmax,
                  row_number() OVER (PARTITION BY grp, ssp, dsp ORDER BY
                    ev DESC, lower(dsym) ASC NULLS LAST, d ASC, s ASC)
                    AS rnev,
                  row_number() OVER (PARTITION BY grp, ssp, dsp ORDER BY
                    symm DESC, ev DESC, lower(dsym) ASC NULLS LAST,
                    d ASC, s ASC) AS rnsym,
                  row_number() OVER (PARTITION BY grp, ssp, dsp ORDER BY
                    lower(dsym) ASC NULLS LAST, d ASC, s ASC) AS rnalpha
           FROM t1 t WINDOW w AS (PARTITION BY grp, ssp, dsp)),
         picks AS (
           SELECT grp AS groupId, s AS srcRgdId, d AS destRgdId,
                  ds AS xrefDataSrc, xset AS xrefDataSet, tier,
                  CASE WHEN tier > 2 THEN
                         (CASE WHEN n = 1 THEN 'tierPick' ELSE 'conflict' END)
                       WHEN n = 1 THEN 'oneRel'
                       WHEN cntatmax = 1 THEN 'longestEvidence'
                       WHEN anymatch = 1 THEN 'symbolMatch'
                       ELSE 'shortestSymbol' END AS method
           FROM t2
           WHERE (tier > 2 AND n = 1)
              OR (tier <= 2 AND (n = 1
                   OR (cntatmax = 1 AND rnev = 1)
                   OR (cntatmax > 1 AND anymatch = 1 AND rnsym = 1)
                   OR (cntatmax > 1 AND anymatch = 0 AND rnalpha = 1))))"""

  /** Shared CTE chain for the --agrOrthologs flagship oracles: M5 curie
    * resolution over the fixture lines (human side resolves by SYMBOL to
    * the min ACTIVE gene sharing p_name; rat side by the RGD:n
    * special-id parse validated against the gene table), S9 full-outer
    * upsert on (g1, g2, methods), then the A8 circuit breaker - the
    * stale delete applies only when |new - initial| <= 10% of the
    * post-upsert total (integer math, as parseThreshold). Fixture state
    * rows predate the cutoff, so 'stale' is exactly 'not touched this
    * run' (fresh = 0). Ends in `up` (post-upsert rows + fresh flag) and
    * `guard` (the delete decision). */
  private def agrUpsertCtes: String =
    """g AS (
           SELECT CAST(p_partkey + 1000 AS INT) AS rgdId, p_name AS sym,
                  CASE WHEN p_partkey % 2 = 0 THEN 1 ELSE 3 END AS sp
           FROM part),
         lines AS (SELECT rgdId AS h, sym FROM g WHERE sp = 1),
         bysym AS (
           -- getGeneBySymbol status rule: a single candidate resolves
           -- regardless of status (the size>1-only inactive filter,
           -- OrthologRelationDao.java:595-619); multiples keep the
           -- smallest ACTIVE id (fixture: rgdId % 17 = 0 is WITHDRAWN)
           SELECT g.sym, g.sp,
                  CASE WHEN count(*) = 1 THEN min(g.rgdId)
                       ELSE min(CASE WHEN g.rgdId % 17 <> 0
                                     THEN g.rgdId END)
                  END AS symbolRgdId
           FROM g
           GROUP BY g.sym, g.sp),
         inc AS (
           SELECT b.symbolRgdId AS g1, gg.rgdId AS g2,
                  CASE WHEN l.h % 4 = 0 THEN 'Y' ELSE 'N' END AS isBestScore,
                  'Y' AS isBestRevScore,
                  CASE CAST(l.h % 3 AS INT)
                    WHEN 0 THEN 'OMA|PANTHER'
                    WHEN 1 THEN 'Ensembl Compara|InParanoid|OMA'
                    ELSE 'PANTHER|PhylomeDB' END AS methodsMatched
           FROM lines l
           JOIN bysym b ON b.sym = l.sym AND b.sp = 1
                       AND b.symbolRgdId IS NOT NULL
           JOIN g gg ON gg.rgdId = l.h + 1),
         incd AS (SELECT DISTINCT * FROM inc),
         stt AS (
           SELECT CAST(o_orderkey % 100 * 2 + 1000 AS INT) AS g1,
                  CAST(o_custkey % 100 * 2 + 1001 AS INT) AS g2,
                  CASE WHEN o_orderstatus <> 'P' THEN 'Y' ELSE 'N' END
                    AS isBestScore,
                  CASE WHEN o_totalprice > 50000 THEN 'Y' ELSE 'N' END
                    AS isBestRevScore,
                  'Ensembl Compara|InParanoid|OMA' AS methodsMatched
           FROM orders WHERE o_orderkey % 5 = 0),
         up AS (
           SELECT s.g1, s.g2, s.methodsMatched,
                  coalesce(i.isBestScore, s.isBestScore) AS isBestScore,
                  coalesce(i.isBestRevScore, s.isBestRevScore)
                    AS isBestRevScore,
                  CASE WHEN i.g1 IS NOT NULL THEN 1 ELSE 0 END AS fresh
           FROM stt s LEFT JOIN incd i
             ON i.g1 = s.g1 AND i.g2 = s.g2
            AND i.methodsMatched = s.methodsMatched
           UNION ALL
           SELECT i.g1, i.g2, i.methodsMatched,
                  i.isBestScore, i.isBestRevScore, 1
           FROM incd i WHERE NOT EXISTS (
             SELECT 1 FROM stt s WHERE s.g1 = i.g1 AND s.g2 = i.g2
               AND s.methodsMatched = i.methodsMatched)),
         guard AS (
           SELECT CASE WHEN abs(sum(fresh) - (SELECT count(*) FROM stt))
                       > (10 * count(*)) // 100
                  THEN 0 ELSE 1 END AS do_delete
           FROM up)"""



  val all: Seq[Q] = Seq(
    // ---- S2/F1/F2/F4: scan + predicate pushdown + projection ----
    Q("q_f2_filter", (s, dir) =>
      Readers.table(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R" && col("l_linestatus") === "F")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity")),
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         WHERE l_returnflag='R' AND l_linestatus='F'"""),

    Q("q_f4_projection", (s, dir) =>
      Readers.table(s, dir, "part").filter(col("p_size") > 20)
        .select(col("p_partkey"), upper(col("p_brand")).as("brand_uc"),
          col("p_size")),
      """SELECT p_partkey, upper(p_brand) AS brand_uc, p_size FROM part
         WHERE p_size > 20"""),

    // F5/F6: type exclusion + status predicate
    Q("q_f5_exclusion", (s, dir) =>
      Readers.table(s, dir, "orders")
        .filter(!col("o_orderstatus").isin("F") &&
          col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority")),
      """SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders
         WHERE o_orderstatus NOT IN ('F')
           AND o_orderpriority IN ('1-URGENT','2-HIGH')"""),

    // F3/X13: set filter + broadcast dimension join
    Q("q_f3_set_filter", (s, dir) =>
      Readers.table(s, dir, "customer")
        .filter(col("c_mktsegment").isin("BUILDING", "AUTOMOBILE"))
        .join(broadcast(Readers.table(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_mktsegment"), col("n_name")),
      """SELECT c_custkey, c_mktsegment, n_name
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         WHERE c_mktsegment IN ('BUILDING','AUTOMOBILE')"""),

    // ---- J1: resolution join with multiplicity classification ----
    Q("q_j1_resolution", (s, dir) => {
      val cust = Readers.table(s, dir, "customer").filter(col("c_acctbal") > 0)
      Readers.table(s, dir, "nation")
        .join(cust, col("c_nationkey") === col("n_nationkey"), "left")
        .groupBy(col("n_nationkey"), col("n_name"))
        .agg(count(col("c_custkey")).as("active_c"),
          max(col("c_custkey")).as("max_cust"))
        .select(col("n_nationkey"), col("n_name"), col("active_c"),
          when(col("active_c") === 0, "unmatched")
            .when(col("active_c") === 1, "matched")
            .otherwise("multiple").as("outcome"),
          when(col("active_c") === 1, col("max_cust")).as("resolved_id"))
    },
      """SELECT n_nationkey, n_name, active_c,
             CASE WHEN active_c = 0 THEN 'unmatched'
                  WHEN active_c = 1 THEN 'matched'
                  ELSE 'multiple' END AS outcome,
             CASE WHEN active_c = 1 THEN max_cust END AS resolved_id
         FROM (
           SELECT n_nationkey, n_name,
                  count(c_custkey) AS active_c, max(c_custkey) AS max_cust
           FROM nation LEFT JOIN (SELECT * FROM customer WHERE c_acctbal > 0) c
             ON c.c_nationkey = n_nationkey
           GROUP BY n_nationkey, n_name)"""),

    // J2: withdrawn -> replacement (MAX over history shape)
    Q("q_j2_replacement", (s, dir) => {
      val repl = Readers.table(s, dir, "orders").filter(col("o_orderstatus") === "O")
        .groupBy(col("o_custkey")).agg(max(col("o_orderkey")).as("replacement"))
      Readers.table(s, dir, "customer")
        .join(repl, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), col("replacement"))
    },
      """SELECT c_custkey, r.replacement
         FROM customer LEFT JOIN (
           SELECT o_custkey, max(o_orderkey) AS replacement
           FROM orders WHERE o_orderstatus='O' GROUP BY o_custkey) r
         ON c_custkey = r.o_custkey"""),

    // J4: existence as semi join
    Q("q_j4_semi", (s, dir) =>
      Readers.table(s, dir, "customer")
        .join(Readers.table(s, dir, "orders").select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name")),
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)"""),

    // J10: genes-without-orthologs as anti join
    Q("q_j10_anti", (s, dir) =>
      Readers.table(s, dir, "customer")
        .join(Readers.table(s, dir, "orders").select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name")),
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)"""),

    // J8/A9/U5/O1: cross-linked report (HAVING>2 legs, union, ci-order)
    Q("q_j8_crosslinked", (s, dir) => {
      def leg(df: DataFrame, key: String) =
        df.groupBy(col(key).as("n_nationkey")).count()
          .filter(col("count") > 2).select(col("n_nationkey"))
      leg(Readers.table(s, dir, "supplier"), "s_nationkey")
        .union(leg(Readers.table(s, dir, "customer"), "c_nationkey")).distinct()
        .join(Readers.table(s, dir, "nation"), Seq("n_nationkey"))
        .select(col("n_nationkey"), col("n_name"))
        .orderBy(lower(col("n_name")))
    },
      """SELECT n.n_nationkey, n.n_name FROM (
           SELECT s_nationkey AS n_nationkey FROM supplier
           GROUP BY s_nationkey HAVING count(*) > 2
           UNION
           SELECT c_nationkey FROM customer
           GROUP BY c_nationkey HAVING count(*) > 2) x
         JOIN nation n ON n.n_nationkey = x.n_nationkey
         ORDER BY lower(n.n_name)"""),

    // J11/O3: multimap with sorted-first deterministic pick
    Q("q_j11_multimap", (s, dir) =>
      Readers.table(s, dir, "customer").groupBy(col("c_nationkey"))
        .agg(element_at(sort_array(collect_list(col("c_custkey"))), 1)
          .as("first_id"),
          count(lit(1)).as("n")),
      """SELECT c_nationkey, CAST(min(c_custkey) AS BIGINT) AS first_id,
             count(*) AS n
         FROM customer GROUP BY c_nationkey"""),

    // J9: partner report with best-score post-filter (window anyBest)
    Q("q_j9_partner_filter", (s, dir) => {
      val o = Readers.table(s, dir, "orders")
        .withColumn("is_best", (col("o_orderstatus") === "O").cast("int"))
      val w = Window.partitionBy(col("o_custkey"))
      o.withColumn("any_best", max(col("is_best")).over(w))
        .filter(col("any_best") === 0 || col("is_best") === 1)
        .select(col("o_orderkey"), col("o_custkey"), col("is_best"))
    },
      """SELECT o_orderkey, o_custkey, is_best FROM (
           SELECT o_orderkey, o_custkey,
                  CAST(o_orderstatus = 'O' AS INT) AS is_best,
                  MAX(CAST(o_orderstatus = 'O' AS INT))
                    OVER (PARTITION BY o_custkey) AS any_best
           FROM orders)
         WHERE any_best = 0 OR is_best = 1"""),

    // ---- operator-routed report queries: the REAL Reports operators
    // over TPC-H-derived gene/registry/relation frames, the oracle
    // transcribing the reference SQL (pinned row-at-a-time in
    // ReportsPropertySpec; gated end-to-end here) ----

    // J8 through Reports.crossLinkedOrthologs: join-row counting with
    // duplicate relations, both-endpoints-ACTIVE, species sets, union
    // distinct (Dao:672-689)
    Q("q_j8_crosslinked_op", (s, dir) => {
      val orth = Readers.table(s, dir, "lineitem").select(
        (col("l_partkey") % 500).cast("int").as("srcRgdId"),
        (col("l_suppkey") % 500).cast("int").as("destRgdId"))
      graft.operators.Reports.crossLinkedOrthologs(
        orth, reportGenes(s, dir, 500), reportRgdIds(s, dir, 600), 3)
    },
      // J8 through the real operator: reference SQL transcription
      // (Dao:672-689) over the same derived frames
      s"""WITH $reportDimCtes,
         orth AS (SELECT CAST(l_partkey % 500 AS INT) AS src,
                         CAST(l_suppkey % 500 AS INT) AS dest FROM lineitem),
         ids AS (
           SELECT dest AS id FROM orth, reg r1, reg r2
           WHERE orth.dest = r1.id AND r1.st = 'ACTIVE' AND r1.sp = 3
             AND orth.src = r2.id AND r2.st = 'ACTIVE' AND r2.sp IN (1, 2, 3)
           GROUP BY dest HAVING COUNT(*) > 2
           UNION
           SELECT src FROM orth, reg r1, reg r2
           WHERE orth.src = r1.id AND r1.st = 'ACTIVE' AND r1.sp = 3
             AND orth.dest = r2.id AND r2.st = 'ACTIVE' AND r2.sp IN (1, 2, 3)
           GROUP BY src HAVING COUNT(*) > 2)
         SELECT gd.id AS rgdId, gd.sym AS geneSymbol
         FROM gd JOIN ids ON gd.id = ids.id"""),

    // J9 through Reports.agrPartnerReport: mutual-best suppression per
    // query gene, partner species via the registry (OrthoTool.java:126-166)
    Q("q_j9_partner_op", (s, dir) => {
      val agr = Readers.table(s, dir, "orders").select(
        (col("o_custkey") % 300).cast("int").as("geneRgdId1"),
        (col("o_orderkey") % 400).cast("int").as("geneRgdId2"),
        when(col("o_orderstatus") === "O", "Y").otherwise("N").as("isBestScore"),
        when(col("o_totalprice") > 100000, "Y").otherwise("N").as("isBestRevScore"))
      graft.operators.Reports.agrPartnerReport(
          agr, reportGenes(s, dir, 500), reportRgdIds(s, dir, 600), 2)
        .select(col("geneRgdId1"), col("geneRgdId2"),
          col("partnerSymbol"), col("isMutualBest"))
    },
      // J9 through the real operator (OrthoTool.java:126-166)
      s"""WITH $reportDimCtes,
         agr AS (SELECT CAST(o_custkey % 300 AS INT) AS g1,
                        CAST(o_orderkey % 400 AS INT) AS g2,
                        CASE WHEN o_orderstatus = 'O' THEN 'Y' ELSE 'N' END AS b,
                        CASE WHEN o_totalprice > 100000 THEN 'Y' ELSE 'N' END AS br
                 FROM orders),
         p AS (SELECT agr.g1, agr.g2, gd.sym,
                      CAST(agr.b = 'Y' AND agr.br = 'Y' AS INT) AS mb
               FROM agr
               JOIN gd ON agr.g2 = gd.id
               JOIN reg ON agr.g2 = reg.id AND reg.sp = 2),
         q AS (SELECT *, MAX(mb) OVER (PARTITION BY g1) AS anyb FROM p)
         SELECT g1 AS geneRgdId1, g2 AS geneRgdId2, sym AS partnerSymbol,
                mb AS isMutualBest
         FROM q WHERE anyb = 0 OR mb = 1"""),

    // J10 through Reports.genesWithoutOrthologs: ACTIVE genes of the
    // species with no SRC-side relation, NO type exclusion (the
    // published SQL; the allele/splice drop is log-lines-only)
    Q("q_j10_no_orth_op", (s, dir) => {
      val orth = Readers.table(s, dir, "orders").select(
        (col("o_orderkey") % 350).cast("int").as("srcRgdId"),
        lit(1).as("destRgdId"))
      graft.operators.Reports.genesWithoutOrthologs(
        orth, reportGenes(s, dir, 500), reportRgdIds(s, dir, 600), 3)
    },
      // J10 through the real operator: the published SQL (no type
      // exclusion, src-side-only NOT EXISTS, ACTIVE + species via the
      // registry)
      s"""WITH $reportDimCtes,
         srcs AS (SELECT DISTINCT CAST(o_orderkey % 350 AS INT) AS id FROM orders)
         SELECT gd.id AS rgdId, gd.sym AS geneSymbol, gd.tp AS geneTypeLc
         FROM gd JOIN reg ON gd.id = reg.id
         WHERE reg.st = 'ACTIVE' AND reg.sp = 3
           AND NOT EXISTS (SELECT 1 FROM srcs WHERE srcs.id = gd.id)"""),

    // ---- A1/A5: group aggregation (TPC-H Q1 shape) ----
    // exact cross-engine arithmetic: l_quantity is integer-valued (sum of
    // doubles is order-independent below 2^53); prices go through
    // floor(x*100) -> BIGINT cents so both engines sum exact integers
    Q("q_a1_groupagg", (s, dir) =>
      Readers.table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity")).as("sum_qty"),
          sum(floor(col("l_extendedprice") * 100).cast("long")).as("sum_price_cents"),
          min(col("l_discount")).as("min_disc"),
          max(col("l_discount")).as("max_disc")),
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
             sum(l_quantity) AS sum_qty,
             CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_price_cents,
             min(l_discount) AS min_disc, max(l_discount) AS max_disc
         FROM lineitem GROUP BY l_returnflag, l_linestatus"""),

    // A3/O4/X2: evidence-token merge (collect_set + sort + concat_ws)
    Q("q_a3_merge", (s, dir) =>
      Readers.table(s, dir, "lineitem").groupBy(col("l_orderkey"))
        .agg(concat_ws(", ", array_sort(collect_set(col("l_returnflag"))))
          .as("flags")),
      """SELECT l_orderkey,
             string_agg(l_returnflag, ', ' ORDER BY l_returnflag) AS flags
         FROM (SELECT DISTINCT l_orderkey, l_returnflag FROM lineitem)
         GROUP BY l_orderkey"""),

    // A4: evidence count over a CSV column
    Q("q_a4_evidence_count", (s, dir) =>
      Readers.table(s, dir, "part").select(col("p_partkey"),
        Exprs.evidenceCount(translate(col("p_name"), " ", ",")).as("ev_count")),
      """SELECT p_partkey,
             CASE WHEN p_name IS NULL OR p_name = '' THEN 0
                  ELSE CAST(len(string_split(p_name, ' ')) AS INT) END AS ev_count
         FROM part"""),

    // A5: scalar counts + freshness max (X9 shape)
    Q("q_a5_counts", (s, dir) =>
      Readers.table(s, dir, "orders").agg(
        count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_custs"),
        max(col("o_orderdate")).as("max_date")),
      """SELECT count(*) AS n_orders,
             count(DISTINCT o_custkey) AS n_custs,
             max(o_orderdate) AS max_date
         FROM orders"""),

    // A7/J6: sync diff as one full-outer join + classification
    Q("q_a7_sync_diff", (s, dir) => {
      val o = Readers.table(s, dir, "orders")
      val incoming = o.filter(col("o_orderstatus") === "O")
        .select(col("o_orderkey").as("k"), lit(1).as("inc"))
      val inRgd = o.filter(col("o_totalprice") > 150000)
        .select(col("o_orderkey").as("k"), lit(1).as("old"))
      incoming.join(inRgd, Seq("k"), "full_outer")
        .select(col("k"),
          when(col("inc").isNotNull && col("old").isNotNull, "match")
            .when(col("old").isNull, "insert").otherwise("delete").as("cls"))
        .groupBy(col("cls")).agg(count(lit(1)).as("n"))
    },
      """SELECT cls, count(*) AS n FROM (
           SELECT CASE WHEN i.k IS NOT NULL AND r.k IS NOT NULL THEN 'match'
                       WHEN r.k IS NULL THEN 'insert'
                       ELSE 'delete' END AS cls
           FROM (SELECT o_orderkey AS k FROM orders WHERE o_orderstatus='O') i
           FULL OUTER JOIN
                (SELECT o_orderkey AS k FROM orders WHERE o_totalprice>150000) r
           ON i.k = r.k)
         GROUP BY cls"""),

    // A8/X12: threshold-guarded stale delete (scalar guard math)
    Q("q_a8_threshold", (s, dir) => {
      val o = Readers.table(s, dir, "orders")
      o.agg(
        count(lit(1)).as("total"),
        sum(when(col("o_orderdate") < lit("1998-01-01"), 1).otherwise(0))
          .cast("long").as("stale"))
        .select(col("total"), col("stale"),
          (col("total") / lit(10)).cast("long").as("max_deletable"),
          (col("stale") <= col("total") / lit(10)).cast("int").as("guard_ok"))
    },
      """SELECT total, stale, CAST(total // 10 AS BIGINT) AS max_deletable,
             CAST(stale <= total // 10 AS INT) AS guard_ok
         FROM (
           SELECT count(*) AS total,
                  CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
                       THEN 1 ELSE 0 END) AS BIGINT) AS stale
           FROM orders)"""),

    // A9: HAVING-filtered count
    Q("q_a9_having", (s, dir) =>
      Readers.table(s, dir, "orders").groupBy(col("o_custkey")).count()
        .filter(col("count") > 12)
        .select(col("o_custkey"), col("count").as("n")),
      """SELECT o_custkey, count(*) AS n FROM orders
         GROUP BY o_custkey HAVING count(*) > 12"""),

    // ---- W1: priority-ranked dedupe (row_number window) ----
    Q("q_w1_dedupe", (s, dir) => {
      val src = Exprs.sourcePriority(
        when(col("l_returnflag") === "R", "RGD")
          .when(col("l_returnflag") === "A", "Alliance").otherwise("NCBI"))
      // (l_orderkey, l_linenumber) is NOT unique in the synthetic data:
      // the ordering must be total or the rn>1 set is nondeterministic
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(src.desc, col("l_linenumber").asc, col("l_suppkey").asc,
          col("l_partkey").asc, col("l_extendedprice").asc)
      Readers.table(s, dir, "lineitem").withColumn("rn", row_number().over(w))
        .filter(col("rn") > 1 && col("l_suppkey") % 2 === 0) // pipeline-owned analog
        .select(col("l_orderkey"), col("l_linenumber"))
    },
      """SELECT l_orderkey, l_linenumber FROM (
           SELECT l_orderkey, l_linenumber, l_suppkey,
                  ROW_NUMBER() OVER (PARTITION BY l_orderkey
                    ORDER BY CASE l_returnflag WHEN 'R' THEN 4
                             WHEN 'A' THEN 3 ELSE 1 END DESC,
                             l_linenumber ASC, l_suppkey ASC, l_partkey ASC,
                             l_extendedprice ASC) AS rn
           FROM lineitem)
         WHERE rn > 1 AND l_suppkey % 2 = 0"""),

    // W2: best-fit top-1 pick (argmax window)
    Q("q_w2_bestfit", (s, dir) => {
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_quantity").desc, col("l_linenumber").asc)
      Readers.table(s, dir, "lineitem").withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    },
      """SELECT l_orderkey, l_linenumber, l_quantity FROM (
           SELECT l_orderkey, l_linenumber, l_quantity,
                  ROW_NUMBER() OVER (PARTITION BY l_orderkey
                    ORDER BY l_quantity DESC, l_linenumber ASC) AS rn
           FROM lineitem)
         WHERE rn = 1"""),

    // W4: tier cascade with conflict invalidation (>1 in top tier -> none)
    Q("q_w4_cascade", (s, dir) => {
      val tier = when(col("l_returnflag") === "R", 3)
        .when(col("l_returnflag") === "A", 2).otherwise(1)
      val w = Window.partitionBy(col("l_orderkey"))
      Readers.table(s, dir, "lineitem").withColumn("tier", tier)
        .withColumn("top_tier", max(col("tier")).over(w))
        .filter(col("tier") === col("top_tier"))
        .withColumn("n_top", count(lit(1)).over(w))
        .filter(col("n_top") === 1)
        .select(col("l_orderkey"), col("l_linenumber"), col("tier"))
    },
      """SELECT l_orderkey, l_linenumber, tier FROM (
           SELECT l_orderkey, l_linenumber, tier,
                  count(*) OVER (PARTITION BY l_orderkey) AS n_top
           FROM (
             SELECT l_orderkey, l_linenumber, tier,
                    MAX(tier) OVER (PARTITION BY l_orderkey) AS top_tier
             FROM (SELECT l_orderkey, l_linenumber,
                     CASE l_returnflag WHEN 'R' THEN 3 WHEN 'A' THEN 2
                          ELSE 1 END AS tier
                   FROM lineitem))
           WHERE tier = top_tier)
         WHERE n_top = 1"""),

    // ---- O1/X5: case-insensitive sort ----
    Q("q_o1_sort", (s, dir) =>
      Readers.table(s, dir, "supplier").orderBy(lower(col("s_name")))
        .select(col("s_suppkey"), col("s_name")),
      """SELECT s_suppkey, s_name FROM supplier ORDER BY lower(s_name)"""),

    // O4: sorted-set canonicalization
    Q("q_o4_canonicalize", (s, dir) =>
      Readers.table(s, dir, "part").select(col("p_partkey"),
        Exprs.canonicalizeList(col("p_name"), "\\s+", ", ").as("canon")),
      """SELECT p_partkey,
             array_to_string(list_sort(list_distinct(
               string_split_regex(p_name, '\s+'))), ', ') AS canon
         FROM part"""),

    // ---- U1: union + distinct ----
    Q("q_u1_union", (s, dir) =>
      Readers.table(s, dir, "customer").filter(col("c_acctbal") < 0)
        .select(col("c_custkey"))
        .union(Readers.table(s, dir, "customer").filter(col("c_nationkey") < 5)
          .select(col("c_custkey")))
        .distinct(),
      """SELECT c_custkey FROM customer WHERE c_acctbal < 0
         UNION
         SELECT c_custkey FROM customer WHERE c_nationkey < 5"""),

    // U2: reverse-relation synthesis (symmetrization)
    Q("q_u2_reverse", (s, dir) => {
      val sn = Readers.table(s, dir, "supplier")
        .select(col("s_suppkey").as("a"), col("s_nationkey").cast("bigint").as("b"))
      sn.union(sn.select(col("b").as("a"), col("a").as("b"))).distinct()
    },
      """SELECT a, b FROM (
           SELECT s_suppkey AS a, CAST(s_nationkey AS BIGINT) AS b FROM supplier
           UNION
           SELECT CAST(s_nationkey AS BIGINT) AS a, s_suppkey AS b FROM supplier)"""),

    // U6: list difference (detach) as anti join / EXCEPT
    Q("q_u6_difference", (s, dir) =>
      Readers.table(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"))
        .except(Readers.table(s, dir, "orders").filter(col("o_totalprice") < 100000)
          .select(col("o_orderkey"))),
      """SELECT o_orderkey FROM orders WHERE o_orderstatus='F'
         EXCEPT
         SELECT o_orderkey FROM orders WHERE o_totalprice < 100000"""),

    // ---- X4: Greek transliteration ----
    Q("q_x4_translit", (s, dir) =>
      Readers.table(s, dir, "part").select(col("p_partkey"),
        Exprs.transliterateGreek(concat(col("p_name"), lit(" αβΔκ")))
          .as("symbol")),
      """SELECT p_partkey,
             replace(replace(replace(replace(p_name || ' αβΔκ',
               'α','alpha'), 'β','beta'), 'Δ','DELTA'), 'κ','kappa') AS symbol
         FROM part"""),

    // X6: prefix strip + cast
    Q("q_x6_prefix", (s, dir) =>
      Readers.table(s, dir, "customer").select(col("c_custkey"),
        Exprs.stripPrefixToInt(col("c_name"), 9).cast("bigint").as("parsed_id")),
      """SELECT c_custkey,
             CAST(CAST(substr(c_name, 10) AS INT) AS BIGINT) AS parsed_id
         FROM customer"""),

    // X8 + X5: quote trim + case-insensitive equality
    Q("q_x8_quotetrim", (s, dir) =>
      Readers.table(s, dir, "part").select(col("p_partkey"),
        Exprs.unquoteTrim(concat(lit("\""), col("p_name"), lit("\"")))
          .as("unquoted"),
        Exprs.symbolMatches(col("p_name"), upper(col("p_name"))).cast("int")
          .as("ci_match")),
      """SELECT p_partkey, trim(p_name) AS unquoted,
             CAST(lower(p_name) = lower(upper(p_name)) AS INT) AS ci_match
         FROM part"""),

    // M3: ortholog-type assignment CASE
    Q("q_m3_type_assign", (s, dir) =>
      Readers.table(s, dir, "customer").select(col("c_custkey"),
        when(col("c_nationkey") <= 2, graft.model.Species.directOrthologTypeKey)
          .otherwise(graft.model.Species.transitiveOrthologTypeKey)
          .as("type_key")),
      """SELECT c_custkey,
             CASE WHEN c_nationkey <= 2 THEN 11 ELSE 13 END AS type_key
         FROM customer"""),

    // M7: canonical rewrite with strictly-shorter change detection
    Q("q_m7_fixxref", (s, dir) => {
      val orig = concat(col("p_name"), lit(" "), col("p_name"))
      val canon = concat_ws(", ", array_sort(array_distinct(split(orig, "\\s+", -1))))
      Readers.table(s, dir, "part")
        .select(col("p_partkey"), orig.as("orig"), canon.as("canon"))
        .filter(col("canon") =!= col("orig") &&
          length(col("canon")) < length(col("orig")))
    },
      """SELECT p_partkey, orig, canon FROM (
           SELECT p_partkey, p_name || ' ' || p_name AS orig,
                  array_to_string(list_sort(list_distinct(
                    string_split_regex(p_name || ' ' || p_name, '\s+'))), ', ')
                    AS canon
           FROM part)
         WHERE canon <> orig AND len(canon) < len(orig)"""),

    // X10: age-in-days freshness math (datediff)
    Q("q_x10_age_days", (s, dir) =>
      Readers.table(s, dir, "orders").select(col("o_orderkey"),
        datediff(lit("2026-08-12"), col("o_orderdate")).as("age_days")),
      """SELECT o_orderkey,
             CAST(datediff('day', o_orderdate, TIMESTAMP '2026-08-12') AS INT)
               AS age_days
         FROM orders"""),

    // X11: signed-diff report format
    Q("q_x11_signed_diff", (s, dir) =>
      Readers.table(s, dir, "orders").groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"))
        .select(col("o_orderstatus"),
          format_string("%+d", col("n") - 1000).as("diff")),
      """SELECT o_orderstatus, printf('%+d', n - 1000) AS diff FROM (
           SELECT o_orderstatus, count(*) AS n FROM orders
           GROUP BY o_orderstatus)"""),

    // D6: symbol QC - rows whose two symbol columns disagree case-insens
    Q("q_d6_symbol_qc", (s, dir) =>
      Readers.table(s, dir, "part")
        .filter(!(lower(col("p_name")) <=> lower(col("p_type"))))
        .select(col("p_partkey"), col("p_name"), col("p_type")),
      """SELECT p_partkey, p_name, p_type FROM part
         WHERE NOT (lower(p_name) = lower(p_type))"""),

    // D6 through the real operator (validateGeneSymbol): binding leg
    // over ACTIVE AGR_GENE xrefs + resolved leg with no status filter,
    // human-only, double case-insensitive mismatch with the
    // Ensembl-symbol save (pinned in SymbolQcPropertySpec)
    Q("q_d6_symbol_qc_op", (s, dir) => {
      val res = Readers.table(s, dir, "orders")
        .filter(col("o_orderkey") % 5 === 0)
        .select(
          concat(lit("AGR:"), col("o_custkey") % 80).as("curie"),
          concat(lit("Brand#"), col("o_orderkey") % 45 + 11).as("geneSymbol"),
          when(col("o_orderkey") % 4 === 0, 3).otherwise(1)
            .cast("int").as("speciesTypeKey"),
          (col("o_custkey") % 300 + 1).cast("int").as("rgdId"))
      val genes = Readers.table(s, dir, "part").filter(col("p_partkey") <= 300).select(
        col("p_partkey").cast("int").as("rgdId"),
        col("p_brand").as("geneSymbol"),
        concat(lit("brand#"), col("p_partkey") % 50 + 10)
          .as("ensemblGeneSymbol"))
      val xrefs = Readers.table(s, dir, "customer").filter(col("c_custkey") <= 240)
        .select(lit(63).as("xdbKey"),
          concat(lit("AGR:"), col("c_custkey") % 80).as("accId"),
          (col("c_custkey") % 300 + 1).cast("int").as("rgdId"))
      graft.operators.Agr.qcHumanSymbols(
        res, xrefs, genes, reportRgdIds(s, dir, 300))
    },
      // D6 operator-routed: validateGeneSymbol's two legs recomputed
      """WITH res AS (
           SELECT 'AGR:' || CAST(o_custkey % 80 AS VARCHAR) AS curie,
                  'Brand#' || CAST(o_orderkey % 45 + 11 AS VARCHAR) AS lineSym,
                  CASE WHEN o_orderkey % 4 = 0 THEN 3 ELSE 1 END AS sp,
                  CAST(o_custkey % 300 + 1 AS INT) AS rgd
           FROM orders WHERE o_orderkey % 5 = 0),
         g AS (SELECT CAST(p_partkey AS INT) AS id, p_brand AS sym,
                      'brand#' || CAST(p_partkey % 50 + 10 AS VARCHAR) AS ens
               FROM part WHERE p_partkey <= 300),
         reg AS (SELECT CAST(p_partkey AS INT) AS id,
                      CASE WHEN p_partkey % 7 = 0 THEN 'WITHDRAWN'
                           ELSE 'ACTIVE' END AS st
                 FROM part WHERE p_partkey <= 300),
         xr AS (SELECT 'AGR:' || CAST(c_custkey % 80 AS VARCHAR) AS accId,
                       CAST(c_custkey % 300 + 1 AS INT) AS bid
                FROM customer WHERE c_custkey <= 240)
         SELECT 'binding' AS "check", res.curie, res.lineSym AS geneSymbol,
                g.id AS geneRgdId, g.sym AS rgdSymbol
         FROM res
         JOIN xr ON res.curie = xr.accId
         JOIN reg ON xr.bid = reg.id AND reg.st = 'ACTIVE'
         JOIN g ON xr.bid = g.id
         WHERE res.sp = 1
           AND lower(res.lineSym) <> lower(g.sym)
           AND lower(res.lineSym) <> lower(g.ens)
         UNION ALL
         SELECT 'resolved', res.curie, res.lineSym, g.id, g.sym
         FROM res JOIN g ON res.rgd = g.id
         WHERE res.sp = 1
           AND lower(res.lineSym) <> lower(g.sym)
           AND lower(res.lineSym) <> lower(g.ens)"""),

    // M6: touch-seen + cutoff sweep (xref QC shape): touched rows get the
    // run timestamp, untouched stale rows drop out
    Q("q_m6_touch_sweep", (s, dir) => {
      val touched = Readers.table(s, dir, "orders").filter(col("o_orderstatus") === "O")
        .select(col("o_custkey")).distinct()
      Readers.table(s, dir, "customer")
        .join(touched, col("c_custkey") === col("o_custkey"), "left")
        .withColumn("mod_date",
          when(col("o_custkey").isNotNull, lit("2026-08-01"))
            .otherwise(lit("2026-01-01")))
        .filter(col("mod_date") >= "2026-06-01")
        .select(col("c_custkey"), col("mod_date"))
    },
      """SELECT c_custkey,
             CASE WHEN o_custkey IS NOT NULL THEN '2026-08-01'
                  ELSE '2026-01-01' END AS mod_date
         FROM customer LEFT JOIN
           (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus='O') o
           ON c_custkey = o_custkey
         WHERE CASE WHEN o_custkey IS NOT NULL THEN '2026-08-01'
                    ELSE '2026-01-01' END >= '2026-06-01'"""),

    // ---- operator-routed oracle queries over TPC-H-derived fixture
    // frames (TpchShapes): the REAL mutation/repair operators run here and
    // DuckDB independently recomputes their output ----

    // M1/M2/W3/J7/F11 + S7: the full reconcile merge - W3 dedupe of state
    // and incoming, full-outer classify (match/insert/replace/downgrade),
    // duplicate-state deletes, sequential keys for inserts, M2 stale sweep
    Q("q_m1_reconcile", (s, dir) => {
      val m = Merge.reconcile(TpchShapes.m1Incoming(s, dir), TpchShapes.m1State(s, dir),
        TpchShapes.genes(s, dir), TpchShapes.runTs, 3)
      def part(df: DataFrame, tag: String) =
        df.select(lit(tag).as("cls"), col("key").cast("long").as("key"),
          col("srcRgdId"), col("destRgdId"))
      part(m.touched, "touched")
        .unionByName(part(m.inserted, "inserted"))
        .unionByName(part(m.deleted, "deleted"))
        .unionByName(m.downgraded.select(lit("downgraded").as("cls"),
          lit(null).cast("long").as("key"), col("srcRgdId"), col("destRgdId")))
    },
      // Independent DuckDB recomputation of Merge.reconcile over the
      // TpchShapes fixture frames (keep in lockstep with TpchShapes.scala)
      """WITH st0 AS (
           SELECT o_orderkey AS key,
                  CAST(o_custkey % 300 AS INT) AS src,
                  CAST(o_orderkey % 2000 AS INT) AS dest,
                  CASE WHEN o_orderstatus='O' THEN 'NCBI'
                       WHEN o_orderstatus='F' THEN 'HGNC' ELSE 'RGD' END AS xsrc,
                  CASE WHEN o_totalprice>200000 THEN 'a,b,c'
                       WHEN o_totalprice>100000 THEN 'a,b' ELSE 'a' END AS xset
           FROM orders WHERE o_orderkey % 4 = 0
           QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey % 300,
             o_orderkey % 2000 ORDER BY o_orderkey) = 1),
         in0 AS (
           SELECT CAST(o_custkey % 300 AS INT) AS src,
                  CAST(o_orderkey % 2000 AS INT) AS dest,
                  CASE WHEN o_orderstatus='O' THEN 'NCBI' ELSE 'HGNC' END AS xsrc,
                  CASE WHEN o_totalprice>200000 THEN 'a,b,c'
                       WHEN o_totalprice>100000 THEN 'a,b' ELSE 'a' END AS xset
           FROM orders WHERE o_orderkey % 4 = 1
           QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey % 300,
             o_orderkey % 2000 ORDER BY o_orderkey) = 1),
         ann_st AS (
           SELECT s.*,
                  CASE s.xsrc WHEN 'RGD' THEN 4 WHEN 'Alliance' THEN 3
                       WHEN 'HGNC' THEN 2 WHEN 'NCBI' THEN 1 ELSE 0 END AS pri,
                  len(string_split(s.xset, ',')) AS ev,
                  CASE WHEN lower(gs.c_name) IS NOT DISTINCT FROM lower(gd.c_name)
                       THEN 1 ELSE 0 END AS symm,
                  gd.c_name AS dsym
           FROM st0 s
           LEFT JOIN customer gs ON gs.c_custkey = s.src
           LEFT JOIN customer gd ON gd.c_custkey = s.dest),
         ann_in AS (
           SELECT i.*,
                  CASE i.xsrc WHEN 'RGD' THEN 4 WHEN 'Alliance' THEN 3
                       WHEN 'HGNC' THEN 2 WHEN 'NCBI' THEN 1 ELSE 0 END AS pri,
                  len(string_split(i.xset, ',')) AS ev,
                  CASE WHEN lower(gs.c_name) IS NOT DISTINCT FROM lower(gd.c_name)
                       THEN 1 ELSE 0 END AS symm,
                  gd.c_name AS dsym
           FROM in0 i
           LEFT JOIN customer gs ON gs.c_custkey = i.src
           LEFT JOIN customer gd ON gd.c_custkey = i.dest),
         inc AS (SELECT * FROM ann_in
           QUALIFY ROW_NUMBER() OVER (PARTITION BY src ORDER BY pri DESC,
             ev DESC, symm DESC, lower(dsym) DESC NULLS LAST, dest ASC) = 1),
         ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY src ORDER BY
             pri DESC, ev DESC, symm DESC, lower(dsym) DESC NULLS LAST,
             dest ASC) AS rn FROM ann_st),
         best AS (SELECT * FROM ranked WHERE rn = 1),
         dup_del AS (SELECT * FROM ranked WHERE rn > 1 AND xsrc <> 'RGD'
           AND src IN (SELECT src FROM inc)),
         cmp AS (
           SELECT i.src AS isrc, e.src AS esrc, i.dest AS idest,
                  e.dest AS edest, e.key AS ekey, e.xsrc AS exsrc,
                  CASE WHEN i.src IS NULL THEN 'stale'
                       WHEN e.src IS NULL THEN 'insert'
                       WHEN e.dest = i.dest THEN 'match'
                       WHEN (CASE WHEN e.pri <> i.pri THEN e.pri < i.pri
                                  WHEN e.ev <> i.ev THEN e.ev < i.ev
                                  WHEN e.symm = 1 THEN false
                                  WHEN i.symm = 1 THEN true
                                  WHEN e.dsym IS NULL AND i.dsym IS NOT NULL THEN true
                                  WHEN i.dsym IS NULL THEN false
                                  ELSE lower(e.dsym) < lower(i.dsym) END)
                         THEN 'replace'
                       ELSE 'downgrade' END AS cls
           FROM inc i FULL OUTER JOIN best e ON i.src = e.src),
         inserted AS (
           SELECT (SELECT max(key) FROM st0)
                    + ROW_NUMBER() OVER (ORDER BY isrc) AS key,
                  isrc AS src, idest AS dest
           FROM cmp WHERE cls IN ('insert','replace')),
         repl_del AS (SELECT ekey AS key, esrc AS src, edest AS dest
           FROM cmp WHERE cls='replace' AND exsrc <> 'RGD'),
         touched AS (SELECT ekey AS key, esrc AS src, edest AS dest
           FROM cmp WHERE cls='match'),
         kept AS (SELECT s.* FROM ann_st s
           WHERE s.key NOT IN (SELECT key FROM dup_del)
             AND s.key NOT IN (SELECT key FROM repl_del)),
         pc AS (SELECT src, count(*) AS n FROM
           (SELECT src FROM kept UNION ALL SELECT src FROM inserted)
           GROUP BY src),
         cand AS (SELECT k.key, k.src, k.dest,
                  ROW_NUMBER() OVER (PARTITION BY k.src ORDER BY k.key) - 1
                    AS ahead
           FROM kept k
           WHERE k.key NOT IN (SELECT key FROM touched)
             AND k.xsrc <> 'RGD'),
         stale AS (SELECT c.key, c.src, c.dest FROM cand c
           JOIN pc ON c.src = pc.src
           WHERE pc.n - c.ahead > 1)
         SELECT 'touched' AS cls, key, src AS srcRgdId, dest AS destRgdId FROM touched
         UNION ALL SELECT 'inserted', key, src, dest FROM inserted
         UNION ALL SELECT 'deleted', key, src, dest FROM dup_del
         UNION ALL SELECT 'deleted', key, src, dest FROM repl_del
         UNION ALL SELECT 'deleted', key, src, dest FROM stale
         UNION ALL SELECT 'downgraded', NULL, isrc, idest FROM cmp
           WHERE cls='downgrade'"""),

    // M4/S8 + J4: weak-ortholog incoming build (relations + downgrades),
    // strong-ortholog knockout, then the syncer diff with the real
    // full-outer classification
    Q("q_m4_weaksync", (s, dir) => {
      val incoming = WeakSync.dropStrongOrthologs(
        WeakSync.buildIncoming(TpchShapes.m4Relations(s, dir),
          TpchShapes.m4Downgraded(s, dir), TpchShapes.runTs),
        TpchShapes.m4Strong(s, dir))
      val r = WeakSync.syncDiff(incoming, TpchShapes.m4AssocState(s, dir))
      def part(df: DataFrame, tag: String) =
        df.select(lit(tag).as("cls"), col("assocKey").cast("long").as("assocKey"),
          col("masterRgdId"), col("detailRgdId"), col("assocSubType"))
      part(r.matched, "matched").unionByName(part(r.updates, "update"))
        .unionByName(part(r.inserts, "insert")).unionByName(part(r.deletes, "delete"))
    },
      // Independent recomputation of the WeakSync incoming build + syncDiff
      """WITH rel AS (
           SELECT CAST(l_orderkey % 400 AS INT) AS m,
                  CAST(l_partkey % 400 AS INT) AS d,
                  CASE WHEN l_partkey % 2 = 0 THEN 'HGNC' ELSE 'NCBI' END AS pipe,
                  CASE WHEN l_partkey % 3 = 0 THEN 'Ensembl'
                       WHEN l_partkey % 3 = 1 THEN 'HomoloGene'
                       ELSE 'OMA' END AS sub
           FROM lineitem WHERE l_orderkey % 3 = 0),
         down AS (
           SELECT CAST(o_custkey % 400 AS INT) AS m,
                  CAST(o_orderkey % 400 AS INT) AS d,
                  CASE WHEN o_orderstatus='O' THEN 'NCBI' ELSE 'HGNC' END AS pipe,
                  CASE WHEN o_totalprice>200000 THEN 'a,b,c'
                       WHEN o_totalprice>100000 THEN 'a,b' ELSE 'a' END AS sub
           FROM orders WHERE o_orderkey % 4 = 2),
         inc0 AS (SELECT * FROM rel UNION ALL SELECT * FROM down),
         strong AS (SELECT DISTINCT CAST(o_custkey % 400 AS INT) AS m,
                  CAST(o_orderkey % 400 AS INT) AS d
           FROM orders WHERE o_orderkey % 7 = 0),
         inc1 AS (SELECT * FROM inc0 i WHERE NOT EXISTS
           (SELECT 1 FROM strong x WHERE x.m = i.m AND x.d = i.d)),
         inc AS (SELECT * FROM inc1
           QUALIFY ROW_NUMBER() OVER (PARTITION BY m, d, pipe
             ORDER BY sub ASC NULLS LAST) = 1),
         st AS (
           SELECT o_orderkey AS akey,
                  CAST(o_custkey % 400 AS INT) AS m,
                  CAST(o_orderkey % 400 AS INT) AS d,
                  CASE WHEN o_totalprice > 150000 THEN 'HGNC' ELSE 'NCBI' END AS pipe,
                  CASE WHEN o_orderstatus='O' THEN 'Ensembl'
                       WHEN o_orderstatus='F' THEN 'HomoloGene' END AS sub
           FROM orders WHERE o_orderkey % 3 = 0),
         j AS (SELECT coalesce(i.m, s.m) AS m, coalesce(i.d, s.d) AS d,
                  s.akey, s.sub AS ssub, i.sub AS isub,
                  (i.m IS NOT NULL) AS ipresent, (s.akey IS NOT NULL) AS spresent
           FROM inc i FULL OUTER JOIN st s
             ON i.m = s.m AND i.d = s.d AND i.pipe = s.pipe)
         SELECT 'matched' AS cls, akey AS assocKey, m AS masterRgdId,
                d AS detailRgdId, ssub AS assocSubType
         FROM j WHERE ipresent AND spresent AND ssub IS NOT DISTINCT FROM isub
         UNION ALL SELECT 'update', akey, m, d, isub
         FROM j WHERE ipresent AND spresent AND ssub IS DISTINCT FROM isub
         UNION ALL SELECT 'insert', NULL, m, d, isub FROM j WHERE NOT spresent
         UNION ALL SELECT 'delete', akey, m, d, ssub
         FROM j WHERE NOT ipresent AND spresent"""),

    // A1/A3/U2/X2: duplicate-relation merge (HGNC+NCBI evidence union with
    // the literal NCBI marker) + complementary-relation synthesis
    Q("q_a2_group_merge", (s, dir) => {
      val rel = Readers.table(s, dir, "lineitem").filter(col("l_orderkey") % 5 === 0).select(
        (col("l_orderkey") % 300).cast("int").as("srcRgdId"),
        ((col("l_partkey") % 300) + 1000).cast("int").as("destRgdId"),
        lit(1).as("srcSpeciesTypeKey"), lit(3).as("destSpeciesTypeKey"),
        when(col("l_linenumber") % 2 === 0, "HGNC").otherwise("NCBI").as("dataSource"),
        when(col("l_linenumber") % 3 === 0, "Ensembl")
          .when(col("l_linenumber") % 3 === 1, "Ensembl, HomoloGene")
          .otherwise("OMA").as("dataSetName"))
      Grouping.withComplementaryRelations(Grouping.mergeRelations(rel))
        .select(col("groupId"), col("srcRgdId"), col("destRgdId"),
          col("dataSource"), col("dataSetName"))
    },
      // Independent recomputation of Grouping.mergeRelations +
      // withComplementaryRelations
      """WITH rel AS (
           SELECT CAST(l_orderkey % 300 AS INT) AS src,
                  CAST(l_partkey % 300 + 1000 AS INT) AS dest,
                  CASE WHEN l_linenumber % 2 = 0 THEN 'HGNC' ELSE 'NCBI' END AS ds,
                  CASE WHEN l_linenumber % 3 = 0 THEN 'Ensembl'
                       WHEN l_linenumber % 3 = 1 THEN 'Ensembl, HomoloGene'
                       ELSE 'OMA' END AS dsn
           FROM lineitem WHERE l_orderkey % 5 = 0),
         toks AS (SELECT src, dest, ds,
                  unnest(string_split_regex(dsn, ',\s*')) AS tok FROM rel),
         g AS (SELECT src, dest,
                  max(CASE WHEN ds='HGNC' THEN 1 ELSE 0 END) AS hashgnc,
                  max(CASE WHEN ds='NCBI' THEN 1 ELSE 0 END) AS hasncbi,
                  list(DISTINCT tok) FILTER (WHERE ds='HGNC') AS htoks,
                  list(DISTINCT tok) AS atoks
           FROM toks GROUP BY src, dest),
         m AS (SELECT src, dest,
                  CASE WHEN hashgnc=1 THEN 'HGNC' ELSE 'NCBI' END AS dataSource,
                  array_to_string(list_sort(list_distinct(
                    CASE WHEN hashgnc=1 THEN
                      coalesce(htoks, CAST([] AS VARCHAR[]))
                        || (CASE WHEN hasncbi=1 THEN ['NCBI']
                            ELSE CAST([] AS VARCHAR[]) END)
                    ELSE atoks END)), ', ') AS dataSetName
           FROM g)
         SELECT src AS groupId, src AS srcRgdId, dest AS destRgdId,
                dataSource, dataSetName FROM m
         UNION ALL
         SELECT src, dest, src, dataSource, dataSetName FROM m"""),

    // S7: distributed sequential surrogate keys (maxKey + rank over a
    // unique total order, computed without a single-partition window)
    Q("q_s7_seqkeys", (s, dir) =>
      Keys.assignSequential(
        Readers.table(s, dir, "customer").filter(col("c_acctbal") > 0).select(col("c_custkey")),
        "key", 100000L, Seq(col("c_custkey"))),
      """SELECT c_custkey,
             100000 + ROW_NUMBER() OVER (ORDER BY c_custkey) AS key
         FROM customer WHERE c_acctbal > 0"""),

    // F7: unmapped-relation drop
    Q("q_f7_unmapped", (s, dir) =>
      Resolve.dropUnmapped(Readers.table(s, dir, "orders").select(
        col("o_orderkey"),
        when(col("o_orderstatus") === "O", col("o_custkey")).otherwise(-1)
          .as("srcRgdId"),
        when(col("o_totalprice") > 50000, col("o_orderkey") % 1000).otherwise(0)
          .as("destRgdId"))),
      """SELECT o_orderkey,
             CASE WHEN o_orderstatus='O' THEN o_custkey ELSE -1 END AS srcRgdId,
             CASE WHEN o_totalprice > 50000 THEN o_orderkey % 1000 ELSE 0 END
               AS destRgdId
         FROM orders
         WHERE (CASE WHEN o_orderstatus='O' THEN o_custkey ELSE -1 END) > 0
           AND (CASE WHEN o_totalprice > 50000 THEN o_orderkey % 1000 ELSE 0 END) > 0"""),

    // X3: '|'-separated algorithm list sort
    Q("q_x3_pipesort", (s, dir) =>
      Readers.table(s, dir, "part").select(col("p_partkey"),
        Exprs.sortAlgorithms(
          concat(col("p_brand"), lit("|"), col("p_name"), lit("|"), col("p_brand")))
          .as("algos")),
      """SELECT p_partkey,
             array_to_string(list_sort(list_distinct(
               string_split(p_brand || '|' || p_name || '|' || p_brand, '|'))),
               '|') AS algos
         FROM part"""),

    // X1: positional tab split (the readers' fixed-column access pattern)
    Q("q_x1_tabsplit", (s, dir) => {
      val line = concat_ws("\t", col("p_name"), col("p_brand"), col("p_type"))
      Readers.table(s, dir, "part").select(col("p_partkey"),
        split(line, "\t").getItem(1).as("f1"),
        split(line, "\t").getItem(2).as("f2"))
    },
      """SELECT p_partkey,
             string_split(p_name || chr(9) || p_brand || chr(9) || p_type,
               chr(9))[2] AS f1,
             string_split(p_name || chr(9) || p_brand || chr(9) || p_type,
               chr(9))[3] AS f2
         FROM part"""),

    // X12: percent / absolute threshold parse (the real driver-side math)
    Q("q_x12_threshold", (s, dir) => {
      import s.implicits._
      val total = Readers.table(s, dir, "orders").count()
      Seq((total, Agr.parseThreshold("10%", total), Agr.parseThreshold("3%", total),
        Agr.parseThreshold("500", total))).toDF("total", "pct10", "pct3", "abs500")
    },
      """SELECT count(*) AS total,
             CAST((10 * count(*)) // 100 AS BIGINT) AS pct10,
             CAST((3 * count(*)) // 100 AS BIGINT) AS pct3,
             CAST(500 AS BIGINT) AS abs500
         FROM orders"""),

    // D4/D5: sanity floor + freshness gate - the real guards run (throwing
    // on violation) and the row surfaces their scalar inputs
    Q("q_d4_d5_guards", (s, dir) => {
      val cust = Readers.requireSanityFloor(Readers.table(s, dir, "customer"), 100)
      val agr = Readers.table(s, dir, "orders").select(col("o_orderdate").as("lastUpdateDate"))
      graft.operators.Reports.checkAllianceFreshness(agr,
        java.sql.Timestamp.valueOf("2026-08-12 00:00:00"), maxAgeDays = 20000)
      cust.agg(count(lit(1)).as("n_rows")).crossJoin(
        agr.agg(max(col("lastUpdateDate")).as("max_date")))
        .select(col("n_rows"), (col("n_rows") >= 100).cast("int").as("floor_ok"),
          col("max_date"),
          datediff(lit("2026-08-12"), col("max_date")).as("age_days"),
          (datediff(lit("2026-08-12"), col("max_date")) <= 20000).cast("int")
            .as("fresh_ok"))
    },
      """SELECT n_rows, CAST(n_rows >= 100 AS INT) AS floor_ok, max_date,
             CAST(datediff('day', max_date, TIMESTAMP '2026-08-12') AS INT)
               AS age_days,
             CAST(datediff('day', max_date, TIMESTAMP '2026-08-12') <= 20000
               AS INT) AS fresh_ok
         FROM (SELECT count(*) AS n_rows FROM customer),
              (SELECT max(o_orderdate) AS max_date FROM orders)"""),

    // A6/J1/J2/F5/F7: the REAL bulk id-resolution - EG->RGD candidate
    // join with allele/splice exclusion, withdrawn->replacement history,
    // 4-outcome classification, src-shadows-dest audit, outcome counters
    Q("q_a6_resolve", (s, dir) => {
      val (_, audit) = Resolve.resolveRelations(
        TpchShapes.resolveRelations(s, dir), TpchShapes.resolveXrefs(s, dir),
        TpchShapes.genes(s, dir), TpchShapes.resolveRgdIds(s, dir),
        TpchShapes.resolveHistory(s, dir))
      audit.groupBy(col("outcome"), col("failedSide")).agg(count(lit(1)).as("n"))
    },
      // Independent recomputation of Resolve.resolveRelations
      """WITH rels AS (
           SELECT 'EG' || ((l_orderkey % 2000) - (l_orderkey % 2000) % 2) AS srcid,
                  'EG' || ((l_partkey % 2000) - (l_partkey % 2000) % 2) AS destid
           FROM lineitem WHERE l_orderkey % 2 = 0),
         egids AS (SELECT DISTINCT egid FROM (
           SELECT srcid AS egid FROM rels UNION ALL SELECT destid FROM rels)),
         cands AS (
           SELECT DISTINCT 'EG' || (c_custkey - c_custkey % 2) AS egid,
                  CAST(c_custkey AS INT) AS rgdid
           FROM customer
           WHERE c_custkey % 7 <> 0
             AND (CASE WHEN c_mktsegment='MACHINERY' THEN 'allele'
                  ELSE 'protein-coding' END) NOT IN ('allele','splice')
             AND 'EG' || (c_custkey - c_custkey % 2) IN (SELECT egid FROM egids)),
         wstat AS (
           SELECT c.egid, c.rgdid, cu.c_acctbal >= 0 AS isactive
           FROM cands c JOIN customer cu ON cu.c_custkey = c.rgdid),
         repl AS (
           SELECT h.oldid, max(h.newid) AS replid FROM
             (SELECT CAST(c_custkey AS INT) AS oldid,
                     CAST(c_custkey + 1 AS INT) AS newid
              FROM customer WHERE c_acctbal < 0) h
             JOIN customer cu ON cu.c_custkey = h.newid AND cu.c_acctbal >= 0
           GROUP BY h.oldid),
         agg AS (
           SELECT w.egid,
                  sum(CASE WHEN w.isactive THEN 1 ELSE 0 END) AS activec,
                  sum(CASE WHEN NOT w.isactive AND r.replid IS NOT NULL
                      THEN 1 ELSE 0 END) AS replacedc
           FROM wstat w LEFT JOIN repl r ON w.rgdid = r.oldid
           GROUP BY w.egid),
         emap AS (
           SELECT egid,
                  CASE WHEN activec > 1 THEN 'multiple'
                       WHEN activec = 1 THEN 'matched'
                       WHEN replacedc > 1 THEN 'multiple'
                       WHEN replacedc = 1 THEN 'matched'
                       ELSE 'withdrawn' END AS outcome
           FROM agg),
         fin AS (
           SELECT CASE WHEN coalesce(s.outcome,'unmatched') <> 'matched'
                         THEN coalesce(s.outcome,'unmatched')
                       WHEN coalesce(d.outcome,'unmatched') <> 'matched'
                         THEN coalesce(d.outcome,'unmatched')
                       ELSE 'matched' END AS outcome,
                  CASE WHEN coalesce(s.outcome,'unmatched') <> 'matched' THEN 'src'
                       WHEN coalesce(d.outcome,'unmatched') <> 'matched' THEN 'dest'
                       END AS failedSide
           FROM rels r
           LEFT JOIN emap s ON s.egid = r.srcid
           LEFT JOIN emap d ON d.egid = r.destid)
         SELECT outcome, failedSide, count(*) AS n
         FROM fin GROUP BY outcome, failedSide"""),

    // W2/W4/J3/U4/F8/F9/F10/O2: the REAL 4-tier cascade - manual +
    // Alliance mutual-best + incoming candidates, conflict invalidation,
    // the 4-rule best-fit tie-break chain, per-pick method audit
    Q("q_w24_cascade_run", (s, dir) =>
      graft.operators.Cascade.run(TpchShapes.cascadeRelations(s, dir),
        TpchShapes.cascadeOrthologs(s, dir), TpchShapes.cascadeAgr(s, dir),
        TpchShapes.genes(s, dir), rgdIds = Some(TpchShapes.wideRgdIds(s)))
        .select(col("groupId"), col("srcRgdId"), col("destRgdId"),
          col("xrefDataSrc"), col("xrefDataSet"), col("tier"), col("method")),
      // Independent recomputation of the Cascade (candidates + 4-tier pick)
      """WITH rel AS (
           SELECT CAST(l_orderkey % 500 AS INT) AS grp,
                  CAST(l_orderkey % 500 AS INT) AS src,
                  CAST(l_partkey % 1500 + 1 AS INT) AS dest,
                  CASE WHEN l_partkey % 2 = 0 THEN 'HGNC' ELSE 'NCBI' END AS xsrc,
                  CASE WHEN l_partkey % 3 = 0 THEN 'Ensembl'
                       WHEN l_partkey % 3 = 1 THEN 'Ensembl,HomoloGene'
                       ELSE 'Ensembl,HomoloGene,OMA' END AS xset,
                  CASE WHEN l_partkey % 2 = 0 THEN 2 ELSE 1 END AS tier
           FROM lineitem WHERE l_orderkey % 4 = 0),
         ks AS (SELECT DISTINCT grp, src FROM rel),
         -- manual tier is both-endpoints-ACTIVE in the registry
         -- (ids 0..1800, every 23rd WITHDRAWN - TpchShapes.wideRgdIds)
         manual AS (
           SELECT k.grp, k.src, s.dest, 'RGD' AS xsrc, 'curated' AS xset, 4 AS tier
           FROM ks k JOIN (SELECT CAST(o_custkey % 500 AS INT) AS src,
                                  CAST(o_orderkey % 1500 + 1 AS INT) AS dest
                           FROM orders WHERE o_orderkey % 10 = 0) s
             ON s.src = k.src
           WHERE s.src % 23 <> 0 AND s.dest % 23 <> 0),
         agr0 AS (SELECT CAST(o_custkey % 500 AS INT) AS g1,
                  CAST(o_orderkey % 1500 + 1 AS INT) AS g2
           FROM orders WHERE o_orderstatus='O' AND o_totalprice > 100000),
         -- UNION (not ALL): the engine dedupes the symmetrized AGR rows
         -- on the upsert key (Cascade agrSym .distinct())
         agrsym AS (SELECT g1 AS a, g2 AS b FROM agr0
           UNION SELECT g2, g1 FROM agr0),
         alliance AS (
           SELECT k.grp, k.src, sym.b AS dest, 'Alliance' AS xsrc,
                  'OrthoFinder|PANTHER' AS xset, 3 AS tier
           FROM ks k JOIN agrsym sym ON sym.a = k.src
           JOIN customer c ON c.c_custkey = sym.b
           WHERE (CASE WHEN c.c_custkey % 2 = 0 THEN 1 ELSE 3 END) = 3),
         cands AS (SELECT * FROM rel UNION ALL SELECT * FROM manual
           UNION ALL SELECT * FROM alliance),
         ann AS (SELECT c.*, gd.c_name AS dsym,
                  CASE WHEN c.xset IS NULL OR c.xset = '' THEN 0
                       ELSE len(string_split(c.xset, ',')) END AS ev,
                  CASE WHEN lower(gs.c_name) IS NOT DISTINCT FROM lower(gd.c_name)
                       THEN 1 ELSE 0 END AS symm
           FROM cands c LEFT JOIN customer gs ON gs.c_custkey = c.src
                        LEFT JOIN customer gd ON gd.c_custkey = c.dest),
         top AS (SELECT * FROM
           (SELECT a.*, MAX(tier) OVER (PARTITION BY grp) AS toptier FROM ann a)
           WHERE tier = toptier),
         t1 AS (SELECT t.*, COUNT(*) OVER w AS n, MAX(ev) OVER w AS maxev,
                  MAX(symm) OVER w AS anymatch
           FROM top t WINDOW w AS (PARTITION BY grp)),
         t2 AS (SELECT t.*,
                  SUM(CASE WHEN ev = maxev THEN 1 ELSE 0 END) OVER w AS cntatmax,
                  ROW_NUMBER() OVER (PARTITION BY grp ORDER BY ev DESC,
                    lower(dsym) ASC NULLS LAST, dest ASC, src ASC) AS rnev,
                  ROW_NUMBER() OVER (PARTITION BY grp ORDER BY symm DESC, ev DESC,
                    lower(dsym) ASC NULLS LAST, dest ASC, src ASC) AS rnsym,
                  ROW_NUMBER() OVER (PARTITION BY grp ORDER BY
                    lower(dsym) ASC NULLS LAST, dest ASC, src ASC) AS rnalpha
           FROM t1 t WINDOW w AS (PARTITION BY grp))
         SELECT grp AS groupId, src AS srcRgdId, dest AS destRgdId,
                xsrc AS xrefDataSrc, xset AS xrefDataSet, tier,
                CASE WHEN tier > 2 THEN
                       (CASE WHEN n = 1 THEN 'tierPick' ELSE 'conflict' END)
                     WHEN n = 1 THEN 'oneRel'
                     WHEN cntatmax = 1 THEN 'longestEvidence'
                     WHEN anymatch = 1 THEN 'symbolMatch'
                     ELSE 'shortestSymbol' END AS method
         FROM t2
         WHERE (tier > 2 AND n = 1)
            OR (tier <= 2 AND (n = 1
                 OR (cntatmax = 1 AND rnev = 1)
                 OR (cntatmax > 1 AND anymatch = 1 AND rnsym = 1)
                 OR (cntatmax > 1 AND anymatch = 0 AND rnalpha = 1)))"""),

    // D1/J5/U3: ortholog symmetry repair - swapped-key anti-join, manual
    // exemption, forward assoc replacement, reverse-assoc detach/mirror
    Q("q_d1_repair", (s, dir) => {
      val r = WeakSync.repairOrthologSymmetry(TpchShapes.d1State(s, dir),
        TpchShapes.d1Assoc(s, dir), 1, 3, TpchShapes.runTs,
        rgdIds = Some(TpchShapes.wideRgdIds(s)))
      r.orthologDeletes.select(lit("ortho_delete").as("cls"), col("key"),
          lit(null).cast("int").as("masterRgdId"), lit(null).cast("int").as("detailRgdId"))
        .unionByName(r.assocInserts.select(lit("assoc_insert").as("cls"),
          lit(null).cast("long").as("key"), col("masterRgdId"), col("detailRgdId")))
        .unionByName(r.detachKeys.select(lit("detach").as("cls"),
          lit(null).cast("long").as("key"), col("masterRgdId"), col("detailRgdId")))
    },
      // Independent recomputation of WeakSync.repairOrthologSymmetry
      """WITH base AS (
           SELECT o_orderkey AS key, CAST(o_custkey % 400 AS INT) AS src,
                  CAST(o_orderkey % 397 + 400 AS INT) AS dest,
                  CASE WHEN o_orderkey % 3 = 0 THEN 'RGD'
                       WHEN o_orderkey % 3 = 1 THEN 'NCBI'
                       ELSE 'HGNC' END AS xsrc
           FROM orders),
         state AS (SELECT key, src, dest FROM base
           UNION ALL SELECT key + 1000000, dest, src FROM base WHERE key % 5 = 0),
         -- candidates are both-endpoints-ACTIVE (registry ids 0..1800,
         -- every 23rd WITHDRAWN); the reverse check below stays raw
         asym AS (SELECT b.* FROM base b
           WHERE b.src % 23 <> 0 AND b.dest % 23 <> 0 AND NOT EXISTS
           (SELECT 1 FROM state s WHERE s.src = b.dest AND s.dest = b.src)),
         nonman AS (SELECT * FROM asym WHERE xsrc <> 'RGD'),
         assoc AS (SELECT dest AS am, src AS ad FROM base WHERE key % 7 = 0),
         withrev AS (SELECT a.* FROM asym a WHERE EXISTS
           (SELECT 1 FROM assoc x WHERE x.am = a.dest AND x.ad = a.src)),
         worev AS (SELECT a.* FROM asym a WHERE NOT EXISTS
           (SELECT 1 FROM assoc x WHERE x.am = a.dest AND x.ad = a.src))
         SELECT 'ortho_delete' AS cls, key, NULL AS masterRgdId,
                NULL AS detailRgdId FROM nonman
         UNION ALL SELECT 'assoc_insert', NULL, src, dest FROM nonman
         UNION ALL SELECT 'assoc_insert', NULL, dest, src FROM worev
         UNION ALL SELECT 'detach', NULL, dest, src FROM withrev"""),

    // D2/S6: association symmetry repair - species-pair scope via the
    // object registry, reverse-ortholog exclusion, both-queued /
    // detach / mirror-insert branch table
    Q("q_d2_repair", (s, dir) => {
      val r = WeakSync.repairAssocSymmetry(TpchShapes.d2AssocState(s, dir),
        TpchShapes.d2Orthologs(s, dir), TpchShapes.resolveRgdIds(s, dir),
        TpchShapes.d2Deletes(s, dir), 3, TpchShapes.runTs)
      r.assocInserts.select(lit("insert").as("cls"), col("masterRgdId"), col("detailRgdId"))
        .unionByName(r.detachKeys.select(lit("detach").as("cls"),
          col("masterRgdId"), col("detailRgdId")))
    },
      // Independent recomputation of WeakSync.repairAssocSymmetry
      """WITH base AS (
           SELECT o_orderkey AS key, CAST(o_custkey AS INT) AS m,
                  CAST(o_orderkey % 140 + 1 AS INT) AS d
           FROM orders),
         astate AS (SELECT key, m, d FROM base
           UNION ALL SELECT key + 1000000, d, m FROM base WHERE key % 4 = 0),
         sp AS (SELECT c_custkey AS id,
                  CASE WHEN c_custkey % 2 = 0 THEN 1 ELSE 3 END AS sp
           FROM customer),
         pair AS (SELECT a.* FROM astate a
           JOIN sp ms ON ms.id = a.m JOIN sp ds ON ds.id = a.d
           WHERE (ms.sp = 1 AND ds.sp = 3) OR (ms.sp = 3 AND ds.sp = 1)),
         orth AS (SELECT CAST(o_orderkey % 140 + 1 AS INT) AS src,
                  CAST(o_custkey AS INT) AS dest
           FROM orders WHERE o_orderkey % 6 = 0),
         norev AS (SELECT p.* FROM pair p WHERE NOT EXISTS
           (SELECT 1 FROM orth o WHERE o.src = p.d AND o.dest = p.m)),
         -- the reverse is visible only when this row's master (the
         -- reverse's DETAIL) is ACTIVE (negative balance = WITHDRAWN
         -- in TpchShapes.resolveRgdIds) - getAssociationsForMasterRgdId
         -- inner-joins rgd_ids on the detail side (r16 pin)
         withrev AS (SELECT p.* FROM norev p WHERE EXISTS
           (SELECT 1 FROM astate x WHERE x.m = p.d AND x.d = p.m)
           AND EXISTS (SELECT 1 FROM customer c
             WHERE c.c_custkey = p.m AND c.c_acctbal >= 0)),
         worev AS (SELECT p.* FROM norev p WHERE NOT (EXISTS
           (SELECT 1 FROM astate x WHERE x.m = p.d AND x.d = p.m)
           AND EXISTS (SELECT 1 FROM customer c
             WHERE c.c_custkey = p.m AND c.c_acctbal >= 0))),
         dels AS (SELECT DISTINCT m, d FROM (
           SELECT m, d FROM base WHERE key % 5 = 0
           UNION ALL SELECT d, m FROM base WHERE key % 10 = 0)),
         fq AS (SELECT w.* FROM withrev w WHERE EXISTS
           (SELECT 1 FROM dels WHERE dels.m = w.m AND dels.d = w.d)),
         rq AS (SELECT w.* FROM withrev w WHERE EXISTS
           (SELECT 1 FROM dels WHERE dels.m = w.d AND dels.d = w.m)),
         bothq AS (SELECT m, d FROM fq INTERSECT SELECT m, d FROM rq)
         SELECT 'insert' AS cls, d AS masterRgdId, m AS detailRgdId FROM worev
         UNION ALL
         SELECT 'detach', d, m FROM withrev w WHERE NOT EXISTS
           (SELECT 1 FROM bothq b WHERE b.m = w.m AND b.d = w.d)"""),

    // S4 downstream: HomoloGene group flow - resolve member entries
    // (exactly-one-active-gene rule: G1/G2 resolve to TWO customers
    // each and drop; G11 resolves to none), then synthesize ALL
    // ordered distinct-entry pairs per group - reference semantics
    // include same-species pairs and duplicate-entry self-pairs (the
    // dup flag below keeps up to two copies of a member line). Group
    // fan-out stays at real-HomoloGene scale (a handful to tens of
    // entries) so the within-group pair join is bounded.
    Q("q_s4_homologene", (s, dir) => homologenePairs(s, dir),
      // Independent recomputation of the HomoloGene pair synthesis:
      // exactly-one-match resolution, entry species from the taxon, all
      // ordered distinct-entry pairs (duplicate entries get distinct
      // row_numbers; the ordered-pair multiset is order-invariant)
      s"""WITH $homologeneMemCtes
         SELECT a.g AS homologeneGroupId, a.rgd AS srcRgdId, b.rgd AS destRgdId,
                a.sp AS srcSpeciesTypeKey, b.sp AS destSpeciesTypeKey
         FROM mem a JOIN mem b ON a.g = b.g AND a.i <> b.i"""),

    // S4 sync: the group diff against prior HOMOLOGENE-sourced state -
    // multiset match on (group, src, dest) with lowest keys matched
    // first, surplus state deleting, surplus incoming inserting with
    // the direct/transitive type rule; non-HOMOLOGENE rows (RGD, HGNC)
    // never participate (HomologeneLoader.qcGroups + loadGroups,
    // getOrthologsForGroupId's source filter)
    Q("q_s4_homologene_sync", (s, dir) => {
      val inRgd = Readers.table(s, dir, "orders").select(
        col("o_orderkey").cast("long").as("key"),
        (col("o_orderkey") % 8000).cast("int").as("homologeneGroupId"),
        (col("o_custkey") % 13 + 1).cast("int").as("srcRgdId"),
        (col("o_orderkey") % 13 + 1).cast("int").as("destRgdId"),
        lit(1).as("srcSpeciesTypeKey"), lit(3).as("destSpeciesTypeKey"),
        when(col("o_orderkey") % 9 === 0, "RGD")
          .when(col("o_orderkey") % 9 === 1, "HGNC")
          .otherwise("HOMOLOGENE").as("xrefDataSrc"))
      val (ins, matched, dels) =
        graft.operators.Homologene.syncGroups(homologenePairs(s, dir), inRgd)
      ins.select(lit("insert").as("bucket"), col("homologeneGroupId"),
          col("srcRgdId"), col("destRgdId"),
          lit(null).cast("long").as("key"),
          col("orthologTypeKey").cast("int").as("otk"))
        .unionByName(matched.select(lit("match").as("bucket"),
          col("homologeneGroupId"), col("srcRgdId"), col("destRgdId"),
          col("key"), lit(null).cast("int").as("otk")))
        .unionByName(dels.select(lit("delete").as("bucket"),
          col("homologeneGroupId"), col("srcRgdId"), col("destRgdId"),
          col("key"), lit(null).cast("int").as("otk")))
    },
      // the S4 group sync recomputed: per-(group,src,dest) multiset match
      // (lowest state keys first), surplus state -> delete, surplus
      // incoming -> insert with the human-direct(11)/transitive(13) rule,
      // non-HOMOLOGENE state rows out of play
      s"""WITH $homologeneMemCtes,
         pairs AS (
           SELECT a.g, a.rgd AS src, b.rgd AS dest, a.sp AS ssp, b.sp AS dsp
           FROM mem a JOIN mem b ON a.g = b.g AND a.i <> b.i),
         hom AS (
           SELECT o_orderkey AS key, CAST(o_orderkey % 8000 AS INT) AS g,
                  CAST(o_custkey % 13 + 1 AS INT) AS src,
                  CAST(o_orderkey % 13 + 1 AS INT) AS dest
           FROM orders WHERE o_orderkey % 9 NOT IN (0, 1)),
         n_inc AS (SELECT g, src, dest, COUNT(*) AS n FROM pairs GROUP BY 1, 2, 3),
         n_rgd AS (SELECT g, src, dest, COUNT(*) AS n FROM hom GROUP BY 1, 2, 3),
         ranked AS (
           SELECT hom.*, ROW_NUMBER() OVER (PARTITION BY hom.g, hom.src, hom.dest
                    ORDER BY hom.key) AS rk,
                  COALESCE(n_inc.n, 0) AS ni
           FROM hom LEFT JOIN n_inc
             ON hom.g = n_inc.g AND hom.src = n_inc.src AND hom.dest = n_inc.dest),
         ins_ranked AS (
           SELECT pairs.*, ROW_NUMBER() OVER (PARTITION BY pairs.g, pairs.src,
                    pairs.dest ORDER BY pairs.ssp, pairs.dsp) AS rk,
                  COALESCE(n_rgd.n, 0) AS nr
           FROM pairs LEFT JOIN n_rgd
             ON pairs.g = n_rgd.g AND pairs.src = n_rgd.src AND pairs.dest = n_rgd.dest)
         SELECT 'match' AS bucket, g AS homologeneGroupId, src AS srcRgdId,
                dest AS destRgdId, key, CAST(NULL AS INT) AS otk
         FROM ranked WHERE rk <= ni
         UNION ALL
         SELECT 'delete', g, src, dest, key, CAST(NULL AS INT)
         FROM ranked WHERE rk > ni
         UNION ALL
         SELECT 'insert', g, src, dest, CAST(NULL AS BIGINT),
                CASE WHEN ssp = 1 OR dsp = 1 THEN 11 ELSE 13 END
         FROM ins_ranked WHERE rk > nr"""),

    // ---- events: per-entity aggregation (A2/A5 shape on the stream table) ----
    Q("q_e_user_stats", (s, dir) =>
      Readers.table(s, dir, "events").groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(floor(col("value") * 100).cast("long")).as("sum_value_cents"),
          countDistinct(col("event_type")).as("n_types")),
      """SELECT user_id, count(*) AS n_events,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_value_cents,
             count(DISTINCT event_type) AS n_types
         FROM events GROUP BY user_id"""),

    // trailing-window features per user (10-min + 1-h horizons): one
    // shuffle on user_id, RANGE frames tie-safe, ROWS features under a
    // total (t, event_id) order
    Q("q_e_rolling", (s, dir) =>
      Features.rollingFeatures(
        Readers.table(s, dir, "events")
          .withColumn("t", pmod(col("event_id"), lit(86400L))))
        .select(col("event_id"), col("user_id"), col("t"),
          col("n_600s"), col("min_v_600s"), col("max_v_600s"),
          col("n_3600s"), col("gap_s"), col("seq_n").cast("long").as("seq_n")),
      // trailing windows: RANGE h-1 PRECEDING = (t-h, t]; ROWS features
      // under the total (t, event_id) order
      """WITH e AS (SELECT event_id, user_id, value,
                           CAST(event_id % 86400 AS BIGINT) AS t
                    FROM events)
         SELECT event_id, user_id, t,
                count(*) OVER w6 AS n_600s,
                min(value) OVER w6 AS min_v_600s,
                max(value) OVER w6 AS max_v_600s,
                count(*) OVER w36 AS n_3600s,
                t - lag(t) OVER wo AS gap_s,
                row_number() OVER wo AS seq_n
         FROM e
         WINDOW
           w6 AS (PARTITION BY user_id ORDER BY t
                  RANGE BETWEEN 599 PRECEDING AND CURRENT ROW),
           w36 AS (PARTITION BY user_id ORDER BY t
                   RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW),
           wo AS (PARTITION BY user_id ORDER BY t, event_id)"""),

    // fuzzy identifier QC: all customer-name pairs within edit distance
    // 1, deletion-neighborhood blocked (complete), exact-verified
    Q("q_fuzzy_pairs", (s, dir) =>
      // customer is a single-row-group file too: the deletion-
      // neighborhood explode (heavy per-row map work) parallelizes
      // past the one scan task exactly like tDocsPar's documents read
      graft.operators.FuzzyJoin.levenshteinPairs(
        Readers.table(s, dir, "customer")
          .repartition(shufflePartitions(s), col("c_custkey")),
        idCol = "c_custkey", strCol = "c_name"),
      // gap-based sessionization recomputed via lag + running break count;
      // a session breaks only at gap > 900s - Spark session windows merge
      // when they touch, so two events exactly 900s apart share a session
      // (verified against session_window at the exact-gap boundary)
      // full blocking recomputation: deletion-neighborhood keys, the SAME
      // df<=1000 posting cut as the Spark side (so the oracle cannot
      // diverge when a key exceeds the cut at larger SF), equi-join on
      // key, exact levenshtein verify. UNION (not UNION ALL) dedupes
      // (id, key) like array_distinct; range(1,n) is empty for n<=1 so
      // the empty string contributes only its identity key, as in Spark.
      """WITH s AS (SELECT c_custkey AS id, c_name AS nm FROM customer),
         keys AS (
           SELECT id, nm, nm AS k FROM s
           UNION
           SELECT id, nm, substr(nm, 1, CAST(i AS INT) - 1)
                          || substr(nm, CAST(i AS INT) + 1) AS k
           FROM (SELECT id, nm, unnest(range(1, length(nm) + 1)) AS i
                 FROM s)),
         kept AS (
           SELECT id, nm, k FROM (
             SELECT id, nm, k, count(*) OVER (PARTITION BY k) AS df
             FROM keys)
           WHERE df <= 1000),
         pairs AS (
           SELECT DISTINCT a.id AS id_a, b.id AS id_b,
                  a.nm AS nm_a, b.nm AS nm_b
           FROM kept a JOIN kept b ON a.k = b.k AND a.id < b.id)
         SELECT id_a, id_b,
                CAST(levenshtein(nm_a, nm_b) AS INT) AS dist
         FROM pairs WHERE levenshtein(nm_a, nm_b) <= 1"""),

    // per-user p95 outlier flags (exact percentile; approx variant is
    // the documented scale path)
    Q("q_e_outliers", (s, dir) =>
      Features.withOutlierFlags(Readers.table(s, dir, "events"))
        .select(col("event_id"), col("user_id"), col("value"),
          col("p_q"), col("is_outlier")),
      // round(p_q, 6) mirrors the Spark side's threshold quantization -
      // last-ulp interpolation differences must not flip the int flag
      """WITH s AS (SELECT user_id,
             round(quantile_cont(CAST(value AS DOUBLE), 0.95), 6) AS p_q
           FROM events GROUP BY user_id)
         SELECT e.event_id, e.user_id, e.value, s.p_q,
                CAST(e.value > s.p_q AS INT) AS is_outlier
         FROM events e LEFT JOIN s USING (user_id)"""),

    // event-time sessionization (session_window, gap = 15 min); the same
    // plan runs streaming with a watermark (EventStream.sessionStats,
    // StreamingSpec). Event time derives from event_id as in
    // q_stream_windowed; the double sum is dropped from the projection
    // (order-dependent cross-engine noise)
    Q("q_e_sessions", (s, dir) =>
      graft.streaming.EventStream.sessionStats(
        Readers.table(s, dir, "events")
          .withColumn("ts", timestamp_seconds(pmod(col("event_id"), lit(86400L)))),
        gap = "15 minutes")
        .select(col("sess_start_s"), col("sess_end_s"), col("user_id"),
          col("n_events")),
      """WITH e AS (SELECT user_id, CAST(event_id % 86400 AS BIGINT) AS t
                    FROM events),
              o AS (SELECT user_id, t,
                           CASE WHEN lag(t) OVER w IS NULL
                                  OR t - lag(t) OVER w > 900
                                THEN 1 ELSE 0 END AS brk
                    FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
              s AS (SELECT user_id, t,
                           sum(brk) OVER (PARTITION BY user_id ORDER BY t
                                          ROWS UNBOUNDED PRECEDING) AS sid
                    FROM o)
         SELECT CAST(min(t) AS BIGINT) AS sess_start_s,
                CAST(max(t) + 900 AS BIGINT) AS sess_end_s,
                user_id, count(*) AS n_events
         FROM s GROUP BY user_id, sid"""),

    // as-of join (the temporal operator Spark lacks natively): each
    // click gets the latest view at-or-before it per user, via the
    // union + running-last plan in TemporalJoins (one shuffle, no join)
    Q("q_j_asof", (s, dir) => {
      val ev = Readers.table(s, dir, "events")
        .withColumn("ts_s", pmod(col("event_id"), lit(86400L)))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts_s"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts_s"),
          col("event_id").as("view_event_id"))
      TemporalJoins.asofJoin(clicks, views, Seq("user_id"), "ts_s", "ts_s",
        Seq("view_event_id"), tiebreak = "view_event_id")
        .select(col("event_id"), col("user_id"), col("ts_s"),
          col("view_event_id"))
    },
      // as-of join recomputed as a correlated latest-prior lookup
      """WITH ev AS (SELECT event_id, user_id, event_id % 86400 AS ts_s,
                            event_type FROM events),
              c AS (SELECT event_id, user_id, ts_s FROM ev
                    WHERE event_type = 'click'),
              v AS (SELECT event_id AS view_event_id, user_id, ts_s FROM ev
                    WHERE event_type = 'view')
         SELECT c.event_id, c.user_id, c.ts_s,
           (SELECT v.view_event_id FROM v
            WHERE v.user_id = c.user_id AND v.ts_s <= c.ts_s
            ORDER BY v.ts_s DESC, v.view_event_id DESC LIMIT 1)
             AS view_event_id
         FROM c"""),

    // bucketed range join: (click, view) pairs with the click 0-600s
    // after the view - time-quantized equi-join, no BroadcastNestedLoop
    Q("q_j_range", (s, dir) => {
      val ev = Readers.table(s, dir, "events")
        .withColumn("ts_s", pmod(col("event_id"), lit(86400L)))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts_s").as("click_ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"),
          col("ts_s").as("view_ts"))
      TemporalJoins.rangeJoinBucketed(clicks, views, Seq("user_id"),
        "click_ts", "view_ts", 0L, 600L)
        .select(col("click_id"), col("view_id"),
          (col("click_ts") - col("view_ts")).as("delta_s"))
    },
      // range join recomputed as a plain BETWEEN join
      """WITH ev AS (SELECT event_id, user_id, event_id % 86400 AS ts_s,
                            event_type FROM events)
         SELECT c.event_id AS click_id, v.event_id AS view_id,
                c.ts_s - v.ts_s AS delta_s
         FROM (SELECT * FROM ev WHERE event_type = 'click') c
         JOIN (SELECT * FROM ev WHERE event_type = 'view') v
           ON c.user_id = v.user_id
          AND c.ts_s BETWEEN v.ts_s AND v.ts_s + 600"""),

    // column profiling, distributed-EXACT path (integer-valued columns
    // only: quartile interpolation at dyadic fractions of integers is
    // exact in double, so the cross-engine compare is bit-stable).
    // summarizeDistributed replaces summarize's single-reducer
    // value-map `percentile` buffer with a value histogram + sharded
    // prefix sum + rank-neighbor lookup - same rows, scale-safe plan
    Q("q_profile_stats", (s, dir) =>
      graft.operators.Profile.summarizeDistributed(Readers.table(s, dir, "lineitem"),
        Seq("l_quantity", "l_linenumber", "l_partkey")),
      // profiling recomputed per column (quantile_cont == Spark's exact
      // interpolated percentile)
      Seq("l_quantity", "l_linenumber", "l_partkey").map { c =>
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
              count(*) - count($c) AS n_null,
              count(DISTINCT $c) AS n_distinct,
              CAST(min($c) AS DOUBLE) AS min_v,
              CAST(max($c) AS DOUBLE) AS max_v,
              quantile_cont(CAST($c AS DOUBLE), 0.25) AS p25,
              quantile_cont(CAST($c AS DOUBLE), 0.5) AS p50,
              quantile_cont(CAST($c AS DOUBLE), 0.75) AS p75
          FROM lineitem"""
      }.mkString(" UNION ALL ")),

    // flagship pipeline as a registered (rows-only) query; the run itself
    // is computed once per session and shared with q_pipeline_counts
    Q("q_pipeline_e2e", (s, dir) =>
      pipelinePicks(s, dir).strongPicks
        .select(col("groupId"), col("srcRgdId"), col("destRgdId"),
          col("xrefDataSrc"), col("xrefDataSet"), col("tier"), col("method")),
      // the full strong-pick row set, hash-gated column by column
      s"""WITH $pipelinePicksCtes
         SELECT CAST(groupId AS INT) AS groupId,
                CAST(srcRgdId AS INT) AS srcRgdId,
                CAST(destRgdId AS INT) AS destRgdId,
                xrefDataSrc, xrefDataSet, CAST(tier AS INT) AS tier,
                method
         FROM picks"""),

    // flagship projection under the driver's hash gate: per-(tier, method)
    // pick counts, recomputed independently by the DuckDB oracle (below)
    // from the raw tables - resolve/merge/complement/cascade as CTEs
    Q("q_pipeline_counts", (s, dir) =>
      pipelinePicks(s, dir).strongPicks
        .groupBy(col("tier"), col("method"))
        .agg(count(lit(1)).as("n")),
      // Flagship oracles: INDEPENDENT recomputation from the raw tables at
      // any scale factor (no pinned VALUES), via the shared CTE chains
      // above (pipelinePicksCtes / agrUpsertCtes). Both the count
      // projections AND the full flagship row dumps are under the gate.
      s"""WITH $pipelinePicksCtes
         SELECT CAST(tier AS INT) AS tier, method, count(*) AS n
         FROM picks GROUP BY tier, method"""),

    // AGR flagship projection: per-(flags, methods) counts, recomputed
    // independently by the oracle (M5 resolve -> S9 upsert -> A8 guard)
    Q("q_agr_counts", (s, dir) =>
      agrResult(s, dir).agrOrthologs
        .groupBy(col("isBestScore"), col("isBestRevScore"), col("methodsMatched"))
        .agg(count(lit(1)).as("n")),
      s"""WITH $agrUpsertCtes
         SELECT isBestScore, isBestRevScore, methodsMatched,
                count(*) AS n
         FROM up, guard
         WHERE guard.do_delete = 0 OR up.fresh = 1
         GROUP BY isBestScore, isBestRevScore, methodsMatched"""),

    // --agrOrthologs flow end-to-end as a registered (rows-only) query:
    // M5 curie cascade (symbol + special-id branches) -> S9 upsert ->
    // A8 guard -> M6 curie QC
    Q("q_agr_e2e", (s, dir) =>
      agrResult(s, dir).agrOrthologs
        .select(col("geneRgdId1"), col("geneRgdId2"),
          col("isBestScore"), col("isBestRevScore"), col("methodsMatched")),
      // the full post-guard AGR state, hash-gated column by column
      s"""WITH $agrUpsertCtes
         SELECT CAST(g1 AS INT) AS geneRgdId1,
                CAST(g2 AS INT) AS geneRgdId2,
                isBestScore, isBestRevScore, methodsMatched
         FROM up, guard
         WHERE guard.do_delete = 0 OR up.fresh = 1""")
  )
}
