package graft.registry

import org.apache.spark.sql.functions._
import graft.llm.Ann
import graft.registry.Shared._
import graft.sources.Readers

/** Vector queries: projections, brute-force / LSH / IVF / PQ
  * retrieval, k-means steps, semantic dedup and contamination. DuckDB
  * recomputes each search from the same seeded query, plane and
  * centroid vectors, embedded in the oracle SQL as literals. */
object AnnQueries {

  private def annQuery: Seq[Double] = Ann.hyperplanes(annDim, 1, seed = 7L).head
  private def cosSql(v: Seq[Double]): String =
    s"list_cosine_similarity(CAST(embedding AS DOUBLE[]), ${sqlVec(v)})"
  private def bucketSql(planes: Seq[Seq[Double]]): String =
    planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN ${dotSql(p)} > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")

  /** Shared DuckDB recomputation of the nprobe=2 IVF-PQ ADC top-10 -
    * the oracle for BOTH q_ann_ivfpq (plan-time-literal index) and
    * q_ann_ivfpq_artifact (the identical index through the persisted
    * AnnArtifact round trip). */
  private lazy val ivfPqOracleSql: String = {
    val centroids = Ann.hyperplanes(annDim, 8, seed = 11L)
    val codebooks = pqCodebooks
    val subDim = codebooks.head.head.size
    val query = annQuery
    val qnorm = math.sqrt(query.map(x => x * x).sum)
    val tT = codebooks.zipWithIndex.map { case (cb, j) =>
      cb.map(c => c.zipWithIndex.map { case (x, i) =>
        x * query(j * subDim + i) }.sum)
    }
    val nT = codebooks.map(_.map(c => c.map(x => x * x).sum))
    val probes = Ann.probeCells(query, centroids, 2).mkString(", ")
    val dotSum = codebooks.indices
      .map(j => s"(${sqlVec(tT(j))})[pq_code_$j + 1]").mkString(" + ")
    val nSum = codebooks.indices
      .map(j => s"(${sqlVec(nT(j))})[pq_code_$j + 1]").mkString(" + ")
    s"""SELECT vec_id, ($dotSum) / ($qnorm * sqrt($nSum)) AS adc_cosine
        FROM ${pqCodesSql(codebooks)} pq
        WHERE vec_id IN (SELECT vec_id FROM ${ivfCellFromSql(centroids)}
                         WHERE ivf_cell IN ($probes))
        ORDER BY adc_cosine DESC NULLS LAST, vec_id ASC
        LIMIT 10"""
  }

  /** SELECT computing per-row PQ codes (first-max tie-break) for the
    * given codebooks - the PQ analogue of [[ivfCellFromSql]]. */
  private def pqCodesSql(codebooks: Seq[Seq[Seq[Double]]]): String = {
    val subDim = codebooks.head.head.size
    val scoreCols = codebooks.zipWithIndex.flatMap { case (cb, j) =>
      val sub = s"(CAST(embedding AS DOUBLE[]))[${j * subDim + 1}:${(j + 1) * subDim}]"
      cb.zipWithIndex.map { case (c, i) =>
        val half = c.map(x => x * x).sum / 2.0
        s"(list_dot_product($sub, ${sqlVec(c)}) - $half) AS s${j}_$i"
      }
    }.mkString(", ")
    val maxCols = codebooks.indices.map { j =>
      codebooks(j).indices.map(i => s"s${j}_$i")
        .mkString("greatest(", ", ", s") AS m$j")
    }.mkString(", ")
    val codeCols = codebooks.indices.map { j =>
      val cases = codebooks(j).indices
        .map(i => s"WHEN s${j}_$i = m$j THEN $i").mkString(" ")
      s"CAST(CASE $cases END AS INT) AS pq_code_$j"
    }.mkString(", ")
    s"""(SELECT vec_id, $codeCols FROM
          (SELECT *, $maxCols FROM
            (SELECT vec_id, $scoreCols FROM embeddings)))"""
  }

  val all: Seq[Q] = Seq(
    // random-projection reduction + scalar quantization, flattened to
    // (vec_id, dim_idx, grid cell) rows; DuckDB recomputes from the
    // same literal planes
    Q("q_emb_project", (s, dir) => {
      val planes = Ann.hyperplanes(64, 8, seed = 19L)
      Ann.randomProject(Readers.table(s, dir, "embeddings"), planes)
        .select(col("vec_id"),
          posexplode(Ann.quantize(col("projected"), 1000.0)))
        .withColumnRenamed("pos", "dim_idx").withColumnRenamed("col", "q")
    },
      {
        val planes = Ann.hyperplanes(64, 8, seed = 19L)
        planes.zipWithIndex.map { case (p, i) =>
          s"""SELECT vec_id, $i AS dim_idx,
               CAST(floor(${dotSql(p)} * 1000) AS BIGINT) AS q
            FROM embeddings"""
        }.mkString(" UNION ALL ")
      }),

    Q("q_ann_bruteforce", (s, dir) => {
      val dim = 64
      val query = Ann.hyperplanes(dim, 1, seed = 7L).head
      Ann.cosineTopK(Readers.table(s, dir, "embeddings"), query, 10)
        .select(col("vec_id"))
    },
      s"""SELECT vec_id FROM embeddings
          ORDER BY ${cosSql(annQuery)} DESC NULLS LAST, vec_id ASC
          LIMIT 10"""),

    Q("q_ann_lsh", (s, dir) => {
      val dim = 64
      val query = Ann.hyperplanes(dim, 1, seed = 7L).head
      Ann.annTopK(Readers.table(s, dir, "embeddings"), query, 10, dim, bits = 6)
        .select(col("vec_id"))
    },
      {
        val planes = Ann.hyperplanes(annDim, 6, seed = 42L)
        val qb = Ann.queryBucket(annQuery, planes)
        val probes = (qb +: (0 until 6).map(b => qb ^ (1L << b))).mkString(", ")
        s"""SELECT vec_id FROM (
            SELECT vec_id, embedding, ${bucketSql(planes)} AS bucket
            FROM embeddings)
          WHERE bucket IN ($probes)
          ORDER BY ${cosSql(annQuery)} DESC NULLS LAST, vec_id ASC
          LIMIT 10"""
      }),

    Q("q_ann_ivf_topk", (s, dir) => {
      val dim = 64
      val query = Ann.hyperplanes(dim, 1, seed = 7L).head
      val centroids = Ann.hyperplanes(dim, 8, seed = 11L)
      Ann.ivfTopK(Readers.table(s, dir, "embeddings"), query, 10, centroids, nprobe = 2)
        .select(col("vec_id"))
    },
      {
        val centroids = Ann.hyperplanes(annDim, 8, seed = 11L)
        val probes = Ann.probeCells(annQuery, centroids, 2).mkString(", ")
        s"""SELECT vec_id FROM ${ivfCellFromSql(centroids)}
          WHERE ivf_cell IN ($probes)
          ORDER BY ${cosSql(annQuery)} DESC NULLS LAST, vec_id ASC
          LIMIT 10"""
      }),

    // batch KNN join: top-5 corpus neighbors for each of the first 5
    // vectors, IVF-celled with per-row probe selection, self excluded
    Q("q_ann_knn_join", (s, dir) => {
      val centroids = Ann.hyperplanes(64, 8, seed = 11L)
      val emb = Readers.table(s, dir, "embeddings")
      Ann.knnJoin(
        emb.filter(col("vec_id") < 5).withColumnRenamed("vec_id", "q_id"),
        emb, k = 5, centroids, nprobe = 2, excludeSelf = true)
    },
      // per-query probe cells via (sim desc, cell asc) rank; same unit
      // centroids + list_dot_product as the Spark side
      knnJoinOracleSql),

    Q("q_ann_neardup", (s, dir) =>
      Ann.cosineNearDupPairs(Readers.table(s, dir, "embeddings"), dim = 64,
        threshold = 0.4, bits = 4)
        .select(col("id_a"), col("id_b")),
      {
        val planes = Ann.hyperplanes(annDim, 4, seed = 42L)
        s"""WITH b AS (SELECT vec_id, embedding, ${bucketSql(planes)} AS bucket
                     FROM embeddings)
          SELECT a.vec_id AS id_a, c.vec_id AS id_b
          FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
          WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                  CAST(c.embedding AS DOUBLE[])) >= 0.4"""
      }),

    // ANN self-evaluation: per-query recall@5 of the nprobe=2 IVF probe
    // search against brute-force exact top-5 (queries broadcast, self
    // excluded) - the acceptance metric that sizes nprobe/centroids
    Q("q_ann_recall", (s, dir) => {
      val centroids = Ann.hyperplanes(64, 8, seed = 11L)
      val emb = Readers.table(s, dir, "embeddings")
      Ann.recallAtK(
        emb.filter(col("vec_id") < 5).withColumnRenamed("vec_id", "q_id"),
        emb, k = 5, centroids, nprobe = 2, excludeSelf = true)
    },
      // recall@5 recomputed: the q_ann_knn_join probe/candidate/rank CTEs
      // for the approximate side, a brute-force window rank for the exact
      // side, hits counted by left join on (q_id, neighbor_id)
      {
        val centroids = Ann.hyperplanes(annDim, 8, seed = 11L)
        val sims = Ann.unitCentroids(centroids).map(dotSql)
        val legs = sims.zipWithIndex.map { case (s, i) =>
          s"SELECT vec_id AS q_id, embedding, $s AS s, $i AS cell FROM embeddings WHERE vec_id < 5"
        }.mkString("\n           UNION ALL ")
        s"""WITH probe AS (
           SELECT q_id, embedding AS qv, cell FROM (
             SELECT q_id, embedding, cell,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY s DESC, cell ASC) AS rn
             FROM ($legs))
           WHERE rn <= 2),
         approx AS (
           SELECT q_id, neighbor_id FROM (
             SELECT p.q_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY p.q_id
                 ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                   CAST(p.qv AS DOUBLE[])) DESC NULLS LAST,
                 c.vec_id ASC) AS rank
             FROM probe p JOIN ${ivfCellFromSql(centroids)} c
               ON c.ivf_cell = p.cell
             WHERE c.vec_id <> p.q_id)
           WHERE rank <= 5),
         exact AS (
           SELECT q_id, neighbor_id FROM (
             SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                   CAST(q.embedding AS DOUBLE[])) DESC NULLS LAST,
                 c.vec_id ASC) AS rank
             FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5) q
             JOIN embeddings c ON c.vec_id <> q.vec_id)
           WHERE rank <= 5)
         SELECT e.q_id, CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
                CAST(count(a.neighbor_id) AS DOUBLE) / 5 AS recall
         FROM exact e LEFT JOIN approx a
           ON a.q_id = e.q_id AND a.neighbor_id = e.neighbor_id
         GROUP BY e.q_id"""
      }),

    // IVF coarse quantization (rows-only): cell histogram under
    // deterministic centroids
    Q("q_ann_ivf", (s, dir) => {
      val centroids = Ann.hyperplanes(64, 8, seed = 11L)
      Ann.ivfAssign(Readers.table(s, dir, "embeddings"), centroids)
        .groupBy(col("ivf_cell")).agg(count(lit(1)).as("n"))
    },
      {
        val centroids = Ann.hyperplanes(annDim, 8, seed = 11L)
        s"""SELECT ivf_cell, count(*) AS n
          FROM ${ivfCellFromSql(centroids)}
          GROUP BY ivf_cell"""
      }),

    // one Lloyd k-means update step (assignment + per-cell/dim means on
    // a quantized grid - the engine-stable surface of kmeansCentroids)
    Q("q_ann_kmeans_step", (s, dir) => {
      val centroids = Ann.hyperplanes(64, 8, seed = 11L)
      Ann.kmeansStep(Readers.table(s, dir, "embeddings"), centroids)
    },
      // Lloyd step: same cell assignment, then exact integer sums of the
      // 1000-quantized coordinates per (cell, dim) and one int/int
      // division - order-independent, so it hash-matches across engines
      {
        val centroids = Ann.hyperplanes(annDim, 8, seed = 11L)
        s"""WITH a AS (SELECT ivf_cell,
                CAST(embedding AS DOUBLE[]) AS emb
              FROM ${ivfCellFromSql(centroids)}
              WHERE embedding IS NOT NULL),
          s AS (SELECT ivf_cell, CAST(j AS INT) AS pos,
                count(*) AS n,
                CAST(sum(CAST(floor(emb[CAST(j AS INT) + 1] * 1000.0)
                  AS BIGINT)) AS BIGINT) AS qsum
              FROM a CROSS JOIN range(0, $annDim) r(j)
              GROUP BY ivf_cell, CAST(j AS INT))
          SELECT ivf_cell, pos, n, qsum,
                 CAST(qsum AS DOUBLE) / n AS mean_q
          FROM s"""
      }),

    // product-quantization code assignment (the IVF-PQ compression step)
    Q("q_ann_pq_assign", (s, dir) =>
      Ann.pqAssign(Readers.table(s, dir, "embeddings"), pqCodebooks)
        .select(col("vec_id") +:
          pqCodebooks.indices.map(j => col(s"pq_code_$j")): _*),
      // PQ codes: same argmax-over-dot-products surface as the IVF cell
      // oracle (|s|^2 is constant per subvector, so nearest-codeword =
      // max of s.c - |c|^2/2); margins of the fixed data dwarf the ~ulp
      // summation differences, as documented for the ANN oracles
      s"SELECT * FROM ${pqCodesSql(pqCodebooks)}"),

    // full IVF-PQ ADC search: coarse probe + codes-only scoring via
    // driver-side lookup tables - the query never touches corpus floats
    Q("q_ann_ivfpq", (s, dir) => {
      val centroids = Ann.hyperplanes(annDim, 8, seed = 11L)
      Ann.ivfPqTopK(Readers.table(s, dir, "embeddings"), annQuery, 10, centroids,
        pqCodebooks)
    },
      // IVF-PQ ADC: same probe cells and PQ codes as their own oracles,
      // then the score is literal-table lookups summed in fixed order -
      // the SAME driver-computed doubles are embedded as literals in both
      // engines, so the sums are bit-identical (no float-scan margins)
      ivfPqOracleSql),

    // the SAME IVF-PQ search through a PERSISTED index artifact: save
    // centroids + codebooks to parquet, load them back, search under
    // the LOADED model - the ship-and-serve path (an index trained
    // once, served by later sessions). Doubles round-trip bit-exact,
    // so the oracle is q_ann_ivfpq's, shared verbatim: any loss or
    // reorder in the artifact round trip re-buckets the probe or
    // shifts an ADC table and fails the hash compare.
    Q("q_ann_ivfpq_artifact", (s, dir) => {
      val centroids = annServedCentroids(s)
      val codebooks = graft.llm.AnnArtifact.loadCodebooks(s, annArtifactDir(s))
      Ann.ivfPqTopK(Readers.table(s, dir, "embeddings"), annQuery, 10, centroids,
        codebooks)
    },
      // the artifact round trip is bit-exact, so the loaded-model search
      // must reproduce the plan-time-literal search identically
      ivfPqOracleSql),

    // prototypicality pruning: drop the floor(n*0.25) most-central rows
    // of each IVF cell under the (cosine-to-centroid desc, id asc) order
    Q("q_ann_prune", (s, dir) =>
      Ann.prototypicalityPrune(Readers.table(s, dir, "embeddings"),
        Ann.hyperplanes(64, 8, seed = 11L), fraction = 0.25),
      // prototypicality pruning recomputed: cosine to the own-cell
      // centroid is m (the winning unit-centroid dot) over the row norm;
      // rank under the identical (sim desc, id asc) total order, drop
      // floor(n * 0.25) per cell
      {
        val centroids = Ann.hyperplanes(annDim, 8, seed = 11L)
        s"""WITH c AS (SELECT vec_id, ivf_cell,
                CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]),
                       CAST(embedding AS DOUBLE[])) = 0 THEN 0.0
                     ELSE m / sqrt(list_dot_product(
                       CAST(embedding AS DOUBLE[]),
                       CAST(embedding AS DOUBLE[]))) END AS sim
              FROM ${ivfCellFromSql(centroids)}),
          r AS (SELECT vec_id, ivf_cell,
                row_number() OVER (PARTITION BY ivf_cell
                  ORDER BY sim DESC, vec_id ASC) AS rn,
                count(*) OVER (PARTITION BY ivf_cell) AS n
              FROM c)
          SELECT vec_id, ivf_cell,
                 CAST(rn > floor(n * 0.25) AS INT) AS kept
          FROM r"""
      }),

    // semantic contamination screen: corpus rows (vec_id % 20 != 7)
    // flagged when any benchmark row (vec_id % 20 == 7) in their 2
    // probed IVF cells is cosine-similar >= 0.35
    Q("q_contam_semantic", (s, dir) => {
      val emb = Readers.table(s, dir, "embeddings")
      graft.llm.Contamination.semanticScreen(
        emb.filter(pmod(col("vec_id"), lit(20)) =!= 7),
        emb.filter(pmod(col("vec_id"), lit(20)) === 7),
        Ann.hyperplanes(64, 8, seed = 11L), threshold = 0.35)
    },
      // semantic contamination screen recomputed: per-corpus-row probe
      // cells via the knn_join (sim desc, cell asc) rank pattern, bench
      // cells via the first-max CASE, flag on any in-cell cosine >= 0.35
      {
        val centroids = Ann.hyperplanes(annDim, 8, seed = 11L)
        val sims = Ann.unitCentroids(centroids).map(dotSql)
        val legs = sims.zipWithIndex.map { case (s, i) =>
          s"SELECT vec_id, embedding, $s AS s, $i AS cell FROM embeddings WHERE vec_id % 20 <> 7"
        }.mkString("\n           UNION ALL ")
        s"""WITH probe AS (
           SELECT vec_id AS id, embedding AS qv, cell FROM (
             SELECT vec_id, embedding, cell,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY s DESC, cell ASC) AS rn
             FROM ($legs))
           WHERE rn <= 2),
         bench AS (
           SELECT embedding AS bv, ivf_cell AS cell
           FROM ${ivfCellFromSql(centroids)} WHERE vec_id % 20 = 7),
         hits AS (
           SELECT DISTINCT p.id FROM probe p JOIN bench b
             ON b.cell = p.cell
           WHERE CASE WHEN list_dot_product(CAST(p.qv AS DOUBLE[]),
                         CAST(p.qv AS DOUBLE[])) = 0
                    OR list_dot_product(CAST(b.bv AS DOUBLE[]),
                         CAST(b.bv AS DOUBLE[])) = 0
                 THEN 0.0
                 ELSE list_cosine_similarity(CAST(p.qv AS DOUBLE[]),
                        CAST(b.bv AS DOUBLE[])) END >= 0.35)
         SELECT c.vec_id, CAST(h.id IS NOT NULL AS INT) AS contaminated
         FROM (SELECT vec_id FROM embeddings WHERE vec_id % 20 <> 7) c
         LEFT JOIN hits h ON h.id = c.vec_id"""
      })
  )
}
