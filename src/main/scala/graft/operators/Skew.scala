package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Salted join for skewed keys.
  *
  * AQE's skew-join handles most hot-key cases at runtime, but ONLY for
  * sort-merge joins whose BOTH children are fresh Sort(ShuffleQueryStage)
  * - when one side arrives co-partitioned (a cached/bucketed aggregation
  * output joined back on its own grouping key, the tf-df family's shape:
  * TextAnalysis.topTermPerDoc, Dedup.withCommonnessScore), there is no
  * shuffle on that side to replicate and OptimizeSkewedJoin cannot
  * match. Salting is the manual fallback for that regime: the big side
  * scatters each hot key across `salts` sub-keys, the dimension side
  * replicates `salts` times, and the join key becomes (key, salt) - one
  * hot key now lands on `salts` reducers.
  *
  * Measured (PLANS.md "skew-join adoption": sf0.1 documents tokens + a
  * planted 65%-hot term, local[32]): co-partitioned dim - AQE leaves the hot
  * reducer at 509k rows while salts=16 bounds it at 94k; exchange-fed
  * dim - AQE's split fires (skew marker in the final adaptive plan)
  * and salting is unnecessary. Salting costs ~1.7x wall when skew is
  * ABSENT (both sides reshuffle on (key, salt), dim x salts rows), so
  * the production posture is: prefer broadcast for bounded dims, let
  * AQE cover exchange-fed joins, and route a diagnosed hot-key
  * co-partitioned join through saltedJoin - not unconditionally.
  *
  * Row->salt assignment uses a seeded uniform draw: correctness never
  * depends on WHICH salt a row gets (the dimension side carries every
  * salt), only on balance.
  */
object Skew {

  def saltedJoin(big: DataFrame, dim: DataFrame, keys: Seq[String],
                 salts: Int = 16, joinType: String = "inner"): DataFrame = {
    require(salts > 0, s"salts must be positive, got $salts")
    val salted = big.withColumn("__salt",
      floor(rand(42) * salts).cast("int"))
    val replicated = dim.withColumn("__salt",
      explode(array((0 until salts).map(lit): _*)))
    salted.join(replicated, keys :+ "__salt", joinType).drop("__salt")
  }
}
