package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A1/A2/A3/O4/U2: ortholog-group construction.
  *
  * The reference builds a HashMap of OrthologGroup keyed by human rgd id
  * and merges duplicate relations row-at-a-time
  * (OrthologRelationLoader.java:375-398, OrthologGroup.java:20-60).
  * Set-wise this is a single aggregation keyed by the relation pair - the
  * group itself never needs materializing; `groupId` rides along as a
  * column so downstream cascade/window steps can partition on it.
  */
object Grouping {

  /** A1 + A3: merge duplicate relations per (srcRgdId, destRgdId).
    *
    * Merge semantics (OrthologGroup.java:26-60):
    *  - same dataSource: union of evidence tokens, deduped + sorted
    *    (TreeSet), ", "-joined
    *  - HGNC + NCBI for the same pair: the pair stays HGNC and the literal
    *    token "NCBI" (the *source name*, not NCBI's dataSetName) is merged
    *    into the evidence list (OrthologGroup.java:39-46)
    *  - any other cross-source combination throws in the reference; here
    *    only HGNC/NCBI ever reach this operator by construction
    *
    * One shuffle: explode tokens -> hash-aggregate with map-side partial
    * aggregation. Input must be resolved relations (srcRgdId = human gene
    * = group id; asserted by the reference at
    * OrthologRelationLoader.java:383-384).
    */
  def mergeRelations(relations: DataFrame): DataFrame = {
    val toks = relations.select(
      col("srcRgdId"), col("destRgdId"),
      col("srcSpeciesTypeKey"), col("destSpeciesTypeKey"),
      col("dataSource"),
      // mergeDataSetNames splits on comma + exactly ONE whitespace
      // (regex \,\s, OrthologGroup.java:55-58): "A,B" with no space is
      // a single token there, so \,\s* here would over-split it. Limit
      // 0 = Java's default split: trailing empty tokens drop, so a
      // stray trailing ", " cannot inject an empty evidence token
      explode(split(col("dataSetName"), ",\\s", 0)).as("token"))

    toks
      .groupBy(col("srcRgdId"), col("destRgdId"),
        col("srcSpeciesTypeKey"), col("destSpeciesTypeKey"))
      .agg(
        max(when(col("dataSource") === "HGNC", 1).otherwise(0)).as("hasHgnc"),
        max(when(col("dataSource") === "NCBI", 1).otherwise(0)).as("hasNcbi"),
        collect_set(struct(col("dataSource").as("ds"), col("token").as("t")))
          .as("toks"))
      .select(
        col("srcRgdId"), col("destRgdId"),
        col("srcSpeciesTypeKey"), col("destSpeciesTypeKey"),
        when(col("hasHgnc") === 1, "HGNC").otherwise("NCBI").as("dataSource"),
        // TreeSet + Utils.concatenate(", ") parity: the set's single ""
        // element (an interior ",\s,\s" run in the source list) sorts
        // first and Utils.concatenate skips both it AND its separator,
        // so it contributes nothing - array_remove("") is exact
        // (XrefCanonPropertySpec rationale; GroupingPropertySpec pin)
        concat_ws(", ", array_remove(array_sort(array_distinct(
          when(col("hasHgnc") === 1,
            // HGNC tokens + the literal "NCBI" marker when both sources saw the pair
            concat(
              transform(filter(col("toks"), t => t("ds") === "HGNC"), t => t("t")),
              when(col("hasNcbi") === 1, array(lit("NCBI")))
                .otherwise(array().cast("array<string>"))))
            .otherwise(transform(col("toks"), t => t("t")))
        )), "")).as("dataSetName"))
  }

  /** U2: complement each human->species relation with its species->human
    * mirror. Post-merge each (src,dest) pair is unique, so the reference's
    * set-dedupe is a no-op here; groupId (the human gene) is tagged on
    * both directions so the cascade can partition by group.
    * Ref: OrthologGroup.java:66-91. */
  def withComplementaryRelations(merged0: DataFrame): DataFrame = {
    // both union legs read the (aggregated) input; persist so the merge
    // aggregation runs once per materialization (lazy until consumed).
    // Not released by the run on purpose: a later run over the same
    // relations and dimension tables (the `--species` reload) plans the
    // same frame and reads this entry - releasing it before the reload
    // took that run's relations phase from 0.36 s to 4.6 s (sf0.1
    // ortholog flow on a 4-core VM, Resolve's id map released too). It
    // lives until session stop, and so do the broadcasts its plan holds:
    // after the sf0.1 ortholog flow it stores 26 KB of rows but pins
    // 64 MB, the two id-map probe tables of Resolve.resolveRelations
    // (194 rows, one 32 MB Tungsten page each). Before those probes were
    // hinted to build on the map it pinned 144 MB, the 600k relations
    // taking 112 MB of it.
    val merged = merged0.persist()
    val fwd = merged.withColumn("groupId", col("srcRgdId"))
    val rev = merged.select(
      col("destRgdId").as("srcRgdId"),
      col("srcRgdId").as("destRgdId"),
      col("destSpeciesTypeKey").as("srcSpeciesTypeKey"),
      col("srcSpeciesTypeKey").as("destSpeciesTypeKey"),
      col("dataSource"), col("dataSetName"),
      col("srcRgdId").as("groupId"))
    fwd.unionByName(rev)
  }
}
