package graft

import graft.tools.Cli

/** CLI dispatch (mirrors OrthologRelationLoadingManager.main): usage
  * errors (F12 guard), flow outputs on disk, and exit codes. Cli.run
  * takes the shared test session and never exits/stops it. */
class CliSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("cli_out").toString

  test("F12: missing, unknown, or human --species is a usage error") {
    assert(Cli.run(Array("--sfDir", sf), spark) == -1)
    assert(Cli.run(Array("--species", "ratt", "--sfDir", sf), spark) == -1)
    assert(Cli.run(Array("--species", "human", "--sfDir", sf), spark) == -1)
    assert(Cli.run(Array("--species"), spark) == -1) // dangling value flag
    assert(Cli.run(Array("--bogus"), spark) == -1)
    // a non-integer value is a usage error, not an exception
    for (flag <- Seq("--maxAgeDays", "--sanityFloor", "--bpeRounds"))
      assert(Cli.run(Array(flag, "x", "--sfDir", sf), spark) == -1, flag)
  }

  test("--species rat writes ortholog + association state parquet") {
    val out = tmp()
    assert(Cli.run(Array("--species", "rat", "--sfDir", sf, "--out", out),
      spark) == 0)
    val orthos = spark.read.parquet(s"$out/rat/orthologs")
    val assocs = spark.read.parquet(s"$out/rat/associations")
    assert(orthos.count() > 0 && assocs.count() > 0)
    assert(orthos.columns.contains("xrefDataSrc"))
  }

  test("--agrOrthologs writes the AGR state") {
    val out = tmp()
    assert(Cli.run(Array("--agrOrthologs", "--sfDir", sf, "--out", out),
      spark) == 0)
    assert(spark.read.parquet(s"$out/agr_orthologs").count() > 0)
  }

  test("--agrOrthologs writes the xref state: every input xref plus one " +
      "AGR_GENE binding per curie resolved outside the map step") {
    import org.apache.spark.sql.functions._
    val out = tmp()
    assert(Cli.run(Array("--agrOrthologs", "--sfDir", sf, "--out", out),
      spark) == 0)
    val st = graft.pipeline.Fixtures.state(spark, sf)
    def keys(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("accXdbKey").collect().map(_.getLong(0)).toSet
    val written = spark.read.parquet(s"$out/xrefs")
    val inKeys = keys(st.xrefs)
    assert(inKeys.subsetOf(keys(written)))
    val added = written.join(st.xrefs.select("accXdbKey"), Seq("accXdbKey"),
      "left_anti")
    // what the run resolves: the lines' curies through the M5 cascade
    val lines = graft.pipeline.Fixtures.allianceLines(spark, sf)
    val curies = Seq("1", "2").map(i => lines.select(col(s"curie$i").as("curie"),
        col(s"geneSymbol$i").as("geneSymbol"),
        col(s"speciesTypeKey$i").as("speciesTypeKey")))
      .reduce(_ unionByName _).distinct()
    val resolved = graft.operators.Agr.resolveCuries(curies, st.xrefs,
      st.genes, st.rgdIds)
    // specialId/symbol bind an existing gene; an insert binds a new one
    // (a fresh rgd id per resolved row, so each is its own pair)
    val bound = resolved.filter(col("how").isin("specialId", "symbol"))
      .select(col("curie"), col("rgdId")).distinct()
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    val inserted = resolved.filter(col("how") === "insert")
      .select("curie").collect().map(_.getString(0)).toSeq
    val addedRows = added.select("accId", "rgdId", "xdbKey", "srcPipeline")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getString(3)))
    assert(addedRows.nonEmpty)
    assert(addedRows.length == bound.size + inserted.length)
    assert(addedRows.forall(r => r._3 == graft.model.XdbKeys.AGR_GENE &&
      r._4 == "AgrOrtholog"))
    assert(addedRows.map(r => (r._1, r._2)).toSet.size == addedRows.length)
    assert(bound.subsetOf(addedRows.map(r => (r._1, r._2)).toSet))
    assert(addedRows.map(_._1).sorted.toSeq ==
      (bound.toSeq.map(_._1) ++ inserted).sorted)
    assert(written.count() == inKeys.size + addedRows.length)
    // the new keys continue above the input's max key
    assert(keys(added).min > inKeys.max)
  }

  test("--fixXRefDataSet rewrites state in place") {
    val out = tmp()
    assert(Cli.run(Array("--species", "rat", "--fixXRefDataSet",
      "--sfDir", sf, "--out", out), spark) == 0)
    assert(spark.read.parquet(s"$out/orthologs").count() > 0)
  }

  test("dispatch table: --agrOrthologs short-circuits a bad --species") {
    // reference ordering (OrthologRelationLoadingManager.java:80-84):
    // the agr flow is checked FIRST, so a nonsense species value never
    // reaches the species guard
    val out = tmp()
    assert(Cli.run(Array("--species", "ratt", "--agrOrthologs",
      "--sfDir", sf, "--out", out), spark) == 0)
    assert(spark.read.parquet(s"$out/agr_orthologs").count() > 0)
  }

  test("dispatch table: --species all runs every searchable non-human " +
      "species in key order and ignores --fixXRefDataSet") {
    // reference: the all-species loop is checked BEFORE fixXrefDataSet
    // (:87-103 vs :105-106), iterating searchable keys minus human
    assert(Cli.searchableNonHuman == Seq(2, 3, 6, 8, 9, 10, 11, 12))
    val out = tmp()
    assert(Cli.run(Array("--species", "all", "--fixXRefDataSet",
      "--sfDir", sf, "--out", out), spark) == 0)
    for (name <- Seq("mouse", "rat", "dog", "zebrafish", "pig",
        "fruitfly", "roundworm", "yeast")) {
      assert(new java.io.File(s"$out/$name/orthologs").isDirectory,
        s"missing per-species output $name")
    }
    // the fix flow did NOT run (its outputs land at the root)
    assert(!new java.io.File(s"$out/orthologs").isDirectory)
  }

  test("--species all feeds the fixture relations to rat only: mouse " +
      "leaves its input state as it was, rat writes what --species rat writes") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    // order-independent content hash: row count + sum of per-row xxhash64
    def hash(df: DataFrame): (Seq[String], Long, BigDecimal) = {
      val cols = df.columns.sorted.toSeq
      val r = df.agg(count(lit(1)),
        sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)"))).head()
      (cols, r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(0))
    }
    def state(dir: String, table: String) = hash(spark.read.parquet(s"$dir/$table"))
    val all = tmp()
    val held0 = Scope.held(spark)
    assert(Cli.run(Array("--species", "all", "--sfDir", sf, "--out", all), spark) == 0)
    // each species run released its phase checkpoints, persists and
    // pins: nothing was added, and no cache entry held before was lost
    // (a persistent RDD held before may have been garbage-collected)
    val held1 = Scope.held(spark)
    assert((held1 -- held0).size == 0, "left by --species all")
    assert((held0 -- held1).entries.isEmpty)
    val rat = tmp()
    assert(Cli.run(Array("--species", "rat", "--sfDir", sf, "--out", rat), spark) == 0)
    // mouse runs first, over the fixture snapshot
    val input = graft.pipeline.Fixtures.state(spark, sf)
    assert(state(s"$all/mouse", "orthologs") == hash(input.orthologs))
    assert(state(s"$all/mouse", "associations") == hash(input.associations))
    for (table <- Seq("orthologs", "associations"))
      assert(state(s"$all/rat", table) == state(s"$rat/rat", table), table)
  }

  test("D5 gate: a tight --maxAgeDays fails the freshness check") {
    // fixture AGR lastUpdateDate is 2026-06-01; 'now' inside the CLI is
    // 2026-08-12 -> 72 days old -> a 10-day gate must throw
    intercept[IllegalArgumentException] {
      Cli.run(Array("--species", "rat", "--sfDir", sf,
        "--out", tmp(), "--maxAgeDays", "10"), spark)
    }
  }
}
