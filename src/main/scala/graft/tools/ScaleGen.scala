package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.Readers

/** Scaling-evidence data generator: expands an sf directory by an
  * integer factor, preserving the schema, referential integrity, and
  * value distributions of the driver-generated tables so time-vs-sf
  * slopes can be measured past sf0.1 without touching the read-only
  * test data (TESTDATA.md forbids regenerating it, and the driver ships
  * no sf0.3+).
  *
  * Construction: each copy c offsets every join-key column by
  * c * 20,000,000 (one stride for a key and all its foreign
  * references, so joins land exactly as in the base data). The stride
  * dwarfs every base key (max 149,999 at sf0.1) and keeps every
  * derived `cast(key + k AS INT)` in the fixture mappings inside Int
  * range up to 100 copies: 99 * 2e7 + 150k + fixture offsets < 2^31.
  * (The round-15 ceiling was 40 copies at a 5e7 stride; shrinking the
  * stride, not widening the fixture ids, lifts it - the fixture/oracle
  * schemas keep their Int gene ids.) Dimension tables (region, nation)
  * keep one copy - at scale, dimensions grow sublinearly.
  *
  * Near-dup realism: blind text copies would make every cross-copy trio
  * an exact duplicate cluster - the dedup/LSH queries' outputs (and so
  * their cost) would grow superlinearly BY CONSTRUCTION and poison the
  * slope measurement. Instead each copy suffixes every 5th word (a
  * different phase per copy), which drops cross-copy shingle Jaccard
  * below the pair thresholds and flips enough SimHash token bits to
  * clear the Hamming radius, while keeping length/vocabulary shape.
  * Embeddings get a deterministic per-copy, per-dimension offset for
  * the same reason.
  *
  * Output layout matches /root/testdata: ONE file per table named
  * `<table>.parquet` (q_stream_sessions globs that exact file name).
  *
  * Usage: runMain graft.tools.ScaleGen <srcSfDir> <outDir> <copies>
  */
object ScaleGen {

  private val Stride = 20000000L

  def main(args: Array[String]): Unit = {
    val Array(src, out, copiesS) = args.take(3)
    val copies = copiesS.toInt
    // 100 * Stride = 2.0e9 is the Int-range ceiling for the offset keys.
    require(copies >= 1 && copies <= 100, s"copies $copies outside [1,100]")
    val spark = graft.LocalSession("graft-scalegen")
    new java.io.File(out).mkdirs()

    /** write as a single `<out>/<name>.parquet` FILE (testdata layout) */
    def writeOne(df: DataFrame, name: String): Unit = {
      val tmp = s"$out/_tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file for $name"))
      val dest = new java.io.File(s"$out/$name.parquet")
      if (dest.exists()) dest.delete()
      java.nio.file.Files.move(part.toPath, dest.toPath)
      scala.reflect.io.Path(tmp).deleteRecursively()
      println(s"SCALEGEN $name rows=${Readers.table(spark, out, name).count()}")
    }

    /** union `copies` copies, offsetting each long key column */
    def scaled(name: String, keyCols: Seq[String])
              (xform: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until copies).map { c =>
        val off = keyCols.foldLeft(Readers.table(spark, src, name)) { (d, k) =>
          d.withColumn(k, col(k) + lit(Stride * c)) }
        xform(off, c)
      }.reduce(_ unionByName _)

    // dimensions: one copy
    writeOne(Readers.table(spark, src, "region"), "region")
    writeOne(Readers.table(spark, src, "nation"), "nation")
    writeOne(scaled("customer", Seq("c_custkey"))(), "customer")
    writeOne(scaled("supplier", Seq("s_suppkey"))(), "supplier")
    writeOne(scaled("part", Seq("p_partkey"))(), "part")
    writeOne(scaled("orders", Seq("o_orderkey", "o_custkey"))(), "orders")
    writeOne(scaled("lineitem",
      Seq("l_orderkey", "l_partkey", "l_suppkey"))(), "lineitem")
    writeOne(scaled("events", Seq("event_id", "user_id"))(), "events")

    writeOne(scaled("documents", Seq("doc_id")) { (d, c) =>
      if (c == 0) d
      else d
        .withColumn("text", array_join(
          transform(split(col("text"), "\\s+"),
            (w, i) => when(pmod(i, lit(5)) === lit(c % 5), concat(w, lit(s"zq$c")))
              .otherwise(w)), " "))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }, "documents")

    writeOne(scaled("embeddings", Seq("vec_id")) { (d, c) =>
      if (c == 0) d
      else d.withColumn("embedding",
        transform(col("embedding"), (x, i) =>
          x + lit(0.05 * c) * cos(col("vec_id") * 31 + i))
          .cast("array<float>"))
    }, "embeddings")

    spark.stop()
  }
}
