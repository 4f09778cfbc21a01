package graft

import java.io.File
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.StructType
import graft.model.Schemas
import graft.pipeline.Fixtures

/** The declared sfDir schemas (`Schemas.sfTables`) match the tables
  * they read, and a fixture build through `Readers.table` plans without
  * submitting a Spark job. */
class TableSchemaSpec extends SparkSpec {

  private val sfs = Seq("sf0.001", "sf0.01", "sf0.1").map(sf => s"/root/testdata/$sf")

  /** The schema Spark infers for a parquet file. `events.ts` is
    * TIMESTAMP(NANOS), which inference rejects; read as a long it is
    * dropped, since the declared `events` schema leaves it out. */
  private def inferred(path: String): StructType =
    if (path.endsWith("/events.parquet")) {
      val key = "spark.sql.legacy.parquet.nanosAsLong"
      spark.conf.set(key, "true")
      try {
        val full = spark.read.parquet(path).schema
        assert(full.fieldNames.contains("ts"), s"$path has no ts column")
        StructType(full.filterNot(_.name == "ts"))
      } finally spark.conf.unset(key)
    } else spark.read.parquet(path).schema

  test("every declared schema equals the inferred one at sf0.001, sf0.01 and sf0.1") {
    for (dir <- sfs) {
      val tables = new File(dir).list().filter(_.endsWith(".parquet"))
        .map(_.stripSuffix(".parquet")).toSet
      assert(tables == Schemas.sfTables.keySet, dir)
      for (name <- tables.toSeq.sorted)
        assert(Schemas.sfTable(name) == inferred(s"$dir/$name.parquet"), s"$dir/$name")
    }
  }

  test("the flow-bench data columns are declared, with the declared types") {
    val files = new File("flowbench/data").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    for (f <- files) {
      val declared = Schemas.sfTable(f.getName.stripSuffix(".parquet"))
      for (field <- inferred(f.getPath))
        assert(declared.find(_.name == field.name).map(_.dataType)
          .contains(field.dataType), s"${f.getName}.${field.name}")
    }
  }

  test("an unknown sfDir table name is refused") {
    intercept[IllegalArgumentException](Schemas.sfTable("parts"))
  }

  test("building the ortholog fixture frames submits no Spark job") {
    val group = "table-schema-spec"
    val marker = "table-schema-spec-end"
    val descriptions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          descriptions.add(String.valueOf(
            e.properties.getProperty("spark.job.description")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "fixture build")
      val dir = "/root/testdata/sf0.001"
      Fixtures.state(spark, dir)
      Fixtures.relations(spark, dir)
      Fixtures.allianceLines(spark, dir)
      // a job of our own, posted after any the build submitted: once the
      // listener has seen it, it has seen every earlier job start too
      sc.setJobDescription(marker)
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!descriptions.contains(marker) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(descriptions.contains(marker), "listener never saw the marker job")
      val buildJobs = descriptions.toArray.count(_ != marker)
      assert(buildJobs == 0, s"the fixture build submitted $buildJobs jobs")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
