package graft.ingest

import graft.{SparkEntry, SparkSpec}

/** The per-session schema catalog behind `SparkEntry.tbl`: a table is
  * inferred once per session per file listing, and every later `tbl`
  * reads with the cached schema, so it launches no Spark job. Runs on the
  * byte copy of the gate's sf0.01 tables kept in `perfbench/gate_sf0.01`. */
class SchemaCatalogSpec extends SparkSpec {

  private val gateDir = "perfbench/gate_sf0.01"
  private val tables = Seq("customer", "documents", "embeddings", "events",
    "lineitem", "nation", "orders", "part", "region", "supplier")

  test("a second tbl() on unchanged gate files launches 0 jobs; schema and rows match a fresh read") {
    assert(new java.io.File(s"$gateDir/events.parquet").exists(), s"missing $gateDir")
    for (t <- tables) {
      val first = SparkEntry.tbl(spark, gateDir, t)
      val (second, jobs) = jobsLaunchedBy(SparkEntry.tbl(spark, gateDir, t))
      assert(jobs == 0, s"$t: second tbl() launched $jobs job(s)")
      val fresh = spark.read.parquet(s"$gateDir/$t.parquet")
      // nullability included: StructField equality compares it
      assert(SparkEntry.tableSchema(spark, s"$gateDir/$t.parquet") == fresh.schema, t)
      assert(second.schema == first.schema, t)
      assert(second.schema == fresh.schema, t)
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
      assert(rows(second) == rows(fresh), s"$t: rows differ")
    }
  }
}
