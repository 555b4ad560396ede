package graft.ingest

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The per-session schema catalog behind `SparkEntry.tbl`: a table is
  * inferred once per session per file listing, and every later `tbl`
  * reads with the cached schema, so it launches no Spark job. Runs on the
  * byte copy of the gate's sf0.01 tables kept in `perfbench/gate_sf0.01`. */
class SchemaCatalogSpec extends SparkSpec {

  private val gateDir = "perfbench/gate_sf0.01"
  private val tables = Seq("customer", "documents", "embeddings", "events",
    "lineitem", "nation", "orders", "part", "region", "supplier")

  /** Jobs `body` launches on this thread, counted by a listener. A
    * sentinel job run afterwards is awaited, so every earlier job start
    * has reached the listener by then. */
  private def jobsLaunchedBy[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"schema-catalog-${System.nanoTime}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
          .filter(_ != null).foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      val out = body
      sc.setJobGroup(s"$group-sentinel", "sentinel")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime + 30L * 1000000000L
      while (!seen.contains(s"$group-sentinel") && System.nanoTime < deadline)
        Thread.sleep(10)
      assert(seen.contains(s"$group-sentinel"), "sentinel job never reached the listener")
      (out, seen.toArray.count(_ == group))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

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
