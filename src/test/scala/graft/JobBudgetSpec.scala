package graft

import java.io.File
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Job budgets for the driver-loop oracle queries: the Spark jobs a warm
  * call starts while the query function runs (construction: the eager
  * checkpoints, passes and rounds inside it, before any planning or
  * execution of the returned frame). Read over the sf0.01 tables the
  * benchmark's `ops_iterative` workload uses. */
class JobBudgetSpec extends SparkSpec {

  private val dataDir = new File("perfbench/data").getAbsolutePath
  private val Tag = "graft.jobBudget"

  /** Jobs started by the second (warm) call of `query`'s function. */
  private def warmConstructionJobs(query: String): Int = {
    assert(new File(dataDir, "orders.parquet").exists, s"no tables in $dataDir")
    val fn = SparkEntry.queries(query)
    fn(spark, dataDir).queryExecution.toRdd.count()
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    @volatile var drained = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(Tag)) match {
          case Some("call") => jobs.incrementAndGet()
          case Some("drained") => drained = true
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(Tag, "call")
      fn(spark, dataDir)
      // the bus delivers events in order: once this marker job's start
      // arrives, every job the call started has been counted
      sc.setLocalProperty(Tag, "drained")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!drained && System.nanoTime() < deadline) Thread.sleep(10)
      assert(drained, "listener bus did not deliver the marker job")
      jobs.get
    } finally {
      sc.setLocalProperty(Tag, null)
      sc.removeSparkListener(listener)
    }
  }

  test("q39 dupClusters: a warm construction runs at most 8 jobs") {
    val jobs = warmConstructionJobs("q39_dup_clusters")
    assert(jobs <= 8, s"q39 construction ran $jobs jobs")
  }

  test("q84 pageRank: a warm construction runs at most 16 jobs") {
    val jobs = warmConstructionJobs("q84_pagerank")
    assert(jobs <= 16, s"q84 construction ran $jobs jobs")
  }

  test("q93 k-means cells: a warm construction runs at most 6 jobs") {
    val jobs = warmConstructionJobs("q93_kmeans_cells")
    assert(jobs <= 6, s"q93 construction ran $jobs jobs")
  }

  test("q98 langid: a warm construction runs at most 6 jobs") {
    val jobs = warmConstructionJobs("q98_langid_trained")
    assert(jobs <= 6, s"q98 construction ran $jobs jobs")
  }

  test("q101 retroactive sweep: a warm construction runs at most 26 jobs") {
    val jobs = warmConstructionJobs("q101_retroactive_sweep")
    assert(jobs <= 26, s"q101 construction ran $jobs jobs")
  }
}
