package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (building a session per suite
  * dominates test wall-clock). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Spark jobs launched by `body` (driver-thread actions inherit the
    * job group; a marker job in a second group flushes the FIFO
    * listener bus so the count is exact, not racy). */
  def countJobs(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val g = "jobcount-" + java.util.UUID.randomUUID.toString
    val m = g + "-marker"
    val inG = new java.util.concurrent.atomic.AtomicInteger
    @volatile var sawMarker = false
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        Option(js.properties.getProperty("spark.jobGroup.id")) match {
          case Some(`g`) => inG.incrementAndGet(); ()
          case Some(`m`) => sawMarker = true
          case _ => ()
        }
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      spark.sparkContext.setJobGroup(g, "measured")
      try body finally spark.sparkContext.clearJobGroup()
      spark.sparkContext.setJobGroup(m, "marker")
      try spark.range(1).count() finally spark.sparkContext.clearJobGroup()
      val t0 = System.currentTimeMillis()
      while (!sawMarker && System.currentTimeMillis() - t0 < 30000)
        Thread.sleep(20)
      assert(sawMarker, "listener bus never delivered the marker job")
      inG.get
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
