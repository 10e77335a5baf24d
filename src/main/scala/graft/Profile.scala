package graft
import org.apache.spark.scheduler._
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

/** Dev tool: `runMain graft.Profile q_a q_b` runs each named query once
  * untimed at the target SF, prints its formatted physical plan, then
  * times one run ([[Bench.execute]], the bench's whole-plan action) and
  * prints every stage's duration, task count, executor CPU (the sum of
  * its tasks' `executorCpuTime`) and shuffle write bytes, so a slow
  * row's time can be attributed to a plan node and a stage
  * instead of argued about: a stage whose CPU is close to its duration
  * runs on one core, and a wider exchange shows as more bytes. Reads
  * SPARK_GRAFT_SF_DIR and SPARK_GRAFT_CPUS with [[Bench]]'s defaults and
  * builds [[Bench.buildSession]]'s session. Not part of the driver
  * contract. */
object Profile {
  private val marker = "graft.profile.marker"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.buildSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    val sc = spark.sparkContext
    // Listener events arrive asynchronously but in order, so a marker job
    // before and after the timed run fences exactly its stages: the warm
    // pass's stragglers land before the start marker, the timed run's last
    // stage before the end marker. The markers' own stages are skipped.
    @volatile var open = false
    @volatile var closed = new CountDownLatch(1)
    val markerStages = ConcurrentHashMap.newKeySet[Int]()
    val stages = new ConcurrentLinkedQueue[String]()
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(marker))).foreach { tag =>
          e.stageIds.foreach(markerStages.add)
          open = tag == "start"
          if (!open) closed.countDown()
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        if (open && !markerStages.contains(si.stageId)) {
          val ms = (for {s <- si.submissionTime; c <- si.completionTime}
            yield c - s).getOrElse(-1L)
          val cpu = si.taskMetrics.executorCpuTime / 1e9
          val shw = si.taskMetrics.shuffleWriteMetrics.bytesWritten / 1e6
          stages.add(f"stage ${si.stageId}%4d ${ms / 1000.0}%7.2f s  " +
            f"cpu ${cpu}%7.2f s  shw ${shw}%8.2f MB  tasks=${si.numTasks}%4d  " +
            si.name.take(110))
        }
      }
    })
    def fence(tag: String): Unit = {
      sc.setLocalProperty(marker, tag)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(marker, null)
    }
    args.foreach { q =>
      val warm = SparkEntry.queries(q)(spark, sfDir)
      Bench.execute(warm)
      println(s"===== $q plan =====")
      warm.explain("formatted")
      Bench.drainStorage(spark)
      stages.clear(); closed = new CountDownLatch(1)
      fence("start")
      val t0 = System.nanoTime()
      Bench.execute(SparkEntry.queries(q)(spark, sfDir))
      val sec = (System.nanoTime() - t0) / 1e9
      fence("end")
      require(closed.await(30, TimeUnit.SECONDS), "end marker never arrived")
      println(s"===== $q ${"%.2f".format(sec)} s =====")
      stages.forEach(s => println(s))
    }
    spark.stop()
  }
}
