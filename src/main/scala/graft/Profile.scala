package graft
import org.apache.spark.scheduler._

/** Dev tool: `runMain graft.Profile q_a q_b` runs each named query once
  * untimed at the target SF, prints its formatted physical plan, then
  * times one run and prints every job/stage duration, so a slow row's
  * time can be attributed to a plan node and a stage instead of argued
  * about. Reads SPARK_GRAFT_SF_DIR and SPARK_GRAFT_CPUS with [[Bench]]'s
  * defaults and builds [[Bench.buildSession]]'s session. Not part of the
  * driver contract. */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.buildSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    @volatile var collect = false
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        if (collect) {
          val si = sc.stageInfo
          val ms = (for {s <- si.submissionTime; c <- si.completionTime}
            yield c - s).getOrElse(-1L)
          stages.add(f"stage ${si.stageId}%4d ${ms / 1000.0}%7.2f s  " +
            f"tasks=${si.numTasks}%4d  ${si.name.take(110)}%s")
        }
      }
    })
    args.foreach { q =>
      val warm = SparkEntry.queries(q)(spark, sfDir)
      warm.count()
      println(s"===== $q plan =====")
      warm.explain("formatted")
      Bench.drainStorage(spark)
      // listener events are posted asynchronously: drain the warm pass's
      // stragglers BEFORE arming the collector, and drain the timed run's
      // tail BEFORE disarming it (ADVICE r15 — the old order dropped the
      // timed query's final stage events and could leak warm stages in)
      Thread.sleep(300)
      stages.clear(); collect = true
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(q)(spark, sfDir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300)
      collect = false
      println(s"===== $q ${"%.2f".format(sec)} s ($n rows) =====")
      stages.forEach(s => println(s))
    }
    spark.stop()
  }
}
