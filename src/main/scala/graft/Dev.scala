package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dev main over the driver queries, in the engine session that ships
  * ([[Sessions.build]]). Not part of the driver contract. Usage:
  *   runMain graft.Dev <show|explain|profile> [sfDir] [queryName ...]
  * An argument naming a directory selects the data dir (default:
  * SPARK_GRAFT_SF_DIR or sf0.001); the rest are query names, all
  * queries when none is given. An unknown name fails before Spark
  * starts.
  *
  *  - `show` prints each result (up to 100 rows): the loop for
  *    pinning oracle constants and eyeballing new operators;
  *  - `explain` prints the formatted physical plan, so shuffle
  *    counts, PushedFilters, broadcast choices and WholeStageCodegen
  *    spans can be reviewed. A few queries (the ingest identity
  *    family) materialize snapshot metadata at plan construction, so
  *    small jobs may run before those plans print;
  *  - `profile` runs each query once warm and once timed under a
  *    stage listener, and prints each stage's executor run and CPU
  *    time, task and record counts beside the wall total and the job
  *    count — separating executor compute from driver overhead
  *    (planning, AQE re-optimization, codegen) so optimization targets
  *    the measured hot spot. It times `collect()`, the action
  *    `Response.collect` runs on the serving path, so its job and stage
  *    counts are the server's (a `count()` plan may drop an
  *    order-insensitive sort that `collect()` runs).
  */
object Dev {
  def main(args: Array[String]): Unit = {
    val modes: Map[String, (SparkSession, String, () => DataFrame) => Unit] = Map(
      "show" -> ((_, _, query) => query().show(100, truncate = false)),
      "explain" -> ((_, _, query) => query().explain("formatted")),
      "profile" -> profile)
    require(args.headOption.exists(modes.contains),
      s"usage: graft.Dev <${modes.keys.toSeq.sorted.mkString("|")}> [sfDir] [queryName ...]")
    val (dirs, names) = args.tail.partition(a => new java.io.File(a).isDirectory)
    val sfDir = dirs.headOption
      .orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse("/root/testdata/sf0.001")
    val selected = SparkEntry.select(names.toSeq)
    val spark = Sessions.build(app = "graft-dev")
    for ((name, fn) <- selected) {
      println(s"\n========== $name ==========")
      try modes(args.head)(spark, name, () => fn(spark, sfDir))
      catch { case e: Throwable => println(s"[dev] $name failed: $e") }
    }
    spark.stop()
  }

  /** Warm run (codegen cache, page cache, footers), then a timed run
    * whose completed stages are printed heaviest first. Each run
    * builds the query afresh: the warm run's persisted frames are
    * released before timing. */
  private def profile(spark: SparkSession, name: String, query: () => DataFrame): Unit = {
    query().collect()
    spark.sparkContext.getPersistentRDDs
      .valuesIterator.foreach(_.unpersist(blocking = true))
    System.gc()

    // the listener bus delivers on its own thread — synchronize the
    // buffer and drain below by polling until the count stabilizes,
    // or late completion events silently vanish from the profile
    val stages = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, Long, Long, Long, Int)]
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        stages.synchronized {
          stages += ((si.stageId,
            si.name.takeWhile(_ != '\n').take(60),
            m.executorRunTime, m.executorCpuTime / 1000000L,
            m.outputMetrics.recordsWritten + m.shuffleWriteMetrics.recordsWritten,
            si.numTasks))
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    query().collect()
    val wall = (System.nanoTime() - t0) / 1e9
    // drain: poll until no new completion arrives for two checks
    var seen = -1
    var stable = 0
    while (stable < 2) {
      Thread.sleep(200)
      val n = stages.synchronized(stages.size)
      if (n == seen) stable += 1 else { seen = n; stable = 0 }
    }
    spark.sparkContext.removeSparkListener(listener)

    val snap = stages.synchronized(stages.toVector)
    val runSum = snap.map(_._3).sum / 1e3
    val cpuSum = snap.map(_._4).sum / 1e3
    println(f"$name: wall $wall%.2f s, executor-run sum $runSum%.2f s " +
      f"(cpu $cpuSum%.2f s), ${jobs.get} jobs, ${snap.size} stages")
    for ((id, nm, run, cpu, recs, nt) <- snap.sortBy(-_._3).take(15))
      println(f"  stage $id%4d run ${run / 1e3}%6.2f s  cpu ${cpu / 1e3}%6.2f s  " +
        f"tasks $nt%3d  outRecs $recs%9d  $nm")
  }
}
