package graft

import org.apache.spark.scheduler._

/** Per-query profiling diagnostic for the optimization rounds: runs
  * selected queries (warm once, then timed) under a listener that
  * records every job and stage, then prints a wall-time attribution —
  * how many sequential jobs/stages a query runs, where the stage time
  * goes, and how much wall is driver gap (planning, AQE replanning,
  * collect) vs stage execution. The bench medians say WHICH queries are
  * slow; this says WHY (stage barriers vs data volume vs driver time).
  *
  * Usage: ProfileQuery <sfDir> q1,q2,... [reps]
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ProfileQuery <sfDir> <names> [reps]")
    val sfDir = args(0)
    val selected = SparkEntry.selectQueries(Some(args(1)))
    val reps = args.lift(2).map(_.toInt).getOrElse(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // quick A/B knob: SPARK_GRAFT_EXTRA_CONF="k=v;k=v" overrides session conf
    val extra = sys.env.getOrElse("SPARK_GRAFT_EXTRA_CONF", "")
      .split(";").map(_.trim).filter(_.contains("="))
      .map { kv => val i = kv.indexOf('='); (kv.take(i), kv.drop(i + 1)) }
    val spark = extra
      .foldLeft(GraftSession.builder(cpus)) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    final case class StageRec(id: Int, name: String, tasks: Int,
      wallMs: Long, execRunMs: Long, gcMs: Long, fetchWaitMs: Long,
      shufWriteMs: Long, launched: Long, completed: Long)
    val stages = scala.collection.mutable.ArrayBuffer[StageRec]()
    val jobs = scala.collection.mutable.ArrayBuffer[(Int, Long, Long)]()
    val jobStart = scala.collection.mutable.HashMap[Int, Long]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val tm = si.taskMetrics
        stages.synchronized {
          stages += StageRec(si.stageId, si.name.takeWhile(_ != '\n'),
            si.numTasks,
            si.completionTime.getOrElse(0L) -
              si.submissionTime.getOrElse(0L),
            tm.executorRunTime, tm.jvmGCTime,
            tm.shuffleReadMetrics.fetchWaitTime,
            tm.shuffleWriteMetrics.writeTime / 1000000,
            si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L))
        }
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobStart.synchronized { jobStart(e.jobId) = e.time }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized {
          jobs += ((e.jobId, jobStart.getOrElse(e.jobId, 0L), e.time))
        }
    }

    // first-seen baseline value per A/B key (None = was unset)
    val abPrior =
      scala.collection.mutable.HashMap.empty[String, Option[String]]
    for ((name, fn) <- selected) {
      // warm: JIT + codegen + parquet footers, like the bench pass 1
      fn(spark, sfDir).count()
      spark.sqlContext.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      System.gc(); Thread.sleep(200)
      for (rep <- 1 to reps) {
        // true A/B interleaving: SPARK_GRAFT_AB_CONF="k=v;k=v" applies
        // on EVEN reps and reverts on odd, inside one JVM, so host
        // drift hits both arms equally
        sys.env.get("SPARK_GRAFT_AB_CONF").foreach { ab =>
          ab.split(";").map(_.trim).filter(_.contains("=")).foreach { kv =>
            val i = kv.indexOf('=')
            val k = kv.take(i)
            // restore the CAPTURED baseline on odd reps, not unset —
            // unset falls back to the SQLConf default, which silently
            // diverges from a baseline set via the session builder or
            // SPARK_GRAFT_EXTRA_CONF when keys overlap
            val prior = abPrior.getOrElseUpdate(k, spark.conf.getOption(k))
            if (rep % 2 == 0) spark.conf.set(k, kv.drop(i + 1))
            else prior match {
              case Some(v) => spark.conf.set(k, v)
              case None => spark.conf.unset(k)
            }
          }
        }
        stages.clear(); jobs.clear(); jobStart.clear()
        spark.sparkContext.addSparkListener(listener)
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e6
        // drain the listener bus so late stage events are counted
        Thread.sleep(300)
        spark.sparkContext.removeSparkListener(listener)
        val ss = stages.sortBy(_.launched)
        // wall covered by >=1 running stage vs driver-only gap
        val iv = ss.map(s => (s.launched, s.completed)).sortBy(_._1)
        var covered = 0L; var hi = 0L
        for ((a, b) <- iv) {
          val a2 = math.max(a, hi)
          if (b > a2) { covered += b - a2; hi = b }
          else hi = math.max(hi, b)
        }
        println(f"== $name rep$rep wall=${wall}%.0fms jobs=${jobs.size} " +
          f"stages=${ss.size} tasks=${ss.map(_.tasks).sum} " +
          f"stageWall=${ss.map(_.wallMs).sum}ms coveredWall=${covered}ms " +
          f"driverGap=${(wall - covered).max(0)}%.0fms")
        for (s <- ss.sortBy(-_.wallMs).take(12))
          println(f"   stage ${s.id}%4d wall=${s.wallMs}%5dms " +
            f"tasks=${s.tasks}%3d exec=${s.execRunMs}%5dms gc=${s.gcMs}%4dms" +
            f" fetch=${s.fetchWaitMs}%4dms ${s.name.take(90)}")
        spark.sqlContext.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        System.gc(); Thread.sleep(200)
      }
    }
    spark.stop()
  }
}
