package graft.tools_dev

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.SparkSession

/** Dev measurement harness (guide §1): times a SUBSET of the Bench
  * inventory with the exact Bench methodology (same session confs, one
  * untimed build pass, then N timed passes, median) and additionally
  * reports per-query Spark JOB counts and summed task time via a
  * listener — the fixed job-count floor is what dominates the iterative
  * rows at sf scale, and the UI is disabled in this sandbox.
  *
  * Usage: sbt "runMain graft.tools_dev.TimeQueries d08_dedup_clusters d13_fuzzy_pipeline"
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32),
  *      TQ_PASSES (default 3).
  */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val passes = sys.env.getOrElse("TQ_PASSES", "3").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("TQ_SHUFFLE", cpus))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    val taskMs = new java.util.concurrent.atomic.AtomicLong(0L)
    val stageLog = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int, Long)]()
    // a stage is named by the graft frames of its SQL execution's call
    // site, else of its own (AQE submits query stages from its own
    // threads, whose stage call sites carry no graft frame), else by the
    // query whose lazy result this harness is collecting
    @volatile var current = ""
    val execSites = scala.collection.concurrent.TrieMap.empty[Long, String]
    val stageExec = scala.collection.concurrent.TrieMap.empty[Int, Long]
    def graftFrames(callSite: String): String = callSite.linesIterator
      .filter(l => l.contains("graft.") && !l.contains("tools_dev"))
      .take(3).mkString(" <- ")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => execSites.put(s.executionId, s.details)
        case _ => ()
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .foreach(id => e.stageInfos.foreach(si => stageExec.put(si.stageId, id.toLong)))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        taskMs.addAndGet(e.stageInfo.taskMetrics.executorRunTime)
        val m = e.stageInfo.taskMetrics
        val site = stageExec.get(e.stageInfo.stageId).flatMap(execSites.get)
          .map(graftFrames).filter(_.nonEmpty)
          .orElse(Some(graftFrames(e.stageInfo.details)).filter(_.nonEmpty))
          .getOrElse(s"result of $current")
        stageLog.add((f"gc=${m.jvmGCTime}%6d cpu=${m.executorCpuTime / 1000000}%6d " +
          e.stageInfo.name.takeWhile(_ != '\n').take(60) + " | " + site.take(180),
          e.stageInfo.numTasks, m.executorRunTime))
      }
    })

    val names = if (args.nonEmpty) args.toSeq else graft.SparkEntry.queries.keys.toSeq.sorted
    val inv = names.map(n => n -> graft.SparkEntry.queries(n))

    // build pass (untimed): warm artifacts exactly like Bench
    inv.foreach { case (n, fn) =>
      current = n
      try fn(spark, sfDir).collect()
      catch { case e: Throwable => System.err.println(s"[build] $n failed: ${e.getMessage}") }
    }

    val topStages = sys.env.get("TQ_TOP_STAGES").map(_.toInt).getOrElse(0)
    val results = inv.map { case (n, fn) =>
      current = n
      val secs = (1 to passes).map { p =>
        stageLog.clear()
        val j0 = jobs.get(); val s0 = stages.get(); val t0 = taskMs.get()
        val w0 = System.nanoTime()
        fn(spark, sfDir).collect()
        val wall = (System.nanoTime() - w0) / 1e9
        // listener events are async; give them a beat to drain
        Thread.sleep(150)
        if (topStages > 0 && p == passes) {
          import scala.jdk.CollectionConverters._
          println(s"---- $n top stages by task ms (last pass) ----")
          stageLog.asScala.toSeq.sortBy(-_._3).take(topStages).foreach {
            case (nm, nt, ms) => println(f"  $ms%7d ms  $nt%4d tasks  $nm")
          }
        }
        (wall, jobs.get() - j0, stages.get() - s0, taskMs.get() - t0)
      }
      val med = secs.map(_._1).sorted.apply(secs.length / 2)
      (n, med, secs)
    }
    println("==== RESULTS ====")
    results.foreach { case (n, med, secs) =>
      val detail = secs.map { case (w, j, st, t) => f"$w%.2fs/${j}j/${st}st/${t}ms" }.mkString(" ")
      println(f"$n%-24s median=$med%.3f  passes: $detail")
    }
    spark.stop()
  }
}
