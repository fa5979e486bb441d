package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Spans around the benchmark's own calls into graft: name, start, end,
  * parent span and batch id. Kept in memory and written once at exit;
  * a disabled tracer only runs the body. */
final class Spans(val enabled: Boolean) {
  final case class Span(id: Int, name: String, parent: Int, batch: Int,
                        startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  private val done = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0
  /** Batch (or pass) id stamped on every span opened while it is set;
    * -1 outside batches (data generation, setup, audits). */
  var batch: Int = -1

  def apply[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, name, parent, batch, t0, System.nanoTime())
        open = open.tail
      }
    }

  def named(name: String): Seq[Span] = done.filter(_.name == name).toSeq

  def write(path: java.nio.file.Path): Unit = {
    val lines = done.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""batch":${s.batch},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Per-batch Spark counters, attributed to the graft module that caused
  * them. A job belongs to the batch named by its [[JobMeter.BatchProp]]
  * local property. Its owner is the innermost `graft.*` frame of the
  * call site of the SQL execution that ran it (looked up through the
  * job's `spark.sql.execution.id`); jobs outside any SQL execution fall
  * back to the stage call site. The execution call site matters because
  * AQE submits query stages from its own threads, whose stage call
  * sites carry no graft frame. Jobs the benchmark itself starts to
  * consume a lazy frame a graft call returned carry only benchmark
  * frames; [[JobMeter.owned]] names the call that returned the frame. */
final class JobMeter extends SparkListener {
  import JobMeter._

  final class Acc {
    var jobs = 0
    var stages = 0
    var taskMs = 0L
    var gcMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    val taskMsByOwner = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val jobsByOwner = mutable.Map.empty[String, Int].withDefaultValue(0)
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private val accs = mutable.Map.empty[Int, Acc]
  private val execDetails = mutable.Map.empty[Long, String]
  private val stageOwner = mutable.Map.empty[Int, (Int, String)]

  def batch(b: Int): Option[Acc] = synchronized(accs.get(b))

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized(execDetails(s.executionId) = s.details)
    case _ => ()
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    val props = Option(js.properties)
    props.flatMap(p => Option(p.getProperty(BatchProp))).foreach { b =>
      val acc = accs.getOrElseUpdate(b.toInt, new Acc)
      val execOwner = props
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => execDetails.get(id.toLong)).flatMap(owner)
      val consumer = props.flatMap(p => Option(p.getProperty(OwnerProp)))
      val jobOwner = execOwner
        .orElse(js.stageInfos.iterator.flatMap(si => owner(si.details)).nextOption())
        .orElse(consumer).getOrElse(Unattributed)
      acc.jobs += 1
      acc.jobsByOwner(jobOwner) += 1
      js.stageInfos.foreach { si =>
        val o = execOwner.orElse(owner(si.details)).orElse(consumer)
          .getOrElse(Unattributed)
        stageOwner(si.stageId) = (b.toInt, o)
      }
    }
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
    synchronized {
      stageOwner.get(sc.stageInfo.stageId).foreach { case (b, _) =>
        accs(b).stages += 1
      }
    }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    stageOwner.get(te.stageId).foreach { case (b, o) =>
      val acc = accs(b)
      val info = te.taskInfo
      val ms = info.finishTime - info.launchTime
      acc.taskMs += ms
      acc.taskMsByOwner(o) += ms
      acc.intervals += ((info.launchTime, info.finishTime))
      val m = te.taskMetrics
      if (m != null) {
        acc.gcMs += m.jvmGCTime
        acc.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        acc.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}

object JobMeter {
  val BatchProp = "perfbench.batch"
  val OwnerProp = "perfbench.owner"
  val Unattributed = "unattributed"

  /** Runs `body`, which consumes a lazy frame returned by the graft call
    * `owner` (`module.Class`), so that jobs without a graft frame are
    * attributed to that call. */
  def owned[A](sc: org.apache.spark.SparkContext, owner: String)(body: => A): A = {
    sc.setLocalProperty(OwnerProp, owner)
    try body finally sc.setLocalProperty(OwnerProp, null)
  }

  /** `module.Class` of the innermost `graft.*` frame of a call site's
    * long form (innermost frame first), e.g. `ops.Components`. */
  def owner(callSite: String): Option[String] =
    Option(callSite).flatMap(_.linesIterator.map(_.trim).find(_.startsWith("graft.")))
      .map { frame =>
        val method = frame.takeWhile(_ != '(')
        method.substring(0, method.lastIndexOf('.')).takeWhile(_ != '$')
          .stripPrefix("graft.")
      }

  /** Milliseconds of [t0, t1] during which no task ran. */
  def idleMs(intervals: Seq[(Long, Long)], t0: Long, t1: Long): Long = {
    var busy = 0L
    var end = t0
    intervals.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { busy += b - math.max(a, end); end = b }
      }
    (t1 - t0) - busy
  }
}
