package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: generate the workload's inputs from
  * the seed, build what a user would build (timed as `setup_s`), warm
  * up to a steady state, then drive a closed loop with one client for
  * the given number of seconds, checking every batch. Writes the full
  * result (every metric, warm-up length, per-batch times, check
  * details) as one JSON object to `--out`.
  *
  * With `--trace 1` the timed batches alternate between a listener-on
  * and a listener-off batch: per-layer counters come from the first
  * kind, and `trace.overhead` is the ratio of their median times.
  *
  * `--selftest` instead runs the search-small checks on an nprobe-1
  * IVF search, which must fail them; the run succeeds only if it does.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: String, out: String,
                        selftest: Boolean)

  def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      kv.getOrElse("--trace", "0") == "1", need("--work"), need("--out"),
      kv.getOrElse("--selftest", "0") == "1")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors
    // the index cache's disk layer outlives the JVM: keep it inside the
    // run's own directory so no run loads what another trained
    System.setProperty("graft.model.dir", s"${a.work}/models")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val spans = new Spans(a.trace)
    val h = new Harness(spark, a, spans, cores)
    val wl: Workload = a.workload match {
      case "search-small" => new SearchWorkload(spark, a, spans)
      case "prepare-fuzzy" => new PrepareWorkload(spark, a, spans)
      case w => sys.error(s"unknown workload $w")
    }
    val out =
      if (a.selftest) wl match {
        case s: SearchWorkload => s.selfTest()
        case _ => sys.error("--selftest needs a search workload")
      }
      else h.run(wl)
    if (a.trace)
      spans.write(java.nio.file.Paths.get(a.out.stripSuffix(".json") + ".spans.jsonl"))
    out("peak_rss_mb") = Num(vmHwmMb(), "MB")
    java.nio.file.Files.write(java.nio.file.Paths.get(a.out),
      Json.obj(out).getBytes("UTF-8"))
    spark.stop()
  }

  def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(-1.0)
    finally src.close()
  }
}

/** A metric value with its unit, or any other JSON value. */
sealed trait Val
final case class Num(v: Double, unit: String) extends Val
final case class Raw(json: String) extends Val

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Iterable[Double]): String = xs.map(num).mkString("[", ",", "]")
  def obj(m: collection.Map[String, Val]): String =
    m.toSeq.sortBy(_._1).map {
      case (k, Num(v, u)) => s"${str(k)}:{\"value\":${num(v)},\"unit\":${str(u)}}"
      case (k, Raw(j)) => s"${str(k)}:$j"
    }.mkString("{", ",", "}")
}

/** What the harness needs from a workload. */
trait Workload {
  /** Make the inputs from the seed (not timed). */
  def generate(): Unit
  /** Build what a user builds before the first batch; timed as setup. */
  def setup(rep: Int): Unit
  /** How many setups to time: `setup_s` is their median. */
  def setups: Int
  /** Batches the warm-up runs at least, and the number of most recent
    * batches whose times must agree before timing starts. */
  def warmMin: Int
  def warmWindow: Int
  /** Prepare batch `b` outside the clock. */
  def prepare(b: Int): Unit
  /** Run batch `b` (timed); returns the number of items it completed. */
  def run(b: Int): Long
  /** Check batch `b`'s output against ground truth (not timed);
    * returns a failure reason, or None. */
  def check(b: Int): Option[String]
  /** Workload metrics over the checked batches: `recall_mean` … */
  def quality(): Map[String, Val]
  /** Per-layer metrics computed after timing (traced runs only). */
  def layers(ts: TraceSummary): Map[String, Val]
}

/** Listener counters of the traced batches, with their wall times and
  * the part of each during which no task ran. */
final case class TraceSummary(accs: Seq[JobMeter#Acc], wall: Seq[Double],
                              idle: Seq[Double], cores: Int) {
  def perBatch(f: JobMeter#Acc => Double): Double =
    if (accs.isEmpty) 0.0 else accs.map(f).sum / accs.length
  def taskS: Double = accs.map(_.taskMs).sum / 1000.0
  def coreBusy: Double = taskS / (wall.sum * cores)
  def idlePerBatch: Double = if (idle.isEmpty) 0.0 else idle.sum / idle.length
  def taskSByOwner: Map[String, Double] =
    accs.flatMap(_.taskMsByOwner).groupMapReduce(_._1)(_._2 / 1000.0)(_ + _)
  def unattributedShare: Double =
    if (taskS > 0) taskSByOwner.getOrElse(JobMeter.Unattributed, 0.0) / taskS
    else 0.0
  /** Task seconds per batch of the owners under `prefix` (`ops.`, …). */
  def ownerTaskS(prefix: String): Double =
    taskSByOwner.collect { case (o, s) if o.startsWith(prefix) => s }.sum /
      math.max(1, accs.length)
  def ownerJobs(owner: String): Double = perBatch(_.jobsByOwner(owner).toDouble)
}

final class Harness(spark: SparkSession, a: Main.Args, spans: Spans,
                    cores: Int) {
  private val sc = spark.sparkContext
  /** Warm-up ends once the last `warmWindow` batches agree within this
    * ratio, or after this many seconds. */
  private val SteadyRatio = 1.15
  private val WarmCapSeconds = 15.0
  private val MinTimed = 3

  def run(wl: Workload): mutable.Map[String, Val] = {
    val out = mutable.Map.empty[String, Val]
    val g0 = System.nanoTime()
    wl.generate()
    out("generate_s") = Num((System.nanoTime() - g0) / 1e9, "s")
    val setupS = (0 until wl.setups).map { r =>
      val t0 = System.nanoTime()
      spans("setup")(wl.setup(r))
      log(f"setup $r: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      (System.nanoTime() - t0) / 1e9
    }
    out("setup_s") = Num(median(setupS), "s")
    out("setup_runs_s") = Raw(Json.arr(setupS))

    var attempted = 0
    var failed = 0
    val failures = mutable.ArrayBuffer.empty[String]
    var b = 0
    def one(traced: Boolean): (Double, Long) = {
      wl.prepare(b)
      spans.batch = b
      if (traced) {
        sc.setLocalProperty(JobMeter.BatchProp, b.toString)
        sc.addSparkListener(meter)
      }
      val t0 = System.nanoTime()
      val w0 = System.currentTimeMillis()
      val items =
        try spans("batch")(wl.run(b))
        catch { case e: Exception =>
          failures += s"batch $b threw: $e"
          -1L
        }
      val sec = (System.nanoTime() - t0) / 1e9
      if (traced) {
        windows(b) = (w0, System.currentTimeMillis())
        org.apache.spark.perfbench.BusDrain.drain(sc)
        sc.removeSparkListener(meter)
        sc.setLocalProperty(JobMeter.BatchProp, null)
      }
      spans.batch = -1
      attempted += 1
      log(f"batch $b${if (traced) " (traced)" else ""}: $sec%.3f s")
      val bad = if (items < 0) Some("threw") else wl.check(b)
      bad.foreach { r =>
        failed += 1
        if (items >= 0) failures += s"batch $b: $r"
      }
      b += 1
      (sec, math.max(items, 0L))
    }

    // warm-up: JIT and codegen caches settle over the first batches
    val warm = mutable.ArrayBuffer.empty[Double]
    val warmStart = System.nanoTime()
    def steady: Boolean = warm.length >= wl.warmMin && {
      val last = warm.takeRight(wl.warmWindow)
      last.max <= SteadyRatio * last.min
    }
    while (!steady && (System.nanoTime() - warmStart) / 1e9 < WarmCapSeconds)
      warm += one(traced = false)._1
    out("warmup_batches") = Num(warm.length, "count")
    out("warmup_s") = Num((System.nanoTime() - warmStart) / 1e9, "s")
    out("warmup_steady") = Raw(steady.toString)

    val times = mutable.ArrayBuffer.empty[Double]
    val tracedIdx = mutable.ArrayBuffer.empty[Int]
    val tracedT = mutable.ArrayBuffer.empty[Double]
    val plainT = mutable.ArrayBuffer.empty[Double]
    var items = 0L
    var i = 0
    while (times.sum < a.seconds || times.length < MinTimed) {
      val traced = a.trace && i % 2 == 0
      val id = b
      val (sec, n) = one(traced)
      times += sec
      items += n
      if (traced) { tracedIdx += id; tracedT += sec } else plainT += sec
      i += 1
    }
    out("throughput") = Num(items / times.sum, "1/s")
    out("batch_p50_s") = Num(median(times.toSeq), "s")
    val (tailPct, tailV) = tail(times.toSeq)
    out("batch_tail_s") = Num(tailV, "s")
    out("batch_tail_pct") = Num(tailPct, "%")
    out("timed_batches") = Num(times.length, "count")
    out("batch_times_s") = Raw(Json.arr(times))
    out("attempted") = Num(attempted, "count")
    out("failed") = Num(failed, "count")
    out("failed_share") = Num(failed.toDouble / attempted, "ratio")
    out("failures") = Raw(failures.take(20).map(Json.str).mkString("[", ",", "]"))
    out ++= wl.quality()

    if (a.trace) {
      val ts = TraceSummary(tracedIdx.flatMap(meter.batch).toSeq, tracedT.toSeq,
        tracedIdx.toSeq.map { id =>
          val (w0, w1) = windows(id)
          JobMeter.idleMs(meter.batch(id).map(_.intervals.toSeq).getOrElse(Nil),
            w0, w1) / 1000.0
        }, cores)
      out("trace.overhead") = Num(median(tracedT.toSeq) / median(plainT.toSeq) - 1, "ratio")
      out("trace.unattributed_share") = Num(ts.unattributedShare, "ratio")
      out("jvm.gc_s") = Num(ts.perBatch(_.gcMs / 1000.0), "s")
      out("trace.task_s_by_owner") = Raw(ts.taskSByOwner.toSeq.sortBy(-_._2)
        .map { case (o, sec) => s"${Json.str(o)}:$sec" }.mkString("{", ",", "}"))
      out ++= wl.layers(ts)
    }
    out("correct") = Raw((failed == 0).toString)
    out
  }

  val meter = new JobMeter
  private val windows = mutable.Map.empty[Int, (Long, Long)]

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  /** The highest whole percentile with at least ten samples beyond it,
    * and the sample at it; the maximum when there are too few. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.length
    if (n < 11) (100.0, s.last)
    else {
      val pct = math.floor(100.0 * (n - 10) / n)
      val idx = math.max(0, math.ceil(pct / 100.0 * n).toInt - 1)
      (pct, s(idx))
    }
  }
}
