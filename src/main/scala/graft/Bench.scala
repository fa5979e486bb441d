package graft

import java.util.Locale
import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Benchmark main (driver contract): runs the query inventory on
  * SPARK_GRAFT_SF_DIR at local[SPARK_GRAFT_CPUS]. Its LAST stdout line
  * is the contract line, one compact JSON object keyed by short row
  * name (the prefix before the first '_'):
  * {"metric":"total","unit":"sec","queries":{…},"sf":…,"failed":[…],
  * "build_sec":…,"value":…,"valid":…}
  * — the consumer keeps only the tail of stdout, and the line stays
  * under 2000 characters on the whole inventory, even when every row
  * fails. The scalar verdict (`value`, `valid`) comes last, after the
  * failed list, so even a shorter tail capture keeps it.
  *
  * Four passes. The first (untimed, reported as "build_sec") runs every
  * query once: it trains and persists the model artifacts — k-means
  * centroids, error-profile traces, HNSW adjacency, PQ codebooks,
  * MinHash signature tables — and warms JVM/codegen/parquet-footer
  * caches. The next three are timed sweeps; each query reports its
  * MEDIAN across the three, so what's measured is steady-state query
  * cost and a single noisy host interval can't become the official
  * number. This matches the reference's methodology of
  * building the index once and timing search only
  * (`Auncel/eval/bound.cpp:265-268` reloads the prebuilt index + profile
  * before the timed phase; the build is never billed to queries).
  *
  * Each query is materialized with collect() (results are small by
  * construction) so column pruning can't hide work the way count()
  * would.
  *
  * The ledger: a [[Ledger]] listener attributes every job to the
  * (row, pass) that started it, and after `spark.stop()` has drained the
  * listener bus, Bench writes `target/bench_ledger.json` — per row and
  * pass its wall time, jobs, stages, task counters, ratio to the
  * BASELINE.md pin and top stages — before printing the contract line.
  *
  * Usage: sbt "runMain graft.Bench [row…]" — with row names, only those
  * rows run (a dev subset); without, the full inventory.
  */
object Bench {
  /** Local property naming the `pass:row` a job belongs to. Spark hands
    * local properties to the threads that AQE and broadcast exchanges
    * start, as it does `spark.sql.execution.id`. */
  private[graft] val RowProp = "bench.row"
  private val timedPasses = 3

  private[graft] def sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** The benchmark session, shared with the dev inspection main. */
  private[graft] def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val sf = sfDir
    val spark = session()
    val sc = spark.sparkContext
    val ledger = new Ledger
    sc.addSparkListener(ledger)
    val names =
      if (args.isEmpty) SparkEntry.queries.keys.toSeq.sorted else args.toSeq
    val inventory = names.map(n => n -> SparkEntry.queries(n))
    val walls = mutable.Map.empty[(String, Int), Double]

    // one pass of one row: its jobs carry the pass:row tag; a pass that
    // THROWS records -1
    def run(pass: Int, name: String,
            fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit = {
      sc.setLocalProperty(RowProp, s"$pass:$name")
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sf).collect(); true }
        catch { case e: Throwable =>
          System.err.println(
            s"[${if (pass == 0) "bench-build" else "bench"}] $name failed: ${e.getMessage}")
          false
        }
        finally sc.setLocalProperty(RowProp, null)
      walls((name, pass)) = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
    }

    // pass 0 — build: train/persist model artifacts, warm caches
    val b0 = System.nanoTime()
    inventory.foreach { case (name, fn) => run(0, name, fn) }
    val buildSec = (System.nanoTime() - b0) / 1e9

    // passes 1-3 — timed: steady-state query cost, median of 3 sweeps.
    // A single timed measurement let one noisy host interval become the
    // round's official number (r4: t02 read 4.32 s against a 0.62 s rerun);
    // the per-query median across three full sweeps kills that class.
    // A pass that THROWS is excluded from the median — a fast failure
    // must not masquerade as a fast steady-state time; a query with no
    // successful pass reports -1 and lands in "failed".
    for (p <- 1 to timedPasses; (name, fn) <- inventory) run(p, name, fn)
    val results = names.map { name =>
      val xs = (1 to timedPasses).map(p => walls((name, p))).filter(_ >= 0).sorted
      name -> (if (xs.isEmpty) -1.0 else xs(xs.length / 2))
    }
    val pins =
      try parsePins(java.nio.file.Files.readString(java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BASELINE", "BASELINE.md"))))
      catch { case scala.util.control.NonFatal(_) => Map.empty[String, Double] }
    spark.stop() // drains the listener bus: the ledger is complete
    try {
      val path = java.nio.file.Paths.get("target", "bench_ledger.json")
      java.nio.file.Files.createDirectories(path.getParent)
      java.nio.file.Files.writeString(path,
        ledger.render(names, walls.toMap, pins, sf, timedPasses))
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] ledger not written: ${e.getMessage}")
    }
    println(renderLine(results, buildSec, sf))
  }

  /** Per-query pins from BASELINE.md's "Per-query reference" block:
    * short-name float pairs like `a01 0.80,` / `s03 1.7`. Parsing is
    * ANCHORED to that header — prose added above it can't shadow a
    * pin — and within the block first occurrence wins. */
  private[graft] def parsePins(text: String): Map[String, Double] = {
    // line-START header match: a prose mention of the phrase mid-line
    // ("see the Per-query reference table below; q01 9.99 was …") must
    // not become the anchor, or it would re-introduce the shadowing
    // this anchor exists to prevent. Leading '#'/whitespace is allowed
    // (a markdown-heading reformat must keep anchoring, not silently
    // fall back to a whole-document scan) and the " (" tail is required
    // (a prose line that merely BEGINS with the phrase must not anchor).
    val anchored = """(?m)^[#\s]*Per-query reference \(""".r
      .findFirstMatchIn(text) match {
      case None    => text // no header: fall back to whole-document scan
      case Some(m) => text.substring(m.start)
    }
    val re = """\b(mm\d{2}|[adqstv]\d{2}) (\d+(?:\.\d+)?)""".r
    re.findAllMatchIn(anchored).foldLeft(Map.empty[String, Double]) { (m, x) =>
      if (m.contains(x.group(1))) m else m + (x.group(1) -> x.group(2).toDouble)
    }
  }

  private def short(name: String): String = name.takeWhile(_ != '_')

  /** Row name → JSON key: the short name, unless two rows share one —
    * duplicate keys would shadow each other in most parsers — in which
    * case every row keeps its full name. */
  private def keyOf(names: Seq[String]): String => String = {
    val shorts = names.map(short)
    if (shorts.distinct.size == shorts.size) short else identity
  }

  /** Three decimals under `Locale.ROOT`: a comma-decimal default locale
    * must not turn the line into invalid JSON. */
  private def num(v: Double): String = "%.3f".formatLocal(Locale.ROOT, v)

  /** The wall time of a pass over its row's pin, when the row has a
    * positive pin and the pass succeeded. */
  private def ratioToPin(name: String, wall: Double,
                         pins: Map[String, Double]): Option[Double] =
    pins.get(short(name)).filter(_ > 0).filter(_ => wall >= 0).map(wall / _)

  /** The contract line. A run with ANY failed query must not report a
    * (smaller) total that reads as a speedup to a consumer comparing
    * value alone: the total goes to -1 and valid:false, per-query
    * medians stay inspectable. BenchLineSpec pins its size and shape. */
  private[graft] def renderLine(
      results: Seq[(String, Double)], buildSec: Double, sfDir: String): String = {
    val key = keyOf(results.map(_._1))
    val failed = results.collect { case (name, v) if v < 0 => key(name) }
    val qs = results.map { case (n, v) => "\"" + key(n) + "\":" + num(v) }
      .mkString("{", ",", "}")
    val total = if (failed.isEmpty) results.map(_._2).sum else -1.0
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    s"""{"metric":"total","unit":"sec","queries":$qs,"sf":"$sfDir","failed":$failedJson,"build_sec":${num(buildSec)},"value":${num(total)},"valid":${failed.isEmpty}}"""
  }

  /** Listener behind the ledger: sums each `pass:row` tag's jobs and
    * completed stages' task counters ([[RowProp]]); jobs without a tag
    * count as unattributed. A stage is named by the graft frames of its
    * SQL execution's call site, else of its own (AQE submits query
    * stages from its own threads, whose stage call sites carry no graft
    * frame), else by the row whose lazy result Bench collects. Read it
    * only after `spark.stop()` has drained the listener bus. */
  private[graft] final class Ledger extends SparkListener {
    private final class Acc {
      var jobs = 0
      var stages = 0
      var runMs = 0L
      var cpuMs = 0L
      var gcMs = 0L
      var shuffleRead = 0L
      var shuffleWrite = 0L
      var spill = 0L
      val stageLog = mutable.ArrayBuffer.empty[(String, Int, Long)]
    }
    private val accs = mutable.Map.empty[String, Acc]
    private val unattributed = new Acc
    private val execSites = mutable.Map.empty[Long, String]
    private val stageOf = mutable.Map.empty[Int, (Acc, String)]

    private def graftFrames(callSite: String): String =
      Option(callSite).fold("")(_.linesIterator
        .filter(l => l.contains("graft.") && !l.contains("graft.Bench"))
        .map(_.trim).take(3).mkString(" <- "))

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        synchronized(execSites(s.executionId) = s.details)
      case _ => ()
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val props = Option(e.properties)
      val tag = props.flatMap(p => Option(p.getProperty(RowProp)))
      val acc = tag.fold(unattributed)(accs.getOrElseUpdate(_, new Acc))
      acc.jobs += 1
      val execSite = props
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => execSites.get(id.toLong)).map(graftFrames)
        .filter(_.nonEmpty)
      e.stageInfos.foreach { si =>
        val site = execSite
          .orElse(Some(graftFrames(si.details)).filter(_.nonEmpty))
          .getOrElse(s"result of ${tag.fold("?")(_.dropWhile(_ != ':').drop(1))}")
        stageOf(si.stageId) = (acc, site)
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val si = e.stageInfo
        val (acc, site) = stageOf.getOrElse(si.stageId, (unattributed, "?"))
        acc.stages += 1
        Option(si.taskMetrics).foreach { m =>
          acc.runMs += m.executorRunTime
          acc.cpuMs += m.executorCpuTime / 1000000
          acc.gcMs += m.jvmGCTime
          acc.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          acc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          acc.stageLog += ((site, si.numTasks, m.executorRunTime))
        }
      }

    private def counters(a: Acc): Seq[(String, Any)] = Seq(
      "jobs" -> a.jobs, "stages" -> a.stages, "run_ms" -> a.runMs,
      "cpu_ms" -> a.cpuMs, "gc_ms" -> a.gcMs,
      "shuffle_read_bytes" -> a.shuffleRead,
      "shuffle_write_bytes" -> a.shuffleWrite, "spill_bytes" -> a.spill)

    /** The ledger JSON: per row its pin, its build pass (pass 0) and
      * each timed pass — wall seconds (-1 when the pass threw), ratio to
      * the pin, counters and the top 3 stages by task time — plus the
      * unattributed jobs' counters. */
    def render(names: Seq[String], walls: Map[(String, Int), Double],
               pins: Map[String, Double], sfDir: String,
               passes: Int): String = synchronized {
      import scala.collection.immutable.ListMap
      def pass(name: String, p: Int): ListMap[String, Any] = {
        val a = accs.getOrElse(s"$p:$name", new Acc)
        val wall = walls.getOrElse((name, p), -1.0)
        ListMap[String, Any]("wall_sec" -> wall,
          "ratio_to_pin" -> ratioToPin(name, wall, pins)) ++
          counters(a) + ("top_stages" -> a.stageLog.sortBy(-_._3).take(3)
            .map { case (site, tasks, ms) =>
              ListMap("site" -> site, "tasks" -> tasks, "run_ms" -> ms)
            }.toSeq)
      }
      val rows = ListMap(names.map { n =>
        n -> ListMap[String, Any]("pin" -> pins.get(short(n)),
          "build" -> pass(n, 0), "passes" -> (1 to passes).map(pass(n, _)))
      }: _*)
      val doc = ListMap[String, Any]("sf" -> sfDir,
        "unattributed" -> ListMap(counters(unattributed): _*), "rows" -> rows)
      com.fasterxml.jackson.databind.json.JsonMapper.builder()
        .addModule(com.fasterxml.jackson.module.scala.DefaultScalaModule).build()
        .writerWithDefaultPrettyPrinter().writeValueAsString(doc)
    }
  }
}
