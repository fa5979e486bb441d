package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.PreparePipeline

/** Repeated `PreparePipeline.run` passes with the fuzzy near-dup stage
  * on, over one planted corpus: it runs `ops` only (MinHash banding,
  * Components, Decontaminate, SequencePack) and no search.
  *
  * The corpus combines the planted structures of the repository's
  * pipeline rehearsal so that every stage does work and the survivor
  * count has a closed form:
  *  - background docs of 40 words, "the" at every tenth position and
  *    otherwise words unique to the doc (Jaccard 0 with everything);
  *  - exact duplicates: doc `id` with `id % 100 == 1` repeats doc
  *    `id - 1`;
  *  - gate failures: docs whose text id is 3 mod 97 have 10 words
  *    (below the 20-token gate);
  *  - contamination: benchmark doc j is the text of doc `211j + 5`
  *    (after the duplicate mapping), so it removes exactly that doc
  *    when it passed the gate;
  *  - near-duplicate chains: chain c's member j is the 40-word window at
  *    offset j of the chain's own word stream, so consecutive members
  *    share 37 of 39 shingles and the whole chain collapses to its
  *    first member, while its two ends share none.
  */
final class PrepareWorkload(spark: SparkSession, a: Main.Args, spans: Spans)
    extends Workload {
  import spark.implicits._

  val n = 40000L
  val chainLen = 41
  val chains: Int = (n / 400).toInt
  val nBg: Long = n - chains.toLong * chainLen
  val benchDocs = 150
  require(211L * (benchDocs - 1) + 5 < nBg, "benchmark docs must target background docs")

  val setups = 3
  val warmMin = 2
  val warmWindow = 2

  private val cfg = PreparePipeline.Config(
    stopwords = Seq("the", "a", "of", "and", "or", "is", "to", "in"),
    minStopRatio = 0.02, minTokens = 20, gramN = 4, windowTokens = 2048L,
    fuzzy = Some(PreparePipeline.FuzzyDedup(
      numHashes = 16, bands = 8, minJaccard = 0.4, maxIter = 30)))

  /** Offsets keep the seed's corpus apart from every other seed's: the
    * word ids of seed s start at s × 10¹². */
  private val wordBase = a.seed * 1000000000000L

  private def sid(id: Long): Long = if (id % 100 == 1) id - 1 else id

  private val expected: Long = {
    var keep = 0L
    var s = 0L
    while (s < nBg) { if (s % 100 != 1 && s % 97 != 3) keep += 1; s += 1 }
    val targeted = (0 until benchDocs).map(j => sid(211L * j + 5))
      .filter(t => t < nBg && t % 97 != 3).distinct.length
    keep - targeted + chains
  }

  private var train: DataFrame = _
  private var bench: DataFrame = _

  def generate(): Unit = ()

  /** Corpus ingest: generate and write the corpus and benchmark sets. */
  def setup(rep: Int): Unit = {
    val (bg, len, wb) = (nBg, chainLen, wordBase)
    val text = udf { (id: Long) =>
      val sb = new StringBuilder
      if (id < bg) {
        val s = if (id % 100 == 1) id - 1 else id
        val words = if (s % 97 == 3) 10 else 40
        var i = 0
        while (i < words) {
          if (i > 0) sb.append(' ')
          if (i % 10 == 0) sb.append("the") else sb.append('b').append(wb + s).append('_').append(i)
          i += 1
        }
      } else {
        val c = (id - bg) / len
        val j = ((id - bg) % len).toInt
        var t = j
        while (t < j + 40) {
          if (t > j) sb.append(' ')
          if (t % 10 == 0) sb.append("the") else sb.append('c').append(wb + c).append('_').append(t)
          t += 1
        }
      }
      sb.result()
    }
    val dir = s"${a.work}/prepare-$rep"
    spans("write corpus") {
      spark.range(n).select(col("id").as("doc_id"), text(col("id")).as("text"))
        .write.parquet(s"$dir/train")
      spark.range(benchDocs.toLong).select((col("id") + n).as("doc_id"),
          text(col("id") * 211 + 5).as("text"))
        .write.parquet(s"$dir/bench")
    }
    train = spark.read.parquet(s"$dir/train")
    bench = spark.read.parquet(s"$dir/bench")
  }

  def prepare(b: Int): Unit = ()

  private var inv: (Long, Long, Long, Long, Long, Long) = _

  def run(b: Int): Long = {
    val out = spans("PreparePipeline.run")(PreparePipeline.run(train, bench, cfg))
    val chain = col("doc_id") >= nBg
    inv = JobMeter.owned(spark.sparkContext, "ops.PreparePipeline") {
      out.agg(count(lit(1)), min(col("start_token")),
        max(col("start_token") + col("n_tokens")), sum(col("n_tokens")),
        sum(when(chain, 1L).otherwise(0L)),
        sum(when(chain && (col("doc_id") - nBg) % chainLen =!= 0, 1L).otherwise(0L)))
        .as[(Long, Long, Long, Long, Long, Long)].collect()(0)
    }
    n
  }

  private val recalls = mutable.ArrayBuffer.empty[Double]

  /** Survivors equal the closed form; packing covers [0, Σ tokens)
    * from 0; every chain keeps exactly its first member. */
  def check(b: Int): Option[String] = {
    val (rows, minStart, maxEnd, tokens, chainRows, nonRep) = inv
    val nonReps = chains.toLong * (chainLen - 1)
    recalls += (nonReps - nonRep).toDouble / nonReps
    if (rows != expected) Some(s"$rows survivors, closed form $expected")
    else if (minStart != 0L || maxEnd != tokens || tokens != 40L * expected)
      Some(s"packing: min start $minStart, max end $maxEnd, tokens $tokens")
    else if (chainRows != chains || nonRep != 0L)
      Some(s"$chainRows chain survivors ($nonRep not a chain's first)")
    else None
  }

  def quality(): Map[String, Val] = Map(
    "recall_mean" -> Num(recalls.sum / recalls.length, "ratio"),
    "recall_min" -> Num(recalls.min, "ratio"),
    "bound_miss_rate" -> Num(0, "ratio"),
    "expected_survivors" -> Num(expected, "count"))

  def layers(ts: TraceSummary): Map[String, Val] = {
    val searchOrZero = Seq(
      "search.jobs_per_batch", "search.stages_per_batch", "search.idle_s_per_batch",
      "search.task_s_per_query", "search.shuffle_bytes_per_query", "search.core_busy",
      "search.nprobe_mean", "search.rounds_mean", "search.capped_share",
      "search.scanned_per_query", "profile.overprobe_ratio",
      "profile.predicted_minus_achieved", "profile.train_s", "index.train_s",
      "index.assign_write_s", "index.table_bytes", "functions.l2_ns_per_dim",
      "operators.topk_ns_per_add")
    searchOrZero.map(_ -> Num(0, "-")).toMap ++ Map(
      "ops.PreparePipeline.task_s" -> Num(ts.ownerTaskS("ops.PreparePipeline"), "s"),
      "ops.Components.task_s" -> Num(ts.ownerTaskS("ops.Components"), "s"),
      "ops.Components.jobs" -> Num(ts.ownerJobs("ops.Components"), "count"),
      "ops.SequencePack.task_s" -> Num(ts.ownerTaskS("ops.SequencePack"), "s"),
      "ops.shuffle_bytes" -> Num(ts.perBatch(_.shuffleBytes.toDouble), "B"),
      "ops.spill_bytes" -> Num(ts.perBatch(_.spillBytes.toDouble), "B"),
      "ops.core_busy" -> Num(ts.coreBusy, "ratio"))
  }
}
