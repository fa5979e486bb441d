package graft.tools_dev

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Bench, SparkEntry}

/** Dev inspection main: physical plans and single-row runs of named
  * frames, in Bench's session (SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS).
  *
  * Usage:
  *   sbt "runMain graft.tools_dev.Inspect plan <outDir> <suffix> <name…|ALL>"
  *     writes `.explain("formatted")` of each frame to
  *     <outDir>/<name>_<suffix>.txt (ALL: the whole inventory);
  *   sbt "runMain graft.tools_dev.Inspect run <name>"
  *     prints the frame's first 10 rows and its row count.
  *
  * Names come from [[frames]]: the query inventory, whose rows run once
  * before their plan is explained (some build artifacts or run iterative
  * loops whose RESULT frame is the explainable plan), plus ad-hoc frames
  * explained as built.
  */
object Inspect {
  private final case class Frame(build: (SparkSession, String) => DataFrame,
                                 warm: Boolean)

  private val stopwords = Seq("the", "a", "of", "and", "or", "is", "to", "in")

  /** The pre-pack cleanCorpus plan of d12 (plain) or d13 (fuzzy): those
    * rows end in packOffsets' RDD-backed frame, which hides the upstream
    * join strategies from their own `.explain`. */
  private def cleanCorpus(fuzzy: Boolean)(spark: SparkSession, sfDir: String): DataFrame = {
    val P = graft.ops.PreparePipeline
    val D = graft.queries.Documents
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val base = P.Config(stopwords = stopwords, minStopRatio = 0.02,
      minTokens = 20, gramN = D.DecontamN, windowTokens = D.PackWindow)
    val corpus =
      if (!fuzzy) d
      else d.select(col("doc_id"), col("text")).unionByName(
        d.filter(col("doc_id") % 10 === 3).select(
          (col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" zq")).as("text")))
    P.cleanCorpus(
      corpus.filter(col("doc_id") % 10 =!= D.BenchResidue),
      corpus.filter(col("doc_id") % 10 === D.BenchResidue),
      if (!fuzzy) base
      else base.copy(fuzzy = Some(P.FuzzyDedup(numHashes = 16, bands = 4,
        minJaccard = D.FuzzyMinJaccard))))
  }

  /** IVF partitioned-table probe pruning: a probe must reach the scan as
    * a PartitionFilter on list_no. */
  private def ivfProbePruning(spark: SparkSession, sfDir: String): DataFrame = {
    val b = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val model = graft.index.IVFIndex.train(b, nlist = 16)
    val tmp = java.nio.file.Files.createTempDirectory("inspect").toString
    graft.index.IVFIndex.write(graft.index.IVFIndex.assign(b, model), s"$tmp/ivf")
    spark.read.parquet(s"$tmp/ivf").filter(col("list_no").isin(1, 3, 5))
      .select(col("id"), col("vec"))
  }

  private def frames: Map[String, Frame] =
    SparkEntry.queries.map { case (n, fn) => n -> Frame(fn, warm = true) } ++ Map(
      "d12_cleanCorpus" -> Frame(cleanCorpus(fuzzy = false), warm = false),
      "d13_cleanCorpus_fuzzy" -> Frame(cleanCorpus(fuzzy = true), warm = false),
      "ivf_probe_pruning" -> Frame(ivfProbePruning, warm = false))

  private val usage =
    "usage: Inspect plan <outDir> <suffix> <name...|ALL> | Inspect run <name>"

  def main(args: Array[String]): Unit = {
    val table = frames
    def frame(n: String): Frame =
      table.getOrElse(n, sys.error(s"unknown frame $n; known: " +
        table.keys.toSeq.sorted.mkString(" ")))
    args.toList match {
      case "plan" :: outDir :: suffix :: names if names.nonEmpty =>
        val out = java.nio.file.Paths.get(outDir)
        java.nio.file.Files.createDirectories(out)
        val todo =
          if (names == List("ALL")) SparkEntry.queries.keys.toSeq.sorted else names
        val spark = Bench.session()
        todo.foreach { n =>
          val f = frame(n)
          if (f.warm) f.build(spark, Bench.sfDir).collect()
          val plan = f.build(spark, Bench.sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(out.resolve(s"${n}_$suffix.txt"), plan)
          println(s"[inspect] wrote ${n}_$suffix.txt (${plan.length} chars)")
        }
        spark.stop()
      case "run" :: n :: Nil =>
        val f = frame(n)
        val spark = Bench.session()
        val df = f.build(spark, Bench.sfDir)
        df.show(10, false)
        println("ROWS=" + df.count())
        spark.stop()
      case _ => sys.error(usage)
    }
  }
}
