package linkbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import pkel.app.Pipeline
import pkel.link.ExactLinker
import pkel.model.OntologyEntry
import pkel.transcript.TranscriptSynth

/** The three workloads and their inputs.
  *
  * Pipeline workloads run the full `Pipeline.run` over a pre-materialized
  * transcript table; `pair_scoring` runs `PairScorer.scoreCandidates` alone
  * over a pre-materialized keyed-mention table (the shape of the frozen
  * `el_pair_scoring` probe). Each workload has a pool of `poolConvs`
  * conversations, generated once by a separate `--prepare` process with a
  * fixed synthesizer seed; a run's input is the `convs` conversations of the
  * pool that its seed selects (see `run.py`). The conversations of the
  * synthesizer are independent draws, so a seeded sample of a pool ten or
  * more times larger stands in for a freshly generated corpus, and no run
  * pays a JVM start for its input. */
final case class Workload(
    name: String,
    convs: Long,
    /** conversations in the pool a run's input is sampled from */
    poolConvs: Long,
    typoRate: Double = 0.03,
    multiRate: Double = 0.0,
    tableRate: Double = 0.0,
    pipeline: Boolean = true,
    /** untimed jobs after the cold one: the JIT is still compiling the
      * driver-side planning that dominates a short job */
    warmupJobs: Int = 0)

object Workloads {

  /** Sizes keep a whole run, cold job included, near a minute on 4 cores.
    * Most of a pipeline job's time does not grow with its input (a warm
    * `pipeline_residue` job took 13 s at 1,000 conversations and 17 s at
    * 3,000 on 4 cores), so larger inputs would buy little signal for much
    * run time. */
  val all: Seq[Workload] = Seq(
    // synthesizer defaults: the exact tier resolves ~99% of mentions, so the
    // pair, edge and cluster stages and the stage costs that do not grow with
    // the input carry the job
    Workload("pipeline_dup", convs = 3000, poolConvs = 30000),
    // heavy typos, second spans and html-table turns: a fifth of the mentions
    // fall past the exact tier into the fuzzy and bi-encoder tiers
    Workload("pipeline_residue", convs = 1000, poolConvs = 20000, typoRate = 0.5, multiRate = 0.3, tableRate = 0.08),
    // blocking + scoring only: no linking, no stage commits. A warm job
    // takes about 3.5 s at 6,000 and at 10,000 conversations alike (planning
    // and task scheduling, not pairs); at 50,000 it takes 6-8 s and its
    // spread across runs doubles with the VM's steal time
    Workload("pair_scoring", convs = 10000, poolConvs = 100000, pipeline = false, warmupJobs = 3))

  def byName(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name' (expected one of ${all.map(_.name).mkString(", ")})"))

  /** Synthesizer seed of every pool; a run's seed picks its sample. */
  val PoolSeed = 0L
  /** Parquet files a sampled input is split into, as the synthesizer's own
    * writes on 4 cores produced; each is one read partition. */
  val InputFiles = 4

  /** `_READY` marks a complete pool or input. */
  def isReady(dir: Path): Boolean = Files.exists(dir.resolve("_READY"))

  /** (mention_id, gold) for every mention with a gold entity. */
  def gold(spark: SparkSession, dir: Path): DataFrame =
    spark.read.parquet(dir.resolve("gold").toString)

  /** Write the pool's input and gold tables, each row tagged with its
    * conversation number (`_conv`) for sampling, and a `_READY` manifest;
    * the gold derivation mirrors `PipelineApp`'s synthetic branch. */
  def preparePool(spark: SparkSession, entries: Seq[OntologyEntry], w: Workload,
      dir: Path): Unit = {
    val seed = PoolSeed
    val transcripts = TranscriptSynth.generate(spark, entries, w.poolConvs, seed = seed,
      typoRate = w.typoRate, multiRate = w.multiRate, tableRate = w.tableRate)
    val vs = TranscriptSynth.variants(entries)
    val tdVs = if (w.tableRate > 0) TranscriptSynth.tableDefaultVariants(entries)
      else IndexedSeq.empty[TranscriptSynth.Variant]
    val safeVs = if (w.tableRate > 0) TranscriptSynth.tableSafeVariants(entries)
      else IndexedSeq.empty[TranscriptSynth.Variant]
    val (multiRate, tableRate) = (w.multiRate, w.tableRate)
    val goldUdf = udf((convId: String, turn: Int, spanIdx: Int) =>
      TranscriptSynth.goldSpansForVariants(vs, seed, convId.stripPrefix("c").toLong,
        turn, multiRate = multiRate, tableRate = tableRate,
        tdVs = tdVs, safeVs = safeVs).lift(spanIdx).orNull)
    val conv = regexp_replace(col("conv_id"), "^c", "").cast("long").as("_conv")

    val tmp = dir.resolveSibling(dir.getFileName.toString + ".tmp")
    deleteRecursively(tmp)
    transcripts.write.parquet(tmp.resolve("transcripts").toString)
    val written = spark.read.parquet(tmp.resolve("transcripts").toString)
    val mentions = Pipeline.extractMentions(written)
    mentions
      .select(col("mention_id"),
        goldUdf(col("conv_id"), col("turn_idx"), col("span_idx")).as("gold"), conv)
      .filter(col("gold").isNotNull)
      .write.parquet(tmp.resolve("gold").toString)
    val input =
      if (w.pipeline) written.select(col("*"), conv)
      else ExactLinker.withBlockingKey(mentions)
        .select(col("mention_id"), col("blocking_key"), col("tokens"), col("mention"), conv)
    input.write.parquet(tmp.resolve("input").toString)
    deleteRecursively(tmp.resolve("transcripts"))
    Files.writeString(tmp.resolve("_READY"), new ObjectMapper().writeValueAsString(Map[String, Any](
      "workload" -> w.name, "convs" -> w.convs, "pool_convs" -> w.poolConvs,
      "pool_seed" -> seed, "files" -> InputFiles, "synth_version" -> TranscriptSynth.version).asJava))
    deleteRecursively(dir)
    Files.createDirectories(dir.getParent)
    Files.move(tmp, dir)
  }

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
}
