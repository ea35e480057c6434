package linkbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.pkelbridge.Bridge

import pkel.ontology.Ontology

/** Entry point of the linking-pipeline benchmark (launched by `run.py`).
  *
  * {{{
  * Main --prepare --workloads W1,W2 --work DIR
  * Main --workload W --seed N --input DIR --seconds S --trace 0|1 --work DIR
  *      --expected FILE --launched-ms EPOCH_MS
  * }}}
  *
  * `--prepare` writes the pool of each named workload under `DIR/pools`;
  * `--input` names the seed's sample of its workload's pool.
  *
  * A run is closed-loop: one job at a time in one `local[nproc]` session.
  * It sets up the session once (timed from process launch), runs one cold
  * job, then warm jobs until `--seconds` have passed. Every job's output is
  * checked, and a job that throws or disagrees never contributes a timing.
  * With `--trace 1` warm jobs alternate untraced and traced, and each traced
  * job is followed by direct calls into each layer's public functions. The
  * last stdout line is the result object; the line before it (`# info`)
  * carries the input property card, the host-noise probe and the session
  * settings. */
object Main {

  private val MinWarmJobs = 1
  private val MinTracedJobs = 1
  /** Start no job after this many seconds of the process: a run must end
    * well within three minutes. */
  private val LastJobStartS = 120.0
  private val ProbeRowsPerCore = 20000000L
  private val DefaultSeed = 1L
  private val MinF1AtKey = 0.99
  private val cpus = Runtime.getRuntime.availableProcessors()

  def session(work: Path): SparkSession = {
    val local = work.resolve("spark-local")
    Files.createDirectories(local)
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("linkbench")
      .config(Settings)
      .config("spark.local.dir", local.toAbsolutePath.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toAbsolutePath.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Session settings as in `PipelineApp` (AQE and skew join on, Spark's
    * default shuffle partitions); recorded in the info line. */
  val Settings: Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> "200",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  private def parse(argv: Array[String]): Map[String, String] = {
    val out = scala.collection.mutable.Map.empty[String, String]
    var i = 0
    while (i < argv.length) {
      require(argv(i).startsWith("--"), s"unexpected argument '${argv(i)}'")
      val k = argv(i).drop(2)
      if (k == "prepare") { out(k) = "1"; i += 1 }
      else { require(i + 1 < argv.length, s"--$k needs a value"); out(k) = argv(i + 1); i += 2 }
    }
    out.toMap
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val work = Paths.get(a("work"))
    if (a.contains("prepare")) {
      val spark = session(work)
      try {
        val entries = Ontology.load()
        for (name <- a("workloads").split(",")) {
          val dir = work.resolve("pools").resolve(name)
          if (!Workloads.isReady(dir)) Workloads.preparePool(spark, entries, Workloads.byName(name), dir)
        }
      } finally spark.stop()
    } else {
      val input = Paths.get(a("input"))
      require(Workloads.isReady(input), s"input $input is not prepared")
      val ok = new Run(Workloads.byName(a("workload")), a("seed").toLong, input,
        a("seconds").toDouble, a("trace") == "1", work,
        Paths.get(a("expected")), a("launched-ms").toLong).execute()
      if (!ok) System.exit(1)
    }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** A fixed amount of CPU work per core; its wall time varies only with the
    * capacity the host delivers. */
  def noiseProbe(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0, cpus * ProbeRowsPerCore, 1, cpus * 4)
      .select(bit_xor(xxhash64(col("id")))).head()
    (System.nanoTime() - t0) / 1e9
  }

  /** Approximate total janino compile time so far (count × mean sample). */
  def codegenMs: Double = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    h.getCount * h.getSnapshot.getMean
  }

  private final class Run(w: Workload, seed: Long, inputDir: Path, seconds: Double,
      trace: Boolean, work: Path, expectedFile: Path, launchedMs: Long) {

    private val errors = ArrayBuffer.empty[String]
    /** wall seconds per phase of the run, for the info line */
    private val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    private var phaseStart = System.nanoTime()
    private def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases(name) = (now - phaseStart) / 1e9
      phaseStart = now
    }
    private var attempted = 0
    private var failed = 0

    def execute(): Boolean = {
      // set-up: from process launch until the session has run a query and
      // the ontology is loaded
      val spark = session(work)
      val entries = Ontology.load()
      spark.range(1).count()
      val setupS = (System.currentTimeMillis() - launchedMs) / 1000.0
      phase("setup")
      val listener = new TaskListener
      spark.sparkContext.addSparkListener(listener)
      HeapWatch.arm(); HeapWatch.disarm() // installs the GC listeners

      val jobs = new Jobs(spark, entries, w, inputDir, work)
      val tracer = new Tracer(spark)

      // cold job: the first in this JVM
      val codegen0 = codegenMs
      val (cold, coldRoot) = jobs.run(None)
      val coldCodegenMs = codegenMs - codegen0
      phase("cold_job")
      val reference = cold.outputs
      val quality = reference.map(_ => jobs.quality(coldRoot))
      // the property card describes the input: traced runs record it
      val card = reference.filter(_ => trace).map(out => jobs.propertyCard(coldRoot, out))
        .getOrElse(Map.empty[String, Any])
      val tiers = if (trace && w.pipeline && reference.isDefined) jobs.tierCounts(coldRoot)
        else Map.empty[String, Long]
      jobs.release(coldRoot)
      record(cold, reference)
      phase("check_cold")

      // the probe runs after the cold job, so that the cold job is the
      // first work of the JVM after set-up
      noiseProbe(spark) // compiles and warms the probe itself
      val probeBefore = noiseProbe(spark)
      phase("probe_before")

      val warm = ArrayBuffer.empty[JobRun]
      // occupancy after each collection in every job after the cold one:
      // the untimed warm-up jobs run the same work, and their collections
      // double the samples of a short workload
      val heapAfterGc = ArrayBuffer.empty[Double]
      val untracedInTrace = ArrayBuffer.empty[JobRun]
      val layers = ArrayBuffer.empty[Map[String, Double]]
      val processStartS = launchedMs / 1000.0
      def elapsedS = System.currentTimeMillis() / 1000.0 - processStartS
      var loopStart = System.nanoTime()
      def loopS = (System.nanoTime() - loopStart) / 1e9
      if (reference.isDefined) {
        // a traced run compares traced and untraced jobs, so neither may be
        // the first warm job, which still pays JIT warm-up
        for (_ <- 0 until (if (trace) math.max(1, w.warmupJobs) else w.warmupJobs)) {
          val (r, root) = jobs.run(None)
          jobs.release(root)
          if (record(r, reference)) heapAfterGc ++= r.heapMb
        }
        phase("warmup_jobs")
        loopStart = System.nanoTime()
        if (!trace) {
          while ((warm.size < MinWarmJobs || loopS < seconds) && elapsedS < LastJobStartS) {
            val (r, root) = jobs.run(None)
            jobs.release(root)
            if (record(r, reference)) { warm += r; heapAfterGc ++= r.heapMb }
          }
        } else {
          while ((layers.size < MinTracedJobs || loopS < seconds) && elapsedS < LastJobStartS) {
            val (u, uRoot) = jobs.run(None)
            jobs.release(uRoot)
            if (record(u, reference)) untracedInTrace += u
            val unattributed0 = listener.unattributedTasks
            val (t, tRoot) = jobs.run(Some(tracer))
            Bridge.waitForListeners(spark)
            val unattributed = listener.unattributedTasks - unattributed0
            if (record(t, reference)) {
              warm += t
              val jobSpan = tracer.spans.filter(_.name == "job").last
              val walked = jobs.walk(tracer, tRoot)
              Bridge.waitForListeners(spark)
              layers += Layers.of(w, tracer, listener, jobSpan, t, walked, tRoot, jobs) +
                ("trace.unattributed_tasks" -> unattributed.toDouble)
            }
            jobs.release(tRoot)
          }
        }
      }

      phase("warm_jobs")
      val probeAfter = noiseProbe(spark)
      phase("probe_after")

      checkPins(reference, quality)
      val out = reference.getOrElse(Outputs(0, 0, 0, 0))
      val observed = Map[String, Any](
        "seed" -> seed, "mentions" -> out.mentions, "clusters" -> out.clusters,
        "pairs" -> out.pairs, "cluster_checksum" -> out.checksum,
        "pairwise_f1" -> quality.map(_.f1).getOrElse(Double.NaN),
        "pairwise_f1_at_key" -> quality.map(_.f1AtKey).getOrElse(Double.NaN),
        "score_checksum" -> quality.map(_.scoreChecksum).getOrElse(0L))

      val metrics: Map[String, (Double, String)] =
        if (warm.isEmpty || quality.isEmpty || (trace && layers.isEmpty)) Map.empty
        else if (!trace) {
          val jobS = median(warm.map(_.seconds).toSeq)
          Map(
            "job_s" -> (jobS, "s"),
            "rows_per_s" -> (jobs.inputRows / jobS, "1/s"),
            "cold_job_s" -> (cold.seconds, "s"),
            "setup_s" -> (setupS, "s"),
            "live_heap_mb" -> (median(heapAfterGc.toSeq), "MB"),
            "pairwise_f1" -> (quality.get.f1, "ratio"),
            "pairwise_f1_at_key" -> (quality.get.f1AtKey, "ratio"))
        } else {
          val traced = median(warm.map(_.seconds).toSeq)
          val untraced = median(untracedInTrace.map(_.seconds).toSeq)
          val keys = layers.head.keys
          keys.map(k => k -> (median(layers.map(_(k)).toSeq), Layers.Units(k))).toMap ++ Map(
            "spark.codegen_ms" -> (coldCodegenMs, "ms"),
            "scoring.edge_yield" -> (quality.get.edgeYield, "ratio"),
            "link.residue_rows" -> (tiers.getOrElse("residue", 0L).toDouble, "count"),
            "link.fuzzy_rows" -> (tiers.getOrElse("fuzzy", 0L).toDouble, "count"),
            "link.biencoder_rows" -> (tiers.getOrElse("biencoder", 0L).toDouble, "count"),
            "text.distinct_surfaces" -> (card("distinct_surfaces").asInstanceOf[Long].toDouble, "count"),
            "trace.job_s" -> (traced, "s"),
            "trace.untraced_job_s" -> (untraced, "s"),
            "trace.overhead_share" -> (traced / untraced - 1.0, "ratio"))
        }

      if (trace) {
        val f = work.resolve(s"trace-${w.name}-s$seed.json")
        Files.writeString(f, tracer.toJson)
      }
      val mapper = new ObjectMapper()
      def j(m: Map[String, Any]): java.util.Map[String, Any] = m.map {
        case (k, v: Map[_, _]) => k -> j(v.asInstanceOf[Map[String, Any]])
        case (k, v: Seq[_]) => k -> v.asJava
        case kv => kv
      }.asJava
      val info = Map[String, Any](
        "workload" -> w.name,
        "synth_version" -> pkel.transcript.TranscriptSynth.version,
        "cpus" -> cpus,
        "settings" -> Settings,
        "observed" -> observed,
        "property_card" -> card,
        "noise_probe_s" -> Map("before" -> probeBefore, "after" -> probeAfter),
        "setup_s" -> setupS,
        "cold_job_s" -> cold.seconds,
        "job_samples_s" -> warm.map(_.seconds).toSeq,
        "untraced_job_samples_s" -> untracedInTrace.map(_.seconds).toSeq,
        "heap_after_gc_mb" -> heapAfterGc.toSeq,
        "phases_s" -> phases.toMap,
        "errors" -> errors.toSeq)
      println("# info " + mapper.writeValueAsString(j(info)))
      val correct = failed == 0 && errors.isEmpty && metrics.nonEmpty
      val result = Map[String, Any](
        "correct" -> correct,
        "attempted" -> attempted,
        "failed" -> failed,
        "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })
      println(mapper.writeValueAsString(j(result)))
      spark.stop()
      correct
    }

    /** Counts a job and checks it against the cold job's outputs; true when
      * its timing may be used. */
    private def record(r: JobRun, reference: Option[Outputs]): Boolean = {
      attempted += 1
      val ok = r.outputs.isDefined && r.outputs == reference
      if (!ok) {
        failed += 1
        errors += (if (r.outputs.isEmpty) s"job failed: ${r.error}"
          else s"outputs ${r.outputs.get} differ from the first job's $reference")
      }
      ok
    }

    /** Any seed: F1 at blocking key ≥ 0.99 on the pipeline workloads. The
      * default seed: outputs equal the values pinned in the expected file. */
    private def checkPins(out: Option[Outputs], q: Option[Quality]): Unit =
      for (o <- out; qu <- q) {
        if (w.pipeline && !(qu.f1AtKey >= MinF1AtKey))
          errors += f"pairwise_f1_at_key ${qu.f1AtKey}%.6f below $MinF1AtKey"
        if (seed == DefaultSeed) {
          val node = new ObjectMapper().readTree(expectedFile.toFile).get(w.name)
          if (node == null) errors += s"no pinned outputs for ${w.name} in $expectedFile"
          else {
            val observed: Map[String, Any] =
              if (w.pipeline) Map("mentions" -> o.mentions, "clusters" -> o.clusters,
                "cluster_checksum" -> o.checksum, "pairwise_f1" -> qu.f1,
                "pairwise_f1_at_key" -> qu.f1AtKey)
              else Map("pairs" -> o.pairs, "score_checksum" -> qu.scoreChecksum)
            observed.foreach { case (k, v) =>
              val pin = node.get(k)
              val same = pin != null && (v match {
                case d: Double => math.abs(pin.asDouble - d) <= 1e-9
                case l: Long => pin.asLong == l
              })
              if (!same) errors += s"$k = $v, pinned ${Option(pin).map(_.toString).getOrElse("nothing")}"
            }
          }
        }
      }
  }
}
