package linkbench

import java.nio.file.Path

/** Per-layer metrics of one traced job and the layer calls that followed it.
  * See METRICS.md for the end-to-end metric and workload each should move.
  * A layer the workload does not run reports 0. */
object Layers {

  private val MB = 1024.0 * 1024.0

  val Units: Map[String, String] = Map(
    "app.extract_s" -> "s", "app.linked_s" -> "s", "app.edges_s" -> "s", "app.clusters_s" -> "s",
    "app.unattributed_s" -> "s",
    "io.commit_s" -> "s", "io.bytes_written_mb" -> "MB",
    "text.keyed_s" -> "s",
    "link.cascade_s" -> "s", "link.cascade_cpu_s" -> "s",
    "blocking.annotate_s" -> "s", "blocking.shuffle_write_mb" -> "MB",
    "blocking.max_task_ratio" -> "ratio", "blocking.sparse_pairs" -> "count",
    "scoring.score_s" -> "s", "scoring.cpu_s" -> "s", "scoring.pairs" -> "count",
    "scoring.pairs_per_s" -> "1/s",
    "cluster.cc_s" -> "s", "cluster.iterations" -> "count", "cluster.edges_in" -> "count",
    "spark.gc_s" -> "s", "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.tasks" -> "count",
    "trace.unattributed_tasks" -> "count")

  def of(w: Workload, tr: Tracer, listener: TaskListener, job: Span, run: JobRun,
      walked: Map[String, Long], root: Path, jobs: Jobs): Map[String, Double] = {
    val inJob = tr.subtree(job)
    val after = tr.spans.filter(_.id > job.id)
    def stage(name: String): Double =
      inJob.find(_.name == s"stage.$name").map(_.seconds).getOrElse(0.0)
    def call(name: String): Option[Span] = after.filter(_.name == name).lastOption
    def secs(name: String): Double = call(name).map(_.seconds).getOrElse(0.0)
    def cpu(s: Option[Span]): Double = s.map(x => listener.sum(tr.subtree(x)).cpuNs / 1e9).getOrElse(0.0)
    val totals = listener.sum(inJob)

    val scoreSpan =
      if (w.pipeline) call("PairScorer.scoreCandidates")
      else inJob.find(_.name == "PairScorer.scoreCandidates")
    val scoreS = scoreSpan.map(_.seconds).getOrElse(0.0)
    val pairs = if (w.pipeline) walked.getOrElse("pairs", 0L) else run.outputs.map(_.pairs).getOrElse(0L)

    val buckets = call("PairGen.saltedBucketTable").map(s => listener.sum(tr.subtree(s)))
    // task skew of the bucket table's busiest Spark stage
    val maxTaskRatio = buckets.flatMap { b =>
      if (b.runMsByStage.isEmpty) None
      else {
        val times = b.runMsByStage.values.maxBy(_.sum).map(_.toDouble).toSeq
        Some(times.max / math.max(1.0, Main.median(times)))
      }
    }.getOrElse(0.0)

    val commitCalls = inJob.filter(_.name == "StageStore.commit").map(_.seconds).sum
    val walls = if (w.pipeline) jobs.commitWalls(root) else Map.empty[String, Double]

    Map(
      "app.extract_s" -> stage("mentions"),
      "app.linked_s" -> stage("linked"),
      "app.edges_s" -> stage("edges"),
      "app.clusters_s" -> stage("clusters"),
      "app.unattributed_s" -> (if (w.pipeline) run.seconds - commitCalls else 0.0),
      "io.commit_s" -> walls.values.sum,
      "io.bytes_written_mb" -> (if (w.pipeline) totals.outputBytes / MB else 0.0),
      "text.keyed_s" -> secs("ExactLinker.withBlockingKey"),
      "link.cascade_s" -> secs("Cascade.run"),
      "link.cascade_cpu_s" -> cpu(call("Cascade.run")),
      "blocking.annotate_s" -> secs("PairGen.annotated"),
      "blocking.shuffle_write_mb" -> buckets.map(_.shuffleWriteBytes / MB).getOrElse(0.0),
      "blocking.max_task_ratio" -> maxTaskRatio,
      "blocking.sparse_pairs" -> walked.getOrElse("sparse_pairs", 0L).toDouble,
      "scoring.score_s" -> scoreS,
      "scoring.cpu_s" -> cpu(scoreSpan),
      "scoring.pairs" -> pairs.toDouble,
      "scoring.pairs_per_s" -> (if (scoreS > 0) pairs / scoreS else 0.0),
      "cluster.cc_s" -> secs("ConnectedComponents.runWithStats"),
      "cluster.iterations" -> walked.getOrElse("cc_iterations", 0L).toDouble,
      "cluster.edges_in" -> walked.getOrElse("cc_edges_in", 0L).toDouble,
      "spark.gc_s" -> run.gcSeconds,
      "spark.shuffle_write_mb" -> totals.shuffleWriteBytes / MB,
      "spark.spill_mb" -> totals.diskSpillBytes / MB,
      "spark.tasks" -> totals.tasks.toDouble)
  }
}
