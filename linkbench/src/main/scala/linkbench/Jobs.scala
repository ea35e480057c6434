package linkbench

import java.lang.management.ManagementFactory
import java.nio.file.Path
import javax.management.NotificationEmitter
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import pkel.app.Pipeline
import pkel.blocking.PairGen
import pkel.cluster.ConnectedComponents
import pkel.eval.Metrics
import pkel.io.StageStore
import pkel.link.{Cascade, ExactLinker}
import pkel.model.OntologyEntry
import pkel.scoring.PairScorer

/** What a job produced; two jobs over the same input must agree exactly. */
final case class Outputs(mentions: Long, clusters: Long, pairs: Long, checksum: Long)

/** One job's measurement. `outputs` is None when the job threw. */
final case class JobRun(seconds: Double, heapMb: Seq[Double], gcSeconds: Double,
    outputs: Option[Outputs], error: String)

/** Heap occupancy after each collection while armed. */
object HeapWatch {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  @volatile private var armed = false
  private val samples = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: AnyRef) =>
        if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          samples.add(info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum)
        }, null, null)
    case _ =>
  }

  def arm(): Unit = { samples.clear(); armed = true }

  /** MB after each collection since [[arm]]; a job that triggered none
    * reports the occupancy after one forced collection at its end. */
  def disarm(): Seq[Double] = {
    if (samples.isEmpty) System.gc()
    Thread.sleep(20) // notifications arrive on a JMX service thread
    armed = false
    samples.asScala.map(_ / (1024.0 * 1024.0)).toSeq
  }

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0
}

/** Runs and checks the jobs of one workload in one session. */
final class Jobs(spark: SparkSession, entries: Seq[OntologyEntry], w: Workload,
    inputDir: Path, work: Path) {

  val cfg = Pipeline.Config()
  private val inputPath = inputDir.resolve("input").toString
  private var n = 0

  /** Input rows: transcript turns, or keyed mentions. */
  lazy val inputRows: Long = spark.read.parquet(inputPath).count()

  private def jobRoot(id: Int): Path = work.resolve("runs").resolve(s"job-$id")

  private def stageDir(root: Path, stage: String): String = root.resolve(stage).toString

  /** Run one job. `tracer` records spans around it; the returned root holds
    * the job's committed stages until [[release]]. */
  def run(tracer: Option[Tracer]): (JobRun, Path) = {
    n += 1
    val root = jobRoot(n)
    Workloads.deleteRecursively(root)
    System.gc()
    HeapWatch.arm()
    val gc0 = HeapWatch.gcSeconds
    val t0 = System.nanoTime()
    val attempt = scala.util.Try {
      val job = tracer.map(_.beginJob(s"job-$n"))
      try {
        if (w.pipeline) {
          val inner = StageStore.forBackend("snapshot", spark, root.toString, s"job-$n")
          val store = tracer.fold(inner)(tr => new TracingStore(inner, tr, job.get, spark))
          val (_, summary) = Pipeline.run(spark, spark.read.parquet(inputPath), entries, cfg, store)
          (summary.mentions, summary.clusters, summary.pairs)
        } else {
          def score(): Long = PairScorer.scoreCandidates(spark.read.parquet(inputPath)).count()
          (0L, 0L, tracer.fold(score())(_.span("PairScorer.scoreCandidates")(score())))
        }
      } finally job.foreach(j => tracer.get.close(j))
    }
    val seconds = (System.nanoTime() - t0) / 1e9
    val gc = HeapWatch.gcSeconds - gc0
    val heap = HeapWatch.disarm()
    val checked = attempt.flatMap { case (mentions, clusters, pairs) =>
      scala.util.Try(Outputs(mentions, clusters, pairs, if (w.pipeline) checkPipeline(root) else 0L))
    }
    (JobRun(seconds, heap, gc, checked.toOption,
      checked.failed.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}").getOrElse("")), root)
  }

  /** Asserts that all seven stages were computed in this job, and returns an
    * order-independent checksum of its (mention_id, cluster_id) rows. */
  private def checkPipeline(root: Path): Long = {
    val computed = spark.read.parquet(root.resolve("_metrics").toString)
      .filter(col("partition_id") >= 0).select("stage").distinct()
      .collect().map(_.getString(0)).toSet
    require(computed == Jobs.Stages, s"stages computed: ${computed.toSeq.sorted.mkString(",")}")
    checksum(spark.read.parquet(stageDir(root, "clusters")), Seq("mention_id", "cluster_id"))
  }

  /** Sum of the low 32 bits of each row's hash: order-independent and free
    * of long overflow below 2^31 rows. */
  private def checksumOf(cols: Seq[org.apache.spark.sql.Column]): org.apache.spark.sql.Column =
    coalesce(sum(xxhash64(cols: _*).bitwiseAND(lit(0xffffffffL))), lit(0L))

  private def checksum(df: DataFrame, cols: Seq[String]): Long =
    df.agg(checksumOf(cols.map(col))).head().getLong(0)

  /** Drops everything a job leaves in the JVM: memo tables (JVM-wide),
    * cached datasets, persisted RDDs and the job's stage root. */
  def release(root: Path): Unit = {
    pkel.text.Memo.clearAll()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    Workloads.deleteRecursively(root)
  }

  /** Gold check of one job's outputs, with the edge yield. Pipeline
    * workloads score the committed clusters; `pair_scoring` rescores the
    * input and judges each pair's ≥θ decision, and returns a checksum of
    * every scored pair. */
  def quality(root: Path): Quality = {
    val gold = Workloads.gold(spark, inputDir)
    if (w.pipeline) {
      val clusters = spark.read.parquet(stageDir(root, "clusters"))
      val assign = clusters.join(gold, "mention_id")
        .select(col("gold"), col("blocking_key"),
          when(col("is_nil"), concat(lit("nil#"), col("mention_id")))
            .otherwise(col("cluster_id").cast("string")).as("pred"))
      val (pw, pwKey) = Metrics.pairwiseF1Both(assign)
      val scored = spark.read.parquet(stageDir(root, "scored"))
      val r = scored.agg(count(lit(1)), sum(when(col("score") >= cfg.edgeThreshold, 1L).otherwise(0L))).head()
      Quality(pw.f1, pwKey.f1, 0L, r.getLong(1).toDouble / math.max(1L, r.getLong(0)))
    } else {
      // one pass over the scored pairs: the ≥θ decision of every pair with
      // gold on both ends is judged as a same-entity prediction
      val keyed = spark.read.parquet(inputPath)
      val labels = keyed.select("mention_id", "blocking_key").join(gold, "mention_id")
      def side(s: String): DataFrame = broadcast(labels.select(
        col("mention_id").as(s), col("blocking_key").as(s"k_$s"), col("gold").as(s"g_$s")))
      val pairs = PairScorer.scoreCandidates(keyed)
        .join(side("src"), Seq("src"), "left").join(side("dst"), Seq("dst"), "left")
      val pred = col("score") >= cfg.edgeThreshold
      val same = col("g_src") === col("g_dst") && col("g_src") =!= Jobs.NilEntity
      val atKey = col("k_src") === col("k_dst")
      def n(c: org.apache.spark.sql.Column) = coalesce(sum(when(c, 1L).otherwise(0L)), lit(0L))
      val r = pairs.agg(count(lit(1)), n(pred), checksumOf(Jobs.ScoreCols),
        n(pred && same), n(pred && col("g_src").isNotNull && col("g_dst").isNotNull), n(same),
        n(pred && same && atKey), n(pred && atKey && col("g_src").isNotNull && col("g_dst").isNotNull),
        n(same && atKey)).head()
      def f1(tp: Long, predicted: Long, actual: Long): Double = {
        val p = if (predicted > 0) tp.toDouble / predicted else 0.0
        val rec = if (actual > 0) tp.toDouble / actual else 0.0
        if (p + rec > 0) 2 * p * rec / (p + rec) else 0.0
      }
      Quality(f1(r.getLong(3), r.getLong(4), r.getLong(5)), f1(r.getLong(6), r.getLong(7), r.getLong(8)),
        r.getLong(2), r.getLong(1).toDouble / math.max(1L, r.getLong(0)))
    }
  }

  /** Input properties the workload was chosen for (untimed). */
  def propertyCard(root: Path, out: Outputs): Map[String, Any] = {
    val keyed =
      if (w.pipeline) spark.read.parquet(stageDir(root, "keyed")) else spark.read.parquet(inputPath)
    val mentions = keyed.count()
    val perKey = keyed.groupBy("blocking_key").count()
    val k = perKey.agg(count(lit(1)), max(col("count"))).head()
    val surfaces = keyed.agg(countDistinct(col("mention"))).head().getLong(0)
    val base = Map[String, Any](
      "input_rows" -> inputRows,
      "mentions" -> mentions,
      "distinct_blocking_keys" -> k.getLong(0),
      "largest_key_share" -> k.getLong(1).toDouble / mentions,
      "distinct_surfaces" -> surfaces,
      "memo_cap" -> pkel.text.Memo.DefaultCap,
      "pairs_per_mention" -> out.pairs.toDouble / mentions)
    if (!w.pipeline) base
    else base + ("past_exact_share" -> tierCounts(root)("residue").toDouble / mentions)
  }

  /** Mentions past the exact tier, resolved by the fuzzy tiers, and reaching
    * the bi-encoder tier, from one job's committed `linked` stage. */
  def tierCounts(root: Path): Map[String, Long] = {
    val r = spark.read.parquet(stageDir(root, "linked")).agg(
      sum(when(col("tier") =!= "exact", 1L).otherwise(0L)),
      sum(when(col("tier").isin("fuzzy", "fuzzy_surface"), 1L).otherwise(0L)),
      sum(when(col("tier") === "biencoder", 1L).otherwise(0L))).head()
    def v(i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
    Map("residue" -> v(0), "fuzzy" -> v(1), "biencoder" -> v(2))
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Calls each layer's public functions directly, one span per call, over
    * the traced job's committed stages (pipeline) or the keyed input
    * (`pair_scoring`). Memos start empty, as in a job, and fill in pipeline
    * order. Returns the counts the calls produced. */
  def walk(tr: Tracer, root: Path): Map[String, Long] = {
    pkel.text.Memo.clearAll()
    val job = tr.beginJob(s"walk-$n")
    try {
      val keyedIn =
        if (!w.pipeline) spark.read.parquet(inputPath)
        else {
          tr.span("Pipeline.extractMentions")(noop(Pipeline.extractMentions(spark.read.parquet(inputPath))))
          val mentions = spark.read.parquet(stageDir(root, "mentions"))
          tr.span("ExactLinker.withBlockingKey")(noop(ExactLinker.withBlockingKey(mentions)))
          val keyed = spark.read.parquet(stageDir(root, "keyed"))
          tr.span("Cascade.run")(noop(Cascade.run(spark, keyed.drop("ordering_ok"), entries, cfg.cascade)))
          spark.catalog.clearCache()
          keyed.select("mention_id", "blocking_key", "tokens", "mention")
        }
      tr.span("PairGen.annotated")(noop(PairGen.annotated(keyedIn, cfg.pairCfg)))
      tr.span("PairGen.saltedBucketTable")(noop(PairGen.saltedBucketTable(keyedIn, cfg.pairCfg)))
      val sparse = tr.span("PairGen.sparsePairsFromAnnotated")(
        PairGen.sparsePairsFromAnnotated(PairGen.annotated(keyedIn, cfg.pairCfg), keyedIn, cfg.pairCfg).count())
      if (!w.pipeline) Map("sparse_pairs" -> sparse)
      else {
        val pairs = tr.span("PairScorer.scoreCandidates")(
          PairScorer.scoreCandidates(keyedIn, cfg.pairCfg, cfg.weights).count())
        val sim = spark.read.parquet(stageDir(root, "edges")).filter(col("dst") >= 0L)
        val simEdges = sim.count()
        val iterations = tr.span("ConnectedComponents.runWithStats") {
          val (roots, it) = ConnectedComponents.runWithStats(spark, sim, inputCanonical = true)
          roots.count()
          it
        }
        Map("sparse_pairs" -> sparse, "pairs" -> pairs,
          "cc_iterations" -> iterations.toLong, "cc_edges_in" -> simEdges)
      }
    } finally tr.close(job)
  }

  /** Seconds of stage work per committed stage, from the job's own
    * `_metrics` rows. */
  def commitWalls(root: Path): Map[String, Double] =
    spark.read.parquet(root.resolve("_metrics").toString)
      .filter(col("partition_id") >= 0).select("stage", "wall_ms").distinct()
      .collect().map(r => r.getString(0) -> r.getLong(1) / 1000.0).toMap
}

final case class Quality(f1: Double, f1AtKey: Double, scoreChecksum: Long, edgeYield: Double)

object Jobs {
  /** The ontology's NIL entity: never a gold match (as in `pkel.eval.Metrics`). */
  val NilEntity = "Q100"
  /** Scores rounded to 1e-6, so that a last-ulp change in float evaluation
    * order does not read as a wrong output. */
  val ScoreCols: Seq[org.apache.spark.sql.Column] = Seq(col("src"), col("dst"), round(col("score"), 6))
  val Stages = Set("mentions", "keyed", "linked", "scored", "edges", "components", "clusters")
}
