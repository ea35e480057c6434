package pkel.scoring

import org.apache.spark.sql.functions._
import pkel.SparkSpec
import pkel.blocking.PairGen

/** Pins the kernel-fused bucket scoring path (`scoreCandidates`) to the
  * relational reference path (`scorePairs` over exploded candidate pairs). */
class PairScorerSpec extends SparkSpec {

  import spark.implicits._

  private def keyedDf(rows: Seq[(Long, String, String)]) =
    rows.toDF("mention_id", "blocking_key", "mention")
      .withColumn("tokens", split(col("blocking_key"), " "))

  private val corpus = keyedDf(
    (1L to 300L).map { i =>
      val key = i % 5 match {
        case 0 => "auc inf"; case 1 => "cl"; case 2 => "auc ss"
        case 3 => "t1/2"; case _ => "vd ss"
      }
      // seven surfaces per key, shared by many mentions: buckets intern
      // d < n surfaces and the cross-bucket surface-pair memo hits
      (i, key, s"surface ${key.toUpperCase} ${i % 7}")
    })

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.select(col("src"), col("dst"), (col("score") * 1e6).cast("long").as("score_q"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet

  // every surface distinct: the per-partition score memos never hit
  private val uniqueSurfaces = keyedDf((1L to 120L).map(i => (i, "cl", s"unique-surface-$i")))

  private def fullRowsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long, Long, Long)] =
    df.select(col("src"), col("dst"),
      (col("key_sim") * 1e6).cast("long"), (col("jw_sim") * 1e6).cast("long"),
      (col("cos_sim") * 1e6).cast("long"), (col("score") * 1e6).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet

  test("scoreCandidates == scorePairs over candidatePairsWithFeatures (pair set + scores)") {
    // both salt modes (adaptive buckets, and fixed salt with its unbounded
    // buckets) over both corpora (repeated surfaces, and the memo-miss
    // regime), comparing all four similarity columns
    for {
      (corpusName, mentions) <- Seq("repeated surfaces" -> corpus, "unique surfaces" -> uniqueSurfaces)
      cfg <- Seq(
        PairGen.Config(adaptiveSalt = true, targetBucketSize = 16),
        PairGen.Config(adaptiveSalt = false, saltBuckets = 4))
    } {
      val viaKernel = fullRowsOf(PairScorer.scoreCandidates(mentions, cfg))
      val viaRows = fullRowsOf(PairScorer.scorePairs(PairGen.candidatePairsWithFeatures(mentions, cfg)))
      assert(viaKernel == viaRows,
        s"$corpusName, cfg=$cfg kernel-only: ${(viaKernel -- viaRows).take(5)}; " +
          s"rows-only: ${(viaRows -- viaKernel).take(5)}")
      assert(viaKernel.nonEmpty, s"$corpusName, cfg=$cfg")
    }
  }

  test("scoreCandidates rows are invariant to shuffle-partition count") {
    val cfg = PairGen.Config(adaptiveSalt = true, targetBucketSize = 16)
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "3")
      val a = rowsOf(PairScorer.scoreCandidates(corpus.repartition(3), cfg))
      spark.conf.set("spark.sql.shuffle.partitions", "11")
      val b = rowsOf(PairScorer.scoreCandidates(corpus.repartition(11), cfg))
      assert(a == b, "pair set + scores must not depend on physical layout")
      assert(a.nonEmpty)
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }
}
