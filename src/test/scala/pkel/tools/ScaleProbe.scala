package pkel.tools

/** Pair-pipeline timing probe:
  * sbt "Test/runMain pkel.tools.ScaleProbe <cpus> <nConvs> [reps] [scored|pairs|buckets|kernel]"
  * Times candidate-pair generation + batched scoring (the bench window) from
  * the materialized keyed-mention parquet. `scored` (default) scores the
  * relational candidate pairs, `pairs` only counts them, `buckets` counts the
  * salted bucket table and `kernel` runs the production `scoreCandidates`. */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val cpus = args.headOption.getOrElse("32")
    val nConvs = args.lift(1).map(_.toLong).getOrElse(20000L)
    val reps = args.lift(2).map(_.toInt).getOrElse(2)
    val spark = graft.Bench.session(cpus)
    val path = graft.Bench.materializeKeyed(spark, nConvs)
    (1 to reps).foreach { rep =>
      val keyed = spark.read.parquet(path)
      val t0 = System.nanoTime()
      val pairs = pkel.blocking.PairGen.candidatePairsWithFeatures(keyed)
      val stageTokens = Set("scored", "pairs", "buckets", "kernel")
      val stage = args.reverse.find(stageTokens.contains).getOrElse("scored")
      val n = stage match {
        case "buckets" => pkel.blocking.PairGen.saltedBucketTable(keyed).count()
        case "pairs" => pairs.count()
        case "kernel" => pkel.scoring.PairScorer.scoreCandidates(keyed).count()
        case _ => pkel.scoring.PairScorer.scorePairs(pairs).count()
      }
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"PROBE cpus=$cpus convs=$nConvs stage=$stage rep=$rep pairs=$n sec=$sec%.2f pps=${n / sec}%.0f")
    }
    spark.stop()
  }
}
