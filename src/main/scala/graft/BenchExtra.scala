package graft

import org.apache.spark.sql.SparkSession

/** Round-6 optimization harness (guide §1): per-query isolation OUTSIDE the
  * frozen driver bench. For each named battery query it
  *  - times the frozen methodology action (`df.count()`) over `reps` reps,
  *  - times a `noop`-sink write (guide §1.4 — computes every column, so the
  *    timing cannot be flattered by count-only column pruning),
  *  - dumps `.explain("formatted")` to `plans/r06/<query>_<tag>.txt`,
  * labelling every job (`setJobDescription`) so ad-hoc UI runs stay legible.
  * Usage: runMain graft.BenchExtra <tag> [reps] [query ...]
  * (tag = "before"/"after"; no query names = the whole battery). Timings are
  * printed one line per rep; nothing here feeds the driver contract. */
object BenchExtra {

  def main(args: Array[String]): Unit = {
    val tag = if (args.nonEmpty) args(0) else "adhoc"
    val reps = if (args.length > 1) args(1).toInt else 2
    // "el_pair_scoring" is a valid arg (probe-only run) but not a battery
    // query — filter requested names against the registry
    val requested = if (args.length > 2) args.drop(2).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val names = requested.filter(SparkEntry.queries.contains)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark: SparkSession = Bench.session(cpus)
    Queries.setDumpEnabled(false)
    val planDir = java.nio.file.Paths.get("/root/repo/plans/r06")
    java.nio.file.Files.createDirectories(planDir)
    // same warm-up discipline as the frozen bench: stateless queries warm on
    // the target dir, q_el_* on the smallest sf (their caches would otherwise
    // serve the timed rep from memory)
    val warmDir = "/root/testdata/sf0.001"
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      spark.sparkContext.setJobDescription(s"warmup:$name")
      if (name.startsWith("q_el_"))
        try fn(spark, warmDir).count() catch { case _: Throwable => () }
      else
        try fn(spark, sfDir).count() catch { case _: Throwable => () }
    }
    Queries.releaseCaches(spark)
    val out = new StringBuilder
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // a rep that throws records its FAIL line in place of a timing, so a
      // crashed query can never read as a fast one
      def timed(label: String, fail: String)(run: => Unit): Unit = {
        val t0 = System.nanoTime()
        val line =
          try { run; f"EXTRA $name%-28s $label%-10s ${(System.nanoTime() - t0) / 1e9}%9.3f s" }
          catch { case e: Throwable => s"$fail $name: $e" }
        println(line); out.append(line).append('\n')
      }
      (1 to reps).foreach { rep =>
        spark.sparkContext.setJobDescription(s"$tag:$name:count:$rep")
        timed(s"count rep$rep", "FAIL")(fn(spark, sfDir).count())
      }
      // noop isolation (skip streaming rows: their work is eager inside fn
      // and a second full stream run per rep would double-charge it)
      if (!name.startsWith("q_stream_")) {
        spark.sparkContext.setJobDescription(s"$tag:$name:noop")
        timed("noop", "FAIL-noop")(fn(spark, sfDir).write.format("noop").mode("overwrite").save())
      }
      // streaming queries execute eagerly inside the builder: a plan dump
      // would re-run the whole stream just to print the memory-sink table
      // scan, so it is skipped (their evidence is code + measured seconds)
      if (!name.startsWith("q_stream_")) try {
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(planDir.resolve(s"${name}_$tag.txt"), plan)
      } catch { case e: Throwable => println(s"FAIL-plan $name: $e") }
      spark.sparkContext.setJobDescription(null)
    }
    // pair-scoring probe isolation (frozen bench methodology: count over the
    // pre-materialized keyed table, best of reps)
    if (requested.contains("el_pair_scoring") || args.length <= 2) {
      val probeConvs = math.max(20000L, (10000000L * Queries.sfOf(sfDir)).toLong)
      val keyedPath = Bench.materializeKeyed(spark, probeConvs)
      (1 to reps).foreach { rep =>
        spark.sparkContext.setJobDescription(s"$tag:el_pair_scoring:$rep")
        val (n, ps) = Bench.pairThroughputFrom(spark, keyedPath)
        val line = f"EXTRA el_pair_scoring rep$rep pairs=$n%d ${n / ps}%9.3f s (${ps / 1e6}%.1f M pairs/s)"
        println(line); out.append(line).append('\n')
      }
      val keyed = spark.read.parquet(keyedPath)
      val plan = pkel.scoring.PairScorer.scoreCandidates(keyed)
        .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(planDir.resolve(s"el_pair_scoring_$tag.txt"), plan)
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"/root/repo/BENCH/extra_$tag.txt"), out.toString)
    spark.stop()
  }
}
