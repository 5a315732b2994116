package graft

import org.apache.spark.sql.functions._

/** Micro-bench for the bloom-prefilter crossover in
  * `Corpus.minhashPairsIncremental` (r15 verdict #4: "demonstrate the
  * crossover at least directionally — a corpus/batch ratio sweep").
  *
  * Sweeps the ingest-batch fraction at a fixed corpus (the sf dir's
  * documents table) and times the incremental pair generation with
  * the bitmap pinned ON vs OFF — the only variable is the routing.
  * The build cost is O(batch band keys) + a driver collect and does
  * not shrink with the batch, while the saving grows with the
  * CORPUS rows the bitmap rejects, so the win must appear at small
  * batch fractions and invert at backfill-shaped ones; the printed
  * table is the measured basis for the `bloom = "auto"` threshold
  * (see minhashPairsIncremental's scaladoc and PERF.md round-16).
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32
  *        sbt "runMain graft.BloomAB"
  */
object BloomAB {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Engine.localSession(defaultCpus = 32)
    val docs = graft.sources.Sources.table(spark, sfDir, "documents")
    val nDocs = docs.count()
    // batch fraction sweep: backfill-shaped (50%) down to the daily-
    // ingest shape (1%)
    val fracs = Seq(0.5, 0.25, 0.125, 0.05, 0.02, 0.01)
    println(f"corpus=$nDocs%d docs ($sfDir)")
    println("frac\tbatch\tbloom_off_s\tbloom_on_s\ton/off")
    fracs.foreach { f =>
      val cut = (nDocs * (1 - f)).toLong
      def time(mode: String): Double = {
        // min of two: same contention armor as Bench
        (0 until 2).map { _ =>
          val t0 = System.nanoTime()
          graft.operators.Corpus.minhashPairsIncremental(
              docs, isNew = col("doc_id") >= cut, minJaccard = 0.5,
              bloom = mode)
            .queryExecution.toRdd.count()
          (System.nanoTime() - t0) / 1e9
        }.min
      }
      val off = time("off")
      val on = time("on")
      println(f"$f%.3f\t${nDocs - cut}%d\t$off%.2f\t$on%.2f\t${on / off}%.2f")
    }
    // ── axis 2: corpus size at a fixed small batch ───────────────────
    // The ratio sweep above shows the bitmap build is a ~constant
    // driver-side cost — the crossover axis is CORPUS band rows (what
    // the bitmap saves from the shuffle), so replicate the corpus
    // k× (doc_ids offset; batch = the original tail fraction) and
    // watch on/off fall with k. Copies carry a distinct lead token so
    // replicas aren't trivial near-dups of each other's batch.
    println("mult\tcorpus\tbatch\tbloom_off_s\tbloom_on_s\ton/off")
    Seq(1, 4, 16).foreach { k =>
      val big = (0 until k).map { i =>
        docs.select((col("doc_id") + lit(i * 10000000L)).as("doc_id"),
          concat(lit(s"c$i q$i z$i "), col("text")).as("text"))
      }.reduce(_ unionByName _)
      val bigN = nDocs * k
      val cut = (nDocs * 0.98).toLong // batch = 2% of ORIGINAL corpus
      val isNew = col("doc_id") % 10000000L >= cut &&
        col("doc_id") < 10000000L
      def time2(mode: String): Double =
        (0 until 2).map { _ =>
          val t0 = System.nanoTime()
          graft.operators.Corpus.minhashPairsIncremental(
              big, isNew = isNew, minJaccard = 0.5, bloom = mode)
            .queryExecution.toRdd.count()
          (System.nanoTime() - t0) / 1e9
        }.min
      val off = time2("off")
      val on = time2("on")
      println(f"$k%d\t$bigN%d\t${nDocs - cut}%d\t$off%.2f\t$on%.2f\t${on / off}%.2f")
    }
    spark.stop()
  }
}
