package graft

import org.apache.spark.sql.functions._
import graft.operators.IncrementalAgg
import graft.store.Store
import graft.streaming.RollupIngest

/** The streaming rollup store: snapshot-rename commits, replay
  * rejection (count/sum are not idempotent — the guard is the whole
  * game), crash recovery from a leftover staging dir, and equality
  * with a from-scratch rollup after every path. */
class RollupIngestSpec extends SparkSpec {
  import spark.implicits._

  private val keys = Seq("g")

  private def batchDf(seed: Int, n: Int) = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i =>
      (s"g${rnd.nextInt(3)}", rnd.nextInt(100).toLong, s"u${rnd.nextInt(40)}"))
      .toDF("g", "v", "u")
  }

  test("three batches + replay + crashed staging == one-shot rollup") {
    val dir = tmpDir("graft-rollup")
    val b = Seq(batchDf(1, 300), batchDf(2, 300), batchDf(3, 300))

    assert(RollupIngest.processBatch(b(0), dir, keys, "v", "u", 0L))
    assert(RollupIngest.processBatch(b(1), dir, keys, "v", "u", 1L))
    // at-least-once replay of an applied batch: rejected
    assert(!RollupIngest.processBatch(b(1), dir, keys, "v", "u", 1L))
    assert(!RollupIngest.processBatch(b(0), dir, keys, "v", "u", 0L))

    // crash mid-attempt for batch 2: staging dir left behind, no commit
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/.staging_v2/scalar"))
    assert(Store.latestVersion(spark, dir).map(_._1).contains(1L))
    // the replayed attempt overwrites the leftover and commits
    assert(RollupIngest.processBatch(b(2), dir, keys, "v", "u", 2L))
    assert(Store.latestVersion(spark, dir).map(_._1).contains(2L))

    val all = b.reduce(_ union _)
    val expected = IncrementalAgg.finalizeState(
      IncrementalAgg.scalarState(all, keys, "v"),
      IncrementalAgg.distinctState(all, keys, "u"), keys, "d")
    val got = RollupIngest.currentRollup(spark, dir, keys, "d").get
    assert(got.orderBy("g").collect().toSeq ==
      expected.select(got.columns.map(col).toIndexedSeq: _*)
        .orderBy("g").collect().toSeq)

    // pruning kept only the last two snapshots
    val vs = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(_.getPath.getName.matches("v\\d+")).map(_.getPath.getName)
    assert(vs.sorted.toSeq == Seq("v1", "v2"))
  }

  test("histogram state rides the snapshot: streaming quantiles == one-shot") {
    val dir = tmpDir("graft-rollup-q")
    val b = Seq(batchDf(5, 400), batchDf(6, 400))
    val width = 10L
    assert(RollupIngest.processBatch(b(0), dir, keys, "v", "u", 0L, histWidth = width))
    assert(RollupIngest.processBatch(b(1), dir, keys, "v", "u", 1L, histWidth = width))
    // replay still rejected with the third table present
    assert(!RollupIngest.processBatch(b(1), dir, keys, "v", "u", 1L, histWidth = width))

    val qs = Seq(500, 900)
    val got = RollupIngest.currentQuantiles(spark, dir, keys, qs).get
    val oneShot = IncrementalAgg.quantilesFromState(
      IncrementalAgg.histogramState(b.reduce(_ union _), keys, "v", width),
      keys, width, qs)
    assert(got.orderBy("g", "quantile_permille").collect().toSeq ==
      oneShot.select(got.columns.map(col).toIndexedSeq: _*)
        .orderBy("g", "quantile_permille").collect().toSeq)

    // a batch applied with the knob FORGOTTEN (histWidth default) must
    // carry the histogram state forward, not destroy it through pruning
    // — and the gap must be DETECTABLE: the carried histogram is missing
    // those batches' values forever, so their ids ride the snapshot
    assert(RollupIngest.staleQuantileBatches(spark, dir).isEmpty)
    assert(RollupIngest.processBatch(batchDf(7, 100), dir, keys, "v", "u", 2L))
    assert(RollupIngest.processBatch(batchDf(8, 100), dir, keys, "v", "u", 3L))
    assert(RollupIngest.currentQuantiles(spark, dir, keys, qs).nonEmpty)
    assert(RollupIngest.staleQuantileBatches(spark, dir) == Seq(2L, 3L))
    // re-enabling the knob keeps the ledger: staleness never un-happens
    assert(RollupIngest.processBatch(batchDf(10, 50), dir, keys, "v", "u", 4L,
      histWidth = width))
    assert(RollupIngest.staleQuantileBatches(spark, dir) == Seq(2L, 3L))

    // width mismatch between batches must error, never sum mixed buckets
    intercept[IllegalArgumentException] {
      RollupIngest.processBatch(batchDf(9, 50), dir, keys, "v", "u", 5L,
        histWidth = width * 10)
    }

    // a store committed WITHOUT histWidth serves no quantiles, and
    // enabling mid-stream errors (partial-history percentiles)
    val dir2 = tmpDir("graft-rollup-nq")
    assert(RollupIngest.processBatch(b(0), dir2, keys, "v", "u", 0L))
    assert(RollupIngest.currentQuantiles(spark, dir2, keys, qs).isEmpty)
    intercept[IllegalStateException] {
      RollupIngest.processBatch(b(1), dir2, keys, "v", "u", 1L, histWidth = width)
    }
  }

  test("frequency sketch rides the snapshot: streaming estimates == one-shot") {
    import graft.functions.CountMin
    val dir = tmpDir("graft-rollup-f")
    val b = Seq(batchDf(11, 300), batchDf(12, 300))
    assert(RollupIngest.processBatch(b(0), dir, keys, "v", "u", 0L, freqCol = "u"))
    assert(RollupIngest.processBatch(b(1), dir, keys, "v", "u", 1L, freqCol = "u"))
    assert(!RollupIngest.processBatch(b(1), dir, keys, "v", "u", 1L, freqCol = "u"))

    // maintained registers == one-shot sketch of the union, exactly
    val all = b.reduce(_ union _)
    val vals = all.select("u").distinct()
    val want = CountMin.estimate(CountMin.registers(all, "u"), vals, "u")
      .orderBy("u").as[(String, Long)].collect().toSeq
    val got = RollupIngest.currentFrequencies(spark, dir, vals, "u").get
      .orderBy("u").as[(String, Long)].collect().toSeq
    assert(got == want)
    // one-sided: estimate never undercounts the true frequency
    val truth = all.groupBy("u").agg(count(lit(1)).as("cnt"))
    val joined = RollupIngest.currentFrequencies(spark, dir, vals, "u").get
      .join(truth, "u").select("est", "cnt").as[(Long, Long)].collect()
    assert(joined.forall { case (est, cnt) => est >= cnt })

    // forgotten knob: state carried forward, the gap recorded forever
    assert(RollupIngest.staleFrequencyBatches(spark, dir).isEmpty)
    assert(RollupIngest.processBatch(batchDf(13, 100), dir, keys, "v", "u", 2L))
    assert(RollupIngest.staleFrequencyBatches(spark, dir) == Seq(2L))
    val carried = RollupIngest.currentFrequencies(spark, dir, vals, "u").get
      .orderBy("u").as[(String, Long)].collect().toSeq
    assert(carried == want) // opted-out batch didn't destroy or fork state
    assert(RollupIngest.processBatch(batchDf(14, 50), dir, keys, "v", "u", 3L,
      freqCol = "u"))
    assert(RollupIngest.staleFrequencyBatches(spark, dir) == Seq(2L))

    // a store with committed history but no sketch: enabling mid-stream
    // errors (partial-history estimates would be silently low)
    val dir2 = tmpDir("graft-rollup-nf")
    assert(RollupIngest.processBatch(b(0), dir2, keys, "v", "u", 0L))
    assert(RollupIngest.currentFrequencies(spark, dir2, vals, "u").isEmpty)
    intercept[IllegalStateException] {
      RollupIngest.processBatch(b(1), dir2, keys, "v", "u", 1L, freqCol = "u")
    }

    // the READ path enforces the geometry the dir name encodes, like
    // the write path: registers from a different Depth×Width addressed
    // with this build's constants would serve silently-low estimates
    val (_, vpath) = Store.latestVersion(spark, dir).get
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = fs.listStatus(new org.apache.hadoop.fs.Path(vpath))
      .map(_.getPath.getName).find(_.startsWith("freq_d")).get
    fs.rename(new org.apache.hadoop.fs.Path(s"$vpath/$cur"),
      new org.apache.hadoop.fs.Path(s"$vpath/freq_d4w999"))
    intercept[IllegalStateException] {
      RollupIngest.currentFrequencies(spark, dir, vals, "u")
    }
  }

  test("exemplar sample rides the snapshot: streaming exemplars == one-shot") {
    val dir = tmpDir("graft-rollup-samp")
    val b = Seq(batchDf(7, 200), batchDf(8, 200))
    def apply(df: org.apache.spark.sql.DataFrame, id: Long) =
      RollupIngest.processBatch(df, dir, keys, "v", "u", id,
        sampleCol = "v", sampleN = 4)
    assert(apply(b(0), 0L))
    assert(apply(b(1), 1L))
    assert(!apply(b(1), 1L)) // replay rejected
    val got = RollupIngest.currentExemplars(spark, dir).get
      .select("g", "__sid").as[(String, Long)].collect().toSet
    // the determinism dividend: maintained exemplars == the one-shot
    // sample state over both batches' rows
    val expected = IncrementalAgg.sampleStateKeys(
        b.reduce(_ union _).select(col("g"), col("v").cast("long").as("__sid")),
        "__sid", 4, keys)
      .select("g", "__sid").as[(String, Long)].collect().toSet
    assert(got == expected, s"$got != $expected")
    assert(got.groupBy(_._1).forall(_._2.size <= 4))
    assert(RollupIngest.staleExemplarBatches(spark, dir).isEmpty)
    // forgetting the knob mid-stream: state carries forward, batch is
    // recorded stale — the generic optional-state contract
    assert(RollupIngest.processBatch(batchDf(9, 100), dir, keys, "v", "u", 2L))
    assert(RollupIngest.staleExemplarBatches(spark, dir) == Seq(2L))
    assert(RollupIngest.currentExemplars(spark, dir).get
      .select("g", "__sid").as[(String, Long)].collect().toSet == got)
    // mid-stream ENABLE on a store with sample-less history refuses
    val freshDir = tmpDir("graft-rollup-samp2")
    assert(RollupIngest.processBatch(batchDf(7, 50), freshDir, keys, "v", "u", 0L))
    intercept[IllegalStateException] {
      RollupIngest.processBatch(batchDf(8, 50), freshDir, keys, "v", "u", 1L,
        sampleCol = "v", sampleN = 4)
    }
  }

  test("mixture state rides the snapshot: maintained epoch plan == one-shot (round-13 task 4)") {
    import graft.llm.Rlhf
    val dir = tmpDir("graft-rollup-mix")
    // batches with a domain column + per-doc reward/token proxies
    def mixBatch(seed: Int, n: Int) = {
      val rnd = new scala.util.Random(seed)
      (0 until n).map { _ =>
        (s"g${rnd.nextInt(3)}", rnd.nextInt(100).toLong,
          rnd.nextLong(1000001L), 1L + rnd.nextLong(500L))
      }.toDF("g", "v", "reward_ppm", "n_tokens")
        .withColumn("u", concat(lit("u"), col("v")))
    }
    val b = Seq(mixBatch(11, 200), mixBatch(12, 200), mixBatch(13, 200))
    def apply(df: org.apache.spark.sql.DataFrame, id: Long) =
      RollupIngest.processBatch(df, dir, keys, "v", "u", id,
        mixDomainCol = "g", mixRewardCol = "reward_ppm",
        mixTokenCol = "n_tokens")
    assert(apply(b(0), 0L))
    assert(apply(b(1), 1L))
    assert(!apply(b(1), 1L)) // replay rejected — the state is additive
    assert(apply(b(2), 2L))
    // maintained state == one-shot state over all three batches' rows
    val all = b.reduce(_ unionByName _)
    val gotState = RollupIngest.currentMixtureState(spark, dir).get
      .as[(String, Long, Long, Long)].collect().toSet
    val oneShotState = Rlhf.mixtureState(all, "g", "reward_ppm", "n_tokens")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(gotState == oneShotState)
    // ...and the DECISION read off the snapshot == the one-shot plan
    val gotPlan = RollupIngest.currentMixturePlan(spark, dir).get
      .as[(String, Long, Long, Long, Long, Boolean)].collect().toSet
    val oneShotPlan = Rlhf.mixturePlanFromState(
        Rlhf.mixtureState(all, "g", "reward_ppm", "n_tokens"))
      .as[(String, Long, Long, Long, Long, Boolean)].collect().toSet
    assert(gotPlan == oneShotPlan)
    assert(RollupIngest.staleMixtureBatches(spark, dir).isEmpty)
    // knob forgotten mid-stream: state carries forward, batch recorded
    assert(RollupIngest.processBatch(mixBatch(14, 100), dir, keys, "v", "u", 3L))
    assert(RollupIngest.staleMixtureBatches(spark, dir) == Seq(3L))
    assert(RollupIngest.currentMixtureState(spark, dir).get
      .as[(String, Long, Long, Long)].collect().toSet == gotState)
    // mid-stream ENABLE on a store with mixture-less history refuses
    val freshDir = tmpDir("graft-rollup-mix2")
    assert(RollupIngest.processBatch(mixBatch(11, 50), freshDir, keys, "v", "u", 0L))
    intercept[IllegalStateException] {
      RollupIngest.processBatch(mixBatch(12, 50), freshDir, keys, "v", "u", 1L,
        mixDomainCol = "g", mixRewardCol = "reward_ppm",
        mixTokenCol = "n_tokens")
    }
  }
}
