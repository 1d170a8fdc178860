package graft

import graft.util.Parallelism
import org.apache.spark.sql.graft.StatsReset

/** Parallelism.widen: spread a CPU-heavy map stage over every core when
  * the input arrives as fewer splits than cores, and only then.
  */
class ParallelismSpec extends SparkSpec {

  // Range statistics are 8 bytes a row: 3,000 rows estimate at 24,000
  // bytes, i.e. 3 splits of 8,000 bytes
  private val splitBytes = "8000"

  test("widen spreads a 3-split input over every core") {
    val cores = spark.sparkContext.defaultParallelism
    assume(cores > 3, s"needs more than 3 cores, session has $cores")
    withConf("spark.sql.files.maxPartitionBytes", splitBytes) {
      val df = spark.range(0, 3000, 1, 3).toDF("id")
      assert(Parallelism.estimatedSplits(df, cores) == 3)
      assert(df.rdd.getNumPartitions == 3)
      val widened = Parallelism.widen(df)
      assert(widened.rdd.getNumPartitions == cores)
      assert(widened.count() == 3000L)
    }
  }

  test("widen leaves wide, large and stats-less inputs alone") {
    val cores = spark.sparkContext.defaultParallelism
    withConf("spark.sql.files.maxPartitionBytes", splitBytes) {
      // small, but an upstream repartition already spread it
      val wide = spark.range(0, 3000, 1, 1).toDF("id").repartition(cores)
      assert(Parallelism.widen(wide) eq wide)
      // estimated at a split per core or more
      val large = spark.range(0, 1000L * cores, 1, 1).toDF("id")
      assert(Parallelism.estimatedSplits(large, cores) == cores)
      assert(Parallelism.widen(large) eq large)
      // a checkpointed frame has no size estimate
      val cp = StatsReset.checkpointNoStats(spark.range(0, 10, 1, 1).toDF("id"))
      assert(Parallelism.statsLess(cp))
      assert(Parallelism.widen(cp) eq cp)
    }
  }
}
