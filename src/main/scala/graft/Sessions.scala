package graft

import org.apache.spark.sql.SparkSession

/** The one local session the engine's entry points run on (Bench,
  * Verify, ProfileJobs and the spec base). */
object Sessions {

  /** A `local[cpus]` session with the engine's extensions, `cpus` shuffle
    * partitions, a UTC session clock, the UI off, the parquet timestamp
    * confs ([[Tables.ensureParquetConf]]), WARN logging and the scratch
    * reaper registered. Two settings must be given at context creation:
    * reliable-checkpoint FILES (x13's per-round snapshots when a
    * checkpoint dir is set) are reclaimed only with
    * `cleanCheckpoints` on, which the ContextCleaner reads once at
    * startup, and `spark.local.dir` points shuffle/spill at the scratch
    * root ([[Tables.scratchLocalDir]]). */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.local.dir", Tables.scratchLocalDir())
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.ensureParquetConf(spark)
    Tables.registerScratchReaper()
    spark
  }
}
