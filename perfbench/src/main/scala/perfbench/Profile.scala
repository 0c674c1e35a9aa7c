package perfbench

import org.apache.spark.sql.SparkSession

/** The session the benchmark measures: the confs `graft.Bench` sets,
  * listed once here, sized like the tier-1 suite (`local[nproc]`, and
  * the launcher gives it the suite's heap rule). One deliberate
  * difference: `spark.local.dir` points inside the checkout rather than
  * at tmpfs, so a run writes nowhere else. */
object Profile {

  def confs(cpus: Int, localDir: String): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.sql.maxPlanStringLength" -> "65536",
    "spark.sql.ui.explainMode" -> "simple",
    "spark.sql.ui.retainedExecutions" -> "4",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "1048576",
    "spark.sql.codegen.cache.maxEntries" -> "8192",
    "spark.sql.artifact.isolation.enabled" -> "false",
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> "graft.sources.GraftRawLocalFs",
    "spark.hadoop.fs.file.impl" -> "graft.sources.GraftLocalFileSystem",
    "spark.local.dir" -> localDir,
    "spark.sql.streaming.stateStore.maintenanceInterval" -> "15s")

  def cpus: Int = Runtime.getRuntime.availableProcessors()

  def session(localDir: String): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cpus]").appName("perfbench")
    confs(cpus, localDir).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Every SQL conf the session carries that differs from Spark's
    * default, so drift from the benchmarked profile shows in each result. */
  def nonDefaultConf(spark: SparkSession): Map[String, String] = {
    val defaults = new org.apache.spark.sql.internal.SQLConf().getAllDefinedConfs
      .map { case (k, v, _, _) => k -> v }.toMap
    val all = spark.conf.getAll
    all.filter { case (k, v) =>
      k.startsWith("spark.sql.") && !defaults.get(k).contains(v)
    } ++ confs(cpus, "").map(_._1).filterNot(_.startsWith("spark.sql."))
      .flatMap(k => all.get(k).map(k -> _))
  }
}
