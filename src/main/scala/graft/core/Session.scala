package graft.core

import org.apache.spark.sql.SparkSession

/** The one session factory for every graft main (Bench, Verify, the dev
  * tools) and the test base. Library callers may pass any session of their
  * own: graft kernels are plain Columns and need nothing installed, so
  * these confs are the measured defaults, not a requirement.
  *
  * Environment, read here and nowhere else:
  *  - `SPARK_GRAFT_CPUS`: local cores and shuffle partitions (default: every
  *    available processor);
  *  - `SPARK_GRAFT_CODEGEN=false`: interpreted expression path (the
  *    codegen-vs-eval differential audit for the custom expressions);
  *  - `SPARK_GRAFT_EXTRA_CONF="k=v;k=v"`: ad-hoc conf A/B.
  *
  * `getOrCreate`: a second call in the same JVM returns the running session
  * (with the runtime confs re-applied). */
object Session {
  def apply(cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
                .getOrElse(Runtime.getRuntime.availableProcessors),
            logLevel: String = "ERROR"): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // r14: let AQE re-plan CACHED frames too — the default pins every
      // memoized frame to the raw shuffle layout (one task per shuffle
      // partition), so each consumer stage pays full task fan-out to read a
      // few MB; with AQE the cached layout coalesces to the advisory
      // partition size (size-adaptive — big frames keep their partitions).
      // Output VALUES never depend on partitioning (DifferentialSpec /
      // PartitionInvarianceSpec pin this); measured: retrieval_bm25 warm
      // 1.6-1.8s -> 0.8-0.9s.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.wholeStage", sys.env.getOrElse("SPARK_GRAFT_CODEGEN", "true"))
      .config("spark.ui.enabled", "false")
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(";").filter(_.nonEmpty)
      .foreach { kv =>
        require(kv.contains("="), s"bad SPARK_GRAFT_EXTRA_CONF entry (no '='): $kv")
        val Array(k, v) = kv.split("=", 2)
        b.config(k, v)
      })
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }
}
