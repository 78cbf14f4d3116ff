package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built: the entry-point mains
  * (Verify, Bench, the probe mains), the serving and demo mains, the
  * benchmark and the test suite all start here, each adding its own
  * `.config` (scheduler mode, app name, warehouse dir) before
  * `getOrCreate()`.
  *
  * Every session built here carries [[GraftFunctions]] as a session
  * extension, so graft's SQL functions resolve in it and in every
  * `newSession()`/`cloneSession()` of it.
  *
  * `SPARK_GRAFT_MASTER` overrides the default `local[cpus]` — the
  * multi-JVM gate runs the whole correctness suite under
  * `local-cluster[2,8,4096]` (2 separate executor JVMs on this machine,
  * launched from SPARK_HOME), the one execution axis `local[*]`
  * structurally cannot test: executor loss, lineage recompute,
  * off-driver classpath/serialization, and the Materialize barrier's
  * reliable-checkpoint arm all only exist when executors are not the
  * driver.
  *
  * On a non-local master the builder additionally ships this JVM's
  * classpath to the executors (same-machine executors can read it
  * directly — a real multi-node deployment submits a jar instead) and
  * turns on checkpoint-file cleanup so the reliable barriers don't
  * accumulate files across a 178-query suite run. The executor JVMs'
  * JDK-17 `--add-opens` need no copy here: the SparkContext constructor
  * prepends Spark's own module options to
  * `spark.executor.extraJavaOptions`.
  */
object HarnessSession {

  def builder(cpus: String): SparkSession.Builder = {
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val b = SparkSession.builder()
      .master(master)
      .withExtensions(GraftFunctions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // The inventory is ~180 distinct plans with several whole-stage
      // codegen units each; Spark's compiled-class cache holds 100
      // entries by default, so a multi-query session (the bench's
      // round-robin, the serving facade's query mix) evicts everything
      // between repeats and pays Janino compilation on EVERY execution
      // (~0.1-1 s/query, measured: isolated reruns beat the round-robin
      // bench by exactly that tier). Scale-independent JVM-cache sizing,
      // not a data-size tunable; bounded by class count, not data.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
    val isLocal = master == "local" || master.startsWith("local[")
    if (!isLocal) {
      b.config("spark.executor.extraClassPath",
          System.getProperty("java.class.path"))
        .config("spark.executor.memory",
          sys.env.getOrElse("SPARK_GRAFT_EXECUTOR_MEM", "3g"))
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    }
    b
  }
}
