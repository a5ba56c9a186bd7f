package graft

import org.apache.spark.sql.SparkSession

/** The one local-mode session recipe: every main and the test fixture
  * start their SparkSession here, so core count, shuffle width, time
  * zone and cache sizing cannot drift between entry points.
  */
object LocalSession {
  /** Cores for a main: `SPARK_GRAFT_CPUS`, else the host's processors. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]` with one shuffle partition per core, AQE on, UTC
    * session time, no UI and WARN logging. The test fixture passes a
    * fixed count so the suite runs the same plans on any host.
    */
  def local(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Static conf, default 100: the generated-class cache is keyed by
      // source text, and the query suite has far more codegen units than
      // 100 (each query compiles several whole-stage/aggregate units), so
      // at the default every timed bench pass evicts and Janino-recompiles
      // what the warm pass just compiled — profiled at ~0.2-0.3 s of the
      // per-query floor. A long-lived cluster sizes this cache to its
      // workload; 10k entries of bytecode is a few hundred MB at worst
      // and turns repeat plans into cache hits.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run `body` with every Spark job it starts in the job group `name`
    * (`spark.jobGroup.id`, also the job description), then clear the
    * group: the mains attribute each query's jobs to its name this way.
    */
  def inJobGroup[T](spark: SparkSession, name: String)(body: => T): T = {
    spark.sparkContext.setJobGroup(name, name)
    try body finally spark.sparkContext.clearJobGroup()
  }
}
