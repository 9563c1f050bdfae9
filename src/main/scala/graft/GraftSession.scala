package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's required configuration applied —
  * the one entry point a library user needs before touching any operator,
  * and the only code in the engine that builds a `SparkSession`.
  *
  * Pins: UTC session time (canonical JSON renders instants with a literal
  * 'Z'; see graft.canonical.Canonical), shuffle parallelism sized to the
  * deployment (pass cores for local, target partition count on a cluster),
  * nanosecond-parquet compatibility, and the graft SQL functions
  * (array_dot_long, nfc_normalize, ...). AQE is left on (Spark 4
  * default) — skew-join splitting and shuffle coalescing are part of the
  * engine's scale story.
  *
  * Environment, each read here and nowhere else:
  *  - cores: `SPARK_GRAFT_CPUS`, else the JVM's available processors;
  *  - master: `spark.master` when set (spark-submit), else
  *    `SPARK_GRAFT_MASTER` (e.g. `local-cluster[2,2,2048]` for the
  *    multi-process rehearsals), else `local[cores]`.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else the JVM's available processors (nproc). */
  private def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** `spark.master` (spark-submit), else `SPARK_GRAFT_MASTER`, else
    * `local[cores]`. */
  private def master(cores: Int): String = sys.props.get("spark.master")
    .orElse(sys.env.get("SPARK_GRAFT_MASTER")).getOrElse(s"local[$cores]")

  /** Session for a main: master and cores from the environment. */
  def apply(): SparkSession = {
    val c = cores
    create(master(c), c)
  }

  /** Local session on exactly `cores` threads, whatever the environment
    * says (tests, single-node runs). */
  def local(cores: Int = GraftSession.cores): SparkSession =
    create(s"local[$cores]", cores)

  /** Session on an explicit master; `conf` adds caller-specific settings
    * (e.g. the `spark.graft.*` pin-discipline switches). */
  def create(master: String, shufflePartitions: Int,
      conf: (String, String)*): SparkSession = {
    val b = configure(SparkSession.builder().master(master), shufflePartitions)
    (settings(master) ++ conf).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    // getOrCreate may return a pre-existing session on which the static
    // spark.sql.extensions conf was ignored — register directly (idempotent)
    // so the SQL functions exist either way
    GraftExtensions.register(spark)
    spark
  }

  /** Settings every factory session gets on top of [[configure]]: UI off,
    * and for masters that spawn executor JVMs (anything but `local[`) the
    * classpath root graft's classes were loaded from, because native
    * expressions deserialize executor-side. */
  private[graft] def settings(master: String): Seq[(String, String)] =
    Seq("spark.ui.enabled" -> "false") ++ (
      if (master.startsWith("local[")) Nil
      else Seq("spark.executor.extraClassPath" ->
        getClass.getProtectionDomain.getCodeSource.getLocation.getPath))

  /** Apply graft's required configs to any builder (cluster deployments
    * call this with their own master/resource settings). */
  def configure(b: SparkSession.Builder,
      shufflePartitions: Int): SparkSession.Builder =
    b.config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
}
