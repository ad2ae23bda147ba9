package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Local-mode defaults tuned for the test harness (local[32], 32 shuffle
  * partitions); on a real cluster callers pass their own builder config and
  * only the semantic settings (UTC, AQE, Arrow) are applied.
  */
object GraftSession {

  /** The builder's `SPARK_GRAFT_*` knobs (FOC version, partition
    * discovery threshold, rdd compression): the env value or the
    * shipping default, refused unless valid — a typo'd value must not
    * fail every write at job setup or silently change commit semantics. */
  private[graft] def knobs(env: Map[String, String]): (String, String, String) = {
    def knob(name: String, default: String, what: String)(
        valid: String => Boolean): String = {
      val v = env.getOrElse(name, default)
      require(valid(v), s"$name=$v: must be $what")
      v
    }
    (knob("SPARK_GRAFT_FOC_VERSION", "2", "1 or 2")(Set("1", "2")),
      knob("SPARK_GRAFT_LIST_THRESHOLD", "1024", "a positive integer")(
        _.toIntOption.exists(_ > 0)),
      knob("SPARK_GRAFT_RDD_COMPRESS", "true", "true or false")(
        _.toBooleanOption.isDefined))
  }

  /** The line naming every active `SPARK_GRAFT_*` override, if any. */
  private[graft] def overridesLine(env: Map[String, String]): Option[String] = {
    val active = env.toSeq.filter(_._1.startsWith("SPARK_GRAFT_")).sorted
    if (active.isEmpty) None
    else Some("[graft] WARN active SPARK_GRAFT_* overrides: " +
      active.map { case (k, v) => s"$k=$v" }.mkString(", "))
  }

  /** Printed once per JVM, so a leftover A/B export is visible in the
    * logs (stderr, not log4j: the builder runs before Spark configures
    * logging). */
  private lazy val logOverrides: Unit =
    overridesLine(sys.env).foreach(System.err.println)

  def builder(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
              shufflePartitions: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
      : SparkSession.Builder = {
    val (focVersion, listThreshold, rddCompress) = knobs(sys.env)
    logOverrides
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      // task-commit renames land directly in the destination instead of
      // a second sequential job-commit rename pass (half the rename
      // traffic of every bucket-partitioned index write; the classic
      // HDFS-scale setting). Safe as the DEFAULT because every write
      // that rides it is committed by its own marker (GenDir generation
      // markers, IncLog batch markers, meta-written-last, _SUCCESS on
      // fresh overwrites), so files visible after a failed job are
      // exactly the "torn write" those protocols already treat as
      // absent. The one shape v2 cannot protect — mode("append") into
      // an already-committed directory, whose prior markers stay valid
      // while partial task commits land — opts back into v1 PER WRITE
      // via [[graft.llm.GenDir.V1AppendCommitter]] at every in-place
      // append site.
      // (env-overridable for idle-box A/B isolation of the setting —
      // defaults are the shipping values)
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
        focVersion)
      // every persisted index family partitions its slices into ≤256
      // hash-bucket directories (the catalog-pruning contract); the
      // default threshold (32) turns EVERY slice read's file listing
      // into a distributed Spark job over those tiny paths — pure
      // scheduling overhead at any scale (the driver-side listing pool
      // handles hundreds of dirs in milliseconds). Directories past
      // this bound (real data-lake partition counts) still list
      // distributed.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
        listThreshold)
      // the DISK_ONLY persisted aggregates of every index build (gram
      // counts, postings) are highly-compressible short strings; at
      // scale the persist write/read is postings-scale I/O, so block
      // compression trades cheap CPU for it (guide §2.3). Local A/B
      // (OPTIMIZATION_r16.md §6) shows no regression.
      .config("spark.rdd.compress", rddCompress)
      // streaming offset/commit logs on local paths without a process
      // fork per write (streaming.CheckpointFiles scaladoc)
      .config("spark.sql.streaming.checkpointFileManagerClass",
        classOf[graft.streaming.CheckpointFiles].getName)
      .config("spark.ui.enabled", "false")
  }

  def get(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // strategy + window-top-k rewrite + SQL function surface
    graft.plans.GraftExtensions.install(spark)
    spark
  }
}
