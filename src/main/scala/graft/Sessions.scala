package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the scale-aware defaults this engine assumes.
  *
  * Local mode is a stand-in for a multi-executor cluster: `cores` models the
  * executor count, and shuffle partitions equal it (never the 200
  * default). AQE is on so skew joins / partition coalescing re-plan at
  * runtime the same way they would on a 1000-executor cluster.
  */
object Sessions {
  /** Shuffle/spill scratch: `SPARK_GRAFT_LOCAL_DIR` when set, else Spark's
    * own default. A tmpfs speeds shuffle-heavy local runs (thread dumps
    * showed ~24% of executor samples in shuffle file I/O on a virtio disk)
    * but takes memory from the executors, so it is opt-in.
    */
  private def localDir: Option[String] = sys.env.get("SPARK_GRAFT_LOCAL_DIR")

  def local(cores: Int = 32, appName: String = "graft"): SparkSession = {
    withDefaults(SparkSession.builder().master(s"local[$cores]").appName(appName), cores)
      // bypass-merge shuffle writes ONE FILE PER REDUCE PARTITION per map
      // task and then NIO-merges them (mmap/unmap per file): thread-dump
      // sampling showed that merge at 13% of active executor samples at
      // R=32. Production jobs run R >> 200 where the bypass path never
      // fires, so disabling it is scale-neutral; locally the serialized
      // sort writer produces one spill file per map task instead.
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .getOrCreate()
  }

  /** The SQL, join and scratch-dir defaults shared by [[local]] and
    * [[localCluster]]. The join settings are the measured-best values of
    * the OPTIMIZATION_r06.md A/B.
    */
  private def withDefaults(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder = {
    val c = b
      // the engine's Catalyst surface (similarity-join rewrite + SQL
      // functions); spark-submit users pass
      // --conf spark.sql.extensions=graft.plans.GraftExtensions instead
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // keep AQE from coalescing mid-size shuffles below the core count —
      // the conv-level mapGroups stage must fan out to every executor
      // (advisory default 64 MB serializes it at bench scale; on a real
      // cluster inputs dwarf this and the knob is moot)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      // broadcast threshold tuned explicitly (north_rule): every dim table
      // in this engine is < 8 MB by construction; fact-fact joins must
      // never be broadcast accidentally.
      .config("spark.sql.autoBroadcastJoinThreshold", (8L * 1024 * 1024).toString)
      // joins (guide §3.1): allow shuffled-hash where its size conditions
      // hold and let AQE rewrite SMJ -> SHJ when every post-shuffle build
      // partition is provably under 64 MB — both size-guarded, so the
      // spill-safe sort-merge still wins whenever a partition could be
      // large (the kg emit stage's conv-keyed LeftOuter joins are SMJ only
      // because mapGroups output has no size stats; AQE sees the real
      // sizes at runtime)
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // spark.local.dir propagates to local-cluster executor JVMs via SparkConf
    localDir.fold(c)(c.config("spark.local.dir", _))
  }

  /** REAL multi-executor session: `local-cluster[n, cores, memMb]` spawns
    * one separate executor JVM per `n` on this host — own heap, GC and
    * code cache each, exactly as on a cluster node; only the host's single
    * memory bus stays shared. Needs SPARK_HOME set (the worker builds the
    * executor command from it) and the graft classes on the executor
    * classpath (extraClassPath below). Same tuned defaults as [[local]].
    */
  def localCluster(executors: Int, coresPerExec: Int = 8, memMb: Int = 6144,
      appName: String = "graft-cluster"): SparkSession = {
    require(sys.env.contains("SPARK_HOME"),
      "SPARK_HOME must point at the Spark install (e.g. /opt/spark): the " +
        "local-cluster worker builds executor commands from it")
    val classesFile = new java.io.File("target/scala-2.13/classes")
    require(classesFile.isDirectory,
      s"graft classes not found at ${classesFile.getAbsolutePath} — run from " +
        "the repo root (executors load graft.* from this directory)")
    val classesDir = classesFile.getAbsolutePath
    // JDK17 module opens for the executor JVMs (the driver's launcher
    // inherits them from the command line; executors need them passed)
    val opens = Seq("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
      "java.net", "java.nio", "java.util", "java.util.concurrent",
      "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
      "sun.security.action", "sun.util.calendar")
      .map(p => s"--add-opens=java.base/$p=ALL-UNNAMED").mkString(" ")
    withDefaults(SparkSession.builder()
      .master(s"local-cluster[$executors,$coresPerExec,$memMb]")
      .appName(appName), executors * coresPerExec)
      .config("spark.executor.memory", s"${memMb}m")
      .config("spark.executor.extraClassPath", classesDir)
      // ActiveProcessorCount: on a real cluster the container runtime
      // (cgroups/YARN/K8s) caps what availableProcessors() reports; bare
      // executor JVMs on one host each see ALL host cores and size their
      // GC/JIT/netty pools for them — 4 executors × 23 ParallelGC threads
      // oversubscribed this 32-vCPU box ~4× and tripled stage times until
      // capped (measured: s2_tag 15.7 s -> capped matches local[32])
      .config("spark.executor.extraJavaOptions",
        s"-XX:+UseParallelGC -XX:ActiveProcessorCount=$coresPerExec $opens")
      .getOrCreate()
  }
}
