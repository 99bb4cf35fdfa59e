package graft

import org.apache.spark.sql.SparkSession

/** One place for the session config every entry point (Bench, Verify,
  * Profile, specs) shares — keeps the oracle-critical settings (UTC, nanos
  * passthrough, graft extensions) from drifting between mains.
  */
object Sessions {
  def local(cpus: String, appName: String = "graft"): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // graft's sketch aggregates (MinHashAgg/SimHashAgg) are
      // TypedImperativeAggregates → ObjectHashAggregate. The default
      // sort-fallback threshold (128 in-memory groups) would force a
      // per-partition sort on any real corpus; buffers are ≤1 KB, so
      // 512k groups/task ≈ 0.5 GB — sized for the local 128 GiB heap.
      // Cluster rule: threshold × bufferBytes ≤ ~25% executor heap.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", (1 << 19).toString)
      // The generated-class cache defaults to 100 entries — a 172-query
      // bench churns it completely every pass, so every query re-Janinos
      // its whole-stage code each time (PROFILE_r07.md: q_theta_sketch
      // steady 1.0-1.9 s isolated vs 6.5 s in-bench, cpu 11 s vs 110 s;
      // 32 distinct plans of churn alone add +1.3 s wall / +9 s cpu to its
      // next run). 5000 entries fits every plan in the registry at a few
      // KB-100 KB of bytecode each — static conf, must be set before the
      // first session. The cache is keyed on the generated source, and
      // graft.plans.ParamLiterals keeps comparison, arithmetic and IN
      // constants out of it, so an entry stands for a query SHAPE: an MCP
      // agent re-sending a SELECT or a write with new constants hits it.
      // On a long-lived multi-tenant driver the same sizing rule applies:
      // maxEntries >= concurrent distinct shapes.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // Local files through java.nio permissions: without native IO,
      // Hadoop's LocalFileSystem forks `chmod` for every file and directory
      // a write creates (about 5 ms each, 315 forks in one lake_writes run).
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      // Shuffle/spill files on tmpfs: the container's virtual disk shows
      // multi-second (sometimes multi-minute) write stalls under load,
      // which serialized every shuffle-heavy operator through a sick
      // device. The box has 126 GiB of tmpfs; local-mode shuffle volumes
      // at bench scale are MBs. On a real cluster this maps to the
      // standard practice of NVMe/ramdisk scratch volumes for shuffle.
      // default to tmpfs only where it exists (Linux); elsewhere fall back
      // to the JVM tmpdir so the session still starts (ADVICE r4)
      .config("spark.local.dir",
        sys.env.getOrElse("SPARK_LOCAL_DIRS",
          if (java.nio.file.Files.isDirectory(
            java.nio.file.Paths.get("/dev/shm"))) "/dev/shm/graft-spark"
          else System.getProperty("java.io.tmpdir") + "/graft-spark"))
      // Straggler defense: the host hypervisor intermittently starves
      // single vCPUs for seconds (kernel logs delayed timer interrupts),
      // and one starved task holds the whole 32-task stage — measured as
      // 5-30x wall-time inflation on shuffle-heavy ops. Speculative
      // re-launch of the slowest tasks sidesteps a stalled thread the
      // same way it sidesteps a sick node on a real cluster.
      .config("spark.speculation", "true")
      .config("spark.speculation.multiplier", "3")
      .config("spark.speculation.quantile", "0.75")
      // AQE coalescing knobs are left at their DEFAULTS. r13 measured a
      // global minPartitionSize=64k across the full suite: it won 1.2-1.6 s
      // on the handful of CPU-dense post-shuffle stages (IVF-blocked top-k
      // windows) but inflated process CPU 3-8× on a long tail of
      // allocation-heavy ops (s_pq_topk 2.3→18.4 cpu-s, s_tier_report
      // 12.9→37) — 32 concurrent tasks contending on the allocator cost
      // more than the parallelism bought. The few genuinely CPU-dense
      // stages pin their exchange explicitly at the operator instead.
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
