package graft

import org.apache.spark.sql.SparkSession

/** Session factory for library users — the tuned configuration every
  * graft pipeline assumes:
  *
  *   - shuffle partitions sized to the parallelism (NOT the 200 default,
  *     which fragments small-to-mid stages; at cluster scale pass the
  *     real core count);
  *   - AQE on: runtime coalescing, broadcast demotion/promotion, skew
  *     join splitting;
  *   - UTC session timezone (oracle parity and sane timestamp math);
  *   - legacy nanos-as-long parquet read (the `events` fixture carries
  *     TIMESTAMP(NANOS), which Spark 4 otherwise rejects — see Tables).
  */
object Engine {
  def session(
      master: String = "local[*]",
      appName: String = "graft",
      shufflePartitions: Option[Int] = None): SparkSession = {
    val b = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.adaptive.enabled", "true")
      // `shuffle.partitions` is a CEILING for AQE, not a floor: coalescing
      // only merges partitions below the initial number, it never splits a
      // too-big one (only skew-join handling does, and only for joins). A
      // 10⁸-row candidate shuffle at 32 partitions is 4M rows/task — GC
      // death. Start every shuffle wide and let AQE coalesce small stages
      // back down to the advisory size; large stages keep the parallelism
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "512")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // SQL surface over the persisted tiers: graft_dedup_bands /
      // graft_ann_postings / graft_state / graft_table table functions
      // (snapshot version as a trailing arg) — see graft.sql
      .config("spark.sql.extensions", "graft.sql.GraftSqlExtensions")
      // point-probe IN pushdown (DedupIndex.withProbeKeys): above this
      // threshold Spark degrades a pushed IN to a [min,max] range
      // filter, which uniform 64-bit band keys render useless. Every
      // pushed IN is hard-capped at DedupIndex.InKeyCap per scan
      // (512 — parquet's recursive or-chain stack-overflows near ~2000
      // values, so the threshold must NOT be raised past that); bigger
      // opt-in probes push ⌈K/512⌉ chunked INs over a scan union, each
      // chunk under the same bound
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "600")
      // typed Aggregators (top-k, sketches) run as ObjectHashAggregate,
      // which silently degrades to SORT-BASED aggregation after 128
      // distinct keys per partition by default — a per-query-key top-k
      // has thousands. Keep it hash-based; buffers here are k-row arrays
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "131072")
      // AQE's advisoryPartitionSizeInBytes stays at Spark's 64 MB here
      // DELIBERATELY, and the evidence cuts both ways (round-10 A/B,
      // BENCH_LOCAL.md): at 10⁶ vectors the CPU-dense int8 scoring join
      // coalesced its 2.2 GB shuffle to 34 minute-long tasks on 32
      // cores (ragged two-wave schedule, 92-180 s swings) and dropping
      // the advisory to 16 MB ran it 49-64 s — but the SAME 16 MB
      // default regressed the sf0.1 relational joins 10-30× (c7
      // broadcast 0.5 → 14.8 s; AQE replans small-shuffle joins into
      // many under-filled reducers). Round-11: the split is now derived
      // per JOB inside the engine — Similarity.denseShuffleSides gives
      // the CPU-dense candidate joins an explicit cores×waves
      // repartition when their estimated shuffle exceeds one 64 MB
      // wave, and leaves every smaller plan byte-identical — so neither
      // this session builder nor ScaleBench overrides the advisory.
      .config("spark.ui.enabled", "false")
    shufflePartitions.foreach(n => b.config("spark.sql.shuffle.partitions", n))
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
