package perfbench

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets
import graft.util.Json
import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload <bulk_index|incremental_index|search_mix>
  * --seed <n> --seconds <s> --trace <0|1> --work-dir <dir> --results-dir <dir>`.
  * Prints every figure by name with its unit, then, as the last line, one
  * JSON object: `correct`, `attempted`, `failed` and the metrics of the
  * untraced (trace 0) or traced (trace 1) run. */
object Main {

  /** Per-layer metrics of a traced run, with their units; a workload that
    * never calls a layer reports 0 for it. */
  val PerLayer: Seq[(String, String)] = Seq(
    "parse.busy_s" -> "s", "parse.rows_in" -> "count", "parse.valid_ratio" -> "ratio",
    "route.busy_s" -> "s", "route.partitions_used" -> "count", "route.overflow_rows" -> "count",
    "pipeline.materialize_s" -> "s", "pipeline.shuffle_write_bytes_per_turn" -> "bytes/turn",
    "pipeline.cache_bytes_per_turn" -> "bytes/turn", "pipeline.spill_bytes" -> "bytes",
    "pipeline.gc_frac" -> "ratio", "pipeline.rollup_s" -> "s", "pipeline.rollup_skew" -> "ratio",
    "pipeline.split_aggs_s" -> "s", "pipeline.checksum_s" -> "s", "pipeline.fanout_overlap" -> "ratio",
    "pipeline.jobs_per_run" -> "count", "pipeline.tasks_per_run" -> "count", "pipeline.idle_s" -> "s",
    "tokenize.busy_s" -> "s", "tokenize.tokens_per_s" -> "tokens/s",
    "publish.commit_s" -> "s", "publish.snapshot_read_s" -> "s", "publish.snapshot_bytes" -> "bytes",
    "append.busy_s" -> "s", "topk.splits_opened_ratio" -> "ratio", "scan.files_read_ratio" -> "ratio",
    "leaf_cache.hit_ratio" -> "ratio", "leaf_cache.bytes" -> "bytes",
    "query.compile_ms" -> "ms", "es.count_s" -> "s", "es.page_s" -> "s",
    "es.jobs_per_search" -> "count", "aggs.busy_s" -> "s",
    "bm25.busy_s" -> "s", "merge.busy_s" -> "s", "merge.splits_in" -> "count", "merge.splits_out" -> "count",
    "harness.leaked_storage_bytes" -> "bytes", "trace.overhead_frac" -> "ratio",
    "ladder.unaccounted_frac" -> "ratio",
    "index_turns_per_s" -> "turns/s", "commit_p50_s" -> "s", "incremental_turns_per_s" -> "turns/s",
    "latest_k_p50_ms" -> "ms", "search_struct_p50_ms" -> "ms", "search_text_p50_ms" -> "ms",
    "search_score_ms" -> "ms", "aggs_p50_ms" -> "ms", "append_p50_ms" -> "ms", "merge_s" -> "s",
    "search_mix_wall_s" -> "s", "failed_frac" -> "ratio")

  /** Set-up is repeated this many times per run; `setup_s` is the median. */
  val SetupReps = 3

  private def say(s: String): Unit = println(s"[perfbench] $s")

  private def fmt(m: Metric): String = {
    val n = if (m.samples.isEmpty) "" else {
      val tail = Stats.tail(m.samples).map { case (p, v) => f", p$p=$v%.6g" }.getOrElse("")
      s" (n=${m.samples.size}$tail)"
    }
    f"${m.name} = ${m.value}%.6g ${m.unit}$n"
  }

  private def json(ms: Seq[Metric]): String =
    ms.map(m => s""""${m.name}":{"value":${if (m.value.isNaN || m.value.isInfinite) 0.0 else m.value},"unit":"${m.unit}"}""")
      .mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val workDir = Paths.get(opt("work-dir")).toAbsolutePath
    val resultsDir = Paths.get(opt("results-dir")).toAbsolutePath
    require(Seq("bulk_index", "incremental_index", "search_mix").contains(workload),
      s"unknown workload $workload")

    val cores = Runtime.getRuntime.availableProcessors()
    val host = new Host.Window(cores)
    Harness.deleteRecursively(workDir)
    Files.createDirectories(workDir)
    val spark = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS =
      (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val tracer = new Tracer(spark.sparkContext, traced)
    val h = new Harness(spark, cores, seed, workDir, tracer)
    try {
      say(s"workload=$workload seed=$seed seconds=$seconds trace=${if (traced) 1 else 0} cores=$cores")
      checkSeeds(h)
      val w: Workload = workload match {
        case "bulk_index"        => new BulkIndex(h)
        case "incremental_index" => new IncrementalIndex(h)
        case "search_mix"        => new SearchMix(h)
      }
      val setups = (1 to SetupReps).map { _ =>
        val t0 = System.nanoTime(); w.setup(); (System.nanoTime() - t0) / 1e9
      }
      val t0 = System.nanoTime()
      w.warmup()
      val warmupS = (System.nanoTime() - t0) / 1e9
      val loopStart = System.nanoTime()
      w.loop(seconds)
      val loopS = (System.nanoTime() - loopStart) / 1e9
      val figures = w.figures
      val opS = Stats.median(w.opSeconds)
      val common = Seq(
        Metric("setup_s", Stats.median(setups), "s", setups),
        Metric("session_start_s", sessionS, "s"),
        Metric("warmup_s", warmupS, "s"),
        Metric("loop_s", loopS, "s"),
        Metric("op_p50_ms", opS * 1000, "ms", w.opSeconds.map(_ * 1000)),
        Metric("turns_per_s", w.turnsPerSecond, "turns/s"))

      val layer: Seq[Metric] = if (!traced) Nil else {
        // the same loop from the same state with spans on, then once more
        // untraced: the JVM is still warming, so the traced loop is compared
        // with the mean of the untraced loops on either side of it
        w.setup()
        tracer.on = true
        tracer.span("workload")(w.loop(seconds))
        tracer.on = false
        val tracedS = Stats.median(w.opSeconds)
        w.setup()
        w.loop(seconds)
        val overhead = tracedS / ((opS + Stats.median(w.opSeconds)) / 2) - 1
        tracer.on = true
        val (wall, rungs) = tracer.ladder("workload")
        val unaccounted = rungs.find(_._1 == "workload").map(_._2).getOrElse(0.0) / wall
        say(f"ladder of the traced loop (self time, share of $wall%.3f s wall):")
        rungs.foreach { case (n, s) => say(f"  $n%-36s $s%9.3f s ${100 * s / wall}%6.1f%%") }
        val parts = tracer.span("decompose")(w.decompose())
        val (dWall, dRungs) = tracer.ladder("decompose")
        say(f"decomposition (self time, share of $dWall%.3f s wall):")
        dRungs.foreach { case (n, s) => say(f"  $n%-36s $s%9.3f s ${100 * s / dWall}%6.1f%%") }
        tracer.write(resultsDir.resolve(s"$workload-seed$seed.spans.jsonl"))
        parts ++ Seq(
          Metric("trace.overhead_frac", overhead, "ratio"),
          Metric("ladder.unaccounted_frac", unaccounted, "ratio"))
      }

      val rssMb = Host.statusKb("VmHWM") / 1024.0
      val failed = math.min(h.failures.size.toLong, h.attempted)
      val attempted = math.max(1L, h.attempted)
      val all = common ++ figures ++ layer ++ Seq(
        Metric("peak_rss_mb", rssMb, "MiB"),
        Metric("failed_frac", failed.toDouble / attempted, "ratio"),
        Metric("harness.leaked_storage_bytes", h.leaked.toDouble, "bytes"))
      val hostJson = host.json()
      say(f"jvm uptime ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s")
      say(s"host $hostJson")
      say(s"outputs ${w.outputs}")
      all.foreach(m => say(fmt(m)))
      say(s"op walls (s): ${w.opSeconds.map(s => f"$s%.3f").mkString(" ")}")
      h.failures.foreach(f => say(s"FAILED $f"))
      val byName = all.map(m => m.name -> m).toMap
      val reported =
        if (traced) PerLayer.map { case (n, u) => byName.getOrElse(n, Metric(n, 0.0, u)) }
        else Seq("setup_s", "turns_per_s", "op_p50_ms", "peak_rss_mb").map(byName)
      val record = s"""{"workload":"$workload","seed":$seed,"seconds":$seconds,"trace":$traced,""" +
        s""""host":$hostJson,"outputs":${Json.render(w.outputs)},"metrics":${json(all)},""" +
        s""""failures":${Json.render(h.failures.toSeq)}}"""
      Files.createDirectories(resultsDir)
      Files.write(resultsDir.resolve(s"$workload-seed$seed-trace${if (traced) 1 else 0}.json"),
        record.getBytes(StandardCharsets.UTF_8))
      println(s"""{"correct":${h.failures.isEmpty},"attempted":$attempted,"failed":$failed,"metrics":${json(reported)}}""")
    } finally {
      spark.stop()
      Harness.deleteRecursively(workDir)
    }
  }

  /** The generator must actually depend on the seed: 50 conversations
    * from seed n and n+1 differ in their per-conversation turn counts and
    * in their checksum. The counts are compared conversation by
    * conversation: two seeds' total turn counts are sums of 50 draws and
    * can be equal by chance. */
  private def checkSeeds(h: Harness): Unit = {
    def sample(s: Long): (Seq[Int], Int) = {
      val rows = Gen.batch(s, 0L, 50, 20, Gen.BaseMs, 3600000L).map(_.turn)
      val counts = rows.groupBy(_.conv_id).toSeq.sortBy(_._1).map(_._2.size)
      (counts, scala.util.hashing.MurmurHash3.orderedHash(rows))
    }
    val (a, b) = (sample(h.seed), sample(h.seed + 1))
    h.attempted += 1
    h.expect(a._1 != b._1 && a._2 != b._2,
      s"seeds ${h.seed} and ${h.seed + 1} generate the same input: turns per conversation " +
        s"${a._1.mkString(",")} vs ${b._1.mkString(",")}, checksum ${a._2} vs ${b._2}")
  }
}
