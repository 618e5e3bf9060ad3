package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import graft.functions.Tokenizers
import graft.parse.DocParser
import graft.pipeline.IndexingPipeline
import graft.publish.{Checkpoint, Manifest}
import graft.route.Routing
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** What the two indexing workloads share: the pipeline call with its
  * output checks, and the layer decomposition of one pipeline run. */
object Indexing {

  /** Tiny pipeline runs before the bulk workload's measured loop. */
  val WarmupRuns = 2

  /** Idle time after the warm-up: with every core busy running tasks, the
    * JIT's compile queue drains slowly and each measured run would still be
    * faster than the one before; an idle pause lets it catch up. */
  val SettleMs = 2000L

  def config(cores: Int): IndexingPipeline.Config =
    IndexingPipeline.Config(shufflePartitions = 2 * cores)

  /** Offsets (from, from + n] of the benchmark's single source partition. */
  def delta(from: Long, n: Long): Checkpoint.Delta =
    Checkpoint.Delta(Seq(Checkpoint.PartitionDelta("bench", from, from + n)))

  /** One `IndexingPipeline.run`, from the call to the published manifest. */
  def run(h: Harness, input: DataFrame, outDir: String,
          d: Checkpoint.Delta): Option[(IndexingPipeline.Result, Double)] =
    h.attempt("IndexingPipeline.run") {
      h.tracer.span("pipeline.run") {
        IndexingPipeline.run(h.spark, input, outDir, d, config(h.cores))
          .getOrElse(throw new IllegalStateException(s"delta $d was already published"))
      }
    }

  /** Sink counts and routed checksum against the generator's own account;
    * input = valid (Σ split docs) + dead letter. */
  def check(h: Harness, label: String, r: IndexingPipeline.Result, e: Gen.Expected): Unit = {
    val valid = r.splits.map(_.numDocs).sum
    h.expect(r.counts.deadLetter == e.deadLetter,
      s"$label: dead_letter ${r.counts.deadLetter} != expected ${e.deadLetter}")
    h.expect(r.counts.errorIndex == e.errors,
      s"$label: error_index ${r.counts.errorIndex} != expected ${e.errors}")
    h.expect(r.counts.rollup == e.convs, s"$label: rollup ${r.counts.rollup} != expected ${e.convs}")
    h.expect(r.routedChecksum == e.checksum,
      s"$label: routed checksum ${r.routedChecksum} != expected ${e.checksum}")
    h.expect(valid + r.counts.deadLetter == e.rows,
      s"$label: valid $valid + dead_letter ${r.counts.deadLetter} != input ${e.rows}")
  }

  def outputs(r: IndexingPipeline.Result): String =
    s"error_index=${r.counts.errorIndex} rollup=${r.counts.rollup} " +
      s"dead_letter=${r.counts.deadLetter} checksum=${r.routedChecksum}"

  /** JIT warm-up: the driver-side planning code of a pipeline run warms
    * per query planned, not per row, so runs over a tiny seeded input warm
    * it far more cheaply than full-size runs. */
  def warmUp(h: Harness, runs: Int): Unit = {
    val gen = Gen.distributed(h.spark, h.seed, 1000000L, 20, 100, 200, 2).persist()
    val exp = Gen.expected(gen)
    val dir = h.freshDir("warmup-input")
    Gen.turnsFrame(gen).write.parquet(dir)
    gen.unpersist(blocking = true)
    for (_ <- 1 to runs) {
      val out = h.freshDir("warmup-index")
      run(h, h.spark.read.parquet(dir), out, delta(-1L, exp.rows)).foreach { case (r, _) =>
        check(h, "warm-up", r, exp)
      }
      Harness.deleteRecursively(Paths.get(out))
      h.clean()
    }
    Harness.deleteRecursively(Paths.get(dir))
  }

  /** Median wall of three calls: single calls on small inputs are too
    * noisy for the differences between prefixes to mean anything. */
  private def timed(h: Harness, name: String)(f: => Unit): Double =
    Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      h.tracer.span(name)(f)
      (System.nanoTime() - t0) / 1e9
    })

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The pipeline taken apart on `inputPath`, prefix by prefix (scan,
    * +parse, +enrich/route, +repartition/cache), then each fan-out
    * consumer alone on the cached routed frame. Marginal costs are
    * differences between successive prefixes. Fixed-cost figures come from
    * the traced loop's `pipeline.run` spans, whose inputs had `runTurns`
    * turns each. */
  def decompose(h: Harness, inputPath: String, runTurns: Long): Seq[Metric] = {
    val spark = h.spark
    val cfg = config(h.cores)
    def input = spark.read.parquet(inputPath)
    val rows = h.tracer.span("ladder.stats")(input.count())
    val scanS = timed(h, "ladder.scan")(noop(input))
    val parsed = DocParser.parse(input)
    val parseS = timed(h, "ladder.parse")(noop(parsed.valid))
    val valid = h.tracer.span("ladder.stats")(parsed.valid.count())
    var tokens = 0L
    val tokS = timed(h, "ladder.tokenize") {
      tokens = input.select(explode(Tokenizers.default(col("text")))).count()
    }
    val (tools, roles) = IndexingPipeline.dims(spark)
    val (routedRaw, dead) = IndexingPipeline.parseEnrichRoute(input, tools, roles, cfg)
    val routeS = timed(h, "ladder.route")(noop(routedRaw))
    val routed = routedRaw.repartition(cfg.shufflePartitions, col("partition_id")).persist()
    // once: a second count would only read the cache
    val matS = {
      val t0 = System.nanoTime()
      h.tracer.span("ladder.materialize")(routed.count())
      (System.nanoTime() - t0) / 1e9
    }
    val cacheBytes = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    def write(df: DataFrame, label: String): Unit =
      df.write.mode("overwrite").option("compression", "zstd").parquet(h.freshDir(label))
    val rollupS = timed(h, "ladder.rollup")(
      write(IndexingPipeline.conversationRollup(routed, salted = true, cfg), "ladder-rollup"))
    val splitS = timed(h, "ladder.split_aggs")(IndexingPipeline.splitAggregates(routed, cfg).collect())
    val ckS = timed(h, "ladder.checksum")(IndexingPipeline.routedChecksum(routed))
    val errS = timed(h, "ladder.error_index")(
      write(routed.filter(col("call_status") === "ERR" || col("severity") === "ERROR"), "ladder-errors"))
    val deadS = timed(h, "ladder.dead_letter")(write(dead, "ladder-dead"))
    val (partsUsed, overflow) = h.tracer.span("ladder.stats")(
      (routed.select("partition_id").distinct().count(),
        routed.filter(col("partition_id") === Routing.OtherPartitionId).count()))
    routed.unpersist(blocking = true)

    // a marginal cost below the noise of its two prefixes reads 0
    def marginal(a: Double, b: Double): Double = math.max(0.0, a - b)
    val t = h.tracer
    val runs = t.named("pipeline.run")
    val n = math.max(1, runs.size).toDouble
    val u = t.usage("pipeline.run")
    val runWall = if (runs.isEmpty) 0.0 else Stats.median(runs.map(_.durNs / 1e9))
    val turns = math.max(1L, runTurns).toDouble
    Seq(
      Metric("parse.busy_s", marginal(parseS, scanS), "s"),
      Metric("parse.rows_in", rows.toDouble, "count"),
      Metric("parse.valid_ratio", valid.toDouble / math.max(1L, rows), "ratio"),
      Metric("route.busy_s", marginal(routeS, parseS), "s"),
      Metric("route.partitions_used", partsUsed.toDouble, "count"),
      Metric("route.overflow_rows", overflow.toDouble, "count"),
      Metric("pipeline.materialize_s", marginal(matS, routeS), "s"),
      Metric("pipeline.shuffle_write_bytes_per_turn", u.shuffleWrite / n / turns, "bytes/turn"),
      Metric("pipeline.cache_bytes_per_turn", cacheBytes.toDouble / math.max(1L, rows), "bytes/turn"),
      Metric("pipeline.spill_bytes", u.spill / n, "bytes"),
      Metric("pipeline.gc_frac", u.gcMs.toDouble / math.max(1L, u.runMs), "ratio"),
      Metric("pipeline.rollup_s", rollupS, "s"),
      Metric("pipeline.rollup_skew", t.usage("ladder.rollup").skew, "ratio"),
      Metric("pipeline.split_aggs_s", splitS, "s"),
      Metric("pipeline.checksum_s", ckS, "s"),
      Metric("pipeline.fanout_overlap",
        (rollupS + splitS + ckS + errS + deadS) / math.max(1e-3, runWall - matS), "ratio"),
      Metric("pipeline.jobs_per_run", u.jobs / n, "count"),
      Metric("pipeline.tasks_per_run", u.tasks / n, "count"),
      Metric("pipeline.idle_s", runs.map(s => u.idleMs(s.startMs, s.endMs)).sum / 1000.0 / n, "s"),
      Metric("tokenize.busy_s", marginal(tokS, scanS), "s"),
      Metric("tokenize.tokens_per_s", tokens / math.max(1e-3, tokS - scanS), "tokens/s"))
  }

  /** Manifest costs on a workload's own store: reading its current
    * snapshot, that snapshot's size, and commits of the same split list
    * into a scratch store. */
  def publishLadder(h: Harness, tableDir: String): Seq[Metric] = {
    val store = new Manifest.Store(tableDir)
    val reads = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      h.tracer.span("publish.snapshot_read")(store.currentSnapshot())
      (System.nanoTime() - t0) / 1e9
    }
    val snap = store.currentSnapshot()
    val bytes = snap.map(s =>
      Files.size(Paths.get(tableDir, "metadata", s"snapshot-${s.snapshotId}.json"))).getOrElse(0L)
    val scratch = new Manifest.Store(h.freshDir("publish-scratch"))
    val splits = snap.map(_.splits).getOrElse(Nil)
    val commits = (0 until 5).map { i =>
      val staged = splits.map(s => s.copy(splitId = s"${s.splitId}-c$i"))
      val t0 = System.nanoTime()
      h.tracer.span("publish.commit")(scratch.publish(staged, Set.empty, delta(i - 1L, 1L))) match {
        case Left(err) => h.expect(ok = false, s"scratch publish $i: $err")
        case Right(_)  => ()
      }
      (System.nanoTime() - t0) / 1e9
    }
    Seq(
      Metric("publish.commit_s", Stats.median(commits), "s"),
      Metric("publish.snapshot_read_s", Stats.median(reads), "s"),
      Metric("publish.snapshot_bytes", bytes.toDouble, "bytes"))
  }
}

/** One large seeded batch (hot conversation ~10% of turns) through
  * `IndexingPipeline.run`, into a fresh index each time: per-row work
  * dominates (parse, route, repartition + cache, the hot-conversation
  * rollup, tokenizing for split aggregates). */
final class BulkIndex(h: Harness) extends Workload {
  import BulkIndex._
  private val spark = h.spark
  private var inputPath: String = _
  private var exp: Gen.Expected = _
  private var firstOutputs: String = _
  private var lastOut: String = _
  private val walls = ArrayBuffer.empty[Double]

  def setup(): Unit = {
    val hot = (Convs * AvgTurns * HotShare / (1 - HotShare)).toInt
    val gen = Gen.distributed(spark, h.seed, 0L, Convs, AvgTurns, hot, 2 * h.cores).persist()
    val dir = h.freshDir("bulk-input")
    Gen.turnsFrame(gen).write.parquet(dir)
    exp = Gen.expected(gen)
    gen.unpersist(blocking = true)
    Option(inputPath).foreach(p => Harness.deleteRecursively(Paths.get(p)))
    inputPath = dir
  }

  private def once(): Option[Double] = {
    Option(lastOut).foreach(p => Harness.deleteRecursively(Paths.get(p)))
    lastOut = h.freshDir("bulk-index")
    val r = Indexing.run(h, spark.read.parquet(inputPath), lastOut, Indexing.delta(-1L, exp.rows))
    r.foreach { case (res, _) =>
      Indexing.check(h, "bulk_index", res, exp)
      val out = Indexing.outputs(res)
      if (firstOutputs == null) firstOutputs = out
      h.expect(out == firstOutputs, s"bulk_index: outputs changed between runs: $out vs $firstOutputs")
    }
    h.clean()
    r.map(_._2)
  }

  def warmup(): Unit = {
    Indexing.warmUp(h, Indexing.WarmupRuns)
    once()
    Thread.sleep(Indexing.SettleMs)
  }

  def loop(seconds: Double): Unit = {
    walls.clear()
    Harness.loopFor(seconds)(once().foreach(walls += _))
  }

  def opSeconds: Seq[Double] = walls.toSeq
  def turnsPerSecond: Double = exp.rows / Stats.median(walls.toSeq)

  def figures: Seq[Metric] = Seq(
    Metric("index_turns_per_s", turnsPerSecond, "turns/s", walls.toSeq),
    Metric("input_turns", exp.rows.toDouble, "count"))

  def outputs: String = s"input=${exp.rows} $firstOutputs"

  def decompose(): Seq[Metric] =
    Indexing.decompose(h, inputPath, exp.rows) ++ Indexing.publishLadder(h, lastOut)
}

object BulkIndex {
  val Convs = 800
  val AvgTurns = 100
  val HotShare = 0.10
}

/** A handful of consecutive small deltas (batches split by conv_id hash)
  * committed, again and again, into one index with contiguous checkpoint
  * deltas: fixed
  * per-run cost dominates (Spark jobs per run, snapshot read, manifest
  * CAS). Σ counts and Σ checksums over the batches must equal one run over
  * their union, which is computed once, as the warm-up. */
final class IncrementalIndex(h: Harness) extends Workload {
  import IncrementalIndex._
  private val spark = h.spark
  private var batchDirs: Seq[String] = Nil
  private var batchRows: Seq[Long] = Nil
  private var exp: Gen.Expected = _
  private var union: IndexingPipeline.Result = _
  private var lastIndex: String = _
  private val commits = ArrayBuffer.empty[Double]

  def setup(): Unit = {
    val gen = Gen.distributed(spark, h.seed, 0L, Convs, AvgTurns, 0, 2 * h.cores).persist()
    exp = Gen.expected(gen)
    val dir = h.freshDir("incr-batches")
    Gen.turnsFrame(gen).withColumn("batch", pmod(xxhash64(col("conv_id")), lit(Batches.toLong)))
      .write.partitionBy("batch").parquet(dir)
    val counts = gen.groupBy(pmod(xxhash64(col("conv_id")), lit(Batches.toLong))).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    gen.unpersist(blocking = true)
    batchDirs.headOption.foreach(p => Harness.deleteRecursively(Paths.get(p).getParent))
    batchDirs = (0 until Batches).map(i => s"$dir/batch=$i")
    batchRows = (0 until Batches).map(i => counts.getOrElse(i.toLong, 0L))
  }

  /** The union run, then one pass of commits as the loop makes them:
    * after the tiny-input warm-up alone, commits kept getting faster for
    * the first ~20 s of the loop, and a short loop measured that slope. */
  def warmup(): Unit = {
    val out = h.freshDir("incr-union")
    Indexing.run(h, spark.read.parquet(batchDirs: _*), out, Indexing.delta(-1L, exp.rows)) match {
      case Some((res, _)) =>
        Indexing.check(h, "incremental_index union", res, exp)
        union = res
      case None => throw new IllegalStateException("union run failed: " + h.failures.last)
    }
    Harness.deleteRecursively(Paths.get(out))
    h.clean()
    commitLoop(body => for (_ <- 1 to Batches) body)
    Thread.sleep(Indexing.SettleMs)
  }

  def loop(seconds: Double): Unit = commitLoop(Harness.loopFor(seconds))

  /** Commits the batches in turn, pass after pass, into one fresh index
    * with contiguous deltas, as often as `repeat` runs its body, so it can
    * stop after any commit; every complete pass must add up to the union
    * run. */
  private def commitLoop(repeat: (=> Unit) => Unit): Unit = {
    commits.clear()
    Option(lastIndex).foreach(p => Harness.deleteRecursively(Paths.get(p)))
    lastIndex = h.freshDir("incr-index")
    var pos = -1L
    var commitsDone = 0
    var errors, rollups, dead, checksum = 0L
    var ok = true
    repeat {
      val i = commitsDone % Batches
      if (ok) Indexing.run(h, spark.read.parquet(batchDirs(i)), lastIndex, Indexing.delta(pos, batchRows(i))) match {
        case Some((r, wall)) =>
          commits += wall
          commitsDone += 1
          pos += batchRows(i)
          errors += r.counts.errorIndex; rollups += r.counts.rollup
          dead += r.counts.deadLetter; checksum += r.routedChecksum // wraps: mod 2^64
          if (i == Batches - 1) {
            val got = s"error_index=$errors rollup=$rollups dead_letter=$dead checksum=$checksum"
            h.expect(got == Indexing.outputs(union),
              s"incremental_index: Σ over a pass $got != union ${Indexing.outputs(union)}")
            errors = 0; rollups = 0; dead = 0; checksum = 0
          }
        case None => ok = false
      }
      h.clean()
    }
    val snap = new Manifest.Store(lastIndex).currentSnapshot()
    h.expect(!ok || snap.exists(s => s.snapshotId == commitsDone && s.checkpoint.get("bench").contains(pos)),
      s"incremental_index: manifest after $commitsDone commits is ${snap.map(s => (s.snapshotId, s.checkpoint))}")
  }

  def opSeconds: Seq[Double] = commits.toSeq
  def turnsPerSecond: Double = batchRows.sum / (Stats.median(commits.toSeq) * Batches)

  def figures: Seq[Metric] = Seq(
    Metric("commit_p50_s", Stats.median(commits.toSeq), "s", commits.toSeq),
    Metric("incremental_turns_per_s",
      batchRows.sum * (commits.size.toDouble / Batches) / commits.sum, "turns/s"),
    Metric("input_turns", batchRows.sum.toDouble, "count"))

  def outputs: String = s"input=${batchRows.sum} batches=${batchRows.mkString(",")} ${Indexing.outputs(union)}"

  def decompose(): Seq[Metric] =
    Indexing.decompose(h, batchDirs.head, batchRows.sum / Batches) ++ Indexing.publishLadder(h, lastIndex)
}

object IncrementalIndex {
  val Convs = 450
  val AvgTurns = 100
  val Batches = 3
}
