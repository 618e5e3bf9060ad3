package perfbench

import scala.collection.mutable.ArrayBuffer
import graft.functions.Tokenizers
import graft.operators.Scoring
import graft.publish.{Checkpoint, MergeExecutor}
import graft.queryast.{EsAggs, EsApi, EsDsl, FieldResolver}
import graft.sources.TranscriptTable
import graft.util.Json
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A table row as the independent checker sees it: plain fields plus the
  * lower-cased alphanumeric tokens of its text, in order and as a set. */
final case class MRow(conv_id: String, turn_idx: Int, role: String, tool: String,
                      tsMs: Long, terms: Seq[String]) {
  val id: String = s"$conv_id:$turn_idx"
  val tokens: Set[String] = terms.toSet
}

object MRow {
  def apply(g: GenTurn): MRow =
    MRow(g.conv_id, g.turn_idx, g.role, g.tool, g.ts.getTime, tokens(g.text))

  def tokens(text: String): Seq[String] =
    if (text == null) Nil
    else text.toLowerCase(java.util.Locale.ROOT).split("[^\\p{L}\\p{N}]+").toSeq
      .filter(t => t.nonEmpty && t.length <= 255)
}

/** A query as the engine receives it (ES DSL) and as the checker applies it. */
final case class Q(json: String, pred: MRow => Boolean)

/** Reads beside writes on one `TranscriptTable` built in time-ordered
  * batches at set-up. Each round is a fixed request sequence whose
  * parameters come from the seed: fresh appends, newest-k requests with
  * and without a query (leaf-cache hits and split skipping), structured
  * and full-text `EsApi.search` sorted by `ts`, one BM25-sorted search over
  * one batch's time window, and one aggregation. One merge runs after the
  * last round. Every answer is checked against a plain filter/sort of a
  * driver-side copy of the same table state, outside `topKByTs`, the leaf
  * cache and the query compiler. */
final class SearchMix(h: Harness) extends Workload {
  import SearchMix._
  private val spark = h.spark
  private val resolver = FieldResolver(Set("text"), Seq("text"))
  private val idCol = concat_ws(":", col("conv_id"), col("turn_idx").cast("string"))
  private var table: TranscriptTable = _
  private val mirror = ArrayBuffer.empty[MRow]
  private var appended = 0
  private var round = 0

  private val classes = Seq("latest_k", "struct", "text", "score", "aggs", "append")
  private val samples = classes.map(_ -> ArrayBuffer.empty[Double]).toMap
  private val rounds = ArrayBuffer.empty[Double]
  private val appendRates = ArrayBuffer.empty[Double]
  private var opened, live, filesRead, filesLive = 0L
  private var mergeS = 0.0
  private var mergeIn, mergeOut = 0

  private def batchStartMs(b: Int): Long = Gen.BaseMs + b * WindowMs

  def setup(): Unit = {
    Option(table).foreach(t => Harness.deleteRecursively(java.nio.file.Paths.get(t.dir)))
    table = new TranscriptTable(h.freshDir("search-table"), spark)
    mirror.clear()
    appended = 0
    round = 0
    for (b <- 0 until InitialBatches) {
      val rows = Gen.batch(h.seed, b.toLong * BatchConvs, BatchConvs, AvgTurns, batchStartMs(b), WindowMs)
      appendRows(rows, b)
    }
  }

  private def appendRows(rows: Seq[GenTurn], b: Int): Unit = {
    val df = spark.createDataFrame(rows.map(_.turn))
    table.append(df, Checkpoint.Delta(Seq(Checkpoint.PartitionDelta("bench", b - 1L, b))), FilesPerBatch)
    mirror ++= rows.map(MRow(_))
  }

  /** One timed request; `body` returns the answer, `check` compares it. */
  private def request[T](cls: String, span: String)(body: => T)(check: T => Unit): Double =
    h.attempt(span)(h.tracer.span(span)(body)) match {
      case Some((answer, wall)) =>
        samples(cls) += wall
        h.tracer.span("check")(check(answer))
        wall
      case None => 0.0
    }

  private def newestFirst(a: MRow, b: MRow): Boolean =
    if (a.tsMs != b.tsMs) a.tsMs > b.tsMs else a.id > b.id

  private def liveFiles(): Int =
    table.store.currentSnapshot().map(_.splits.map(_.files.size).sum).getOrElse(0)

  /** `df`, a scan of the table, with its files counted against live files. */
  private def counted(df: DataFrame): DataFrame = {
    filesRead += df.inputFiles.length
    filesLive += liveFiles()
    df
  }

  private def latestK(k: Int, q: Option[Q]): Double = {
    val live0 = liveFiles()
    request("latest_k", "sources.topKByTs") {
      val (df, files) = table.topKByTs(k, query = q.map(x => EsDsl.parse(x.json)), resolver = resolver)
      (df.collect().toSeq.map(r => s"${r.getAs[String]("conv_id")}:${r.getAs[Int]("turn_idx")}"), files)
    } { case (got, files) =>
      opened += files.size; live += live0
      val want = mirror.filter(r => q.forall(_.pred(r)))
        .sortBy(r => (-r.tsMs, r.conv_id, r.turn_idx)).take(k).map(_.id).toSeq
      h.expect(got == want, s"topKByTs(k=$k, ${q.map(_.json)}): got ${got.take(3)}… want ${want.take(3)}…")
    }
  }

  private def hits(response: String): (Long, Seq[String], Seq[Double]) = {
    val hs = Json.parse(response).asInstanceOf[Map[String, Any]]("hits").asInstanceOf[Map[String, Any]]
    val total = hs("total").asInstanceOf[Map[String, Any]]("value").asInstanceOf[Double].toLong
    val list = hs("hits").asInstanceOf[Seq[Map[String, Any]]]
    (total, list.map(_("_id").toString),
      list.map(_.get("sort").map(_.asInstanceOf[Seq[Any]].head).collect { case d: Double => d }.getOrElse(Double.NaN)))
  }

  private def search(cls: String, q: Q): Double = {
    val body = s"""{"query":${q.json},"sort":[{"ts":{"order":"desc"}}],"size":10}"""
    request(cls, "queryast.EsApi.search")(EsApi.search(counted(table.scan()), resolver, idCol, body)) { resp =>
      val (total, ids, _) = hits(resp)
      val m = mirror.filter(q.pred)
      val want = m.sortWith(newestFirst).take(10).map(_.id).toSeq
      h.expect(total == m.size && ids == want,
        s"EsApi.search($cls ${q.json}): total $total ids ${ids.take(3)}… want ${m.size} ${want.take(3)}…")
    }
  }

  /** `_score`-sorted search over one batch's time window. */
  private def scored(q: Q, terms: Seq[String]): Double = {
    val startMs = batchStartMs(InitialBatches - 1)
    val body = s"""{"query":${q.json},"size":10}"""
    request("score", "queryast.EsApi.search") {
      val df = counted(table.scan(startMicros = Some(startMs * 1000L)))
      EsApi.search(df.filter(unix_micros(col("ts")) >= startMs * 1000L), resolver, idCol, body)
    } { resp =>
      val (total, ids, scores) = hits(resp)
      val corpus = mirror.filter(_.tsMs >= startMs)
      val score = bm25(corpus.toSeq, terms)
      val matched = corpus.filter(q.pred)
      val want = matched.map(r => score.getOrElse(r.id, 0.0)).sorted(Ordering[Double].reverse).take(10)
      val gotScores = ids.map(score.getOrElse(_, Double.NaN))
      def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
      h.expect(total == matched.size && gotScores.size == want.size &&
          gotScores.zip(want).forall { case (g, w) => close(g, w) } &&
          scores.zip(gotScores).forall { case (s, g) => close(s, g) },
        s"EsApi.search(score ${q.json}): total $total scores ${scores.take(3)} want ${matched.size} ${want.take(3)}")
    }
  }

  /** BM25 (k1 1.2, b 0.75) over `corpus` as tantivy defines it: N and
    * avgdl over docs with at least one token, idf = ln(1 + (N − df + ½) ÷
    * (df + ½)). */
  private def bm25(corpus: Seq[MRow], terms: Seq[String]): Map[String, Double] = {
    val toks = corpus.map(r => r.id -> r.terms).filter(_._2.nonEmpty)
    val n = toks.size.toDouble
    val avgdl = toks.map(_._2.size).sum / math.max(1.0, n)
    val df = terms.map(t => t -> toks.count(_._2.contains(t))).toMap
    toks.flatMap { case (id, ts) =>
      val dl = ts.size
      val w = terms.distinct.map { t =>
        val tf = ts.count(_ == t)
        if (tf == 0) 0.0
        else {
          val idf = math.log(1.0 + (n - df(t) + 0.5) / (df(t) + 0.5))
          idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
        }
      }
      if (ts.exists(terms.contains)) Some(id -> w.sum) else None
    }.toMap
  }

  private def aggs(): Double = {
    val body = """{"size":0,"aggs":{"tools":{"terms":{"field":"tool","size":20}},""" +
      """"per_hour":{"date_histogram":{"field":"ts","fixed_interval":"1h"}}}}"""
    request("aggs", "queryast.EsAggs.search")(EsAggs.search(counted(table.scan()), resolver, body)) { resp =>
      val a = Json.parse(resp).asInstanceOf[Map[String, Any]]("aggregations").asInstanceOf[Map[String, Any]]
      def buckets(name: String): Map[String, Long] =
        a(name).asInstanceOf[Map[String, Any]]("buckets").asInstanceOf[Seq[Map[String, Any]]]
          .map(b => b("key") match {
            case d: Double => d.toLong.toString -> b("doc_count").asInstanceOf[Double].toLong
            case k         => k.toString -> b("doc_count").asInstanceOf[Double].toLong
          }).filter(_._2 > 0).toMap
      val tools = mirror.filter(_.tool != null).groupMapReduce(_.tool)(_ => 1L)(_ + _)
      val hours = mirror.groupMapReduce(r => (r.tsMs / 3600000L * 3600000L).toString)(_ => 1L)(_ + _)
      h.expect(buckets("tools") == tools, s"EsAggs.search terms(tool): ${buckets("tools")} want $tools")
      h.expect(buckets("per_hour") == hours,
        s"EsAggs.search date_histogram(ts): ${buckets("per_hour").size} buckets want ${hours.size}")
    }
  }

  private def append(): Double = {
    val a = appended
    val b = InitialBatches + a
    val rows = Gen.batch(h.seed, InitialBatches.toLong * BatchConvs + a.toLong * AppendConvs,
      AppendConvs, AvgTurns, batchStartMs(b), WindowMs)
    val df = spark.createDataFrame(rows.map(_.turn))
    val delta = Checkpoint.Delta(Seq(Checkpoint.PartitionDelta("bench", b - 1L, b)))
    request("append", "sources.TranscriptTable.append") {
      val t0 = System.nanoTime()
      table.append(df, delta, numFiles = 1)
      appendRates += rows.size / ((System.nanoTime() - t0) / 1e9)
    } { _ =>
      appended += 1
      mirror ++= rows.map(MRow(_))
      h.expect(table.countFromMetadata() == mirror.size,
        s"append: table holds ${table.countFromMetadata()} turns, want ${mirror.size}")
    }
  }

  /** The fixed request sequence, with this round's seeded parameters: three
    * appends, six newest-k, one structured and one full-text search (term
    * and `match` on even rounds, range and `query_string` on odd ones), one
    * BM25-sorted search and one aggregation. */
  private def oneRound(): Double = {
    val rng = new scala.util.Random(h.seed * 7919L + round)
    val tool = HotTools(rng.nextInt(HotTools.size))
    val Seq(w1, w2) = rng.shuffle(Words).take(2)
    val lo = rng.nextInt(20)
    val byTool = Q(s"""{"term":{"tool":"$tool"}}""", _.tool == tool)
    val errors = Q("""{"match":{"text":"error"}}""", _.tokens("error"))
    val anyWord = Q(s"""{"match":{"text":"$w1 $w2"}}""", r => r.tokens(w1) || r.tokens(w2))
    val bothWords = Q(s"""{"query_string":{"query":"text:$w1 AND text:$w2"}}""",
      r => r.tokens(w1) && r.tokens(w2))
    val toolTurns = Q(s"""{"bool":{"filter":[{"range":{"turn_idx":{"gte":$lo,"lt":${lo + 5}}}},""" +
      """{"term":{"role":"tool"}}]}}""", r => r.turn_idx >= lo && r.turn_idx < lo + 5 && r.role == "tool")
    val even = round % 2 == 0
    val wall = h.tracer.span("round") {
      append() +
        latestK(10, None) +
        latestK(10, Some(byTool)) +
        search("struct", if (even) byTool else toolTurns) +
        search("text", if (even) anyWord else bothWords) +
        latestK(10, None) + // no append since the first: leaf-cache hit
        latestK(50, Some(errors)) +
        append() +
        latestK(10, Some(byTool)) +
        scored(anyWord, Seq(w1, w2)) +
        append() +
        aggs() +
        latestK(20, None)
    }
    h.clean()
    round += 1
    wall
  }

  def warmup(): Unit = for (_ <- 1 to WarmupRounds) oneRound()

  def loop(seconds: Double): Unit = {
    samples.values.foreach(_.clear())
    rounds.clear()
    appendRates.clear()
    opened = 0; live = 0; filesRead = 0; filesLive = 0
    // rounds in pairs: every run has as many even as odd rounds
    Harness.loopFor(seconds) { rounds += oneRound(); rounds += oneRound() }
    h.attempt("MergeExecutor.run")(h.tracer.span("publish.MergeExecutor.run")(
      MergeExecutor.run(table.dir, spark))) match {
      case Some((res, wall)) =>
        mergeS = wall
        mergeIn = res.replacedIds.size
        mergeOut = res.merged.size
        h.expect(table.countFromMetadata() == mirror.size,
          s"merge: table holds ${table.countFromMetadata()} turns, want ${mirror.size}")
        latestK(50, None)
      case None => ()
    }
    h.clean()
  }

  def opSeconds: Seq[Double] = rounds.toSeq
  def turnsPerSecond: Double = Stats.median(appendRates.toSeq)

  private def p50(cls: String): Double = Stats.median(samples(cls).toSeq)

  def figures: Seq[Metric] = Seq(
    Metric("latest_k_p50_ms", p50("latest_k") * 1000, "ms", samples("latest_k").map(_ * 1000).toSeq),
    Metric("search_struct_p50_ms", p50("struct") * 1000, "ms", samples("struct").map(_ * 1000).toSeq),
    Metric("search_text_p50_ms", p50("text") * 1000, "ms", samples("text").map(_ * 1000).toSeq),
    Metric("search_score_ms", p50("score") * 1000, "ms", samples("score").map(_ * 1000).toSeq),
    Metric("aggs_p50_ms", p50("aggs") * 1000, "ms", samples("aggs").map(_ * 1000).toSeq),
    Metric("append_p50_ms", p50("append") * 1000, "ms", samples("append").map(_ * 1000).toSeq),
    Metric("merge_s", mergeS, "s"),
    Metric("search_mix_wall_s", Stats.median(rounds.toSeq), "s", rounds.toSeq),
    Metric("table_turns", mirror.size.toDouble, "count"))

  def outputs: String = s"table_turns=${mirror.size} rounds=${rounds.size} merged=$mergeIn->$mergeOut"

  def decompose(): Seq[Metric] = {
    val t = h.tracer
    def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def timedN(name: String, n: Int)(f: => Unit): Double =
      med((1 to n).map { _ =>
        val t0 = System.nanoTime(); t.span(name)(f); (System.nanoTime() - t0) / 1e9
      })
    val queries = Seq(
      """{"term":{"tool":"bash"}}""", """{"match":{"text":"spark shuffle"}}""",
      """{"query_string":{"query":"text:spark AND text:shuffle"}}""")
    val compileMs = med(queries.flatMap(q => (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      t.span("query.compile")(EsDsl.parse(q).toColumn(resolver))
      (System.nanoTime() - t0) / 1e6
    }))
    val countS = med(queries.map(q => timedN("es.count", 1)(EsApi.countQuery(table.scan(), resolver, Some(q)))))
    val pageS = med(queries.map(q => timedN("es.page", 1)(EsApi.search(table.scan(), resolver, idCol,
      s"""{"query":$q,"sort":[{"ts":{"order":"desc"}}],"size":10,"track_total_hits":false}"""))))
    val scanS = timedN("ladder.scan", 3)(table.scan().write.format("noop").mode("overwrite").save())
    var tokens = 0L
    val tokS = timedN("ladder.tokenize", 3) {
      tokens = table.scan().select(explode(Tokenizers.default(col("text")))).count()
    }
    val window = table.scan(startMicros = Some(batchStartMs(InitialBatches - 1) * 1000L))
    val bm25S = timedN("ladder.bm25", 3)(Scoring.bm25(window, idCol, col("text"), Seq("spark", "shuffle")).count())
    val searches = t.named("queryast.EsApi.search").size
    val hits = table.leafCache.hits
    val misses = table.leafCache.misses
    Seq(
      Metric("append.busy_s", p50("append"), "s"),
      Metric("topk.splits_opened_ratio", opened.toDouble / math.max(1L, live), "ratio"),
      Metric("scan.files_read_ratio", filesRead.toDouble / math.max(1L, filesLive), "ratio"),
      Metric("leaf_cache.hit_ratio", hits.toDouble / math.max(1L, hits + misses), "ratio"),
      Metric("leaf_cache.bytes", table.leafCache.sizeBytes.toDouble, "bytes"),
      Metric("query.compile_ms", compileMs, "ms"),
      Metric("es.count_s", countS, "s"),
      Metric("es.page_s", pageS, "s"),
      Metric("es.jobs_per_search", t.usage("queryast.EsApi.search").jobs.toDouble / math.max(1, searches), "count"),
      Metric("aggs.busy_s", p50("aggs"), "s"),
      Metric("bm25.busy_s", bm25S, "s"),
      Metric("merge.busy_s", mergeS, "s"),
      Metric("merge.splits_in", mergeIn.toDouble, "count"),
      Metric("merge.splits_out", mergeOut.toDouble, "count"),
      Metric("tokenize.busy_s", math.max(0.0, tokS - scanS), "s"),
      Metric("tokenize.tokens_per_s", tokens / math.max(1e-3, tokS - scanS), "tokens/s")) ++
      Indexing.publishLadder(h, table.dir)
  }
}

object SearchMix {
  val InitialBatches = 3
  val BatchConvs = 150
  val AppendConvs = 15
  val AvgTurns = 100
  /** Files per set-up batch; appends write one file each. */
  val FilesPerBatch = 4
  val WindowMs: Long = 3600000L
  val WarmupRounds = 1
  val HotTools: Seq[String] = Seq("bash", "search", "python")
  val Words: Seq[String] = Seq("spark", "shuffle", "query", "merge", "index", "token", "fox", "lazy")
}
