package perfbench

import java.sql.Timestamp
import graft.model.{TranscriptGen, Turn}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One generated turn plus the facts the generator knows about it, so the
  * expected pipeline outputs can be derived without running the engine's
  * parser: `malformed` rows must go to the dead letter, `is_err` rows to the
  * error index, and `sink` is the tools-dimension sink the router joins in. */
final case class GenTurn(conv_id: String, turn_idx: Int, role: String, text: String,
                         tool: String, ts: Timestamp, malformed: Boolean,
                         is_err: Boolean, sink: String) {
  def turn: Turn = Turn(conv_id, turn_idx, role, text, tool, ts)
}

/** Seeded transcript input. `TranscriptGen.distributedTurns` derives
  * everything from hashes of the row position and takes no seed, so the
  * benchmark keeps its own generator with the same shape: the same role,
  * tool, severity and word vocabularies, ~2% malformed rows (null text or
  * a truncated `CALL x(`), tool calls that fail one time in five, and one
  * hot conversation holding a fixed share of all turns. Every conversation
  * draws from its own generator seeded by (seed, conversation), so a
  * conversation is the same wherever and in whatever order it is built. */
object Gen {

  private val words = Vector(
    "the", "quick", "brown", "fox", "jumps", "over", "lazy", "dog",
    "spark", "query", "plan", "shuffle", "join", "filter", "agg",
    "token", "split", "index", "merge", "route", "batch", "stream")

  private val sinkOf: Map[String, String] =
    TranscriptGen.toolsDim.map { case (t, sink, _, _) => t -> sink }.toMap

  private def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Turns of conversation `cid`: `n` turns starting at `t0Ms`, spaced
    * `stepMs` ± jitter apart. */
  def conversation(seed: Long, cid: Long, n: Int, t0Ms: Long, stepMs: Int): Iterator[GenTurn] = {
    val rng = new scala.util.Random(mix(seed, cid))
    val convId = f"conv$cid%07d"
    var ts = t0Ms
    Iterator.tabulate(n) { i =>
      val role = TranscriptGen.Roles(rng.nextInt(TranscriptGen.Roles.length))
      val sev = TranscriptGen.Severities(rng.nextInt(TranscriptGen.Severities.length))
      val tool =
        if (role == "tool" || rng.nextInt(4) == 0)
          TranscriptGen.ToolVocab(rng.nextInt(TranscriptGen.ToolVocab.length))
        else null
      val malformed = rng.nextInt(50) == 0
      var failed = false
      val text =
        if (malformed) { if (rng.nextBoolean()) null else "CALL truncated(" }
        else {
          val sb = new StringBuilder(sev)
          var w = 3 + rng.nextInt(8)
          while (w > 0) { sb += ' ' ++= words(rng.nextInt(words.length)); w -= 1 }
          if (tool != null) {
            failed = rng.nextInt(5) == 0
            sb ++= s" CALL $tool(arg=${rng.nextInt(100)}) -> ${if (failed) "ERR" else "OK"}"
            if (failed)
              sb ++= s" ERROR[${100 + rng.nextInt(900)}]: ${words(rng.nextInt(words.length))} failed"
          }
          sb.result()
        }
      val t = GenTurn(convId, i, role, text, tool, new Timestamp(ts), malformed,
        !malformed && (failed || sev == "ERROR"), if (tool == null) null else sinkOf(tool))
      ts += stepMs / 2 + rng.nextInt(stepMs)
      t
    }
  }

  /** Turn count of conversation `cid`: avgTurns/2 + [0, avgTurns). */
  def convSize(seed: Long, cid: Long, avgTurns: Int): Int =
    avgTurns / 2 + (java.lang.Long.remainderUnsigned(mix(seed ^ 0x5EEDL, cid), avgTurns.toLong)).toInt

  val BaseMs = 1704067200000L // 2024-01-01T00:00:00Z

  /** A pipeline input built on the executors: conversations
    * [firstConv, firstConv + numConvs) plus, when `hotTurns` > 0, one hot
    * conversation (id firstConv + numConvs) of exactly that many turns. */
  def distributed(spark: SparkSession, seed: Long, firstConv: Long, numConvs: Int,
                  avgTurns: Int, hotTurns: Int, parts: Int): Dataset[GenTurn] = {
    import spark.implicits._
    val convs = (0 until numConvs).map(i => (firstConv + i, convSize(seed, firstConv + i, avgTurns))) ++
      (if (hotTurns > 0) Seq((firstConv + numConvs, hotTurns)) else Nil)
    spark.sparkContext.parallelize(convs, parts).flatMap { case (cid, n) =>
      // a day of spread between conversations, ~30 s between turns
      conversation(seed, cid, n, BaseMs + java.lang.Long.remainderUnsigned(mix(seed, ~cid), 86400000L), 60000)
    }.toDS()
  }

  /** A time-ordered table batch built on the driver: `numConvs` fresh
    * conversations whose turns all fall in [startMs, startMs + windowMs). */
  def batch(seed: Long, firstConv: Long, numConvs: Int, avgTurns: Int,
            startMs: Long, windowMs: Long): Vector[GenTurn] =
    (0 until numConvs).iterator.flatMap { i =>
      val cid = firstConv + i
      val n = convSize(seed, cid, avgTurns)
      val step = math.max(2, (windowMs / (4L * n)).toInt)
      val offset = java.lang.Long.remainderUnsigned(mix(seed, ~cid), math.max(1L, windowMs / 2))
      conversation(seed, cid, n, startMs + offset, step)
    }.toVector

  /** What one pipeline run over `gen` must report, derived from the
    * generator's own flags; the checksum is Σ xxhash64(sink, conv_id,
    * turn_idx) over valid rows mod 2^64, summed exactly as a decimal here
    * rather than through the pipeline's limb arithmetic. */
  final case class Expected(rows: Long, deadLetter: Long, errors: Long, convs: Long, checksum: Long)

  def expected(gen: Dataset[GenTurn]): Expected = {
    val valid = !col("malformed")
    val r = gen.agg(
      count(lit(1)),
      sum(when(col("malformed"), 1L).otherwise(0L)),
      sum(when(col("is_err"), 1L).otherwise(0L)),
      count_distinct(when(valid, col("conv_id"))),
      sum(when(valid,
        xxhash64(coalesce(col("sink"), lit("_null")), col("conv_id"), col("turn_idx"))
          .cast("decimal(38,0)")))).collect()(0)
    val ck = Option(r.getDecimal(4)).map(d => BigInt(d.toBigInteger).toLong).getOrElse(0L)
    Expected(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), ck)
  }

  def turnsFrame(gen: Dataset[GenTurn]): DataFrame =
    gen.select("conv_id", "turn_idx", "role", "text", "tool", "ts")
}
