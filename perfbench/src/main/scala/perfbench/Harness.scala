package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** A named figure with its unit and, for timings, the sample it came from. */
final case class Metric(name: String, value: Double, unit: String, samples: Seq[Double] = Nil)

/** State shared by a run's workload: the session, a fresh work directory,
  * the tracer, and the tally of attempted and failed operations. */
final class Harness(val spark: SparkSession, val cores: Int, val seed: Long,
                    val workDir: Path, val tracer: Tracer) {

  val failures = ArrayBuffer.empty[String]
  var attempted = 0L
  private var leakedBytes = 0L
  private var dirs = 0

  def leaked: Long = leakedBytes

  /** A path under the work dir that nothing has used yet. */
  def freshDir(label: String): String = {
    dirs += 1
    val d = workDir.resolve(f"$label-$dirs%04d")
    Harness.deleteRecursively(d)
    Files.createDirectories(d.getParent)
    d.toString
  }

  /** Record a mismatch between an engine answer and its expected value. */
  def expect(ok: Boolean, what: => String): Unit =
    if (!ok) { failures += what; System.err.println(s"[perfbench] MISMATCH $what") }

  /** One attempted operation: its wall in seconds, or None after recording
    * the failure with its message. */
  def attempt[T](label: String)(f: => T): Option[(T, Double)] = {
    attempted += 1
    tracer.request = attempted
    val t0 = System.nanoTime()
    try Some(f -> (System.nanoTime() - t0) / 1e9)
    catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        val msg = s"$label failed: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
        failures += msg
        System.err.println(s"[perfbench] $msg")
        None
    }
  }

  /** Between operations: anything still cached is residue the last call
    * leaked; record the largest such residue, then drop it so the next
    * operation starts from the same state. */
  def clean(): Unit = tracer.span("harness.clean") {
    val sc = spark.sparkContext
    val residue = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    if (residue > leakedBytes) leakedBytes = residue
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}

object Harness {
  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  /** Run `body` repeatedly until `seconds` of wall have passed (at least
    * once). */
  def loopFor(seconds: Double)(body: => Unit): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var first = true
    while (first || System.nanoTime() < deadline) { body; first = false }
  }
}

/** A workload: a set-up that can be repeated, a closed loop with one
  * caller, and a traced decomposition of its layers. */
trait Workload {
  /** Build the state the loop starts from, in fresh directories. */
  def setup(): Unit
  /** Untimed operations that let caches fill and code warm up. */
  def warmup(): Unit
  /** The measured loop; drops earlier samples first. */
  def loop(seconds: Double): Unit
  /** Wall of each operation of the last loop, in seconds. */
  def opSeconds: Seq[Double]
  /** Turns ingested per second of ingest wall. */
  def turnsPerSecond: Double
  /** The workload's own end-to-end figures (named in perfbench/README.md). */
  def figures: Seq[Metric]
  /** The counts and checksum the workload's outputs came to. */
  def outputs: String
  /** Layer-by-layer calls, each in its own span (traced runs only); the
    * per-layer metrics this workload can speak to. */
  def decompose(): Seq[Metric]
}
