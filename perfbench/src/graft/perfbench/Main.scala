package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** State one workload run shares with the harness: the session, the
  * clock, the deadline, the operation tally and the metrics it reports. */
final class Run(val spark: SparkSession, val ledger: Ledger, val work: Path,
                val seed: Long, val seconds: Int, val sessionStartS: Double) {
  var attempted = 0L
  var failed = 0L
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** (data, sidecar) file counts of the mutating store, sampled as the
    * run goes. */
  val storeCounts = mutable.ArrayBuffer.empty[(Int, Int)]
  /** Human-readable lines printed above the result. */
  val notes = mutable.ArrayBuffer.empty[String]

  def tracing: Boolean = ledger.tracing
  private var start = 0L
  def startClock(): Unit = start = System.nanoTime()
  /** Whether the measured seconds are not yet up. */
  def timeLeft(): Boolean = System.nanoTime() - start < seconds * 1e9

  /** Largest live memory seen at a sample point: heap in use right after
    * a full collection, plus class metadata (metaspace). The JIT's code
    * cache is left out: its size follows compilation timing, not the
    * program's data. */
  private var liveBytes = 0L
  /** Collect, then sample live memory; called between operations, never
    * inside a timed call, and only in untraced runs, which report it. */
  def sampleMemory(): Unit = if (!tracing) {
    // the first collection lets Spark's ContextCleaner drop broadcasts
    // and shuffles nothing references any more; the second frees them
    System.gc()
    Thread.sleep(200)
    System.gc()
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    val meta = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName == "Metaspace").map(_.getUsage.getUsed).sum
    liveBytes = math.max(liveBytes, heap + meta)
  }
  def liveMb: Double = liveBytes / (1024.0 * 1024.0)

  def put(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)
  def note(s: String): Unit = notes += s

  /** One timed operation: an exception is a failed operation, never a
    * timing. */
  def attempt[T](name: String, traced: Boolean = true)(f: => T): Option[T] = {
    attempted += 1
    try Some(ledger.op(name, traced)(f))
    catch {
      case e: Exception =>
        failed += 1
        System.err.println(s"[perfbench] $name failed: $e")
        None
    }
  }

  /** An answer check, run outside the timed calls. A failure is charged
    * to the operation whose answer it checked. */
  def check(ok: Boolean, what: => String): Boolean = {
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] check failed: $what")
    }
    ok
  }

  def dir(name: String): String = work.resolve(name).toString
}

object Stats {
  /** Linear-interpolated quantile, `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** `graft.perfbench.Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --result <file> --trace-file <file>`
  *
  * Runs one workload in one Spark session on `local[min(4, cores)]` and
  * writes the result object to `--result`; `perfbench/run.py` builds this
  * and prints that object as its last line. */
object Main {
  val workloads: Map[String, Run => Unit] = Map(
    "text" -> TextBench.run,
    "chado-etl" -> ChadoBench.etl)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    val run = workloads.getOrElse(workload,
      throw new IllegalArgumentException(
        s"unknown workload '$workload' (known: ${workloads.keys.toSeq.sorted.mkString(", ")})"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val tracing = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    Files.createDirectories(work)

    val t0 = System.nanoTime()
    val spark = graft.GraftSession.local(cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ledger = new Ledger(spark, tracing)
    val r = new Run(spark, ledger, work, seed, seconds, sessionS)
    try {
      run(r)
      if (tracing) {
        Layers.spark(r)
        val trace = opts("trace-file")
        ledger.writeTrace(trace)
        r.note(s"trace: ${ledger.allSpans.size} spans in $trace")
      } else {
        r.put("live_mb", r.liveMb, "MB")
      }
    } finally spark.stop()

    r.note(f"error_rate ${if (r.attempted == 0) 0.0 else r.failed.toDouble / r.attempted}%.4f " +
      s"(${r.failed} failed of ${r.attempted} attempted)")
    r.notes.foreach(n => println(s"[perfbench] $workload: $n"))
    r.metrics.foreach { case (k, (v, u)) => println(f"[perfbench] $workload: $k%-44s $v%.6g $u") }
    val result = Json.obj(Seq(
      "correct" -> (r.failed == 0 && r.attempted > 0),
      "attempted" -> r.attempted,
      "failed" -> r.failed,
      "metrics" -> r.metrics.toSeq.map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) }.toMap))
    Files.write(Paths.get(opts("result")), (result + "\n").getBytes("UTF-8"))
  }
}
