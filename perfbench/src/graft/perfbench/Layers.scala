package graft.perfbench

import scala.collection.mutable
import org.apache.hadoop.fs.Path

/** Set-up timing: `setup_s` is session start plus input generation plus
  * the median of several identical set-ups, so one slow set-up does not
  * move it and work moved into set-up still shows. */
object Setup {
  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = f
    (v, (System.nanoTime() - t0) / 1e9)
  }

  def repeat(r: Run, times: Int, genS: Double)(f: Int => Unit): Unit = {
    val secs = (0 until times).map(i => timed(r.ledger.op("setup")(f(i)))._2)
    r.sampleMemory()
    r.note(f"set-up: session ${r.sessionStartS}%.2fs, inputs $genS%.2fs, " +
      secs.map(s => f"$s%.2f").mkString("set-ups ", "s, ", "s"))
    if (!r.tracing) r.put("setup_s", r.sessionStartS + genS + Stats.median(secs), "s")
  }
}

/** Per-layer metrics of a traced run, computed from the traced calls'
  * spans and the Spark jobs the listener attributed to them. Every metric
  * is reported on every workload; one whose layer the workload never
  * calls reads 0. */
object Layers {
  /** (name, unit) of every per-layer metric, in report order. */
  val all: Seq[(String, String)] = Seq(
    "sources.parse_s" -> "s", "sources.rows" -> "count", "sources.tasks" -> "count",
    "etl.stage_s" -> "s", "etl.merge_s" -> "s", "etl.write_s" -> "s",
    "etl.jobs" -> "count", "etl.shuffle_bytes" -> "bytes", "etl.rows_inserted" -> "count",
    "etl.load.records_per_s" -> "1/s", "etl.reload_s" -> "s",
    "closure.s" -> "s", "closure.rows" -> "count", "closure.jobs" -> "count",
    "closure.shuffle_bytes" -> "bytes",
    "export.s" -> "s", "export.jobs" -> "count", "export.shuffle_bytes" -> "bytes",
    "export.output_bytes" -> "bytes", "export.lines_per_s" -> "1/s",
    "textindex.serve.p50_ms" -> "ms", "textindex.serve.p90_ms" -> "ms",
    "textindex.serve.samples" -> "count", "textindex.fleet.p50_ms" -> "ms",
    "textindex.batch.queries_per_s" -> "1/s",
    "textindex.serve.jobs_per_call" -> "count", "textindex.fleet.jobs_per_call" -> "count",
    "textindex.serve.driver_gap_ms" -> "ms", "textindex.serve.exec_run_ms" -> "ms",
    "textindex.serve.input_bytes" -> "bytes", "textindex.batch.jobs_per_query" -> "count",
    "textindex.serve_plain.p50_ms" -> "ms", "textindex.serve_plain.jobs_per_call" -> "count",
    "textindex.serve_after_write.p50_ms" -> "ms",
    "textindex.serve_after_write.jobs_per_call" -> "count") ++
    Seq("build", "blockstats", "append", "delete", "compact").flatMap(v => Seq(
      s"textindex.${v}_s" -> "s", s"textindex.$v.jobs" -> "count",
      s"textindex.$v.output_bytes_per_input_byte" -> "ratio")) ++ Seq(
    "textindex.append.docs_per_s" -> "1/s", "textindex.delete.p50_ms" -> "ms",
    "sinks.store_files" -> "count", "sinks.sidecar_files" -> "count",
    "plans.files_scanned_ratio" -> "ratio",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.driver_gap_s" -> "s",
    "spark.gc_ms" -> "ms", "spark.spill_bytes" -> "bytes",
    "spark.unattributed_jobs" -> "count", "trace.overhead_ms" -> "ms")
  private val unitOf = all.toMap

  private def put(r: Run, name: String, v: Double): Unit =
    r.put(name, if (v.isNaN) 0.0 else v, unitOf(name))

  // ------------------------------------------------------------ helpers

  /** Median over the traced spans named `name` of `f(span)`. */
  def medianOf(r: Run, name: String)(f: Span => Double): Double =
    Stats.median(r.ledger.named(name).map(f))

  def jobs(r: Run, name: String): Double =
    medianOf(r, name)(s => r.ledger.costOf(s).jobs.toDouble)

  /** Output bytes the calls' tasks wrote per byte of input text they
    * covered, over every traced call named `name`. */
  def amplification(r: Run, name: String): Double = {
    val spans = r.ledger.named(name)
    spans.map(s => r.ledger.costOf(s).outputBytes).sum.toDouble /
      spans.map(_.inBytes).sum
  }

  /** Data files (via the sinks listing helper) and sidecar files of the
    * store, sampled after set-up and after every mutation of a traced
    * run. */
  def storeFiles(r: Run, dir: String): Unit = if (r.tracing) {
    val data = graft.sinks.SkippingStore.listDataFileRelPaths(r.spark, dir).size
    r.storeCounts += ((data, listFiles(r, dir).count { case (p, _) =>
      p.split('/').exists(_.startsWith("_")) && !p.endsWith("_SUCCESS") }))
  }

  /** Bytes on disk under `dir`: data plus sidecars, checksums excluded. */
  def storeBytes(r: Run, dir: String): Long = listFiles(r, dir).map(_._2).sum

  private def listFiles(r: Run, dir: String): Seq[(String, Long)] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(r.spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(root, true)
    val out = mutable.ArrayBuffer.empty[(String, Long)]
    val prefix = fs.makeQualified(root).toString.stripSuffix("/") + "/"
    while (it.hasNext) {
      val st = it.next()
      val rel = st.getPath.toString.stripPrefix(prefix)
      if (!rel.endsWith(".crc")) out += ((rel, st.getLen))
    }
    out.toSeq
  }

  // ----------------------------------------------------------- by layer

  /** Sources: the calls that parse the workload's input files. */
  def sources(r: Run): Unit = {
    val parse = r.ledger.named("sources.parse")
    put(r, "sources.parse_s", Stats.median(parse.map(_.secs)))
    put(r, "sources.rows", Stats.median(parse.map(s => r.ledger.costOf(s).inputRecords.toDouble)))
    put(r, "sources.tasks", Stats.median(parse.map(s => r.ledger.costOf(s).tasks.toDouble)))
  }

  /** TextIndex read and write paths, sinks, and the plans' file pruning
    * on the block-max store `pruned`. */
  def text(r: Run, pruned: String): Unit = {
    r.ledger.settle()
    sources(r)
    val traced = r.ledger.named("textindex.serve")
    put(r, "textindex.serve.p50_ms", Stats.median(traced.map(_.secs)) * 1000)
    put(r, "textindex.serve.p90_ms", Stats.quantile(traced.map(_.secs), 0.9) * 1000)
    put(r, "textindex.serve.samples", traced.size)
    put(r, "textindex.fleet.p50_ms", Stats.median(r.ledger.named("textindex.fleet").map(_.secs)) * 1000)
    val b = r.ledger.named("textindex.batch")
    put(r, "textindex.batch.queries_per_s", b.size * TextBench.frame.toDouble / b.map(_.secs).sum)
    put(r, "textindex.serve.jobs_per_call", jobs(r, "textindex.serve"))
    put(r, "textindex.fleet.jobs_per_call", jobs(r, "textindex.fleet"))
    put(r, "textindex.serve.driver_gap_ms", medianOf(r, "textindex.serve")(r.ledger.driverGapMs))
    put(r, "textindex.serve.exec_run_ms",
      medianOf(r, "textindex.serve")(s => r.ledger.costOf(s).runMs.toDouble))
    put(r, "textindex.serve.input_bytes",
      medianOf(r, "textindex.serve")(s => r.ledger.costOf(s).inputBytes.toDouble))
    put(r, "textindex.batch.jobs_per_query", jobs(r, "textindex.batch") / TextBench.frame)
    put(r, "textindex.serve_plain.p50_ms",
      Stats.median(r.ledger.secs("textindex.serve_plain")) * 1000)
    put(r, "textindex.serve_plain.jobs_per_call", jobs(r, "textindex.serve_plain"))
    put(r, "textindex.serve_after_write.p50_ms",
      Stats.median(r.ledger.secs("textindex.serve_after_write")) * 1000)
    put(r, "textindex.serve_after_write.jobs_per_call", jobs(r, "textindex.serve_after_write"))
    Seq("build", "blockstats", "append", "delete", "compact").foreach(textWrite(r, _))
    val appends = r.ledger.secs("textindex.append")
    put(r, "textindex.append.docs_per_s", appends.size * TextBench.appendDocs / appends.sum)
    put(r, "textindex.delete.p50_ms", Stats.median(r.ledger.secs("textindex.delete")) * 1000)
    put(r, "sinks.store_files", Stats.median(r.storeCounts.map(_._1.toDouble).toSeq))
    put(r, "sinks.sidecar_files", Stats.median(r.storeCounts.map(_._2.toDouble).toSeq))
    val files = graft.sinks.SkippingStore.listDataFileRelPaths(r.spark, pruned).size
    put(r, "plans.files_scanned_ratio",
      medianOf(r, "textindex.serve")(s => r.ledger.filesScanned(s, pruned).toDouble / files))
    overhead(r, "calibration.serve")
  }

  private def textWrite(r: Run, verb: String): Unit = {
    val name = s"textindex.$verb"
    put(r, s"${name}_s", medianOf(r, name)(_.secs))
    put(r, s"$name.jobs", jobs(r, name))
    put(r, s"$name.output_bytes_per_input_byte", amplification(r, name))
  }

  /** Sources, etl, closure and export on the Chado path. The etl figures
    * are those of the first GFF3 load of each round. */
  def chado(r: Run, recordsPerS: Double, linesPerS: Double, inserted: Long,
            closureRows: Long): Unit = {
    r.ledger.settle()
    sources(r)
    val loads = r.ledger.named("gff3.load")
    def phase(p: String) = loads.flatMap(r.ledger.childrenOf).filter(_.name == p)
    Seq("stage", "merge", "write").foreach(p =>
      put(r, s"etl.${p}_s", Stats.median(phase(s"etl.$p").map(_.secs))))
    val etl = loads.map(l => r.ledger.childrenOf(l).filter(_.layer == "etl")
      .map(r.ledger.costOf).foldLeft(new Cost) { (a, c) => a.add(c); a })
    put(r, "etl.jobs", Stats.median(etl.map(_.jobs.toDouble)))
    put(r, "etl.shuffle_bytes", Stats.median(etl.map(_.shuffleWriteBytes.toDouble)))
    put(r, "etl.rows_inserted", inserted)
    put(r, "etl.load.records_per_s", recordsPerS)
    put(r, "etl.reload_s", Stats.median(r.ledger.named("gff3.reload").map(_.secs)))
    val closure = r.ledger.named("closure.transitive")
    put(r, "closure.s", Stats.median(closure.map(_.secs)))
    put(r, "closure.rows", closureRows)
    put(r, "closure.jobs", jobs(r, "closure.transitive"))
    put(r, "closure.shuffle_bytes",
      Stats.median(closure.map(s => r.ledger.costOf(s).shuffleWriteBytes.toDouble)))
    val exports = r.ledger.named("export")
    put(r, "export.s", Stats.median(exports.map(_.secs)))
    put(r, "export.jobs", jobs(r, "export"))
    put(r, "export.shuffle_bytes",
      Stats.median(exports.map(s => r.ledger.costOf(s).shuffleWriteBytes.toDouble)))
    put(r, "export.output_bytes",
      Stats.median(exports.map(s => r.ledger.costOf(s).outputBytes.toDouble)))
    put(r, "export.lines_per_s", linesPerS)
    overhead(r, "calibration.noop_reload")
  }

  /** Tracing overhead: median traced minus median untraced wall time of
    * the workload's calibration calls, the same call made both ways in
    * this run. */
  def overhead(r: Run, name: String): Unit = {
    val on = r.ledger.secs(name)
    val off = r.ledger.untracedSecs(name)
    put(r, "trace.overhead_ms", (Stats.median(on) - Stats.median(off)) * 1000)
  }

  /** Spark runtime, per traced timed operation (set-up excluded), and
    * every per-layer metric the workload did not touch as 0. */
  def spark(r: Run): Unit = {
    val ops = r.ledger.allSpans.filter(s => s.layer == "op" && s.traced &&
      s.name != "setup" && !s.name.startsWith("calibration."))
    val costs = ops.map(r.ledger.costOf)
    val n = math.max(1, ops.size).toDouble
    put(r, "spark.jobs", costs.map(_.jobs).sum / n)
    put(r, "spark.tasks", costs.map(_.tasks).sum / n)
    put(r, "spark.driver_gap_s", ops.map(r.ledger.driverGapMs).sum / 1000 / n)
    put(r, "spark.gc_ms", costs.map(_.gcMs).sum / n)
    put(r, "spark.spill_bytes", costs.map(_.spillBytes).sum / n)
    put(r, "spark.unattributed_jobs", r.ledger.jobs.map(_.unattributed.size).getOrElse(0).toDouble)
    all.foreach { case (k, u) => if (!r.metrics.contains(k)) r.put(k, 0.0, u) }
  }
}
