package graft.perfbench

import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.TextIndex

/** The text-store workload. It drives the engine only through
  * `sources.JsonlCorpus`, the `TextIndex` write verbs, the
  * `TextIndex.serve`/`serveBatch` front door and the `sinks` listing
  * helper; the serve route follows from the inputs (shard count,
  * block-max present, scorer), never from engine state. */
object TextBench {
  type Answer = Vector[(Long, Double)]

  final case class Size(docs: Int, vocab: Int, minLen: Int, maxLen: Int,
                        buckets: Int, filesPerBucket: Int, k: Int, head: Int)

  /** 4k docs of 20–220 tokens over a 20k-term Zipf vocabulary: big enough
    * that a serve reads only a few of the store's ~20 data files, small
    * enough that every serve is bound by the engine's fixed per-call Spark
    * cost, as it is at the registry's scale. */
  val size = Size(docs = 4000, vocab = 20000, minLen = 20, maxLen = 220,
    buckets = 8, filesPerBucket = 2, k = 10, head = 40)
  val shards = 3
  /** Queries per `serveBatch` frame: the frame size of the sizing run the
    * workload was designed from (50 queries, 45 jobs, 11–12 s on 20k
    * docs), so a frame's cost is mostly per-query work, not the batch's
    * fixed per-call cost. */
  val frame = 50
  /** An ingest step appends and deletes a few percent of the store. */
  val appendDocs = 100
  val deleteDocs = 20

  val corpusSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  def answer(df: DataFrame): Answer =
    df.select(col("doc_id"), col("score")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toVector

  /** Rank order the front door promises: score descending, doc id
    * ascending, at most `k` rows. */
  def wellFormed(a: Answer, k: Int): Boolean =
    a.size <= k && a.zip(a.drop(1)).forall { case ((d1, s1), (d2, s2)) =>
      s1 > s2 || (s1 == s2 && d1 < d2)
    }

  def textBytes(docs: Iterable[Gen.Doc]): Long =
    docs.iterator.map(_.text.getBytes("UTF-8").length.toLong).sum

  /** Write the docs as JSONL and read them back through the engine's
    * JSONL source, materialized so the parse is this call's cost. */
  def readCorpus(r: Run, name: String, docs: Seq[Gen.Doc]): DataFrame = {
    val path = r.work.resolve(s"$name.jsonl")
    Gen.writeJsonl(path, docs)
    val df = r.ledger.call("sources", "sources.parse") {
      val (valid, _) = graft.sources.JsonlCorpus.read(r.spark, path.toString,
        corpusSchema)
      valid.localCheckpoint()
    }
    r.check(df.count() == docs.size, s"$name: JSONL source lost rows")
    df
  }

  /** One front-door serve, collected: the answer a caller waits for. */
  private def serveCall(r: Run, dirs: Seq[String], terms: Seq[String],
                        scorer: String): Answer =
    answer(TextIndex.serve(r.spark, dirs, terms, size.k, scorer))

  /** [[serveCall]], timed as the layer call `name`. */
  def serve(r: Run, name: String, dirs: Seq[String], terms: Seq[String],
            scorer: String): Answer =
    r.ledger.call("textindex", name)(serveCall(r, dirs, terms, scorer))

  private def batchFrame(r: Run, frame: Seq[Seq[String]]): DataFrame = {
    import r.spark.implicits._
    frame.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("qid", "terms")
  }

  /** One `serveBatch` call over a query frame, collected. */
  private def batchCall(r: Run, dirs: Seq[String], q: DataFrame, scorer: String): Array[Row] =
    TextIndex.serveBatch(r.spark, dirs, q, "qid", "terms", size.k, scorer)
      .select(col("query_id"), col("doc_id"), col("score")).collect()

  /** [[batchCall]] over `frame`, timed as the layer call `name`; answers
    * by query index in the frame. */
  def serveBatch(r: Run, name: String, dirs: Seq[String], frame: Seq[Seq[String]],
                 scorer: String): Map[Long, Answer] = {
    val q = batchFrame(r, frame)
    val rows = r.ledger.call("textindex", name)(batchCall(r, dirs, q, scorer))
    rows.groupBy(_.getLong(0)).map { case (id, rs) =>
      id -> rs.map(x => (x.getLong(1), x.getDouble(2))).toVector
    }.withDefaultValue(Vector.empty)
  }

  private def corpus(rng: Random, ids: Seq[Long]): Vector[Gen.Doc] =
    Gen.docs(rng, new Gen.Zipf(size.vocab), ids, size.minLen, size.maxLen)

  /** Set-up builds four stores from one corpus: `pruned` (block-max
    * stats), `plain` (the same build without them), a block-max fleet of
    * `shards` shards, and `ingest`, a copy of `pruned` that the run
    * mutates. The timed loop runs a serve step and an ingest step, in
    * turn, until the time is up.
    *
    * A serve step reads only never-changing stores, so the engine's
    * per-store memos always hit: eight queries (two of each shape, the
    * first two of each four bm25, the last two lm) on `pruned`, the first
    * four of them also on `plain`, one on the fleet, and a `frame` of
    * queries as one `serveBatch` call.
    *
    * An ingest step writes beside reads: a delete (seeded live ids), an
    * append (fresh ids) and a compaction, each followed by a serve on
    * `ingest`. Every write changes the store's listing, so each of those
    * serves misses the memos; the first two run on the tombstone path.
    *
    * Answers that must agree are compared outside the timed calls:
    * pruned = plain, fleet = single store, batch = serve, and every bm25
    * batch answer and the bm25 answer after the append against brute
    * force over the docs live then. */
  def run(r: Run): Unit = {
    val rng = new Random(r.seed)
    val ((docs, queries), genS) = Setup.timed {
      val d = corpus(rng, (1L to size.docs.toLong))
      (d, Gen.queries(rng, 4000, d, size.head))
    }
    val pruned = r.dir("pruned")
    val plain = r.dir("plain")
    val ingest = r.dir("ingest")
    val fleet = (0 until shards).map(s => r.dir(s"shard$s"))
    Setup.repeat(r, 1, genS) { _ =>
      val df = readCorpus(r, "corpus", docs)
      r.ledger.call("textindex", "textindex.build", textBytes(docs)) {
        TextIndex.build(df, "doc_id", "text", pruned, size.buckets, size.filesPerBucket)
      }
      copyDir(r, pruned, plain)
      r.ledger.call("textindex", "textindex.blockstats", textBytes(docs)) {
        TextIndex.buildBlockStats(r.spark, pruned)
      }
      copyDir(r, pruned, ingest)
      // the shards build concurrently, as the engine's own fixture
      // pipeline builds independent stores
      r.ledger.call("textindex", "textindex.fleet_build", textBytes(docs)) {
        concurrently(fleet.zipWithIndex.map { case (d, s) => () =>
          TextIndex.build(df.filter(col("doc_id") % shards === s), "doc_id", "text",
            d, size.buckets, size.filesPerBucket)
          TextIndex.buildBlockStats(r.spark, d)
        })
      }
      // first-call init (codegen, file indexes, per-store memos) belongs
      // to set-up, not to the first timed call of each route; the routes
      // warm up concurrently, as each call is mostly driver-side wait
      val q = queries.last
      val frame2 = batchFrame(r, queries.takeRight(2))
      r.ledger.call("textindex", "warmup") {
        concurrently(Seq(
          () => serveCall(r, Seq(pruned), q, "bm25"),
          () => serveCall(r, Seq(plain), q, "lm"),
          () => serveCall(r, fleet, q, "bm25"),
          () => batchCall(r, Seq(pruned), frame2, "lm")))
      }
    }
    Layers.storeFiles(r, ingest)

    val corpusDf = Oracle.frame(r.spark, docs)
    val live = scala.collection.mutable.LinkedHashMap.empty[Long, Gen.Doc]
    docs.foreach(d => live(d.id) = d)
    // appends take ids never used before: the engine refuses to re-append
    // an id with a pending tombstone
    var nextId = size.docs.toLong + 1
    def freshIds(n: Int) = { val ids = nextId until nextId + n; nextId += n; ids }
    var step = 0
    var next = 0
    def take(n: Int) = {
      val qs = (next until next + n).map(i => queries(i % queries.size))
      next += n
      qs
    }
    r.startClock()
    while (r.timeLeft()) {
      serveStep(r, step, take(8), take(frame - 2), pruned, plain, fleet, corpusDf)
      ingestStep(r, rng, ingest, live, freshIds, take(4))
      r.sampleMemory()
      step += 1
    }

    val prunedS = r.ledger.secs("textindex.serve")
    val plainS = r.ledger.secs("textindex.serve_plain")
    val changing = r.ledger.secs("textindex.serve_after_write")
    val fleetS = r.ledger.secs("textindex.fleet")
    val batchS = r.ledger.secs("textindex.batch")
    val wrote = Seq("append", "delete", "compact").map(v => r.ledger.secs(s"textindex.$v"))
    val docsWritten = wrote(0).size * appendDocs + wrote(1).size * deleteDocs
    r.note(s"$step serve and ingest steps: ${prunedS.size + plainS.size} single-store " +
      s"serves, ${fleetS.size} fleet serves, ${batchS.size} batches of $frame; " +
      s"${wrote(0).size} appends, ${wrote(1).size} deletes, ${wrote(2).size} " +
      s"compactions, ${changing.size} serves after writes")
    if (!r.tracing) {
      // the latency of the block-max route, which the front door takes for
      // every store that has the stats; `plain` serves answer the checks
      r.put("read.p50_ms", Stats.median(prunedS) * 1000, "ms")
      // the mean, not the median: the three serves take three different
      // paths (tombstones after a delete, fresh docs after an append, a
      // rewritten store after compaction), and each must count
      r.put("after_write.mean_ms", changing.sum / changing.size * 1000, "ms")
      val serves = Seq(prunedS, plainS, fleetS, batchS)
      r.put("read.items_per_s", (serves.map(_.size).sum + batchS.size * (frame - 1)) /
        serves.map(_.sum).sum, "1/s")
      r.put("write.items_per_s", docsWritten / wrote.map(_.sum).sum, "1/s")
      r.put("store.bytes_per_input_byte",
        Layers.storeBytes(r, ingest).toDouble / textBytes(live.values), "ratio")
    }
    if (r.tracing) Layers.text(r, pruned)
  }

  private def serveStep(r: Run, g: Int, qs: Seq[Seq[String]], more: Seq[Seq[String]],
                        pruned: String, plain: String, fleet: Seq[String],
                        corpusDf: DataFrame): Unit = {
    // eight samples for `read.p50_ms`; the first four also on `plain`,
    // whose answers must match
    val single = qs.zipWithIndex.map { case (q, j) =>
      val sc = if (j % 4 < 2) "bm25" else "lm"
      val p = r.attempt("serve")(serve(r, "textindex.serve", Seq(pruned), q, sc))
      r.check(p.forall(wellFormed(_, size.k)), s"malformed answer for $sc $q")
      if (j < 4) {
        val u = r.attempt("serve")(serve(r, "textindex.serve_plain", Seq(plain), q, sc))
        for (a <- p; b <- u) r.check(a == b, s"pruned != plain for $sc $q: $a vs $b")
      }
      p
    }
    // a traced run repeats the first two serves on `pruned` untraced and
    // traced, in both orders, to price the tracing itself; it does so
    // before the batch, as the first `pruned` serve after a batch runs
    // slower and would skew the half it fell in
    if (r.tracing) for ((q, order) <- qs.take(2).zip(Seq(Seq(false, true), Seq(true, false)));
                        traced <- order)
      r.attempt("calibration.serve", traced)(serve(r, "calibration.serve", Seq(pruned), q, "bm25"))
    // the fleet and the batch take bm25 and lm in turn, step by step; the
    // batch frame opens with the two queries just served singly
    val (sc, from) = if (g % 2 == 0) ("bm25", 0) else ("lm", 2)
    r.attempt("fleet")(serve(r, "textindex.fleet", fleet, qs(from), sc))
      .foreach(f => single(from).foreach(s =>
        r.check(f == s, s"fleet != single store for $sc ${qs(from)}: $f vs $s")))
    val batch = qs.slice(from, from + 2) ++ more
    r.attempt("batch")(serveBatch(r, "textindex.batch", Seq(pruned), batch, sc))
      .foreach { got =>
        (0 until 2).foreach(j => single(from + j).foreach(a =>
          r.check(got(j.toLong) == a, s"serveBatch != serve for $sc ${batch(j)}")))
        val want = if (sc == "bm25") Oracle.bm25(corpusDf, batch, size.k)
                   else Vector.empty
        batch.indices.foreach { j =>
          val a = got(j.toLong)
          r.check(wellFormed(a, size.k), s"malformed batch answer for ${batch(j)}")
          if (want.nonEmpty)
            r.check(a == want(j), s"serveBatch != brute-force BM25 for ${batch(j)}: " +
              s"$a vs ${want(j)}")
        }
      }
  }

  private def ingestStep(r: Run, rng: Random, store: String,
                         live: scala.collection.mutable.LinkedHashMap[Long, Gen.Doc],
                         freshIds: Int => Seq[Long], queries: Seq[Seq[String]]): Unit = {
    val reads = queries.iterator.zip(Iterator("lm", "bm25", "bm25"))
    // one serve right after each write; the bm25 serve after the append
    // sees both the tombstones and the fresh docs, and is checked
    def serveAfterWrite(check: Boolean): Unit = {
      val (q, sc) = reads.next()
      r.attempt("serve")(
        serve(r, "textindex.serve_after_write", Seq(store), q, sc)).foreach { a =>
        r.check(wellFormed(a, size.k), s"malformed answer for $q")
        if (check) {
          val want = Oracle.bm25(Oracle.frame(r.spark, live.values.toSeq), Seq(q), size.k).head
          r.check(a == want, s"serve after writes != brute-force BM25 for $q: $a vs $want")
        }
      }
    }
    val doomed = rng.shuffle(live.keys.toVector).take(deleteDocs).sorted
    val idsDf = Oracle.ids(r.spark, doomed)
    r.attempt("delete")(r.ledger.call("textindex", "textindex.delete",
        textBytes(doomed.map(live))) {
      TextIndex.delete(r.spark, store, idsDf, "doc_id")
    }).foreach { n =>
      r.check(n == doomed.size, s"delete removed $n of ${doomed.size}")
      doomed.foreach(live.remove)
      Layers.storeFiles(r, store)
    }
    serveAfterWrite(check = false)
    val fresh = corpus(rng, freshIds(appendDocs))
    val freshDf = Oracle.frame(r.spark, fresh)
    r.attempt("append")(r.ledger.call("textindex", "textindex.append", textBytes(fresh)) {
      TextIndex.append(freshDf, "doc_id", "text", store, size.filesPerBucket)
    }).foreach { _ =>
      fresh.foreach(d => live(d.id) = d)
      Layers.storeFiles(r, store)
    }
    serveAfterWrite(check = true)
    r.attempt("compact")(r.ledger.call("textindex", "textindex.compact",
        textBytes(live.values)) {
      TextIndex.compact(r.spark, store, size.filesPerBucket)
    }).foreach { case (before, after) =>
      r.check(after <= before, s"compact grew the store: $before -> $after files")
      Layers.storeFiles(r, store)
    }
    serveAfterWrite(check = false)
  }

  private def copyDir(r: Run, from: String, to: String): Unit = {
    val conf = r.spark.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(from)
    val fs = src.getFileSystem(conf)
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, new org.apache.hadoop.fs.Path(to),
      false, conf)
  }

  /** Run the tasks on their own threads, which inherit the caller's
    * Spark local properties (so their jobs land in the caller's span),
    * and rethrow the first failure. */
  private def concurrently(tasks: Seq[() => Unit]): Unit = {
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = tasks.map(t => new Thread(() =>
      try t() catch { case e: Throwable => errors.add(e) }))
    threads.foreach(_.start())
    threads.foreach(_.join())
    Option(errors.peek()).foreach(e => throw e)
  }
}

/** The reference answers the checks compare against, computed by the
  * benchmark itself with plain DataFrame operations. */
object Oracle {
  def frame(spark: SparkSession, docs: Seq[Gen.Doc]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      docs.map(d => Row(d.id, d.text)), 4), TextBench.corpusSchema)

  def ids(spark: SparkSession, ids: Seq[Long]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(ids.map(Row(_)), 1),
      StructType(Seq(StructField("doc_id", LongType))))

  /** Okapi BM25 over every document for each query, scored the way the
    * store defines it: idf and per-term contributions rounded to 6
    * places and summed exactly, ties broken by doc id. One answer per
    * query, in order, all from one Spark pass. */
  def bm25(docs: DataFrame, queries: Seq[Seq[String]], k: Int, k1: Double = 1.2,
           b: Double = 0.75): Vector[TextBench.Answer] = {
    import docs.sparkSession.implicits._
    val base = docs.select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
    val st = base.agg(count(lit(1)), sum(col("dl"))).head()
    val (n, sdl) = (st.getLong(0), st.getLong(1))
    val avgdl = round(lit(sdl).cast("double") / lit(n), 6)
    val tf = base.select(col("doc_id"), col("dl"), explode(col("toks")).as("w"))
      .filter(col("w").isin(queries.flatten.distinct: _*))
      .groupBy(col("doc_id"), col("dl"), col("w")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val contrib = tf.join(df, Seq("w"))
      .withColumn("idf", round(log(lit(1.0) + (lit(n) - col("df") + 0.5) / (col("df") + 0.5)), 6))
      .withColumn("c", round(col("idf") * (col("tf") * (k1 + 1)) /
        (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / avgdl)), 6)
        .cast("decimal(28,6)"))
    val qs = queries.zipWithIndex.flatMap { case (ts, i) => ts.distinct.map(i -> _) }
      .toDF("qid", "w")
    val rank = org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("doc_id"))
    val rows = qs.join(contrib, Seq("w"))
      .groupBy(col("qid"), col("doc_id")).agg(sum(col("c")).cast("double").as("score"))
      .withColumn("rk", row_number().over(rank)).filter(col("rk") <= k)
      .collect().groupBy(_.getInt(0))
    queries.indices.map(i => rows.getOrElse(i, Array.empty[Row])
      .sortBy(_.getAs[Int]("rk")).map(r => (r.getLong(1), r.getDouble(2))).toVector).toVector
  }
}
