package graft.perfbench

import scala.util.Random
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.chado.GffRecord
import graft.etl.{GafLoad, Gff3ToChado, OntologyMerge}
import graft.export.{GafExport, Gff3Export}

/** The paper's own workload: GFF3, OBO and GAF into a parquet Chado store
  * and back out, along the `gff3tochado` / `obo2chado` /
  * `dictygaf2chado` / `chado2gff3` / `chado2gaf` paths. Throughput-bound
  * by joins and shuffles in `sources`, `etl`, `operators.Closure` and
  * `export`; it does no TextIndex work. */
object ChadoBench {
  final case class Size(chroms: Int, genes: Int, exons: Int, delta: Int,
                        terms: Int, gafRows: Int)

  /** 800 genes of 3 exons (6,404 features), a 40-gene revision, a
    * 1,500-term ontology and 6,000 annotations: each step runs tens of
    * Spark jobs over inputs far smaller than a task, so the numbers
    * price the plans' shuffles and joins, not raw parse throughput. */
  val size = Size(chroms = 4, genes = 800, exons = 3, delta = 40, terms = 1500,
    gafRows = 6000)
  /** Input generations per run; `setup_s` counts their median. */
  val setups = 3

  val gffTables = Seq("feature", "featureloc", "analysisfeature", "synonym",
    "feature_synonym", "dbxref", "feature_dbxref", "feature_relationship",
    "featureprop")

  final case class Inputs(size: Size, base: Gen.Genome, delta: Gen.Genome,
                          onto: Gen.Ontology, gaf: Gen.Gaf, gffPath: String,
                          revisedPath: String, oboPath: String, gafPath: String,
                          inputBytes: Long)

  def inputs(r: Run, rng: Random, s: Size, name: String): Inputs = {
    val base = Gen.genome(rng, s.chroms, s.genes, s.exons, 0, withChroms = true)
    val delta = Gen.genome(rng, s.chroms, s.delta, s.exons, s.genes, withChroms = false)
    val onto = Gen.ontology(rng, s.terms)
    val gaf = Gen.gaf(rng, s.gafRows, base.genes, onto)
    val dir = r.work.resolve(name)
    val revisedText = base.text + delta.text.linesIterator.drop(1).map(_ + "\n").mkString
    Gen.write(dir.resolve("genome.gff3"), base.text)
    val bytes = Gen.write(dir.resolve("revised.gff3"), revisedText) +
      Gen.write(dir.resolve("go.obo"), onto.text) +
      Gen.write(dir.resolve("go.gaf"), gaf.text)
    Inputs(s, base, delta, onto, gaf, dir.resolve("genome.gff3").toString,
      dir.resolve("revised.gff3").toString, dir.resolve("go.obo").toString,
      dir.resolve("go.gaf").toString, bytes)
  }

  private def table(r: Run, store: String, t: String): DataFrame =
    r.spark.read.parquet(s"$store/$t")

  /** gff3tochado: parse through the DSv2 GFF3 source, stage, merge into
    * the live store (empty on first load), write every table. */
  def loadGff3(r: Run, path: String, store: String, first: Boolean): Map[String, Long] = {
    import r.spark.implicits._
    val recs = r.ledger.call("sources", "sources.parse") {
      r.spark.read.format("graft.sources.v2.Gff3DataSource").load(path)
        .as[GffRecord].localCheckpoint()
    }
    val staged = r.ledger.call("etl", "etl.stage") { Gff3ToChado.stage(r.spark, recs) }
    val live =
      if (first) Gff3ToChado.Store.emptyLike(staged)
      else {
        def t(n: String) = table(r, store, n)
        Gff3ToChado.Store(t("feature"), t("featureloc"), t("analysisfeature"),
          t("synonym"), t("feature_synonym"), t("dbxref"), t("feature_dbxref"),
          t("feature_relationship"), t("featureprop"))
      }
    val (merged, counts) = r.ledger.call("etl", "etl.merge") { Gff3ToChado.merge(staged, live) }
    r.ledger.call("etl", "etl.write") {
      val frames = Seq(merged.feature, merged.featureloc, merged.analysisfeature,
        merged.synonym, merged.featureSynonym, merged.dbxref, merged.featureDbxref,
        merged.featureRelationship, merged.featureprop)
      gffTables.zip(frames).foreach { case (t, df) =>
        // the merged frames still read the parquet being replaced
        val w = df.localCheckpoint().write.mode("overwrite")
        if (t == "featureloc") w.partitionBy("srcfeature").parquet(s"$store/$t")
        else w.parquet(s"$store/$t")
      }
    }
    counts
  }

  /** obo2chado plus the `cvtermpath` closure over every relationship. */
  def loadObo(r: Run, path: String, store: String): (Map[String, Long], Long) = {
    val (terms, rels) = r.ledger.call("sources", "sources.parse") {
      (graft.sources.Obo.terms(r.spark, path).localCheckpoint(),
        graft.sources.Obo.relationships(r.spark, path).localCheckpoint())
    }
    val staged = r.ledger.call("etl", "etl.stage") { OntologyMerge.stage(r.spark, terms, rels) }
    val res = r.ledger.call("etl", "etl.merge") {
      OntologyMerge.merge(staged, OntologyMerge.CvStore.emptyLike(staged))
    }
    r.ledger.call("etl", "etl.write") {
      Seq("cvterm" -> res.store.cvterm, "cvtermsynonym" -> res.store.synonym,
        "cvterm_altid" -> res.store.altId,
        "cvterm_relationship" -> res.store.relationship).foreach { case (t, df) =>
        df.write.mode("overwrite").parquet(s"$store/$t")
      }
    }
    r.ledger.call("closure", "closure.transitive") {
      val edges = table(r, store, "cvterm_relationship")
        .select(col("subject").as("child"), col("object").as("parent"))
      graft.operators.Closure.transitiveClosure(edges)
        .write.mode("overwrite").parquet(s"$store/cvtermpath")
    }
    (res.counts, table(r, store, "cvtermpath").count())
  }

  /** dictygaf2chado: resolve annotations against the loaded genes and
    * terms, and land the annotation tables the GAF export reads. */
  def loadGaf(r: Run, path: String, store: String): Long = {
    val gaf = r.ledger.call("sources", "sources.parse") {
      graft.sources.Gaf.read(r.spark, path).localCheckpoint()
    }
    val (fc, tables) = r.ledger.call("etl", "etl.stage") {
      val genes = table(r, store, "feature").filter(col("ftype") === "gene")
        .select(col("uniquename").as("gene_id"), col("uniquename").as("feature_uniquename"))
      val terms = table(r, store, "cvterm")
        .select(col("accession").as("go_id"), col("namespace").as("cv_name"))
      (GafLoad.load(gaf, genes, terms), GafLoad.toStore(gaf))
    }
    r.ledger.call("etl", "etl.write") {
      fc.write.mode("overwrite").parquet(s"$store/feature_cvterm_resolved")
      tables.foreach { case (t, df) => df.write.mode("overwrite").parquet(s"$store/gaf_$t") }
    }
    table(r, store, "feature_cvterm_resolved").count()
  }

  /** chado2gff3 and chado2gaf from the store. */
  def export(r: Run, store: String, out: String): Unit = {
    r.ledger.call("export", "export.gff3") {
      val feature = table(r, store, "feature")
      val loc = table(r, store, "featureloc").filter(col("rank") === 0)
      val rel = table(r, store, "feature_relationship")
        .filter(col("reltype") === "part_of")
        .select(col("subject"), col("object").as("parent"))
      val frame = feature.join(loc, Seq("uniquename"))
        .join(rel, feature("uniquename") === rel("subject"), "left_outer")
        .select(col("uniquename"), nullif(col("name"), col("uniquename")).as("name"),
          col("ftype"), col("srcfeature"), col("fmin"), col("fmax"),
          lit(null).cast("double").as("score"), col("strand"), col("phase"),
          lit(null).cast("string").as("source"), col("parent"))
      val refs = frame.filter(col("ftype") === "chromosome")
        .select(col("uniquename"), (col("fmax") - col("fmin")).as("seqlen"))
      Gff3Export.writeDocument(refs, frame, s"$out/gff3")
    }
    r.ledger.call("export", "export.gaf") {
      def t(n: String) = table(r, store, s"gaf_$n")
      val rows = GafExport.rows(assoc = t("feature_cvterm"), terms = t("cvterm_go"),
        genes = t("gene"), evidenceSynonyms = t("evidence_synonym"),
        geneSynonyms = t("gene_synonym"), descriptions = t("gene_description"))
      GafExport.writeDocument(rows, "PerfBench", "https://example.org/perfbench",
        java.time.LocalDate.of(2024, 1, 1), s"$out/gaf")
    }
  }

  /** Features the exported GFF3 re-parses to, in the generator's form. */
  def reparsed(r: Run, dir: String): Set[Gen.Feat] =
    graft.sources.Gff3.features(r.spark, dir).collect().map { f =>
      Gen.Feat(f.attributes("ID").head, f.ftype, f.seqId, f.fmin, f.fmax,
        f.strand.getOrElse(0), f.attributes.get("Parent").map(_.head))
    }.toSet

  /** Rows the first GFF3 load inserted and rows of the closure, as the
    * engine reported them (exact counts for the traced run). */
  private var inserted, closureRows = 0L

  /** One full round into a fresh store, every answer checked. Returns the
    * input records merged and the output lines exported. */
  def round(r: Run, in: Inputs, name: String): (Long, Long) = {
    val store = r.dir(s"$name/store")
    val out = r.dir(s"$name/out")
    val s = in.size
    val want = Gen.gffCounts(s.chroms, s.genes, s.exons, firstLoad = true)
    val wantDelta = Gen.gffCounts(s.chroms, s.delta, s.exons, firstLoad = false)
    r.attempt("gff3.load")(loadGff3(r, in.gffPath, store, first = true))
      .foreach { c =>
        r.check(c == want, s"first load inserted $c, generator says $want")
        inserted = c.values.sum
      }
    r.attempt("gff3.reload")(loadGff3(r, in.revisedPath, store, first = false))
      .foreach(c => r.check(c == wantDelta, s"reload inserted $c, generator says $wantDelta"))
    def noopReload(name: String, traced: Boolean): Unit =
      r.attempt(name, traced)(loadGff3(r, in.revisedPath, store, first = false))
        .foreach(c => r.check(c.values.forall(_ == 0L), s"second reload inserted $c"))
    noopReload("gff3.noop_reload", traced = true)
    val o = in.onto
    r.attempt("obo.load")(loadObo(r, in.oboPath, store)).foreach { case (c, paths) =>
      val wantObo = Map("pruned" -> 0L, "updated" -> 0L, "new_terms" -> o.terms.toLong,
        "new_synonyms" -> o.synonyms.toLong, "new_alt_ids" -> o.altIds.toLong,
        "new_relationships" -> o.relationships.toLong)
      r.check(c == wantObo, s"ontology merge counted $c, generator says $wantObo")
      r.check(paths == o.closureRows, s"closure has $paths rows, generator says ${o.closureRows}")
      closureRows = paths
    }
    r.attempt("gaf.load")(loadGaf(r, in.gafPath, store)).foreach { n =>
      r.check(n == in.gaf.resolvable, s"GAF load kept $n rows, ${in.gaf.resolvable} resolve")
    }
    r.attempt("export")(export(r, store, out)).foreach { _ =>
      val feats = (in.base.feats ++ in.delta.feats).toSet
      val got = reparsed(r, s"$out/gff3")
      r.check(got == feats, s"exported GFF3 re-parses to ${got.size} features " +
        s"(${(got -- feats).size} unexpected, ${(feats -- got).size} missing) of ${feats.size}")
      val gafLines = r.spark.read.textFile(s"$out/gaf").count()
      val wantLines = in.gaf.rows + 3L * GafExport.aspects.size
      r.check(gafLines == wantLines, s"exported GAF has $gafLines lines, want $wantLines")
    }
    // a traced run ends with the no-op reload once untraced and once
    // traced, both warm, to price the tracing itself
    if (r.tracing) Seq(false, true).foreach(noopReload("calibration.noop_reload", _))
    val revised = in.base.featureLines + in.delta.featureLines
    val records = in.base.featureLines.toLong + 2L * revised + o.terms + in.gaf.rows
    val lines = (in.base.feats.size + in.delta.feats.size + 2L * s.chroms) +
      in.gaf.rows + 3L * GafExport.aspects.size
    (records, lines)
  }

  /** Rounds from a fresh session. Set-up is the session and the inputs
    * only: a warm-up round would cost as much as a measured one (both
    * are bound by fixed per-job cost, not input size), which the run
    * budget does not allow, so the first round's steps pay Spark's
    * first-use initialisation, as a `gff3tochado` run of the CLI does. */
  def etl(r: Run): Unit = {
    var in: Inputs = null
    Setup.repeat(r, setups, 0.0) { i =>
      in = inputs(r, new Random(r.seed), size, s"inputs$i")
    }
    r.startClock()
    var rounds = 0
    var records, lines = 0L
    while (r.timeLeft()) {
      val (rec, ln) = round(r, in, s"round$rounds")
      r.sampleMemory()
      records += rec; lines += ln
      rounds += 1
    }
    val loads = Seq("gff3.load", "gff3.reload", "gff3.noop_reload", "obo.load", "gaf.load")
    val loadS = loads.map(n => r.ledger.secs(n).sum).sum
    val exports = r.ledger.secs("export.gff3") ++ r.ledger.secs("export.gaf")
    r.note(s"$rounds rounds: $records input records merged, $lines lines exported")
    if (!r.tracing) {
      r.put("read.p50_ms", Stats.median(exports) * 1000, "ms")
      val reloads = r.ledger.secs("gff3.reload") ++ r.ledger.secs("gff3.noop_reload")
      r.put("after_write.mean_ms", reloads.sum / reloads.size * 1000, "ms")
      r.put("read.items_per_s", lines / exports.sum, "1/s")
      r.put("write.items_per_s", records / loadS, "1/s")
      r.put("store.bytes_per_input_byte",
        Layers.storeBytes(r, r.dir("round0/store")).toDouble / in.inputBytes, "ratio")
    }
    if (r.tracing) Layers.chado(r, records / loadS, lines / exports.sum, inserted, closureRows)
  }
}
