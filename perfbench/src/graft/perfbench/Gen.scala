package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.util.Random

/** Seeded input generators. Everything the engine reads comes from here,
  * written to files or handed over as frames; the same seed gives the
  * same bytes. */
object Gen {

  // ---------------------------------------------------------------- text

  final case class Doc(id: Long, text: String)

  /** Zipf(1) over term ranks, sampled by inverse CDF: a few head terms in
    * most documents, a long tail in few. */
  final class Zipf(val vocab: Int) {
    private val cdf: Array[Double] = {
      val c = new Array[Double](vocab)
      var acc = 0.0
      var r = 0
      while (r < vocab) { acc += 1.0 / (r + 1); c(r) = acc; r += 1 }
      c.map(_ / acc)
    }
    def sample(rng: Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      math.min(if (i >= 0) i else -i - 1, vocab - 1)
    }
  }

  def term(rank: Int): String = "w" + Integer.toString(rank, 36)

  /** Documents `ids` of Zipf tokens, their lengths spread evenly over
    * `minLen`–`maxLen` in seeded order: every seed writes the same number
    * of tokens. */
  def docs(rng: Random, zipf: Zipf, ids: Seq[Long], minLen: Int,
           maxLen: Int): Vector[Doc] = {
    val span = math.max(1, ids.size - 1)
    val lengths = rng.shuffle(ids.indices.map(j => minLen + j * (maxLen - minLen) / span))
    ids.zip(lengths).map { case (id, n) =>
      Doc(id, Iterator.fill(n)(term(zipf.sample(rng))).mkString(" "))
    }.toVector
  }

  /** Query shapes, in turn: one head term (one of the `head` most
    * frequent), one tail term (present in `docs`), head + tail, and
    * head + two tails. Seeds pick the terms; the mix is fixed. */
  def queries(rng: Random, n: Int, docs: Seq[Doc], head: Int): Vector[Seq[String]] = {
    val tail = docs.iterator.flatMap(_.text.split(" ")).toSet
      .filter(t => Integer.parseInt(t.drop(1), 36) >= head).toVector.sorted
    def h = term(rng.nextInt(head))
    def t = tail(rng.nextInt(tail.size))
    def draw(shape: Int): Seq[String] = shape match {
      case 0 => Seq(h)
      case 1 => Seq(t)
      case 2 => Seq(h, t)
      case _ => Seq(h, t, t)
    }
    // redraw the rare query whose tail terms collide
    Vector.tabulate(n)(i =>
      Iterator.continually(draw(i % 4)).find(q => q.distinct.size == q.size).get)
  }

  def writeJsonl(path: Path, docs: Seq[Doc]): Long = {
    val body = docs.iterator
      .map(d => s"""{"doc_id":${d.id},"text":"${d.text}"}""").mkString("", "\n", "\n")
    Files.createDirectories(path.getParent)
    Files.write(path, body.getBytes(UTF_8))
    body.getBytes(UTF_8).length.toLong
  }

  // --------------------------------------------------------------- chado

  /** One generated feature, in the form the exported GFF3 re-parses to. */
  final case class Feat(id: String, ftype: String, seq: String, fmin: Int,
                        fmax: Int, strand: Int, parent: Option[String])

  final case class Genome(text: String, feats: Vector[Feat], genes: Vector[String],
                          featureLines: Int)

  /** `chroms` chromosomes, `genes` genes spread over them, each gene one
    * scored mRNA with `exons` exons and as many CDS. Every gene carries
    * a Name, two Aliases, a Dbxref and a Note. Gene numbers run from
    * `from`, so a second call with a higher `from` yields a disjoint
    * delta on the same chromosomes. Counts are fixed by the arguments;
    * the seed moves coordinates, strands and scores only. */
  def genome(rng: Random, chroms: Int, genes: Int, exons: Int, from: Int,
             withChroms: Boolean): Genome = {
    val slot = 4000
    val perChrom = (genes + chroms - 1) / chroms
    val sb = new StringBuilder
    val feats = Vector.newBuilder[Feat]
    val geneIds = Vector.newBuilder[String]
    var lines = 0
    def line(seq: String, ftype: String, s: Int, e: Int, score: String,
             strand: String, phase: String, attrs: String): Unit = {
      sb.append(s"$seq\tperfbench\t$ftype\t$s\t$e\t$score\t$strand\t$phase\t$attrs\n")
      lines += 1
    }
    sb.append("##gff-version 3\n")
    val chromLen = (perChrom * 2 + 2) * slot
    if (withChroms) (1 to chroms).foreach { c =>
      line(s"chr$c", "chromosome", 1, chromLen, ".", ".", ".", s"ID=chr$c")
      feats += Feat(s"chr$c", "chromosome", s"chr$c", 0, chromLen, 0, None)
    }
    (0 until genes).foreach { i =>
      val n = from + i
      val chr = s"chr${i % chroms + 1}"
      // a delta (no chromosome lines) takes the odd slots, so its genes
      // never overlap the base genome's
      val pos = (i / chroms) * 2 + (if (withChroms) 0 else 1)
      val start = pos * slot + 1 + rng.nextInt(400)
      val exonLen = 150 + rng.nextInt(100)
      val intron = 80 + rng.nextInt(60)
      val end = start + exons * exonLen + (exons - 1) * intron - 1
      val st = if (rng.nextBoolean()) 1 else -1
      val sc = if (st == 1) "+" else "-"
      val g = f"PB_G$n%07d"
      val t = s"$g-T1"
      geneIds += g
      line(chr, "gene", start, end, ".", sc, ".",
        s"ID=$g;Name=pbgene$n;Alias=pba$n,pbb$n;Dbxref=GeneID:$n;" +
          s"Note=generated gene $n of the perfbench genome")
      feats += Feat(g, "gene", chr, start - 1, end, st, None)
      line(chr, "mRNA", start, end, f"${rng.nextInt(1000) / 10.0}%.1f", sc, ".",
        s"ID=$t;Parent=$g")
      feats += Feat(t, "mRNA", chr, start - 1, end, st, Some(g))
      (0 until exons).foreach { j =>
        val es = start + j * (exonLen + intron)
        val ee = es + exonLen - 1
        line(chr, "exon", es, ee, ".", sc, ".", s"ID=$t-E$j;Parent=$t")
        feats += Feat(s"$t-E$j", "exon", chr, es - 1, ee, st, Some(t))
        line(chr, "CDS", es, ee, ".", sc, "0", s"ID=$t-C$j;Parent=$t")
        feats += Feat(s"$t-C$j", "CDS", chr, es - 1, ee, st, Some(t))
      }
    }
    Genome(sb.toString, feats.result(), geneIds.result(), lines)
  }

  /** Rows the GFF3 merge must insert for a genome of this shape, by
    * table: the generator's own count, not the engine's. */
  def gffCounts(chroms: Int, genes: Int, exons: Int,
                firstLoad: Boolean): Map[String, Long] = {
    val c = if (firstLoad) chroms.toLong else 0L
    val g = genes.toLong
    val feats = c + g * (2 + 2 * exons)
    Map(
      "feature" -> feats,
      "featureloc" -> feats,
      "featureloc_target" -> 0L,
      "analysisfeature" -> g,
      "synonym" -> 2 * g,
      "feature_synonym" -> 2 * g,
      "dbxref" -> (g + (if (firstLoad) 1 else 0)),
      "feature_dbxref" -> (g + feats),
      "feature_relationship" -> g * (1 + 2 * exons),
      "featureprop" -> g)
  }

  final case class Ontology(text: String, terms: Int, edges: Vector[(String, String)],
                            relationships: Int, synonyms: Int, altIds: Int,
                            closureRows: Long, namespace: Vector[String])

  val namespaces = Vector("biological_process", "molecular_function",
    "cellular_component")

  def goId(i: Int): String = f"GO:$i%07d"

  /** A GO-like DAG: three roots, then each term `is_a` one earlier term
    * of its namespace, a fifth of them a second `is_a` and a tenth a
    * `part_of`. `closureRows` counts every path to every ancestor — the
    * rows a per-path transitive closure must produce. */
  def ontology(rng: Random, terms: Int): Ontology = {
    val ns = new Array[Int](terms)
    val parents = Array.fill(terms)(Vector.empty[(String, Int)])
    val members = Array.fill(3)(scala.collection.mutable.ArrayBuffer.empty[Int])
    (0 until terms).foreach { i =>
      if (i < 3) { ns(i) = i }
      else {
        ns(i) = rng.nextInt(3)
        val pool = members(ns(i))
        val first = pool(rng.nextInt(pool.size))
        var ps = Vector("is_a" -> first)
        if (rng.nextInt(5) == 0) {
          val p = pool(rng.nextInt(pool.size))
          if (p != first) ps :+= ("is_a" -> p)
        }
        if (rng.nextInt(10) == 0) {
          val p = pool(rng.nextInt(pool.size))
          if (!ps.exists(_._2 == p)) ps :+= ("part_of" -> p)
        }
        parents(i) = ps
      }
      members(ns(i)) += i
    }
    val paths = new Array[Long](terms)
    (0 until terms).foreach { i =>
      paths(i) = parents(i).map { case (_, p) => 1L + paths(p) }.sum
    }
    val sb = new StringBuilder("format-version: 1.2\ndate: 01:01:2024 00:00\n\n")
    var altIds = 0
    (0 until terms).foreach { i =>
      sb.append(s"[Term]\nid: ${goId(i)}\nname: perfbench term $i\n")
      sb.append(s"namespace: ${namespaces(ns(i))}\n")
      sb.append(s"""def: "Generated term $i." []\n""")
      sb.append(s"""synonym: "pbterm $i" EXACT []\n""")
      if (i % 20 == 7) { sb.append(s"alt_id: ${goId(terms + i)}\n"); altIds += 1 }
      parents(i).foreach {
        case ("is_a", p) => sb.append(s"is_a: ${goId(p)}\n")
        case (rel, p) => sb.append(s"relationship: $rel ${goId(p)}\n")
      }
      sb.append("\n")
    }
    val edges = (0 until terms).toVector.flatMap(i =>
      parents(i).map { case (_, p) => goId(i) -> goId(p) })
    Ontology(sb.toString, terms, edges, edges.size, terms, altIds, paths.sum,
      ns.toVector.map(namespaces))
  }

  final case class Gaf(text: String, rows: Int, resolvable: Int)

  private val evidence = Vector("IDA", "IEA", "ISS", "IMP", "TAS", "IPI")
  private val aspectOf = Map("biological_process" -> "P",
    "molecular_function" -> "F", "cellular_component" -> "C")

  /** `rows` GAF 2.0 annotations over `genes` and the ontology's terms;
    * one row in 25 names a GO id the ontology lacks, so the loader's
    * validity filter has rows to drop (`resolvable` counts the rest). */
  def gaf(rng: Random, rows: Int, genes: Vector[String], onto: Ontology): Gaf = {
    val sb = new StringBuilder("!gaf-version: 2.0\n")
    var ok = 0
    (0 until rows).foreach { r =>
      val gi = rng.nextInt(genes.size)
      val g = genes(gi)
      val n = g.drop(4).toInt
      val t = rng.nextInt(onto.terms)
      val known = r % 25 != 3
      val go = if (known) goId(t) else goId(onto.terms * 3 + r)
      if (known) ok += 1
      val aspect = aspectOf(onto.namespace(t))
      val date = f"2024${1 + rng.nextInt(12)}%02d${1 + rng.nextInt(28)}%02d"
      sb.append(Seq("PB", g, s"pbgene$n", "", go,
        s"PMID:${1000000 + rng.nextInt(9000000)}", evidence(rng.nextInt(evidence.size)),
        "", aspect, s"perfbench gene product $n", s"pba$n|pbb$n", "gene",
        "taxon:44689", date, "perfbench", "", "").mkString("\t")).append('\n')
    }
    Gaf(sb.toString, rows, ok)
  }

  def write(path: Path, text: String): Long = {
    Files.createDirectories(path.getParent)
    val b = text.getBytes(UTF_8)
    Files.write(path, b)
    b.length.toLong
  }
}
