package perfbench

import java.io.{ByteArrayOutputStream, File, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.collection.mutable

/** Seeded generator for the domain inputs (samples TSV, RSEM genes and
  * isoforms, STAR SJ.out.tab, single-sample VEP VCFs framed as BGZF) plus
  * the genome annotation and FASTA the cohort queries read.
  *
  * Everything is drawn from one `java.util.Random(seed)`, and each file is
  * written in a fixed order, so one seed always yields byte-identical files.
  * The generator keeps every record it writes; the `truth` helpers below
  * compute the expected query answers from those records in plain Scala.
  */
object Cohort {

  final case class Sizes(samples: Int, cohorts: Int, variantsPerSample: Int,
      junctionsPerSample: Int, genes: Int, chromLength: Int)

  /** One VEP CSQ entry, in [[CsqFields]] order; "" is an empty field. */
  type Csq = Vector[String]

  val CsqFields = Vector("Consequence", "IMPACT", "SYMBOL", "Gene", "Feature",
    "BIOTYPE", "AF", "CANONICAL")
  /** The ingest field table (name -> type), as a project config declares it. */
  val FieldTypes = Map("consequence" -> "str", "impact" -> "str",
    "symbol" -> "str", "gene" -> "str", "feature" -> "str",
    "biotype" -> "str", "af" -> "float", "canonical" -> "bool")
  val FormatKeys = Seq("GT", "DP")
  val MinJunctionReads = 10
  val Chroms = Vector("chr1", "chr2", "chr3")

  /** A variant as annotated (shared by every sample that carries it). */
  final case class Variant(chrom: String, pos: Long, id: String, ref: String,
      alts: Vector[String], csq: Vector[Csq]) {
    def key: (String, Long, String, String) = (chrom, pos, ref, alts.head)
    def impactRows: Int = math.max(1, csq.size)
  }
  final case class Call(v: Variant, gt: String, dp: Int, qual: String)
  final case class SjRow(chrom: String, start: Long, end: Long, strand: Int,
      uniq: Long, multi: Long) {
    def kept: Boolean = uniq >= MinJunctionReads && strand != 0
    def key: (String, Long, Long, String) =
      (chrom, start, end, if (strand == 1) "+" else "-")
  }
  final case class Exon(transcript: String, rank: Int, chrom: String,
      start: Long, end: Long, strand: String)
  final case class Transcript(id: String, gene: String, chrom: String,
      start: Long, end: Long, strand: String, exons: Vector[Exon])
  final case class Gene(id: String, chrom: String, start: Long, end: Long,
      strand: String, transcripts: Vector[Transcript])
  final case class Sample(name: String, cohort: String, calls: Vector[Call],
      sj: Vector[SjRow], tpm: Vector[Double]) {
    def vcf(dir: String): String = s"$dir/vcf/$name.vcf.bgz"
    def sjPath(dir: String): String = s"$dir/sj/$name.SJ.out.tab"
    def genesPath(dir: String): String = s"$dir/rsem/$name.genes.results"
    def isoformsPath(dir: String): String = s"$dir/rsem/$name.isoforms.results"
  }

  final case class Data(dir: String, sizes: Sizes, genes: Vector[Gene],
      fasta: Map[String, String], samples: Vector[Sample],
      inputBytes: Map[String, Long]) {
    def cohortOf(c: String): Vector[Sample] = samples.filter(_.cohort == c)
    def transcripts: Vector[Transcript] = genes.flatMap(_.transcripts)
    def fastaPath: String = s"$dir/genome.fa"
    def samplesTsv: String = s"$dir/samples.tsv"
    def bytesOf(names: Seq[String]): Long =
      names.map(n => inputBytes(n)).sum + inputBytes("samples.tsv")
  }

  // ---------------------------------------------------------------- generate

  def generate(seed: Long, dir: String, sz: Sizes): Data = {
    val rnd = new java.util.Random(seed)
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    val bases = "ACGT"
    val fasta = Chroms.map { c =>
      val sb = new java.lang.StringBuilder(sz.chromLength)
      var i = 0
      while (i < sz.chromLength) { sb.append(bases.charAt(rnd.nextInt(4))); i += 1 }
      c -> sb.toString
    }.toMap

    // genes laid out left to right on each chrom, two transcripts each
    val genes = (0 until sz.genes).map { g =>
      val chrom = Chroms(g % Chroms.size)
      val slot = sz.chromLength / ((sz.genes + Chroms.size - 1) / Chroms.size)
      val base = (g / Chroms.size).toLong * slot + 1000
      val len = slot / 2 + rnd.nextInt(slot / 3)
      val strand = if (rnd.nextBoolean()) "+" else "-"
      val gid = f"G$g%05d"
      val txs = (0 until 2).map { t =>
        val tid = s"$gid.T$t"
        val nEx = 3 + rnd.nextInt(6)
        val cuts = Vector.fill(2 * nEx)(base + 1 + rnd.nextInt(len - 2).toLong)
          .distinct.sorted
        val pairs = cuts.grouped(2).collect { case Seq(a, b) => (a, b) }.toVector
        val exons = pairs.zipWithIndex.map { case ((s, e), i) =>
          Exon(tid, i + 1, chrom, s, e, strand) }
        Transcript(tid, gid, chrom, exons.head.start, exons.last.end, strand, exons)
      }.toVector
      Gene(gid, chrom, base, base + len, strand, txs)
    }.toVector

    // variant pool: shared (carried by many samples) with unique positions
    val usedPos = mutable.HashSet.empty[(String, Long)]
    def freshPos(chrom: String): Long = {
      var p = 0L
      do p = 100L + rnd.nextInt(sz.chromLength - 200) while (!usedPos.add((chrom, p)))
      p
    }
    val consequences = Vector("missense_variant", "synonymous_variant",
      "intron_variant", "stop_gained", "splice_region_variant",
      "3_prime_UTR_variant")
    val impacts = Vector("HIGH", "MODERATE", "LOW", "MODIFIER")
    def csqEntry(): Csq = {
      val g = pick(genes); val t = pick(g.transcripts)
      Vector(pick(consequences), pick(impacts), s"SYM${g.id.drop(1)}", g.id,
        t.id, if (rnd.nextInt(5) == 0) "" else "protein_coding",
        if (rnd.nextInt(4) == 0) "" else f"${rnd.nextDouble() * 0.1}%.4f",
        if (rnd.nextBoolean()) "YES" else "")
    }
    def newVariant(): Variant = {
      val chrom = pick(Chroms)
      val pos = freshPos(chrom)
      val ref = bases.charAt(rnd.nextInt(4)).toString
      val others = bases.filterNot(_ == ref.head).map(_.toString).toVector
      // one record in ten is multi-allelic; one in eight carries no CSQ
      val a = rnd.nextInt(3)
      val alts = if (rnd.nextInt(10) == 0) Vector(others(a), others((a + 1) % 3))
        else Vector(others(a))
      val nCsq = if (rnd.nextInt(8) == 0) 0 else 1 + rnd.nextInt(3)
      val id = if (rnd.nextInt(3) == 0) "." else s"rs${rnd.nextInt(1 << 30)}"
      Variant(chrom, pos, id, ref, alts, Vector.fill(nCsq)(csqEntry()))
    }
    val pool = Vector.fill(sz.variantsPerSample * 2)(newVariant())

    // junction pool: introns of the annotation, plus near-duplicates
    val intronPool = genes.flatMap(_.transcripts).flatMap { t =>
      t.exons.sliding(2).collect { case Seq(a, b) if b.start - a.end > 2 =>
        (t.chrom, a.end + 1, b.start - 1, if (t.strand == "+") 1 else 2) }
    }
    val nearDups = Vector.tabulate(intronPool.size / 2) { i =>
      val (c, s, e, st) = intronPool(2 * i)
      (c, s + rnd.nextInt(11) - 5, e + rnd.nextInt(11) - 5, st) // within 5 bp
    }
    val sjPool = (intronPool ++ nearDups).filter(j => j._2 < j._3).distinct
    require(sjPool.size >= 2 * sz.junctionsPerSample,
      s"junction pool of ${sjPool.size} is too small for ${sz.junctionsPerSample} per sample")

    val samples = (0 until sz.samples).map { i =>
      val name = f"S$i%04d"
      val cohort = s"c${i % sz.cohorts}"
      val nShared = sz.variantsPerSample * 7 / 10
      val shared = Iterator.continually(pool(skewed(rnd, pool.size)))
        .distinctBy(_.key).take(nShared).toVector
      val own = Vector.fill(sz.variantsPerSample - nShared)(newVariant())
      val calls = (shared ++ own)
        .sortBy(v => (Chroms.indexOf(v.chrom), v.pos))
        .map(v => Call(v, if (rnd.nextBoolean()) "0/1" else "1/1",
          5 + rnd.nextInt(60), f"${20 + rnd.nextDouble() * 80}%.1f"))
      val sj = Iterator.continually(sjPool(skewed(rnd, sjPool.size)))
        .distinct.take(sz.junctionsPerSample).toVector
        .sortBy(j => (Chroms.indexOf(j._1), j._2, j._3))
        .map { case (c, s, e, st) =>
          // one row in twenty is unstranded, one in six under the read floor
          val strand = if (rnd.nextInt(20) == 0) 0 else st
          val uniq = if (rnd.nextInt(6) == 0) rnd.nextInt(MinJunctionReads).toLong
            else MinJunctionReads + rnd.nextInt(200).toLong
          SjRow(c, s, e, strand, uniq, rnd.nextInt(20).toLong)
        }
      val tpm = Vector.fill(genes.size * 3)(rnd.nextInt(1000000) / 1000.0)
      Sample(name, cohort, calls, sj, tpm)
    }.toVector

    new File(dir).mkdirs()
    val bytes = mutable.LinkedHashMap.empty[String, Long]
    def put(rel: String, data: Array[Byte]): Unit = {
      val f = new File(s"$dir/$rel"); f.getParentFile.mkdirs()
      Files.write(f.toPath, data); bytes(rel) = data.length.toLong
    }
    put("genome.fa", fastaText(fasta).getBytes(UTF_8))
    put("samples.tsv", (Seq("sample_id\tcohort\tsex\tage") ++ samples.map(s =>
      s"${s.name}\t${s.cohort}\t${if (s.name.last % 2 == 0) "F" else "M"}\t" +
        s"${30 + s.name.last % 40}")).mkString("", "\n", "\n").getBytes(UTF_8))
    samples.foreach { s =>
      put(s"vcf/${s.name}.vcf.bgz", bgzf(vcfText(s).getBytes(UTF_8)))
      put(s"sj/${s.name}.SJ.out.tab", s.sj.map(j =>
        s"${j.chrom}\t${j.start}\t${j.end}\t${j.strand}\t1\t0\t${j.uniq}\t${j.multi}\t20")
        .mkString("", "\n", "\n").getBytes(UTF_8))
      put(s"rsem/${s.name}.genes.results", (Seq(
        "gene_id\ttranscript_id(s)\tlength\teffective_length\texpected_count\tTPM\tFPKM") ++
        genes.zipWithIndex.map { case (g, i) =>
          s"${g.id}\t${g.transcripts.map(_.id).mkString(",")}\t${g.end - g.start}\t" +
            s"${g.end - g.start - 50}\t${s.tpm(i) * 3}\t${s.tpm(i)}\t${s.tpm(i) / 2}"
        }).mkString("", "\n", "\n").getBytes(UTF_8))
      put(s"rsem/${s.name}.isoforms.results", (Seq(
        "transcript_id\tgene_id\tlength\teffective_length\texpected_count\tTPM\tFPKM\tIsoPct") ++
        genes.flatMap(_.transcripts).zipWithIndex.map { case (t, i) =>
          val v = s.tpm(genes.size + i)
          s"${t.id}\t${t.gene}\t${t.end - t.start}\t${t.end - t.start - 50}\t" +
            s"${v * 3}\t$v\t${v / 2}\t50.0"
        }).mkString("", "\n", "\n").getBytes(UTF_8))
    }
    Data(dir, sz, genes, fasta, samples, bytes.toMap)
  }

  /** Zipf-like index in [0, n): low indexes are drawn far more often. */
  def skewed(rnd: java.util.Random, n: Int): Int =
    math.min(n - 1, (math.pow(rnd.nextDouble(), 2.5) * n).toInt)

  def fastaText(fasta: Map[String, String]): String = {
    val sb = new StringBuilder
    Chroms.foreach { c =>
      sb.append('>').append(c).append('\n')
      fasta(c).grouped(60).foreach(l => sb.append(l).append('\n'))
    }
    sb.toString
  }

  def vcfHeaderLines(sample: String): Seq[String] = Seq(
    "##fileformat=VCFv4.2",
    "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"Depth\">",
    "##INFO=<ID=CSQ,Number=.,Type=String,Description=\"Consequence " +
      s"annotations from Ensembl VEP. Format: ${CsqFields.mkString("|")}\">",
    "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"Genotype\">",
    "##FORMAT=<ID=DP,Number=1,Type=Integer,Description=\"Depth\">",
    s"#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\t$sample")

  def vcfText(s: Sample): String = {
    val sb = new StringBuilder
    vcfHeaderLines(s.name).foreach(l => sb.append(l).append('\n'))
    s.calls.foreach { c =>
      val v = c.v
      val info = s"DP=${c.dp}" +
        (if (v.csq.isEmpty) "" else ";CSQ=" + v.csq.map(_.mkString("|")).mkString(","))
      sb.append(s"${v.chrom}\t${v.pos}\t${v.id}\t${v.ref}\t${v.alts.mkString(",")}\t" +
        s"${c.qual}\tPASS\t$info\tGT:DP\t${c.gt}:${c.dp}\n")
    }
    sb.toString
  }

  // ------------------------------------------------------------------- BGZF

  private val MaxRawBlock = 0xff00
  private val EofBlock = Array(0x1f, 0x8b, 0x08, 0x04, 0, 0, 0, 0, 0, 0xff,
    0x06, 0, 0x42, 0x43, 0x02, 0, 0x1b, 0, 0x03, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    .map(_.toByte)

  /** Frame `raw` as BGZF: gzip members of at most 64 KiB each carrying the
    * BC extra field with the member size, then the standard EOF member. */
  def bgzf(raw: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(raw.length / 3 + 64)
    val buf = new Array[Byte](MaxRawBlock + 1024)
    var off = 0
    while (off < raw.length) {
      val n = math.min(MaxRawBlock, raw.length - off)
      val d = new java.util.zip.Deflater(6, true)
      d.setInput(raw, off, n); d.finish()
      val clen = d.deflate(buf); d.end()
      val crc = new java.util.zip.CRC32; crc.update(raw, off, n)
      val bsize = 18 + clen + 8 - 1
      val hdr = Array(0x1f, 0x8b, 0x08, 0x04, 0, 0, 0, 0, 0, 0xff, 0x06, 0,
        0x42, 0x43, 0x02, 0, bsize & 0xff, bsize >> 8).map(_.toByte)
      out.write(hdr); out.write(buf, 0, clen)
      le32(out, crc.getValue); le32(out, n.toLong)
      off += n
    }
    out.write(EofBlock)
    out.toByteArray
  }

  private def le32(o: OutputStream, v: Long): Unit =
    (0 until 4).foreach(i => o.write(((v >> (8 * i)) & 0xff).toInt))

  // ------------------------------------------------------------------ truth

  /** Expected table row counts after ingesting `batches` in order into an
    * empty warehouse, following CreateProject's rules: samples and
    * expression are written by the first batch only; variants, impacts
    * and junctions are merged batch by batch. */
  final case class StoreCounts(samples: Long, variants: Long,
      sampleVariants: Long, impacts: Long, impactsNoCsq: Long,
      junctions: Long, junctionBridge: Long, geneExpr: Long, txExpr: Long)

  def storeCounts(d: Data, batches: Seq[Seq[Sample]]): StoreCounts = {
    val first = batches.head
    val all = batches.flatten
    val vars = all.flatMap(_.calls.map(_.v)).map(v => v.key -> v).toMap
    val sv = all.flatMap(s => s.calls.map(c => (s.name, c.v.key))).distinct
    val kept = all.flatMap(s => s.sj.filter(_.kept).map(j => (s.name, j.key))).distinct
    StoreCounts(first.size.toLong, vars.size.toLong, sv.size.toLong,
      vars.values.map(_.impactRows.toLong).sum,
      vars.values.count(_.csq.isEmpty).toLong,
      kept.map(_._2).distinct.size.toLong, kept.size.toLong,
      first.size.toLong * d.genes.size, first.size.toLong * d.transcripts.size)
  }

  /** (samplename, pos) of every stored observation in [start, end]. */
  def variantRegion(samples: Seq[Sample], chrom: String, start: Long,
      end: Long): Seq[(String, Long)] =
    samples.flatMap(s => s.calls.map(_.v).distinctBy(_.key)
      .filter(v => v.chrom == chrom && v.pos >= start && v.pos <= end)
      .map(v => (s.name, v.pos))).sorted

  /** Rows of Variants.filter(impact == imp && af < afMax, gt_raw == gt,
    * samples): one per (observation, matching impact entry). */
  def variantFilter(samples: Seq[Sample], imp: String, afMax: Double,
      gt: String): Seq[(String, Long)] =
    samples.flatMap(s => s.calls.filter(_.gt == gt).flatMap { c =>
      c.v.csq.filter(e => e(1) == imp && e(6).nonEmpty && e(6).toDouble < afMax)
        .map(_ => (s.name, c.v.pos))
    }).sorted

  private def storedJunctions(samples: Seq[Sample]) =
    samples.flatMap(s => s.sj.filter(_.kept).map(j => (s.name, j.key))).distinct

  /** (samplename, start, end) of Junctions.search(chrom, start, end, strand). */
  def junctionSearch(samples: Seq[Sample], chrom: String, start: Long,
      end: Long, strand: String): Seq[(String, Long, Long)] =
    storedJunctions(samples).collect {
      case (s, (c, js, je, st)) if c == chrom && st == strand &&
        js <= end && start <= je => (s, js, je)
    }.sorted

  /** (samplename, start, end) of Junction(..).samples(tol5, tol3). */
  def junctionTolerance(samples: Seq[Sample], chrom: String, start: Long,
      end: Long, strand: String, tol: Int): Seq[(String, Long, Long)] =
    storedJunctions(samples).collect {
      case (s, (c, js, je, st)) if c == chrom && st == strand &&
        js >= start - tol && je <= end + tol => (s, js, je)
    }.sorted

  /** Number of (region, junction) overlap pairs of Junctions.searchRegions. */
  def junctionRegions(samples: Seq[Sample],
      regions: Seq[(String, Long, Long)]): Long = {
    val dim = storedJunctions(samples).map(_._2).distinct
    regions.map { case (c, s, e) =>
      dim.count { case (jc, js, je, _) => jc == c && js <= e && s <= je }.toLong
    }.sum
  }

  /** Introns as Genome.introns derives them from the exon table. */
  def introns(t: Transcript): Seq[(Long, Long)] = {
    val ex = t.exons.sortBy(e => (e.start, e.end))
    var cum = Long.MinValue
    ex.indices.flatMap { i =>
      cum = math.max(cum, ex(i).end)
      if (i + 1 < ex.size && ex(i + 1).start > cum + 1)
        Some((cum + 1, ex(i + 1).start - 1)) else None
    }
  }

  /** (transcript, end_type, feature, start, end) of Junction.features. */
  def junctionFeatures(d: Data, chrom: String, start: Long, end: Long,
      strand: String): Seq[(String, String, String, Long, Long)] = {
    val gs = d.genes.filter(g => g.chrom == chrom && g.strand == strand &&
      ((g.start <= start && start <= g.end) || (g.start <= end && end <= g.end)))
    val txs = gs.flatMap(_.transcripts).filter(t => t.start <= end && start <= t.end)
    val feats = txs.flatMap(t =>
      t.exons.map(e => (t.id, "exon", e.start, e.end)) ++
        introns(t).map { case (s, e) => (t.id, "intron", s, e) })
    Seq(start -> "start", end -> "end").flatMap { case (p, label) =>
      feats.collect { case (t, f, s, e) if s <= p && p <= e => (t, label, f, s, e) }
    }.sorted
  }

  /** Sorted POS of every VCF record of `samples` in chrom:[start, end]. */
  def vcfRegion(samples: Seq[Sample], chrom: String, start: Long,
      end: Long): Seq[Long] =
    samples.flatMap(_.calls.map(_.v)
      .filter(v => v.chrom == chrom && v.pos >= start && v.pos <= end)
      .map(_.pos)).sorted

  /** Share of each input property the workloads are meant to exercise,
    * over the samples that are ingested. */
  def properties(d: Data, samples: Seq[Sample], reingested: Int,
      ingested: Int): Map[String, Double] = {
    val carriers = samples.flatMap(_.calls.map(_.v.key)).groupBy(identity)
    val records = samples.flatMap(_.calls)
    val sj = samples.flatMap(_.sj.map(j => (j.chrom, j.start, j.end, j.strand))).distinct
    val byStart = sj.groupBy(j => (j._1, j._4))
    val nearDup = sj.count { j =>
      byStart((j._1, j._4)).exists(o => o != j &&
        math.abs(o._2 - j._2) <= 5 && math.abs(o._3 - j._3) <= 5)
    }
    val rows = samples.flatMap(_.sj)
    Map(
      "variants_shared_across_samples" ->
        carriers.count(_._2.size > 1).toDouble / carriers.size,
      "records_multi_csq" -> records.count(_.v.csq.size > 1).toDouble / records.size,
      "records_no_csq" -> records.count(_.v.csq.isEmpty).toDouble / records.size,
      "records_multi_allelic" -> records.count(_.v.alts.size > 1).toDouble / records.size,
      "csq_entries_with_empty_field" -> {
        val es = records.flatMap(_.v.csq); es.count(_.contains("")).toDouble / es.size },
      "junctions_near_duplicate" -> nearDup.toDouble / sj.size,
      "junction_rows_strand0" -> rows.count(_.strand == 0).toDouble / rows.size,
      "junction_rows_under_min_reads" ->
        rows.count(_.uniq < MinJunctionReads).toDouble / rows.size,
      "samples_reingested" -> reingested.toDouble / ingested)
  }
}
