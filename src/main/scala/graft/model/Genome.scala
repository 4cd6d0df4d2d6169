package graft.model

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.TableCatalog

/** Genome-annotation adapter — our equivalent of the external pytxdb
  * `Genome` the reference consumes (`/root/reference/readme.md:53-68`,
  * used at `junction.py:159,196-198,240-243,351-374`).
  *
  * Annotation lives in Parquet tables:
  *   genes(id, chrom, start, end, strand, name, description, biotype)
  *   transcripts(id, gene, chrom, start, end, strand, biotype)
  *   exons(transcript, rank, chrom, start, end, strand)
  * Introns are derived from exon gaps, not stored — one window pass.
  *
  * Sequence extraction has two forms: a whole-FASTA in-memory map
  * (fixture scale, [[withSequences]]/[[getSequence]]) and a broadcast
  * faidx index with executor-side positioned range reads
  * ([[withSequencesIndexed]] via [[FastaIndex]] — reference-genome
  * scale). Coordinates are 1-based closed, like the reference's
  * pyranges use.
  */
final class Genome(catalog: TableCatalog, fastaPath: Option[String] = None) {

  def genes: DataFrame = catalog.read("genes")
  def transcripts: DataFrame = catalog.read("transcripts")
  def exons: DataFrame = catalog.read("exons")

  /** Introns per transcript: gaps in exon coverage (ordered by start
    * within transcript — a genuine window use, SURVEY §2.5 W3). The gap
    * is measured from the RUNNING MAX of exon ends, not the immediate
    * predecessor's end: with a contained exon ([1,100] ⊃ [10,20]) the
    * pairwise form would emit [21,149] as "intron" even though bases
    * 21..100 are exonic. Abutting/overlapping coverage (next_start <=
    * cum_end + 1) leaves no gap and emits nothing. */
  def introns: DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("transcript").orderBy("start", "end")
    exons
      .withColumn("cum_end", max(col("end")).over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)))
      .withColumn("next_start", lead(col("start"), 1).over(w))
      .filter(col("next_start") > col("cum_end") + 1)
      .select(col("transcript"), col("chrom"), col("strand"),
        (col("cum_end") + 1).as("start"), (col("next_start") - 1).as("end"))
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("transcript").orderBy("start")))
  }

  // --- sequence extraction (driver-side utility, not data-plane) ---

  private lazy val fasta: Map[String, String] = fastaPath match {
    case None => Map.empty
    case Some(p) =>
      val src = scala.io.Source.fromFile(p)
      try {
        val chunks = scala.collection.mutable.Map[String, StringBuilder]()
        var cur: StringBuilder = null
        src.getLines().foreach { line =>
          if (line.startsWith(">")) {
            cur = new StringBuilder
            chunks(line.drop(1).split("\\s+").head) = cur
          } else if (cur != null) cur.append(line.trim)
        }
        chunks.view.mapValues(_.toString).toMap
      } finally src.close()
  }

  def reverseComplement(s: String): String = Genome.reverseComplement(s)

  /** 1-based closed-interval sequence; minus strand returns the reverse
    * complement (`Genome.get_sequence` surface). */
  def getSequence(chrom: String, start: Long, end: Long,
      strand: String = "+"): String = {
    val seq = fasta.getOrElse(chrom,
      throw new NoSuchElementException(s"chrom $chrom not in FASTA"))
    val sub = seq.substring((start - 1).toInt, end.toInt)
    if (strand == "-") reverseComplement(sub) else sub
  }

  /** Standard-code translation of a nucleotide sequence (the `aa` mode of
    * `get_sequence`, `junction.py:374`). Stops render as '*'. */
  def translate(nuc: String): String =
    nuc.toUpperCase.grouped(3).takeWhile(_.length == 3)
      .map(c => Genome.CodonTable.getOrElse(c, 'X')).mkString

  /** Executor-side bulk sequence extraction: the FASTA is broadcast once
    * and every interval row gets its (strand-aware) sequence appended in
    * parallel — the distributed form of [[getSequence]] for motif/feature
    * pipelines over millions of intervals. (At true reference-genome
    * scale, swap the broadcast payload for an indexed FASTA reader; the
    * API shape stays.) */
  // one broadcast per Genome instance — re-broadcasting per call would
  // re-ship the genome every batch and leak broadcast blocks
  private lazy val fastaBroadcast =
    catalog.spark.sparkContext.broadcast(fasta)

  def withSequences(df: DataFrame, chromCol: String = "chrom",
      startCol: String = "start", endCol: String = "end",
      strandCol: String = "strand", out: String = "seq"): DataFrame = {
    val fastaB = fastaBroadcast
    val extract = udf { (chrom: String, s: Long, e: Long, strand: String) =>
      fastaB.value.get(chrom)
        .filter(seq => s >= 1 && e <= seq.length && s <= e)
        .map { seq =>
          val sub = seq.substring((s - 1).toInt, e.toInt)
          if (strand == "-") Genome.reverseComplement(sub) else sub
        }.orNull
    }
    df.withColumn(out,
      extract(col(chromCol), col(startCol), col(endCol), col(strandCol)))
  }

  /** Reference-genome-scale form of [[withSequences]]: broadcast only the
    * faidx-style index (~KB), leave the FASTA on shared storage, and do a
    * positioned range read per interval on the executors ([[FastaIndex]]).
    * Row cost is one pread of exactly the interval's bytes — no genome in
    * memory anywhere, so a 3 GB FASTA and a billion intervals both fit. */
  def withSequencesIndexed(df: DataFrame, chromCol: String = "chrom",
      startCol: String = "start", endCol: String = "end",
      strandCol: String = "strand", out: String = "seq"): DataFrame = {
    val path = fastaPath.getOrElse(
      throw new IllegalStateException("Genome built without a FASTA path"))
    val conf = graft.core.SerializableHadoopConf.broadcast(catalog.spark)
    val idx = catalog.spark.sparkContext
      .broadcast(FastaIndex.forFasta(conf.value.value, path))
    val extract = udf { (chrom: String, s: Long, e: Long, strand: String) =>
      idx.value.get(chrom)
        .filter(en => s >= 1 && e <= en.length && s <= e)
        .map { en =>
          val sub = FastaIndex.readRange(
            FastaIndex.stream(conf.value.value, path), en, s, e)
          if (strand == "-") Genome.reverseComplement(sub) else sub
        }.orNull
    }
    df.withColumn(out,
      extract(col(chromCol), col(startCol), col(endCol), col(strandCol)))
  }
}

object Genome {
  private val Comp = Map('A' -> 'T', 'T' -> 'A', 'G' -> 'C', 'C' -> 'G',
    'N' -> 'N', 'a' -> 't', 't' -> 'a', 'g' -> 'c', 'c' -> 'g', 'n' -> 'n')

  def reverseComplement(s: String): String =
    s.reverse.map(c => Comp.getOrElse(c, 'N'))

  val CodonTable: Map[String, Char] = {
    val bases = "TCAG"
    val aas = "FFLLSSSSYY**CC*WLLLLPPPPHHQQRRRRIIIMTTTTNNKKSSRRVVVVAAAADDEEGGGG"
    (for {
      (b1, i) <- bases.zipWithIndex
      (b2, j) <- bases.zipWithIndex
      (b3, k) <- bases.zipWithIndex
    } yield s"$b1$b2$b3" -> aas(i * 16 + j * 4 + k)).toMap
  }
}
