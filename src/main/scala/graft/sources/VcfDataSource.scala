package graft.sources

import java.util
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** DataSource V2 batch source for VCF: `spark.read.format("vcf")
  * .load(paths...)` — one InternalRow per record with the mandatory
  * fields pre-parsed (first-alt / first-FILTER semantics matching
  * `ingest/VcfReader`, `/root/reference/clinpy/utils/snp_functions.py:100-101`)
  * plus the raw INFO / FORMAT / first-sample payloads for downstream
  * column-level decoding (CSQ explode etc.).
  *
  * Partitioning: plain-text VCFs split by byte range (default split
  * `spark.graft.vcf.splitbytes` = 128 MiB), so a single 100 GB VCF reads
  * on ~800 cores instead of one. Ownership rule: a record line belongs to
  * the split containing its first byte; a split whose start lands
  * mid-line discards that partial line (the previous split reads through
  * it), the standard text-splitting contract. Header lines live in the
  * first split and are skipped everywhere by the `#` filter. Compressed
  * files are sniffed: BGZF (blocked gzip, the tabix/`.bgz` framing) also
  * splits by byte range, resolved to block boundaries by `BgzfLines`;
  * plain gzip is unsplittable and stays one partition per file,
  * decompressed on the fly. Paths may be files, directories, or Hadoop
  * globs. `samplename` is derived from the file stem, mirroring the
  * manifest convention.
  */
class VcfDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "vcf"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    VcfDataSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new VcfTable(VcfDataSource.paths(properties))
}

object VcfDataSource {
  val schema: StructType = StructType(Seq(
    StructField("chrom", StringType), StructField("pos", LongType),
    StructField("id", StringType), StructField("ref", StringType),
    StructField("alt", StringType), StructField("qual", DoubleType),
    StructField("filter", StringType), StructField("info", StringType),
    StructField("format", StringType), StructField("sample0", StringType),
    StructField("samplename", StringType)))

  private[sources] def paths(properties: util.Map[String, String]): Seq[String] = {
    val props = properties.asScala
    props.get("paths")
      .map { js => // JSON array of paths for multi-path load(...)
        org.json4s.jackson.JsonMethods.parse(js) match {
          case org.json4s.JArray(vs) =>
            vs.collect { case org.json4s.JString(s) => s }
          case org.json4s.JString(s) => Seq(s)
          case _ => Seq.empty
        }
      }
      .orElse(props.get("path").map(Seq(_)))
      .getOrElse(Seq.empty)
  }

  /** Glob/directory expansion via Hadoop FS, so a directory, a glob
    * pattern ("runs", "runs" + "/&#42;.vcf.gz"), or explicit files all
    * work on any scheme.
    * Directories contribute their visible VCF-suffixed children (names
    * starting with `_`/`.` are writer metadata, skipped); glob matches
    * and explicit files pass through as-is. Missing/unmatched paths fail
    * loudly. Returns (path, fileLength) to avoid a second stat at split
    * planning. */
  private[sources] def expand(paths: Seq[String],
      hconf: org.apache.hadoop.conf.Configuration): Seq[(String, Long)] =
    paths.flatMap { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(hconf)
      val statuses = Option(fs.globStatus(hp)).map(_.toSeq).getOrElse(Seq.empty)
      if (statuses.isEmpty)
        throw new java.io.FileNotFoundException(s"vcf source: no files match $p")
      statuses.flatMap { st =>
        if (st.isDirectory)
          fs.listStatus(st.getPath).toSeq
            .filter(c => c.isFile && visibleVcf(c.getPath.getName))
        else Seq(st)
      }.map(st => (st.getPath.toString, st.getLen))
    }

  private def visibleVcf(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".") &&
      (name.endsWith(".vcf") || name.endsWith(".vcf.gz") ||
        name.endsWith(".vcf.bgz"))
}

import graft.core.SerializableHadoopConf
import org.apache.spark.broadcast.Broadcast

private class VcfTable(paths: Seq[String]) extends Table with SupportsRead {
  override def name(): String = s"vcf(${paths.mkString(",")})"
  override def schema(): StructType = VcfDataSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new VcfScanBuilder(paths)
}

/** Column pruning + chrom/pos filter pushdown: unprojected payload
  * columns are never materialized (INFO strings dominate VCF bytes), and
  * pushed chrom/pos predicates skip records before row construction. */
private class VcfScanBuilder(paths: Seq[String]) extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters {

  private var required: StructType = VcfDataSource.schema
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    // preserve source field order; empty projections (count(*)) keep none
    required = StructType(VcfDataSource.schema.fields
      .filter(f => requiredSchema.fieldNames.contains(f.name)))

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rejected) = filters.partition {
      case EqualTo("chrom", _: String) => true
      case In("chrom", _)              => true
      case EqualTo("pos", _: Long) | GreaterThan("pos", _: Long) |
           GreaterThanOrEqual("pos", _: Long) | LessThan("pos", _: Long) |
           LessThanOrEqual("pos", _: Long) => true
      case _ => false
    }
    pushed = accepted
    rejected // pushed filters are also re-applied by Spark only if returned; we fully evaluate ours
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new VcfScan(paths, required, pushed)
}

private class VcfScan(paths: Seq[String], required: StructType,
    pushed: Array[Filter]) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  // Spark asks a scan for its partitions more than once (each copy of the
  // physical scan node plans its own); planning lists the files and reads
  // every pushed-region `.tbi`, so it runs once per scan.
  override def planInputPartitions(): Array[InputPartition] = partitions
  private lazy val partitions: Array[InputPartition] = {
    val spark = org.apache.spark.sql.SparkSession.active
    val hconf = spark.sessionState.newHadoopConf()
    val splitBytes = spark.conf
      .get("spark.graft.vcf.splitbytes", (128L * 1024 * 1024).toString).toLong
      .max(1L)
    VcfDataSource.expand(paths, hconf).flatMap { case (p, len) =>
      if (VcfInputPartition.gzipped(p)) {
        // content-based BGZF detection: blocked gzip splits at block
        // boundaries; plain gzip is unsplittable (one sequential stream)
        val hp = new org.apache.hadoop.fs.Path(p)
        val fs = hp.getFileSystem(hconf)
        val bgzf = { val s = fs.open(hp); try Bgzf.isBgzf(s, len) finally s.close() }
        if (!bgzf) Seq(VcfInputPartition(p, 0L, Long.MaxValue))
        else tabixRanges(hp, len, hconf).flatMap { case (s0, e0) =>
          (s0 until e0 by splitBytes).map(s =>
            VcfInputPartition(p, s, math.min(s + splitBytes, e0),
              bgzf = true, fileLen = len))
        }
      } else if (len <= splitBytes) Seq(VcfInputPartition(p, 0L, Long.MaxValue))
      else (0L until len by splitBytes)
        .map(s => VcfInputPartition(p, s, math.min(s + splitBytes, len)))
    }.map(p => p: InputPartition).toArray
  }
  /** Compressed ranges of a BGZF file worth reading: when the pushed
    * filters pin a single chrom (plus optional pos bounds) AND a sibling
    * `.tbi` tabix index exists, only the index's chunk ranges for that
    * region are planned — a single-gene query on a 100 GB cohort VCF
    * reads megabytes, not the file. Falls back to the whole file when
    * there is no region, no index, or the index fails to parse; the
    * reader's pushed-predicate evaluation keeps results exact either
    * way. */
  private def tabixRanges(hp: org.apache.hadoop.fs.Path, len: Long,
      hconf: org.apache.hadoop.conf.Configuration): Seq[(Long, Long)] = {
    val whole = Seq((0L, len))
    pushedRegion match {
      case None => whole
      case Some((chroms, beg0, end0)) =>
        val tbi = hp.suffix(".tbi")
        val fs = hp.getFileSystem(hconf)
        if (!fs.exists(tbi)) whole
        else try {
          if (end0 <= beg0 || chroms.isEmpty) Nil // provably empty filters
          else {
            val idx = Tabix.readCached(tbi, hconf)
            val rs = chroms.toSeq.flatMap(idx.regionRanges(_, beg0, end0))
              .map { case (s, e) => (s, math.min(e, len)) }
              .filter { case (s, e) => s < e }
              .sortBy(_._1)
            // per-chrom ranges can touch: merge before chopping to splits
            rs.foldLeft(List.empty[(Long, Long)]) {
              case ((ms, me) :: t, (s, e)) if s <= me =>
                (ms, math.max(me, e)) :: t
              case (acc, r) => r :: acc
            }.reverse
          }
        } catch { case scala.util.control.NonFatal(_) => whole }
    }
  }

  /** Chrom set + 0-based half-open pos interval when the pushed filters
    * determine them (EqualTo or In on chrom; pos bounds shared). Regions
    * reaching past the tabix coordinate space (2^29) return None — an
    * index cannot speak for such positions, so the scan must not be
    * pruned by it. */
  private def pushedRegion: Option[(Set[String], Long, Long)] = {
    val chromSets = pushed.collect {
      case EqualTo("chrom", v: String) => Set(v)
      case In("chrom", vs) => vs.collect { case s: String => s }.toSet
    }
    if (chromSets.isEmpty) return None
    val chroms = chromSets.reduce(_ intersect _)
    val maxCoord = 1L << 29 // tabix binning coordinate ceiling
    var lo = 1L // 1-based inclusive POS bounds
    var hi = maxCoord
    pushed.foreach {
      case EqualTo("pos", v: Long) => lo = math.max(lo, v); hi = math.min(hi, v)
      case GreaterThan("pos", v: Long) => lo = math.max(lo, v + 1)
      case GreaterThanOrEqual("pos", v: Long) => lo = math.max(lo, v)
      case LessThan("pos", v: Long) => hi = math.min(hi, v - 1)
      case LessThanOrEqual("pos", v: Long) => hi = math.min(hi, v)
      case _ =>
    }
    if (lo > maxCoord) None else Some((chroms, lo - 1, math.min(hi, maxCoord)))
  }

  // one broadcast Hadoop conf per scan, as Spark's own file scans do
  override def createReaderFactory(): PartitionReaderFactory =
    new VcfReaderFactory(required.fieldNames, pushed,
      SerializableHadoopConf.broadcast(org.apache.spark.sql.SparkSession.active))
  override def description(): String =
    s"VcfScan PushedFilters: [${pushed.mkString(", ")}], " +
      s"ReadSchema: ${required.simpleString}"
}

/** `[start, end)` byte range; `end = Long.MaxValue` means whole file.
  * `bgzf` ranges are compressed offsets, resolved to block boundaries by
  * the reader (`BgzfLines` ownership contract); `fileLen` rides along
  * from planning so hundreds of tasks per file skip a per-task stat. */
private case class VcfInputPartition(path: String, start: Long, end: Long,
    bgzf: Boolean = false, fileLen: Long = -1L) extends InputPartition

private object VcfInputPartition {
  def gzipped(path: String): Boolean =
    path.endsWith(".gz") || path.endsWith(".bgz")
}

private class VcfReaderFactory(fields: Array[String], pushed: Array[Filter],
    conf: Broadcast[SerializableHadoopConf]) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new VcfPartitionReader(p.asInstanceOf[VcfInputPartition], fields,
      pushed, conf.value.value)
}

private class VcfPartitionReader(part: VcfInputPartition,
    fields: Array[String], pushed: Array[Filter],
    conf: org.apache.hadoop.conf.Configuration) extends PartitionReader[InternalRow] {

  // Hadoop-FS open so file:/, hdfs:/, s3a:/ URIs all work — consistent
  // with TableCatalog's Hadoop-FS-everywhere design
  private val hadoopPath = new org.apache.hadoop.fs.Path(part.path)
  private val gz = !part.bgzf && VcfInputPartition.gzipped(part.path)
  private val stream = hadoopPath.getFileSystem(conf).open(hadoopPath)
  // BGZF splits decompress block-at-a-time via positioned reads; the
  // seek-based LineReader below is never constructed for them
  private val bgzfLines: BgzfLines =
    if (part.bgzf) {
      val len =
        if (part.fileLen >= 0) part.fileLen
        else hadoopPath.getFileSystem(conf)
          .getFileStatus(hadoopPath).getLen
      new BgzfLines(stream, len, part.start,
        if (part.end == Long.MaxValue) len else part.end)
    } else null
  // byte offset of the next unread line's first byte (plain-text only;
  // LineReader counts raw bytes incl. the terminator, which is what seek
  // positions mean — a char-counting BufferedReader would drift on UTF-8)
  private var pos: Long =
    if (!gz && !part.bgzf && part.start > 0) {
      stream.seek(part.start - 1); part.start - 1
    } else 0L
  private val reader =
    if (part.bgzf) null
    else if (gz) new org.apache.hadoop.util.LineReader(
      new java.util.zip.GZIPInputStream(stream))
    else new org.apache.hadoop.util.LineReader(stream)
  if (!gz && !part.bgzf && part.start > 0) {
    // Discard the line containing byte start-1: if that byte is '\n' this
    // consumes exactly the terminator (no record lost); otherwise the
    // partial line belongs to the previous split, which reads past its
    // own end to finish it.
    val t = new org.apache.hadoop.io.Text
    pos += reader.readLine(t)
  }
  private val sample = {
    val base = hadoopPath.getName
    base.substring(0, base.indexOf('.') match {
      case -1 => base.length; case i => i })
  }
  private val text = new org.apache.hadoop.io.Text
  private var row: InternalRow = _

  override def next(): Boolean = {
    row = null
    if (bgzfLines != null) {
      while (row == null) {
        if (!bgzfLines.hasNext) return false
        val line = bgzfLines.next()
        if (!line.startsWith("#") && line.nonEmpty && passes(line))
          row = parse(line)
      }
      return true
    }
    while (row == null) {
      if (pos >= part.end) return false // next line starts in a later split
      val n = reader.readLine(text)
      if (n == 0) return false
      pos += n
      val line = text.toString
      if (!line.startsWith("#") && line.nonEmpty && passes(line))
        row = parse(line)
    }
    true
  }

  /** Pushed chrom/pos predicate evaluation on the raw line — records are
    * skipped before any UTF8String/row allocation. */
  private def passes(line: String): Boolean = {
    if (pushed.isEmpty) return true
    val t1 = line.indexOf('\t')
    if (t1 < 0) return true
    val t2 = line.indexOf('\t', t1 + 1)
    if (t2 < 0) return true
    val chrom = line.substring(0, t1)
    lazy val pos = java.lang.Long.parseLong(line.substring(t1 + 1, t2))
    pushed.forall {
      case EqualTo("chrom", v: String)        => chrom == v
      case In("chrom", vs)                    => vs.contains(chrom)
      case EqualTo("pos", v: Long)            => pos == v
      case GreaterThan("pos", v: Long)        => pos > v
      case GreaterThanOrEqual("pos", v: Long) => pos >= v
      case LessThan("pos", v: Long)           => pos < v
      case LessThanOrEqual("pos", v: Long)    => pos <= v
      case _                                  => true
    }
  }

  private def s(v: String): UTF8String = UTF8String.fromString(v)

  private def parse(line: String): InternalRow = {
    val f = line.split("\t", -1)
    def at(i: Int): String = if (i < f.length) f(i) else ""
    val values: Array[Any] = fields.map {
      case "chrom" => s(at(0))
      case "pos"   => java.lang.Long.parseLong(at(1))
      case "id" =>
        val id = at(2); if (id == "." || id.isEmpty) null else s(id)
      case "ref"   => s(at(3))
      case "alt"   => s(at(4).split(",", 2)(0))      // first alt
      case "qual" =>
        val q = at(5)
        if (q == "." || q.isEmpty) null else java.lang.Double.parseDouble(q)
      case "filter" => s(at(6).split(";", 2)(0))     // first FILTER
      case "info"   => s(at(7))
      case "format" => s(at(8))
      case "sample0" => s(at(9))
      case "samplename" => s(sample)
      case other => throw new IllegalStateException(s"unknown field $other")
    }
    InternalRow.fromSeq(values.toIndexedSeq)
  }

  override def get(): InternalRow = row
  override def close(): Unit =
    if (reader != null) reader.close() else stream.close()
}
