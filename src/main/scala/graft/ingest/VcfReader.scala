package graft.ingest

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.SchemaBuilder

/** VEP-annotated VCF ingestion (SURVEY §2.1 S3/S4, §2.8 E4–E6), rebuilt
  * Spark-first: headers are introspected on the driver (they are tiny);
  * record parsing is pure column expressions over `spark.read.text` — no
  * UDFs, fully codegen'd, parallel by file split.
  *
  * Reference semantics preserved (`/root/reference/clinpy/utils/snp_functions.py:81-131`):
  *  - 7 mandatory fields: chrom, pos, id, ref, alt, qual, filter
  *  - multi-allelic truncation to the FIRST alt (`snp_functions.py:100`)
  *  - first FILTER entry only (`snp_functions.py:101`)
  *  - FORMAT fields of sample 0, by position in the FORMAT key string
  *  - CSQ exploded to one row per transcript impact, fields decoded
  *    positionally per-file (each file's own header order)
  *  - typed coercion with '' → NULL (`snp_functions.py:55-78`); fields
  *    not in the config are ignored (`vcf.yaml:10` ignore policy)
  *  - genotype normalized to array<int> with the raw string kept
  *    (SURVEY §1.5: `"(0, 1)"` stringified-tuple parity via gt_raw)
  */
object VcfReader {

  /** Driver-side header introspection (`snp_functions.py:26-31`). */
  final case class VcfHeader(csqFields: Seq[String], formatKeys: Seq[String])

  /** Header of a plain-text, gzip or BGZF VCF on any Hadoop filesystem.
    * Gzip is sniffed from the magic bytes; `GZIPInputStream` reads BGZF's
    * concatenated members. Reading stops at the first record line. */
  def readHeader(path: String, conf: Configuration): VcfHeader = {
    val hp = new Path(path)
    val raw = new java.io.BufferedInputStream(hp.getFileSystem(conf).open(hp))
    val in = try {
      raw.mark(2)
      val gzip = raw.read() == 0x1f && raw.read() == 0x8b
      raw.reset()
      if (gzip) new java.util.zip.GZIPInputStream(raw) else raw
    } catch { case e: Throwable => raw.close(); throw e }
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try {
      val header = src.getLines().takeWhile(_.startsWith("#")).toList
      val csq = header
        .find(l => l.startsWith("##INFO=<ID=CSQ"))
        .map { l =>
          val fmt = l.split("Format: ").last.stripSuffix("\">")
          fmt.split("\\|").map(_.trim.toLowerCase).toSeq
        }
        .getOrElse(Seq.empty)
      val fmts = header.filter(_.startsWith("##FORMAT=<ID="))
        .map(_.stripPrefix("##FORMAT=<ID=").takeWhile(_ != ','))
      VcfHeader(csq, fmts)
    } finally src.close()
  }

  /** Reconcile CSQ field sets across files (policy: error|union|intersection,
    * `vcf.yaml:7`). */
  def reconcileCsq(headers: Seq[VcfHeader], policy: String): Seq[String] =
    SchemaBuilder.reconcile(headers.map(_.csqFields), policy)

  /** Typed coercion with ''→NULL (`snp_functions.py:55-78`). */
  def coerce(c: Column, typ: String): Column = {
    val nn = nullif(c, lit(""))
    typ.toLowerCase match {
      case "int"            => nn.cast("long")
      case "float"          => nn.cast("double")
      case "bool" =>
        // ASCII case fold: no non-ASCII character lower-cases to a letter
        // of these words, so this accepts exactly what lower() accepts,
        // without the first-use cost of Spark's Unicode case mapping
        val folded = translate(nn, "ABCDEFGHIJKLMNOPQRSTUVWXYZ",
          "abcdefghijklmnopqrstuvwxyz")
        when(folded.isin("yes", "true", "1"), true)
          .when(folded.isin("no", "false", "0"), false)
          .otherwise(lit(null).cast("boolean"))
      case _                => nn
    }
  }

  /** Parse one single-sample VCF into impact-exploded rows.
    *
    * @param impactFields (name → type) columns to decode from CSQ, a
    *                     subset of the config's vcf.yaml field table;
    *                     names not present in this file's header are
    *                     emitted as NULL (union policy support)
    * @param formatKeys   FORMAT fields to extract from sample 0
    */
  def read(spark: SparkSession, path: String, sample: String,
      impactFields: Seq[(String, String)],
      formatKeys: Seq[String]): DataFrame =
    read(spark, path, sample, impactFields, formatKeys,
      readHeader(path, spark.sessionState.newHadoopConf()))

  /** Variant taking a pre-parsed header (readAll already holds them —
    * avoids scanning every file's header twice on the driver). */
  def read(spark: SparkSession, path: String, sample: String,
      impactFields: Seq[(String, String)],
      formatKeys: Seq[String], hdr: VcfHeader): DataFrame = {

    // record-level parse via the DSv2 source (graft.sources.VcfDataSource):
    // mandatory fields pre-parsed, INFO/FORMAT/sample payloads raw; the
    // CSQ explode (one output row per transcript impact) rides along
    val mandatory = Seq("chrom", "pos", "id", "ref", "alt", "qual", "filter")
    val csqStr = regexp_extract(col("info"), "(?:^|;)CSQ=([^;]*)", 1)
    val base = spark.read.format("vcf").load(path)
      .select(mandatory.map(col) ++ Seq(
        split(col("format"), ":").as("__fmtkeys"),
        split(col("sample0"), ":").as("__smp0"),
        explode_outer(when(csqStr =!= "", split(csqStr, ","))).as("__csq")): _*)

    // FORMAT fields of sample 0, positional per record.
    val format = formatKeys.flatMap { k =>
      val pos = array_position(col("__fmtkeys"), k)
      val v = when(pos > 0, element_at(col("__smp0"), pos.cast("int")))
      if (k.equalsIgnoreCase("GT"))
        Seq("gt_raw" -> v, "gt" -> when(v.isNotNull,
          transform(split(v, "[/|]"), g => nullif(g, lit(".")).cast("int"))))
      else Seq(k.toLowerCase -> v)
    }

    // positional decode against THIS file's header order; configured
    // fields absent from the file become NULL columns (union policy).
    val csqf = split(col("__csq"), "\\|", -1)
    val impacts = impactFields.map { case (name, typ) =>
      val idx = hdr.csqFields.indexOf(name.toLowerCase)
      val raw =
        if (idx < 0) lit(null).cast("string") else element_at(csqf, idx + 1)
      name.toLowerCase -> coerce(raw, typ)
    }

    // one projection; a later name replaces an earlier one in place, as a
    // withColumn chain would
    val out = (format ++ impacts).foldLeft(mandatory.map(c => c -> col(c))) {
      case (acc, (name, c)) => acc.indexWhere(_._1.equalsIgnoreCase(name)) match {
        case -1 => acc :+ (name -> c)
        case i  => acc.updated(i, name -> c)
      }
    } :+ ("samplename" -> lit(sample))
    base.select(out.map { case (name, c) => c.as(name) }: _*)
  }

  /** All samples in one plan, with per-file CSQ order handled per file and
    * a reconciliation policy across headers. */
  def readAll(spark: SparkSession, manifest: Seq[(String, String)],
      vcfFieldTypes: Map[String, String], policy: String,
      formatKeys: Seq[String]): DataFrame = {
    require(manifest.nonEmpty, "readAll: empty VCF manifest")
    val conf = spark.sessionState.newHadoopConf()
    val headers = manifest.map { case (_, p) => readHeader(p, conf) }
    val fields = reconcileCsq(headers, policy)
      .filter(f => vcfFieldTypes.contains(f)) // ignore-undeclared policy
      .map(f => f -> vcfFieldTypes(f))
    manifest.zip(headers).map { case ((sample, p), hdr) =>
      read(spark, p, sample, fields, formatKeys, hdr)
    }.reduce(_ unionByName _)
  }
}
