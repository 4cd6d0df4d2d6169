package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Domain-format readers (SURVEY §2.1 S1/S2, §2.8 E1/E2/E8).
  *
  * Each returns a lazy DataFrame; the per-sample Python loop of the
  * reference (`create_project.py:120-181`) becomes a single plan over all
  * files — pass every sample's path at once and the file source
  * parallelizes by split, with `samplename` carried as a column.
  */
object Readers {

  /** Headered TSV with explicit schema (S1). */
  def tsv(spark: SparkSession, schema: StructType, paths: String*): DataFrame =
    spark.read.option("sep", "\t").option("header", "true")
      .schema(schema).csv(paths: _*)

  /** Sample metadata TSV (E8): lowercased headers, `sample_id` + `cohort`
    * mandatory (`create_project.py:50-66`). Columns beyond `keep` are
    * dropped; duplicate sample_ids are an error at write time (dedup
    * check in Normalize). */
  def sampleMeta(spark: SparkSession, path: String,
      keep: Seq[String]): DataFrame = {
    val raw = spark.read.option("sep", "\t").option("header", "true").csv(path)
    val lowered = raw.toDF(raw.columns.map(_.toLowerCase): _*)
    val missing = Seq("sample_id", "cohort").filterNot(lowered.columns.contains)
    require(missing.isEmpty, s"sample metadata missing mandatory columns: $missing")
    val cols = ("sample_id" +: "cohort" +: keep.map(_.toLowerCase))
      .distinct.filter(lowered.columns.contains)
    lowered.select(cols.map(col): _*)
  }

  /** RSEM `*.genes.results` (E1, `rna_functions.py:15-21`): drop length
    * columns, rename gene_id→gene, tag the sample. */
  def rsemGenes(spark: SparkSession, path: String, sample: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("gene_id", StringType), StructField("transcript_id(s)", StringType),
      StructField("length", DoubleType), StructField("effective_length", DoubleType),
      StructField("expected_count", DoubleType), StructField("TPM", DoubleType),
      StructField("FPKM", DoubleType)))
    tsv(spark, schema, path)
      .drop("transcript_id(s)", "length", "effective_length")
      .withColumnRenamed("gene_id", "gene")
      .withColumnRenamed("TPM", "tpm").withColumnRenamed("FPKM", "fpkm")
      .withColumn("samplename", lit(sample))
  }

  /** RSEM `*.isoforms.results` (E1, `rna_functions.py:23-27`). */
  def rsemIsoforms(spark: SparkSession, path: String, sample: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("transcript_id", StringType), StructField("gene_id", StringType),
      StructField("length", DoubleType), StructField("effective_length", DoubleType),
      StructField("expected_count", DoubleType), StructField("TPM", DoubleType),
      StructField("FPKM", DoubleType), StructField("IsoPct", DoubleType)))
    tsv(spark, schema, path)
      .drop("gene_id", "length", "effective_length")
      .withColumnRenamed("transcript_id", "transcript")
      .withColumnRenamed("TPM", "tpm").withColumnRenamed("FPKM", "fpkm")
      .withColumnRenamed("IsoPct", "isopct")
      .withColumn("samplename", lit(sample))
  }

  /** STAR `SJ.out.tab` (S2 + E2, `rna_functions.py:30-43`): headerless
    * 9-column TSV; positional naming, strand recode 0/1/2 → ./+/-, keep
    * rows with uniq_map >= minReads and a defined strand. */
  def sjOut(spark: SparkSession, path: String, sample: String,
      minReads: Int): DataFrame = {
    val schema = StructType(Seq(
      StructField("chrom", StringType), StructField("start", LongType),
      StructField("end", LongType), StructField("strand_code", IntegerType),
      StructField("motif", IntegerType), StructField("annotated", IntegerType),
      StructField("uniq_map", LongType), StructField("multi_map", LongType),
      StructField("max_ohang", IntegerType)))
    val strand = when(col("strand_code") === 0, ".")
      .when(col("strand_code") === 1, "+")
      .when(col("strand_code") === 2, "-")
      .otherwise(raise_error(concat(lit("unknown strand code "),
        col("strand_code").cast("string"))))
    spark.read.option("sep", "\t").option("header", "false")
      .schema(schema).csv(path)
      .select(col("chrom"), col("start"), col("end"), col("uniq_map"),
        col("multi_map"), strand.as("strand"), lit(sample).as("samplename"))
      .filter(col("uniq_map") >= minReads && col("strand") =!= ".")
  }

  /** All samples' SJ.out.tab files in one plan (manifest: sample → path).
    * One union'd source; Spark schedules splits across executors — the
    * scalable replacement for the reference's sequential loop. */
  def sjOutAll(spark: SparkSession, manifest: Seq[(String, String)],
      minReads: Int): DataFrame = {
    require(manifest.nonEmpty, "sjOutAll: empty sample manifest")
    manifest.map { case (sample, p) => sjOut(spark, p, sample, minReads) }
      .reduce(_ unionByName _)
  }
}
