package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.core.TableCatalog
import graft.ingest.{Normalize, Readers, VcfReader}

class IngestSpec extends SparkSpecBase {

  test("sjOut: positional naming, strand recode, read/strand filters") {
    val df = Readers.sjOut(spark, fixture("s1.SJ.out.tab"), "s1", minReads = 10)
    val rows = df.collect()
    // 4 raw rows: strand-0 row and uniq_map=3 row filtered out
    assert(rows.length == 2)
    assert(df.columns.toSet ==
      Set("chrom", "start", "end", "strand", "uniq_map", "multi_map", "samplename"))
    assert(rows.forall(_.getAs[String]("strand") == "+"))
    assert(rows.forall(_.getAs[Long]("uniq_map") >= 10))
  }

  test("rsem readers: drops, renames, sample tag") {
    val g = Readers.rsemGenes(spark, fixture("s1.genes.results"), "s1")
    assert(g.columns.toSeq ==
      Seq("gene", "expected_count", "tpm", "fpkm", "samplename"))
    assert(g.count() == 3)
    val i = Readers.rsemIsoforms(spark, fixture("s1.isoforms.results"), "s1")
    assert(i.columns.toSeq ==
      Seq("transcript", "expected_count", "tpm", "fpkm", "isopct", "samplename"))
    assert(i.count() == 2)
  }

  test("sampleMeta: lowercasing, mandatory columns, projection") {
    val m = Readers.sampleMeta(spark, fixture("sample_meta.tsv"),
      keep = Seq("SEX", "sample_meta"))
    assert(m.columns.toSeq == Seq("sample_id", "cohort", "sex", "sample_meta"))
    assert(m.count() == 3)
  }

  test("dim-merge: dedup across samples, deterministic ids, idempotent re-ingest") {
    val cat = new TableCatalog(spark, tmpDir("norm"))
    val staged = Readers.sjOutAll(spark, Seq(
      "s1" -> fixture("s1.SJ.out.tab"), "s2" -> fixture("s2.SJ.out.tab"),
      "s3" -> fixture("s3.SJ.out.tab")), minReads = 10)
    val (dim, bridge) = Normalize.normalizeJunctions(cat, staged, filtered = false)
    // distinct natural keys: j1 (shared s1+s2), j2, j3, j4
    assert(dim.count() == 4)
    assert(bridge.count() == 5) // s1:{j1,j3} s2:{j1,j2} s3:{j4}

    // ids are the hash of the natural key — identical across batches
    val idByKey = dim.select("chrom", "start", "end", "strand", "id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3)) -> r.getLong(4)).toMap
    assert(idByKey.size == 4)

    // re-ingest s1: no new dim rows, no new bridge rows (idempotence)
    val again = Readers.sjOut(spark, fixture("s1.SJ.out.tab"), "s1", 10)
    val (dim2, bridge2) = Normalize.normalizeJunctions(cat, again, filtered = false)
    assert(dim2.count() == 4 && bridge2.count() == 5)

    // new sample with one known + one new junction: dim grows by 1
    import spark.implicits._
    val extra = Seq(("chr1", 31L, 60L, "+", 99L, 1L, "s4"),
      ("chr9", 5L, 9L, "+", 42L, 0L, "s4"))
      .toDF("chrom", "start", "end", "strand", "uniq_map", "multi_map", "samplename")
    val (dim3, bridge3) = Normalize.normalizeJunctions(cat, extra, filtered = false)
    assert(dim3.count() == 5 && bridge3.count() == 7)
    // pre-existing key kept its id
    val idAfter = dim3.filter($"chrom" === "chr1" && $"start" === 31)
      .select("id").head().getLong(0)
    assert(idAfter == idByKey(("chr1", 31L, 60L, "+")))
  }

  test("dim partitioning: junction dim is laid out by chrom") {
    val cat = new TableCatalog(spark, tmpDir("part"))
    val staged = Readers.sjOutAll(spark, Seq(
      "s1" -> fixture("s1.SJ.out.tab"), "s3" -> fixture("s3.SJ.out.tab")), 10)
    Normalize.normalizeJunctions(cat, staged, filtered = false)
    val dirs = new java.io.File(cat.path("all_junctions")).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs == Set("chrom=chr1", "chrom=chr2"))
  }

  test("variant_impacts: representative-sample rows, unchanged by re-ingest") {
    val cat = new TableCatalog(spark, tmpDir("impacts"))
    val types = Map("consequence" -> "str", "impact" -> "str",
      "gene" -> "str", "af" -> "float", "canonical" -> "bool")
    val impactCols = types.keys.toSeq.sorted
    def staged(names: String*) = graft.ingest.VcfReader.readAll(spark,
      names.map(n => n -> fixture(s"$n.vcf")), types, "union", Seq("GT", "DP"))
    def rows(df: DataFrame) =
      df.select(("variant_id" +: impactCols).map(col): _*)
        .collect().map(_.toString).sorted.toSeq
    // the per-variant min(samplename) rule as an aggregate joined back
    val all = Normalize.surrogateId(staged("s1", "s2"),
      Seq("chrom", "pos", "ref", "alt"), "variant_id")
    val want = rows(all.join(all.groupBy("variant_id")
        .agg(min("samplename").as("__rep")), "variant_id")
      .filter(col("samplename") === col("__rep")))
    def ingest(names: String*) = Normalize.normalizeVariants(cat,
      staged(names: _*), impactCols, Seq("gt", "gt_raw", "dp"),
      rna = false, filtered = false)._3
    assert(rows(ingest("s2", "s1")) == want && want.nonEmpty)
    assert(rows(ingest("s1")) == want)
    assert(rows(ingest("s2", "s1")) == want)
  }

  private val impactTypes = Map("consequence" -> "str", "impact" -> "str",
    "gene" -> "str", "af" -> "float", "canonical" -> "bool")
  private val impactCols = impactTypes.keys.toSeq.sorted
  private val formatCols = Seq("gt", "gt_raw", "dp")

  /** s3: chr1:200 (shared with s1) and chr2:300 (shared with s2) again,
    * plus one variant no other sample has, under a CSQ header of its own
    * field order. */
  private lazy val s3Vcf: String = {
    val path = s"${tmpDir("vcf-s3")}/s3.vcf"
    val lines = Seq(
      "##fileformat=VCFv4.2",
      "##INFO=<ID=CSQ,Number=.,Type=String,Description=\"Consequence " +
        "annotations from Ensembl VEP. Format: IMPACT|Consequence|Gene|AF|CANONICAL\">",
      "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"Genotype\">",
      "##FORMAT=<ID=DP,Number=1,Type=Integer,Description=\"Depth\">",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\ts3",
      "chr1\t200\t.\tG\tC\t40.0\tPASS\tCSQ=HIGH|stop_gained|g2|0.4|YES\tGT:DP\t0/1:9",
      "chr2\t300\trs3\tT\tG\t70.0\tPASS\tCSQ=LOW|synonymous_variant|g3||\tGT:DP\t0|1:11",
      "chr3\t50\trs9\tC\tA\t80.0\tq10\tCSQ=MODERATE|missense_variant|g9|0.2|," +
        "MODIFIER|intron_variant|g9||\tGT:DP\t1/1:14")
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    path
  }

  private def vcfOf(name: String) = if (name == "s3") s3Vcf else fixture(s"$name.vcf")

  private def ingestVariants(cat: TableCatalog, names: String*) =
    Normalize.normalizeVariants(cat, VcfReader.readAll(spark,
      names.map(n => n -> vcfOf(n)), impactTypes, "union", Seq("GT", "DP")),
      impactCols, formatCols, rna = false, filtered = false)

  private def ingestJunctions(cat: TableCatalog, names: String*) =
    Normalize.normalizeJunctions(cat, Readers.sjOutAll(spark,
      names.map(n => n -> fixture(s"$n.SJ.out.tab")), minReads = 10),
      filtered = false)

  /** The physical plans of the SQL executions `body` runs. */
  private def executedPlans(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        plans.add(qe.executedPlan.toString)
    }
    org.apache.spark.graftshim.ListenerShim.drain(sc)
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.graftshim.ListenerShim.drain(sc)
    } finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq
  }

  test("one ingest call scans each input once, on a fresh catalog and on an append") {
    val cat = new TableCatalog(spark, tmpDir("one-scan"))
    def vcfScans(names: String*) =
      executedPlans(ingestVariants(cat, names: _*)).count(_.contains("VcfScan"))
    def csvScans(names: String*) =
      executedPlans(ingestJunctions(cat, names: _*)).count(_.contains("FileScan csv"))
    // (VCF, SJ) scanning executions of the base ingest, then of the append
    assert(Seq(vcfScans("s1", "s2"), csvScans("s1", "s2"),
      vcfScans("s2", "s3"), csvScans("s2", "s3")) == Seq(1, 1, 1, 1))
  }

  test("incremental ingest stores what a one-shot ingest of the same samples stores") {
    val inc = new TableCatalog(spark, tmpDir("incremental"))
    ingestVariants(inc, "s1", "s2"); ingestJunctions(inc, "s1", "s2")
    ingestVariants(inc, "s2", "s3"); ingestJunctions(inc, "s2", "s3")
    val one = new TableCatalog(spark, tmpDir("one-shot"))
    ingestVariants(one, "s1", "s2", "s3"); ingestJunctions(one, "s1", "s2", "s3")
    Seq("all_junctions", "sample_to_alljunction", "variants", "sample_variants",
        "variant_impacts").foreach { t =>
      val a = inc.read(t)
      val b = one.read(t).select(a.columns.map(col): _*)
      assert(a.count() > 0, t)
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, t)
    }
    // s3 added one variant (two impact rows) and re-stated two known ones
    assert(inc.read("variants").count() == 4)
    assert(inc.read("variant_impacts").filter(col("gene") === "g9").count() == 2)
  }

  test("an ingest leaves no blocks, cached plans, conf or threads behind, also when it fails") {
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    val conf = spark.conf.getAll
    val rdds = sc.getPersistentRDDs.keySet
    def writers = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.getName.startsWith("normalize-write") && t.isAlive)
    def assertClean(what: String): Unit = {
      assert(sc.getPersistentRDDs.keySet == rdds, what)
      assert(spark.sharedState.cacheManager.isEmpty, what)
      assert(spark.conf.getAll == conf, what)
      assert(writers.isEmpty, what)
    }
    // every job the call runs, from any of its threads, carries the
    // caller's job tag
    val tags = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val jobs = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        tags.add(Option(e.properties).map(_.getProperty("spark.job.tags", "")).getOrElse(""))
    }
    val cat = new TableCatalog(spark, tmpDir("no-leak"))
    org.apache.spark.graftshim.ListenerShim.drain(sc)
    sc.addSparkListener(jobs)
    sc.addJobTag("ingest-under-test")
    try { ingestVariants(cat, "s1", "s2"); ingestJunctions(cat, "s1", "s2") }
    finally {
      sc.removeJobTag("ingest-under-test")
      org.apache.spark.graftshim.ListenerShim.drain(sc)
      sc.removeSparkListener(jobs)
    }
    assert(!tags.isEmpty && tags.asScala.forall(_.split(",").contains("ingest-under-test")),
      tags.asScala.toSeq)
    assertClean("after a successful ingest")

    // a variant_impacts table whose variant_id no anti-join can compare
    val bad = new TableCatalog(spark, tmpDir("bad-impacts"))
    import spark.implicits._
    Seq((Seq(1, 2), "x")).toDF("variant_id", "gene")
      .write.parquet(bad.path("variant_impacts"))
    val err = intercept[Exception](ingestVariants(bad, "s1", "s2"))
    val chain = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(e => Option(e.getMessage).exists(_.contains("variant_id"))),
      chain.map(_.toString))
    assertClean("after a failed write")
    // the writes that could succeed did
    assert(bad.read("variants").count() == 3 && bad.read("sample_variants").count() == 4)

    // a staged batch that fails while it is materialized
    val sj = s"${tmpDir("sj-bad")}/bad.SJ.out.tab"
    java.nio.file.Files.write(java.nio.file.Paths.get(sj),
      "chr1\t31\t60\t3\t1\t1\t25\t3\t20\n".getBytes("UTF-8"))
    val staging = intercept[Exception](Normalize.normalizeJunctions(
      new TableCatalog(spark, tmpDir("bad-sj")),
      Readers.sjOut(spark, sj, "s9", 10), filtered = false))
    assert(Iterator.iterate[Throwable](staging)(_.getCause).takeWhile(_ != null)
      .exists(e => Option(e.getMessage).exists(_.contains("unknown strand code 3"))))
    assertClean("after a failed staging")
  }

  test("readers: output column names and types, in order") {
    val vcf = Seq("chrom" -> StringType, "pos" -> LongType, "id" -> StringType,
      "ref" -> StringType, "alt" -> StringType, "qual" -> DoubleType,
      "filter" -> StringType, "gt_raw" -> StringType,
      "gt" -> ArrayType(IntegerType), "dp" -> StringType,
      "af" -> DoubleType, "canonical" -> BooleanType,
      "consequence" -> StringType, "gene" -> StringType,
      "impact" -> StringType, "samplename" -> StringType)
    def fields(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)
    assert(fields(VcfReader.read(spark, fixture("s1.vcf"), "s1",
      impactTypes.toSeq.sortBy(_._1), Seq("GT", "DP"))) == vcf)
    // readAll reconciles in header order, not in name order
    val all = VcfReader.readAll(spark, Seq("s1" -> fixture("s1.vcf"),
      "s2" -> fixture("s2.vcf")), impactTypes, "union", Seq("GT", "DP"))
    assert(fields(all) == vcf.take(10) ++ Seq("consequence" -> StringType,
      "impact" -> StringType, "gene" -> StringType, "af" -> DoubleType,
      "canonical" -> BooleanType, "samplename" -> StringType))
    assert(fields(Readers.sjOut(spark, fixture("s1.SJ.out.tab"), "s1", 10)) ==
      Seq("chrom" -> StringType, "start" -> LongType, "end" -> LongType,
        "uniq_map" -> LongType, "multi_map" -> LongType,
        "strand" -> StringType, "samplename" -> StringType))
  }

  test("sjOut: a strand code outside 0/1/2 fails the read") {
    val sj = s"${tmpDir("sj-strand")}/s9.SJ.out.tab"
    java.nio.file.Files.write(java.nio.file.Paths.get(sj),
      "chr1\t31\t60\t1\t1\t1\t25\t3\t20\nchr1\t70\t90\t3\t1\t0\t50\t2\t10\n"
        .getBytes("UTF-8"))
    val err = intercept[Exception](
      Readers.sjOut(spark, sj, "s9", minReads = 10).collect())
    assert(err.getMessage.contains("unknown strand code 3"))
  }
}
