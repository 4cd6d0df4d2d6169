package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.TableCatalog
import graft.ingest.{Normalize, Readers}

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
}
