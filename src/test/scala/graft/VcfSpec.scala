package graft

import org.apache.spark.sql.functions._
import graft.ingest.VcfReader

class VcfSpec extends SparkSpecBase {

  private val fieldTypes = Map(
    "consequence" -> "str", "impact" -> "str", "gene" -> "str",
    "af" -> "float", "canonical" -> "bool")

  private def hconf = spark.sessionState.newHadoopConf()

  test("header introspection: CSQ field order and FORMAT keys") {
    val h = VcfReader.readHeader(fixture("s1.vcf"), hconf)
    assert(h.csqFields == Seq("consequence", "impact", "gene", "af", "canonical"))
    assert(h.formatKeys == Seq("GT", "DP"))
    val h2 = VcfReader.readHeader(fixture("s2.vcf"), hconf)
    assert(h2.csqFields == Seq("consequence", "impact", "gene", "af"))
  }

  test("reconciliation across differing headers") {
    val hs = Seq(VcfReader.readHeader(fixture("s1.vcf"), hconf),
      VcfReader.readHeader(fixture("s2.vcf"), hconf))
    assert(VcfReader.reconcileCsq(hs, "union") ==
      Seq("consequence", "impact", "gene", "af", "canonical"))
    assert(VcfReader.reconcileCsq(hs, "intersection") ==
      Seq("consequence", "impact", "gene", "af"))
    intercept[IllegalStateException](VcfReader.reconcileCsq(hs, "error"))
  }

  test("record parse: mandatory fields, CSQ explode, coercion, gt") {
    val df = VcfReader.read(spark, fixture("s1.vcf"), "s1",
      impactFields = fieldTypes.toSeq.sortBy(_._1), formatKeys = Seq("GT", "DP"))
    val rows = df.orderBy("pos", "consequence").collect()
    assert(rows.length == 3) // 2 CSQ impacts for pos 100, 1 for pos 200

    val r1 = rows.find(r => r.getAs[Long]("pos") == 100L &&
      r.getAs[String]("consequence") == "missense_variant").get
    assert(r1.getAs[String]("chrom") == "chr1")
    assert(r1.getAs[String]("id") == "rs1")
    assert(r1.getAs[String]("ref") == "A" && r1.getAs[String]("alt") == "T")
    assert(r1.getAs[Double]("qual") == 50.0)
    assert(r1.getAs[String]("filter") == "PASS")
    assert(r1.getAs[Double]("af") == 0.01)
    assert(r1.getAs[Boolean]("canonical"))
    assert(r1.getAs[String]("gt_raw") == "0/1")
    assert(r1.getSeq[Int](r1.fieldIndex("gt")).toSeq == Seq(0, 1))
    assert(r1.getAs[String]("dp") == "12")

    // second impact of the same variant: empty af/canonical → null
    val r2 = rows.find(r => r.getAs[Long]("pos") == 100L &&
      r.getAs[String]("consequence") == "intron_variant").get
    assert(r2.isNullAt(r2.fieldIndex("af")))
    assert(r2.isNullAt(r2.fieldIndex("canonical")))

    // pos 200: multi-allelic truncated to first alt, first FILTER only,
    // '.' qual → null, '.' id → null
    val r3 = rows.find(_.getAs[Long]("pos") == 200L).get
    assert(r3.getAs[String]("alt") == "C")
    assert(r3.getAs[String]("filter") == "PASS")
    assert(r3.isNullAt(r3.fieldIndex("qual")))
    assert(r3.isNullAt(r3.fieldIndex("id")))
    assert(r3.getSeq[Int](r3.fieldIndex("gt")).toSeq == Seq(1, 1))
  }

  test("readAll: union policy pads missing fields with null, per-file CSQ order") {
    val df = VcfReader.readAll(spark,
      Seq("s1" -> fixture("s1.vcf"), "s2" -> fixture("s2.vcf")),
      fieldTypes, policy = "union", formatKeys = Seq("GT", "DP"))
    assert(df.count() == 5)
    // s2 has no canonical field in its header → all null for s2 rows
    assert(df.filter(col("samplename") === "s2" &&
      col("canonical").isNotNull).count() == 0)
    // shared variant chr1:100 A>T parsed identically from both files
    val shared = df.filter(col("pos") === 100 &&
      col("consequence") === "missense_variant")
      .select("chrom", "ref", "alt").distinct()
    assert(shared.count() == 1)
  }

  test("readAll over BGZF copies == readAll over the plain-text files") {
    val dir = tmpDir("vcf-bgz")
    val manifest = Seq("s1", "s2").map { n =>
      val bgz = s"$dir/$n.vcf.bgz"
      val out = new java.io.FileOutputStream(bgz)
      try graft.sources.Bgzf.write(out, java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(fixture(s"$n.vcf"))), 256)
      finally out.close()
      (n, fixture(s"$n.vcf"), bgz)
    }
    manifest.foreach { case (_, plain, bgz) =>
      assert(VcfReader.readHeader(bgz, hconf) == VcfReader.readHeader(plain, hconf))
    }
    def rows(paths: Seq[(String, String)]) = VcfReader.readAll(spark, paths,
      fieldTypes, policy = "union", formatKeys = Seq("GT", "DP"))
      .collect().map(_.toString).sorted.toSeq
    val plain = rows(manifest.map(m => m._1 -> m._2))
    assert(plain.size == 5)
    assert(rows(manifest.map(m => m._1 -> m._3)) == plain)
  }

  test("bool coercion: ASCII case fold accepts exactly what lower() did") {
    import spark.implicits._
    val table = Seq[(String, Option[Boolean])](
      "TRUE" -> Some(true), "Yes" -> Some(true), "1" -> Some(true),
      "no" -> Some(false), "False" -> Some(false), "0" -> Some(false),
      "" -> None, "maybe" -> None, (null, None), "yes\n" -> None,
      "\uff34\uff32\uff35\uff25" -> None, // full-width TRUE
      "\u0130" -> None) // dotted capital I
    val in = table.map(_._1).toDF("v")
    val nn = nullif(col("v"), lit(""))
    val viaLower = when(lower(nn).isin("yes", "true", "1"), true)
      .when(lower(nn).isin("no", "false", "0"), false)
      .otherwise(lit(null).cast("boolean"))
    val got = in.select(col("v"), VcfReader.coerce(col("v"), "bool").as("b"),
        viaLower.as("l"))
      .collect().map(r => (Option(r.getString(0)),
        (Option(r.get(1)).map(_.asInstanceOf[Boolean]),
          Option(r.get(2)).map(_.asInstanceOf[Boolean])))).toMap
    table.foreach { case (v, want) =>
      assert(got(Option(v)) == (want, want), s"input ${Option(v)}")
    }
  }
}
