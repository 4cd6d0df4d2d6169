package graft

import org.apache.spark.sql.functions._

class VcfSourceSpec extends SparkSpecBase {

  test("DSv2 vcf source: short name, schema, record parse") {
    val df = spark.read.format("vcf").load(fixture("s1.vcf"))
    assert(df.columns.toSeq == Seq("chrom", "pos", "id", "ref", "alt",
      "qual", "filter", "info", "format", "sample0", "samplename"))
    val rows = df.orderBy("pos").collect()
    assert(rows.length == 2)
    assert(rows(0).getString(0) == "chr1" && rows(0).getLong(1) == 100L)
    assert(rows(0).getString(2) == "rs1")
    // first-alt truncation + first-FILTER + '.' qual -> null
    assert(rows(1).isNullAt(2))
    assert(rows(1).getString(4) == "C")
    assert(rows(1).getString(6) == "PASS")
    assert(rows(1).isNullAt(5))
    assert(rows(0).getAs[String]("samplename") == "s1")
  }

  test("multi-file load: one partition per file, samplename per file") {
    val df = spark.read.format("vcf")
      .load(fixture("s1.vcf"), fixture("s2.vcf"))
    assert(df.rdd.getNumPartitions == 2)
    val bySample = df.groupBy("samplename").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySample == Map("s1" -> 2L, "s2" -> 2L))
  }

  test("URI-scheme paths open via Hadoop FS; multi-path JSON parse") {
    val df = spark.read.format("vcf")
      .load("file:" + fixture("s1.vcf"), "file:" + fixture("s2.vcf"))
    assert(df.count() == 4)
    val samples = df.select("samplename").distinct().collect()
      .map(_.getString(0)).toSet
    assert(samples == Set("s1", "s2"))
  }

  test("column pruning and chrom/pos pushdown") {
    val df = spark.read.format("vcf")
      .load(fixture("s1.vcf"), fixture("s2.vcf"))
    // empty projection (count) and narrow projection both work pruned
    assert(df.count() == 4)
    assert(df.select("pos").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(100L, 100L, 200L, 300L))
    // pushed predicate: only chr2 rows surface; filter evaluated in-source
    val chr2 = df.filter(col("chrom") === "chr2" && col("pos") >= 250L)
    assert(chr2.count() == 1)
    val scanDesc = chr2.queryExecution.executedPlan.toString
    assert(scanDesc.contains("EqualTo(chrom,chr2)"), scanDesc)
  }

  // ~500-record plain-text VCF for split-read tests (records have varied
  // widths so split boundaries land mid-line, mid-header, and on '\n')
  private lazy val bigVcf: String = {
    val f = java.io.File.createTempFile("graft_split", ".vcf")
    f.deleteOnExit()
    val w = new java.io.PrintWriter(f, "UTF-8")
    w.println("##fileformat=VCFv4.2")
    (1 to 40).foreach(i => w.println(s"##contig=<ID=chr$i,length=100000>"))
    w.println("#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS")
    (1 to 500).foreach { i =>
      val info = "ANN=" + ("x" * (i % 37))
      w.println(s"chr${i % 5 + 1}\t${i * 10}\trs$i\tA\tG,T\t${i % 90}.5\t" +
        s"PASS\t$info\tGT\t0/1")
    }
    w.close()
    f.getAbsolutePath
  }

  test("byte-range splits: every record exactly once, any split size") {
    val whole = spark.read.format("vcf").load(bigVcf)
      .select("chrom", "pos", "id").orderBy("pos").collect().toSeq
    assert(whole.size == 500)
    // sweep split sizes incl. pathological ones (smaller than one line)
    for (bytes <- Seq(17, 64, 1000, 4096)) {
      spark.conf.set("spark.graft.vcf.splitbytes", bytes.toString)
      try {
        val df = spark.read.format("vcf").load(bigVcf)
        assert(df.rdd.getNumPartitions > 1, s"splitbytes=$bytes")
        val got = df.select("chrom", "pos", "id").orderBy("pos")
          .collect().toSeq
        assert(got == whole, s"splitbytes=$bytes")
      } finally spark.conf.unset("spark.graft.vcf.splitbytes")
    }
  }

  test("split reads keep pushdown + samplename semantics") {
    spark.conf.set("spark.graft.vcf.splitbytes", "512")
    try {
      val df = spark.read.format("vcf").load(bigVcf)
        .filter(col("chrom") === "chr3" && col("pos") <= 1000L)
      assert(df.count() ==
        (1 to 500).count(i => i % 5 + 1 == 3 && i * 10 <= 1000))
      assert(df.select("samplename").distinct().count() == 1)
    } finally spark.conf.unset("spark.graft.vcf.splitbytes")
  }

  test("gzip files stay one partition and decompress on the fly") {
    val gzPath = bigVcf.stripSuffix(".vcf") + ".vcf.gz"
    val in = new java.io.FileInputStream(bigVcf)
    val out = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(gzPath))
    val buf = new Array[Byte](8192)
    Iterator.continually(in.read(buf)).takeWhile(_ > 0)
      .foreach(n => out.write(buf, 0, n))
    in.close(); out.close()
    new java.io.File(gzPath).deleteOnExit()
    spark.conf.set("spark.graft.vcf.splitbytes", "64") // must be ignored
    try {
      val df = spark.read.format("vcf").load(gzPath)
      assert(df.rdd.getNumPartitions == 1)
      assert(df.count() == 500)
    } finally spark.conf.unset("spark.graft.vcf.splitbytes")
  }

  test("directory and glob paths expand via Hadoop FS") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vcfdir").toFile
    dir.deleteOnExit()
    def put(name: String, src: String): Unit = {
      val p = new java.io.File(dir, name)
      p.deleteOnExit()
      java.nio.file.Files.copy(java.nio.file.Paths.get(src), p.toPath)
    }
    put("a.vcf", fixture("s1.vcf"))
    put("b.vcf", fixture("s2.vcf"))
    put("_committing.vcf", fixture("s1.vcf")) // writer metadata: skipped
    put("notes.txt", fixture("s1.vcf"))       // wrong suffix: skipped
    val fromDir = spark.read.format("vcf").load(dir.getAbsolutePath)
    assert(fromDir.count() == 4)
    assert(fromDir.select("samplename").distinct().collect()
      .map(_.getString(0)).toSet == Set("a", "b"))
    val fromGlob = spark.read.format("vcf")
      .load(dir.getAbsolutePath + "/a.vc*")
    assert(fromGlob.count() == 2)
    val missing = intercept[Exception] {
      spark.read.format("vcf").load(dir.getAbsolutePath + "/zzz*.vcf").count()
    }
    assert(missing.toString.contains("no files match") ||
      Option(missing.getCause).exists(_.toString.contains("no files match")))
  }

  // bigVcf compressed as BGZF with small blocks so splits land mid-block,
  // on block boundaries, and inside the header region
  private lazy val bigBgzf: String = {
    val raw = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(bigVcf))
    val p = bigVcf.stripSuffix(".vcf") + ".vcf.bgz"
    val out = new java.io.FileOutputStream(p)
    try graft.sources.Bgzf.write(out, raw, 512) finally out.close()
    new java.io.File(p).deleteOnExit()
    p
  }

  test("bgzf: block boundaries round-trip through the scanner") {
    val raw = "x" * 3000
    val bos = new java.io.ByteArrayOutputStream()
    val offsets = graft.sources.Bgzf.write(bos,
      raw.getBytes("UTF-8"), 700)
    val bytes = bos.toByteArray
    // every written offset parses as a block; chained sizes reproduce them
    var off = 0L
    val found = Seq.newBuilder[Long]
    while (off < bytes.length) {
      val bs = graft.sources.Bgzf.blockSize(bytes, off.toInt,
        bytes.length - off.toInt)
      assert(bs > 0, s"offset $off")
      found += off
      off += bs
    }
    // write() returns data-block offsets plus the EOF block's offset
    assert(found.result() == offsets)
    assert(offsets.last == bytes.length - 28L)
  }

  test("bgzf splits: every record exactly once, any split size") {
    val whole = spark.read.format("vcf").load(bigVcf)
      .select("chrom", "pos", "id").orderBy("pos").collect().toSeq
    // whole-file bgzf read (single partition) matches plain text
    val one = spark.read.format("vcf").load(bigBgzf)
    assert(one.rdd.getNumPartitions == 1)
    assert(one.select("chrom", "pos", "id").orderBy("pos").collect().toSeq
      == whole)
    // sweep compressed split sizes: smaller than one block, mid-block,
    // multi-block
    for (bytes <- Seq(100, 700, 4096)) {
      spark.conf.set("spark.graft.vcf.splitbytes", bytes.toString)
      try {
        val df = spark.read.format("vcf").load(bigBgzf)
        assert(df.rdd.getNumPartitions > 1, s"splitbytes=$bytes")
        val got = df.select("chrom", "pos", "id").orderBy("pos")
          .collect().toSeq
        assert(got == whole, s"splitbytes=$bytes")
      } finally spark.conf.unset("spark.graft.vcf.splitbytes")
    }
  }

  test("bgzf splits keep pushdown + samplename semantics") {
    spark.conf.set("spark.graft.vcf.splitbytes", "700")
    try {
      val df = spark.read.format("vcf").load(bigBgzf)
        .filter(col("chrom") === "chr3" && col("pos") <= 1000L)
      assert(df.count() ==
        (1 to 500).count(i => i % 5 + 1 == 3 && i * 10 <= 1000))
      assert(df.select("samplename").distinct().head().getString(0)
        == bigBgzf.split('/').last.takeWhile(_ != '.'))
    } finally spark.conf.unset("spark.graft.vcf.splitbytes")
  }

  // coordinate-sorted 1000-record bgzf (5 chroms x 200) with a built
  // .tbi — the tabix pruning fixture
  private lazy val sortedBgzf: String = {
    val f = java.io.File.createTempFile("graft_tabix", ".vcf.bgz")
    val sb = new StringBuilder
    sb.append("##fileformat=VCFv4.2\n")
    sb.append("#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS\n")
    for (c <- 1 to 5; i <- 1 to 200) {
      val pad = "x" * (i % 29)
      sb.append(s"chr$c\t${i * 7}\trs${c}_$i\tACGT\tA\t50\tPASS\t" +
        s"ANN=$pad\tGT\t0/1\n")
    }
    val out = new java.io.FileOutputStream(f)
    try graft.sources.Bgzf.write(out, sb.toString.getBytes("UTF-8"), 512)
    finally out.close()
    graft.sources.Tabix.buildForVcf(
      new org.apache.hadoop.fs.Path(f.getAbsolutePath),
      spark.sessionState.newHadoopConf())
    f.deleteOnExit()
    new java.io.File(f.getAbsolutePath + ".tbi").deleteOnExit()
    f.getAbsolutePath
  }

  test("tabix index roundtrip: names and region chunk ranges") {
    val idx = graft.sources.Tabix.read(
      new org.apache.hadoop.fs.Path(sortedBgzf + ".tbi"),
      spark.sessionState.newHadoopConf())
    assert(idx.names == (1 to 5).map(c => s"chr$c"))
    assert(idx.regionRanges("chrX", 0, 1000).isEmpty)
    val r = idx.regionRanges("chr3", 0, 2000)
    assert(r.nonEmpty && r.forall { case (s, e) => s < e })
  }

  test("tabix region pruning: fewer splits planned, exact rows") {
    spark.conf.set("spark.graft.vcf.splitbytes", "600")
    try {
      val df = spark.read.format("vcf").load(sortedBgzf)
      val fullParts = df.rdd.getNumPartitions
      assert(fullParts > 5, s"fixture too small: $fullParts")
      assert(df.count() == 1000)
      val q = df.filter(col("chrom") === "chr4" &&
        col("pos") >= 700L && col("pos") <= 1000L)
      assert(q.select("pos").collect().map(_.getLong(0)).sorted.toSeq ==
        (100 to 142).map(_ * 7L))
      assert(q.rdd.getNumPartitions < fullParts,
        s"pruned=${q.rdd.getNumPartitions} full=$fullParts")
      // IN-list chrom filters prune too (Spark's OR-chain rewrite)
      val inQ = df.filter(col("chrom").isin("chr4", "chr5") &&
        col("pos") <= 70L)
      assert(inQ.rdd.getNumPartitions < fullParts)
      assert(inQ.count() == 20)
      // contradictions and unknown sequences plan ZERO partitions
      val none = df.filter(col("chrom") === "chr4" &&
        col("pos") > 5000L && col("pos") < 4000L)
      assert(none.rdd.getNumPartitions == 0)
      assert(none.count() == 0)
      val nochrom = df.filter(col("chrom") === "chrX")
      assert(nochrom.rdd.getNumPartitions == 0)
      assert(nochrom.count() == 0)
    } finally spark.conf.unset("spark.graft.vcf.splitbytes")
  }

  test("tabix index cache: one parse per file version across queries") {
    import graft.sources.Tabix
    spark.conf.set("spark.graft.vcf.splitbytes", "600")
    try {
      val df = spark.read.format("vcf").load(sortedBgzf)
      def regionCount(c: String) =
        df.filter(col("chrom") === c && col("pos") <= 700L).count()
      assert(regionCount("chr2") == 100) // warm the cache
      val before = Tabix.indexLoads
      assert(regionCount("chr3") == 100)
      assert(regionCount("chr4") == 100)
      assert(Tabix.indexLoads == before,
        "repeated region queries must reuse the parsed index")
      // rewriting the file (new mtime/length) must miss and reparse
      val p = new org.apache.hadoop.fs.Path(sortedBgzf + ".tbi")
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val bytes = {
        val in = fs.open(p)
        try {
          val len = fs.getFileStatus(p).getLen.toInt
          val buf = new Array[Byte](len)
          in.readFully(0, buf); buf
        } finally in.close()
      }
      Thread.sleep(1100) // local-FS mtime granularity can be 1s
      val out = fs.create(p, true)
      try out.write(bytes) finally out.close()
      assert(regionCount("chr5") == 100)
      assert(Tabix.indexLoads == before + 1,
        "a rewritten index file must be reparsed exactly once")
    } finally spark.conf.unset("spark.graft.vcf.splitbytes")
  }

  test("cold region query over N indexed files parses each .tbi exactly once") {
    import graft.sources.Tabix
    // more files than the driver's 256-entry index cache holds, so a
    // second planning pass over the same scan would have to parse again
    val n = 260
    val dir = tmpDir("graft-tabix-cohort")
    val conf = spark.sessionState.newHadoopConf()
    val body = (1 to 20).map(i => s"chr1\t${i * 10}\t.\tA\tC\t50\tPASS\t.\tGT\t0/1\n")
      .mkString("##fileformat=VCFv4.2\n" +
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS\n", "", "")
      .getBytes("UTF-8")
    (1 to n).foreach { i =>
      val f = f"$dir/S$i%04d.vcf.bgz"
      val out = new java.io.FileOutputStream(f)
      try graft.sources.Bgzf.write(out, body, 4096) finally out.close()
      Tabix.buildForVcf(new org.apache.hadoop.fs.Path(f), conf)
    }
    val before = Tabix.indexLoads
    val hits = spark.read.format("vcf").load(dir)
      .filter(col("chrom") === "chr1" && col("pos") <= 50L).count()
    assert(hits == 5L * n)
    assert(Tabix.indexLoads - before == n)
  }

  test("filters and projection compose on the source") {
    val df = spark.read.format("vcf")
      .load(fixture("s1.vcf"), fixture("s2.vcf"))
      .filter(col("chrom") === "chr1" && col("pos") === 100L)
      .select("samplename", "ref", "alt")
    assert(df.count() == 2)
    assert(df.select("ref").distinct().head().getString(0) == "A")
  }
}
