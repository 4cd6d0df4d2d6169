package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{FilterSpec, TableCatalog}
import graft.ingest.{Normalize, Readers, VcfReader}
import graft.model.{Genome, Junction}
import graft.query.{Expression, Junctions, Project, Variants}
import graft.sources.Tabix
import Cohort.Sample

/** What a timed region hands back: the ops that make up its fixed work,
  * the ops whose latencies count (all when empty), and workload-specific
  * record entries. */
final case class Timed(fixedOps: Seq[Int], record: Map[String, Any],
    latencyOps: Seq[Int] = Nil)

trait Workload {
  def name: String
  /** Write the inputs for `seed` under `dir` (not part of set-up time). */
  def generate(seed: Long, dir: String): Unit = ()
  def run(ctx: Ctx, seed: Long, seconds: Double, dir: String): Timed
  def properties: Map[String, Double] = Map.empty
}

/** The ingest calls CreateProject.run makes, one op per modality. */
object Ingest {
  val ImpactCols: Seq[String] = Cohort.FieldTypes.keys.toSeq.sorted
  val FormatCols = Seq("gt", "gt_raw", "dp")

  def counts(catalog: TableCatalog, t: String): Long = catalog.read(t).count()

  /** VcfReader.readAll's plan, with each file's header passed in: readAll
    * reads headers as plain text and so cannot open the BGZF files that
    * the `vcf` source itself reads. The headers are the ones written. */
  def readVcfs(spark: SparkSession, d: Cohort.Data, batch: Seq[Sample]): DataFrame = {
    val hdr = VcfReader.VcfHeader(Cohort.CsqFields.map(_.toLowerCase), Cohort.FormatKeys)
    val fields = VcfReader.reconcileCsq(batch.map(_ => hdr), "union")
      .filter(Cohort.FieldTypes.contains).map(f => f -> Cohort.FieldTypes(f))
    batch.map(s => VcfReader.read(spark, s.vcf(d.dir), s.name, fields, Cohort.FormatKeys, hdr))
      .reduce(_ unionByName _)
  }

  /** Ingest `batch` into `catalog`. The first batch also writes the
    * samples and expression tables; later batches merge variants and
    * junctions only, as CreateProject does when the tables exist. */
  def batch(ctx: Ctx, d: Cohort.Data, catalog: TableCatalog, batch: Seq[Sample],
      truth: Cohort.StoreCounts, tag: String): Unit = {
    val spark = ctx.spark
    val tr = ctx.trace
    def expect(pairs: (String, Long, Long)*): Option[String] = {
      val bad = pairs.filter(p => p._2 != p._3)
      if (bad.isEmpty) None
      else Some(bad.map(p => s"${p._1}: stored ${p._2}, expected ${p._3}").mkString("; "))
    }
    if (!catalog.exists("samples"))
      ctx.op("ingest", s"$tag.samples") {
        val df = tr("ingest", "Readers.sampleMeta")(
          Readers.sampleMeta(spark, d.samplesTsv, Seq("sex", "age")))
        tr("core", "TableCatalog.write")(catalog.write(df, "samples"))
      }(_ => expect(("samples", counts(catalog, "samples"), truth.samples)))
    ctx.op("ingest", s"$tag.junctions") {
      val staged = tr("ingest", "Readers.sjOutAll")(Readers.sjOutAll(spark,
        batch.map(s => s.name -> s.sjPath(d.dir)), Cohort.MinJunctionReads))
      tr("ingest", "Normalize.normalizeJunctions")(
        Normalize.normalizeJunctions(catalog, staged, filtered = true))
    }(_ => expect(
      ("junctions", counts(catalog, "junctions"), truth.junctions),
      ("sample_to_junction", counts(catalog, "sample_to_junction"), truth.junctionBridge)))
    if (!catalog.exists("gene_expression"))
      ctx.op("ingest", s"$tag.expression") {
        val genes = tr("ingest", "Readers.rsemGenes")(batch
          .map(s => Readers.rsemGenes(spark, s.genesPath(d.dir), s.name)).reduce(_ unionByName _))
        tr("core", "TableCatalog.write")(catalog.write(genes, "gene_expression"))
        val iso = tr("ingest", "Readers.rsemIsoforms")(batch
          .map(s => Readers.rsemIsoforms(spark, s.isoformsPath(d.dir), s.name)).reduce(_ unionByName _))
        tr("core", "TableCatalog.write")(catalog.write(iso, "transcript_expression"))
      }(_ => expect(
        ("gene_expression", counts(catalog, "gene_expression"), truth.geneExpr),
        ("transcript_expression", counts(catalog, "transcript_expression"), truth.txExpr)))
    ctx.op("ingest", s"$tag.variants") {
      val staged = tr("ingest", "VcfReader.read")(readVcfs(spark, d, batch))
      tr("ingest", "Normalize.normalizeVariants")(Normalize.normalizeVariants(catalog,
        staged, ImpactCols, FormatCols, rna = false, filtered = false))
    }(_ => expect(
      ("variants", counts(catalog, "variants"), truth.variants),
      ("sample_variants", counts(catalog, "sample_variants"), truth.sampleVariants),
      ("variant_impacts", counts(catalog, "variant_impacts"), truth.impacts),
      ("variant_impacts without CSQ",
        catalog.read("variant_impacts").filter(col("consequence").isNull).count(),
        truth.impactsNoCsq)))
  }
}

/** The domain path end to end: ingest a base batch into a fresh
  * warehouse, append a batch that re-ingests part of it, index every VCF
  * and write the annotation, then query the store in a seeded closed loop
  * (one client). Ingest, index and the first request pass are a fixed
  * amount of work and make up the wall time; request passes repeat while
  * the timed region is shorter than --seconds, adding latency samples only. */
object DomainPath extends Workload {
  val name = "domain_path"
  /** More VCFs than the 256-entry tabix index cache holds; the first
    * [[Ingested]] samples also go through ingest. */
  val sizes = Cohort.Sizes(samples = 260, cohorts = 10, variantsPerSample = 150,
    junctionsPerSample = 300, genes = 150, chromLength = 1000000)
  val Ingested = 7
  /** One request pass: each type a fixed number of times, in seeded order. */
  val Pass = Seq("variant_region" -> 2, "variant_filter" -> 1,
    "junction_search" -> 2, "junction_regions" -> 1, "junction_tolerance" -> 1,
    "junction_features" -> 1, "expression_wide" -> 1, "sequence" -> 2,
    "vcf_region_subcohort" -> 2, "vcf_region_cohort" -> 1)
  private var data: Cohort.Data = _
  private def base = data.samples.take(5)
  private def appended = data.samples.slice(3, Ingested) // S0003-S0004 come again
  private def stored = data.samples.take(Ingested)

  override def generate(seed: Long, dir: String): Unit =
    data = Cohort.generate(seed, s"$dir/input", sizes)

  override def properties: Map[String, Double] =
    Cohort.properties(data, stored, reingested = 2, ingested = appended.size)

  def run(ctx: Ctx, seed: Long, seconds: Double, dir: String): Timed = {
    val spark = ctx.spark
    import spark.implicits._
    val t0 = System.nanoTime()
    val catalog = new TableCatalog(spark, new File(s"$dir/warehouse").getAbsolutePath)
    Ingest.batch(ctx, data, catalog, base,
      Cohort.storeCounts(data, Seq(base)).copy(samples = data.samples.size), "base")
    val nBase = ctx.ops.size
    Ingest.batch(ctx, data, catalog, appended,
      Cohort.storeCounts(data, Seq(base, appended)).copy(samples = data.samples.size), "append")
    val appendS = ctx.ops.drop(nBase).map(_.ms).sum / 1e3
    val ingestOps = ctx.ops.size
    val (storedBytes, outputFiles) = Stats.dirBytes(new File(catalog.root))
    val inputBytes = data.bytesOf(stored.flatMap(s => Seq(s"vcf/${s.name}.vcf.bgz",
      s"sj/${s.name}.SJ.out.tab")) ++ base.flatMap(s => Seq(s"rsem/${s.name}.genes.results",
      s"rsem/${s.name}.isoforms.results")))

    val conf = spark.sessionState.newHadoopConf()
    ctx.op("sources", "index.tabix") {
      data.samples.foreach(s => ctx.trace("sources", "Tabix.buildForVcf")(
        Tabix.buildForVcf(new org.apache.hadoop.fs.Path(s.vcf(data.dir)), conf)))
    }(_ => None)
    ctx.op("core", "index.annotation") {
      ctx.trace("core", "TableCatalog.write") {
        catalog.write(data.genes.map(g => (g.id, g.chrom, g.start, g.end, g.strand,
          s"SYM${g.id.drop(1)}", "synthetic gene", "protein_coding"))
          .toDF("id", "chrom", "start", "end", "strand", "name", "description", "biotype"), "genes")
        catalog.write(data.transcripts.map(t => (t.id, t.gene, t.chrom, t.start, t.end,
          t.strand, "protein_coding"))
          .toDF("id", "gene", "chrom", "start", "end", "strand", "biotype"), "transcripts")
        catalog.write(data.transcripts.flatMap(_.exons).map(e => (e.transcript, e.rank,
          e.chrom, e.start, e.end, e.strand))
          .toDF("transcript", "rank", "chrom", "start", "end", "strand"), "exons")
      }
    }(_ => None)
    val project = new Project(catalog)
    val variants = new Variants(catalog)
    val junctions = new Junctions(catalog, project)
    val expression = new Expression(catalog, project)
    val genome = new Genome(catalog, Some(data.fastaPath))
    val indexOps = ctx.ops.size

    val rnd = new java.util.Random(seed * 7919L + 17L)
    def gene() = data.genes(Cohort.skewed(rnd, data.genes.size))
    def intron(): (Cohort.Transcript, (Long, Long)) = {
      var t = gene().transcripts(rnd.nextInt(2))
      while (Cohort.introns(t).isEmpty) t = gene().transcripts(rnd.nextInt(2))
      val is = Cohort.introns(t); (t, is(rnd.nextInt(is.size)))
    }
    def sameRows[A](got: Seq[A], want: Seq[A]): Option[String] =
      if (got == want) None
      else Some(s"${got.size} rows, expected ${want.size}" +
        got.zip(want).find(p => p._1 != p._2).map(p => s"; first difference ${p._1} vs ${p._2}")
          .getOrElse(""))
    var tabixLookups = 0L
    val loads0 = Tabix.indexLoads
    val rowsOut = mutable.Map.empty[Int, Long]
    val filesRead = mutable.Map.empty[Int, Long]
    def track(df: DataFrame): Array[Row] = {
      val rows = ctx.collect(df)
      val id = ctx.ops.size
      rowsOut(id) = rows.length.toLong
      if (ctx.trace.enabled) filesRead(id) = Plans.filesRead(df)
      rows
    }

    def request(kind: String): Unit = kind match {
      case "variant_region" =>
        val g = gene()
        ctx.op("query", kind)(track(ctx.trace("query", "Variants.searchRegion")(
          variants.searchRegion(g.chrom, g.start, g.end)).select("samplename", "pos"))
          .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted)(got =>
          sameRows(got, Cohort.variantRegion(stored, g.chrom, g.start, g.end)))
      case "variant_filter" =>
        val who = Seq.fill(3)(stored(rnd.nextInt(stored.size))).distinct
        val imp = if (rnd.nextBoolean()) "HIGH" else "MODERATE"
        ctx.op("query", kind)(track(ctx.trace("query", "Variants.filter")(variants.filter(
          impactSpecs = Seq(FilterSpec("impact", "==", imp), FilterSpec("af", "<", 0.05)),
          formatSpecs = Seq(FilterSpec("gt_raw", "==", "1/1")),
          samples = who.map(_.name))).select("samplename", "pos"))
          .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted)(got =>
          sameRows(got, Cohort.variantFilter(who, imp, 0.05, "1/1")))
      case "junction_search" =>
        val g = gene()
        ctx.op("query", kind)(track(ctx.trace("query", "Junctions.search")(
          junctions.search(g.chrom, g.start, g.end, Some(g.strand)))
          .select("samplename", "start", "end"))
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sorted)(got =>
          sameRows(got, Cohort.junctionSearch(stored, g.chrom, g.start, g.end, g.strand)))
      case "junction_regions" =>
        val regions = Seq.fill(20)(gene()).distinct.map(g => (g.chrom, g.start, g.end))
        ctx.op("query", kind)(track(ctx.trace("query", "Junctions.searchRegions")(
          junctions.searchRegions(regions.toDF("chrom", "start", "end"))).select("id")).length.toLong)(
          got => sameRows(Seq(got), Seq(Cohort.junctionRegions(stored, regions))))
      case "junction_tolerance" =>
        val (t, (s, e)) = intron()
        ctx.op("model", kind)(track(ctx.trace("model", "Junction.samples")(
          Junction(t.chrom, s, e, t.strand).samples(junctions, 5, 5))
          .select("samplename", "start", "end"))
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sorted)(got =>
          sameRows(got, Cohort.junctionTolerance(stored, t.chrom, s, e, t.strand, 5)))
      case "junction_features" =>
        val (t, (s, e)) = intron()
        ctx.op("model", kind)(track(ctx.trace("model", "Junction.features")(
          Junction(t.chrom, s, e, t.strand).features(genome))
          .select("transcript", "end_type", "feature", "start", "end"))
          .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4)))
          .toSeq.sorted)(got =>
          sameRows(got, Cohort.junctionFeatures(data, t.chrom, s, e, t.strand)))
      case "expression_wide" =>
        val c = base(rnd.nextInt(base.size)).cohort
        val members = data.cohortOf(c)
        val withData = members.filter(base.contains) // expression: base batch
        ctx.op("query", kind) {
          val df = ctx.trace("query", "Expression.wide")(expression.wide(cohorts = Seq(c)))
          val rows = track(df)
          (rows.length, df.columns.length, rows.map(r => (1 until r.length)
            .filterNot(r.isNullAt).map(i => r.getDouble(i)).sum).sum)
        } { case (n, cols, sum) =>
          val want = withData.map(_.tpm.take(data.genes.size).sum).sum
          val genes = if (withData.isEmpty) 0 else data.genes.size
          if (n == genes && cols == members.size + 1 &&
            math.abs(sum - want) <= 1e-6 * math.max(1.0, want)) None
          else Some(s"$n x $cols sum $sum, expected $genes x ${members.size + 1} sum $want")
        }
      case "sequence" =>
        val g = gene(); val ex = g.transcripts.head.exons.head
        val strand = if (rnd.nextBoolean()) "+" else "-"
        ctx.op("model", kind)(ctx.trace("model", "Genome.getSequence")(
          genome.getSequence(ex.chrom, ex.start, ex.end, strand))) { got =>
          val fwd = data.fasta(ex.chrom).substring((ex.start - 1).toInt, ex.end.toInt)
          val want = if (strand == "-") Genome.reverseComplement(fwd) else fwd
          if (got == want) None else Some(s"sequence of ${got.length} bases differs")
        }
      case "vcf_region_subcohort" | "vcf_region_cohort" =>
        val g = gene()
        val who = if (kind == "vcf_region_cohort") data.samples
          else data.cohortOf(s"c${rnd.nextInt(sizes.cohorts)}")
        tabixLookups += who.size
        ctx.op("sources", kind)(track(ctx.trace("sources", "format(vcf).load")(
          spark.read.format("vcf").load(who.map(_.vcf(data.dir)): _*))
          .filter(col("chrom") === g.chrom && col("pos").between(g.start, g.end))
          .select("pos")).map(_.getLong(0)).toSeq.sorted)(got =>
          sameRows(got, Cohort.vcfRegion(who, g.chrom, g.start, g.end)))
    }

    val passWalls = mutable.ArrayBuffer.empty[Double]
    do {
      val from = ctx.ops.size
      val kinds = Pass.flatMap { case (k, n) => Seq.fill(n)(k) }
      new scala.util.Random(rnd.nextLong()).shuffle(kinds).foreach(request)
      passWalls += ctx.ops.drop(from).map(_.ms).sum / 1e3
    } while ((System.nanoTime() - t0) / 1e9 < seconds)

    val loads = Tabix.indexLoads - loads0
    // the fixed work: ingest, index and the first request pass
    Timed(ctx.ops.take(indexOps + Pass.map(_._2).sum).map(_.id).toSeq, Map(
      "request_passes" -> passWalls.size,
      "request_pass_s" -> passWalls.toSeq,
      "ingest_s" -> ctx.ops.take(ingestOps).map(_.ms).sum / 1e3,
      "append_s" -> appendS,
      "index_s" -> ctx.ops.slice(ingestOps, indexOps).map(_.ms).sum / 1e3,
      "stored_bytes_ratio" -> storedBytes.toDouble / inputBytes,
      "stored_bytes" -> storedBytes, "input_bytes" -> inputBytes,
      "core.output_files" -> outputFiles,
      "sources.tabix_index_loads" -> loads,
      "sources.tabix_file_lookups" -> tabixLookups,
      "sources.tabix_hit_ratio" -> (if (tabixLookups == 0) 1.0 else 1.0 - loads.toDouble / tabixLookups),
      "rows_returned" -> rowsOut.values.sum,
      "row_ids" -> rowsOut.toMap,
      "files_read" -> filesRead.toMap), latencyOps = ctx.ops.drop(indexOps).map(_.id).toSeq)
  }
}

/** SparkEntry rows, each run once with the build (the SparkEntry call,
  * which runs any eager jobs, e.g. a streaming replay) and the execution
  * (`collect()`, delivering the rows) timed apart. The collected rows are
  * written untimed for the DuckDB oracle check, so no row runs twice. */
object EntryRows extends Workload {
  val name = "entry_rows"
  val Batch = Seq("q01_pricing_summary", "q09_interval_join",
    "q183_prefix_jaccard_join", "q97_opq_adc_topk", "q219_rrf_hybrid",
    "q167_top_gram_coverage", "q149_exact_percentiles")
  val Streaming = Seq("q132_streaming_attribution", "q186_streaming_sessionize",
    "q152_streaming_percentiles")
  val rows: Seq[String] = Batch ++ Streaming

  def run(ctx: Ctx, seed: Long, seconds: Double, dir: String): Timed = {
    val tables = sys.props("perfbench.tables")
    val out = new File(s"$dir/entry_out"); out.mkdirs()
    val build = mutable.Map.empty[String, Double]
    val exec = mutable.Map.empty[String, Double]
    val rowsOut = mutable.Map.empty[String, Long]
    val written = mutable.Map.empty[String, String]
    rows.foreach { row =>
      val layer = if (Streaming.contains(row)) "streaming" else "entry"
      ctx.op(layer, row) {
        val b0 = System.nanoTime()
        val df = ctx.trace(layer, s"$row.build")(graft.SparkEntry.queries(row)(ctx.spark, tables))
        val b1 = System.nanoTime()
        val rows = ctx.trace("spark", s"$row.collect")(df.collect())
        build(row) = (b1 - b0) / 1e6; exec(row) = (System.nanoTime() - b1) / 1e6
        rowsOut(row) = rows.length.toLong
        (df.schema, rows)
      } { case (schema, rows) =>
        // untimed: the rows the oracle compares against
        val p = new File(out, row).getAbsolutePath
        ctx.spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .coalesce(1).write.mode("overwrite").parquet(p)
        written(row) = p
        None
      }
    }
    def sumMs(names: Seq[String]) = ctx.ops.filter(o => names.contains(o.name)).map(_.ms).sum / 1e3
    Timed(ctx.ops.map(_.id).toSeq, Map(
      "batch_s" -> sumMs(Batch), "streaming_s" -> sumMs(Streaming),
      "build_ms" -> build.toMap, "exec_ms" -> exec.toMap, "rows_out" -> rowsOut.toMap,
      "oracle_outputs" -> written.toMap,
      "oracle_sql" -> rows.filter(graft.SparkEntry.oracleSql.contains)
        .map(r => r -> graft.SparkEntry.oracleSql(r)).toMap))
  }
}

/** Physical-plan inspection for the traced run. */
object Plans {
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Files the scans of `df`'s last execution read. */
  def filesRead(df: DataFrame): Long =
    nodes(df.queryExecution.executedPlan).flatMap(_.metrics.get("numFiles")).map(_.value).sum
}
