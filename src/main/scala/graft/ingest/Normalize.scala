package graft.ingest

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.CheckpointShim
import graft.core.TableCatalog

/** Dim-merge + bridge-build normalization (SURVEY §2.8 E3/E7) — the heart
  * of the reference's ingest (`rna_functions.py:45-104`,
  * `snp_functions.py:205-295`), redesigned for append-safe distributed
  * execution:
  *
  *  - surrogate ids are `xxhash64` of the natural key instead of SQLite
  *    autoincrement, so ids are deterministic and computable ANYWHERE —
  *    the reference's expensive id-resolution re-join (its own "very slow
  *    because of the join" TODO, `snp_functions.py:265`) disappears:
  *    bridges hash their own keys;
  *  - new-dim-row detection stays a `left_anti` join against the existing
  *    dim, but only |new natural keys| rows shuffle (projected key
  *    columns, not the staged measurements);
  *  - re-ingesting a sample is idempotent on the dim by construction and
  *    dedup'd on the bridge (composite-pk semantics, `readme.md:47-49`);
  *  - one ingest call reads its inputs once: [[normalizeJunctions]] and
  *    [[normalizeVariants]] materialize the staged batch a single time
  *    (one `localCheckpoint` execution, so each VCF is read, parsed,
  *    CSQ-exploded and planned once, not once per table) and write their
  *    2 or 3 tables from that copy concurrently, one thread per table;
  *    the copy is released before the call returns, also when it fails.
  *
  * Lineage trade-off: `localCheckpoint` truncates lineage, so the copy
  * lives only in executor blocks. On a cluster, an executor lost during
  * the writes fails the ingest instead of recomputing the lost blocks
  * from the source files. Re-running an append is safe: every append is
  * an anti-join against what is stored, so the tables a failed call did
  * write are not duplicated by the next one.
  */
object Normalize {

  /** Deterministic surrogate id for a natural key. */
  def surrogateId(df: DataFrame, keyCols: Seq[String],
      idCol: String): DataFrame =
    df.withColumn(idCol, xxhash64(keyCols.map(col): _*))

  /** Merge the distinct natural keys of `staged` into dimension `table`
    * (create or append-new-only), returning the dim as stored.
    * Dim rows carry `idCol` = xxhash64(natural key). `carryCols` are
    * non-key attributes stored on the dim (e.g. the variant rsID),
    * reduced deterministically per key via min. */
  def mergeDim(catalog: TableCatalog, staged: DataFrame, table: String,
      keyCols: Seq[String], idCol: String,
      partitionCols: Seq[String] = Nil,
      carryCols: Seq[String] = Nil): DataFrame = {
    val perKey =
      if (carryCols.isEmpty)
        staged.select(keyCols.map(col): _*).dropDuplicates(keyCols)
      else staged.groupBy(keyCols.map(col): _*)
        .agg(min(col(carryCols.head)).as(carryCols.head),
          carryCols.tail.map(c => min(col(c)).as(c)): _*)
    val keys = surrogateId(perKey, keyCols, idCol)
    if (!catalog.exists(table)) {
      catalog.write(keys, table, partitionCols, SaveMode.Overwrite)
    } else {
      val existing = catalog.read(table)
      val fresh = keys.join(existing.select(keyCols.map(col): _*),
        keyCols, "left_anti")
      catalog.append(fresh, table, partitionCols)
    }
    catalog.read(table)
  }

  /** Build the per-sample bridge rows for a staged batch: measurements
    * keyed by (sample, surrogate id). No join back to the dim — the id is
    * recomputed by hash. Bridge appends are dedup'd on the composite key
    * so re-ingest is idempotent. */
  def buildBridge(catalog: TableCatalog, staged: DataFrame, table: String,
      keyCols: Seq[String], idCol: String, sampleCol: String,
      measureCols: Seq[String]): DataFrame = {
    val bridge = surrogateId(staged, keyCols, idCol)
      .select((sampleCol +: idCol +: measureCols).map(col): _*)
      .dropDuplicates(Seq(sampleCol, idCol))
    if (!catalog.exists(table)) {
      catalog.write(bridge, table, Nil, SaveMode.Overwrite)
    } else {
      val existing = catalog.read(table).select(col(sampleCol), col(idCol))
      catalog.append(bridge.join(existing, Seq(sampleCol, idCol), "left_anti"),
        table)
    }
    catalog.read(table)
  }

  /** E2+E3 end to end: staged junction rows → `junctions`/`all_junctions`
    * dim (partitioned by chrom) + `sample_to_junction` bridge. */
  def normalizeJunctions(catalog: TableCatalog, staged: DataFrame,
      filtered: Boolean): (DataFrame, DataFrame) = {
    val key = Seq("chrom", "start", "end", "strand")
    val Seq(dim, bridge) = writeOnce(staged)(
      mergeDim(catalog, _, catalog.junctionTable(filtered), key, "id",
        partitionCols = Seq("chrom")),
      buildBridge(catalog, _, catalog.junctionBridge(filtered), key,
        "junction", "samplename", Seq("uniq_map", "multi_map")))
    (dim, bridge)
  }

  /** E7 for variants: dim on (chrom,pos,ref,alt) + sample_variants bridge
    * + variant_impacts (impact rows keyed by recomputed variant_id). */
  def normalizeVariants(catalog: TableCatalog, staged: DataFrame,
      impactCols: Seq[String], formatCols: Seq[String],
      rna: Boolean, filtered: Boolean): (DataFrame, DataFrame, DataFrame) = {
    val key = Seq("chrom", "pos", "ref", "alt")
    val Seq(dim, bridge, impacts) = writeOnce(staged)(
      // rsID (VCF col 3) rides along on the dim, min-reduced per key
      mergeDim(catalog, _, catalog.variantTable("variants", rna, filtered),
        key, "variant_id", partitionCols = Seq("chrom"), carryCols = Seq("id")),
      s => buildBridge(catalog, s.dropDuplicates(Seq("samplename") ++ key),
        catalog.variantTable("sample_variants", rna, filtered), key,
        "variant_id", "samplename", Seq("qual", "filter") ++ formatCols),
      mergeImpacts(catalog, _,
        catalog.variantTable("variant_impacts", rna, filtered), key,
        impactCols))
    (dim, bridge, impacts)
  }

  /** Impacts are a per-VARIANT property: keep one representative sample's
    * impact rows per variant (the reference's first-file-introduces-the-
    * variant behavior, order-independent here via min(samplename)), and
    * append only variants `table` does not hold yet. A window min, not an
    * aggregate joined back: one pass over the staged rows, one shuffle. */
  private def mergeImpacts(catalog: TableCatalog, staged: DataFrame,
      table: String, keyCols: Seq[String],
      impactCols: Seq[String]): DataFrame = {
    val impacts = surrogateId(staged, keyCols, "variant_id")
      .withColumn("__rep", min(col("samplename"))
        .over(Window.partitionBy("variant_id")))
      .filter(col("samplename") === col("__rep"))
      .select(("variant_id" +: impactCols).map(col): _*)
    if (!catalog.exists(table))
      catalog.write(impacts, table, Nil, SaveMode.Overwrite)
    else {
      val known = catalog.read(table).select("variant_id").distinct()
      catalog.append(impacts.join(known, Seq("variant_id"), "left_anti"), table)
    }
    catalog.read(table)
  }

  /** Materialize `staged` once and run every write over that one copy,
    * each from its own thread, so the tables' jobs run side by side.
    * Threads inherit the caller's Spark local properties (job group,
    * job tags, scheduler pool). All are joined before this returns; the
    * first failure is rethrown with the later ones suppressed on it, and
    * the copy's blocks are released either way. */
  private def writeOnce(staged: DataFrame)(
      writes: (DataFrame => DataFrame)*): Seq[DataFrame] = {
    val (once, rdd) = CheckpointShim.materialize(staged)
    try {
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val results = new Array[DataFrame](writes.size)
      val threads = writes.zipWithIndex.map { case (write, i) =>
        val t = new Thread(() =>
          try results(i) = write(once)
          catch { case e: Throwable => failures.add(e) },
          s"normalize-write-$i")
        t.start()
        t
      }
      joinAll(threads)
      Option(failures.poll()).foreach { first =>
        failures.forEach(first.addSuppressed(_))
        throw first
      }
      results.toSeq
    } finally rdd.unpersist(blocking = true)
  }

  /** Join every thread, even when the caller is interrupted meanwhile: a
    * write left running would outlive the materialization it reads. The
    * interrupt is restored afterwards. */
  private def joinAll(threads: Seq[Thread]): Unit = {
    var interrupted = false
    threads.foreach { t =>
      while (t.isAlive)
        try t.join() catch { case _: InterruptedException => interrupted = true }
    }
    if (interrupted) Thread.currentThread().interrupt()
  }
}
