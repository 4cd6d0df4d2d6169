package graft.ingest

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
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
  *    dedup'd on the bridge (composite-pk semantics, `readme.md:47-49`).
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
    val dim = mergeDim(catalog, staged, catalog.junctionTable(filtered),
      key, "id", partitionCols = Seq("chrom"))
    val bridge = buildBridge(catalog, staged, catalog.junctionBridge(filtered),
      key, "junction", "samplename", Seq("uniq_map", "multi_map"))
    (dim, bridge)
  }

  /** E7 for variants: dim on (chrom,pos,ref,alt) + sample_variants bridge
    * + variant_impacts (impact rows keyed by recomputed variant_id). */
  def normalizeVariants(catalog: TableCatalog, staged: DataFrame,
      impactCols: Seq[String], formatCols: Seq[String],
      rna: Boolean, filtered: Boolean): (DataFrame, DataFrame, DataFrame) = {
    val key = Seq("chrom", "pos", "ref", "alt")
    val dimTable = catalog.variantTable("variants", rna, filtered)
    val svTable = catalog.variantTable("sample_variants", rna, filtered)
    val viTable = catalog.variantTable("variant_impacts", rna, filtered)

    // rsID (VCF col 3) rides along on the dim, min-reduced per key
    val dim = mergeDim(catalog, staged, dimTable, key, "variant_id",
      partitionCols = Seq("chrom"), carryCols = Seq("id"))

    val bridge = buildBridge(catalog,
      staged.dropDuplicates(Seq("samplename") ++ key),
      svTable, key, "variant_id", "samplename",
      Seq("qual", "filter") ++ formatCols)

    // impacts are a per-VARIANT property: keep one representative sample's
    // impact rows per variant (the reference's first-file-introduces-the-
    // variant behavior, order-independent here via min(samplename)). A
    // window min, not an aggregate joined back: one scan of the staged
    // VCFs and one shuffle.
    val impacts = surrogateId(staged, key, "variant_id")
      .withColumn("__rep", min(col("samplename"))
        .over(Window.partitionBy("variant_id")))
      .filter(col("samplename") === col("__rep"))
      .select(("variant_id" +: impactCols).map(col): _*)
    if (!catalog.exists(viTable))
      catalog.write(impacts, viTable, Nil, SaveMode.Overwrite)
    else {
      val known = catalog.read(viTable).select("variant_id").distinct()
      catalog.append(impacts.join(known, Seq("variant_id"), "left_anti"), viTable)
    }
    (dim, bridge, catalog.read(viTable))
  }
}
