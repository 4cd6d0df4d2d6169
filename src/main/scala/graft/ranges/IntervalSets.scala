package graft.ranges

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Interval-SET operators (the bedtools-merge / genomecov family) over
  * closed integer intervals, as single window passes per partition key.
  *
  * Both operators shuffle once (hash by key) and then run an ordered
  * window within each key — the same shape as sessionization. Window
  * parallelism equals the number of distinct keys (chromosomes); for a
  * few-key corpus at extreme scale use [[coverageDepthBucketed]].
  *
  * Coordinates are cast to LONG at the edge (so arithmetic like
  * `end + 1` cannot wrap an IntegerType column at Int.MaxValue), and an
  * inverted interval (start > end) raises at evaluation time — the
  * check rides inside a load-bearing expression, so the optimizer
  * cannot prune it, and a silent wrong merge/coverage becomes a
  * diagnosable failure.
  *
  * Reference semantics: clinpy's junction/region tables treat intervals
  * as closed on both ends (see ranges/Intervals.scala); merge joins
  * intervals that OVERLAP in closed coordinates (`start <= running max
  * end + gap`), with `gap = 1` giving bedtools' book-ended merging.
  */
object IntervalSets {

  /** End coordinate as long, validated against start — evaluating it
    * throws on an inverted interval instead of sweeping garbage. Used
    * wherever the end enters arithmetic, so the check cannot be pruned. */
  private def checkedEnd(startCol: String, endCol: String): Column =
    // nulls get their own branch: a null coordinate would otherwise
    // fall through the (null) comparison into the inverted-interval
    // error with a misleading "null > null" diagnosis
    when(col(startCol).isNull || col(endCol).isNull,
      raise_error(lit(s"null interval coordinate in ($startCol, $endCol)"))
        .cast("long"))
      .when(col(endCol) >= col(startCol), col(endCol).cast("long"))
      .otherwise(raise_error(concat(
        lit(s"inverted interval: $startCol > $endCol: "),
        col(startCol).cast("string"), lit(" > "),
        col(endCol).cast("string"))).cast("long"))

  /** Union of overlapping closed intervals per key: each output row is
    * one maximal merged interval with its member count. `gap` extends
    * merging across separations of up to that many positions
    * (gap = 1 merges book-ended intervals like bedtools merge).
    * `m_start`/`m_end` are LONG regardless of the input column type. */
  def mergeOverlapping(df: DataFrame, keys: Seq[String], startCol: String,
      endCol: String, gap: Long = 0L): DataFrame = {
    require(gap >= 0, "gap must be >= 0")
    val s = col(startCol).cast("long")
    val withE = df.withColumn("__s", s).withColumn("__e",
      checkedEnd(startCol, endCol))
    val part = Window.partitionBy(keys.map(col): _*)
    val ord = part.orderBy(col("__s").asc, col("__e").asc)
    // new island iff this start clears every earlier end (running max);
    // the isnew running sum is the island id — same device as the
    // duplicate-span merge (Dedup.duplicateSpans). The two windows
    // share one spec: they plan as two Window operators, but the
    // second's required (partition, order) is satisfied by the first's
    // output ordering, so no re-sort happens in between and duplicate
    // (s, e) rows keep ONE tie order through both passes — the
    // consistency the duplicate-heavy spec case pins. An engine
    // sorting each pass independently must add a unique tiebreaker
    // (see the q94 oracle SQL). `__s - gap` (not `prevMax + gap`)
    // keeps ends near Long.MaxValue from wrapping.
    val prevMax = max(col("__e")).over(
      ord.rowsBetween(Window.unboundedPreceding, -1))
    val isnew = when(prevMax.isNull || (col("__s") - lit(gap)) > prevMax,
      1L).otherwise(0L)
    withE.withColumn("__new", isnew)
      .withColumn("__island", sum(col("__new")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy((keys.map(col) :+ col("__island")): _*)
      .agg(min(col("__s")).as("m_start"), max(col("__e")).as("m_end"),
        count(lit(1)).as("n_merged"))
      .drop("__island")
  }

  /** Internal COMPLEMENT of an interval set per key (bedtools
    * complement restricted to the covered span): the maximal gaps
    * strictly between the merged islands — one closed [g_start, g_end]
    * row per gap, nothing emitted before the first island or after the
    * last (the unbounded flanks need genome bounds the data doesn't
    * carry; pass them as intervals if you want flank gaps). Closed
    * coordinates: a gap exists iff the next island starts ≥ 2 past the
    * previous island's end. Cost: [[mergeOverlapping]] + ONE lag
    * window over the MERGED set — island-count-sized, not
    * input-sized. */
  def complement(df: DataFrame, keys: Seq[String], startCol: String,
      endCol: String): DataFrame = {
    val ord = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("m_start").asc)
    mergeOverlapping(df, keys, startCol, endCol)
      .withColumn("__pe", lag(col("m_end"), 1).over(ord))
      .filter(col("__pe").isNotNull && col("m_start") > col("__pe") + 1L)
      .select((keys.map(col) :+ (col("__pe") + 1L).as("g_start") :+
        (col("m_start") - 1L).as("g_end")): _*)
  }

  /** The +1/−1 endpoint event stream: one +1 at start, one −1 just past
    * the (validated) end, both in LONG coordinates. */
  private def endpointEvents(df: DataFrame, keys: Seq[String],
      startCol: String, endCol: String): DataFrame = {
    val kc = keys.map(col)
    df.select((kc :+ explode(array(
      struct(col(startCol).cast("long").as("pos"), lit(1L).as("d")),
      struct((checkedEnd(startCol, endCol) + 1).as("pos"),
        lit(-1L).as("d")))).as("__e")): _*)
      .select((kc :+ col("__e.pos").as("pos") :+ col("__e.d").as("d")): _*)
  }

  /** Per-position coverage depth as maximal constant-depth segments —
    * the event sweep (+1 at start, -1 past end), NOT a per-base
    * explode: work is proportional to the number of interval
    * ENDPOINTS, never to the genome length. Emits every segment
    * between the first and last endpoint of each key, including
    * interior zero-depth gaps (the bedtools `genomecov -bga` shape
    * within the covered span). */
  def coverageDepth(df: DataFrame, keys: Seq[String], startCol: String,
      endCol: String): DataFrame = {
    val kc = keys.map(col)
    // combine same-position deltas first: positions become unique per
    // key, so the running sum and lead below are order-deterministic.
    // Zero-net positions (an end meeting a start) change nothing and
    // would split a constant-depth run — drop them so segments are
    // MAXIMAL. A key's first position can never net to zero (with
    // start <= end enforced, an end event at p implies a start before
    // p), so no key disappears.
    val deltas = endpointEvents(df, keys, startCol, endCol)
      .groupBy((kc :+ col("pos")): _*)
      .agg(sum(col("d")).as("delta"))
      .filter(col("delta") =!= 0)
    val ord = Window.partitionBy(kc: _*).orderBy(col("pos").asc)
    deltas
      .withColumn("depth", sum(col("delta")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__next", lead(col("pos"), 1).over(ord))
      .filter(col("__next").isNotNull) // past the last end, depth is 0
      .select((kc :+ col("pos").as("seg_start") :+
        (col("__next") - 1).as("seg_end") :+ col("depth")): _*)
  }

  /** Interval-set subtraction (bedtools subtract, set form): the
    * maximal regions covered by at least one `a` interval and by NO
    * `b` interval, per key. Both sides join one +1/−1 event stream
    * (tagged by side), one sweep carries TWO running depths, and kept
    * segments (aDepth > 0, bDepth = 0) re-merge across their shared
    * boundaries with the gap-1 island device — so the whole operator
    * is the same one-key-shuffle window shape as [[coverageDepth]]
    * plus a segment-count-sized merge. `n_merged` reports how many
    * sweep segments each remnant region absorbed. */
  def subtract(a: DataFrame, b: DataFrame, keys: Seq[String],
      aStart: String, aEnd: String, bStart: String,
      bEnd: String): DataFrame = {
    val kc = keys.map(col)
    val events = endpointEvents(a, keys, aStart, aEnd)
      .select((kc :+ col("pos") :+ col("d").as("da") :+ lit(0L).as("db")): _*)
      .unionByName(endpointEvents(b, keys, bStart, bEnd)
        .select((kc :+ col("pos") :+ lit(0L).as("da") :+
          col("d").as("db")): _*))
    val deltas = events.groupBy((kc :+ col("pos")): _*)
      .agg(sum(col("da")).as("dA"), sum(col("dB")).as("dB"))
    val ord = Window.partitionBy(kc: _*).orderBy(col("pos").asc)
    val segs = deltas
      .withColumn("__a", sum(col("dA")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__b", sum(col("dB")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__next", lead(col("pos"), 1).over(ord))
      .filter(col("__next").isNotNull &&
        col("__a") > 0 && col("__b") === 0)
      .select((kc :+ col("pos").as("seg_start") :+
        (col("__next") - 1).as("seg_end")): _*)
    // kept segments are disjoint; gap=1 welds the ones that share a
    // boundary (a depth change inside a kept run) into maximal regions
    mergeOverlapping(segs, keys, "seg_start", "seg_end", gap = 1L)
  }

  /** Interval-set similarity (bedtools jaccard): per key, the ratio of
    * positions covered by BOTH sets to positions covered by EITHER,
    * plus the raw base counts and the number of maximal intersection
    * intervals — the standard "how much do these two annotation tracks
    * agree" statistic. Self-overlap within a side is harmless: depths
    * count multiplicity but the predicates only test `> 0`, so neither
    * side needs a pre-merge pass.
    *
    * One [[subtract]]-shaped sweep: both sides' ±1 endpoint events
    * union (tagged), two running depths walk each key once, and every
    * inter-event segment adds its length to the intersection
    * (both depths > 0) and/or union (either > 0) sums. A maximal
    * intersection interval starts exactly where a both-covered segment
    * follows a not-both segment (segments are contiguous between
    * events), so `n_intersections` is a lag test — no second pass, no
    * island merge. Work ∝ interval endpoints; one key shuffle; the
    * roll-up is |keys|-sized. `jaccard` is one IEEE division of the
    * two exact long sums. */
  def jaccard(a: DataFrame, b: DataFrame, keys: Seq[String],
      aStart: String, aEnd: String, bStart: String,
      bEnd: String): DataFrame = {
    val kc = keys.map(col)
    val events = endpointEvents(a, keys, aStart, aEnd)
      .select((kc :+ col("pos") :+ col("d").as("da") :+ lit(0L).as("db")): _*)
      .unionByName(endpointEvents(b, keys, bStart, bEnd)
        .select((kc :+ col("pos") :+ lit(0L).as("da") :+
          col("d").as("db")): _*))
    val deltas = events.groupBy((kc :+ col("pos")): _*)
      .agg(sum(col("da")).as("dA"), sum(col("dB")).as("dB"))
    val ord = Window.partitionBy(kc: _*).orderBy(col("pos").asc)
    val segs = deltas
      .withColumn("__a", sum(col("dA")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__bd", sum(col("dB")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__next", lead(col("pos"), 1).over(ord))
      .withColumn("__both", col("__a") > 0 && col("__bd") > 0)
      // a fresh intersection interval: both-covered here, not just
      // before (the lag shares ord's sort — no extra exchange)
      .withColumn("__newint", when(col("__both") &&
        !coalesce(lag(col("__both"), 1).over(ord), lit(false)), 1L)
        .otherwise(0L))
      .filter(col("__next").isNotNull)
      .withColumn("__len", col("__next") - col("pos"))
    segs.groupBy(kc: _*)
      .agg(
        sum(when(col("__both"), col("__len")).otherwise(0L))
          .as("intersection_bp"),
        sum(when(col("__a") > 0 || col("__bd") > 0, col("__len"))
          .otherwise(0L)).as("union_bp"),
        sum(col("__newint")).as("n_intersections"))
      .withColumn("jaccard",
        col("intersection_bp").cast("double") /
          col("union_bp").cast("double"))
      .select((kc :+ col("intersection_bp") :+ col("union_bp") :+
        col("jaccard") :+ col("n_intersections")): _*)
  }

  /** Derive a `bucketWidth` for the bucketed operators from the data,
    * with one aggregate scan over the two coordinate columns (callers
    * hand these operators plain DataFrames that rarely carry CBO column
    * stats). The width targets
    * 32768 rows per (key, bucket) window in the worst
    * (single-key) case: buckets = max(256, rows / target) over the
    * combined coordinate domain, so
    *  - small inputs still spread across ≥256 windows (task-sized, and
    *    cheap — empty buckets cost nothing, only OCCUPIED buckets get
    *    summary rows);
    *  - at billions of rows the per-window sort stays bounded at
    *    ~32768 rows while the bucket-summary table —
    *    the single-task stitch window — stays rows/target, i.e. 4-5
    *    orders of magnitude smaller than the input.
    * Width only affects PERFORMANCE, never results (the bucketed specs
    * prove ≡ at widths from 1 to 10000). Empty input derives width 1. */
  def deriveBucketWidth(df: DataFrame, startCol: String,
      endCol: String): Long = {
    val r = df.agg(min(col(startCol).cast("long")).as("lo"),
      max(col(endCol).cast("long")).as("hi"),
      count(lit(1)).as("n")).head()
    if (r.isNullAt(0) || r.isNullAt(1)) 1L
    else {
      val domain = math.max(1L, r.getLong(1) - r.getLong(0) + 1)
      val nBuckets = math.max(256L, r.getLong(2) / 32768L)
      math.max(1L, domain / nBuckets)
    }
  }

  /** [[mergeOverlappingBucketed]] with [[deriveBucketWidth]]'s width —
    * the width-free form for callers who don't know the coordinate
    * domain. Costs one extra aggregate scan of the two coordinate
    * columns before the operator runs. */
  def mergeOverlappingBucketed(df: DataFrame, keys: Seq[String],
      startCol: String, endCol: String): DataFrame =
    mergeOverlappingBucketed(df, keys, startCol, endCol,
      deriveBucketWidth(df, startCol, endCol))

  /** [[mergeOverlapping]] for FEW keys at extreme scale — the same
    * bucketed two-pass escape hatch as [[coverageDepthBucketed]].
    * [[mergeOverlapping]]'s window parallelism equals the key count
    * (~25 chromosomes caps a 1000-executor cluster at 25 tasks); here
    * intervals bucket by START position, the island device runs per
    * (key, bucket), and a bucket-summary pass welds islands that cross
    * bucket boundaries:
    *
    *  1. local pass — the [[mergeOverlapping]] window per (key,
    *     bucket) yields LOCAL islands (min start, max end, count);
    *  2. bucket summary — per occupied bucket, the max island end;
    *     a window over THAT table (one row per occupied bucket) gives
    *     each bucket's entering running max `enterMax`;
    *  3. weld — a local island is globally ROOTED iff its start clears
    *     `enterMax` by more than `gap`. (Locally each island start
    *     already clears every earlier local end, so the global isnew
    *     test reduces to the single `enterMax` comparison.) Welded
    *     islands always form a PREFIX of their bucket — an island
    *     starting past `enterMax + gap` forces every later start in
    *     the bucket past it too — and a weld admits no rooted island
    *     between the `enterMax`-achiever and itself (that root would
    *     need a start both > enterMax + gap and < the welded start,
    *     which bucketing by start forbids). So the global island id is
    *     `rooted islands in earlier buckets + rooted at-or-before me
    *     in mine`: one tiny prefix sum over the bucket summary plus a
    *     per-(key, bucket) running count, no per-key window anywhere.
    *
    * Output contract identical to [[mergeOverlapping]] in VALUES
    * (m_start, m_end LONG, n_merged counts ORIGINAL intervals) — but
    * not in execution: unlike the lazy single-window form, this
    * operator is EAGER ([[org.apache.spark.sql.graftshim.CheckpointShim]]
    * materializes the island and root tables with Spark jobs at call
    * time, because each feeds two differently-pruned consumers), and
    * the returned DataFrame is backed by localCheckpointed RDDs that
    * CANNOT be recomputed after executor loss — on failure, re-run the
    * operator from its source (the [[graft.ext.Dedup.connectedComponents]]
    * durability contract). The trade is a LOSS until per-key intervals
    * exceed one task — the island rows take two extra hash shuffles
    * ((key, bucket, island) group and the final (key, gid) group) that
    * the single-window form never pays; use it when keys are few and
    * interval counts are billions (ScaleProbe, BENCH.md round 6: at
    * 10M single-key intervals the simple form's longest task is 87% of
    * its wall-clock — one core no matter the cluster — vs maxTask 5×
    * smaller and falling for the bucketed form). */
  private[graft] def mergeOverlappingBucketed(df: DataFrame,
      keys: Seq[String], startCol: String, endCol: String,
      bucketWidth: Long, gap: Long = 0L): DataFrame = {
    require(bucketWidth >= 1, "bucketWidth must be >= 1")
    require(gap >= 0, "gap must be >= 0")
    val kc = keys.map(col)
    val withE = df.withColumn("__s", col(startCol).cast("long"))
      .withColumn("__e", checkedEnd(startCol, endCol))
      .withColumn("__b", floor(col("__s") / bucketWidth))
    // 1. local islands, the mergeOverlapping device per (key, bucket)
    val wOrd = Window.partitionBy((kc :+ col("__b")): _*)
      .orderBy(col("__s").asc, col("__e").asc)
    val prevMax = max(col("__e")).over(
      wOrd.rowsBetween(Window.unboundedPreceding, -1))
    val isnewL = when(prevMax.isNull || (col("__s") - lit(gap)) > prevMax,
      1L).otherwise(0L)
    // the island table feeds two consumers (bucket summary + weld
    // join); materialize it ONCE in Tungsten format — column pruning
    // gives each consumer a differently-shaped subtree, so exchange
    // reuse can never dedup them and the full input pipeline would run
    // twice. Islands are the POST-collapse rows, far smaller than the
    // input; this also makes the operator eager, like
    // connectedComponents (the CC materialization precedent).
    val (locals, _) = org.apache.spark.sql.graftshim.CheckpointShim
      .materialize(withE.withColumn("__ln", isnewL)
        .withColumn("__lid", sum(col("__ln")).over(
          wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy((kc :+ col("__b") :+ col("__lid")): _*)
        .agg(min(col("__s")).as("l_start"), max(col("__e")).as("l_end"),
          count(lit(1)).as("l_n")))
    // 2. bucket summary: entering running-max end per occupied bucket.
    // The summary RE-PARTITIONS back to (key, bucket) after its per-key
    // stitch window: its partitioning after the window is (key), which
    // does not co-partition with the island table's (key, bucket) —
    // without the (tiny) summary-side exchange, the join would
    // re-exchange the BIG side instead.
    val bOrd = Window.partitionBy(kc: _*).orderBy(col("__b").asc)
    val summary = locals.groupBy((kc :+ col("__b")): _*)
      .agg(max(col("l_end")).as("__bmax"))
      .withColumn("__enter", max(col("__bmax")).over(
        bOrd.rowsBetween(Window.unboundedPreceding, -1)))
      .select((kc :+ col("__b") :+ col("__enter")): _*)
      .repartition((kc :+ col("__b")): _*)
    // 3. root test + in-bucket rooted rank (island starts are strictly
    // increasing within a bucket, so the order is deterministic); no
    // broadcast hint for the same reason as coverageDepthBucketed —
    // AQE may still broadcast a small summary on its own
    val lOrd = Window.partitionBy((kc :+ col("__b")): _*)
      .orderBy(col("l_start").asc)
    // rooted likewise feeds two consumers (per-bucket root counts +
    // the final gid join) — but unlike the ISLAND table, recomputing
    // it costs one join + one window over the already-materialized
    // locals (island-sized, far below the input), while materializing
    // it costs a full driver-sequential job barrier. r19 A/B at sf0.1,
    // 32 cores: q101 loses ~0.3-0.5 s per invocation to the barrier;
    // lazy recompute is the win at every scale where islands ≪ input
    val rooted = locals.join(summary, keys :+ "__b")
      .withColumn("__root", when(col("__enter").isNull ||
        (col("l_start") - lit(gap)) > col("__enter"), 1L).otherwise(0L))
      .withColumn("__rIn", sum(col("__root")).over(
        lOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val bRoots = rooted.groupBy((kc :+ col("__b")): _*)
      .agg(sum(col("__root")).as("__nr"))
      .withColumn("__rBefore", coalesce(sum(col("__nr")).over(
        bOrd.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select((kc :+ col("__b") :+ col("__rBefore")): _*)
      .repartition((kc :+ col("__b")): _*)
    // welded prefix islands carry __rIn = 0, so their gid lands on the
    // most recent rooted island — exactly the weld target
    rooted.join(bRoots, keys :+ "__b")
      .withColumn("__gid", col("__rBefore") + col("__rIn"))
      .groupBy((kc :+ col("__gid")): _*)
      .agg(min(col("l_start")).as("m_start"), max(col("l_end")).as("m_end"),
        sum(col("l_n")).as("n_merged"))
      .drop("__gid")
  }

  /** [[subtractBucketed]] with a width derived like
    * [[deriveBucketWidth]]'s, over BOTH sides' coordinates (b's events
    * land in buckets too, and may extend past a's domain) — but folded
    * INTO the delta-collapse materialization (r19): the old form paid
    * a separate aggregate scan over both full sources just for
    * (min, max, count) before the pipeline scanned them again; here
    * the one materializing pass also folds min/max event position and
    * the interval count (the +1 events), so the sources are read
    * exactly once. The statistics differ immaterially (max end+1
    * instead of max end, i.e. domain+1) and width only affects
    * performance, never results (the bucketed specs prove ≡ at widths
    * 1..10000). The bucket column is assigned ABOVE the checkpoint, so
    * the two consumers re-cluster the collapsed table — far smaller
    * than the raw sources the removed scan read. */
  def subtractBucketed(a: DataFrame, b: DataFrame, keys: Seq[String],
      aStart: String, aEnd: String, bStart: String,
      bEnd: String): DataFrame = {
    val kc = keys.map(col)
    val events = subtractEvents(a, b, keys, aStart, aEnd, bStart, bEnd)
    // opens at a position = the +1 components only: their grand total
    // is exactly the a∪b interval-row count deriveBucketWidth used
    val collapsed0 = events.groupBy((kc :+ col("pos")): _*)
      .agg(sum(col("da")).as("dA"), sum(col("db")).as("dB"),
        sum(greatest(col("da"), lit(0L)) +
          greatest(col("db"), lit(0L))).as("__opens"))
    val (collapsed, _, bounds, nIntervals) =
      org.apache.spark.sql.graftshim.CheckpointShim
        .materializeWithLongStats(collapsed0, "pos", "__opens")
    val bucketWidth = bounds match {
      case None => 1L
      case Some((lo, hi)) =>
        val domain = math.max(1L, hi - lo + 1)
        val nBuckets = math.max(256L, nIntervals / 32768L)
        math.max(1L, domain / nBuckets)
    }
    subtractDeltaTail(
      collapsed.withColumn("__b", floor(col("pos") / bucketWidth))
        .drop("__opens"),
      keys, bucketWidth)
  }

  /** The a/b-tagged endpoint event stream shared by both
    * [[subtractBucketed]] overloads. */
  private def subtractEvents(a: DataFrame, b: DataFrame,
      keys: Seq[String], aStart: String, aEnd: String, bStart: String,
      bEnd: String): DataFrame = {
    val kc = keys.map(col)
    endpointEvents(a, keys, aStart, aEnd)
      .select((kc :+ col("pos") :+ col("d").as("da") :+ lit(0L).as("db")): _*)
      .unionByName(endpointEvents(b, keys, bStart, bEnd)
        .select((kc :+ col("pos") :+ lit(0L).as("da") :+
          col("d").as("db")): _*))
  }

  /** [[subtract]] for FEW keys at extreme scale: the
    * [[coverageDepthBucketed]] two-pass sweep carrying BOTH running
    * depths (the bucket summary accumulates per-side delta sums, so
    * each bucket's window enters with its (aDepth, bDepth) offsets),
    * then the remnant weld runs through [[mergeOverlappingBucketed]] —
    * no stage anywhere runs a per-key window. Segment boundaries are
    * identical to [[subtract]]'s (bridges span whole inter-bucket
    * runs, adding no extra cut points), so `n_merged` matches the
    * simple form exactly, not just the merged extents.
    *
    * Same execution caveats as [[mergeOverlappingBucketed]]: EAGER
    * (the collapsed delta table and the weld's island tables
    * materialize via CheckpointShim at call time) and the result is
    * backed by localCheckpointed RDDs that cannot be recomputed after
    * executor loss — re-run from source on failure. */
  private[graft] def subtractBucketed(a: DataFrame, b: DataFrame,
      keys: Seq[String], aStart: String, aEnd: String, bStart: String,
      bEnd: String, bucketWidth: Long): DataFrame = {
    require(bucketWidth >= 1, "bucketWidth must be >= 1")
    val kc = keys.map(col)
    val events = subtractEvents(a, b, keys, aStart, aEnd, bStart, bEnd)
    // pin the delta table to (key, bucket) partitioning and MATERIALIZE
    // it (Tungsten-format localCheckpoint): both consumers (the bucket
    // summary and the per-bucket window join) then read the collapsed
    // deltas with no further exchange of the big side, instead of each
    // recomputing the event explode + aggregation from scratch
    val (deltas, _) = org.apache.spark.sql.graftshim.CheckpointShim
      .materialize(events.groupBy((kc :+ col("pos")): _*)
        .agg(sum(col("da")).as("dA"), sum(col("db")).as("dB"))
        .withColumn("__b", floor(col("pos") / bucketWidth))
        .repartition((kc :+ col("__b")): _*))
    subtractDeltaTail(deltas, keys, bucketWidth)
  }

  /** The shared sweep-and-weld tail of both [[subtractBucketed]]
    * overloads, over a MATERIALIZED collapsed delta table carrying
    * (keys, pos, dA, dB, __b). */
  private def subtractDeltaTail(deltas: DataFrame, keys: Seq[String],
      bucketWidth: Long): DataFrame = {
    val kc = keys.map(col)
    val bOrd = Window.partitionBy(kc: _*).orderBy(col("__b").asc)
    val buckets = deltas.groupBy((kc :+ col("__b")): _*)
      .agg(sum(col("dA")).as("__sa"), sum(col("dB")).as("__sb"),
        min(col("pos")).as("__first"), max(col("pos")).as("__last"))
      .withColumn("__ea", coalesce(sum(col("__sa")).over(
        bOrd.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__eb", coalesce(sum(col("__sb")).over(
        bOrd.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__nextFirst", lead(col("__first"), 1).over(bOrd))
    // bridge segments: from a bucket's last event to the next occupied
    // bucket's first — ONE segment, exactly as the unbucketed sweep
    // emits it, with the depths that exit the bucket
    val bridges = buckets.filter(col("__nextFirst").isNotNull &&
        (col("__ea") + col("__sa")) > 0 && (col("__eb") + col("__sb")) === 0)
      .select((kc :+ col("__last").as("seg_start") :+
        (col("__nextFirst") - 1).as("seg_end")): _*)
    val wOrd = Window.partitionBy((kc :+ col("__b")): _*)
      .orderBy(col("pos").asc)
    val within = deltas
      .join(buckets.select((kc :+ col("__b") :+ col("__ea") :+
        col("__eb")): _*)
        .repartition((kc :+ col("__b")): _*), keys :+ "__b")
      .withColumn("__a", col("__ea") + sum(col("dA")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__bd", col("__eb") + sum(col("dB")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__next", lead(col("pos"), 1).over(wOrd))
      .filter(col("__next").isNotNull &&
        col("__a") > 0 && col("__bd") === 0)
      .select((kc :+ col("pos").as("seg_start") :+
        (col("__next") - 1).as("seg_end")): _*)
    mergeOverlappingBucketed(within.unionByName(bridges), keys,
      "seg_start", "seg_end", bucketWidth, gap = 1L)
  }

  /** [[coverageDepthBucketed]] with [[deriveBucketWidth]]'s width. */
  def coverageDepthBucketed(df: DataFrame, keys: Seq[String],
      startCol: String, endCol: String): DataFrame =
    coverageDepthBucketed(df, keys, startCol, endCol,
      deriveBucketWidth(df, startCol, endCol))

  /** [[coverageDepth]] for FEW keys at extreme scale — the two-pass
    * bucketed sweep. [[coverageDepth]]'s window parallelism equals the
    * key count (chromosomes), which caps a 1000-executor cluster at
    * ~25 tasks; here positions bucket into `bucketWidth`-sized ranges
    * so the heavy window runs per (key, bucket) — parallelism = keys ×
    * occupied buckets — and a SECOND, bucket-count-sized pass stitches
    * the buckets:
    *
    *  1. per-(key, bucket) delta sums + first/last event positions
    *     (one row per OCCUPIED bucket);
    *  2. a window over THAT table yields each bucket's entering depth
    *     (prefix sum of earlier buckets) and the cross-boundary
    *     "bridge" segment from its last event to the next occupied
    *     bucket's first event;
    *  3. the per-bucket windows add the entering depth to their local
    *     running sums; within-bucket segments ∪ bridges = exactly the
    *     unbucketed output (spec-asserted equal on random data).
    *
    * Same output contract as [[coverageDepth]]. Pick `bucketWidth` so
    * keys × (range/bucketWidth) stays in the thousands–millions: for a
    * human genome at 1 Mb buckets that is ~3200 windows. The bucket
    * summary joins back WITHOUT a broadcast hint — at the bucket
    * counts this function exists for, forcing a broadcast is exactly
    * the wrong call; both sides are already clustered on the key, and
    * Spark may still choose to broadcast a small summary on its own. */
  private[graft] def coverageDepthBucketed(df: DataFrame,
      keys: Seq[String], startCol: String, endCol: String,
      bucketWidth: Long): DataFrame = {
    require(bucketWidth >= 1, "bucketWidth must be >= 1")
    val kc = keys.map(col)
    val deltas = endpointEvents(df, keys, startCol, endCol)
      .groupBy((kc :+ col("pos")): _*)
      .agg(sum(col("d")).as("delta"))
      .filter(col("delta") =!= 0)
      .withColumn("__b", floor(col("pos") / bucketWidth))
    // pass 1: occupied-bucket summaries, stitched by a window over
    // buckets: entering depth + the bridge to the next bucket
    val bOrd = Window.partitionBy(kc: _*).orderBy(col("__b").asc)
    val buckets = deltas.groupBy((kc :+ col("__b")): _*)
      .agg(sum(col("delta")).as("__bsum"), min(col("pos")).as("__first"),
        max(col("pos")).as("__last"))
      .withColumn("__enter", coalesce(sum(col("__bsum")).over(
        bOrd.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__nextFirst", lead(col("__first"), 1).over(bOrd))
    val bridges = buckets.filter(col("__nextFirst").isNotNull)
      .select((kc :+ col("__last").as("seg_start") :+
        (col("__nextFirst") - 1).as("seg_end") :+
        (col("__enter") + col("__bsum")).as("depth")): _*)
    // pass 2: per-(key, bucket) windows — the heavy stage, now wide
    val wOrd = Window.partitionBy((kc :+ col("__b")): _*)
      .orderBy(col("pos").asc)
    val within = deltas
      .join(buckets.select((kc :+ col("__b") :+ col("__enter")): _*),
        keys :+ "__b")
      .withColumn("depth", col("__enter") + sum(col("delta")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__next", lead(col("pos"), 1).over(wOrd))
      .filter(col("__next").isNotNull) // bucket-last rows become bridges
      .select((kc :+ col("pos").as("seg_start") :+
        (col("__next") - 1).as("seg_end") :+ col("depth")): _*)
    within.unionByName(bridges)
  }
}
