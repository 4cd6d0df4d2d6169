package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints machine-readable JSON lines.
  *
  * Variance guard (round-2 driver bench showed 2-6x phantom swings on a
  * noisy machine): each query runs SPARK_GRAFT_BENCH_RUNS times (default
  * 3) after an untimed warmup pass, and the reported number is the
  * per-query MIN — the best proxy for plan cost under co-tenant noise.
  *
  * Output contract (the driver captures only the LAST ~2000 chars of
  * stdout and its JSON parse needs a complete line starting with '{'):
  *   - the FULL record (3-decimal per-query map + adjudication detail)
  *     goes to the durable BENCH_SELF.json, never truncated;
  *   - stdout gets the full line once early (for humans / grep), then
  *     as the VERY LAST line a compact headline — total + the slowest
  *     queries at 2 decimals, capped below the tail window — so the
  *     driver record finally parses ("parsed": null rounds 1-10 was the
  *     6 KB line overflowing a 2000-char tail, plus sbt's "[info] "
  *     logger prefix, dropped via run/outputStrategy := StdoutOutput).
  */
object Bench {

  /** Adjudication trigger: does (prev, v) look like a mover worth
    * warm re-timing? Extracted + spec'd (BenchSpec) after the round-10
    * driver run let q26_asof through at 0.333 s vs 0.147 s: the old
    * predicate gated on |v - p| > 0.2 — a DIFFERENCE — so a 2.3x move
    * with a 0.186 s delta never re-timed. The noise-class exclusion is
    * meant to skip rows where BOTH sides are tiny, so gate on the
    * larger side's magnitude instead.
    *
    * Two-tier ratio (round-13 verdict): rows over 1 s trip at >1.8x —
    * q105 drifted 1.95x in the r13 driver window, just under the old
    * uniform 2x wire, and was never auto-re-timed (hand adjudication
    * later resolved it to environment). Sub-second rows keep the 2x
    * wire: their relative noise is wider and 1.8x would re-time half
    * the suite on a warm/cold cache difference. */
  private[graft] def isMover(prev: Double, v: Double): Boolean = {
    val hi = math.max(v, prev)
    val wire = if (hi > 1.0) 1.8 else 2.0
    v >= 0 && prev >= 0 && hi > 0.2 &&
      (v > wire * prev || prev > wire * v)
  }

  /** Sub-wire drift watch (round-15 verdict: five rows drifted
    * 1.5–1.8× driver-to-driver without tripping [[isMover]] and were
    * never re-timed — two rounds of that compounds into a silent 3×).
    * Rows over 1 s that moved ≥1.5× but stayed under the wire get a
    * min-of-3 warm re-time recorded in the durable `drift` block —
    * NO recording change (the capture keeps its first value; the
    * block exists so the next round reads an adjudicated min instead
    * of guessing "environment, probably"). Sub-second rows are
    * excluded for the same reason they keep the 2× wire: their
    * relative noise is wider than 1.5×. */
  private[graft] def isDriftWatch(prev: Double, v: Double): Boolean = {
    val hi = math.max(v, prev)
    v >= 0 && prev >= 0 && hi > 1.0 && !isMover(prev, v) &&
      (v >= 1.5 * prev || prev >= 1.5 * v)
  }

  /** The value RECORDED for an adjudicated mover — the capture value
    * the NEXT round's pin inherits. Round-14 verdict: recording
    * median5 unconditionally is an upward ratchet — when the warm
    * re-timing PROVES environment (a regression-direction mover whose
    * min5 lands at/below prev: the plan demonstrably still reaches its
    * old cost, the first timing was window noise), the noisy median
    * became the durable value (q104: prev 1.077, first 5.514, min5
    * 0.639 — median5 2.925 recorded), and a REAL future 2.9 s
    * regression would then read as 1.0× against the inherited pin.
    * On that verdict record min5. Everywhere else keep the median: a
    * genuine regression keeps a slow median and stays visible, and
    * improvement-direction movers keep the conservative median so one
    * lucky warm run can't ratchet the baseline DOWNWARD either. */
  private[graft] def recordValue(prev: Double, first: Double,
      min5: Double, median5: Double): Double =
    if (first > prev && min5 <= prev) min5 else median5

  /** Parse a durable bench record into its per-query map, or empty if
    * the record is for a different scale factor (a cross-SF baseline
    * would false-trigger the mover check on every row). */
  private[graft] def parseBaseline(txt: String, sfDir: String): Map[String, Double] =
    if (!txt.contains(s""""sf":"$sfDir"""")) Map.empty
    else """"(q[0-9][^"]*)":(-?[0-9]+(?:\.[0-9]+)?)""".r
      .findAllMatchIn(txt)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap

  /** The adjudication baseline: the ROUND-BOUNDARY pin when present,
    * else the last committed BENCH_SELF. Round-12 verdict: interim
    * BENCH_SELF captures inside a round replaced the adjudication
    * baseline ("ratchet"), so a query drifting 1.5x per capture never
    * tripped the 2x wire against the round boundary (q154 2.89x, q116
    * 2.50x, q117 2.32x all slipped through). The pin is written once
    * per round (first bench run copies the committed BENCH_SELF) and
    * deleted by the end-of-round ritual; interim captures keep
    * overwriting BENCH_SELF for the total but never the pin. */
  private[graft] def pickBaseline(roundPin: Option[Map[String, Double]],
      self: Map[String, Double]): Map[String, Double] =
    roundPin.filter(_.nonEmpty).getOrElse(self)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    val spark = SparkSession.builder()
      .config(graft.core.GraftSession.localFsConf)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // untimed warmup: JVM/codegen/parquet-footer warmup on the same data
    try SparkEntry.queries("q01_pricing_summary")(spark, sfDir).count()
    catch { case _: Throwable => }
    // optional comma-separated name filter for focused re-measurement;
    // substring match, same semantics as SPARK_GRAFT_VERIFY_ONLY
    // (e.g. SPARK_GRAFT_BENCH_ONLY=q54,q73_dedup_clusters)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.exists(n.contains)))
    def timeRuns(name: String, n: Int): Seq[Double] = {
      val fn = SparkEntry.queries(name)
      (1 to n).flatMap { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
        catch { case _: Throwable => None }
      }
    }
    val results = names.map { name =>
      val times = timeRuns(name, runs)
      name -> (if (times.isEmpty) -1.0 else times.min)
    }
    // Self-adjudication (two rounds of phantom >2x movers — q37-q41
    // r8, q34 r9 — all re-timed to noise by hand): any query that
    // moved >2x against the PREVIOUS committed BENCH_SELF.json gets an
    // automatic warm re-timing (1 untimed + 5 timed runs). The
    // adjudicated value is the MEDIAN of the 5 re-runs — NOT the min
    // across everything, which would rewrite a genuine 2x regression
    // back toward baseline whenever one warm run got lucky (round-10
    // advice): a real slowdown keeps a slow median and stays visible.
    // The adjudicated map records first/min5/median so all columns are
    // in the durable record.
    // The durable record defaults to the CWD (sbt runs anchor it at
    // the repo root) but takes an explicit SPARK_GRAFT_BENCH_SELF
    // override for launchers with a different working directory — and
    // both the read and the write fail LOUDLY: a silently absent
    // baseline disables adjudication, a silently failed write leaves
    // the next round adjudicating against stale numbers.
    val selfPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_SELF", "BENCH_SELF.json"))
    val roundPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_ROUND", "BENCH_ROUND.json"))
    def readRecord(p: java.nio.file.Path): Option[Map[String, Double]] =
      try {
        val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        Some(parseBaseline(txt, sfDir))
      } catch { case _: Throwable => None }
    // Round pin: snapshot the round-boundary BENCH_SELF ONCE (only when
    // absent, and only when its sf matches this run so a sf0.001 smoke
    // can't pin garbage). Interim captures then adjudicate against the
    // PIN, not each other — see pickBaseline. Deleted end-of-round.
    if (!java.nio.file.Files.exists(roundPath) &&
        java.nio.file.Files.exists(selfPath) &&
        readRecord(selfPath).exists(_.nonEmpty)) {
      try {
        java.nio.file.Files.copy(selfPath, roundPath)
        println(s"[bench] round-boundary pin written: " +
          s"${roundPath.toAbsolutePath} (adjudication baseline for this round)")
      } catch {
        case e: Throwable =>
          println(s"[bench] FAILED to write round pin to " +
            s"${roundPath.toAbsolutePath}: $e")
      }
    }
    val prevQ: Map[String, Double] = {
      val pinExists = java.nio.file.Files.exists(roundPath)
      val pin = if (pinExists) readRecord(roundPath) else None
      val self = readRecord(selfPath).getOrElse(Map.empty)
      if (pinExists && pin.forall(_.isEmpty) && self.nonEmpty) {
        // A pin that EXISTS but yields nothing for this SF — corrupt,
        // or written at a different scale — must not fall back to the
        // interim BENCH_SELF silently: that is the exact ratchet the
        // pin prevents (r13 advice). Refuse adjudication loudly. (When
        // self is ALSO empty for this SF — e.g. an sf0.001 smoke in a
        // repo pinned at sf0.1 — there is nothing to ratchet against
        // and the quiet no-baseline message below is the right one.)
        println(s"[bench] ROUND PIN UNREADABLE at " +
          s"${roundPath.toAbsolutePath} — refusing to adjudicate " +
          "against interim captures; movers will NOT be re-timed " +
          "this run (fix or delete the pin)")
        Map.empty
      } else {
        val base = pickBaseline(pin, self)
        if (base.isEmpty)
          println(s"[bench] no usable adjudication baseline at " +
            s"${roundPath.toAbsolutePath} or ${selfPath.toAbsolutePath} — " +
            "movers will not be re-timed")
        base
      }
    }
    val adjudicated = results.flatMap { case (name, v) =>
      if (!prevQ.get(name).exists(p => isMover(p, v))) None
      else {
        timeRuns(name, 1) // untimed warm pass
        val ts = timeRuns(name, 5)
        if (ts.isEmpty) None
        else Some(name -> (prevQ(name), v, ts.min,
          ts.sorted.apply(ts.size / 2)))
      }
    }.toMap
    val fin = results.map { case (k, v) =>
      k -> adjudicated.get(k).map { case (p, f, mn, med) =>
        recordValue(p, f, mn, med)
      }.getOrElse(v)
    }
    // sub-wire drift tier: min-of-3 re-time, logged only (no recording
    // change) — closes the 1.5–1.8× blind band at ~4 runs per flagged
    // row (round-15 verdict item #6); the extra runs are declared in
    // the drift block's own "runs" field so the record says how its
    // numbers were produced (ADVICE r16)
    val drift = results.flatMap { case (name, v) =>
      if (!prevQ.get(name).exists(p => isDriftWatch(p, v))) None
      else {
        timeRuns(name, 1) // warm pass, result discarded
        val ts = timeRuns(name, 3)
        if (ts.isEmpty) None
        else Some(name -> (prevQ(name), v, ts.min))
      }
    }.toMap
    def rd(v: Double, s: Int) =
      BigDecimal(v).setScale(s, BigDecimal.RoundingMode.HALF_UP)
    val qs = fin.map { case (k, v) => s"\"" + k + "\":" + rd(v, 3) }
      .mkString("{", ",", "}")
    val adjJson =
      if (adjudicated.isEmpty) ""
      else adjudicated.toSeq.sortBy(_._1).map { case (k, (p, f, mn, med)) =>
        // symmetric markers (ADVICE r11): a sustained >2x REGRESSION and
        // a sustained >2x IMPROVEMENT both get a durable flag, so the
        // record says which adjudications confirmed a real move in
        // either direction (everything unflagged re-timed to noise)
        val still = if (p >= 0 && med > 2 * p) ",\"still_over_2x\":true"
          else if (p > 2 * med) ",\"still_under_half\":true"
          else ""
        // the environment verdict is self-describing in the record:
        // when it fired, the query's capture value is min5, not median5
        val env = if (recordValue(p, f, mn, med) == mn && mn != med)
          ",\"recorded_min5\":true" else ""
        s"\"$k\":{\"prev\":${rd(p, 3)},\"first\":${rd(f, 3)}," +
          s"\"min5\":${rd(mn, 3)},\"median5\":${rd(med, 3)}$still$env}"
      }.mkString(",\"adjudicated\":{", ",", "}")
    val driftJson =
      if (drift.isEmpty) ""
      else drift.toSeq.sortBy(_._1).map { case (k, (p, f, mn)) =>
        // min3 at/below prev = environment confirmed; min3 still over
        // the drift line = real movement accumulating under the wire
        val conf = if (mn <= p) ",\"env_confirmed\":true"
          else if (mn >= 1.5 * p) ",\"still_drifting\":true" else ""
        // runs:4 = 1 warm (discarded) + 3 timed, on top of the
        // capture's own `runs` — the record declares its extra work
        s"\"$k\":{\"prev\":${rd(p, 3)},\"first\":${rd(f, 3)}," +
          s"\"min3\":${rd(mn, 3)},\"runs\":4$conf}"
      }.mkString(",\"drift\":{", ",", "}")
    val total = fin.collect { case (_, v) if v >= 0 => v }.sum
    val totalR = rd(total, 3)
    val line = s"""{"metric":"total","value":$totalR,"unit":"sec","runs":$runs,"sf":"$sfDir"$adjJson$driftJson,"queries":$qs}"""
    // Durable copy first: the driver's stdout capture is a truncated
    // 2000-char tail, so the full per-query map + adjudication detail
    // land in a file in the repo root that survives any truncation.
    // Filtered (BENCH_ONLY) runs don't overwrite it — a 3-query record
    // must not replace the full adjudication baseline.
    if (only.isEmpty)
      try java.nio.file.Files.write(selfPath,
        (line + "\n").getBytes("UTF-8"))
      catch {
        case e: Throwable =>
          println(s"[bench] FAILED to write durable record to " +
            s"${selfPath.toAbsolutePath}: $e")
      }
    println(line) // full copy for humans / grep, ahead of the tail window
    spark.stop()  // shutdown noise lands BEFORE the compact final line
    // Compact headline LAST: slowest-first per-query entries at
    // 2 decimals, capped so the whole line stays well inside the
    // driver's 2000-char tail (sbt's trailing "[success] Total time"
    // line costs ~80 of those). Omitted rows are the sub-noise tail;
    // count + pointer to the durable file keep the omission explicit.
    val budget = 1600
    val present = fin.filter(_._2 >= 0).sortBy(-_._2)
    val head = s"""{"metric":"total","value":$totalR,"unit":"sec","runs":$runs,"sf":"$sfDir","full":"BENCH_SELF.json","queries":{"""
    val sb = new StringBuilder(head)
    var taken = 0
    present.foreach { case (k, v) =>
      val ent = (if (taken == 0) "" else ",") + "\"" + k + "\":" + rd(v, 2)
      // worst-case suffix: },"omitted":163,"errored":163}
      if (sb.length + ent.length + 38 <= budget) { sb.append(ent); taken += 1 }
    }
    // "omitted" = rows dropped for the character budget only; errored
    // queries (value −1, excluded from present and the total) get their
    // own count so truncation and failure can't be conflated (ADVICE r11)
    sb.append(s"""},"omitted":${present.size - taken}""" +
      s""","errored":${fin.size - present.size}}""")
    println(sb.toString)
  }
}
