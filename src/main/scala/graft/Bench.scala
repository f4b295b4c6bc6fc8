package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Defaults.localSession(cpus.toInt)
    // absorb one-time session costs (codegen warmup, parquet footer reads,
    // UDF registration) so the first measured query isn't inflated
    try {
      graft.Defaults.registerAll(spark)
      spark.range(1000).selectExpr("sum(id)").count()
      spark.read.parquet(s"$sfDir/customer.parquet").limit(1).count()
    } catch { case _: Throwable => }
    // optional subset for isolated measurement: SPARK_GRAFT_QUERIES=a,b,c
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // the bench host shows 10x single-query GC spikes run-to-run; two passes
    // + min per query reports the real cost instead of whichever pass a GC
    // pause landed on
    val passes = math.max(1, sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt)
    // ---- bench history: regression comparator + per-round archive ----
    // r12 verdict ask #1: a 70-second suite-level swing was unattributable
    // because only the total was archived per round. Every FULL-suite run
    // now (a) compares each query's calib-normalized wall against its
    // trailing minimum across bench_history/bench_r*.json and flags >1.5x,
    // and (b) archives its own per-query timings as the next round's
    // history entry. Flags are LEADS, not verdicts: per-query wall on this
    // box swings up to 2x run-to-run (streaming trigger machinery + GC
    // spikes; see bench_history/README.md for the noise model), so a flag
    // means "re-measure isolated with SPARK_GRAFT_QUERIES", not
    // "regression confirmed".
    val histDir = java.nio.file.Paths.get("bench_history")
    // Scale-factor key for a run: the sf directory's BASENAME ("sf0.1"),
    // so /root/testdata/sf0.1 and any future mount of the same tables key
    // together. r14 post-mortem: an archived sf0.01 full-suite run planted
    // ~4x-low trailing minimums and the SF-blind comparator then
    // "confirmed" 87 phantom regressions against the driver's sf0.1 run —
    // history entries now carry their sf key and ONLY same-SF entries feed
    // a run's trailing minimums.
    def sfKey(dir: String): String =
      java.nio.file.Paths.get(dir).getFileName.toString
    val runSf = sfKey(sfDir)
    // Parallelism key (r15 post-mortem #2): the in-session full runs
    // "confirmed" a 3-4x regression across the whole KDF class that turned
    // out to be the harness itself — Bench invoked without
    // SPARK_GRAFT_CPUS runs local[4] while the driver runs local[32], so
    // every thread-saturated query pays the session's parallelism, not the
    // box's. The calibration constants CANNOT catch this (they spawn raw
    // threads across all cores regardless of the Spark master), so runs
    // key their history comparisons on `cpus` exactly like `sf`; pre-r15
    // entries carry no cpus field and were all driver runs at 32.
    case class Hist(c: Double, cp: Double, cpb: Option[Double],
                    cpbPar: Option[Double], qs: Map[String, Double])
    val history: Seq[Hist] = {
      import org.json4s._
      if (!java.nio.file.Files.isDirectory(histDir)) Nil
      else {
        import scala.jdk.CollectionConverters._
        // Files.list streams hold a directory handle until closed (advisor
        // r13) — drain inside Using so the handle never outlives the scan
        val files = scala.util.Using.resource(java.nio.file.Files.list(histDir)) {
          _.iterator().asScala
            .filter(_.getFileName.toString.matches("bench_r\\d+(_c\\d+)?\\.json"))
            .toSeq
        }.sortBy(_.getFileName.toString)
        files.flatMap { p =>
          try {
            val j = org.json4s.jackson.JsonMethods.parse(
              new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
            def num(v: JValue): Option[Double] = v match {
              case JDouble(d)  => Some(d)
              case JInt(i)     => Some(i.toDouble)
              case JLong(l)    => Some(l.toDouble)
              case JDecimal(d) => Some(d.toDouble)
              case _           => None
            }
            val c = num(j \ "calib_argon2_ms").getOrElse(0.0)
            val cp = num(j \ "calib_argon2_par_ms").getOrElse(c)
            // PBKDF2 constants (r15+ archives); absent in older entries —
            // the pbkdf2 normalizations simply don't fire against them
            val cpb = num(j \ "calib_pbkdf2_ms").filter(_ > 0)
            val cpbPar = num(j \ "calib_pbkdf2_par_ms").filter(_ > 0)
            // a history entry at a DIFFERENT scale factor is not a valid
            // prior: its walls differ by the data-size ratio, not by plan
            // quality. Entries missing `sf` (pre-r12 shapes) are skipped
            // too — an unkeyable prior is a poisonable prior.
            val histSf = (j \ "sf") match {
              case JString(s) => Some(sfKey(s)); case _ => None
            }
            // no default for a missing cpus field (advisor r15): the r15
            // post-mortem itself found an archived local[4] run that a
            // 32-default would have silently admitted as a local[32]
            // prior. All live archives carry an explicit stamp; an
            // unkeyable prior is a poisonable prior — skip it.
            val histCpus = num(j \ "cpus").map(_.toInt)
            val qsH = (j \ "queries") match {
              case JObject(fields) =>
                fields.flatMap { case (k, v) => num(v).map(k -> _) }.toMap
              case _ => Map.empty[String, Double]
            }
            if (c > 0 && qsH.nonEmpty && histSf.contains(runSf) &&
                histCpus.contains(cpus.toInt))
              Some(Hist(c, cp, cpb, cpbPar, qsH))
            else {
              if (!histSf.contains(runSf))
                System.err.println(s"[bench] history $p skipped: sf ${histSf.orNull} != $runSf")
              else if (!histCpus.contains(cpus.toInt))
                System.err.println(s"[bench] history $p skipped: cpus ${histCpus.getOrElse("absent")} != $cpus")
              None
            }
          } catch { case scala.util.control.NonFatal(e) =>
            // an unreadable history file must not kill the bench — it only
            // degrades the comparator back to "no history for that round"
            System.err.println(s"[bench] unreadable history $p: $e"); None }
        }
      }
    }
    // A flag requires the query to exceed 1.5x its trailing minimum under
    // BOTH normalizations — single-thread calib AND the 32-thread parallel
    // calib. The two constants move INDEPENDENTLY on a shared host
    // (observed in-round: single fell 13.1 -> 10.9 ms while parallel rose
    // 49.8 -> 71.5 ms — DRAM-bandwidth contention that slows every
    // 32-thread query while making a lone thread FASTER; single-only
    // normalization then flagged 60 phantom regressions in one run). A
    // real plan regression inflates under both; box drift inflates one
    // and deflates the other.
    // A third AND condition joined r15: the RAW wall must also exceed
    // 1.5x its same-SF trailing minimum. Normalization exists to excuse
    // box SLOWDOWNS (raw inflates, normalized stays put); the r15 run
    // showed the inverse hole — a box with an unusually FAST single
    // thread (calib 13.6 ms vs the 18-21 ms priors) inflates every
    // normalized ratio and "confirmed" two sub-second queries whose raw
    // walls moved 1.45x (inside the documented ±2x noise). A real plan
    // regression inflates raw AND both normalizations; no combination of
    // box drift inflates all three.
    def rawPrior(q: String): Option[Double] =
      Some(history.flatMap(h => h.qs.get(q)).filter(_ > 0))
        .filter(_.nonEmpty).map(_.min)
    // A failed query must surface as a FAILURE, never as a timing: round 9's
    // broken gapfill_resample was recorded at 0.081s — the analysis-error
    // path, timed as the fastest query in the suite — because the catch
    // swallowed the exception and let the elapsed time land in `queries`.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // settle-pass ledger (advisor r18): recording only the post-settle min
    // systematically hides real in-suite costs — a change that makes query
    // B slow only because of state query A leaks would settle back to B's
    // isolated time every round and never flag at the source. Every settle
    // now archives BOTH walls (in-suite min and the quiesced settle pass),
    // so a query that settles round after round is itself a visible
    // suite-interference lead in the history.
    val settles = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double)]
    val results = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
        var lastErr: Option[String] = None
        val times = (1 to passes).flatMap { _ =>
          val t0 = System.nanoTime()
          // collect, not count: count() lets Catalyst prune deterministic
          // expression columns out of aggregates, skipping the measured work.
          // Every query returns a small aggregate or a <=10k-row profile.
          val ok = try { fn(spark, sfDir).collect(); true } catch {
            case e: Throwable =>
              lastErr = Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(300))
              false
          }
          val elapsed = (System.nanoTime() - t0) / 1e9
          // Release any storage the query left behind so one query's retained
          // blocks don't distort the next measurement (r3: accumulated caches
          // inflated unrelated queries by up to 5x in one session), clear the
          // KDF memo so a repeat pass re-measures real KDF work rather than a
          // memo hit, and GC so soft-referenced KDF workspaces are reclaimed
          // BETWEEN measurements rather than by pressure in the middle of one.
          try { spark.catalog.clearCache() } catch { case _: Throwable => }
          graft.functions.MaskFunctions.clearCache()
          System.gc()
          if (ok) Some(elapsed) else None
        }
        // Streaming-interference annotation (r16 verdict ask #5): the
        // AvailableNow streaming queries read up to 3x their isolated wall
        // when the suite's accumulated state-store/GC pressure lands on
        // both passes (stream_join_outer: 22.4 s in-suite vs 6.9 s
        // isolated, ratio 0.95 — three of the last five rounds' flags were
        // this class, each costing an adjudication re-run). For queries in
        // the class, a suspect in-suite wall (min > 1.5x the same-SF raw
        // prior) earns ONE extra settle pass — quiesce + GC, the isolated
        // protocol — and the min over all passes is the recorded timing. A
        // genuine regression survives the settle pass and still flags;
        // pure suite interference stops producing flags at the source.
        // Rule documented in bench_history/README.md.
        val settled: Seq[Double] =
          // r18: the rule now covers EVERY query, not just the streaming
          // class. First the class test was widened to "_stream"-SUFFIXED
          // names (events_dedup_stream read 8.2 s in-suite vs 2.4 s
          // isolated — the AvailableNow machinery the r17 prefix match
          // missed); then a full r18 run on a contended shared-box window
          // showed the same signature on BATCH queries (hits_scores 37.7 s
          // in-suite vs 5.0 s isolated, cc_incremental 33.8 vs 7.0,
          // split_leakage 8.4 vs 3.8 — 46 flags, 0 confirmed, all
          // adjudicated down by the min-of-3 isolated pass). The settle
          // trigger (min > 1.5x the same-SF raw trailing minimum) already
          // encodes "suspect"; restricting WHICH queries may settle only
          // left batch-query noise in the archive for the adjudicator to
          // clean up after the fact. Semantics unchanged: one extra
          // quiesced pass, min over all passes, genuine regressions
          // survive and still flag.
          if (times.nonEmpty &&
              rawPrior(name).exists(p => times.min > 1.5 * p)) {
            try { spark.catalog.clearCache() } catch { case _: Throwable => }
            graft.functions.MaskFunctions.clearCache()
            System.gc()
            Thread.sleep(1000)
            val t0 = System.nanoTime()
            val ok = try { fn(spark, sfDir).collect(); true } catch { case _: Throwable => false }
            val extra = (System.nanoTime() - t0) / 1e9
            if (ok) {
              System.err.println(f"[bench] $name settle pass: in-suite ${times.min}%.2fs -> $extra%.2fs")
              settles(name) = (times.min, extra)
              times :+ extra
            } else times
          } else times
        // a query is a FAILURE only when every pass failed — it then has no
        // timing; a pass-level flake (some passes succeeded) keeps its min
        // timing and is reported to stderr, NOT in errors, so the timing
        // and failure sets stay disjoint (a reader can always reconcile
        // n_queries + n_failed)
        if (settled.isEmpty) {
          errors(name) = lastErr.getOrElse("failed with no message")
          None
        } else {
          lastErr.foreach(e => System.err.println(s"[bench] $name flaky (kept min of ${settled.size}/$passes passes): $e"))
          Some(name -> settled.min)
        }
      }
    // single-threaded CPU calibration: a fixed Argon2id workload (the same
    // 16384KB/1-iter profile the headline query uses), median of 5. Box
    // noise (shared-host contention) moves this constant and every
    // KDF-bound query together, so cross-round comparisons can normalize:
    // r8 observed a ~30% box-wide slowdown that looked like a regression.
    def measureCalib(): Double = {
      val codec = new graft.codec.Argon2Codec(2, 16384, 1)
      val pp = ("calibration-passphrase-0123456789" * 2).getBytes
      val times = (1 to 5).map { i =>
        val t0 = System.nanoTime()
        codec.hash(s"calibration-value-$i", deterministic = true, pp)
        (System.nanoTime() - t0) / 1e6
      }.sorted
      times(2)
    }
    val calib = measureCalib()
    // PARALLEL calibration: per-hash wall with every core hashing at once.
    // Argon2 is memory-HARD — at 32 threads the workspaces (32 x 16 MB)
    // contend for DRAM bandwidth, so a loaded shared host can slow the
    // parallel KDF queries 3-5x while the single-thread constant above
    // barely moves (observed r10: calib 17.5 ms ~ r9's 18.2, yet
    // mask_argon2_rate swung 69 -> 88 s between two same-code runs).
    // par/single is the contention factor; normalize thread-saturated KDF
    // queries (mask_argon2_rate) by THIS constant, not the single one.
    def measureCalibPar(): Double = {
      val codec = new graft.codec.Argon2Codec(2, 16384, 1)
      val pp = ("calibration-passphrase-0123456789" * 2).getBytes
      val n = Runtime.getRuntime.availableProcessors()
      val walls = (1 to 3).map { round =>
        val t0 = System.nanoTime()
        val threads = (1 to n).map { i =>
          new Thread(() => { codec.hash(s"calib-par-$round-$i", deterministic = true, pp); () })
        }
        threads.foreach(_.start()); threads.foreach(_.join())
        (System.nanoTime() - t0) / 1e6
      }.sorted
      walls(1)
    }
    val calibPar = measureCalibPar()
    // PBKDF2 calibration, single + parallel (r15): the mask/stage queries
    // under Verify/Bench defaults are PBKDF2-HMAC-SHA512-bound
    // ([[graft.Defaults]] — Argon2id is selected only via env), and SHA
    // throughput moves INDEPENDENTLY of the Argon2 constants on a shared
    // host (measured in-round: calib_argon2_par swung 69.7 → 109.6 →
    // 439.5 ms within hours while the PBKDF2 microbench barely moved —
    // and the whole KDF query class "confirmed" 3-4x flags that neither
    // Argon2 normalization could excuse). These constants close that
    // instrument gap; they join the flag conditions once a history entry
    // carries them.
    def measureCalibPb(): Double = {
      val codec = new graft.codec.Pbkdf2Codec(1024, 64)
      val pp = ("calibration-passphrase-0123456789" * 2).getBytes
      (1 to 20).foreach(i => codec.hash(s"calib-pb-warm-$i", deterministic = true, pp))
      val times = (1 to 5).map { i =>
        val t0 = System.nanoTime()
        (1 to 20).foreach(j => codec.hash(s"calib-pb-$i-$j", deterministic = true, pp))
        (System.nanoTime() - t0) / 1e6 / 20
      }.sorted
      times(2)
    }
    val calibPb = measureCalibPb()
    def measureCalibPbPar(): Double = {
      val codec = new graft.codec.Pbkdf2Codec(1024, 64)
      val pp = ("calibration-passphrase-0123456789" * 2).getBytes
      val n = Runtime.getRuntime.availableProcessors()
      val walls = (1 to 3).map { round =>
        val t0 = System.nanoTime()
        val threads = (1 to n).map { i =>
          new Thread(() => {
            (1 to 20).foreach(j =>
              codec.hash(s"calib-pb-par-$round-$i-$j", deterministic = true, pp))
            ()
          })
        }
        threads.foreach(_.start()); threads.foreach(_.join())
        (System.nanoTime() - t0) / 1e6 / 20
      }.sorted
      walls(1)
    }
    val calibPbPar = measureCalibPbPar()
    def r3(v: Double): String = (math.rint(v * 1000) / 1000).toString
    // min normalized-ratio across every calibration family with a usable
    // prior. Each family excuses one kind of box drift (single-thread CPU,
    // 32-thread DRAM contention, SHA throughput single/saturated); a real
    // plan regression inflates ALL of them plus the raw wall.
    def normRatio(q: String, t: Double,
                  cS: Double = calib, cP: Double = calibPar,
                  cPb: Double = calibPb, cPbPar: Double = calibPbPar): Option[Double] = {
      val fams: Seq[(Double, Hist => Option[Double])] = Seq(
        (cS, h => Some(h.c)),
        (cP, h => Some(h.cp)),
        (cPb, h => h.cpb),
        (cPbPar, h => h.cpbPar))
      val ratios = fams.flatMap { case (now, pick) =>
        val priors = history.flatMap(h =>
          pick(h).flatMap(pc => h.qs.get(q).map(_ / pc))).filter(_ > 0)
        if (priors.isEmpty) None else Some((t / now) / priors.min)
      }
      val raw = rawPrior(q).map(t / _)
      Some(ratios ++ raw).filter(_.nonEmpty).map(_.min)
    }
    val flagged: Map[String, Double] = results.flatMap { case (q, t) =>
      // sub-ms walls archive as 0.0 at 3 decimals — a zero prior would make
      // every future ratio Infinity and flag the query forever (advisor r13)
      normRatio(q, t).filter(_ > 1.5).map(r => q -> math.rint(r * 100) / 100)
    }.toMap
    // Auto-adjudication (verdict r13 ask #7): in-suite flags are LEADS —
    // per-query wall swings up to 2x with suite-order scheduling/GC noise,
    // and the last two rounds each spent a manual isolated re-measure per
    // flag. The bench now carries its own adjudication: each flagged query
    // re-runs MIN-OF-3 at suite end (caches cleared, post-GC before each
    // pass — the same protocol as a manual SPARK_GRAFT_QUERIES run), and
    // the archive records both walls. A flag is CONFIRMED only if the
    // min isolated wall still exceeds 1.5x the trailing minimum under
    // both normalizations. Min-of-3, not one sample (verdict r17 ask #1):
    // the single-sample adjudicator CONFIRMED three phantom regressions
    // in one r17 run — including a 26.9x reading on mask_fpe_number whose
    // 3-pass re-measure landed at 1.01 s — because one collect() on a
    // contended shared box has exactly the noise-sensitivity the in-suite
    // min-of-2 exists to avoid.
    val adjudicated: Map[String, (Double, Double, Double)] = flagged.map { case (q, ratio) =>
      // the shared box OSCILLATES on minute scales (measured in-round:
      // calib_argon2_par 69.7 -> 439.5 -> 149.4 ms across runs an hour
      // apart) — suite-END constants can miss the contention window a
      // query actually ran in, so the adjudicator re-measures the
      // calibration family FRESH next to each isolated pass and
      // normalizes by the instant constants; min over passes on BOTH
      // the wall and the normalized ratio.
      val passes: Seq[(Double, Double)] = (1 to 3).map { _ =>
        try { spark.catalog.clearCache() } catch { case _: Throwable => }
        graft.functions.MaskFunctions.clearCache()
        System.gc()
        val t0 = System.nanoTime()
        val ok = try { SparkEntry.queries(q)(spark, sfDir).collect(); true }
          catch { case _: Throwable => false }
        val wall = (System.nanoTime() - t0) / 1e9
        val r =
          if (!ok) Double.PositiveInfinity
          else normRatio(q, wall, measureCalib(), measureCalibPar(),
            measureCalibPb(), measureCalibPbPar()).getOrElse(Double.PositiveInfinity)
        (wall, r)
      }
      val iso = passes.map(_._1).min
      val isoRatio = passes.map(_._2).min
      // a failed isolated re-run records 999 (JSON has no Infinity); the
      // failure itself already surfaced in the suite pass if systematic
      q -> (ratio, iso,
        if (isoRatio.isInfinite) 999.0 else math.rint(isoRatio * 100) / 100)
    }
    val regressions = adjudicated
    // Noise floor (verdict r15 ask #2): a flag whose ISOLATED wall is under
    // 1 second can never CONFIRM — r15 "confirmed" histogram_stats at
    // +0.15 s absolute, which is minute-scale shared-box noise (the
    // oscillation class bench_history/README.md documents), not a plan
    // regression worth a round of forensics. The flag and both ratios
    // still land in the archive (a sub-floor flag that persists across
    // rounds is itself a lead); only the n_confirmed verdict is gated.
    val confirmFloorS = 1.0
    val nConfirmed = adjudicated.count { case (_, (_, iso, isoR)) =>
      isoR > 1.5 && iso >= confirmFloorS
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val regs = regressions.toSeq.sortBy(-_._2._1)
      .map { case (k, (ratio, iso, isoRatio)) =>
        s"\"" + k + "\":{\"ratio\":" + ratio + ",\"in_suite_s\":" + r3(results(k)) +
          ",\"isolated_s\":" + r3(iso) + ",\"isolated_ratio\":" + isoRatio + "}"
      }.mkString("{", ",", "}")
    // calib-normalized timings for the KDF-bound queries (time / single-hash
    // ms): these move with shared-host CPU contention, and dividing by the
    // calibration constant makes round-over-round comparison mechanical
    // instead of forensic (r8 spent a verdict section attributing a ~30%
    // box-wide shift by hand).
    val kdfBound = results.keys.filter(k =>
      k.startsWith("mask_") || k.startsWith("stage_") || k == "fixture_e2e")
    val qsNorm = kdfBound.map(k => s"\"" + k + "\":" + r3(results(k) / calib))
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench.json")
    // stdout gets a SHORT summary only: the driver's stdout capture window
    // truncated the full per-query line two rounds running (r7 lost the
    // tail, r8 the head — "parsed": null both times). The complete artifact
    // lives in `out`; the stdout line stays well under any capture bound.
    val errs = errors.map { case (k, v) => s"${JsonText.esc(k)}:${JsonText.esc(v)}" }
      .mkString("{", ",", "}")
    val settlesJson = settles.map { case (k, (inSuite, settle)) =>
      s"\"" + k + "\":{\"in_suite_s\":" + r3(inSuite) + ",\"settle_s\":" + r3(settle) + "}"
    }.mkString("{", ",", "}")
    val summary = s"""{"metric":"total","value":${r3(total)},"unit":"sec","sf":"$sfDir","cpus":$cpus,"calib_argon2_ms":${r3(calib)},"calib_argon2_par_ms":${r3(calibPar)},"calib_pbkdf2_ms":${r3(calibPb)},"calib_pbkdf2_par_ms":${r3(calibPbPar)},"n_queries":${results.size},"n_failed":${errors.size},"n_flagged":${regressions.size},"n_confirmed":$nConfirmed,"bench_file":"$out"}"""
    val full = s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,"queries_norm":$qsNorm,"regressions":$regs,"errors":$errs,"settles":$settlesJson,"sf":"$sfDir","cpus":$cpus,"calib_argon2_ms":${r3(calib)},"calib_argon2_par_ms":${r3(calibPar)},"calib_pbkdf2_ms":${r3(calibPb)},"calib_pbkdf2_par_ms":${r3(calibPbPar)}}"""
    try {
      val p = java.nio.file.Paths.get(out)
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, (full + "\n").getBytes("UTF-8"))
    } catch {
      // NonFatal only, and loudly: silently losing the one untruncatable
      // copy would recreate exactly the failure this file guards against
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] failed to persist $out: $e")
    }
    // Archive this run as the next round's history entry — FULL-suite runs
    // only (a SPARK_GRAFT_QUERIES subset would plant artificially-low
    // trailing-mins for the queries it happens to include). Round number =
    // 1 + the highest driver-archived BENCH_r<k>.json in cwd, so the r13
    // driver run lands as bench_history/bench_r13.json.
    if (only.isEmpty && errors.isEmpty) {
      try {
        import scala.jdk.CollectionConverters._
        val roundRe = "BENCH_r(\\d+)\\.json".r
        val lastRound = scala.util.Using.resource(
          java.nio.file.Files.list(java.nio.file.Paths.get("."))) {
          _.iterator().asScala
            .flatMap(p => p.getFileName.toString match {
              case roundRe(n) => Some(n.toInt); case _ => None
            }).foldLeft(0)(math.max)
        }
        java.nio.file.Files.createDirectories(histDir)
        // non-32-cpu runs archive under a cpus-suffixed name (r19): the
        // driver benches the SAME round at 32 and at a lower core count,
        // and both archived as bench_r<k>.json — the later run clobbered
        // the earlier one's history entry (r18's 8-cpu run overwrote the
        // 32-cpu entry for the round). History loading already keys on
        // the cpus field INSIDE each file; only the filename collided.
        val archName = if (cpus.toInt == 32) f"bench_r${lastRound + 1}%02d.json"
                       else f"bench_r${lastRound + 1}%02d_c$cpus.json"
        java.nio.file.Files.write(
          histDir.resolve(archName),
          (full + "\n").getBytes("UTF-8"))
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] failed to archive history: $e")
      }
    }
    // The summary must be the FINAL unprefixed stdout line (the driver's
    // parser reads the last non-sbt line): stop Spark BEFORE printing so
    // no shutdown chatter can land after the JSON, then flush explicitly.
    spark.stop()
    println(summary)
    System.out.flush()
  }
}
