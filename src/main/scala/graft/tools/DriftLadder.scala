package graft.tools

import graft.{LocalCatalog, Session, Telemetry}
import graft.operators.PairIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Frozen-cap drift ladder (round-14, VERDICT items 1+2): the
  * measured engineering contract behind the d32 daily mode.
  *
  * The frozen-cap advance's headline wins (0.38× rebuild wall at sf1 →
  * 0.09× at sf30, BENCH_decades_r13.json) come from a mode whose
  * answers DRIFT from the exact df-capped universe once a batch flips
  * a shingle's cap status. Before a 100 TB operator can adopt
  * "frozen daily, exact on an audit cadence", the drift needs numbers,
  * not a spec illustration: how fast does it accumulate over a
  * realistic multi-day chain, and what does it do to the END answer
  * (the curation survivor set)?
  *
  * Protocol, per chain run:
  *  - base index: materialize slice 0 of a mod-`m` split of the corpus
  *    (keepPostings — the standing four-artifact index);
  *  - k = 1..m-1: FROZEN advance with slice k (timed, per-phase
  *    telemetry kept), then an EXACT from-scratch reference on
  *    slices 0..k (timed — the rebuild bar the advance must beat and
  *    the audit-cadence cost), then the drift metrics off the two
  *    pairs tables (`PairIndex.pairDrift`, spec-pinned) and the
  *    curation end-answer delta (`PairIndex.curationDrift`);
  *  - per-step cap-FLIP count, computed from an untimed pre-advance
  *    snapshot of the df artifact (the flip definition mirrors
  *    advanceDocIndex's changedKeys: df_before >= 1 and the cap status
  *    of df_before vs df_after differs) — drift should track flips;
  *  - warehouse footprint after each step (must stay bounded: the
  *    standing index plus at most one grace generation).
  *
  * Wall-clock caveats (NOTES protocol): the host clock drifts across
  * windows, so every ratio printed here is same-window (advance vs the
  * rebuild measured seconds later); chain runs >= 2 are recorded
  * separately, never averaged across windows. Advances mutate the
  * standing index, so a chain cannot re-run a single step — the whole
  * chain repeats.
  *
  * Two base-corpus shapes (SPARK_GRAFT_DRIFT_BASE):
  *  - "slice0" (default): base = slice 0, advance with slices
  *    1..steps — every batch is corpus-sized early on, the STRESS
  *    shape that maximizes flips (the corpus also grows steps+1 x
  *    across the chain, so per-step ratios mix growth in);
  *  - "rest": base = everything OUTSIDE slices 1..steps — with
  *    mod=64, steps=7 that is 7 chained 1/64 batches over an 89% base,
  *    the REALISTIC daily regime (batch << corpus, corpus
  *    near-constant), which is what a rebuild-cadence contract is
  *    actually written against.
  *
  * Output: one JSON line (stdout) + a sidecar file when
  * SPARK_GRAFT_DRIFT_OUT is set. Assembled into BENCH_decades_r14.json.
  */
object DriftLadder {
  def main(args: Array[String]): Unit = {
    LocalCatalog.reset()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/repo/benchdata/sf1")
    val mod = sys.env.getOrElse("SPARK_GRAFT_DRIFT_MOD", "8").toInt
    val steps = sys.env.getOrElse("SPARK_GRAFT_DRIFT_STEPS", (mod - 1).toString)
      .toInt.min(mod - 1).max(1)
    val baseRest = sys.env.getOrElse("SPARK_GRAFT_DRIFT_BASE", "slice0") == "rest"
    val chainRuns = sys.env.getOrElse("SPARK_GRAFT_DRIFT_RUNS", "2").toInt.max(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Session.builder(cpus, sfDir)
      // 7 advances × eager localCheckpoints — release blocks promptly
      .config("spark.cleaner.periodicGC.interval", "30s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect() // warm-up

    def docs = graft.sources.Tables.documents(spark, sfDir)
    def slice(k: Int) = docs.filter(pmod(col("doc_id"), lit(mod)) === k)
    // base corpus + "base plus batches 1..k" under either shape
    def base = if (baseRest)
      docs.filter(pmod(col("doc_id"), lit(mod)) === 0 ||
        pmod(col("doc_id"), lit(mod)) > steps)
    else slice(0)
    def upTo(k: Int) = if (baseRest)
      docs.filter(pmod(col("doc_id"), lit(mod)) === 0 ||
        pmod(col("doc_id"), lit(mod)) > steps ||
        pmod(col("doc_id"), lit(mod)) <= k)
    else docs.filter(pmod(col("doc_id"), lit(mod)) <= k)

    def warehouseBytes(): Long = {
      val root = java.nio.file.Paths.get("spark-warehouse")
      if (!java.nio.file.Files.exists(root)) 0L
      else {
        val walk = java.nio.file.Files.walk(root)
        try walk.filter(java.nio.file.Files.isRegularFile(_))
          .mapToLong(java.nio.file.Files.size(_)).sum()
        finally walk.close()
      }
    }
    def dfAgg(t: String): DataFrame = spark.table(t)
      .groupBy(col("s")).agg(sum(col("cnt")).as("df"))

    def jstr(s: String) = "\"" + s + "\""
    def fmt(v: Double) = f"$v%.4f"

    val chains = (1 to chainRuns).map { run =>
      spark.catalog.clearCache()
      var idx = PairIndex.materializeDocIndex(base, "doc_id", "text",
        keepPostings = true)
      val cap = PairIndex.readStamp(spark, idx.pairsTable).maxDocFreq
      val stepRows = (1 to steps).map { k =>
        // untimed pre-advance df snapshot: eager localCheckpoint so the
        // flip count later reads a flat block scan, immune to the
        // in-place append mutating the df table underneath
        val dfPre = dfAgg(idx.dfTable.get)
          .select(col("s"), col("df").as("df0")).localCheckpoint(true)
        Telemetry.drain()
        val t0 = System.nanoTime()
        val adv = PairIndex.advanceDocIndex(spark, idx, slice(k),
          "doc_id", "text", frozenCaps = true)
        val wallAdv = (System.nanoTime() - t0) / 1e9
        val tel = Telemetry.drain()
        PairIndex.dropSuperseded(spark, idx, adv.idx)
        idx = adv.idx
        val flips = dfAgg(idx.dfTable.get)
          .join(dfPre, Seq("s"), "left")
          .filter(coalesce(col("df0"), lit(0L)) >= 1 &&
            ((coalesce(col("df0"), lit(0L)) <= cap) =!= (col("df") <= cap)))
          .count()
        // the audit bar: exact from-scratch reference on slices 0..k
        val t1 = System.nanoTime()
        val exact = PairIndex.materializeDocIndex(upTo(k), "doc_id", "text",
          keepPostings = true)
        val wallRebuild = (System.nanoTime() - t1) / 1e9
        val drift = PairIndex.pairDrift(spark, idx, exact)
        val (curE, curF, curDiff) =
          PairIndex.curationDrift(spark, idx, exact, "doc_id", "text")
        PairIndex.dropDocIndex(spark, exact)
        // round-15 (VERDICT item 1): the ladder VALIDATES the cheap
        // online estimator against the measured drift it can afford to
        // compute (this exact reference) and production cannot — the
        // contract is est within ~2x of measured at every step
        val est = PairIndex.driftEstimate(spark, idx)
        val measSpurFrac =
          drift.nPairsSpurious.toDouble / math.max(drift.nPairsExact, 1L)
        def ratio(e: Double, m: Double): Double =
          if (m <= 0) if (e <= 0) 1.0 else Double.PositiveInfinity else e / m
        val estVsMean = ratio(est.estMeanScoreDrift, drift.meanAbsJaccardDelta)
        val estVsSpur = ratio(est.estSpuriousFrac, measSpurFrac)
        val wh = warehouseBytes()
        println(f"[drift] run=$run k=$k adv=${wallAdv}%.1fs rebuild=${wallRebuild}%.1fs " +
          f"flips=$flips driftFrac=${drift.fracPairsDrifted}%.4f " +
          f"curDiff=$curDiff/${curE} wh=${wh / (1L << 20)}MB " +
          f"estMean=${est.estMeanScoreDrift}%.6f/meas=${drift.meanAbsJaccardDelta}%.6f " +
          f"(x${estVsMean}%.2f) estSpur=${est.estSpuriousFrac}%.6f/meas=${measSpurFrac}%.6f " +
          f"(x${estVsSpur}%.2f)")
        val telJson = tel.toSeq.sortBy(_._1)
          .map { case (m, v) => jstr(m) + ":" + v }.mkString("{", ",", "}")
        s"""{"k":$k,"new_docs":${adv.newDocs},"evicted":${adv.evicted},
           |"advance_wall_sec":${fmt(wallAdv)},"rebuild_wall_sec":${fmt(wallRebuild)},
           |"advance_vs_rebuild_wall":${fmt(wallAdv / wallRebuild)},
           |"cap_flips":$flips,
           |"pairs_exact":${drift.nPairsExact},"pairs_frozen":${drift.nPairsFrozen},
           |"pairs_common":${drift.nPairsCommon},"score_drifted":${drift.nScoreDrifted},
           |"max_abs_jaccard_delta":${fmt(drift.maxAbsJaccardDelta)},
           |"mean_abs_jaccard_delta":${f"${drift.meanAbsJaccardDelta}%.6f"},
           |"p99_abs_jaccard_delta":${f"${drift.p99AbsJaccardDelta}%.6f"},
           |"pairs_missing":${drift.nPairsMissing},"pairs_spurious":${drift.nPairsSpurious},
           |"frac_pairs_drifted":${fmt(drift.fracPairsDrifted)},
           |"curation_exact":$curE,"curation_frozen":$curF,
           |"curation_sym_diff":$curDiff,
           |"frac_curation_drift":${fmt(curDiff.toDouble / math.max(curE, 1L))},
           |"est_mean_score_drift":${f"${est.estMeanScoreDrift}%.6f"},
           |"est_spurious_frac":${f"${est.estSpuriousFrac}%.6f"},
           |"est_cum_flips":${est.capFlips},"est_cum_holders":${est.flipHolders},
           |"est_vs_measured_mean":${fmt(estVsMean)},
           |"est_vs_measured_spurious":${fmt(estVsSpur)},
           |"warehouse_bytes":$wh,
           |"advance_telemetry":$telJson}""".stripMargin.replaceAll("\n", "")
      }
      PairIndex.dropDocIndex(spark, idx)
      s"""{"run":$run,"steps":[${stepRows.mkString(",")}]}"""
    }

    val out =
      s"""{"metric":"drift_ladder","sf":"$sfDir","mod":$mod,"steps":$steps,""" +
        s""""base":"${if (baseRest) "rest" else "slice0"}","chain_runs":$chainRuns,""" +
        s""""chains":[${chains.mkString(",")}]}"""
    println(out)
    sys.env.get("SPARK_GRAFT_DRIFT_OUT").filter(_.nonEmpty).foreach { p =>
      val path = java.nio.file.Paths.get(p)
      Option(path.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(path,
        out.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    println(s"""DRIFTLADDER OK chains=$chainRuns mod=$mod""")
    spark.stop()
  }
}
