package graft

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.extract.{ExtractConfig, Extractor, ExtractorState}
import graft.model.PageRow
import graft.pipeline.CorpusSource

/** Bench harness (driver contract: ONE JSON line on stdout).
  *
  * Surfaces, mirroring BASELINE.json:
  *  1. extraction throughput (docs/sec) over a pre-materialized parquet corpus
  *     (scan → mapPartitions extract → reduce; the real pipeline shape), at
  *     parallelism levels 2 / 8 / 32 on the same input. Scaling efficiency
  *     N→4N is reported for 2→8 and 8→32. Sandbox note: this VM shows 3-7%
  *     CPU steal and ~13.5 effective cores at 32 threads (measured with a pure
  *     spin loop), so 8→32 is capacity-capped by the host; 2→8 is the honest
  *     N-vs-4N evidence. Best-of-k trials filter steal spikes — the analog of
  *     the reference's warmup-skipped steady-state mean
  *     (benchmark/analysis.py:230-294).
  *  2. per-query wall seconds for every SparkEntry query on SPARK_GRAFT_SF_DIR
  *     (driver runs this per round → BENCH_r{N}.json).
  */
object Bench {

  private def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-bench-$cpus")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Materialize the deterministic corpus once (page-cached across levels). */
  private def ensureCorpus(dir: String, n: Long): Unit = {
    if (new File(dir, "_SUCCESS").exists()) return
    val s = session(8)
    try CorpusSource.pages(s, n, partitions = 64)
      .write.mode("overwrite").parquet(dir)
    finally s.stop()
  }

  /** One extraction job over the parquet corpus repeated `repeat`× via union
    * (ONE job — per-job submit/schedule overhead is paid once, not per
    * repeat, so higher parallelism levels aren't penalized by fixed costs in
    * their shorter windows); returns (wallSec, checksum, stage nanos). The
    * checksum is an order-independent sum of per-row murmur3(url + text) —
    * identical across parallelism levels iff extraction is byte-identical
    * (north-rule determinism evidence); for repeat=r it is r× the single-pass
    * value, so determinism is compared on repeat=1 runs. */
  private def extractRun(spark: SparkSession, dir: String,
                         repeat: Int = 1): (Double, Long, Map[String, Long]) = {
    val sc = spark.sparkContext
    val accTok = sc.longAccumulator("tokenizeNanos")
    val accDom = sc.longAccumulator("domNanos")
    val accCls = sc.longAccumulator("classifyNanos")
    val accAsm = sc.longAccumulator("assembleNanos")
    val accPdf = sc.longAccumulator("pdfNanos")
    import spark.implicits._
    val base = spark.read.parquet(dir).as[PageRow]
    val pages = Seq.fill(repeat)(base).reduce(_ union _)
    val t0 = System.nanoTime()
    val checksum = pages.mapPartitions { it =>
      val state = new ExtractorState()
      val out = it.map { p =>
        val d = Extractor.extract(p.url, p.html, ExtractConfig(), state)
        scala.util.hashing.MurmurHash3.stringHash(d.url + "\n" + d.text).toLong
      }.toArray.iterator // drain, then flush stage nanos once per partition
      accTok.add(state.tokenizeNanos); accDom.add(state.domNanos)
      accCls.add(state.classifyNanos); accAsm.add(state.assembleNanos)
      accPdf.add(state.pdfNanos)
      out
    }.reduce(_ + _)
    val wall = (System.nanoTime() - t0) / 1e9
    (wall, checksum, Map("tokenize" -> accTok.value, "dom" -> accDom.value,
      "classify" -> accCls.value, "assemble" -> accAsm.value, "pdf" -> accPdf.value))
  }

  import JsonOut.{fmt, jstr}

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val nDocs = sys.env.getOrElse("SPARK_GRAFT_BENCH_DOCS", "30000").toLong
    val trials = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_TRIALS", "4").toInt)
    // cache key = content fingerprint of the generator output, NOT a
    // hand-bumped version string — any Corpus/RealPdfGen change invalidates
    // the cached corpus automatically (a stale cache would benchmark old
    // payloads against new code)
    val corpusDir = {
      val md = java.security.MessageDigest.getInstance("MD5")
      // 128 pages = 8 full cycles of the 16 categories, so every (index/16)%k
      // variant selector (charset variants 0-7, table/PDF A/B forms) feeds the
      // fingerprint — 64 covered only cycles 0-3 and missed generator changes
      // in the later variants (stale-cache hole)
      (0 until 128).foreach { i =>
        val g = graft.corpus.Corpus.page(42L, i)
        md.update(g.row.html)
        md.update(g.expectedText.getBytes("UTF-8"))
      }
      val fp = md.digest().take(6).map("%02x".format(_)).mkString
      s"/tmp/graft_bench_corpus_${fp}_$nDocs"
    }
    ensureCorpus(corpusDir, nDocs)
    val bytes = { // corpus payload volume (for MB/s)
      val s = session(8)
      try s.read.parquet(corpusDir).agg(sum(length(col("html")))).head.getLong(0)
      finally s.stop()
    }

    // --- phase 1: scaling levels ---
    // The sandbox VM has bursty CPU steal, so a single long run per level is
    // easily contaminated. Instead: trials are interleaved round-robin across
    // levels (a steal burst hits all levels equally in expectation) and each
    // level keeps its best trial. Higher levels run the corpus several times
    // per trial so every measurement window is a comparable length.
    val levels = Seq(1, 2, 4, 8, cpus).distinct
    // repeats scale with the level so every window is a comparable ~9s length
    // AND long enough that (a) steal bursts average out and (b) the one-time
    // job setup (~0.3s) is the SAME small fraction of every window — with
    // r=1 at level 1 the setup was 14% of its window vs 3% at level 32,
    // which overstated efficiency to a superlinear raw 1.02 (the union
    // inside extractRun keeps each window one job regardless of r)
    val repeats: Map[Int, Int] = levels.map(l => l -> math.max(4, l * 4)).toMap
    val best = scala.collection.mutable.Map.empty[Int, (Double, Double, Map[String, Long])]
    val roundRates = Array.fill(trials)(scala.collection.mutable.Map.empty[Int, Double])
    val checksums = scala.collection.mutable.Map.empty[Int, Long]
    var warmed = false
    for (trial <- 0 until trials; lvl <- levels) {
      val s = session(lvl)
      try {
        if (!warmed) { extractRun(s, corpusDir); warmed = true } // JIT warmup, discarded
        if (trial == 0) // single-pass checksum: the cross-level determinism probe
          checksums(lvl) = extractRun(s, corpusDir)._2
        val r = repeats(lvl)
        val (wall, _, stages) = extractRun(s, corpusDir, r)
        val docsPerSec = nDocs.toDouble * r / wall
        roundRates(trial)(lvl) = docsPerSec
        if (!best.contains(lvl) || docsPerSec > best(lvl)._1)
          best(lvl) = (docsPerSec, wall, stages)
      } finally s.stop()
    }
    val deterministic = checksums.values.toSet.size == 1

    def rate(l: Int): Double = best.get(l).map(_._1).getOrElse(0.0)
    // Efficiency methodology: every level's window is the same ~9s length
    // with the same ~3% fixed-cost share, so the BEST window per level is
    // the steady-state estimate with steal bursts filtered SYMMETRICALLY
    // (both sides of the ratio take their best — no one-sided bias). The
    // per-round median is reported alongside as the contamination-inclusive
    // view: on this host, bursty steal lands in most 9s windows, so the
    // median understates the engine and the gap between the two numbers IS
    // the measured steal, not a free parameter.
    // returns (clamped, raw): clamp at 1.0 — super-linear ratios are noise
    // artifacts (the N-level window was slowed, not the 4N-level sped up)
    def bestEff(nLvl: Int, n4Lvl: Int, factor: Double): (Double, Double) = {
      val a = rate(nLvl); val b = rate(n4Lvl)
      if (a <= 0) (0.0, 0.0) else { val e = (b / a) / factor; (math.min(e, 1.0), e) }
    }
    def medianRoundEff(nLvl: Int, n4Lvl: Int, factor: Double): Double = {
      val effs = roundRates.toSeq.flatMap { m =>
        for (a <- m.get(nLvl); b <- m.get(n4Lvl) if a > 0) yield (b / a) / factor
      }.sorted
      if (effs.isEmpty) 0.0 else effs(effs.size / 2)
    }
    val (eff1to4, eff1to4Raw) = bestEff(1, 4, 4.0)
    val (eff2to8, eff2to8Raw) = bestEff(2, 8, 4.0)
    val (eff8toN, eff8toNRaw) =
      if (cpus != 8) bestEff(8, cpus, cpus / 8.0) else (1.0, 1.0)
    val med1to4 = medianRoundEff(1, 4, 4.0)
    val med2to8 = medianRoundEff(2, 8, 4.0)
    val stagesN = best(cpus)._3
    val stageJson = stagesN.toSeq.sortBy(_._1) // per single corpus pass
      .map { case (k, v) => s""""$k":${fmt(v / 1e9 / repeats(cpus))}""" }
      .mkString("{", ",", "}")

    // --- phase 2: per-query bench on the driver's sf dir ---
    // noop sink, NOT count(): count() lets the optimizer prune every
    // projected column, so pure-projection queries would measure only their
    // scan (observed: a row-local signature query "took" 0.24s by computing
    // nothing). The noop writer consumes full rows.
    val spark = session(cpus)
    // each query runs in a job group named after it, so listener metrics
    // (shuffle, spill, task skew) attach to the query
    val sc = spark.sparkContext
    val results = SparkEntry.registry.filter(_.benched).sortBy(_.name).map { q =>
      sc.setJobGroup(q.name, s"bench ${q.name}")
      val t0 = System.nanoTime()
      val ok = try {
        q.run(spark, sfDir).write.mode("overwrite").format("noop").save(); true
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] ${q.name} failed: ${Verify.failure(e)}"); false
      } finally sc.clearJobGroup()
      q.name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // failures stay visible as -1.0 in the per-query map but must NOT shrink
    // the headline total (summing the sentinel made breakage look faster)
    val total = results.map(_._2).filter(_ >= 0).sum
    val extractJson =
      s"""{"docs":$nDocs,"bytes":$bytes,""" +
      levels.map(l => s""""docs_per_sec_$l":${fmt(rate(l))}""").mkString(",") + "," +
      s""""mb_per_sec_$cpus":${fmt(rate(cpus) * bytes / nDocs / 1e6)},""" +
      s""""scaling_efficiency_1_to_4":${fmt(eff1to4)},""" +
      s""""scaling_efficiency_1_to_4_raw":${fmt(eff1to4Raw)},""" +
      s""""scaling_efficiency_2_to_8":${fmt(eff2to8)},""" +
      s""""scaling_efficiency_2_to_8_raw":${fmt(eff2to8Raw)},""" +
      s""""scaling_efficiency_8_to_$cpus":${fmt(eff8toN)},""" +
      s""""scaling_efficiency_8_to_${cpus}_raw":${fmt(eff8toNRaw)},""" +
      s""""scaling_efficiency_1_to_4_median_round":${fmt(med1to4)},""" +
      s""""scaling_efficiency_2_to_8_median_round":${fmt(med2to8)},""" +
      s""""deterministic_across_levels":$deterministic,""" +
      s""""trials":$trials,"stage_sec_$cpus":$stageJson}"""
    val line =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,""" +
      s""""sf":${jstr(sfDir)},"extract":$extractJson}"""
    println(line)
    // the driver tails sbt output where every line carries an [info]/[error]
    // prefix (BENCH_r01.json came back parsed:null); a file is prefix-proof
    val outPath = sys.env.getOrElse("BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), line + "\n")
    catch { case e: Exception => System.err.println(s"[bench] write $outPath: ${e.getMessage}") }
    spark.stop()
  }
}
