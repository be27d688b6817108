package graft.tools

/** Round-17 host-health CALIBRATION (round-16 verdict #2): the round-8
  * "host block ≤ ~2.3 s" gate was derived on hardware that no longer
  * exists (the disk now measures ~2.5× slower at parquet writes even
  * idle), so every round since has had to adjudicate a stale threshold by
  * hand. This tool derives the replacement: N same-JVM repetitions of the
  * EXACT primitive block Bench embeds in every BENCH_DETAIL (after the
  * same warmup Bench runs), per-term medians, and a recommended
  * trusted-window gate = median total × 1.3. Run on an idle machine; the
  * printed load averages are part of the record. Output lands in PLANS.md
  * as the calibration block the per-round host_s is judged against.
  *
  * sbt "runMain graft.tools.CalibrateHost <sfDir> [reps]"
  */
object CalibrateHost {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (args.length > 1) args(1).toInt else 5
    val spark = graft.core.GraftSession.local("graft-calibrate")
    spark.sparkContext.setLogLevel("WARN")
    // Bench's warmup: the calibrated numbers must measure the same
    // post-JIT state the embedded host block measures. Bench's
    // host_s is the block's FIRST same-JVM run after this warmup, so the
    // gate must be calibrated on run 1 of a FRESH JVM (run this tool N
    // times); runs 2+ document the steady-state floor (page cache + full
    // JIT), useful to separate disk speed from first-run listing/codegen.
    graft.bench.DimRunner.warmup(spark)
    val load0 = java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

    val runs = (1 to reps).map { r =>
      val b = HostProbe.primitives(spark, d)
      println(s"run $r: total=${b.map(_._2).sum}")
      b
    }
    val terms = runs.head.map(_._1)
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val med = terms.map { t =>
      t -> median(runs.map(_.find(_._1 == t).get._2))
    }
    val totals = runs.map(_.map(_._2).sum)
    val medTotal = median(totals)
    val loadN = java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val termJson = med.map { case (k, v) => s""""$k":${f"$v%.3f"}""" }.mkString("{", ",", "}")
    val firstJson = runs.head.map { case (k, v) => s""""$k":${f"$v%.3f"}""" }.mkString("{", ",", "}")
    println(s"""{"calibration":"host","sf":"$d","reps":$reps,""" +
      s""""load_before":$load0,"load_after":$loadN,""" +
      s""""bench_comparable_first_run_s":${f"${totals.head}%.3f"},"first_run_terms":$firstJson,""" +
      s""""totals":[${totals.map(t => f"$t%.3f").mkString(",")}],""" +
      s""""steady_median_total_s":${f"$medTotal%.3f"},""" +
      s""""medians":$termJson}""")
    spark.stop()
  }
}
