package graft
object Bench {
  private def load1(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString
      .split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  // START GATE (round 17): the round-16 archive carried a 63 s headline
  // whose true idle cost was ~41 s — a co-tenant burst at launch time,
  // adjudicable from max_spread/load1 but still a misleading headline.
  // When load1 at start exceeds the gate, wait once for the burst to
  // pass and re-sample; if the box is STILL loaded, run anyway but
  // stamp `"degraded_box":true` into the summary so the artifact
  // disqualifies itself as a regression exhibit. A load1 of -1
  // (no /proc/loadavg) never gates. Pure logic split out for BenchGateSpec.
  private[graft] val LoadGate = 2.0
  private[graft] def degradedGate(first: Double, resample: () => Double,
      gate: Double = LoadGate, sleepMs: Long = 30000L): (Boolean, Double) =
    if (first < 0 || first <= gate) (false, first)
    else {
      if (sleepMs > 0) Thread.sleep(sleepMs)
      val second = resample()
      (second > gate, second)
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local("graft-bench")
    val (degraded, loadStart) = degradedGate(load1(), () => load1())
    // Queries run in catalog (name) order with one untimed warm pass
    // each: the warm pass absorbs one-time JIT/codegen/scan-setup cost
    // that otherwise lands on whichever query a Map iterates first.
    val names = SparkEntry.queries.keys.toSeq.sorted
    // Per-query progress on STDERR (round 17): both sf10 bench
    // attempts died at their wall-clock timeouts with ZERO data
    // because the one JSON line prints only at the end. stderr is not
    // part of the archived artifact line, so progress there is free —
    // and a killed run now leaves enough to name the super-linear
    // query instead of an open question.
    def progress(tag: String, name: String, sec: Double): Unit =
      System.err.println(
        f"[bench] $tag $name ${math.rint(sec * 1000) / 1000}%s s")
    names.foreach { name =>
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir).count()
      catch { case _: Throwable => () }
      progress("warm", name, (System.nanoTime() - t0) / 1e9)
    }
    // Three timed passes, report the per-query MIN (the BENCH_sf1.json
    // convention, adopted for round benches too): single-pass numbers
    // jitter up to ±60% per query under VM noise, and min-of-3 is the
    // stable estimator of the query's actual cost on this box. The
    // per-query max/min ratio is emitted alongside ("spread") so a
    // round-over-round delta can be read against the measured noise
    // band instead of re-litigated. A query that throws reports -1 so
    // a deterministic failure is never mistaken for a fast run.
    //
    // NOISE DEFENSE (round 15, after r14's artifact archived q89 at
    // 7.4× its idle cost): any query whose spread still exceeds 2×
    // after the three passes gets up to two EXTRA passes — a co-tenant
    // burst that inflates all three mins leaves a wide spread behind,
    // and the re-run gives the min a window past the burst. The
    // summary also carries /proc/loadavg at start and end plus the
    // worst surviving spread, so an inflated headline can be
    // adjudicated from the artifact alone.
    // SPARK_GRAFT_BENCH_RUNS (round 17): min-of-3 stays the artifact
    // convention, but a 124-query registry at sf10 costs ~2.5 h under
    // it — a single-pass reading (runs=1, warm pass kept) is the
    // honest alternative for big-SF receipts, and the artifact carries
    // `runs` so a reader prices the weaker noise defense.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val SpreadRerun = 2.0
    val results = names.map { name =>
      def timed(): Double = {
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      val ts = try {
        var s = Seq.fill(runs)(timed())
        var extra = 0
        while (s.max / s.min > SpreadRerun && extra < 2) {
          s = s :+ timed(); extra += 1
        }
        s
      } catch { case _: Throwable => Seq(-1.0) }
      progress("min", name, ts.min)
      name -> ts
    }
    // All times millisecond-rounded: nanosecond noise is not signal,
    // and the archived artifact is the driver's 2000-char TAIL capture
    // of this line — every byte of false precision pushes real queries
    // out of the window.
    def ms(x: Double): Double = math.rint(x * 1000) / 1000
    def jmap(f: Seq[Double] => Double, key: String => String = identity) =
      results.map { case (k, ts) => "\"" + key(k) + "\":" + f(ts) }
        .mkString("{", ",", "}")
    val qs = jmap(ts => ms(ts.min))
    def spreadOf(ts: Seq[Double]): Double =
      if (ts.min > 0) math.rint(ts.max / ts.min * 100) / 100 else -1.0
    val spread = jmap(spreadOf)
    val total = ms(results.map(_._2.min).filter(_ >= 0).sum)
    val failed = results.count(_._2.min < 0)
    val maxSpread = (results.map(r => spreadOf(r._2)) :+ 0.0).max
    val loadEnd = load1()
    // Tail self-containment: the driver archives only the LAST 2000
    // characters of this line (plus an sbt trailer), and the full-name
    // queries map alone is ~2.6k — r11's artifact lost q01–q40. So the
    // line's FINAL key is a compact summary that is itself complete
    // and well under the window: headline total/failed, adjudication
    // data (worst spread + box load at start/end — a loaded box shows
    // up here, not as a phantom regression), the slowest ten by full
    // name, and every query's min time keyed by its short id
    // ("q42_contamination" → "q42"; ids are unique by construction —
    // q60/q60b stay distinct). A reader holding only the tail parses
    // the substring from `"summary":` to the line's closing brace and
    // has the whole bench; the full-name map earlier on the line is
    // for whole-line readers.
    val top = results
      .filter(_._2.min >= 0).sortBy(-_._2.min).take(10)
      .map { case (k, ts) => "\"" + k + "\":" + ms(ts.min) }
      .mkString("{", ",", "}")
    val shortTimes = jmap(ts => ms(ts.min), _.takeWhile(_ != '_'))
    val summary =
      s"""{"total_s":$total,"failed":$failed,"max_spread":$maxSpread,""" +
        s""""degraded_box":$degraded,""" +
        s""""load1":[$loadStart,$loadEnd],"top":$top,"t":$shortTimes}"""
    println(s"""{"metric":"total","value":$total,"unit":"sec","failed":$failed,"runs":$runs,"sf":"$sfDir","spread":$spread,"queries":$qs,"summary":$summary}""")
    spark.stop()
  }
}
