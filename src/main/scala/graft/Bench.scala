package graft

/** Per-round benchmark main: every registered query against
  * $SPARK_GRAFT_SF_DIR, one JSON line on stdout. Timing notes:
  * queries run in name order after one untimed warm-up query (JIT +
  * codegen + parquet footer caches are session costs, not query costs);
  * each query is forced through the `noop` sink so the FULL plan
  * executes (a bare count() lets Spark skip final sorts and prune
  * columns); the cache is cleared between queries — OUTSIDE the timed
  * window — so none benefits from a predecessor's persisted subplan.
  *
  * Failures are explicit: a query that throws reports its elapsed time
  * under "queries" as usual but is listed in "errors" and flips
  * "ok":false — a broken query must never masquerade as a speedup.
  *
  * Median mode: $SPARK_GRAFT_BENCH_RUNS=N (default 1 — the driver's
  * invocation is unchanged) times each query N times back-to-back and
  * reports the per-query MEDIAN. Six of thirteen rounds burned a
  * judge/builder round-trip adjudicating zero-code-change timing
  * bursts that were pure host contention; a median over 3 runs
  * absorbs a one-off spike at the query level, where the burst
  * actually lands. Per-run times still stream to the sidecar
  * ("all_runs") so a spike remains visible, never operative.
  *
  * The per-query record is ALSO written incrementally (one JSON line
  * per query, flushed as each finishes) to a sidecar file
  * ($SPARK_GRAFT_BENCH_OUT, default /root/repo/bench_local.json, with
  * the total record last):
  * the driver keeps only a bounded tail of stdout, and from round 8 the
  * 124-query detail line outgrew that window — its head (alphabetically
  * a–i) was lost two rounds running. A file the harness never truncates
  * is the durable record; stdout keeps the compact total line as the
  * driver's operative metric.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = LocalSession.sfDir
    val spark = LocalSession.build()
    LocalSession.warmUp(spark, sfDir)
    // per-query times at 3 decimals: the full line's length is what put
    // round 2's tail (23 queries AND the total) past the driver's
    // capture window; millisecond precision is noise at these runtimes.
    // Locale.ROOT: a comma-decimal default locale would otherwise turn
    // every number into invalid JSON — the same failure class the
    // total-first line exists to prevent.
    def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    // Truncation-proof per-query sidecar: append + flush one JSON line
    // as each query finishes, so a crash mid-run still leaves every
    // completed query's number on disk. Failure to open it must not
    // fail the bench (e.g. read-only checkout) — stdout still carries
    // the totals.
    val sidecar: Option[java.io.PrintWriter] = scala.util.Try(new java.io.FileWriter(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/root/repo/bench_local.json"),
      false)).toOption.map(new java.io.PrintWriter(_))
    // malformed values fall back to 1 run — the bench must always
    // complete (the sidecar open swallows its failure for the same
    // reason)
    val benchRuns = math.max(1,
      scala.util.Try(sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "1")
        .trim.toInt).getOrElse(1))
    val results = SparkEntry.queries.keys.toSeq.sorted.map { name =>
      val runs = (1 to benchRuns).map { _ =>
        val t0 = System.nanoTime()
        val okRun =
          try { LocalSession.exec(spark, sfDir, name); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache() // untimed: session hygiene, not query cost
        (dt, okRun)
      }
      // lower median for even N — the conservative (faster-claim-proof)
      // side of the tie; identity for the driver's N=1
      val dt = runs.map(_._1).sorted.apply((benchRuns - 1) / 2)
      val ok = runs.forall(_._2)
      sidecar.foreach { w =>
        val extra = if (benchRuns > 1)
          s""","runs":$benchRuns,"all_runs":[${runs.map(r => f3(r._1)).mkString(",")}]"""
        else ""
        w.println(s"""{"query":"$name","sec":${f3(dt)},"ok":$ok,"sf":"$sfDir"$extra}""")
        w.flush()
      }
      (name, dt, ok)
    }
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, _, false) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.map(_._2).sum
    val ok = results.forall(_._3)
    // The driver keeps only the TAIL of stdout (every prior round's
    // capture window held ~2000 chars), so the operative compact line
    // must be printed LAST — round 3 printed it first and it scrolled
    // out, leaving only a head-truncated detail line. The detail line
    // carries a distinct metric name so a consumer grepping for
    // "total" can never double-count or pick the truncation-prone line.
    println(s"""{"metric":"total_detail","value":${f3(total)},"unit":"sec","ok":$ok,"errors":$errs,"queries":$qs,"sf":"$sfDir"}""")
    // Compact per-query vector, printed SECOND-TO-LAST so the driver's
    // ~2000-char stdout tail (which keeps the END) always carries every
    // per-query number: values only, 2 decimals, in sorted-query-name
    // order (the same order as "queries" above and the sidecar lines —
    // names are reconstructible from SparkEntry.queries.keys.sorted).
    // ~190 queries ≈ 1.2 KB, inside the tail window alongside the
    // total line (headroom to ~300 queries); the named detail line
    // keeps full precision for larger captures and the sidecar remains
    // the canonical durable record.
    def f2(v: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    val vec = results.map { case (_, v, _) => f2(v) }.mkString("[", ",", "]")
    println(s"""{"metric":"qvec","unit":"sec","order":"sorted_query_names","n":${results.size},"v":$vec}""")
    println(s"""{"metric":"total","value":${f3(total)},"unit":"sec","ok":$ok,"n_queries":${results.size},"sf":"$sfDir"}""")
    sidecar.foreach { w =>
      w.println(s"""{"metric":"total","value":${f3(total)},"unit":"sec","ok":$ok,"n_queries":${results.size},"errors":$errs,"sf":"$sfDir"}""")
      w.close()
    }
    spark.stop()
  }
}
