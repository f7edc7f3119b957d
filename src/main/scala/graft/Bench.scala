package graft
/** Timed run of the registered queries: warm-up, then per query the min
  * of 3 noop-sink passes (the record also keeps all three). Optional
  * argument: a comma-separated query subset (`runMain graft.Bench
  * q_tpch1,q_tpch3`); without one every registered query runs. Input
  * dir from `SPARK_GRAFT_SF_DIR`, record path from
  * `SPARK_GRAFT_BENCH_OUT`. */
object Bench {
  def main(args: Array[String]): Unit = {
    val selected = SparkEntry.select(args.headOption)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    // warm the session (codegen compiler, parquet footers, shuffle
    // infra, window/generate/join codegen paths) so the first timed
    // queries don't absorb one-time JIT costs — r1 showed the first
    // heavy queries in sort order paying multi-second compile storms
    SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    val warmSf = "/root/testdata/sf0.001"
    Seq("q_dedup_exact", "q_win_rows", "q_events_sessionize", "q_inner_join")
      .foreach { q =>
        try SparkEntry.queries(q)(spark, warmSf)
          .write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          System.err.println(s"[bench] warmup $q failed: ${e.getMessage}")
        }
      }
    // release the checkpoint blocks a query's build left (iterative
    // operators and shared subplans materialize) and force a full GC
    // so the next query's timing doesn't pay this one's garbage — the
    // r2 bench showed a 2-5× band on untouched queries that ran right
    // after the heavy tail, which made real regressions undiagnosable
    def settle(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      spark.catalog.clearCache()
      System.gc()
    }
    val results = selected.map { case (name, fn) =>
      // min over 3 passes: pass 1 absorbs residual JIT/GC noise, the
      // min is the reproducible cost of the plan itself (the driver's
      // per-round comparisons need a low-variance statistic — totals
      // on this rig swing ±10% with machine load, which min-of-3
      // suppresses; a wall-clock average would keep that noise)
      val times = (1 to 3).map { _ =>
        settle()
        val t0 = System.nanoTime()
        // noop sink executes the full plan; count() would let Catalyst
        // prune the projected work and under-measure
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
          }
        // a failed query reports -1, never a misleading partial elapsed time
        if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      }
      (name, if (times.exists(_ < 0)) -1.0 else times.min, times)
    }
    // stdout: one small line per query, then ONE closing total line.
    // A reader that keeps only the tail of the output cut the old
    // single-line per-query map mid-line; short lines survive any tail
    // cut whole, and the total line always comes last.
    results.foreach { case (name, sec, _) =>
      println(s"""{"metric":"query","query":"$name","value":$sec,"unit":"sec","stat":"min_of_3"}""")
    }
    val failed = results.collect { case (k, v, _) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.map(_._2).filter(_ >= 0).sum
    val head =
      s"""{"metric":"total","value":$total,"unit":"sec","stat":"min_of_3","n":${results.size},"failed":$failed,"sf":"$sfDir""""
    println(head + "}")
    // bench.json keeps the whole record on one line: the total line's
    // fields, the per-query min (`queries`) and every pass's time
    // (`reps`, so the spread between passes is on record too). The
    // path is env-overridable and logged ABSOLUTE so a run from another
    // cwd can't silently leave a stale repo-root snapshot looking current.
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val reps = results
      .map { case (k, _, ts) => "\"" + k + "\":" + ts.mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val line = s"""$head,"queries":$qs,"reps":$reps}"""
    val outPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench.json"))
      .toAbsolutePath
    try {
      java.nio.file.Files.write(outPath, (line + "\n").getBytes("UTF-8"))
      System.err.println(s"[bench] wrote $outPath")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] $outPath write failed: ${e.getMessage}")
    }
    spark.stop()
  }
}
