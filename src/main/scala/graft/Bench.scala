package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_ONLY=q_a,q_b restricts the run for isolated
    // profiling (the shared-JVM bench shows cross-query noise);
    // unset = full suite, the driver contract.
    val selected = Session.selected()
    val spark = Session.local()
    // Warm the JVM once before timing: JIT + whole-stage-codegen
    // compilation paths (scan, hash agg, shuffle, sort-merge join)
    // otherwise land on whichever queries happen to run first. This
    // warms no query-specific data — each timed query still scans
    // parquet cold.
    locally {
      import org.apache.spark.sql.functions._
      val w = spark.range(1000000).select(col("id"),
        (col("id") % 97).as("k"), (col("id") % 7).cast("string").as("s"))
      w.groupBy("k").agg(sum("id"), countDistinct("s")).count()
      w.as("a").join(w.as("b"), "k").filter(col("a.id") < 10).count()
    }
    // SPARK_GRAFT_REPS=N records min-of-N per query (the isolated
    // re-measure protocol for adjudicating co-tenant noise spikes);
    // default 1 = the driver's single cold run.
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "1").toInt
    // A failed query records -1 (NOT a fake timing) and is listed in
    // "failed" — a broken query must never look fast.
    val results = selected.map { case (name, fn) =>
      try {
        val times = (1 to reps).map { _ =>
          spark.sparkContext.setJobDescription(name)
          val t0 = System.nanoTime()
          // noop sink, NOT count(): under count() Catalyst prunes
          // every unreferenced output column and can eliminate a
          // final join whose right side has provably-unique keys —
          // q_dedup_substring's coverage join timed as a bare base
          // scan that way. The noop write forces every output column
          // of every row to be produced, which is what the DuckDB
          // denominator's fetchall() pays too.
          fn(spark, sfDir).write.mode("overwrite").format("noop").save()
          val dt = (System.nanoTime() - t0) / 1e9
          // drop persisted state BETWEEN queries, outside the timed
          // region (r17 measurement hygiene, guide §1/§5): each
          // query's materializeAndRelease result stays cached after
          // its noop write, so a full 262-query run accumulated every
          // result block in the one JVM — later queries paid the GC /
          // eviction pressure of earlier ones. No result reuse is
          // possible across queries (each re-derives from parquet),
          // so clearing only removes cross-query interference.
          spark.catalog.clearCache()
          dt
        }
        spark.sparkContext.setJobDescription(null)
        name -> times.min
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        name -> -1.0
      }
    }
    val failed = results.filter(_._2 < 0).keys.map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    val total = results.values.filter(_ >= 0).sum
    // Full-precision per-query timings go to a file; stdout gets ONE
    // compact summary line (~120 chars) as the FINAL line. The driver
    // captures only a 2000-char tail of stdout, and even the rounded
    // per-query map (~100 queries) overflows it (BENCH_r04..r07 all
    // recorded "parsed": null) — so the map stays OUT of stdout
    // entirely; anyone wanting per-query numbers reads the detail
    // file.
    val detail = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val detailPath = java.nio.file.Paths.get("target/bench_detail.json")
    java.nio.file.Files.createDirectories(detailPath.getParent)
    java.nio.file.Files.write(detailPath,
      s"""{"queries":$detail,"failed":$failed,"total":$total,"sf":"$sfDir"}"""
        .getBytes("UTF-8"))
    val totalR = BigDecimal(total).setScale(3, BigDecimal.RoundingMode.HALF_UP)
    // r18 (VERDICT item 1): the driver keeps only a ~2000-char stdout
    // tail, so the final JSON line ALSO carries a "queries" map of the
    // SLOWEST queries up to a fixed character budget (~35-45 entries)
    // — enough for per-query round-over-round deltas and the low-core
    // scaling ratios to be computed from driver-captured data alone
    // (PERF_r17 had per_query={} because stdout had only the total).
    // The full-precision 262-entry map still goes to the detail file;
    // the committed BENCH_detail_r<N>.json artifact is a copy of it.
    val slowest = new StringBuilder
    locally {
      var budget = 1500 // chars for the map body; line stays < 1800
      results.toSeq.filter(_._2 >= 0).sortBy(-_._2).foreach {
        case (k, v) =>
          val r = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP)
          val e = s""""$k":$r"""
          if (e.length + 1 <= budget) {
            if (slowest.nonEmpty) slowest.append(',')
            slowest.append(e)
            budget -= e.length + 1
          }
      }
    }
    println(s"""{"metric":"total","value":$totalR,"unit":"sec","n_queries":${results.size},"failed":$failed,"queries":{$slowest},"sf":"$sfDir"}""")
    spark.stop()
  }
}
