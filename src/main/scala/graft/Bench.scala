package graft
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
object Bench {

  /** Force EVERY output column through an xxhash64 checksum aggregate —
    * the ScaleProbe drive, now the bench protocol too. A bare count()
    * lets Catalyst eliminate cardinality-preserving joins (d22/d31/d32's
    * rebuild join vanished and their bench rows priced a partial plan);
    * the checksum materializes the full output the correctness gate
    * writes. Map/variant-bearing columns ride through to_json (xxhash64
    * rejects MapType); the JSON render still forces their computation.
    */
  def forceAll(df: DataFrame): Unit = { checksum(df); () }

  /** The checksum drive itself, returning (row count, xxhash64 sum) —
    * shared with ScaleProbe so the two drives can never drift.
    */
  def checksum(df: DataFrame): (Long, Option[Long]) = {
    import org.apache.spark.sql.types._
    def unhashable(dt: DataType): Boolean = dt match {
      case _: MapType => true
      case _: VariantType => true
      case s: StructType => s.fields.exists(f => unhashable(f.dataType))
      case a: ArrayType => unhashable(a.elementType)
      case _ => false
    }
    val cols: Array[Column] = df.schema.fields.map { f =>
      if (unhashable(f.dataType)) to_json(col(f.name)) else col(f.name)
    }
    val r = df.agg(count(lit(1)).as("n"),
      sum(xxhash64(cols: _*)).as("chk")).first()
    (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))
  }

  /** Wait for a SparkListener's asynchronous events to land: poll
    * `counter` until it reads the same value on two consecutive 200 ms
    * polls, bounded at 30 s. A fixed sleep undercounts on a loaded
    * host, and `listenerBus.waitUntilEmpty` is private[spark]; this is
    * the public-API equivalent the measurement mains share.
    */
  def awaitListenerDrain(counter: => Long): Unit = {
    var prev = -1L
    var stable = 0
    var waited = 0
    while (stable < 2 && waited < 30000) {
      Thread.sleep(200); waited += 200
      val cur = counter
      if (cur == prev) stable += 1 else { stable = 0; prev = cur }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Untimed warmup: JIT + parquet footer/IO caches, so per-query numbers
    // reflect steady state instead of charging startup to the first query.
    Seq("orders", "lineitem", "customer", "part", "documents", "embeddings")
      .foreach { t =>
        try spark.read.parquet(s"$sfDir/$t.parquet").count()
        catch { case _: Throwable => () }
      }
    val errors = scala.collection.mutable.Map[String, String]()
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    // Local-iteration filter: comma-separated query-name prefixes. The
    // driver never sets it, so driver runs always time the full registry.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) =>
      only.forall(_.exists(n.startsWith))
    }
    // Sweep-major reps: run the WHOLE registry `reps` times and take each
    // query's min across sweeps. Back-to-back per-query reps (r3) let a
    // time-localized interference window on the host poison all reps of
    // the queries it overlapped (s01/s05/s06 reported 11 s vs a real 0.2 s);
    // with sweeps, such a window touches each query in at most one sweep
    // and the cross-sweep min discards it. Each run still starts cache-cold
    // (operator-owned persists cleared), so mins are JIT-warm, not
    // residual-cache artifacts.
    val best = scala.collection.mutable.Map[String, Double]()
    val worst = scala.collection.mutable.Map[String, Double]()
    // Host-interference evidence (the round-10 bench drifted +24% on
    // untouched code): 1-minute loadavg sampled at each sweep boundary
    // and per-sweep totals land in BENCH_FULL.json, so a drifted round
    // is attributable (loadavg highs + wide per-query spread = noisy
    // host; flat loadavg + uniform slowdown = real regression).
    def loadavg(): Double =
      try scala.io.Source.fromFile("/proc/loadavg").mkString
        .split("\\s+")(0).toDouble
      catch { case _: Throwable => -1.0 }
    val loads = scala.collection.mutable.ArrayBuffer(loadavg())
    val sweepTotals = scala.collection.mutable.ArrayBuffer[Double]()
    (1 to reps).foreach { _ =>
      var sweepTotal = 0.0
      selected.foreach { case (name, fn) =>
        CacheScope.harness.release()
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        try {
          forceAll(fn(spark, sfDir))
          val dt = (System.nanoTime() - t0) / 1e9
          best(name) = math.min(best.getOrElse(name, Double.MaxValue), dt)
          worst(name) = math.max(worst.getOrElse(name, 0.0), dt)
          sweepTotal += dt
          errors.remove(name)
        } catch {
          // A transient single-sweep failure must not erase a measured
          // query: report an error only when no sweep ever succeeded.
          case e: Throwable if !best.contains(name) =>
            errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
              .take(200).replaceAll("[\"\\\\\\n\\r\\t]", " ")
          case _: Throwable => ()
        }
      }
      sweepTotals += sweepTotal
      loads += loadavg()
    }
    val results = selected.map { case (name, _) =>
      name -> best.getOrElse(name, 0.0)
    }
    val ok = results.filterNot { case (k, _) => errors.contains(k) }
    // The driver captures only the last ~3 KB of output. r3's 3-decimal
    // line overflowed it; r4's 94-query centisecond line (~3.6 KB) STILL
    // overflowed it ("parsed": null, front of the line cut). The registry
    // only grows, so a full per-query line can never be made safe again:
    // the printed line now carries the total plus the slowest queries up
    // to a hard byte budget, and the complete map goes to BENCH_FULL.json
    // next to the build (committed per round for the judge).
    def cs(v: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    val errs = errors.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val total = if (ok.nonEmpty) ok.map(_._2).sum else 0.0
    val sfTok = sfDir.split("/").lastOption.getOrElse(sfDir)
    val fullQs = ok.map { case (k, v) => "\"" + k + "\":" + cs(v) }
      .mkString("{", ",", "}")
    // per-query cross-sweep spread (max/min): the interference witness —
    // a query whose plan didn't change but whose spread is 2x+ was hit
    // by a host-load window in some sweep, not by a code regression
    val spreadQs = ok.map { case (k, v) =>
      val ratio = if (v > 0) worst.getOrElse(k, v) / v else 1.0
      "\"" + k + "\":" + cs(ratio)
    }.mkString("{", ",", "}")
    val loadArr = loads.map(cs).mkString("[", ",", "]")
    val sweepArr = sweepTotals.map(cs).mkString("[", ",", "]")
    val fullLine =
      s"""{"metric":"total","value":${cs(total)},"unit":"sec","nq":${ok.size},"loadavg":$loadArr,"sweep_totals":$sweepArr,"spread":$spreadQs,"queries":$fullQs,"errors":$errs,"sf":"$sfTok"}"""
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_FULL.json"),
      (fullLine + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () } // read-only cwd must not kill the bench
    // Printed line: slowest-first so the budget drops only sub-centisecond
    // scan queries; the flagship j01 is always kept for round-over-round
    // comparison. Budget 2000 bytes < (3 KB window - sbt's trailing
    // "[success] Total time" line), with headroom for future growth.
    val keep = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    ok.find(_._1 == "j01_combined").foreach(keep += _)
    var bytes = 0
    ok.sortBy(-_._2).foreach { case (k, v) =>
      if (!keep.exists(_._1 == k) && bytes + k.length + 10 < 1800) {
        keep += ((k, v)); bytes += k.length + 10
      }
    }
    val qs = keep.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + cs(v) }
      .mkString("{", ",", "}")
    val line =
      s"""{"metric":"total","value":${cs(total)},"unit":"sec","nq":${ok.size},"loadavg":$loadArr,"sweep_totals":$sweepArr,"shown":${keep.size},"full":"BENCH_FULL.json","queries":$qs,"errors":$errs,"sf":"$sfTok"}"""
    // Stop the session BEFORE printing so no shutdown log line can land
    // after the JSON inside the driver's tail window.
    spark.stop()
    println(line)
  }
}
