package graft

/** Every ScaleProbe row runs end to end at sf0.001 through the same
  * checksum drive the probe main uses — the probe calls library and
  * registry functions only, so this keeps it from going stale.
  */
class ScaleProbeSpec extends SparkSpec {

  test("every ScaleProbe row completes through Bench.checksum") {
    val rows = ScaleProbe.probes.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val (n, _) = Bench.checksum(fn(spark, sf))
      CacheScope.harness.release()
      spark.catalog.clearCache()
      info(f"$name: $n rows, ${(System.nanoTime() - t0) / 1e9}%.1f s")
      name -> n
    }.toMap
    assert(rows.size == ScaleProbe.probes.size, "probe names are unique")
    // the composed chains report one row per stage
    assert(rows("l22_chain") == 5L)
    assert(rows("m18_chain") == 8L)
    assert(rows("m19_chain") == 10L)
  }
}
