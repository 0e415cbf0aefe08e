package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Tables

/** Shared registry plumbing. Each query entry is (name, spark fn, oracle
  * SQL) — the driver runs the fn at sf0.01, the SQL in DuckDB over the
  * same parquet tables, and hash-compares (CORRECTNESS gate).
  *
  * Determinism rules used throughout (so hash-compare is exact):
  *  - every float is either a pure row-wise function of identical inputs
  *    or an exact DECIMAL sum divided once by a count — no
  *    order-dependent double accumulation anywhere;
  *  - every ranking/limit has a total order (unique tie-break key);
  *  - outputs are sorted by their key columns on both sides.
  */
final case class Q(name: String,
                   fn: (SparkSession, String) => DataFrame,
                   oracle: Option[String])

object Registry {

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(s, dir, name)

  /** Floored table load — `t` behind
    * [[graft.sources.Scans.withParallelismFloor]], for entries whose
    * dominant cost is per-row CPU in ONE downstream pipeline (vector
    * kernels, tokenize+hash scans, parse cascades): a single-row-group
    * input otherwise runs that pipeline on one core. Opt-in PER ENTRY —
    * queries that fan a small scan into many aggregation subtrees get
    * slower with a floor (each subtree re-reads the exchange at full
    * task width; the knTris measurement), so `t` stays the default.
    */
  def tf(s: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Scans.withParallelismFloor(t(s, dir, name))

  /** Events table with its `ts` column surfaced as a microsecond
    * TimestampType regardless of how the parquet writer encoded it.
    * Generations of the testdata have shipped TIMESTAMP(NANOS) — which
    * Spark can only read as a nanos LONG via
    * `spark.sql.legacy.parquet.nanosAsLong=true` — and TIMESTAMP(MICROS)
    * without isAdjustedToUTC, which reads as TIMESTAMP_NTZ. Dispatch on
    * the actual dtype (sessions run in UTC, so the NTZ wall clock and the
    * epoch-long interpretation agree):
    *  - LongType: nanos epoch → integer `div` to micros (no double
    *    rounding), then timestamp_micros;
    *  - TIMESTAMP_NTZ: cast to TimestampType (UTC session ⇒ identity on
    *    the instant);
    *  - TimestampType: already what we want.
    */
  def events(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val df = t(s, dir, "events")
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  /** The user-transition graph g01–g05 run on: an edge (src, dst) from
    * each event's user to the next event's user in the same event_type
    * stream, ordered by (ts, event_id). [[transitionEdgesSql]] is the
    * DuckDB twin.
    */
  def transitionEdges(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type")
      .orderBy(col("ts"), col("event_id"))
    events(s, dir)
      .select(col("user_id").as("src"),
        lead(col("user_id"), 1).over(w).as("dst"))
      .filter(col("dst").isNotNull)
  }

  val transitionEdgesSql: String =
    """SELECT src, dst FROM (
      |  SELECT user_id AS src,
      |    lead(user_id) OVER (PARTITION BY event_type
      |                        ORDER BY ts, event_id) AS dst
      |  FROM events) WHERE dst IS NOT NULL""".stripMargin

  /** Exact decimal sum surfaced as double (order-independent). */
  def decSum(c: Column): Column = sum(c.cast("decimal(18,2)")).cast("double")

  /** o_orderstatus → match-result points, X6 shape: F=win, P=draw, O=loss. */
  def statusPoints(c: Column): Column =
    when(c === "F", 1.0).when(c === "P", 0.5).otherwise(0.0)

  val statusPointsSql =
    "CASE o_orderstatus WHEN 'F' THEN 1.0 WHEN 'P' THEN 0.5 ELSE 0.0 END"

  /** Per-JVM scratch directory for registry fixtures that write real
    * files (ORC/WARC round-trips). One FIXED path per (JVM, name):
    * repeated plan builds of the same query reuse the directory instead
    * of leaking a fresh java.nio temp dir per invocation (writers use
    * overwrite semantics), the PID suffix keeps concurrent runs on one
    * host apart, and the whole tree is removed on JVM exit.
    */
  def scratchDir(name: String): String = {
    val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      "graft-scratch-" + java.lang.ProcessHandle.current().pid())
    scratchHookInstalled // one shutdown hook per JVM
    val dir = root.resolve(name)
    java.nio.file.Files.createDirectories(dir)
    dir.toString
  }

  private lazy val scratchHookInstalled: Unit = {
    val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      "graft-scratch-" + java.lang.ProcessHandle.current().pid())
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try {
        if (java.nio.file.Files.exists(root)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(root).iterator().asScala.toSeq
            .sortBy(-_.getNameCount)
            .foreach(p => try java.nio.file.Files.deleteIfExists(p)
            catch { case _: Throwable => () })
        }
      } catch { case _: Throwable => () }))
  }

  def all: Seq[Q] =
    RegistryCore.entries ++ RegistryScalars.entries ++
      RegistryLlm.entries ++ RegistryExtra.entries ++
      RegistryWide.entries ++ RegistryR6.entries ++ RegistryR8.entries ++
      RegistryR10.entries ++ RegistryR11.entries ++ RegistryR11.entries2 ++
      RegistryTpchPs.entries ++ RegistryR12.entries ++
      RegistryR13.entries ++ RegistryR14.entries ++ RegistryR14.entries2 ++
      RegistryR15.entries ++ RegistryR16.entries

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap

  lazy val oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
